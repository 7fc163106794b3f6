# -*- coding: utf-8 -*-
"""Hashed-feature linear classifier: fastText-shaped document
classification at corpus scale.

The production shape of a fastText-style quality/language classifier on a
100 TB corpus is: the model is trained offline (or on one corpus pass),
reduced to a BOUNDED weight table over hashed n-gram features, and
inference is a broadcast join + map-combined per-document dot product +
argmax — never a per-row Python model call. This module implements both
halves relationally:

- ``train_class_affinity_weights`` — one corpus pass to per-(bucket,
  label) occurrence counts over the DSIR hashed unigram+bigram feature
  space (``selection.hashed_ngram_bucket``); the weight for (h, c) is the
  add-one-smoothed integer affinity ``div((cnt[h,c] + 1) * scale,
  cnt[h] + n_labels)`` — the class-conditional frequency share of the
  bucket. Log-free on purpose: engine ``ln`` ULP drift breaks
  cross-engine exactness (CLAUDE.md rule; same deviation DSIR documents),
  so this is a linear-in-affinity classifier, not bit-faithful
  multinomial NB. The table is ``n_buckets * n_labels`` rows at ANY
  corpus size.

- ``classify_documents`` — inference: explode hashed n-grams, broadcast
  the weight table onto them (the join key is hash-uniform — no Zipf
  skew survives bucketing), one map-combined ``groupBy(doc, label)`` sum,
  then the established deterministic argmax ``min(struct(-score,
  label))`` (highest score, lexicographically smallest label on ties).

Scale shape: the only corpus-sized shuffle is the (doc, label)-grain
rollup; the weight build's shuffle key is the bounded bucket id. Nothing
ever collects the corpus; the weight table is the only broadcast.

Reference anchor: the reference plugin's closest surface is the
API-response content score filter (dataiku/dss-plugin-google-cloud-vision
python-lib/api_image_formatting.py:105-118 minimum_score); model-based
document classification has no analogue there and is part of this
engine's LLM-pipeline layer.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .dedup import stage_tokens
from .selection import DSIR_N_BUCKETS, DSIR_SCALE, hashed_ngram_bucket, ngram_strings

CLS_SEED = 17


def _ngram_occurrences(
    df: DataFrame, id_cols: list, text_col: str, n_buckets: int, seed: int
) -> DataFrame:
    """(id_cols..., bucket) — one row per hashed unigram/bigram occurrence.
    ``id_cols`` may be aliasing expressions; they are applied once (the
    second projection references the post-alias names)."""
    staged = stage_tokens(df, *id_cols, text_col=text_col)
    exploded = staged.select(
        *[c for c in staged.columns if c != "_toks"],
        F.explode(ngram_strings()).alias("_ngram"),
    )
    keep = [c for c in exploded.columns if c != "_ngram"]
    return exploded.select(
        *keep, hashed_ngram_bucket(F.col("_ngram"), n_buckets, seed).alias("bucket")
    )


def train_class_affinity_weights(
    df: DataFrame,
    label_col: str = "lang",
    text_col: str = "text",
    n_buckets: int = DSIR_N_BUCKETS,
    scale: int = DSIR_SCALE,
    seed: int = CLS_SEED,
    occurrences: DataFrame | None = None,
) -> DataFrame:
    """One-pass weight table (bucket, label, weight_micro), dense over
    every (touched bucket) x (seen label) so inference joins never drop a
    class. All arithmetic is bigint ``div``; overflow bound: a single
    bucket must hold < ~9e12 occurrences of one class (raise
    ``n_buckets`` long before that).

    ``occurrences`` (r6): optionally pass a precomputed (label, bucket)
    occurrence table — one row per hashed unigram/bigram occurrence of
    ``df`` under the SAME (n_buckets, seed) — so a train+inference
    composition evaluates the corpus explode + md5 bucketing once
    instead of per consumer. Must be row-equivalent to the internal
    build (the caller owns that contract)."""
    occ = (
        occurrences.select("label", "bucket")
        if occurrences is not None
        else _ngram_occurrences(df, [F.col(label_col).alias("label")], text_col, n_buckets, seed)
    )
    bucket_totals = occ.groupBy("bucket").agg(F.count("*").alias("cnt_all"))
    pair_counts = occ.groupBy("bucket", "label").agg(F.count("*").alias("cnt"))
    labels = df.select(F.col(label_col).alias("label")).distinct()
    n_labels = labels.agg(F.count("*").alias("n_labels"))
    return (
        bucket_totals.crossJoin(F.broadcast(labels))
        # pair_counts is bounded (<= n_buckets * n_labels rows) — broadcast
        # it so the dense-grid fill never sort-merges two aggregates
        .join(F.broadcast(pair_counts), ["bucket", "label"], "left")
        .crossJoin(F.broadcast(n_labels))
        .select(
            "bucket",
            "label",
            F.expr(f"div((coalesce(cnt, 0) + 1) * {scale}, cnt_all + n_labels)")
            .cast("bigint")
            .alias("weight_micro"),
        )
    )


def classify_documents(
    df: DataFrame,
    weights: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = DSIR_N_BUCKETS,
    seed: int = CLS_SEED,
    occurrences: DataFrame | None = None,
) -> DataFrame:
    """Predict one label per document from a (bucket, label, weight_micro)
    table: broadcast-join weights onto the document's hashed n-gram
    occurrences, sum per (doc, label), argmax. Documents whose n-grams
    all miss the weight table (possible with a foreign corpus) simply
    produce no row — the caller left-joins if absence matters.

    Output: id, predicted_label, best_score_micro, n_ngrams (occurrence
    count, == per-label join fan-in).

    ``occurrences`` (r6): optional precomputed (id, bucket) occurrence
    table under the same (n_buckets, seed) — see
    ``train_class_affinity_weights``."""
    occ = (
        occurrences.select(id_col, "bucket")
        if occurrences is not None
        else _ngram_occurrences(df, [F.col(id_col)], text_col, n_buckets, seed)
    )
    scored = (
        occ.join(F.broadcast(weights), "bucket")
        .groupBy(id_col, "label")
        .agg(
            F.sum("weight_micro").cast("bigint").alias("score_micro"),
            F.count("*").cast("bigint").alias("n_ngrams"),
        )
    )
    best = (
        scored.groupBy(id_col)
        .agg(
            F.min(
                F.struct(
                    (-F.col("score_micro")).alias("_neg"),
                    F.col("label"),
                    F.col("score_micro"),
                    F.col("n_ngrams"),
                )
            ).alias("_b")
        )
        .select(
            id_col,
            F.col("_b.label").alias("predicted_label"),
            F.col("_b.score_micro").alias("best_score_micro"),
            F.col("_b.n_ngrams").alias("n_ngrams"),
        )
    )
    return best
