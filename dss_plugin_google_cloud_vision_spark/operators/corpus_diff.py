# -*- coding: utf-8 -*-
"""Corpus-level overlap estimation: MinHash sketch comparison between two
corpora (dataset versioning / ingest diffing).

"How much of crawl B is already in corpus A?" is a corpus-grain question,
and at 100 TB the honest answer is a SKETCH: each corpus collapses to a
``n_hashes``-row MinHash signature in ONE map-combined aggregation pass
(min is idempotent, so no ``distinct`` is needed before it — duplicate
shingles can't change a min), and the overlap estimate is a k-row join.
The sketch is mergeable: the signature of a union is the slot-wise min of
the signatures, so per-shard sketches combine without touching rows
(``merge_corpus_minhash``).

Estimator: one independent hash per slot (the per-doc MinHash scheme of
``dedup.minhash_signature``, reused verbatim at corpus grain);
``P(min_a[s] == min_b[s]) = J(A, B)`` over the corpora's distinct shingle
SETS, so ``matching_slots / n_hashes`` estimates the shingle Jaccard.
The exact Jaccard rides along as the honesty column (the hll_distinct
discipline) — it IS a corpus-sized distinct, which is exactly what the
sketch exists to avoid; at scale, skip ``include_exact``.

Reference anchor: no analogue in the reference plugin
(dataiku/dss-plugin-google-cloud-vision) — part of this engine's
LLM-pipeline layer; estimator per Broder's MinHash (one permutation per
slot), the same public construction the per-doc dedup path uses.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .dedup import (
    DEFAULT_N_HASHES,
    DEFAULT_SHINGLE_K,
    minhash_slots,
    shingles_column,
    stage_tokens,
)


def corpus_shingles(
    df: DataFrame, text_col: str = "text", shingle_k: int = DEFAULT_SHINGLE_K
) -> DataFrame:
    """All shingle occurrences of a corpus as one column (NOT distinct —
    min-based consumers don't need it; set-based consumers distinct it
    themselves)."""
    return stage_tokens(df, text_col, text_col=text_col).select(
        F.explode(shingles_column(text_col, shingle_k)).alias("shingle")
    )


def corpus_minhash(
    df: DataFrame,
    text_col: str = "text",
    n_hashes: int = DEFAULT_N_HASHES,
    shingle_k: int = DEFAULT_SHINGLE_K,
) -> DataFrame:
    """Corpus-grain MinHash signature: (slot, min_hash), ``n_hashes``
    rows for ANY corpus size, built by one map-combined global
    aggregation (no distinct, no shuffle wider than n_hashes columns).
    An EMPTY corpus yields n_hashes rows with NULL min_hash — slots that
    never match any other signature (plain SQL equality downstream)."""
    wide = corpus_shingles(df, text_col, shingle_k).agg(
        *minhash_slots(F.col("shingle"), n_hashes)
    )
    slots = F.array(
        *[
            F.struct(F.lit(s).alias("slot"), F.col(f"h{s}").alias("min_hash"))
            for s in range(n_hashes)
        ]
    )
    return wide.select(F.explode(slots).alias("x")).select(
        F.col("x.slot").cast("int").alias("slot"), F.col("x.min_hash").alias("min_hash")
    )


def merge_corpus_minhash(sig_a: DataFrame, sig_b: DataFrame) -> DataFrame:
    """Signature of the UNION corpus from two shard signatures: slot-wise
    min (null-tolerant — an empty shard's NULL slots defer to the other
    side). Associative and commutative: fold any number of shards."""
    return (
        sig_a.unionByName(sig_b)
        .groupBy("slot")
        .agg(F.min("min_hash").alias("min_hash"))
    )


def estimate_corpus_overlap(sig_a: DataFrame, sig_b: DataFrame) -> DataFrame:
    """One-row overlap estimate from two corpus signatures:
    (n_hashes, matching_slots, est_jaccard_milli); n_hashes is COUNTED
    from the slot join, never configured here. The join is k rows a
    side — driver-free, broadcast-trivial. NULL slots (an EMPTY corpus)
    never match — plain SQL equality, same rule as the oracle mirror —
    so empty-vs-anything (including empty-vs-empty) estimates 0."""
    a = sig_a.select("slot", F.col("min_hash").alias("min_a"))
    b = sig_b.select("slot", F.col("min_hash").alias("min_b"))
    return (
        a.join(F.broadcast(b), "slot")
        .agg(
            F.count("*").cast("bigint").alias("n_hashes"),
            F.coalesce(
                F.sum((F.col("min_a") == F.col("min_b")).cast("bigint")), F.lit(0)
            )
            .cast("bigint")
            .alias("matching_slots"),
        )
        .withColumn(
            "est_jaccard_milli", F.expr("div(1000 * matching_slots, n_hashes)")
        )
    )


def corpus_overlap_report(
    df_a: DataFrame,
    df_b: DataFrame,
    text_col: str = "text",
    n_hashes: int = DEFAULT_N_HASHES,
    shingle_k: int = DEFAULT_SHINGLE_K,
    include_exact: bool = True,
) -> DataFrame:
    """Full corpus-diff report, one row: the sketch estimate plus (when
    ``include_exact`` — test/audit scale only) the exact shingle-set
    Jaccard as the honesty column and its err_milli. At production scale
    call with ``include_exact=False``: the exact half is a corpus-sized
    distinct+join, the sketch half never shuffles more than k rows."""
    est = estimate_corpus_overlap(
        corpus_minhash(df_a, text_col, n_hashes, shingle_k),
        corpus_minhash(df_b, text_col, n_hashes, shingle_k),
    )
    if not include_exact:
        return est
    sa = corpus_shingles(df_a, text_col, shingle_k).distinct()
    sb = corpus_shingles(df_b, text_col, shingle_k).distinct()
    counts = (
        sa.agg(F.count("*").cast("bigint").alias("n_shingles_a"))
        .crossJoin(sb.agg(F.count("*").cast("bigint").alias("n_shingles_b")))
        .crossJoin(
            sa.join(sb, "shingle", "left_semi")
            .agg(F.count("*").cast("bigint").alias("n_shared"))
        )
    )
    return (
        est.crossJoin(F.broadcast(counts))
        # empty-vs-empty convention: a 0-shingle union defines Jaccard as
        # 0 (consistent with the sketch estimate's never-match rule), not
        # a NULL from div-by-zero; the oracle mirror carries the same CASE
        .withColumn(
            "exact_jaccard_milli",
            F.when(
                F.expr("n_shingles_a + n_shingles_b - n_shared > 0"),
                F.expr("div(1000 * n_shared, n_shingles_a + n_shingles_b - n_shared)"),
            ).otherwise(F.lit(0).cast("bigint")),
        )
        .withColumn(
            "err_milli", F.expr("abs(est_jaccard_milli - exact_jaccard_milli)")
        )
    )
