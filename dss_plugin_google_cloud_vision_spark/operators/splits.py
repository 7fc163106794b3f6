# -*- coding: utf-8 -*-
"""Train/validation/test split assignment and near-dup leakage auditing.

Evaluation hygiene for training-data pipelines: carve deterministic
held-out sets out of the corpus, then verify that no near-duplicate pair
straddles the train/eval boundary (a train doc that near-dups a held-out
doc inflates every benchmark run on that held-out set). The reference
plugin has no evaluation surface — this is part of the LLM-pipeline
layer, like the dedup/selection families.

Assignment is a pure function of (seed, doc id): an md5-derived bucket in
[0, 1000) mapped through cumulative per-mille ranges. Pure-function
assignment is the scale lever — the leakage audit never joins the corpus
against a split table; it computes both endpoints' splits row-locally on
the (bounded) near-dup pair list. Mirrored exactly by
``oracles.split_leakage_sql`` (Spark ``conv(hex,16,10)`` == DuckDB
``('0x'||hex)::bigint``, the same proven idiom as ``packing.shard_corpus``).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .dedup import symmetric_pairs
from .sampling import sample_key_column

DEFAULT_SPLITS_MILLI = (("train", 980), ("valid", 10), ("test", 10))


def _validate_splits(splits_milli) -> list:
    pairs = list(splits_milli.items()) if hasattr(splits_milli, "items") else list(splits_milli)
    if sum(m for _, m in pairs) != 1000:
        raise ValueError(f"split weights must sum to 1000 milli, got {pairs}")
    if any(m <= 0 for _, m in pairs):
        raise ValueError(f"split weights must be positive, got {pairs}")
    return pairs


def split_bucket_column(id_col: str = "doc_id", seed: int = 7) -> Column:
    """Uniform bucket in [0, 1000): first 8 md5 hex digits of ``seed:id``
    as a bigint, mod 1000. Row-local, engine-exact."""
    return (
        F.conv(sample_key_column(id_col, seed), 16, 10).cast("bigint") % 1000
    ).cast("int")


def split_column(
    splits_milli=DEFAULT_SPLITS_MILLI,
    id_col: str = "doc_id",
    seed: int = 7,
) -> Column:
    """The split name for a row, as a CASE chain over cumulative per-mille
    ranges in the given split order (order is part of the contract: the
    same (seed, order, weights) always yields the same assignment).
    Row-local (zero shuffle): the assignment is a pure function of the id,
    so it can be recomputed anywhere — which is exactly what lets
    downstream audits avoid carrying a split table."""
    pairs = _validate_splits(splits_milli)
    bucket = split_bucket_column(id_col, seed)
    expr: Column = F.lit(pairs[-1][0])
    hi = 0
    conds = []
    for name, milli in pairs[:-1]:
        hi += milli
        conds.append((name, hi))
    for name, bound in reversed(conds):
        expr = F.when(bucket < bound, F.lit(name)).otherwise(expr)
    return expr


def split_leakage_report(
    df: DataFrame,
    pairs: DataFrame,
    splits_milli=DEFAULT_SPLITS_MILLI,
    id_col: str = "doc_id",
    seed: int = 7,
    eval_splits=("valid", "test"),
) -> DataFrame:
    """Per-document leakage audit: for every corpus doc, its split, how
    many of its near-dup partners live in a DIFFERENT split
    (``n_cross_links``), how many of those partners are in an eval split
    (``n_eval_links``), and ``contaminated`` = 1 for a *train* doc with at
    least one eval-split near-dup — the rows a decontamination pass must
    drop from train before the held-out sets mean anything.

    ``pairs`` is a (doc_a, doc_b) near-dup pair list (doc_a < doc_b), e.g.
    ``dedup.near_dup_pairs`` output — already banded/bucketed upstream, so
    it is edge-grain, far smaller than the corpus.

    Scale shape: both endpoints' splits are computed ROW-LOCALLY on the
    pair list (pure-function assignment — no corpus join, no split table
    to shuffle); pairs are symmetrized by ``dedup.symmetric_pairs`` (one
    reference to ``pairs``, so its upstream LSH chain runs once, not once
    per direction) and aggregated at id grain; the single corpus-sized
    operation is the final left join at id grain so zero-link docs report
    zeros. Mirrored by ``oracles.split_leakage_sql``.
    """
    eval_set = list(eval_splits)
    sym = symmetric_pairs(pairs, "doc_a", "doc_b", "doc_id", "partner")
    my_split = split_column(splits_milli, "doc_id", seed)
    partner_split = split_column(splits_milli, "partner", seed)
    links = (
        sym.select(
            "doc_id",
            F.when(partner_split != my_split, 1).otherwise(0).alias("cross"),
            F.when(
                partner_split.isin(eval_set) & (partner_split != my_split), 1
            ).otherwise(0).alias("to_eval"),
        )
        .groupBy("doc_id")
        .agg(
            F.sum("cross").cast("bigint").alias("n_cross_links"),
            F.sum("to_eval").cast("bigint").alias("n_eval_links"),
        )
    )
    out = df.select(id_col).join(
        links.withColumnRenamed("doc_id", id_col), id_col, "left"
    )
    doc_split = split_column(splits_milli, id_col, seed)
    return out.select(
        F.col(id_col).alias("doc_id"),
        doc_split.alias("split"),
        F.coalesce(F.col("n_cross_links"), F.lit(0)).cast("bigint").alias("n_cross_links"),
        F.coalesce(F.col("n_eval_links"), F.lit(0)).cast("bigint").alias("n_eval_links"),
        F.when(
            (doc_split == "train") & (F.coalesce(F.col("n_eval_links"), F.lit(0)) > 0), 1
        )
        .otherwise(0)
        .cast("int")
        .alias("contaminated"),
    )
