# -*- coding: utf-8 -*-
"""Training-data selection operators: DSIR-style hashed-ngram importance
weighting and token-budget head selection.

These are the "which documents make the training set" steps that sit
after cleaning/dedup in an LLM data pipeline:

- ``dsir_importance_table``: Data Selection via Importance Resampling
  (Xie et al., NeurIPS 2023) re-expressed relationally. DSIR scores every
  raw document by how target-domain-like its hashed n-gram profile is,
  then resamples by that weight. The hashed-feature machinery here is
  faithful (unigram+bigram buckets via a seeded hash); the per-bucket
  log-probability ratio is replaced by an integer-scaled smoothed count
  ratio so every value stays cross-engine exact (CLAUDE.md arithmetic
  rule: no float folds, no engine ``ln`` whose libm may differ by ULPs).
  A monotone-in-spirit quality weight, not a bit-faithful DSIR
  reimplementation — documented deviation.

- ``budget_head``: "fill the training budget" — order the corpus by a
  quality score and keep documents until a token budget is exhausted.
  The cumulative sum runs in the nested two-phase form (score-grain
  totals, then coarse id-groups within a score, then bounded in-group
  windows) so no window ever sees a corpus-sized partition — the same
  scale discipline as ``packing.pack_sequences``.

Reference anchor: the reference plugin selects rows only by extension /
API score (dataiku/dss-plugin-google-cloud-vision
python-lib/plugin_params_loader.py:150-238 validation and
api_image_formatting.py score filters); corpus-level selection has no
analogue there and is part of this engine's LLM-pipeline surface.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .dedup import stage_tokens, token_ngrams

DSIR_N_BUCKETS = 4096
DSIR_SCALE = 1_000_000
DSIR_SEED = 7
BUDGET_GROUP_SIZE = 1_000_000


def hashed_ngram_bucket(ngram: Column, n_buckets: int = DSIR_N_BUCKETS, seed: int = DSIR_SEED) -> Column:
    """Seeded hash bucket for an n-gram string: first 8 md5 hex digits of
    ``seed ':' ngram`` as a 32-bit integer, mod ``n_buckets``. Same
    cross-engine-exact coordinate family as ``sampling.sample_key_column``
    (Spark ``conv(hex,16,10)`` == DuckDB ``('0x'||hex)::bigint``)."""
    key = F.substring(F.md5(F.concat_ws(":", F.lit(str(seed)), ngram)), 1, 8)
    return (F.conv(key, 16, 10).cast("bigint") % n_buckets).cast("int")


def ngram_strings() -> Column:
    """Unigrams + space-joined bigrams of the staged ``_toks``
    (``dedup.stage_tokens``) — the DSIR feature set. Row-local."""
    return F.concat(F.col("_toks"), token_ngrams(2))


def dsir_importance_table(
    df: DataFrame,
    target_pred: Column,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = DSIR_N_BUCKETS,
    scale: int = DSIR_SCALE,
    seed: int = DSIR_SEED,
) -> DataFrame:
    """Score every document by how target-like its hashed-ngram profile
    is. ``target_pred`` marks the target-domain rows (DSIR's "Wikipedia"
    side) *within the same corpus scan* — e.g. ``F.col('lang') == 'en'``
    — so the bucket statistics for raw and target come from ONE pass.

    Per bucket h: ``weight_micro[h] = div((cnt_target[h] + 1) * scale,
    cnt_all[h] + 1)`` (add-one smoothing; pure bigint ``div`` — Spark
    ``/`` is double division and rounds above 2^53). Per document:
    ``importance_micro = div(sum(weight_micro over its ngrams),
    n_ngrams)``. Resampling is then a caller-side top-k / threshold on
    the returned table.

    Scale shape (the point): the bucket table is ``n_buckets`` rows no
    matter the corpus (map-side combined aggregate over a hash-uniform
    key — no Zipf skew survives the bucketing), and it BROADCASTS to the
    occurrence side, so the only corpus-scale shuffle is the final
    map-combined per-document rollup. Overflow bound: ``cnt * scale``
    must fit int64 — holds while a single bucket holds < ~9e12
    occurrences (raise ``n_buckets`` long before that).

    Output: id, n_ngrams, score_micro_sum, importance_micro.
    Mirrored by ``oracles.dsir_importance_sql``.
    """
    staged = stage_tokens(
        df,
        F.col(id_col),
        F.when(target_pred, F.lit(1)).otherwise(F.lit(0)).alias("_tgt"),
        text_col=text_col,
    )
    occ = staged.select(
        F.col(id_col), F.col("_tgt"), F.explode(ngram_strings()).alias("_ngram")
    ).withColumn("bucket", hashed_ngram_bucket(F.col("_ngram"), n_buckets, seed))
    # occ feeds BOTH the bucket-stats aggregate and the weights join —
    # checkpoint the narrow int projection (ngram text dropped) so the
    # explode + md5 bucketing pass executes once, not twice (r6). The
    # stored rows are 3 ints per occurrence; a deployment preferring
    # recompute over storage at extreme scale can trade this back.
    occ = occ.select(id_col, "_tgt", "bucket").localCheckpoint(eager=False)
    bucket_stats = occ.groupBy("bucket").agg(
        F.count("*").alias("cnt_all"), F.sum("_tgt").alias("cnt_target")
    )
    weights = bucket_stats.select(
        "bucket",
        F.expr(f"div((cnt_target + 1) * {scale}, cnt_all + 1)").cast("bigint").alias(
            "weight_micro"
        ),
    )
    return (
        occ.join(F.broadcast(weights), "bucket")
        .groupBy(id_col)
        .agg(
            F.count("*").cast("bigint").alias("n_ngrams"),
            F.sum("weight_micro").cast("bigint").alias("score_micro_sum"),
        )
        .withColumn(
            "importance_micro",
            F.expr("div(score_micro_sum, n_ngrams)").cast("bigint"),
        )
    )


def budget_head(
    scored: DataFrame,
    budget_tokens: int,
    id_col: str = "doc_id",
    score_col: str = "score",
    tokens_col: str = "n_tokens",
    group_size: int = BUDGET_GROUP_SIZE,
) -> DataFrame:
    """Select documents in (score DESC, id ASC) order until the token
    budget fills. Input is a per-document score table (id, score,
    n_tokens); output adds ``cum_tokens_before`` (tokens consumed by all
    strictly-better documents) and ``selected`` (1 while
    ``cum_tokens_before < budget_tokens`` — the boundary document is
    kept, possibly overshooting, matching how loaders truncate).

    The global ordered cumsum is NESTED two-phase so it survives any
    corpus size:

    1. totals per (score, id//group_size) — map-combined aggregate;
    2. prefix over THAT totals table ordered (score DESC, grp) — rows =
       n_scores + corpus/group_size, windowable by the pack_sequences
       argument (``partitionBy(col % 1)``: non-foldable constant keeps
       the intentional single partition out of the warning log);
    3. in-group cumsum windows partitioned by (score, grp) — bounded by
       ``group_size`` rows each.

    Integer arithmetic throughout; exact same values as the naive
    ``SUM() OVER (ORDER BY score DESC, id)`` the DuckDB oracle runs
    (``oracles.budget_head_sql``).
    """
    base = scored.select(
        F.col(id_col), F.col(score_col), F.col(tokens_col).cast("bigint").alias("_nt")
    ).withColumn("_grp", F.floor(F.col(id_col) / group_size))
    group_totals = base.groupBy(score_col, "_grp").agg(F.sum("_nt").alias("_gt"))
    w_groups = (
        Window.partitionBy(F.col("_grp") % 1)
        .orderBy(F.desc(score_col), F.asc("_grp"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    group_offsets = group_totals.withColumn(
        "_goff", F.coalesce(F.sum("_gt").over(w_groups), F.lit(0))
    ).select(score_col, "_grp", "_goff")
    w_in = (
        Window.partitionBy(score_col, "_grp")
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    placed = base.join(group_offsets, [score_col, "_grp"]).withColumn(
        "cum_tokens_before",
        F.col("_goff") + F.coalesce(F.sum("_nt").over(w_in), F.lit(0)),
    )
    return placed.select(
        F.col(id_col),
        F.col(score_col),
        F.col("_nt").alias(tokens_col),
        F.col("cum_tokens_before").cast("bigint"),
        F.when(F.col("cum_tokens_before") < budget_tokens, F.lit(1))
        .otherwise(F.lit(0))
        .cast("int")
        .alias("selected"),
    )


def domain_token_allocation(
    df: DataFrame,
    budget_tokens: int,
    domain_col: str = "domain",
    tokens_col: str = "n_tokens",
) -> DataFrame:
    """Water-fill a token budget across domains — the "no domain may
    dominate the mixture" curation rule (RefinedWeb-style per-domain
    caps, computed exactly instead of hand-tuned): find the unique level
    L such that sum over domains of min(n_domain_tokens, L') equals the
    budget, where L' is L or L+1 (the integer remainder is assigned
    deterministically to the smallest capped domains in (tokens, domain)
    order). Domains whose whole corpus fits under the level keep all
    their tokens; larger domains are capped at the level.

    Scale shape: one map-combined aggregate collapses the corpus to
    DOMAIN grain; every window/cross-join after that runs on the domain
    table (bounded by the domain count, ≪ corpus — the same
    distinct-grain argument as ``textstats.grouped_exact_quantiles``;
    nest the pack_sequences two-phase trick if a corpus ever has 10^8+
    domains). The three 1-row parameter aggregates broadcast.

    Output per domain: domain, n_docs, n_domain_tokens, alloc_tokens,
    capped (1 when alloc < corpus), rate_milli (alloc/corpus in milli —
    the per-domain downsampling rate a sampler would apply). Invariant:
    sum(alloc_tokens) == min(budget, total corpus tokens). All integer;
    mirrored by ``oracles.domain_mixture_sql``.
    """
    if budget_tokens < 0:
        raise ValueError(f"budget_tokens must be >= 0, got {budget_tokens}")
    dom = df.groupBy(F.col(domain_col).alias("domain")).agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum(F.col(tokens_col)).cast("bigint").alias("n_dom"),
    )
    w_rank = Window.partitionBy(F.col("n_dom") % 1).orderBy("n_dom", "domain")
    ranked = dom.withColumn("rn", F.row_number().over(w_rank)).withColumn(
        "prefix", F.sum("n_dom").over(w_rank.rowsBetween(Window.unboundedPreceding, 0))
    )
    totals = ranked.agg(
        F.count("*").cast("bigint").alias("m"), F.sum("n_dom").alias("total")
    )
    # j = rank of the largest domain that fits whole under the water
    # level: prefix_j + (m - j) * n_dom_j <= budget
    j_row = (
        ranked.crossJoin(F.broadcast(totals))
        .filter(F.col("prefix") + (F.col("m") - F.col("rn")) * F.col("n_dom") <= budget_tokens)
        .agg(F.coalesce(F.max("rn"), F.lit(0)).cast("bigint").alias("j"))
    )
    params = (
        ranked.crossJoin(F.broadcast(j_row))
        .agg(
            F.max("j").alias("j"),
            F.max(F.when(F.col("rn") == F.col("j"), F.col("prefix"))).alias("prefix_j"),
            F.count("*").cast("bigint").alias("m"),
        )
        .select(
            "j",
            F.coalesce(F.col("prefix_j"), F.lit(0)).alias("prefix_j"),
            (F.col("m") - F.col("j")).alias("k"),
        )
        .select(
            "j",
            "k",
            F.when(
                F.col("k") > 0,
                F.expr(f"div({budget_tokens} - prefix_j, k)"),
            )
            .otherwise(F.lit(0))
            .cast("bigint")
            .alias("level"),
            F.when(
                F.col("k") > 0,
                (F.lit(budget_tokens) - F.col("prefix_j")) % F.col("k"),
            )
            .otherwise(F.lit(0))
            .cast("bigint")
            .alias("rem"),
        )
    )
    alloc = F.when(F.col("rn") <= F.col("j"), F.col("n_dom")).otherwise(
        F.col("level") + F.when(F.col("rn") - F.col("j") <= F.col("rem"), 1).otherwise(0)
    )
    out = ranked.crossJoin(F.broadcast(params)).select(
        "domain",
        "n_docs",
        F.col("n_dom").alias("n_domain_tokens"),
        alloc.cast("bigint").alias("alloc_tokens"),
        F.when(alloc < F.col("n_dom"), 1).otherwise(0).cast("int").alias("capped"),
    )
    return out.select(
        "domain",
        "n_docs",
        "n_domain_tokens",
        "alloc_tokens",
        "capped",
        F.when(
            F.col("n_domain_tokens") > 0,
            F.expr("div(alloc_tokens * 1000, n_domain_tokens)"),
        )
        .otherwise(F.lit(0))
        .cast("bigint")
        .alias("rate_milli"),
    )


def importance_resample(
    df: DataFrame,
    target_pred: Column,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = DSIR_N_BUCKETS,
    scale: int = DSIR_SCALE,
    seed: int = DSIR_SEED,
    sample_seed: int = 23,
) -> DataFrame:
    """The R in DSIR: resample the corpus BY its importance weight — a
    deterministic Bernoulli keep with per-document probability
    ``importance_micro / scale`` (weights are ≤ ``scale`` by the add-one
    ratio construction, so this is a genuine probability).

    The keep decision is one row-local bigint comparison on the md5
    sampling coordinate (``sampling.sample_key_column`` with its own
    seed, so the sample is independent of the bucket hashes)::

        keep  ⇔  key_32bit * scale < importance_micro * 2^32

    — no division, no floats, reproducible across runs/partitionings/
    engines, and monotone: raising a document's weight can only flip it
    to kept. Deviation from the paper (documented, same spirit as
    ``dsir_importance_table``): true DSIR draws a FIXED-SIZE sample via
    Gumbel top-k; the Bernoulli form keeps the decision row-local (no
    global sort at 100 TB) and the expected kept fraction equals the
    mean importance weight.

    Output: the importance table (id, n_ngrams, score_micro_sum,
    importance_micro) + sample_key (the 32-bit coordinate) + kept (0/1).
    Callers filter ``kept == 1``; the full table is the audit surface.
    Mirrored by ``oracles.importance_resample_sql``.
    """
    from .sampling import sample_key_column

    imp = dsir_importance_table(df, target_pred, id_col, text_col, n_buckets, scale, seed)
    key = F.conv(sample_key_column(id_col, sample_seed), 16, 10).cast("bigint")
    return imp.select(
        "*",
        key.alias("sample_key"),
        (key * scale < F.col("importance_micro") * F.lit(1 << 32))
        .cast("int")
        .alias("kept"),
    )
