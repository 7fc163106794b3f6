# -*- coding: utf-8 -*-
"""Deduplication operators for training-data pipelines over document text.

Beyond the reference's operator set (it has no dedup), these are the
operations a 100 TB Common-Crawl-style corpus pipeline needs. All are
expressed as DataFrame transformations with deterministic, cross-engine-
reproducible hashing (md5 over explicit strings — identical in Spark and
DuckDB, which is what makes the driver's oracle checks exact).

Scale notes:
- Exact dedup: one hash-shuffle on the text hash (not the text itself when
  ``by_hash``), map-side combine via groupBy.
- MinHash+LSH: shingle explode → per-doc signature in ONE aggregation pass
  (n_hashes parallel min() aggregates) → band explode → equi-join on band
  key. No pairwise work outside LSH buckets; candidate verification
  (exact Jaccard) only touches candidate pairs. This is the standard
  shingle→minhash→band→bucket-join pipeline; at 10^12 docs the band join
  is a shuffle on a well-distributed hash key and AQE handles bucket skew.
- SimHash: 64-bit signatures via per-bit conditional sums in one groupBy;
  near-dup candidates via four 16-bit-band equi-joins (pigeonhole: any
  pair at hamming<=3 shares an unchanged band; verified with bit_count).
- Embedding near-dups: hyperplane-LSH band blocking + exact-cosine verify
  on candidates only — no all-pairs join anywhere.
- Sub-document granularity: ``within_doc_line_dedup`` (row-local, zero
  shuffle), ``paragraph_dedup`` (corpus-wide keep-first, skew-robust
  min-agg election), ``duplicate_span_removal`` (repeated n-token windows,
  hash+positions-only shuffles).
- Incremental: ``incremental_near_dup_filter`` (increment bands vs the
  persisted corpus band table). Cross-run exact dedup is a composition
  over the one incremental-write path, the snapshot log:
  ``run_with_snapshot_resume(spark, new.withColumn("_fp", F.md5("text")),
  lambda todo: exact_dedup_keep_first(todo), log, key="_fp")`` — the
  anti-join reads only the committed ``_fp`` column, and each increment
  publishes atomically (``sources.snapshots``).
- Decontamination: ``ngram_contamination`` (broadcast benchmark shingle
  set, zero shingle-text shuffle).
"""

from __future__ import annotations

import re
from typing import List

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

DEFAULT_SHINGLE_K = 3
DEFAULT_N_HASHES = 12
DEFAULT_BANDS = 4  # rows per band = n_hashes // bands
SIMHASH_BITS = 64
SIMHASH_BANDS = 4  # 16-bit band keys; pigeonhole covers hamming <= 3
_HEX = "0123456789abcdef"

# Hot-bucket guard: at real corpus scale, boilerplate-near-identical
# documents produce giant (band, key) buckets and the self-join goes
# quadratic WITHIN a bucket (cap² pairs). Buckets above this size are
# dropped from candidate generation (the standard LSH frequent-bucket
# guard). The default never fires at oracle scale (sf0.01 buckets are
# <= ~5 rows) — it exists for the 100×-duplicate-heavy tail. NOT silent:
# callers at scale report ``oversized_band_buckets`` (same inputs) on the
# side; the pair functions' docstrings carry the contract.
DEFAULT_MAX_BAND_BUCKET = 512


def oversized_band_buckets(band_rows: DataFrame, key_cols: List[str], max_bucket_size: int) -> DataFrame:
    """Report surface for the hot-bucket guard: (key..., bucket_n) of every
    band bucket ABOVE the cap — the rows ``_drop_oversized_buckets`` would
    drop. Log/persist this next to any capped run (no-silent-caps rule)."""
    return (
        band_rows.groupBy(*key_cols)
        .agg(F.count("*").alias("bucket_n"))
        .filter(F.col("bucket_n") > max_bucket_size)
    )


def _drop_oversized_buckets(
    band_rows: DataFrame, key_cols: List[str], max_bucket_size: int | None
) -> DataFrame:
    """Drop rows in band buckets larger than ``max_bucket_size``. One
    aggregation + left-semi join on the SAME key the band self-join
    shuffles on (co-partitioned — the exchange is reused, not doubled)."""
    if max_bucket_size is None:
        return band_rows
    small = (
        band_rows.groupBy(*key_cols)
        .agg(F.count("*").alias("_n"))
        .filter(F.col("_n") <= max_bucket_size)
        .drop("_n")
    )
    return band_rows.join(small, key_cols, "left_semi")


def tokens_column(text_col: str = "text") -> Column:
    """The one tokenization rule: split on single spaces (the oracles'
    ``string_split(text, ' ')``)."""
    return F.split(F.col(text_col), " ")


def stage_tokens(df: DataFrame, *cols, text_col: str = "text") -> DataFrame:
    """``df.select(*cols, tokens_column(text_col) AS _toks)`` — the one
    staging step every n-gram builder (``token_ngrams``,
    ``shingles_column``, ``ngram_strings``, the predictability tables)
    reads ``_toks`` from; they fail at analysis without it.

    Why a bound column: an array EXPRESSION referenced inside a
    higher-order lambda is re-inlined per element (CollapseProject keeps
    only attribute/literal aliases out of lambdas, and interpreted lambdas
    get no common-subexpression elimination), so an inline split is
    re-evaluated by every ``element_at`` and the k-gram build turns
    quadratic in document length. Measured: shingles 15x slower on the
    sf0.1 fingerprints query (round 3), DSIR bigrams 10-24x (round 5).
    Pass the text column among ``cols`` when a consumer needs it (the
    shingle fallback below k tokens does)."""
    return df.select(*cols, tokens_column(text_col).alias("_toks"))


def _ngram_transform(n: int) -> Column:
    """Space-joined n-grams of the staged ``_toks``, unguarded: below n
    tokens the sequence runs DESCENDING, so every caller guards it."""
    toks = F.col("_toks")
    return F.transform(
        F.sequence(F.lit(1), F.size(toks) - (n - 1)),
        lambda i: F.concat_ws(" ", *[F.element_at(toks, i + offset) for offset in range(n)]),
    )


def token_ngrams(n: int) -> Column:
    """Space-joined n-grams of the staged ``_toks`` (``stage_tokens``);
    empty below n tokens."""
    return F.when(F.size(F.col("_toks")) >= n, _ngram_transform(n)).otherwise(
        F.array().cast("array<string>")
    )


def shingles_column(text_col: str = "text", k: int = DEFAULT_SHINGLE_K) -> Column:
    """k-gram token shingles of the staged ``_toks`` (``stage_tokens``);
    documents shorter than k tokens contribute the whole text as a single
    shingle. Mirrored 1:1 by the oracle SQL."""
    return F.when(F.size(F.col("_toks")) >= k, _ngram_transform(k)).otherwise(
        F.array(F.col(text_col))
    )


def shingle_sets(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", k: int = DEFAULT_SHINGLE_K
) -> DataFrame:
    """(id, sh): each document's distinct k-gram shingle set — the input of
    every exact-Jaccard verification. To explode shingles, explode the
    expression instead (see ``ngram_contamination``)."""
    return stage_tokens(df, id_col, text_col, text_col=text_col).select(
        F.col(id_col), F.array_distinct(shingles_column(text_col, k)).alias("sh")
    )


def minhash_slots(shingle_col: Column, n_hashes: int = DEFAULT_N_HASHES) -> List[Column]:
    """The ``n_hashes`` MinHash aggregates h<s> = min(md5('<s>#' ||
    shingle)) — per document in ``minhash_signature``, per corpus in
    ``corpus_diff.corpus_minhash``. Mirrored by ``oracles._sig_cte``."""
    return [
        F.min(F.md5(F.concat(F.lit(f"{s}#"), shingle_col))).alias(f"h{s}")
        for s in range(n_hashes)
    ]


def _jaccard_at_least(inter: Column, union: Column, threshold_milli: int) -> Column:
    """Integer Jaccard test ``inter*1000 >= threshold_milli*union`` — no
    float hashing hazards, identical in the oracle SQL."""
    return inter * 1000 >= threshold_milli * union


def symmetric_pairs(
    pairs: DataFrame, left_col: str, right_col: str, out_left: str, out_right: str
) -> DataFrame:
    """Both directions of every pair: (left, right) and (right, left) as
    (out_left, out_right) — the same bag of rows as a self-``unionAll``
    with swapped columns, but ``pairs`` is referenced ONCE. A self-union
    lists the whole upstream plan (for a near-dup pair list: the LSH and
    Jaccard chain) in both branches, and exchange reuse spares only its
    shuffles; the explode of a two-struct array keeps one copy."""
    both = F.explode(
        F.array(
            F.struct(F.col(left_col).alias(out_left), F.col(right_col).alias(out_right)),
            F.struct(F.col(right_col).alias(out_left), F.col(left_col).alias(out_right)),
        )
    ).alias("_pair")
    return pairs.select(both).select(f"_pair.{out_left}", f"_pair.{out_right}")


def exact_dedup_groups(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Exact duplicate groups: keeper = min id per identical text.
    Output: doc_id (keeper), n_copies — only groups with >1 copy."""
    return (
        df.groupBy(text_col)
        .agg(F.min(id_col).alias(id_col), F.count("*").alias("n_copies"))
        .filter(F.col("n_copies") > 1)
        .select(id_col, "n_copies")
    )


def exact_dedup_keep_first(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Deduplicated corpus: one row per distinct text, keeping min id.
    Shuffles the md5 of the text, not the text itself, until the final
    self-join — at 100 TB this halves shuffle bytes for long documents."""
    keepers = df.select(F.md5(F.col(text_col)).alias("_h"), F.col(id_col)).groupBy("_h").agg(
        F.min(id_col).alias(id_col)
    )
    return df.join(keepers, id_col, "left_semi")


def minhash_signature(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_hashes: int = DEFAULT_N_HASHES,
    shingle_k: int = DEFAULT_SHINGLE_K,
) -> DataFrame:
    """Per-doc MinHash signature: sig[s] = min over distinct shingles of
    md5('<s>#' || shingle). One explode + one aggregation pass with
    ``n_hashes`` parallel min() columns (map-side combinable)."""
    exploded = stage_tokens(df, id_col, text_col, text_col=text_col).select(
        F.col(id_col), F.explode(shingles_column(text_col, shingle_k)).alias("shingle")
    ).distinct()
    return exploded.groupBy(id_col).agg(*minhash_slots(F.col("shingle"), n_hashes))


def lsh_band_keys(
    signatures: DataFrame,
    id_col: str = "doc_id",
    n_hashes: int = DEFAULT_N_HASHES,
    bands: int = DEFAULT_BANDS,
) -> DataFrame:
    """Signature → (doc, band, band_key) rows; band_key = md5 of the band's
    concatenated minhashes."""
    rows_per_band = n_hashes // bands
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.md5(
                    F.concat_ws(
                        "|", *[F.col(f"h{b * rows_per_band + r}") for r in range(rows_per_band)]
                    )
                ).alias("band_key"),
            )
            for b in range(bands)
        ]
    )
    return signatures.select(F.col(id_col), F.explode(band_structs).alias("bk")).select(
        id_col, F.col("bk.band").alias("band"), F.col("bk.band_key").alias("band_key")
    )


def minhash_candidate_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_hashes: int = DEFAULT_N_HASHES,
    bands: int = DEFAULT_BANDS,
    shingle_k: int = DEFAULT_SHINGLE_K,
    max_bucket_size: int | None = DEFAULT_MAX_BAND_BUCKET,
) -> DataFrame:
    """LSH candidate pairs (doc_a < doc_b) sharing at least one band.

    ``max_bucket_size`` is the hot-bucket guard (see
    ``DEFAULT_MAX_BAND_BUCKET``): buckets above it are dropped, bounding
    the self-join at cap² pairs per bucket on duplicate-heavy corpora.
    When a capped run matters, report ``oversized_band_buckets(
    lsh_band_keys(minhash_signature(df, ...)), ["band", "band_key"], cap)``
    alongside — dropped buckets must be visible, never silent. Pass
    ``None`` to disable (exact LSH recall)."""
    band_rows = lsh_band_keys(
        minhash_signature(df, id_col, text_col, n_hashes, shingle_k), id_col, n_hashes, bands
    )
    band_rows = _drop_oversized_buckets(band_rows, ["band", "band_key"], max_bucket_size)
    left = band_rows.select(
        F.col(id_col).alias("doc_a"), "band", "band_key"
    )
    right = band_rows.select(F.col(id_col).alias("doc_b"), "band", "band_key")
    return (
        left.join(right, ["band", "band_key"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )


def jaccard_verified_pairs(
    df: DataFrame,
    candidates: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_k: int = DEFAULT_SHINGLE_K,
    threshold_milli: int = 800,
) -> DataFrame:
    """Verify candidate pairs with exact shingle-set Jaccard, in integer
    arithmetic (inter*1000 >= threshold_milli*union — no float hashing
    hazards). Output: doc_a, doc_b, inter_size, union_size."""
    sets = shingle_sets(df, id_col, text_col, shingle_k)
    a = sets.select(F.col(id_col).alias("doc_a"), F.col("sh").alias("sh_a"))
    b = sets.select(F.col(id_col).alias("doc_b"), F.col("sh").alias("sh_b"))
    joined = candidates.join(a, "doc_a").join(b, "doc_b")
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_union("sh_a", "sh_b"))
    return (
        joined.select(
            "doc_a",
            "doc_b",
            inter.alias("inter_size"),
            union.alias("union_size"),
        )
        .filter(_jaccard_at_least(F.col("inter_size"), F.col("union_size"), threshold_milli))
    )


def near_dup_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_hashes: int = DEFAULT_N_HASHES,
    bands: int = DEFAULT_BANDS,
    shingle_k: int = DEFAULT_SHINGLE_K,
    threshold_milli: int = 800,
    max_bucket_size: int | None = DEFAULT_MAX_BAND_BUCKET,
) -> DataFrame:
    """Full near-dup pipeline: MinHash-LSH candidates verified by exact
    n-gram Jaccard. ``max_bucket_size`` is the hot-bucket guard (see
    ``minhash_candidate_pairs``)."""
    candidates = minhash_candidate_pairs(
        df, id_col, text_col, n_hashes, bands, shingle_k, max_bucket_size
    )
    return jaccard_verified_pairs(df, candidates, id_col, text_col, shingle_k, threshold_milli)


def simhash_table(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", bits: int = SIMHASH_BITS
) -> DataFrame:
    """64-bit SimHash over distinct tokens via explode → one groupBy pass:
    each token votes ±1 per bit (bit j of its md5 hex prefix), and simhash
    bit j is set iff the vote sum is positive. The 16 hex-digit values are
    materialized once per token and the 64 vote sums are plain conditional
    aggregates — whole-stage-codegen with map-side partial aggregation, one
    shuffle keyed on the id. (Replaces the round-1 per-row 16-bit fold:
    64 bits make 4×16-bit LSH bands possible, keeping self-join buckets at
    ~n/65536 instead of the quadratic-degenerate n/256.)

    The signature is assembled as a SIGNED bigint (bit 63 contributes
    -2^63, two's complement) — identical in Spark and DuckDB, and xor /
    bit_count work on it directly. Uses only cross-engine-identical
    primitives (md5 hex, substring, instr/strpos)."""
    tok = df.select(
        F.col(id_col), F.explode(F.array_distinct(tokens_column(text_col))).alias("w")
    )
    # materialize the token hash ONCE (16 digit extractions share it),
    # then the digit values once (4 bit tests each share them); instr is
    # 1-based; md5 output is lowercase hex. The wide expressions are built
    # as SQL strings (one parse each) — 64 python-side Column chains cost
    # seconds of py4j round-trips per plan build.
    hashed = tok.select(F.col(id_col), F.md5(F.col("w")).alias("h"))
    digits = hashed.selectExpr(
        id_col,
        *[f"(instr('{_HEX}', substring(h, {i + 1}, 1)) - 1) AS d{i}" for i in range(bits // 4)],
    )
    votes = [
        F.expr(f"sum(CASE WHEN ((d{j // 4} >> {j % 4}) & 1) = 1 THEN 1 ELSE -1 END) AS s{j}")
        for j in range(bits)
    ]
    agg = digits.groupBy(id_col).agg(*votes)
    bit_terms = " + ".join(
        f"(CASE WHEN s{j} > 0 THEN cast({2 ** j} AS bigint) ELSE cast(0 AS bigint) END)"
        for j in range(bits - 1)
    )
    sign_term = (
        f"(CASE WHEN s{bits - 1} > 0 THEN cast(-9223372036854775807 - 1 AS bigint)"
        " ELSE cast(0 AS bigint) END)"
    )
    return agg.selectExpr(id_col, f"cast({bit_terms} + {sign_term} AS bigint) AS simhash")


def simhash_band_keys(simhash_col: Column, bands: int = SIMHASH_BANDS) -> List[Column]:
    """16-bit band keys out of the 64-bit signature. Arithmetic shiftright
    plus the 0xFFFF mask yields the same key in Spark and DuckDB even for
    negative (bit-63-set) signatures — the mask discards the sign fill."""
    width = SIMHASH_BITS // bands
    mask = (1 << width) - 1
    return [
        F.shiftright(simhash_col, width * b).bitwiseAND(F.lit(mask)) for b in range(bands)
    ]


def simhash_near_dup_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    max_bucket_size: int | None = DEFAULT_MAX_BAND_BUCKET,
) -> DataFrame:
    """SimHash near-dups via band blocking: 4 bands of 16 bits over the
    64-bit signature — any pair at hamming distance <= 3 shares at least
    one unchanged band (pigeonhole), so recall is exact for the default
    threshold; candidates are verified with bit_count(xor). Each band key
    has 2^16 values, so self-join buckets stay ~n/65536 per band at corpus
    scale — EXCEPT for boilerplate-near-identical document families, which
    is what ``max_bucket_size`` bounds (see ``DEFAULT_MAX_BAND_BUCKET``;
    report ``oversized_band_buckets`` alongside any capped run; ``None``
    disables). Output: doc_a, doc_b, hamming."""
    sims = simhash_table(df, id_col, text_col)
    band_structs = F.array(
        *[
            F.struct(F.lit(b).alias("band"), key.alias("key"))
            for b, key in enumerate(simhash_band_keys(F.col("simhash")))
        ]
    )
    banded = sims.select(F.col(id_col), "simhash", F.explode(band_structs).alias("bk")).select(
        id_col, "simhash", F.col("bk.band").alias("band"), F.col("bk.key").alias("key")
    )
    banded = _drop_oversized_buckets(banded, ["band", "key"], max_bucket_size)
    left = banded.select(F.col(id_col).alias("doc_a"), F.col("simhash").alias("sim_a"), "band", "key")
    right = banded.select(F.col(id_col).alias("doc_b"), F.col("simhash").alias("sim_b"), "band", "key")
    hamming = F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b")))
    return (
        left.join(right, ["band", "key"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", hamming.alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def embedding_near_dup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold_micro: int = 990_000,
    dim: int | None = None,
    n_planes: int = 32,
    n_bands: int = 4,
) -> DataFrame:
    """Embedding-cosine near-duplicates via LSH-banded blocking (replaces
    the round-1 all-pairs crossJoin): random-hyperplane sign bands
    (deterministic md5 hyperplanes shared with ``operators.similarity``),
    equi-join on (band, band_key), then exact-cosine verification ONLY on
    candidate pairs — micro-scaled integer compare, vectors L2-normalized
    once so each pair costs a single dot product.

    Scale: with 4 bands of 8 sign bits the band join shuffles on
    well-distributed small-int keys and each bucket holds ~n/256 vectors —
    no CartesianProduct anywhere in the plan (asserted in
    tests/test_plan_quality.py). Recall at the default 0.99 threshold is
    ~99% (8.1° angle → per-bit flip ~4.5%, band-match 0.69, 4 bands);
    exactly-parallel vectors share every band key, so exact duplicates are
    always recalled."""
    from .similarity import hyperplane_band_keys_udf, norm, pair_dot_udf

    if dim is None:
        # NB: inference fires one eager single-row job at plan-build time;
        # pass dim explicitly to stay fully lazy. Infer from a NON-NULL
        # vector — an arbitrary first row may carry a null embedding while
        # other rows are valid.
        first = df.select(vec_col).filter(F.col(vec_col).isNotNull()).first()
        if first is None or first[0] is None:
            id_type = dict(df.dtypes)[id_col]
            return df.sparkSession.createDataFrame(
                [], f"vec_a {id_type}, vec_b {id_type}, cos_micro bigint"
            )
        dim = len(first[0])
    # r6: band keys via the vectorized Arrow kernel — bit-identical sign
    # bits (similarity.hyperplane_band_keys_udf), but no n_planes×dim
    # literal tree (the F.lit chatter alone cost ~2s per plan build) and
    # no interpreted per-plane folds. posexplode's 0-based pos IS the
    # band index the struct-explode form carried. A null vector used to
    # get all-zero keys whose candidate pairs died at the cosine filter;
    # the kernel emits NULL (posexplode drops the row) — same output,
    # fewer junk candidates.
    keys_arr = hyperplane_band_keys_udf(dim, n_planes, n_bands)(F.col(vec_col))
    banded = df.select(
        F.col(id_col), F.posexplode(keys_arr).alias("band", "key")
    )
    left = banded.select(F.col(id_col).alias("vec_a"), "band", "key")
    right = banded.select(F.col(id_col).alias("vec_b"), "band", "key")
    candidates = (
        left.join(right, ["band", "key"])
        .filter(F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b")
        .distinct()
    )
    normed = df.select(
        F.col(id_col), F.col(vec_col), norm(F.col(vec_col)).alias("_n")
    ).select(
        F.col(id_col),
        F.transform(F.col(vec_col), lambda x: x.cast("double") / F.col("_n")).alias("_e"),
    )
    a = normed.select(F.col(id_col).alias("vec_a"), F.col("_e").alias("emb_a"))
    b = normed.select(F.col(id_col).alias("vec_b"), F.col("_e").alias("emb_b"))
    pairs = candidates.join(a, "vec_a").join(b, "vec_b")
    # vectorized Arrow pair-dot (r6): bit-identical left-fold doubles
    # (similarity.pair_dot_udf), HALF_UP round stays in SQL
    cos_micro = F.round(pair_dot_udf()(F.col("emb_a"), F.col("emb_b")) * 1_000_000).cast("bigint")
    return pairs.select("vec_a", "vec_b", cos_micro.alias("cos_micro")).filter(
        F.col("cos_micro") >= threshold_micro
    )


def near_dup_clusters(
    pairs: DataFrame,
    left_col: str = "doc_a",
    right_col: str = "doc_b",
    max_iterations: int = 25,
) -> DataFrame:
    """Connected components over near-dup pairs: (doc_id, cluster_id) with
    cluster_id = min doc id reachable through the pair graph.

    Pairwise near-dup output is not deduplicatable by keep-first alone —
    chains (a~b, b~c without a~c) need the transitive closure. Each
    iteration takes the element-wise minimum of (own label, min neighbor
    label, label-of-label): the neighbor hop is Pregel-style min-label
    propagation, the label-of-label hop is POINTER DOUBLING, which halves
    the remaining distance to the component minimum every round — so
    convergence is O(log diameter) rounds even for pathological
    chain-shaped components, not O(diameter). Terminates when no label
    changes (a cheap count on the changed subset). If the cap is somehow
    hit before the fixpoint the labels would be silently WRONG, so the
    function raises instead.

    The undirected edge list is built by ``symmetric_pairs``, so the
    (usually LSH-derived) ``pairs`` plan runs once, not once per edge
    direction.

    Output: doc_id, cluster_id — every node that appears in ``pairs``.
    """
    edges = symmetric_pairs(pairs, left_col, right_col, "src", "dst").distinct()
    # materialize the edge list ONCE: the loop re-reads it every iteration
    # and ``pairs`` is usually the tail of an expensive LSH pipeline
    edges = edges.localCheckpoint(eager=True)
    # seed labels at min(self, min neighbor) rather than self (r6): one
    # aggregate replaces the old distinct AND pre-applies the first
    # neighbor-propagation hop, so star-shaped duplicate families (the
    # common near-dup cluster shape) converge one full loop iteration
    # earlier. Any seed that is the id of a reachable component member
    # >= the component minimum yields the identical fixpoint.
    labels = (
        edges.groupBy("src")
        .agg(F.min("dst").alias("_mn"))
        .select(
            F.col("src").alias("node"),
            F.least(F.col("src"), F.col("_mn")).alias("label"),
        )
    )
    converged = False
    for _ in range(max_iterations):
        neighbor_min = (
            edges.join(labels, edges.dst == labels.node)
            .groupBy("src")
            .agg(F.min("label").alias("neighbor_label"))
        )
        label_of_label = labels.alias("a").join(
            labels.alias("b"), F.col("a.label") == F.col("b.node"), "left"
        ).select(
            F.col("a.node").alias("node"),
            F.col("a.label").alias("label"),
            F.coalesce(F.col("b.label"), F.col("a.label")).alias("jump_label"),
        )
        # carry the OLD label through the update so one count both
        # materializes the (lazy) checkpoint and answers the convergence
        # question — r6: this halves the actions per iteration (the old
        # form ran an eager checkpoint job, then a separate
        # join-with-previous-labels count job). Results identical.
        updated = (
            label_of_label.join(neighbor_min, label_of_label.node == neighbor_min.src, "left")
            .select(
                "node",
                F.col("label").alias("_old"),
                F.least(
                    F.col("label"),
                    F.col("jump_label"),
                    F.coalesce(F.col("neighbor_label"), F.col("label")),
                ).alias("label"),
            )
        )
        updated = updated.localCheckpoint(eager=False)  # truncate the growing lineage
        changed = updated.filter(F.col("label") != F.col("_old")).count()
        labels = updated.select("node", "label")
        if changed == 0:
            converged = True
            break
    if not converged:
        raise RuntimeError(
            f"near_dup_clusters did not converge in {max_iterations} iterations "
            "(component diameter exceeds the cap); raise max_iterations"
        )
    return labels.select(F.col("node").alias("doc_id"), F.col("label").alias("cluster_id"))


def dedup_by_clusters(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """Keep one representative (min id) per near-dup cluster: drop every
    non-representative member of every connected component; rows never
    appearing in ``pairs`` pass through untouched."""
    clusters = near_dup_clusters(pairs)
    losers = clusters.filter(F.col("doc_id") != F.col("cluster_id")).select("doc_id")
    return df.join(losers.withColumnRenamed("doc_id", id_col), id_col, "left_anti")


def cluster_representatives(
    df: DataFrame,
    pairs: DataFrame,
    score_col: str,
    id_col: str = "doc_id",
) -> DataFrame:
    """Quality-aware representative election per near-dup cluster: instead
    of ``dedup_by_clusters``' keep-lowest-id rule, keep the HIGHEST-scoring
    member of each connected component (ties broken by lowest id) — the
    curation variant that keeps the best page of a boilerplate family, not
    an arbitrary one. Docs outside every pair are their own singleton
    cluster (and their own representative).

    Scale shape: the transitive closure runs only over the pair graph
    (``near_dup_clusters``); the election is a map-combined
    ``max(struct(score, -id))`` aggregation — one candidate per map
    partition even for a 10^9-member boilerplate cluster — and the
    member→winner join keys on cluster_id, one winner row per cluster.
    No windows over corpus rows anywhere.

    Output per input doc: doc_id, cluster_id, cluster_size, rep_id,
    is_rep (1 for the elected representative). Mirrored by
    ``oracles.cluster_representatives_sql``.
    """
    clusters = near_dup_clusters(pairs)
    members = (
        df.select(F.col(id_col).alias("doc_id"), F.col(score_col).alias("_score"))
        .join(clusters.withColumnRenamed("doc_id", "doc_id"), "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("cluster_id"), F.col("doc_id")).alias("cluster_id"),
            "_score",
        )
    )
    winners = members.groupBy("cluster_id").agg(
        F.max(F.struct(F.col("_score"), (-F.col("doc_id")).alias("neg_id"))).alias("w"),
        F.count("*").cast("bigint").alias("cluster_size"),
    ).select(
        "cluster_id", "cluster_size", (-F.col("w.neg_id")).cast("bigint").alias("rep_id")
    )
    return members.join(winners, "cluster_id").select(
        "doc_id",
        "cluster_id",
        "cluster_size",
        "rep_id",
        F.when(F.col("doc_id") == F.col("rep_id"), 1).otherwise(0).cast("int").alias("is_rep"),
    )


def paragraph_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    sep: str = "\n",
) -> DataFrame:
    """Paragraph-level exact dedup across the whole corpus (the C4 /
    RefinedWeb "remove duplicated lines/paragraphs" pass): split every
    document on ``sep``, keep the FIRST occurrence of each distinct
    non-empty paragraph corpus-wide (first = lowest (id, position)), and
    reassemble each document from its surviving paragraphs in original
    order. Documents whose every paragraph loses disappear from the
    output (anti-join against the input to list them).

    Scale shape — built for duplicate-HEAVY corpora:
    - winner election is a ``groupBy(md5(paragraph)).agg(min(struct(id,
      pos)))`` — an aggregation, NOT a window: partial min combines
      map-side, so a boilerplate paragraph repeated 10^9 times ships one
      candidate row per map partition instead of sorting 10^9 rows in a
      single hot window partition;
    - survivors re-join on the COMPOSITE key (hash, id, pos), which is
      unique per row — perfectly distributed even when one hash dominates;
    - reassembly is one groupBy on the document id.
    Paragraph text crosses the wire twice (join + reassembly) — the
    minimum for exact cross-corpus paragraph dedup with reassembly.

    Output: id, deduped_text, n_kept, n_paragraphs (non-empty input
    count). Mirrored 1:1 by ``oracles.paragraph_dedup_sql``.
    """
    sep_re = re.escape(sep)  # F.split takes a REGEX; sep is a literal
    paras = (
        df.select(
            F.col(id_col),
            F.size(F.filter(F.split(F.col(text_col), sep_re), lambda p: p != "")).alias(
                "n_paragraphs"
            ),
            F.posexplode(F.split(F.col(text_col), sep_re)).alias("pos", "para"),
        )
        .filter(F.col("para") != "")
        .withColumn("phash", F.md5(F.col("para")))
    )
    winners = (
        paras.groupBy("phash")
        .agg(F.min(F.struct(F.col(id_col), F.col("pos"))).alias("w"))
        .select("phash", F.col(f"w.{id_col}").alias(id_col), F.col("w.pos").alias("pos"))
    )
    kept = paras.join(winners, ["phash", id_col, "pos"])
    return kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "para"))), lambda s: s["para"]
            ),
            sep,
        ).alias("deduped_text"),
        F.count("*").cast("bigint").alias("n_kept"),
        F.first("n_paragraphs").cast("bigint").alias("n_paragraphs"),
    )


def remove_frequent_lines(
    df: DataFrame,
    min_doc_count: int = 50,
    id_col: str = "doc_id",
    text_col: str = "text",
    sep: str = "\n",
) -> DataFrame:
    """Corpus-frequency boilerplate removal (the RefinedWeb/CCNet rule
    that complements ``paragraph_dedup``): any line occurring in at least
    ``min_doc_count`` DISTINCT documents is boilerplate (navigation,
    cookie banners, footers) and is removed from EVERY document —
    including its first occurrence, which ``paragraph_dedup`` would keep.
    Documents are reassembled from surviving lines in original order;
    fully-boilerplate documents drop out.

    Scale shape:
    - line frequency is counted on (md5(line), id) pairs collapsed FIRST
      by a composite-key groupBy (skew-free: the hot line's key space is
      spread across its document ids), then a map-combined count per hash;
    - the frequent set is bounded by construction (a line needs >=
      ``min_doc_count`` supporting docs, so there are at most
      total_lines / min_doc_count of them — still linear in the corpus
      for a pathologically templated web, so the anti-join carries NO
      forced broadcast hint: AQE broadcasts it when it is actually small
      and falls back to a shuffled anti-join when it is not); line text
      never shuffles with corpus multiplicity either way (the build side
      is 32-byte hashes).

    Output: id, cleaned_text, n_kept, n_lines (non-empty input count).
    Mirrored by ``oracles.remove_frequent_lines_sql``.
    """
    sep_re = re.escape(sep)
    lines = (
        df.select(
            F.col(id_col),
            F.size(F.filter(F.split(F.col(text_col), sep_re), lambda p: p != "")).alias(
                "n_lines"
            ),
            F.posexplode(F.split(F.col(text_col), sep_re)).alias("pos", "line"),
        )
        .filter(F.col("line") != "")
        .withColumn("lhash", F.md5(F.col("line")))
    )
    frequent = (
        lines.select("lhash", id_col)
        .groupBy("lhash", id_col)
        .agg(F.lit(1).alias("_one"))
        .groupBy("lhash")
        .agg(F.count("*").alias("doc_count"))
        .filter(F.col("doc_count") >= min_doc_count)
        .select("lhash")
    )
    kept = lines.join(frequent, "lhash", "left_anti")
    return kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "line"))), lambda s: s["line"]
            ),
            sep,
        ).alias("cleaned_text"),
        F.count("*").cast("bigint").alias("n_kept"),
        F.first("n_lines").cast("bigint").alias("n_lines"),
    )


def ngram_contamination(
    corpus: DataFrame,
    benchmark: DataFrame,
    k: int = DEFAULT_SHINGLE_K,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Benchmark decontamination check: for every corpus document, the
    fraction of its DISTINCT k-gram shingles that appear anywhere in the
    ``benchmark`` set (the standard n-gram-overlap contamination test run
    before training on scraped data).

    Scale shape: the benchmark shingle set is deduplicated and BROADCAST
    (eval sets are tiny next to a 10^12-doc corpus), so the corpus side
    is one narrow pass — per-document shingle dedup happens ROW-LOCALLY
    (``array_distinct`` before the explode; a ``dropDuplicates`` would
    shuffle every corpus shingle for a dedup whose groups never span
    rows), then broadcast hash-join and a groupBy on the document id
    whose partial aggregation collapses map-side to ~one row per doc.
    No shuffle of shingle text anywhere.

    Output: id, n_shingles, n_contaminated, contamination_milli
    (floor(n_hit * 1000 / n_shingles)). Mirrored by
    ``oracles.ngram_contamination_sql``.
    """
    # explode the shingle EXPRESSION, not shingle_sets' ``sh`` column: an
    # explode over a column makes Spark infer size(sh) > 0 and push it
    # below the staging projection, where the filter re-inlines the split
    # into the k-gram lambda and builds every shingle set twice
    def doc_shingles(df: DataFrame) -> DataFrame:
        return stage_tokens(df, id_col, text_col, text_col=text_col).select(
            F.col(id_col),
            F.explode(F.array_distinct(shingles_column(text_col, k))).alias("shingle"),
        )

    bench_shingles = (
        doc_shingles(benchmark).select(F.md5("shingle").alias("bh")).distinct()
    )
    corp = doc_shingles(corpus).select(F.col(id_col), F.md5("shingle").alias("bh"))
    hit = F.when(F.col("bh_hit").isNotNull(), 1).otherwise(0)
    joined = corp.join(
        F.broadcast(bench_shingles.withColumn("bh_hit", F.lit(1))), "bh", "left"
    )
    return joined.groupBy(id_col).agg(
        F.count("*").cast("bigint").alias("n_shingles"),
        F.sum(hit).cast("bigint").alias("n_contaminated"),
        F.floor(F.sum(hit) * 1000 / F.count("*")).cast("bigint").alias("contamination_milli"),
    )


def incremental_near_dup_filter(
    increment: DataFrame,
    corpus: DataFrame,
    corpus_bands: DataFrame | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_hashes: int = DEFAULT_N_HASHES,
    bands: int = DEFAULT_BANDS,
    shingle_k: int = DEFAULT_SHINGLE_K,
    threshold_milli: int = 800,
    max_bucket_size: int | None = DEFAULT_MAX_BAND_BUCKET,
) -> DataFrame:
    """Continuous-crawl ingest near-dedup: keep only the increment rows
    that are NOT verified near-dups of the existing corpus, nor of a
    lower-id row of the same increment (keep-first within the increment —
    dropped rows cannot rescue later ones; the rule is 'doc_b of any
    verified pair drops', mirrored by the oracle).

    The real incremental pattern: the corpus band table (doc, band,
    band_key) is PERSISTED at ingest and passed as ``corpus_bands`` — an
    increment must never re-shingle the 100 TB corpus. It is recomputed
    from ``corpus`` text only when not supplied (small runs / tests).

    Scale shape:
    - candidates = increment bands equi-joined to corpus bands on (band,
      band_key), hot-bucket guard applied to the corpus side (the
      duplicate-heavy one);
    - Jaccard verification touches only the MATCHED corpus docs: their
      ids (bounded by |increment| × bands) broadcast-semi-join the corpus
      before any shingle set is built, so corpus text is read for matched
      rows only;
    - the increment is signed/shingled ONCE: the same band table feeds
      the cross join and the within-increment self-join, the same shingle
      sets feed both verifications (identical subtrees also let Spark
      reuse shuffle exchanges);
    - both verifications end in ONE distinct duplicate-id set, removed
      from the increment by ONE left join plus a null filter, so the
      verification chain appears once in the plan even when the
      increment is a ``unionAll`` (an anti-join would be copied into
      every union branch).

    Output: the surviving increment rows (all input columns). A row with a
    null id is kept; rows sharing an id are kept or dropped together.
    """
    inc_bands = lsh_band_keys(
        minhash_signature(increment, id_col, text_col, n_hashes, shingle_k),
        id_col, n_hashes, bands,
    )
    if corpus_bands is None:
        corpus_bands = lsh_band_keys(
            minhash_signature(corpus, id_col, text_col, n_hashes, shingle_k),
            id_col, n_hashes, bands,
        )
    corpus_bands = _drop_oversized_buckets(corpus_bands, ["band", "band_key"], max_bucket_size)
    cross_cand = (
        inc_bands.select(F.col(id_col).alias("doc_i"), "band", "band_key")
        .join(corpus_bands.select(F.col(id_col).alias("doc_c"), "band", "band_key"),
              ["band", "band_key"])
        .select("doc_i", "doc_c")
        .distinct()
    )

    def sets(df: DataFrame, out_id: str, out_sh: str) -> DataFrame:
        return shingle_sets(df, id_col, text_col, shingle_k).select(
            F.col(id_col).alias(out_id), F.col("sh").alias(out_sh)
        )

    # the increment's shingle sets are built ONCE and reused by both the
    # cross-corpus and the within-increment verification (the oracle's
    # sh_i CTE plays the same dual role); guarded inc bands likewise feed
    # the within-increment self-join
    inc_sets = sets(increment, "doc_i", "sh_i")
    matched_corpus_ids = cross_cand.select(F.col("doc_c").alias(id_col)).distinct()
    pruned_corpus = corpus.join(F.broadcast(matched_corpus_ids), id_col, "left_semi")
    verified = (
        cross_cand.join(inc_sets, "doc_i")
        .join(sets(pruned_corpus, "doc_c", "sh_c"), "doc_c")
        .select(
            "doc_i",
            F.size(F.array_intersect("sh_i", "sh_c")).alias("inter_size"),
            F.size(F.array_union("sh_i", "sh_c")).alias("union_size"),
        )
        .filter(_jaccard_at_least(F.col("inter_size"), F.col("union_size"), threshold_milli))
    )
    cross_dup = verified.select(F.col("doc_i").alias(id_col))
    guarded_inc = _drop_oversized_buckets(inc_bands, ["band", "band_key"], max_bucket_size)
    self_cand = (
        guarded_inc.select(F.col(id_col).alias("doc_a"), "band", "band_key")
        .join(
            guarded_inc.select(F.col(id_col).alias("doc_b"), "band", "band_key"),
            ["band", "band_key"],
        )
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    self_dup = (
        self_cand.join(inc_sets.select(F.col("doc_i").alias("doc_a"), F.col("sh_i").alias("sh_a")), "doc_a")
        .join(inc_sets.select(F.col("doc_i").alias("doc_b"), F.col("sh_i").alias("sh_b")), "doc_b")
        .filter(
            _jaccard_at_least(
                F.size(F.array_intersect("sh_a", "sh_b")),
                F.size(F.array_union("sh_a", "sh_b")),
                threshold_milli,
            )
        )
        .select(F.col("doc_b").alias(id_col))
    )
    dup_ids = cross_dup.unionAll(self_dup).distinct().withColumn("_dup_hit", F.lit(1))
    # not a left_anti join: Spark's PushDownLeftSemiAntiJoin pushes a
    # semi/anti join into every branch of a Union-shaped left side, which
    # copies the whole verification chain above once per branch. The rule
    # leaves outer joins alone, and a left join filtered on the right side
    # being null is not rewritten back into an anti-join. A null id
    # matches nothing and survives, as under the anti-join.
    return (
        increment.join(dup_ids, id_col, "left")
        .filter(F.col("_dup_hit").isNull())
        .drop("_dup_hit")
    )


def within_doc_line_dedup_column(text_col: str = "text", sep: str = "\n") -> Column:
    """RefinedWeb-style WITHIN-document repeated-line removal: keep the
    first occurrence of each distinct non-empty line inside the document,
    in order. Entirely ROW-LOCAL (array ops in one codegen projection —
    zero shuffle at any scale); the corpus-wide form is
    ``paragraph_dedup``.

    Spark's ``array_distinct`` keeps first occurrences in order, so the
    whole rule is: split → drop empties → array_distinct → rejoin.
    Mirrored by ``oracles.line_dedup_sql`` via an indexed list_filter
    (DuckDB's list_distinct does NOT preserve order)."""
    # F.split takes a REGEX; sep is a literal separator
    lines = F.filter(F.split(F.col(text_col), re.escape(sep)), lambda p: p != "")
    return F.array_join(F.array_distinct(lines), sep)


def within_doc_line_dedup(
    df: DataFrame, text_col: str = "text", sep: str = "\n", out: str = "deduped_text"
) -> DataFrame:
    return df.withColumn(out, within_doc_line_dedup_column(text_col, sep))


def duplicate_span_removal(
    df: DataFrame,
    window_n: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Exact duplicated-SPAN removal (the substring-level dedup of Lee et
    al., "Deduplicating Training Data Makes Language Models Better",
    expressed relationally instead of via a suffix array): any ``window_n``
    consecutive tokens appearing more than once in the corpus (across
    documents OR repeated within one) keep only their FIRST occurrence
    (lowest (id, position)); every other occurrence's tokens are removed
    and the documents are rebuilt from the surviving tokens in order.

    Scale shape: the duplicated-window election is a groupBy on the
    window hash carrying ONLY (hash, id, pos) — window text never
    shuffles; winner election is a map-combined min(struct) (same
    skew-robust shape as ``paragraph_dedup``); covered positions expand
    row-locally; the rebuild anti-joins token positions (ints) and
    reassembles per document. Token text crosses the wire once, in the
    rebuild. Cost is O(corpus tokens) rows through two shuffles — what
    substring-level dedup inherently costs; run it AFTER document-level
    dedup has collapsed the cheap duplicates.

    Output: id, deduped_text, n_tokens_kept, n_tokens. Documents whose
    every token is removed drop out. Mirrored by
    ``oracles.duplicate_span_sql``.
    """
    w = int(window_n)
    base = stage_tokens(df, id_col, text_col=text_col)
    toks = F.col("_toks")
    n = F.size(toks)
    # (id, idx, token): 1-based, mirrors the oracle
    tok = base.select(
        F.col(id_col),
        F.posexplode(toks).alias("idx0", "tok"),
        n.alias("n_tokens"),
    ).select(id_col, (F.col("idx0") + 1).alias("idx"), "tok", "n_tokens")
    # Docs shorter than the window contribute NO windows. Guard like
    # token_ngrams: sequence(1, n-(w-1)) is DESCENDING (not empty) when
    # n < w, and the transform would then evaluate slice(toks, 0, w) and
    # abort the job (INVALID_PARAMETER_VALUE.START) — DuckDB's
    # generate_series is empty there, so this is also an oracle divergence.
    window_structs = F.when(
        n >= w,
        F.transform(
            F.sequence(F.lit(1), n - (w - 1)),
            lambda i: F.struct(
                i.alias("pos"),
                F.md5(F.concat_ws(" ", F.slice(toks, i, w))).alias("wh"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<pos:int,wh:string>>"))
    win = base.select(F.col(id_col), F.explode(window_structs).alias("s")).select(
        id_col, F.col("s.pos").alias("pos"), F.col("s.wh").alias("wh")
    )
    dup = (
        win.groupBy("wh")
        .agg(F.count("*").alias("c"), F.min(F.struct(F.col(id_col), F.col("pos"))).alias("w"))
        .filter(F.col("c") > 1)
        .select("wh", F.col(f"w.{id_col}").alias("w_id"), F.col("w.pos").alias("w_pos"))
    )
    marks = win.join(dup, "wh").filter(
        ~((F.col(id_col) == F.col("w_id")) & (F.col("pos") == F.col("w_pos")))
    )
    covered = marks.select(
        F.col(id_col), F.explode(F.sequence(F.col("pos"), F.col("pos") + (w - 1))).alias("idx")
    ).distinct()
    kept = tok.join(covered, [id_col, "idx"], "left_anti")
    return kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("idx", "tok"))), lambda s: s["tok"]
            ),
            " ",
        ).alias("deduped_text"),
        F.count("*").cast("bigint").alias("n_tokens_kept"),
        F.first("n_tokens").cast("bigint").alias("n_tokens"),
    )


def semantic_dedup(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_clusters: int = 16,
    n_iterations: int = 2,
    threshold_micro: int = 950_000,
    centroids: List[List[float]] | None = None,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): k-means clusters are the blocking structure —
    pairwise cosine is computed ONLY within a cluster, and a row is a
    semantic duplicate if some LOWER-id row of its cluster is within the
    paraphrase radius (cosine ≥ threshold). The greedy lowest-id keep
    rule is deterministic and keeps the minimum id of every duplicate
    group; unlike ``embedding_near_dup_pairs`` (LSH bands, tight 0.99
    radius for near-copies) the cluster blocking stays effective at the
    loose radii semantic dedup runs at, where hyperplane bands lose
    their selectivity.

    Returns one row per input row: (id, cluster, is_semantic_dup).

    Scale shape: training is ``similarity.train_centroids`` (one seed
    collect, then per Lloyd step a narrow Arrow assignment + one
    partial-agg collect — the broadcast-build pattern); marking is ONE
    equi-join shuffle keyed on the cluster id.
    Per-cluster pair work is (n/k)²·k = n²/k, so k scales WITH the
    corpus (SemDeDup trains k ≈ 0.1·√n clusters at 100-TB scale; pass
    pre-trained ``centroids`` to skip training, exactly how a production
    codebook ships). Null embeddings get a NULL cluster and are never
    flagged. No CartesianProduct anywhere (asserted in
    tests/test_plan_quality.py).

    Cross-engine determinism: cluster assignment is the bit-exact
    left-fold argmax of ``similarity.ivf_cell_udf``; pair cosine is the
    L2-normalize-once + single-dot chain of ``embedding_near_dup_pairs``
    — both already mirrored in oracles.py."""
    from .similarity import assign_cells, cluster_max_lower_dots, norm, train_centroids

    if centroids is None:
        centroids = train_centroids(df, n_clusters, n_iterations, id_col, vec_col)
    assigned = assign_cells(
        df.select(id_col, vec_col), centroids, vec_col, cell_name="cluster"
    )
    # dual consumer (pair stage + the final id-grain left join): without
    # this the full-corpus Arrow assignment pass executes twice — Spark
    # reuses exchanges, not arbitrary subtrees (r6, the §5 discipline)
    assigned = assigned.localCheckpoint(eager=False)
    normed = assigned.filter(F.col(vec_col).isNotNull()).select(
        F.col(id_col), F.col("cluster"), norm(F.col(vec_col)).alias("_n"), F.col(vec_col)
    ).select(
        F.col(id_col),
        F.col("cluster"),
        F.transform(F.col(vec_col), lambda x: x.cast("double") / F.col("_n")).alias("_e"),
    )
    # within-cluster pair cosines via the grouped numpy kernel (r6 #2):
    # each vector crosses the Python boundary ONCE (grouped by cluster)
    # instead of riding every expanded pair row (~n²/k · 2·dim doubles);
    # the per-member MAX dot filtered with the SAME SQL HALF_UP round is
    # exactly the old exists-a-qualifying-lower-id-pair rule because
    # round is monotone (see similarity.cluster_max_lower_dots)
    max_dots = cluster_max_lower_dots(normed, id_col, vec_col="_e")
    cos_micro = F.round(F.col("_max_dot") * 1_000_000).cast("bigint")
    dups = (
        max_dots.filter(cos_micro >= threshold_micro)
        .select(F.col(id_col))
        .withColumn("_dup", F.lit(True))
    )
    return (
        assigned.join(dups, id_col, "left")
        .select(
            F.col(id_col),
            F.col("cluster").cast("int").alias("cluster"),
            F.coalesce(F.col("_dup"), F.lit(False)).alias("is_semantic_dup"),
        )
    )
