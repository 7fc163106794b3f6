# -*- coding: utf-8 -*-
"""Lexical retrieval over the corpus: inverted postings, BM25-style
ranked search, and positional phrase search.

A training-data pipeline needs corpus search long before it needs a
serving stack: decontamination mining ("which documents mention this
benchmark string?"), targeted quality audits, and dataset debugging are
all top-k lexical retrieval over the same parquet the curation operators
read. The 100 TB shape is relational end to end:

- ``postings`` — the inverted-index grain: one row per token occurrence
  ``(token, id, pos)``. Corpus-sized but narrow; every retrieval query
  FILTERS it to the query's terms before any shuffle, so the state that
  moves is proportional to the query's posting lists, never the corpus.

- ``bm25_topk`` — BM25 ranking with a log-free rational idf surrogate:
  ``idf_milli = div((2N - 2df + 1) * 1000, 2df + 1)`` is the
  Robertson–Sparck-Jones odds ratio WITHOUT the log. Log-free on
  purpose: engine ``ln`` ULP drift breaks cross-engine exactness
  (CLAUDE.md rule; the same deviation DSIR and the classifier document).
  The idf log is monotone, so per-TERM ordering is preserved; the
  cross-term sum weights rare terms more sharply than true BM25 — a
  documented scoring-function choice, exact on both engines. The tf
  saturation is the classic ``tf*(k1+1) / (tf + k1*(1-b+b*dl/avgdl))``
  with k1, b as centi-integers and ``avgdl_centi = div(100*L, N)``;
  every division is a bigint ``div``. Integer-exactness bounds are
  ENFORCED at runtime (per-row ``assert_true`` — Spark's non-ANSI int64
  would wrap silently where DuckDB errors): ``tf * avgdl_centi < ~4e8``
  for the saturation numerator and ``N < ~2e9`` for idf_milli *
  saturation — shrink the milli/micro scales before a corpus outgrows
  them.

  Plan shape: doc lengths are row-local; N/L is a 1-row aggregate
  (broadcast); per-term df over the FILTERED postings is ≤ n_query_terms
  rows (broadcast); the only corpus-proportional shuffle is the
  (id, token) tf rollup of the query terms' posting lists; top-k is
  TakeOrderedAndProject via the shared ``_ranked_topk``.

- ``phrase_search`` — exact m-token phrase matching on the positional
  index: each phrase slot i equi-joins on ``(id, pos - i)`` (the anchor
  position), so adjacency is a hash join, never a range predicate. The
  posting lists are filtered to the phrase's tokens before the first
  shuffle. Overlapping matches count individually (text "a a a" matches
  phrase "a a" at anchors 1 and 2).

- ``build_lexical_index`` / ``search_lexical_index`` — the same scoring
  over persisted tf postings, sharded by a seeded token hash so a search
  reads only its terms' shards. The index is written whole: a grown
  corpus is re-built, and the package's one incremental-write path is
  the snapshot log (``sources.snapshots``).

Reference anchor: the reference plugin has no retrieval surface (its
closest op is the content-list score filter,
dataiku/dss-plugin-google-cloud-vision python-lib/
api_image_formatting.py:105-118); this module is part of the engine's
LLM-pipeline layer.
"""

from __future__ import annotations

from typing import List, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .similarity import _ranked_topk

BM25_SCALE = 1_000_000
BM25_K1_CENTI = 120  # k1 = 1.2
BM25_B_CENTI = 75  # b = 0.75

_INT64_MAX = (1 << 63) - 1


def _sat_numerator_bound(k1_centi: int, scale: int) -> int:
    """Largest tf*avgdl_centi for which the saturation numerator
    ``tf * (100+k1) * 100 * avgdl_centi * scale`` stays inside int64."""
    return _INT64_MAX // ((100 + k1_centi) * 100 * scale)


def _idf_corpus_bound(k1_centi: int, scale: int) -> int:
    """Largest n_docs for which ``idf_milli * tf_sat_micro`` stays inside
    int64: idf_milli <= (2N+1)*1000, tf_sat_micro <= (100+k1)*scale/100."""
    max_sat = (100 + k1_centi) * scale // 100
    return ((_INT64_MAX // 1000 // max_sat) - 1) // 2


def postings(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Positional inverted postings: one row per token occurrence
    ``(id, pos, token)``, pos 1-based (matches SQL generate_series).
    Row-local (posexplode of the whitespace split) — zero shuffle; the
    grain every retrieval operator filters before shuffling."""
    toks = F.split(F.col(text_col), " ")
    return df.select(F.col(id_col), F.posexplode(toks).alias("_p0", "token")).select(
        id_col, (F.col("_p0") + 1).cast("int").alias("pos"), "token"
    )


def corpus_stats(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-doc token length, row-local: (id, dl)."""
    return df.select(
        F.col(id_col), F.size(F.split(F.col(text_col), " ")).cast("bigint").alias("dl")
    )


def bm25_topk(
    df: DataFrame,
    query_terms: Sequence[str],
    k: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
    k1_centi: int = BM25_K1_CENTI,
    b_centi: int = BM25_B_CENTI,
    scale: int = BM25_SCALE,
) -> DataFrame:
    """Top-k documents for a bag-of-terms query under integer-exact
    BM25 (rational idf — see module docstring for the documented
    log-free deviation and overflow bounds).

    Output: (id, score_micro, n_terms_matched, rank); ties broken by
    ascending id. Repeated query terms are deduplicated (set semantics,
    like a WHERE token IN (...) list)."""
    terms: List[str] = sorted(set(query_terms))
    if not terms:
        raise ValueError("bm25_topk requires at least one query term")
    totals = _corpus_totals(df, id_col, text_col)
    qpost = _postings_with_dl(df, id_col, text_col).filter(F.col("token").isin(terms))
    tf = qpost.groupBy(id_col, "dl", "token").agg(
        F.count("*").cast("bigint").alias("tf")
    )
    return _bm25_rank_tf(tf, totals, k, id_col, k1_centi, b_centi, scale)


def _corpus_totals(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """1-row (n_docs, total_len) through the single ``corpus_stats`` dl
    definition — shared by the in-memory path and the index build so the
    persisted _meta totals can never drift from the live aggregate."""
    return corpus_stats(df, id_col, text_col).agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("dl").cast("bigint").alias("total_len"),
    )


def _postings_with_dl(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, dl, token) occurrence rows — dl rides through the explode
    (functionally dependent on id, so it folds into downstream grouping
    keys): matched docs' lengths arrive with their postings instead of
    via a corpus-sized (id, dl) join."""
    toks = F.split(F.col(text_col), " ")
    return df.select(
        F.col(id_col),
        F.size(toks).cast("bigint").alias("dl"),
        F.explode(toks).alias("token"),
    )


def _bm25_rank_tf(
    tf: DataFrame,
    totals: DataFrame,
    k: int,
    id_col: str,
    k1_centi: int = BM25_K1_CENTI,
    b_centi: int = BM25_B_CENTI,
    scale: int = BM25_SCALE,
) -> DataFrame:
    """Score + rank from the (id, dl, token, tf) grain and a 1-row
    (n_docs, total_len) totals table — shared by the in-memory query
    path and the persisted-index search path (identical arithmetic, so
    both agree bit-for-bit with the same oracle)."""
    scored = _term_scores(tf, totals, k1_centi, b_centi, scale).groupBy(id_col).agg(
        F.sum("term_score_micro").cast("bigint").alias("score_micro"),
        F.count("*").cast("bigint").alias("n_terms_matched"),
    )
    return _ranked_topk(scored, k, id_col, "score_micro")


def _term_scores(
    tf: DataFrame,
    totals: DataFrame,
    k1_centi: int,
    b_centi: int,
    scale: int,
) -> DataFrame:
    """THE BM25 integer arithmetic — one implementation for every
    retrieval surface (single query, persisted index, multi-query
    batch): df_t at token grain, rational idf_milli, centi-integer tf
    saturation, enforced int64 bounds. Input ``tf`` must be (id, dl,
    token, tf) with (id, token) DISTINCT — df_t is a plain count on
    that invariant, so any query fan-out joins AFTER this function.
    Returns the input grain + term_score_micro."""
    # (id, token) is distinct after the rollup, so df_t is a plain count;
    # ≤ n_query_terms rows — broadcast back onto the posting lists
    dft = tf.groupBy("token").agg(F.count("*").cast("bigint").alias("df_t"))
    scored_terms = (
        tf.join(F.broadcast(dft), "token")
        .crossJoin(F.broadcast(totals))
        .withColumn("avgdl_centi", F.expr("div(100 * total_len, n_docs)"))
        .withColumn(
            "idf_milli",
            F.expr("div((2 * n_docs - 2 * df_t + 1) * 1000, 2 * df_t + 1)"),
        )
        .withColumn(
            "tf_sat_micro",
            F.expr(
                f"div(tf * {100 + k1_centi} * 100 * avgdl_centi * {scale}, "
                f"10000 * avgdl_centi * tf "
                f"+ {k1_centi} * ({100 - b_centi} * avgdl_centi + {100 * b_centi} * dl))"
            ),
        )
        # runtime overflow guard (the docstring bounds, ENFORCED): Spark's
        # non-ANSI int64 wraps silently, so past-bound corpora would get
        # quietly wrong rankings while the DuckDB mirror errors — fail
        # loudly instead (assert_true yields NULL when the predicate
        # holds, so the when() keeps the value). Bounds derived from the
        # actual scales: tf*avgdl_centi caps the saturation numerator,
        # n_docs caps idf_milli * max(tf_sat_micro).
        .withColumn(
            "term_score_micro",
            F.when(
                F.assert_true(
                    F.expr(
                        f"tf * avgdl_centi <= {_sat_numerator_bound(k1_centi, scale)}"
                        f" AND n_docs <= {_idf_corpus_bound(k1_centi, scale)}"
                    ),
                    F.lit(
                        "bm25 int64 bound exceeded (tf*avgdl or corpus "
                        "size) — lower the milli/micro scales"
                    ),
                ).isNull(),
                F.expr("div(idf_milli * tf_sat_micro, 1000)"),
            ),
        )
    )
    return scored_terms


def phrase_search(
    df: DataFrame,
    phrase: Sequence[str],
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Exact positional phrase matching: documents containing the token
    sequence ``phrase`` contiguously, with per-doc match count and first
    match position (1-based anchor). Only matching documents appear.

    Each slot i of the phrase contributes the posting list of its token
    shifted to the anchor coordinate (pos - i); an m-way equi-join on
    (id, anchor) keeps exactly the anchors where all m slots line up —
    hash joins only, no range conditions, posting lists filtered to the
    phrase's tokens before any shuffle. A repeated token in the phrase
    self-joins its own (filtered) posting list, which is correct and
    counts overlapping matches individually."""
    words: List[str] = list(phrase)
    if not words:
        raise ValueError("phrase_search requires a non-empty phrase")
    post = postings(df, id_col, text_col)
    anchors = None
    for i, w in enumerate(words):
        slot = post.filter(F.col("token") == w).select(
            id_col, (F.col("pos") - i).alias("anchor")
        )
        anchors = slot if anchors is None else anchors.join(slot, [id_col, "anchor"])
    return anchors.groupBy(id_col).agg(
        F.count("*").cast("bigint").alias("n_matches"),
        F.min("anchor").cast("int").alias("first_pos"),
    )


def multi_query_bm25(
    df: DataFrame,
    queries: dict,
    k: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
    k1_centi: int = BM25_K1_CENTI,
    b_centi: int = BM25_B_CENTI,
    scale: int = BM25_SCALE,
) -> DataFrame:
    """A BATCH of BM25 queries in one corpus pass — the decontamination-
    mining shape (hundreds of benchmark probes at once): ``queries`` maps
    query_id → term list. One postings pass filtered to the UNION of all
    terms, a broadcast (query_id, token) join fans each posting into its
    queries, df_t is computed once per token (not per query), and the
    per-query top-k is a rank window PARTITIONED by query_id (bounded
    partitions — one per query — never a global sort). Same integer
    arithmetic as ``bm25_topk``: a single-query batch returns exactly
    its rows.

    Output: (query_id, id, score_micro, n_terms_matched, rank),
    rank ≤ k per query, ties by ascending id."""
    from pyspark.sql import Window

    if not queries:
        raise ValueError("multi_query_bm25 requires at least one query")
    empty = sorted(qid for qid, terms in queries.items() if not terms)
    if empty:
        # fail loudly, mirroring bm25_topk's empty-query rule — silently
        # returning no rows for a query reads as "no matches found"
        raise ValueError(f"multi_query_bm25 queries have no terms: {empty}")
    pairs = sorted({(qid, t) for qid, terms in queries.items() for t in terms})
    all_terms = sorted({t for _, t in pairs})
    spark = df.sparkSession
    qterms = spark.createDataFrame(pairs, "query_id string, token string")
    totals = _corpus_totals(df, id_col, text_col)
    qpost = _postings_with_dl(df, id_col, text_col).filter(
        F.col("token").isin(all_terms)
    )
    tf = qpost.groupBy(id_col, "dl", "token").agg(
        F.count("*").cast("bigint").alias("tf")
    )
    # term scores BEFORE the query fan-out: df_t stays token-grain (a
    # token in two queries must not double its document frequency), and
    # the scoring arithmetic is the single shared implementation
    scored = (
        _term_scores(tf, totals, k1_centi, b_centi, scale)
        .join(F.broadcast(qterms), "token")
        .groupBy("query_id", id_col)
        .agg(
            F.sum("term_score_micro").cast("bigint").alias("score_micro"),
            F.count("*").cast("bigint").alias("n_terms_matched"),
        )
    )
    # two-phase per-query top-k: a common probe term would otherwise
    # funnel its query's whole matched set into ONE window task (the
    # single-task skew _ranked_topk avoids via TakeOrdered). Phase 1
    # keeps k per (query, salt) — partitions are matched/SALTS — and the
    # final exact window sees ≤ SALTS*k rows per query. Result-identical
    # to the unsalted window (a global top-k row is top-k in its salt).
    salts = 32
    order = (F.desc("score_micro"), F.asc(id_col))
    # pmod(hash) salts any id type; the salt only shapes partitioning,
    # never the result, so engine-local hash semantics are fine here
    w1 = Window.partitionBy(
        "query_id", F.pmod(F.hash(F.col(id_col)), F.lit(salts))
    ).orderBy(*order)
    pruned = (
        scored.withColumn("_r1", F.row_number().over(w1))
        .filter(F.col("_r1") <= k)
        .drop("_r1")
    )
    w2 = Window.partitionBy("query_id").orderBy(*order)
    return pruned.withColumn("rank", F.row_number().over(w2)).filter(
        F.col("rank") <= k
    )


# ---------------------------------------------------------------------------
# persisted lexical lake index (the IVF-index discipline, for terms)
# ---------------------------------------------------------------------------

LEX_SEED = 29
LEX_N_SHARDS = 16


def _token_shard_py(token: str, n_shards: int = LEX_N_SHARDS, seed: int = LEX_SEED) -> int:
    """Driver-side replica of ``selection.hashed_ngram_bucket`` (first 8
    md5 hex digits of 'seed:token' mod n_shards) — search computes the
    query terms' shards HERE, so the scan carries a literal partition
    filter the FileIndex prunes on."""
    import hashlib

    return int(hashlib.md5(f"{seed}:{token}".encode()).hexdigest()[:8], 16) % n_shards


def build_lexical_index(
    df: DataFrame,
    index_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_shards: int = LEX_N_SHARDS,
    seed: int = LEX_SEED,
) -> None:
    """INGEST side of a lexical lake index: persist the corpus's tf
    postings (id, dl, token, tf) hive-partitioned by a seeded token-hash
    shard, plus a 1-row ``_meta`` table (n_docs, total_len; the
    underscore prefix hides it from the partition discovery of the
    postings scan). A search for q terms then reads at most q shard
    directories — ~q/n_shards of the index bytes — and its token
    equality filter pushes into those shards' parquet scans. Size
    ``n_shards`` so one shard ≈ one executor-comfortable scan unit; the
    hash is uniform, so shards are balanced regardless of token Zipf
    (a hot token concentrates in ONE shard file set but never skews the
    search shuffle — tf grain is (id, token), already collapsed).

    ``_meta`` lives BESIDE the table directory (``<path>_meta``), not
    inside it: an underscore-prefixed child survives only because
    explicitly-passed root paths escape Spark's hidden-path filter — an
    implementation detail that has shifted across readers. It records
    (n_shards, seed) alongside the totals so searches can refuse a
    mismatched layout instead of silently pruning wrong shards. Both
    tables are overwritten: the index is built whole, never appended."""
    from .selection import hashed_ngram_bucket

    post = _postings_with_dl(df, id_col, text_col)
    tf = post.groupBy(id_col, "dl", "token").agg(
        F.count("*").cast("bigint").alias("tf")
    )
    tf.withColumn("shard", hashed_ngram_bucket(F.col("token"), n_shards, seed)).write.mode(
        "overwrite"
    ).partitionBy("shard").parquet(index_path)
    meta = _corpus_totals(df, id_col, text_col).select(
        "n_docs",
        "total_len",
        F.lit(n_shards).cast("int").alias("n_shards"),
        F.lit(seed).cast("int").alias("seed"),
        F.lit(id_col).alias("id_col"),
    )
    meta.coalesce(1).write.mode("overwrite").parquet(_meta_path(index_path))


def _meta_path(index_path: str) -> str:
    return index_path.rstrip("/") + "_meta"


def search_lexical_index(
    spark,
    index_path: str,
    query_terms: Sequence[str],
    k: int = 10,
    id_col: str = "doc_id",
    n_shards: int = LEX_N_SHARDS,
    seed: int = LEX_SEED,
    k1_centi: int = BM25_K1_CENTI,
    b_centi: int = BM25_B_CENTI,
    scale: int = BM25_SCALE,
) -> DataFrame:
    """SEARCH side over a ``build_lexical_index`` table: partition-pruned
    scan of the query terms' shards (PartitionFilters — plan-asserted in
    tests) + pushed token filter, df per term from the pruned posting
    lists, then the same integer BM25 scoring as ``bm25_topk`` —
    identical results to the in-memory path on the same corpus (shared
    ``_bm25_rank_tf`` arithmetic).

    The stored (n_shards, seed) are validated against the caller's —
    pruning under a mismatched hash layout would silently read the WRONG
    shard directories and drop matching documents, so it raises instead
    (the module's fail-loud discipline; the check is one 1-row read)."""
    terms: List[str] = sorted(set(query_terms))
    if not terms:
        raise ValueError("search_lexical_index requires at least one query term")
    meta = spark.read.parquet(_meta_path(index_path))
    stored = meta.first()
    if (stored.n_shards, stored.seed) != (n_shards, seed):
        raise ValueError(
            f"lexical index at {index_path} was built with n_shards="
            f"{stored.n_shards}, seed={stored.seed}; search called with "
            f"n_shards={n_shards}, seed={seed} — pruning would read the "
            "wrong shards"
        )
    stored_id_col = getattr(stored, "id_col", id_col)
    if stored_id_col != id_col:
        raise ValueError(
            f"lexical index at {index_path} stores ids in column "
            f"'{stored_id_col}'; search called with id_col='{id_col}'"
        )
    shards = sorted({_token_shard_py(t, n_shards, seed) for t in terms})
    tf = (
        spark.read.parquet(index_path)
        .filter(F.col("shard").isin(shards))
        .filter(F.col("token").isin(terms))
        .select(id_col, "dl", "token", "tf")
    )
    totals = meta.select("n_docs", "total_len")
    return _bm25_rank_tf(tf, totals, k, id_col, k1_centi, b_centi, scale)
