# -*- coding: utf-8 -*-
"""Lexical retrieval: postings grain, integer BM25 against a python
reference fold, positional phrase search (incl. overlapping matches),
and the plan shapes that matter at scale."""

import pytest
from pyspark.sql import functions as F

from dss_plugin_google_cloud_vision_spark.operators.retrieval import (
    BM25_B_CENTI,
    BM25_K1_CENTI,
    BM25_SCALE,
    bm25_topk,
    corpus_stats,
    phrase_search,
    postings,
)

DOCS = [
    (1, "spark merge join spark spark"),
    (2, "the quick brown fox jumps over the lazy dog"),
    (3, "merge join merge join merge"),
    (4, "spark"),
    (5, "a a a"),
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, "doc_id bigint, text string")


def _py_bm25(corpus, terms, k1c=BM25_K1_CENTI, bc=BM25_B_CENTI, scale=BM25_SCALE):
    """Independent integer-BM25 reference (python // semantics == Spark
    div for the positive operands used here)."""
    lens = {i: len(t.split(" ")) for i, t in corpus}
    n, total = len(lens), sum(lens.values())
    avgdl_centi = (100 * total) // n
    terms = sorted(set(terms))
    tf = {}
    for i, t in corpus:
        for w in t.split(" "):
            if w in terms:
                tf[(i, w)] = tf.get((i, w), 0) + 1
    df_t = {}
    for (i, w) in tf:
        df_t[w] = df_t.get(w, 0) + 1
    scores = {}
    for (i, w), f_ in tf.items():
        idf_milli = ((2 * n - 2 * df_t[w] + 1) * 1000) // (2 * df_t[w] + 1)
        sat = (f_ * (100 + k1c) * 100 * avgdl_centi * scale) // (
            10000 * avgdl_centi * f_
            + k1c * ((100 - bc) * avgdl_centi + 100 * bc * lens[i])
        )
        s, m = scores.get(i, (0, 0))
        scores[i] = (s + (idf_milli * sat) // 1000, m + 1)
    return scores


def test_postings_grain(docs):
    rows = postings(docs).collect()
    # one row per token occurrence, positions 1..len
    assert len(rows) == sum(len(t.split(" ")) for _, t in DOCS)
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append((r.pos, r.token))
    for i, t in DOCS:
        got = sorted(by_doc[i])
        assert got == list(enumerate(t.split(" "), start=1))


def test_corpus_stats_row_local(docs):
    got = {r.doc_id: r.dl for r in corpus_stats(docs).collect()}
    assert got == {i: len(t.split(" ")) for i, t in DOCS}


def test_bm25_matches_python_reference(docs):
    terms = ["spark", "merge", "join"]
    expected = _py_bm25(DOCS, terms)
    got = bm25_topk(docs, terms, k=10).collect()
    assert {r.doc_id: (r.score_micro, r.n_terms_matched) for r in got} == expected
    # rank follows (score DESC, doc_id ASC) exactly
    order = sorted(expected.items(), key=lambda kv: (-kv[1][0], kv[0]))
    assert [r.doc_id for r in sorted(got, key=lambda r: r.rank)] == [
        i for i, _ in order
    ]


def test_bm25_k_truncates_and_ties_deterministic(spark):
    # four identical docs tie exactly; k=2 keeps the two smallest ids
    df = spark.createDataFrame(
        [(i, "x y") for i in (7, 3, 9, 5)], "doc_id bigint, text string"
    )
    got = bm25_topk(df, ["x"], k=2).orderBy("rank").collect()
    assert [r.doc_id for r in got] == [3, 5]
    assert len({r.score_micro for r in got}) == 1


def test_bm25_absent_term_contributes_nothing(docs):
    base = {r.doc_id: r.score_micro for r in bm25_topk(docs, ["spark"], k=10).collect()}
    plus = {
        r.doc_id: r.score_micro
        for r in bm25_topk(docs, ["spark", "notaword"], k=10).collect()
    }
    assert base == plus


def test_bm25_rejects_empty_query(docs):
    with pytest.raises(ValueError):
        bm25_topk(docs, [])


def test_bm25_overflow_guard_fires(spark):
    """The int64 bounds are ENFORCED, not just documented (CLAUDE.md
    scale-guard rule): a corpus past tf*avgdl_centi ~4e8 must abort
    loudly (Spark would otherwise wrap silently where DuckDB errors).
    One 3000-token doc of a single repeated word: tf=3000,
    avgdl_centi=300000 → 9e8 > bound → assert_true fails the job."""
    df = spark.createDataFrame([(1, " ".join(["w"] * 3000))], "doc_id bigint, text string")
    with pytest.raises(Exception, match="bm25 int64 bound"):
        bm25_topk(df, ["w"], k=1).collect()
    # the batch path shares the same guarded kernel
    from dss_plugin_google_cloud_vision_spark.operators.retrieval import (
        multi_query_bm25,
    )

    with pytest.raises(Exception, match="bm25 int64 bound"):
        multi_query_bm25(df, {"q": ["w"]}, k=1).collect()


def test_bm25_guard_bounds_are_sharp():
    """The guard thresholds admit every product that fits int64 and
    reject the first that doesn't."""
    from dss_plugin_google_cloud_vision_spark.operators.retrieval import (
        _idf_corpus_bound,
        _sat_numerator_bound,
    )

    i64 = (1 << 63) - 1
    sb = _sat_numerator_bound(BM25_K1_CENTI, BM25_SCALE)
    assert sb * (100 + BM25_K1_CENTI) * 100 * BM25_SCALE <= i64
    assert (sb + 1) * (100 + BM25_K1_CENTI) * 100 * BM25_SCALE > i64
    nb = _idf_corpus_bound(BM25_K1_CENTI, BM25_SCALE)
    max_sat = (100 + BM25_K1_CENTI) * BM25_SCALE // 100
    assert (2 * nb + 1) * 1000 * max_sat <= i64
    assert (2 * (nb + 1) + 1) * 1000 * max_sat > i64


def test_phrase_search_exact_and_overlapping(docs):
    got = {r.doc_id: (r.n_matches, r.first_pos) for r in phrase_search(docs, ["merge", "join"]).collect()}
    # doc 1: "merge join" at pos 2; doc 3: at pos 1 and 3
    assert got == {1: (1, 2), 3: (2, 1)}
    # overlapping self-match: "a a a" has "a a" at anchors 1 and 2
    overlap = {r.doc_id: (r.n_matches, r.first_pos) for r in phrase_search(docs, ["a", "a"]).collect()}
    assert overlap == {5: (2, 1)}
    # 3-token phrase
    tri = {r.doc_id: (r.n_matches, r.first_pos) for r in phrase_search(docs, ["merge", "join", "merge"]).collect()}
    assert tri == {3: (2, 1)}


def test_phrase_search_no_match_is_empty(docs):
    assert phrase_search(docs, ["lazy", "fox"]).count() == 0
    with pytest.raises(ValueError):
        phrase_search(docs, [])


def test_bm25_plan_shape(docs):
    """df/N broadcast, no corpus-sized length join, top-k via
    TakeOrdered — the shapes that keep the query proportional to the
    posting lists, not the corpus."""
    plan = bm25_topk(docs, ["spark", "merge"], k=5)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan, plan
    assert "TakeOrderedAndProject" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_lexical_index_matches_in_memory_bm25(docs, tmp_path):
    from dss_plugin_google_cloud_vision_spark.operators.retrieval import (
        build_lexical_index,
        search_lexical_index,
    )

    path = str(tmp_path / "lexindex")
    build_lexical_index(docs, path)
    terms = ["spark", "merge", "join"]
    mem = {(r.doc_id, r.score_micro, r.n_terms_matched, r.rank) for r in bm25_topk(docs, terms, k=10).collect()}
    idx = {
        (r.doc_id, r.score_micro, r.n_terms_matched, r.rank)
        for r in search_lexical_index(docs.sparkSession, path, terms, k=10).collect()
    }
    assert idx == mem and len(idx) > 0


def test_token_shard_py_matches_spark(spark):
    from dss_plugin_google_cloud_vision_spark.operators.retrieval import (
        LEX_N_SHARDS,
        LEX_SEED,
        _token_shard_py,
    )
    from dss_plugin_google_cloud_vision_spark.operators.selection import (
        hashed_ngram_bucket,
    )
    from pyspark.sql import functions as SF

    words = ["spark", "merge", "the", "a", "ünïcode", "x" * 50]
    df = spark.createDataFrame([(w,) for w in words], "token string")
    got = {
        r.token: r.shard
        for r in df.select(
            "token", hashed_ngram_bucket(SF.col("token"), LEX_N_SHARDS, LEX_SEED).alias("shard")
        ).collect()
    }
    assert got == {w: _token_shard_py(w) for w in words}


def test_lexical_index_search_prunes_partitions(docs, tmp_path):
    """The search must read ONLY the query terms' shard directories
    (a NON-EMPTY PartitionFilters naming shard and its value) and push
    the token equality into the pruned scans (a NON-EMPTY PushedFilters
    naming token) — extracted bracket contents, not substring presence,
    so 'PartitionFilters: []' can never satisfy this."""
    import re

    from dss_plugin_google_cloud_vision_spark.operators.retrieval import (
        _token_shard_py,
        build_lexical_index,
        search_lexical_index,
    )

    path = str(tmp_path / "lexindex2")
    build_lexical_index(docs, path)
    out = search_lexical_index(docs.sparkSession, path, ["spark"], k=5)
    plan = out._jdf.queryExecution().executedPlan().toString()
    shard = _token_shard_py("spark")
    part = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert part is not None, plan
    inner = part.group(1)
    assert "shard" in inner and str(shard) in inner and inner.strip() != "", plan
    pushed = re.search(r"PushedFilters: \[([^\]]*)\]", plan)
    assert pushed is not None, plan
    assert "token" in pushed.group(1) and pushed.group(1).strip() != "", plan


def test_lexical_index_layout_mismatch_raises(docs, tmp_path):
    """A search with a different n_shards/seed than the index was built
    with must refuse loudly — silent wrong-shard pruning drops matching
    documents."""
    from dss_plugin_google_cloud_vision_spark.operators.retrieval import (
        build_lexical_index,
        search_lexical_index,
    )

    path = str(tmp_path / "lexindex3")
    build_lexical_index(docs, path)
    with pytest.raises(ValueError, match="built with n_shards"):
        search_lexical_index(docs.sparkSession, path, ["spark"], n_shards=32)
    with pytest.raises(ValueError, match="built with n_shards"):
        search_lexical_index(docs.sparkSession, path, ["spark"], seed=7)


def test_phrase_search_filters_before_join(docs):
    plan = (
        phrase_search(docs, ["the", "spark"])
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # slot filters precede the join: the join inputs are filtered postings
    assert "CartesianProduct" not in plan, plan
    assert plan.count("Filter") >= 2, plan


def test_bm25_random_corpus_parity(spark):
    """Batch property test: integer BM25 matches the python reference on
    a randomized Zipf-ish corpus (repeated terms, variable lengths,
    docs missing every query term)."""
    import random

    rng = random.Random(11)
    vocab = ["t%d" % j for j in range(12)]
    corpus = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(1, 60))))
        for i in range(80)
    ]
    terms = ["t0", "t1", "t7"]
    expected = _py_bm25(corpus, terms)
    df = spark.createDataFrame(corpus, "doc_id bigint, text string")
    got = {
        r.doc_id: (r.score_micro, r.n_terms_matched)
        for r in bm25_topk(df, terms, k=len(corpus)).collect()
    }
    assert got == expected


def test_multi_query_bm25_matches_single_query(docs):
    """A batch of queries returns, for each query_id, exactly the rows
    bm25_topk returns for that query alone; empty batches raise."""
    from dss_plugin_google_cloud_vision_spark.operators.retrieval import (
        multi_query_bm25,
    )

    batch = {"qa": ["spark", "merge", "join"], "qb": ["a"], "qc": ["the", "dog"]}
    got = {}
    for r in multi_query_bm25(docs, batch, k=10).collect():
        got.setdefault(r.query_id, []).append(
            (r.rank, r.doc_id, r.score_micro, r.n_terms_matched)
        )
    for qid, terms in batch.items():
        single = [
            (r.rank, r.doc_id, r.score_micro, r.n_terms_matched)
            for r in bm25_topk(docs, terms, k=10).collect()
        ]
        assert sorted(got.get(qid, [])) == sorted(single), qid
    with pytest.raises(ValueError):
        multi_query_bm25(docs, {})
    with pytest.raises(ValueError):
        multi_query_bm25(docs, {"q": []})


def test_multi_query_empty_term_list_raises(docs):
    from dss_plugin_google_cloud_vision_spark.operators.retrieval import (
        multi_query_bm25,
    )

    with pytest.raises(ValueError, match="have no terms: \\['qb'\\]"):
        multi_query_bm25(docs, {"qa": ["spark"], "qb": []})
