# -*- coding: utf-8 -*-
"""Winnowing fingerprints: python replica parity, the MOSS guarantee
(shared runs of >= w+k-1 tokens share a fingerprint hash), rightmost
tie-break, short-doc fallback, and the zero-shuffle plan."""

import hashlib
import random

from dss_plugin_google_cloud_vision_spark.operators.textstats import (
    WINNOW_K,
    WINNOW_W,
    _staged_winnow_encoded,
    _winnow_select,
    winnow_fingerprint_table,
)


def _py_winnow(text, k=WINNOW_K, w=WINNOW_W):
    toks = text.split(" ")
    if len(toks) >= k:
        kgrams = [" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)]
    else:
        kgrams = [text]
    enc = [
        hashlib.md5(g.encode()).hexdigest() + "|" + str(10_000_000 - (i + 1)).zfill(8)
        for i, g in enumerate(kgrams)
    ]
    n_windows = max(len(enc) - (w - 1), 1)
    sels = sorted({min(enc[i : i + w]) for i in range(n_windows)})
    return sels


def _spark_selections(spark, texts):
    """Full selection arrays through the staging ``winnow_fingerprint_table``
    runs (tokens → k-grams → encoded → window minima)."""
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "doc_id bigint, text string")
    from pyspark.sql import functions as F

    enc = _staged_winnow_encoded(df, "doc_id", "text", WINNOW_K)
    out = enc.select("doc_id", _winnow_select(F.col("_enc"), WINNOW_W).alias("sels"))
    return {r.doc_id: list(r.sels) for r in out.collect()}


def test_python_replica_parity_random(spark):
    rng = random.Random(7)
    vocab = ["a", "b", "c", "d", "tok", "spark", "x1"]
    texts = [
        " ".join(rng.choice(vocab) for _ in range(rng.randint(1, 40))) for _ in range(50)
    ]
    got = _spark_selections(spark, texts)
    for i, t in enumerate(texts):
        assert got[i] == _py_winnow(t), (i, t)


def test_moss_guarantee_shared_run_shares_hash(spark):
    """Any shared token run of length >= w+k-1 must contribute at least
    one common selected HASH (position-independent part)."""
    rng = random.Random(13)
    vocab = [f"v{j}" for j in range(30)]
    shared = " ".join(rng.choice(vocab) for _ in range(WINNOW_W + WINNOW_K - 1 + 2))
    for trial in range(10):
        pre_a = " ".join(rng.choice(vocab) for _ in range(rng.randint(0, 15)))
        pre_b = " ".join(rng.choice(vocab) for _ in range(rng.randint(0, 15)))
        doc_a = (pre_a + " " + shared).strip()
        doc_b = (pre_b + " " + shared + " tail" + str(trial)).strip()
        ha = {s[:32] for s in _py_winnow(doc_a)}
        hb = {s[:32] for s in _py_winnow(doc_b)}
        assert ha & hb, (doc_a, doc_b)
    # spark side agrees on one of the pairs
    got = _spark_selections(spark, [doc_a, doc_b])
    assert {s[:32] for s in got[0]} & {s[:32] for s in got[1]}


def test_rightmost_tiebreak_and_dedup():
    """A constant document makes every k-gram hash equal: each window
    must pick its RIGHTMOST position, and overlapping windows collapse
    to the distinct selection set."""
    text = " ".join(["w"] * 10)  # 8 identical 3-grams, 5 windows
    sels = _py_winnow(text)
    positions = [10_000_000 - int(s[33:]) for s in sels]
    # windows [1..4],[2..5],...,[5..8] pick rightmost: 4,5,6,7,8
    assert positions == [8, 7, 6, 5, 4]  # sorted by encoding = descending pos


def test_short_doc_fallback(spark):
    got = _spark_selections(spark, ["ab", "one two"])
    # < k tokens: single whole-text shingle, one window, one selection
    for i, t in enumerate(["ab", "one two"]):
        expected = hashlib.md5(t.encode()).hexdigest() + "|" + str(10_000_000 - 1).zfill(8)
        assert got[i] == [expected]


def test_winnow_table_zero_shuffle(spark):
    df = spark.createDataFrame([(1, "a b c d e f")], "doc_id bigint, text string")
    out = winnow_fingerprint_table(df)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan
    row = out.collect()[0]
    assert row.n_winnowed == len(_py_winnow("a b c d e f"))


def test_winnow_near_dup_pairs_local_overlap(spark):
    """A shared >= w+k-1-token run pairs two otherwise-different docs
    (the LOCAL-evidence property MinHash lacks at low global Jaccard);
    unrelated docs never pair; the cap guard drops everything at cap=1
    when every fp is shared."""
    from dss_plugin_google_cloud_vision_spark.operators.textstats import (
        winnow_near_dup_pairs,
    )

    shared = "s1 s2 s3 s4 s5 s6 s7 s8 s9 s10"
    rows = [
        (1, "a1 a2 a3 a4 a5 a6 a7 a8 a9 a10 a11 a12 " + shared),
        (2, shared + " b1 b2 b3 b4 b5 b6 b7 b8 b9 b10 b11 b12"),
        (3, "c1 c2 c3 c4 c5 c6 c7 c8 c9 c10 c11 c12 c13 c14"),
        (4, "a1 a2 a3 a4 a5 a6 a7 a8 a9 a10 a11 a12 " + shared),  # exact copy of 1
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = {(r.doc_a, r.doc_b): r.n_shared_fps for r in winnow_near_dup_pairs(df, min_shared=1).collect()}
    assert (1, 2) in got and (1, 4) in got and (2, 4) in got
    assert not any(3 in pair for pair in got)
    # exact copies share their full selection set; the partial overlap
    # shares strictly fewer
    assert got[(1, 4)] > got[(1, 2)]

    capped = winnow_near_dup_pairs(df, min_shared=1, max_bucket_size=1).collect()
    assert capped == []  # every shared fp bucket has >= 2 docs -> dropped
