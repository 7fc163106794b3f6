# -*- coding: utf-8 -*-
"""Train/valid/test split assignment + near-dup leakage audit
(operators.splits)."""

import hashlib

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from dss_plugin_google_cloud_vision_spark.operators.splits import (
    DEFAULT_SPLITS_MILLI,
    split_column,
    split_leakage_report,
)


def _expected_split(doc_id, splits=DEFAULT_SPLITS_MILLI, seed=7):
    """Independent reimplementation via hashlib (not the operator's own
    expression) — the cross-check the oracle also relies on."""
    bucket = int(hashlib.md5(f"{seed}:{doc_id}".encode()).hexdigest()[:8], 16) % 1000
    hi = 0
    for name, milli in list(splits)[:-1]:
        hi += milli
        if bucket < hi:
            return name
    return list(splits)[-1][0]


def _find_ids(split_name, n, start=0):
    out, i = [], start
    while len(out) < n:
        if _expected_split(i) == split_name:
            out.append(i)
        i += 1
    return out


def test_assignment_matches_hashlib_and_ratios(spark):
    df = spark.range(3000).withColumnRenamed("id", "doc_id").withColumn("split", split_column())
    rows = {r["doc_id"]: r["split"] for r in df.collect()}
    for doc_id in (0, 1, 17, 999, 2999):
        assert rows[doc_id] == _expected_split(doc_id)
    counts = {s: sum(1 for v in rows.values() if v == s) for s in ("train", "valid", "test")}
    assert sum(counts.values()) == 3000
    assert counts["train"] > 2800  # ~98%
    assert counts["valid"] > 0 and counts["test"] > 0


def test_assignment_is_partitioning_invariant(spark):
    ids = spark.range(500).withColumnRenamed("id", "doc_id")
    one = ids.coalesce(1).withColumn("split", split_column())
    many = ids.repartition(13).withColumn("split", split_column())
    assert sorted(map(tuple, one.collect())) == sorted(map(tuple, many.collect()))


def test_assignment_is_row_local(spark):
    plan = (
        spark.range(100)
        .withColumnRenamed("id", "doc_id")
        .withColumn("split", split_column())
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan


def test_split_validation():
    with pytest.raises(ValueError, match="sum to 1000"):
        split_column(splits_milli=(("train", 900), ("valid", 10)))
    with pytest.raises(ValueError, match="positive"):
        split_column(splits_milli=(("train", 1100), ("valid", -100)))


def test_leakage_report_hand_computed(spark):
    # two train docs, one valid doc, one test doc; pairs:
    #   train0-valid0 (contaminates train0), train0-train1 (same-split,
    #   not cross), train1-test0 (contaminates train1), valid0-test0
    #   (cross but neither is train); isolated doc reports zeros.
    (t0, t1), (v0,) = _find_ids("train", 2), _find_ids("valid", 1)
    (e0,), (iso,) = _find_ids("test", 1), _find_ids("train", 1, start=10_000)
    corpus = spark.createDataFrame([Row(doc_id=i) for i in (t0, t1, v0, e0, iso)])
    pairs = spark.createDataFrame(
        [
            Row(doc_a=min(a, b), doc_b=max(a, b))
            for a, b in ((t0, v0), (t0, t1), (t1, e0), (v0, e0))
        ]
    )
    got = {r["doc_id"]: r for r in split_leakage_report(corpus, pairs).collect()}
    assert {i: r["split"] for i, r in got.items()} == {
        t0: "train", t1: "train", v0: "valid", e0: "test", iso: "train",
    }
    assert {i: r["n_cross_links"] for i, r in got.items()} == {
        t0: 1, t1: 1, v0: 2, e0: 2, iso: 0,
    }
    assert {i: r["n_eval_links"] for i, r in got.items()} == {
        t0: 1, t1: 1, v0: 1, e0: 1, iso: 0,
    }
    assert {i: r["contaminated"] for i, r in got.items()} == {
        t0: 1, t1: 1, v0: 0, e0: 0, iso: 0,
    }


def test_leakage_report_no_pairs(spark):
    corpus = spark.createDataFrame([Row(doc_id=i) for i in range(5)])
    pairs = spark.createDataFrame([], "doc_a bigint, doc_b bigint")
    rows = split_leakage_report(corpus, pairs).collect()
    assert len(rows) == 5
    assert all(r["n_cross_links"] == 0 and r["contaminated"] == 0 for r in rows)
