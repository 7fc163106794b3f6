# -*- coding: utf-8 -*-
"""CCNet-style normalization: rule-by-rule hand cases, dedup-group
semantics (n_distinct_raw), and the no-UDF plan."""

from pyspark.sql import functions as F

from dss_plugin_google_cloud_vision_spark.operators.normalize import (
    normalized_dedup_groups,
    normalized_text_column,
)

CASES = [
    ("Hello, World 42!", "hello world 00"),
    ("  a   b  ", "a b"),
    ("CAFÉ café", "caf caf"),  # non-ASCII stripped, case folded
    ("1,234.56", "000000"),  # digits fold first; punctuation then strips
    ("", ""),
    ("!!!", ""),
]


def test_normalization_hand_cases(spark):
    df = spark.createDataFrame([(t,) for t, _ in CASES], "text string")
    got = [r.n for r in df.select(normalized_text_column("text").alias("n")).collect()]
    assert got == [want for _, want in CASES]


def test_dedup_groups_and_distinct_raw(spark):
    rows = [
        (1, "The Spark Engine!"),
        (2, "the spark engine"),   # case+punct variant of 1
        (3, "the spark engine"),   # raw copy of 2
        (4, "order 66 today"),
        (5, "order 99 today"),     # digit-fold variant of 4
        (6, "unique document"),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = {r.doc_id: (r.n_copies, r.n_distinct_raw) for r in normalized_dedup_groups(df).collect()}
    # group {1,2,3}: 3 copies, 2 distinct raws; group {4,5}: 2 copies, 2 raws
    assert got == {1: (3, 2), 4: (2, 2)}


def test_normalization_stays_in_codegen(spark):
    df = spark.createDataFrame([("x",)], "text string")
    plan = (
        df.select(normalized_text_column("text").alias("n"))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    groups_plan = (
        normalized_dedup_groups(
            spark.createDataFrame([(1, "a"), (2, "b")], "doc_id bigint, text string")
        )
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # two hash-key shuffles max: count(distinct raw) pre-aggregates on
    # (_nfp, text) before the (_nfp) rollup — both keys hash-uniform
    assert groups_plan.count("Exchange hashpartitioning") <= 2, groups_plan


def test_c4_gates_hand_cases(spark):
    """Each C4 rule isolated: sentence count, per-line word minimum,
    terminal punctuation, lorem ipsum, curly brace, blocklist token
    (whole-token, case-folded — 'badword1x' must NOT flag)."""
    from dss_plugin_google_cloud_vision_spark.operators.textstats import (
        c4_gates_table,
    )

    rows = [
        (1, "one two three.\nfour five six?\nseven eight nine!"),        # keeps
        (2, "one two three.\nfour five six?\nseven eight nine"),         # 2 terminal lines
        (3, "a b.\nfour five six?\nseven eight nine!\nten eleven twelve."),  # short line dropped, still 3
        (4, "one two three.\nfour five six?\nseven eight nine!\nLorem IPSUM x."),
        (5, "one two three.\nfour five six?\nseven eight nine!\ncode { x }."),
        (6, "one two three.\nfour five six?\nseven eight nine!\nhas BADWORD1 token."),
        (7, "one two three.\nfour five six?\nseven eight nine!\nbadword1x is fine."),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = {r.doc_id: r for r in c4_gates_table(df).collect()}
    assert [got[i].c4_keep for i in range(1, 8)] == [1, 0, 1, 0, 0, 0, 1]
    assert got[3].n_retained_lines == 3 and got[3].n_lines == 4
    assert got[4].has_lorem_ipsum == 1 and got[5].has_curly == 1
    assert got[6].has_bad_word == 1 and got[7].has_bad_word == 0
    # zero exchanges: pure projection
    plan = c4_gates_table(df)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan


def test_normalize_python_replica_and_idempotence(spark):
    """Batch property test: the fold chain matches a python re replica
    (same explicit ASCII classes) on random unicode-ish strings, and is
    idempotent (normalize(normalize(x)) == normalize(x))."""
    import random
    import re

    def py_norm(s):
        s = s.lower()
        s = re.sub(r"[0-9]", "0", s)
        s = re.sub(r"[^a-z0-9 ]", "", s)
        return re.sub(r" +", " ", s).strip()

    rng = random.Random(42)
    alphabet = "abXY 09.,!?{}é中\tß"
    texts = [
        "".join(rng.choice(alphabet) for _ in range(rng.randint(0, 60)))
        for _ in range(200)
    ]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "i bigint, text string")
    out = df.select(
        "i",
        normalized_text_column("text").alias("once"),
    ).select("i", "once", normalized_text_column("once").alias("twice"))
    rows = {r.i: (r.once, r.twice) for r in out.collect()}
    for i, t in enumerate(texts):
        assert rows[i][0] == py_norm(t), (t, rows[i][0])
        assert rows[i][1] == rows[i][0], ("not idempotent", t)
