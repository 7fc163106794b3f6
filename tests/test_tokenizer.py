# -*- coding: utf-8 -*-
"""BPE merge learning (operators.tokenizer.learn_bpe_merges)."""

import pytest
from pyspark.sql import Row

from dss_plugin_google_cloud_vision_spark.operators.tokenizer import (
    bpe_word_table,
    learn_bpe_merges,
)


def _merges(spark, texts, n):
    df = spark.createDataFrame([Row(text=t) for t in texts])
    return [tuple(r) for r in learn_bpe_merges(df, n_merges=n).collect()]


def test_classic_low_lower_lowest(spark):
    # words: low*3, lower*2, lowest, aaaa — hand-computed merge chain.
    # Round 1 ties (l,o)=6 and (o,w)=6 -> lexicographically smallest wins;
    # round 3 ties (a,a)=3 and (low,e)=3 -> (a,a).
    got = _merges(spark, ["low low low lower lower lowest aaaa"], 5)
    assert got == [
        (1, "l", "o", "lo", 6),
        (2, "lo", "w", "low", 6),
        (3, "a", "a", "aa", 3),
        (4, "low", "e", "lowe", 3),
        (5, "lowe", "r", "lower", 2),
    ]


def test_overlapping_pairs_count_but_merge_greedily(spark):
    # 'aaaa': (a,a) appears at 3 (overlapping) positions -> count 3, the
    # classic trainer count; application is greedy non-overlapping, so
    # the merged word is |aa||aa| and round 2 finds (aa,aa) once.
    got = _merges(spark, ["aaaa"], 2)
    assert got == [(1, "a", "a", "aa", 3), (2, "aa", "aa", "aaaa", 1)]


def test_pretokenization_ascii_runs_lowercased(spark):
    rows = {
        r["word"]: (r["wf"], r["seq"])
        for r in bpe_word_table(
            spark.createDataFrame([Row(text="Low, LOW! don't 123 中文")])
        ).collect()
    }
    assert rows == {
        "low": (2, "|l||o||w|"),
        "don't": (1, "|d||o||n||'||t|"),
        "123": (1, "|1||2||3|"),
    }


def test_runs_out_of_pairs(spark):
    # single-char words only: zero adjacent pairs -> zero merges, and the
    # no-op guard keeps later rounds from failing
    assert _merges(spark, ["a b c a b"], 3) == []


def test_merges_are_partitioning_invariant(spark):
    texts = [f"token{i % 7} repeat repeat value{i % 3}" for i in range(40)]
    one = _merges(spark, texts, 4)
    df = spark.createDataFrame([Row(text=t) for t in texts]).repartition(11)
    many = [tuple(r) for r in learn_bpe_merges(df, n_merges=4).collect()]
    assert one == many


def test_n_merges_validation(spark):
    with pytest.raises(ValueError, match="n_merges"):
        learn_bpe_merges(None, n_merges=0)


def test_learning_jobs_do_not_grow_with_n_merges(spark, jobs_launched):
    """The corpus is collected once at word grain and every round runs on
    the driver: 6 merges launch exactly as many jobs as 1."""
    texts = [f"token{i % 7} repeat repeat value{i % 3}" for i in range(40)]
    df = spark.createDataFrame([Row(text=t) for t in texts])

    def jobs(n):
        before = jobs_launched()
        assert len(learn_bpe_merges(df, n_merges=n).collect()) == n
        return jobs_launched() - before

    assert jobs(6) == jobs(1)


# --------------------------------------------------------- apply / encode


def _encode(spark, rows, n):
    from dss_plugin_google_cloud_vision_spark.operators.tokenizer import (
        apply_bpe_merges,
    )

    df = spark.createDataFrame([Row(doc_id=i, text=t) for i, t in rows])
    merges = learn_bpe_merges(df, n_merges=n)
    return {
        r["doc_id"]: (r["n_words"], r["n_bpe_tokens"], r["n_chars"], r["compression_milli"])
        for r in apply_bpe_merges(df, merges, n_merges=n).collect()
    }


def test_encode_classic_chain(spark):
    # merges after 5 rounds (test_classic_low_lower_lowest): lo, low, aa,
    # lowe, lower. Post-merge token counts: low=1, lower=1, lowest=3
    # (|lowe||s||t| — 'lowe' merged before 's','t' ever pair), aaaa=2.
    rows = [(0, "low low low lower lower lowest aaaa")]
    got = _encode(spark, rows, 5)
    # words: 7 occurrences; tokens: 3*1 + 2*1 + 3 + 2 = 10;
    # chars: 3*3 + 2*5 + 6 + 4 = 29; milli = 10*1000 // 29 = 344
    assert got == {0: (7, 10, 29, 344)}


def test_encode_greedy_nonoverlap(spark):
    # 'aaaa' with 1 merge (a,a): |aa||aa| -> 2 tokens, never 3.
    got = _encode(spark, [(0, "aaaa")], 1)
    assert got == {0: (1, 2, 4, 500)}


def test_encode_python_replay(spark):
    """Cross-check against a pure-python greedy BPE apply over the same
    learned merge list."""
    from dss_plugin_google_cloud_vision_spark.operators.tokenizer import (
        BPE_WORD_RE,
        apply_bpe_merges,
    )
    import re

    rows = [(0, "banana bandana"), (1, "ban ban banana!"), (2, "a na ba")]
    df = spark.createDataFrame([Row(doc_id=i, text=t) for i, t in rows])
    merges_df = learn_bpe_merges(df, n_merges=4)
    merges = [
        (r["merge_left"], r["merge_right"])
        for r in merges_df.orderBy("iteration").collect()
    ]

    def py_encode(word):
        syms = list(word)
        for a, b in merges:
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            syms = out
        return syms

    got = {
        r["doc_id"]: (r["n_words"], r["n_bpe_tokens"], r["n_chars"])
        for r in apply_bpe_merges(df, merges_df, n_merges=4).collect()
    }
    for doc_id, text in rows:
        words = [w.lower() for w in re.findall(BPE_WORD_RE, text)]
        exp = (
            len(words),
            sum(len(py_encode(w)) for w in words),
            sum(len(w) for w in words),
        )
        assert got[doc_id] == exp, (doc_id, got[doc_id], exp)


def test_encode_merge_list_shorter_than_n(spark):
    """Asking for more apply steps than learned merges degrades to no-ops
    (null-step replace), not row loss."""
    from dss_plugin_google_cloud_vision_spark.operators.tokenizer import (
        apply_bpe_merges,
    )

    df = spark.createDataFrame([Row(doc_id=0, text="ab ab")])
    merges = learn_bpe_merges(df, n_merges=1)  # only (a,b) exists
    got = apply_bpe_merges(df, merges, n_merges=4).collect()
    assert [(r["n_words"], r["n_bpe_tokens"]) for r in got] == [(2, 2)]


def test_encode_build_launches_at_most_one_job(spark, jobs_launched):
    """Building the encode plan collects the merge list once; every merge
    is then a literal in one projection, so no per-step job runs."""
    from dss_plugin_google_cloud_vision_spark.operators.tokenizer import (
        apply_bpe_merges,
    )

    texts = [f"token{i % 7} repeat repeat value{i % 3}" for i in range(40)]
    df = spark.createDataFrame([Row(doc_id=i, text=t) for i, t in enumerate(texts)])
    merges = learn_bpe_merges(df, n_merges=6)
    before = jobs_launched()
    encoded = apply_bpe_merges(df, merges, n_merges=6)
    assert jobs_launched() - before <= 1
    assert encoded.count() == len(texts)


def test_encode_validates_n(spark):
    from dss_plugin_google_cloud_vision_spark.operators.tokenizer import (
        apply_bpe_merges,
    )

    df = spark.createDataFrame([Row(doc_id=0, text="x")])
    with pytest.raises(ValueError):
        apply_bpe_merges(df, learn_bpe_merges(df, 1), n_merges=0)
