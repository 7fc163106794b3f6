# -*- coding: utf-8 -*-
"""Selection operators (DSIR importance, budget head) and the WARC
record-stream parser."""

import hashlib

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from dss_plugin_google_cloud_vision_spark.operators.dedup import stage_tokens
from dss_plugin_google_cloud_vision_spark.operators.selection import (
    budget_head,
    dsir_importance_table,
    hashed_ngram_bucket,
    ngram_strings,
)
from dss_plugin_google_cloud_vision_spark.sources.warc import (
    _scan_blob,
    build_warc_shards,
    parse_warc_stream,
    warc_record_column,
)


# ---------------------------------------------------------------- DSIR


def _docs(spark, rows):
    return spark.createDataFrame([Row(doc_id=i, text=t, lang=g) for i, t, g in rows])


def test_ngram_strings_unigrams_and_bigrams(spark):
    out = (
        stage_tokens(spark.createDataFrame([Row(text="a b c")]))
        .select(ngram_strings().alias("ng"))
        .head()["ng"]
    )
    assert out == ["a", "b", "c", "a b", "b c"]


def test_ngram_strings_single_token(spark):
    out = (
        stage_tokens(spark.createDataFrame([Row(text="solo")]))
        .select(ngram_strings().alias("ng"))
        .head()["ng"]
    )
    assert out == ["solo"]


def test_hashed_bucket_range_and_determinism(spark):
    df = spark.createDataFrame([Row(s=f"tok{i}") for i in range(200)])
    buckets = [
        r["b"] for r in df.select(hashed_ngram_bucket(F.col("s"), 64, 7).alias("b")).collect()
    ]
    assert all(0 <= b < 64 for b in buckets)
    again = [
        r["b"] for r in df.select(hashed_ngram_bucket(F.col("s"), 64, 7).alias("b")).collect()
    ]
    assert buckets == again
    # a different seed must move at least one bucket
    moved = [
        r["b"] for r in df.select(hashed_ngram_bucket(F.col("s"), 64, 8).alias("b")).collect()
    ]
    assert moved != buckets


def test_dsir_target_docs_outscore_offtarget(spark):
    # target-language docs share a vocabulary; off-target docs another.
    rows = [(i, "alpha beta gamma delta", "en") for i in range(8)]
    rows += [(10 + i, "zork quux blarg frotz", "xx") for i in range(8)]
    out = {
        r["doc_id"]: r["importance_micro"]
        for r in dsir_importance_table(
            _docs(spark, rows), target_pred=F.col("lang") == "en", n_buckets=256
        ).collect()
    }
    en_scores = {out[i] for i in range(8)}
    xx_scores = {out[10 + i] for i in range(8)}
    assert len(en_scores) == 1 and len(xx_scores) == 1
    assert en_scores.pop() > xx_scores.pop()


def test_dsir_weight_arithmetic_exact(spark):
    # one doc, one token -> one unigram in one bucket; weight is
    # div((cnt_target+1)*scale, cnt_all+1) = div(2*1000, 2) = 1000
    out = dsir_importance_table(
        _docs(spark, [(1, "x", "en")]),
        target_pred=F.col("lang") == "en",
        n_buckets=16,
        scale=1000,
    ).head()
    assert out["n_ngrams"] == 1
    assert out["score_micro_sum"] == 1000
    assert out["importance_micro"] == 1000


def test_dsir_every_doc_scored(spark):
    # empty text still yields one ('' unigram) ngram — no doc drops out
    rows = [(1, "", "en"), (2, "a b", "fr")]
    out = dsir_importance_table(
        _docs(spark, rows), target_pred=F.col("lang") == "en", n_buckets=16
    )
    assert out.count() == 2


# ---------------------------------------------------------- budget head


def _naive_budget(rows, budget):
    ordered = sorted(rows, key=lambda r: (-r[1], r[0]))
    cum, out = 0, {}
    for doc_id, score, nt in ordered:
        out[doc_id] = (cum, 1 if cum < budget else 0)
        cum += nt
    return out


@pytest.mark.parametrize("group_size", [1, 3, 1000])
def test_budget_head_matches_naive_cumsum(spark, group_size):
    rows = [(i, (i * 7) % 5, (i * 3) % 11 + 1) for i in range(40)]
    df = spark.createDataFrame(
        [Row(doc_id=i, score=s, n_tokens=n) for i, s, n in rows]
    )
    got = {
        r["doc_id"]: (r["cum_tokens_before"], r["selected"])
        for r in budget_head(df, budget_tokens=60, group_size=group_size).collect()
    }
    assert got == _naive_budget(rows, 60)


def test_budget_head_boundary_doc_kept(spark):
    # budget 10: doc a (7 tokens) fits, doc b starts at 7 < 10 so it is
    # kept (overshooting), doc c starts at 14 >= 10 and is cut
    df = spark.createDataFrame(
        [
            Row(doc_id=1, score=3, n_tokens=7),
            Row(doc_id=2, score=2, n_tokens=7),
            Row(doc_id=3, score=1, n_tokens=7),
        ]
    )
    got = {r["doc_id"]: r["selected"] for r in budget_head(df, budget_tokens=10).collect()}
    assert got == {1: 1, 2: 1, 3: 0}


# ----------------------------------------------------------------- WARC


def _record(rec_id, payload: bytes) -> bytes:
    return (
        f"WARC/1.0\r\nWARC-Record-ID: {rec_id}\r\nContent-Length: {len(payload)}\r\n\r\n".encode()
        + payload
        + b"\r\n\r\n"
    )


def test_scan_blob_happy_path_offsets():
    blob = _record(1, b"hello") + _record(2, b"wide \xe4\xb8\xad text")
    rows = list(_scan_blob(0, blob))
    assert [r[5] for r in rows] == ["", ""]
    assert rows[0][2] == 0 and rows[0][3] == len(_record(1, b"hello"))
    assert rows[1][2] == len(_record(1, b"hello"))
    assert rows[0][4] == hashlib.md5(b"hello").hexdigest()
    assert sum(r[3] for r in rows) == len(blob)


def test_scan_blob_payload_may_contain_magic():
    # Content-Length framing means payload bytes that LOOK like a header
    # must not confuse the scanner
    payload = b"WARC/1.0\r\nWARC-Record-ID: 9\r\n\r\n"
    rows = list(_scan_blob(0, _record(5, payload)))
    assert len(rows) == 1 and rows[0][1] == 5 and rows[0][5] == ""


@pytest.mark.parametrize(
    "blob,expect",
    [
        (b"HTTP/1.1 not a warc", "BadMagic"),
        (b"WARC/1.0\r\nWARC-Record-ID: 1\r\nContent-Length: 5", "TruncatedHeader"),
        (b"WARC/1.0\r\nbogus line\r\n\r\nxxxxx\r\n\r\n", "BadHeaderLine"),
        (b"WARC/1.0\r\nWARC-Record-ID: 1\r\n\r\n", "MissingField"),
        (b"WARC/1.0\r\nWARC-Record-ID: 1\r\nContent-Length: 99\r\n\r\nshort\r\n\r\n", "TruncatedPayload"),
    ],
)
def test_scan_blob_malformed_taxonomy(blob, expect):
    rows = list(_scan_blob(3, blob))
    assert rows[-1][5].startswith(expect)
    assert rows[-1][0] == 3


def test_scan_blob_error_after_good_records():
    blob = _record(1, b"ok") + b"garbage tail"
    rows = list(_scan_blob(0, blob))
    assert rows[0][5] == "" and rows[1][5].startswith("BadMagic")
    # error row anchors at the failing offset and covers the remainder
    assert rows[1][2] == len(_record(1, b"ok"))
    assert rows[1][3] == len(b"garbage tail")


def test_warc_roundtrip_spark(spark):
    docs = spark.createDataFrame(
        [Row(doc_id=i, text=t) for i, t in [(0, "hello world"), (1, "中文 text"), (2, ""), (7, "x y z")]]
    )
    parsed = parse_warc_stream(build_warc_shards(docs, n_shards=2)).collect()
    assert all(r["error"] == "" for r in parsed)
    by_id = {r["rec_id"]: r for r in parsed}
    assert set(by_id) == {0, 1, 2, 7}
    # byte (not char) content length: the CJK doc's record is longer than
    # its character count implies
    assert by_id[1]["payload_md5"] == hashlib.md5("中文 text".encode()).hexdigest()
    # shard 1 holds ids 1 and 7 in order: 7's offset = 1's record length
    assert by_id[1]["offset"] == 0
    assert by_id[7]["offset"] == by_id[1]["length"]
    # record column arithmetic agrees with the python builder
    rec = (
        docs.filter(F.col("doc_id") == 1)
        .select(warc_record_column().alias("r"))
        .head()["r"]
    )
    assert rec.encode() == _record(1, "中文 text".encode())


# ------------------------------------------------------- domain mixture


def _alloc(spark, doms, budget):
    from dss_plugin_google_cloud_vision_spark.operators.selection import (
        domain_token_allocation,
    )

    rows = []
    for d, toks in doms:
        for t in toks:
            rows.append(Row(domain=d, n_tokens=t))
    return {
        r["domain"]: r
        for r in domain_token_allocation(
            spark.createDataFrame(rows), budget_tokens=budget
        ).collect()
    }


def test_domain_mixture_hand_computed(spark):
    # domains a=10, b=10, c=10 tokens; budget 10 -> level 3, remainder 1
    # to the lexicographically-first tied smallest domain
    got = _alloc(spark, [("a", [4, 6]), ("b", [10]), ("c", [5, 5])], 10)
    assert {d: r["alloc_tokens"] for d, r in got.items()} == {"a": 4, "b": 3, "c": 3}
    assert {d: r["capped"] for d, r in got.items()} == {"a": 1, "b": 1, "c": 1}
    assert got["a"]["n_docs"] == 2 and got["b"]["n_docs"] == 1
    assert got["a"]["rate_milli"] == 400  # div(4*1000, 10)


def test_domain_mixture_budget_covers_corpus(spark):
    got = _alloc(spark, [("a", [3]), ("b", [7, 2])], 100)
    assert all(r["capped"] == 0 for r in got.values())
    assert {d: r["alloc_tokens"] for d, r in got.items()} == {"a": 3, "b": 9}
    assert all(r["rate_milli"] == 1000 for r in got.values())


def test_domain_mixture_zero_budget_and_empty_domain(spark):
    got = _alloc(spark, [("a", [5]), ("empty", [0])], 0)
    assert {d: r["alloc_tokens"] for d, r in got.items()} == {"a": 0, "empty": 0}
    assert got["empty"]["capped"] == 0 and got["empty"]["rate_milli"] == 0
    assert got["a"]["capped"] == 1


def test_domain_mixture_negative_budget_raises(spark):
    from dss_plugin_google_cloud_vision_spark.operators.selection import (
        domain_token_allocation,
    )

    with pytest.raises(ValueError):
        domain_token_allocation(
            spark.createDataFrame([Row(domain="a", n_tokens=1)]), budget_tokens=-1
        )


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_domain_mixture_waterfill_properties(spark, seed):
    """Independent check: not a re-run of the algorithm but the defining
    properties of an exact integer water-fill."""
    import random

    rng = random.Random(seed)
    doms = [
        (f"d{i:02d}", [rng.randrange(0, 40) for _ in range(rng.randrange(1, 4))])
        for i in range(12)
    ]
    total = sum(sum(t) for _, t in doms)
    budget = rng.randrange(0, total + 20)
    got = _alloc(spark, doms, budget)
    n_dom = {d: sum(t) for d, t in doms}
    alloc = {d: r["alloc_tokens"] for d, r in got.items()}
    # exact budget exhaustion (or whole corpus when budget exceeds it)
    assert sum(alloc.values()) == min(budget, total)
    # bounds and capped flag consistency
    for d, a in alloc.items():
        assert 0 <= a <= n_dom[d]
        assert got[d]["capped"] == (1 if a < n_dom[d] else 0)
    # water-level fairness: no domain may exceed a capped domain's
    # allocation by more than the 1-token integer remainder (an uncapped
    # domain can legitimately sit at level+1 == its whole corpus)
    capped = sorted(a for d, a in alloc.items() if got[d]["capped"] == 1)
    if capped:
        assert capped[-1] - capped[0] <= 1
        assert all(a <= capped[0] + 1 for a in alloc.values())


# ------------------------------------------------ importance resampling


def test_importance_resample_keep_rule_matches_hashlib(spark):
    from dss_plugin_google_cloud_vision_spark.operators.selection import (
        importance_resample,
    )

    rows = [
        (0, "the quick brown fox", "en"),
        (1, "le renard brun rapide", "fr"),
        (2, "the slow brown dog", "en"),
        (3, "der schnelle braune fuchs", "de"),
    ]
    out = {
        r["doc_id"]: r
        for r in importance_resample(
            _docs(spark, rows), target_pred=F.col("lang") == "en"
        ).collect()
    }
    assert set(out) == {0, 1, 2, 3}
    for doc_id, row in out.items():
        key = int(hashlib.md5(f"23:{doc_id}".encode()).hexdigest()[:8], 16)
        assert row["sample_key"] == key
        assert row["kept"] == int(key * 1_000_000 < row["importance_micro"] * (1 << 32))
        assert 0 < row["importance_micro"] <= 1_000_000


def test_importance_resample_kept_fraction_tracks_mean_weight(spark):
    """E[kept] = mean weight: on a 400-doc corpus the realized fraction
    must sit within a loose binomial band of the mean importance."""
    from dss_plugin_google_cloud_vision_spark.operators.selection import (
        importance_resample,
    )

    rows = [
        (i, f"tok{i % 17} tok{i % 5} filler{i}", "en" if i % 3 == 0 else "fr")
        for i in range(400)
    ]
    res = importance_resample(_docs(spark, rows), target_pred=F.col("lang") == "en")
    agg = res.agg(
        F.avg("kept").alias("frac"), (F.avg("importance_micro") / 1e6).alias("mean_w")
    ).head()
    assert abs(agg["frac"] - agg["mean_w"]) < 0.08, agg


def test_importance_resample_monotone_in_weight(spark):
    """Monotone in weight: re-deciding the keep rule at doubled (capped)
    weights may only flip rows INTO the sample — no kept row drops out.
    The doubled-weight decision is recomputed from the audit columns with
    the canonical comparison, so an inverted operator comparison produces
    kept rows above the doubled threshold and fails here; the corpus is
    checked to contain both kept and dropped rows (non-vacuous)."""
    from dss_plugin_google_cloud_vision_spark.operators.selection import (
        importance_resample,
    )

    scale, shift = 1_000_000, 1 << 32
    rows = [(i, f"w{i % 7} w{i % 3}", "en" if i % 2 else "fr") for i in range(100)]
    res = importance_resample(_docs(spark, rows), target_pred=F.col("lang") == "en")
    doubled = F.least(F.col("importance_micro") * 2, F.lit(scale))
    agg = res.select(
        "kept",
        (F.col("sample_key") * scale < doubled * F.lit(shift))
        .cast("int")
        .alias("kept_doubled"),
    ).agg(
        F.sum(F.when((F.col("kept") == 1) & (F.col("kept_doubled") == 0), 1).otherwise(0)).alias(
            "dropped"
        ),
        F.sum("kept").alias("n_kept"),
        F.count("*").alias("n"),
    ).head()
    assert agg["dropped"] == 0, agg
    assert 0 < agg["n_kept"] < agg["n"], agg
