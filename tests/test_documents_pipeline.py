# -*- coding: utf-8 -*-
"""Document path (FIXTURES.md §4): page numbering and split-error capture
on the fused extraction stage, end-to-end pipeline golden check, document
merge and curation."""

import json
from pathlib import Path

from pyspark.sql import functions as F

from dss_plugin_google_cloud_vision_spark.operators.pages import extract_pages
from dss_plugin_google_cloud_vision_spark.plans.extract_pipeline import run_extraction_pipeline
from dss_plugin_google_cloud_vision_spark.sources.pages import (
    PAGE_SEPARATOR,
    expected_page,
    tiny_pages_df,
)

N_ROWS = 64
GOLDENS = json.loads((Path(__file__).parent / "goldens" / "extraction_goldens.json").read_text())


def test_fused_page_numbers(spark):
    """PDF pages are numbered 1..N, HTML pages and failed documents carry a
    null page number, TIFF frames are numbered [1, 2]."""
    df = tiny_pages_df(spark, N_ROWS)
    pages = extract_pages(df, drop_payload=True).cache()
    for i in range(N_ROWS):
        expected = expected_page(i)
        rows = pages.filter(F.col("url") == expected["url"]).collect()
        if expected["kind"] == "pdf":
            assert sorted(r["page_number"] for r in rows) == list(range(1, expected["page_count"] + 1))
        else:
            assert len(rows) == 1 and rows[0]["page_number"] is None
    pages.unpersist()

    # TIFF payloads split through the same router: two frames per document
    from dss_plugin_google_cloud_vision_spark.sources.render import documents_as_tiff_pages

    docs = spark.createDataFrame(
        [(i, " ".join(f"tok{i}w{j}" for j in range(12)), "en") for i in range(4)],
        "doc_id long, text string, lang string",
    )
    tiff = documents_as_tiff_pages(docs)
    by_url = {}
    for row in extract_pages(tiff, drop_payload=True).collect():
        assert row["content_api_error_message"] == ""
        by_url.setdefault(row["url"], []).append(row["page_number"])
    assert len(by_url) == 4
    assert all(sorted(numbers) == [1, 2] for numbers in by_url.values())
    # merged in page order, byte-identical: half1 \f half2 of the source text
    merged = {r["url"]: r for r in run_extraction_pipeline(tiff).documents.collect()}
    for row in docs.collect():
        toks = row["text"].split(" ")
        doc = merged[f"https://docs.example.org/en/doc-{row['doc_id']}.tiff"]
        assert doc["page_count"] == 2
        assert doc["doc_text"] == " ".join(toks[:6]) + PAGE_SEPARATOR + " ".join(toks[6:])


def test_split_error_routed_to_error_columns(spark):
    bad = [i for i in range(N_ROWS) if expected_page(i)["kind"] == "badpdf"]
    assert bad, "fixture should contain at least one unsplittable pdf in 64 rows"
    df = tiny_pages_df(spark, N_ROWS)
    out = extract_pages(df, drop_payload=True)
    url = expected_page(bad[0])["url"]
    rows = out.filter(F.col("url") == url).collect()
    assert len(rows) == 1
    row = rows[0]
    assert row["content_api_response"] == ""
    assert row["content_api_error_message"] == "document could not be split"
    assert (
        row["content_api_error_type"]
        == "dss_plugin_google_cloud_vision_spark.errors.DocumentSplitError"
    )
    assert row["page_number"] is None


def test_full_pipeline_end_to_end(spark):
    df = tiny_pages_df(spark, N_ROWS)
    plan = run_extraction_pipeline(df)
    pages = plan.pages
    # api columns last, payload dropped, formatted columns present
    assert pages.columns[-3:] == [
        "content_api_response",
        "content_api_error_message",
        "content_api_error_type",
    ]
    assert "html" not in pages.columns
    assert "content_api_detections_concat" in pages.columns
    docs = {r["url"]: r for r in plan.documents.collect()}
    assert len(docs) == N_ROWS
    import hashlib

    for i in range(N_ROWS):
        expected = expected_page(i)
        golden = GOLDENS[expected["url"]]
        if not golden["error"]:
            assert hashlib.md5(docs[expected["url"]]["doc_text"].encode()).hexdigest() == golden["doc_md5"]


def test_pipeline_language_columns(spark):
    df = tiny_pages_df(spark, N_ROWS)
    plan = run_extraction_pipeline(df)
    ok = plan.pages.filter(
        (F.col("content_api_error_message") == "") & (F.col("content_api_detections_concat") != "")
    )
    rows = ok.select("lang", "content_api_language_code", "content_api_language_score").collect()
    assert rows
    detected = [r for r in rows if r["content_api_language_code"] != ""]
    # language id should fire on the vast majority of non-empty texts
    assert len(detected) >= int(0.9 * len(rows))
    for r in detected:
        assert 0.0 < r["content_api_language_score"] <= 1.0


def test_empty_input_guard(spark):
    import pytest as _pytest

    from dss_plugin_google_cloud_vision_spark.plans.extract_pipeline import (
        EmptyInputError,
        run_extraction_pipeline,
    )

    empty = tiny_pages_df(spark, 4).filter("1 = 0")
    with _pytest.raises(EmptyInputError, match="No pages to process"):
        run_extraction_pipeline(empty, check_nonempty=True)
    # default: lazy pipelines tolerate empty inputs
    plan = run_extraction_pipeline(empty)
    assert plan.pages.count() == 0


def test_curate_corpus_removes_planted_duplicates(spark):
    """End-to-end curation: exact copies AND near copies (suffix edit)
    collapse to the original; short docs gated out; stats preserved."""
    from dss_plugin_google_cloud_vision_spark.plans.curation import curate_corpus
    from dss_plugin_google_cloud_vision_spark.sources.render import documents_as_pages

    base = " ".join(f"tok{i}" for i in range(30))
    other = " ".join(f"w{i} and the river market stone".split()[i % 5] + str(i) for i in range(25))
    docs = spark.createDataFrame(
        [
            (1, base, "en"),
            (2, other, "en"),
            (3, "too short", "en"),  # gated out (< 20 tokens)
            (101, base, "en"),  # exact copy of 1
            (102, base + " zzz extra suffix token", "en"),  # near copy of 1
        ],
        "doc_id long, text string, lang string",
    )
    curated = curate_corpus(documents_as_pages(docs))
    rows = {r["doc_id"]: r for r in curated.collect()}
    assert set(rows) == {1, 2}
    assert rows[1]["text"] == base  # byte-identical through extraction
    assert rows[1]["n_tokens"] == 30
