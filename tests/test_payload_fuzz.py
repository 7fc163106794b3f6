# -*- coding: utf-8 -*-
"""Malformed-payload fuzzing of the PDF/TIFF/HTML extraction kernels.

The reference wraps every per-document API call so that ANY failure lands
in the row's error columns and never aborts the job (reference:
python-lib/parallelizer.py:61-79 — catch, log, emit error columns).
This engine's analogue is ``extract_pages``'s CAPTURED_EXCEPTIONS
contract: the kernels may raise ONLY ``ExtractionError`` /
``DocumentSplitError``; anything else would kill the Spark task at
100 TB scale.  These tests drive randomly corrupted payloads through
both the kernel functions and the full ``mapInArrow`` stage:

1. hypothesis property — arbitrary corruption of a valid payload either
   extracts or raises exactly the captured taxonomy, on BOTH kernels
   (JSON and typed);
2. a deterministic 120-document corrupted corpus through
   ``extract_pages`` — every document yields rows, error rows carry the
   module-qualified reference taxonomy, and the stage never aborts;
3. error-row goldens — canonical corruptions produce exact
   (error_type, error_message) pairs, pinning the taxonomy text, on the
   JSON path (incl. verbose ``error_raw``) and the typed path alike.
"""

from __future__ import annotations

import json
from random import Random

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from dss_plugin_google_cloud_vision_spark.errors import (
    DocumentSplitError,
    ErrorHandling,
    ExtractionError,
)
from dss_plugin_google_cloud_vision_spark.functions.pdf_extract import (
    EOF_MARKER as PDF_EOF,
    FAKE_HEADER as PDF_HEADER,
)
from dss_plugin_google_cloud_vision_spark.functions.tiff_extract import (
    build_tiff_payload,
)
from dss_plugin_google_cloud_vision_spark.operators.pages import (
    extract_document,
    extract_document_typed,
    extract_pages,
    extract_pages_typed,
)

CAPTURED = (ExtractionError, DocumentSplitError)
ERRORS_MODULE = "dss_plugin_google_cloud_vision_spark.errors"
ALLOWED_ERROR_TYPES = {
    f"{ERRORS_MODULE}.ExtractionError",
    f"{ERRORS_MODULE}.DocumentSplitError",
}


def _valid_pdf(rng: Random) -> bytes:
    lines = [PDF_HEADER]
    block_id = 0
    for page_no in range(1, rng.randint(1, 3) + 1):
        lines.append(f"PAGE {page_no}")
        for _ in range(rng.randint(1, 4)):
            lines.append(f"BLOCK id={block_id} y={rng.randint(0, 900)} x={rng.randint(0, 400)}")
            lines.append(" ".join(f"word{rng.randint(0, 99)}" for _ in range(6)))
            lines.append("ENDBLOCK")
            block_id += 1
        lines.append("ENDPAGE")
    lines.append(PDF_EOF)
    return ("\n".join(lines) + "\n").encode("utf-8")


def _valid_tiff(rng: Random) -> bytes:
    frames = [
        [" ".join(f"line{rng.randint(0, 99)}" for _ in range(5)) for _ in range(rng.randint(1, 4))]
        for _ in range(rng.randint(1, 3))
    ]
    return build_tiff_payload(frames)


def _corrupt(payload: bytes, rng: Random) -> bytes:
    """One random corruption, preserving the magic bytes often enough that
    the binary routing branches actually get exercised (a corruption that
    destroys the magic just routes to the HTML branch — also valid, also
    must not escape the taxonomy)."""
    op = rng.randrange(7)
    data = bytearray(payload)
    if op == 0 and len(data) > 1:  # truncate
        del data[rng.randrange(1, len(data)):]
    elif op == 1 and data:  # flip random bytes (may create invalid UTF-8)
        for _ in range(rng.randint(1, 8)):
            data[rng.randrange(len(data))] = rng.randrange(256)
    elif op == 2:  # inject a stray structural marker line
        marker = rng.choice([b"ENDPAGE", b"ENDBLOCK", b"ENDFRAME", b"PAGE 7", b"FRAME 7"])
        pos = rng.randrange(len(data) + 1)
        data[pos:pos] = b"\n" + marker + b"\n"
    elif op == 3:  # delete a random line
        lines = bytes(data).split(b"\n")
        if len(lines) > 1:
            del lines[rng.randrange(len(lines))]
        data = bytearray(b"\n".join(lines))
    elif op == 4:  # duplicate a random line
        lines = bytes(data).split(b"\n")
        i = rng.randrange(len(lines))
        lines.insert(i, lines[i])
        data = bytearray(b"\n".join(lines))
    elif op == 5:  # splice raw invalid UTF-8
        pos = rng.randrange(len(data) + 1)
        data[pos:pos] = bytes(rng.randrange(128, 256) for _ in range(rng.randint(1, 4)))
    else:  # cross-format confusion: swap in the OTHER format's magic
        other = b"II*\x00" if bytes(data[:5]) == b"%PDF-" else b"%PDF-"
        data[: len(other)] = other
    return bytes(data)


@st.composite
def corrupted_payloads(draw):
    seed = draw(st.integers(0, 2**31))
    n_corruptions = draw(st.integers(1, 3))
    rng = Random(seed)
    payload = _valid_pdf(rng) if rng.random() < 0.5 else _valid_tiff(rng)
    for _ in range(n_corruptions):
        payload = _corrupt(payload, rng)
    return payload


@given(corrupted_payloads())
@settings(max_examples=300, deadline=None)
def test_fuzzed_payload_never_escapes_taxonomy(payload):
    """Both kernels either extract or raise exactly the captured taxonomy
    — any other exception type would abort the Spark task."""
    for kernel in (extract_document, extract_document_typed):
        try:
            results = kernel(payload)
        except CAPTURED:
            continue
        assert isinstance(results, list) and results
        for row in results:
            page_number = row[0]
            assert page_number is None or isinstance(page_number, int)
            if kernel is extract_document:
                parsed = json.loads(row[1])  # response is valid JSON
                assert "fullTextAnnotation" in parsed
            else:
                assert isinstance(row[1], str)


def _corrupted_corpus(n: int = 120):
    rows = []
    for i in range(n):
        rng = Random(1000 + i)
        base = _valid_pdf(rng) if i % 2 == 0 else _valid_tiff(rng)
        # every third document stays valid: the corpus must exercise the
        # success AND the error path in the same stage
        payload = base if i % 3 == 0 else _corrupt(base, rng)
        rows.append((i, payload))
    return rows


def test_extract_pages_routes_corruption_to_error_columns(spark):
    """The full mapInArrow stage over a corrupted corpus: never aborts,
    emits >= 1 row per document, error rows carry the module-qualified
    taxonomy with empty responses, success rows the inverse."""
    rows = _corrupted_corpus()
    df = spark.createDataFrame(rows, "doc_id bigint, html binary")
    out = extract_pages(df, error_handling=ErrorHandling.LOG).collect()

    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert set(by_doc) == {i for i, _ in rows}

    n_error_docs = 0
    for doc_id, doc_rows in by_doc.items():
        errors = [r for r in doc_rows if r["content_api_error_message"]]
        if errors:
            # a failed document yields exactly ONE error row (the
            # reference's one-error-row-per-failed-request rule)
            assert len(doc_rows) == 1
            row = errors[0]
            assert row["content_api_response"] == ""
            assert row["content_api_error_type"] in ALLOWED_ERROR_TYPES
            assert row["page_number"] is None
            n_error_docs += 1
        else:
            for row in doc_rows:
                assert row["content_api_response"] != ""
                assert row["content_api_error_type"] == ""
    # the corpus genuinely exercised both paths
    assert n_error_docs >= 10
    assert len(by_doc) - n_error_docs >= 10


GOLDEN_ERRORS = [
    (
        b"%PDF-FAKE 1.0\nPAGE 1\nsome text\n",  # unterminated page
        f"{ERRORS_MODULE}.DocumentSplitError",
        "document could not be split",
    ),
    (
        b"%PDF-FAKE 1.0\nENDPAGE\n",  # ENDPAGE before any PAGE
        f"{ERRORS_MODULE}.DocumentSplitError",
        "ENDPAGE without PAGE",
    ),
    (
        b"II*\x00FAKE 1.0\nno frame structure here\n",  # magic, no frames
        f"{ERRORS_MODULE}.DocumentSplitError",
        "document could not be split",
    ),
    (
        b"%PDF-\xff\xfe\xfd",  # undecodable bytes behind the magic
        f"{ERRORS_MODULE}.ExtractionError",
        "undecodable document payload: ",
    ),
    (
        b"",  # empty payload (HTML branch)
        f"{ERRORS_MODULE}.ExtractionError",
        "empty document payload",
    ),
]


@pytest.mark.parametrize("payload,want_type,want_prefix", GOLDEN_ERRORS)
def test_error_row_goldens(spark, payload, want_type, want_prefix):
    """Canonical corruptions pin the exact taxonomy strings the error
    columns carry (reference parallelizer.py:72-75 module-qualified
    naming), on both outputs of the shared extraction stage."""
    df = spark.createDataFrame([(0, payload)], "doc_id bigint, html binary")
    [row] = extract_pages(df, error_handling=ErrorHandling.LOG).collect()
    assert row["content_api_error_type"] == want_type
    assert row["content_api_error_message"].startswith(want_prefix)
    assert row["content_api_response"] == ""
    # FAIL mode surfaces the same failure as a task abort (fail-fast)
    with pytest.raises(Exception):
        extract_pages(df, error_handling=ErrorHandling.FAIL).collect()

    # verbose: error_raw is the kernel exception's str(error.args)
    with pytest.raises(CAPTURED) as raised:
        extract_document_typed(payload)
    [verbose_row] = extract_pages(df, verbose=True).collect()
    assert verbose_row["content_api_error_raw"] == str(raised.value.args)
    assert verbose_row["content_api_error_message"] == row["content_api_error_message"]
    if payload == b"":
        assert verbose_row["content_api_error_raw"] == "('empty document payload',)"

    # typed path: same taxonomy, null extraction, same fail-fast
    [typed_row] = extract_pages_typed(df, error_handling=ErrorHandling.LOG).collect()
    assert typed_row["error_type"] == want_type
    assert typed_row["error_message"] == row["content_api_error_message"]
    assert typed_row["extracted_text"] is None
    assert typed_row["page_number"] is None and typed_row["spans"] is None
    with pytest.raises(Exception):
        extract_pages_typed(df, error_handling=ErrorHandling.FAIL).collect()
