# -*- coding: utf-8 -*-
"""Spark-free timing of the extraction kernels (``functions/*`` and the
per-document routers of ``operators.pages``) on a fixed seeded sample of
the ``extract`` workload's payloads, in this process. This is layer (a):
what the Arrow stage would cost with no Python↔JVM boundary at all."""

from __future__ import annotations

import statistics
import time
from typing import Callable, Dict, List

from dss_plugin_google_cloud_vision_spark.functions.html_extract import extract_html
from dss_plugin_google_cloud_vision_spark.functions.langid import guess_language
from dss_plugin_google_cloud_vision_spark.functions.pdf_extract import (
    extract_pdf_page,
    split_pdf_pages,
)
from dss_plugin_google_cloud_vision_spark.functions.response import build_page_response
from dss_plugin_google_cloud_vision_spark.operators.pages import (
    CAPTURED_EXCEPTIONS,
    extract_document,
    extract_document_typed,
)
from dss_plugin_google_cloud_vision_spark.sources.pages import (
    KIND_PDF,
    expected_page,
)

SAMPLE_DOCS = 300
REPEATS = 3


def _median_time(fn: Callable[[], None]) -> float:
    runs = []
    for _ in range(REPEATS):
        started = time.perf_counter()
        fn()
        runs.append(time.perf_counter() - started)
    return statistics.median(runs)


def _route_all(router, payloads: List[bytes]) -> None:
    for payload in payloads:
        try:
            router(payload)
        except CAPTURED_EXCEPTIONS:
            pass


def kernel_metrics(seed: int) -> Dict[str, float]:
    sample = [expected_page(i, seed) for i in range(SAMPLE_DOCS)]
    payloads = [page["_payload"] for page in sample]
    html = [p["_payload"] for p in sample if p["kind"] in ("article", "divsoup", "linkfarm")]
    pdf_pages = [
        page
        for p in sample
        if p["kind"] == KIND_PDF
        for page in split_pdf_pages(p["_payload"])
    ]
    texts = [p["doc_text"] for p in sample if not p["is_error"] and p["doc_text"]]
    extracted = [extract_html(payload) for payload in html]

    html_s = _median_time(lambda: [extract_html(payload) for payload in html])
    pdf_s = _median_time(lambda: [extract_pdf_page(page) for page in pdf_pages])
    langid_s = _median_time(lambda: [guess_language(text) for text in texts])
    response_s = _median_time(
        lambda: [
            build_page_response(e.text, e.spans, e.language_code, e.language_confidence)
            for e in extracted
        ]
    )
    json_s = _median_time(lambda: _route_all(extract_document, payloads))
    typed_s = _median_time(lambda: _route_all(extract_document_typed, payloads))
    return {
        "functions.html_us_per_doc": html_s / len(html) * 1e6,
        "functions.pdf_us_per_page": pdf_s / len(pdf_pages) * 1e6,
        "functions.langid_us_per_doc": langid_s / len(texts) * 1e6,
        "functions.response_json_us_per_page": response_s / len(extracted) * 1e6,
        "functions.kernel_docs_per_s": len(payloads) / json_s,
        "functions.kernel_typed_docs_per_s": len(payloads) / typed_s,
        "functions.payload_bytes": sum(len(p) for p in payloads),
        "functions.pages_out": sum(max(p["page_count"], 1) for p in sample),
        "functions.error_docs": sum(1 for p in sample if p["is_error"]),
    }
