# -*- coding: utf-8 -*-
"""Document split / page-extract / merge operators — the explicit
(non-fused) form of the document dataflow, mirroring the reference's
document recipe (SURVEY.md §3.2):

    path_df → split_all_documents (explode 1→N)
            → parallelizer(call_api_document_text_detection)  [batch = 1 page]
            → merge_all_documents (groupBy path, page-ordinal reassembly)

Reference: python-lib/document_utils.py:158-210 (split fan-out), :320-327
(page-number), :329-377 (groupby merge); python-lib/
google_vision_api_client.py:132-172 (per-page call; DocumentSplitError when
the split produced nothing).

The fused stage in ``operators.pages`` is the scale path (no explode
round-trip of page payloads); this module exists because the exploded form
is the reference's observable operator inventory (E1/E2/E3) and because the
merge is needed as a standalone operator for document-level reassembly.
It is not a second implementation: splitting and per-page routing call the
fused stage's router (``pages.split_payload`` / ``pages.route_payload``),
so both forms produce identical results (tested).
"""

from __future__ import annotations

from typing import List, Optional, Tuple

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from ..errors import DocumentSplitError, ErrorHandling
from ..functions.response import build_page_response
from ..naming import generate_unique
from .extract import extract
from .pages import CAPTURED_EXCEPTIONS, route_payload, split_payload

PAGE_PAYLOAD_COLUMN = "page_payload"
PAGE_NUMBER_COLUMN = "page_number"


def _split_one_payload(payload) -> Optional[List[Tuple[Optional[int], bytes]]]:
    try:
        _, pages = split_payload(payload)
    except CAPTURED_EXCEPTIONS:
        return None
    return pages


def _split_payload_udf():
    """Document payload → (page_number, page_payload) pairs (vectorized
    pandas UDF). Null marks a failed split (the reference's empty
    ``splitted_document_path`` sentinel, document_utils.py:152-156); HTML
    payloads are a single page numbered null. Built lazily: ``pandas_udf``
    needs an active session to parse the return-type DDL."""

    @pandas_udf("array<struct<page_number:int,payload:binary>>")
    def split_udf(payloads: pd.Series) -> pd.Series:
        return payloads.map(_split_one_payload)

    return split_udf


def split_documents(df: DataFrame, html_column: str = "html") -> DataFrame:
    """Explode documents into page rows (reference E1/E2):
    adds ``page_payload`` and ``page_number`` (1-based ordinal for
    multi-page payloads, null for single-page HTML — the reference's
    int-or-"" mixed column normalized to nullable int); a failed split
    yields one row with null ``page_payload`` and ``page_number``."""
    page_number_col = generate_unique(PAGE_NUMBER_COLUMN, df.columns, "")
    payload_col = generate_unique(PAGE_PAYLOAD_COLUMN, df.columns, "")
    page = F.col("_page")
    exploded = df.select("*", F.explode_outer(_split_payload_udf()(F.col(html_column))).alias("_page"))
    return (
        exploded.withColumn(payload_col, page["payload"])
        .withColumn(page_number_col, page["page_number"])
        .drop("_page")
    )


def _extract_one_page(row: dict, payload_column: str = PAGE_PAYLOAD_COLUMN) -> str:
    """Per-page extraction function for the compat ``extract`` engine —
    plays the role of the reference's ``call_api_document_text_detection``
    (google_vision_api_client.py:132-172), including raising
    ``DocumentSplitError`` when the split produced no payload (:154-155)."""
    payload = row.get(payload_column)
    if payload is None:
        raise DocumentSplitError("Document could not be split")
    data = bytes(payload)
    _, extract_page = route_payload(data)
    page = extract_page(data)
    return build_page_response(page.text, page.spans, page.language_code, page.language_confidence)


def extract_split_pages(
    df: DataFrame,
    payload_column: str = PAGE_PAYLOAD_COLUMN,
    column_prefix: str = "document_text_api",
    error_handling: ErrorHandling = ErrorHandling.LOG,
    verbose: bool = False,
) -> DataFrame:
    """Run per-page extraction over the exploded page rows via the guarded
    compat engine (dict contract, error-column capture)."""
    return extract(
        df,
        _extract_one_page,
        CAPTURED_EXCEPTIONS,
        column_prefix,
        error_handling=error_handling,
        verbose=verbose,
        payload_column=payload_column,
    )


def merge_documents(
    page_df: DataFrame,
    key_column: str = "url",
    page_number_column: str = PAGE_NUMBER_COLUMN,
    text_column: str = "detections_concat",
    page_separator: str = "\f",
) -> DataFrame:
    """Reassemble per-page texts into document text in page order —
    the reference's groupby-merge (document_utils.py:329-377) with the
    page-ordinal sort made explicit. One shuffle on the document key.

    Output: key, ``page_count``, ``doc_text``. Error pages contribute empty
    text; page order is (page_number asc, nulls first) exactly like the
    reference's page-number insert (:374-375).
    """
    ordered = F.array_sort(
        F.collect_list(
            F.struct(
                F.coalesce(F.col(page_number_column), F.lit(0)).alias("pn"),
                F.coalesce(F.col(text_column), F.lit("")).alias("t"),
            )
        )
    )
    return page_df.groupBy(key_column).agg(
        F.count("*").alias("page_count"),
        F.array_join(F.transform(ordered, lambda s: s["t"]), page_separator).alias("doc_text"),
    )
