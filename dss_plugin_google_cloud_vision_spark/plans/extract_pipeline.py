# -*- coding: utf-8 -*-
"""The flagship end-to-end plan: pages table → fused extraction →
text-detection formatting → (optionally) document-level merge.

This is the Spark re-expression of the reference's document recipe
(SURVEY.md §3.2, custom-recipes/google-cloud-vision-document-text-detection/
recipe.py:10-44): one narrow extraction stage plus exactly one shuffle
(the document-level groupBy, ``merge_documents``), instead of four driver
thread pools and per-page blob round-trips. The fused stage
(``operators.pages``) is the only split/extract path: it splits and
numbers pages inside the stage, so no exploded page-payload table exists.
"""

from __future__ import annotations

from typing import NamedTuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..errors import ErrorHandling
from ..naming import build_unique_column_names
from ..operators.formatters import (
    format_text_detection,
    move_api_columns_to_end,
    with_column_descriptions,
)
from ..operators.pages import extract_pages

DEFAULT_PREFIX = "content_api"
PAGE_NUMBER_COLUMN = "page_number"


class EmptyInputError(ValueError):
    """Raised when a pipeline input has no rows — the reference's
    empty-result guards (dku_io_utils.py:42-43 'No files to process',
    document_utils.py:194-195 'No documents to split')."""


def guard_nonempty(df: DataFrame, message: str) -> DataFrame:
    if df.isEmpty():
        raise EmptyInputError(message)
    return df


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


class ExtractionPlan(NamedTuple):
    pages: DataFrame      # page-level rows: formatted columns + API columns
    documents: DataFrame  # document-level: url, page_count, doc_text


def run_extraction_pipeline(
    df: DataFrame,
    html_column: str = "html",
    column_prefix: str = DEFAULT_PREFIX,
    error_handling: ErrorHandling = ErrorHandling.LOG,
    verbose: bool = False,
    drop_payload: bool = True,
    key_column: str = "url",
    check_nonempty: bool = False,
) -> ExtractionPlan:
    if check_nonempty:
        guard_nonempty(df, "No pages to process")
    extracted = extract_pages(
        df,
        html_column=html_column,
        column_prefix=column_prefix,
        error_handling=error_handling,
        verbose=verbose,
        drop_payload=drop_payload,
    )
    column_names = build_unique_column_names(df.columns, column_prefix)
    formatted = format_text_detection(extracted, column_names.response, column_prefix)
    pages = move_api_columns_to_end(
        with_column_descriptions(formatted.df, formatted.column_descriptions),
        column_names,
        error_handling,
    )
    text_column = formatted.output_columns[0]  # detections_concat
    documents = merge_documents(pages, key_column=key_column, text_column=text_column)
    return ExtractionPlan(pages=pages, documents=documents)
