# -*- coding: utf-8 -*-
"""The page-extraction stage: the engine's replacement for the reference's
scan → batch → call-API → parse pipeline, fused into ONE ``mapInArrow``
stage with zero shuffles.

Reference dataflow being re-expressed (see SURVEY.md §3.2): path table →
``split_all_documents`` (explode to pages, python-lib/document_utils.py:
158-210) → ``parallelizer`` with the per-page API call (python-lib/
parallelizer.py:160-250) → response parsing into row-level columns
(python-lib/google_vision_api_client.py:59-78). This stage is the only
split/extract path. ``route_payload`` is the engine's one magic-byte
router and ``extract_document_typed`` its one per-document kernel.
``extract_pages`` (the reference's exact API-column contract: response
JSON / error_message / error_type / empty-string sentinels,
module-qualified error types) and ``extract_pages_typed`` (typed columns,
no JSON) share one batch loop, ``_page_stage``: one Python crossing per
batch, per-consumer output.

Scale properties:
- **No shuffle**: document→page fan-out happens inside the stage (an
  output batch may hold more rows than the input batch); Spark's whole
  pipeline scan→extract is one narrow stage.
- **Arrow-native passthrough**: untouched input columns are replicated per
  page with vectorized ``take`` on Arrow arrays — the binary payload is the
  only column materialized into Python.
- **Payload dropping**: ``drop_payload=True`` removes the html column from
  the output so downstream stages (groupBy, sinks) never shuffle the raw
  bytes — at 100 TB input this is the difference between shuffling
  terabytes and shuffling extracted text.
"""

from __future__ import annotations

from typing import Callable, Iterable, Iterator, List, Optional, Sequence, Tuple

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql.types import ArrayType, DoubleType, IntegerType, StringType, StructField, StructType

from ..errors import DocumentSplitError, ErrorHandling, ExtractionError, qualified_error_type
from ..functions.html_extract import extract_html
from ..functions.pdf_extract import extract_pdf_page, is_pdf_payload, split_pdf_pages
from ..functions.response import build_page_response
from ..functions.tiff_extract import extract_tiff_frame, is_tiff_payload, split_tiff_frames
from ..naming import api_output_columns, build_unique_column_names, generate_unique

DEFAULT_COLUMN_PREFIX = "content_api"
CAPTURED_EXCEPTIONS = (ExtractionError, DocumentSplitError)


def route_payload(data: bytes) -> Tuple[Optional[Callable], Callable]:
    """Magic bytes → (splitter, page extractor): the engine's only router.

    Routing is THREE-way — ``%PDF-`` / ``II*\\x00`` (TIFF) / other→HTML —
    mirroring the reference's pdf / tif+tiff / other suffix routing
    (google_vision_api_formatting.py:412-418, document_utils.py:144-151).
    HTML is single-page, so its splitter is None.
    """
    if is_pdf_payload(data):
        return split_pdf_pages, extract_pdf_page
    if is_tiff_payload(data):
        return split_tiff_frames, extract_tiff_frame
    return None, extract_html


def split_payload(payload: Optional[bytes]) -> Tuple[Callable, List[Tuple[Optional[int], bytes]]]:
    """One document payload → (page extractor, [(page_number, page_payload)]).

    Multi-page payloads are split and numbered 1..N by ordinal; HTML is one
    page with ``page_number`` None (the reference's empty page number
    outside the document path, document_utils.py:320-327). Raises
    ``DocumentSplitError`` / ``ExtractionError`` on unsplittable payloads.
    """
    data = bytes(payload) if payload is not None else b""
    splitter, extract_page = route_payload(data)
    if splitter is None:
        return extract_page, [(None, data)]
    return extract_page, list(enumerate(splitter(data), start=1))


def extract_document_typed(payload: Optional[bytes]) -> List[tuple]:
    """One payload → list of typed page tuples
    (page_number, text, spans, language_code, language_score) — the
    per-document kernel behind both page-extraction outputs.
    Raises ``ExtractionError`` / ``DocumentSplitError`` on bad payloads."""
    extract_page, pages = split_payload(payload)
    results = []
    for page_number, page_payload in pages:
        page = extract_page(page_payload)
        results.append(
            (page_number, page.text, page.spans, page.language_code, page.language_confidence)
        )
    return results


def extract_document(payload: Optional[bytes]) -> List[Tuple[Optional[int], str]]:
    """One document payload → [(page_number, response_json)]: the typed
    kernel with ``build_page_response`` applied to each page."""
    return [
        (page_number, build_page_response(text, spans, code, score))
        for page_number, text, spans, code, score in extract_document_typed(payload)
    ]


def _page_stage(
    df: DataFrame,
    html_column: str,
    error_handling: ErrorHandling,
    drop_payload: bool,
    out_fields: Sequence[StructField],
    emit: Callable[[list], List[pa.Array]],
) -> DataFrame:
    """The one ``mapInArrow`` stage behind ``extract_pages`` and
    ``extract_pages_typed``: passthrough columns, then ``out_fields``,
    whose arrays ``emit`` builds from the batch's entries — one typed page
    tuple per extracted page, or the captured exception standing for a
    whole failed document (re-raised instead under ``FAIL``)."""
    if html_column not in df.columns:
        raise ValueError(f"missing payload column '{html_column}'")
    passthrough_fields = [
        f for f in df.schema.fields if not (drop_payload and f.name == html_column)
    ]
    passthrough_names = [f.name for f in passthrough_fields]
    out_schema = StructType(passthrough_fields + list(out_fields))
    out_names = passthrough_names + [f.name for f in out_fields]
    fail_fast = error_handling == ErrorHandling.FAIL

    def process(record_batches: Iterable[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for rb in record_batches:
            payloads = rb.column(rb.schema.names.index(html_column)).to_pylist()
            indices: List[int] = []
            entries: list = []
            for i, payload in enumerate(payloads):
                try:
                    pages = extract_document_typed(payload)
                except CAPTURED_EXCEPTIONS as error:
                    if fail_fast:
                        raise
                    pages = [error]
                indices.extend([i] * len(pages))
                entries.extend(pages)
            take_idx = pa.array(indices, type=pa.int64())
            arrays = [
                rb.column(rb.schema.names.index(name)).take(take_idx)
                for name in passthrough_names
            ]
            yield pa.RecordBatch.from_arrays(arrays + emit(entries), names=out_names)

    return df.mapInArrow(process, out_schema)


_SPAN_STRUCT = StructType(
    [
        StructField("kind", StringType()),
        StructField("start", IntegerType()),
        StructField("end", IntegerType()),
        StructField("block_id", IntegerType()),
    ]
)
_TYPED_FIELDS = [
    StructField("page_number", IntegerType(), True),
    StructField("extracted_text", StringType(), True),
    StructField("spans", ArrayType(_SPAN_STRUCT), True),
    StructField("language_code", StringType(), True),
    StructField("language_score", DoubleType(), True),
    StructField("error_message", StringType(), True),
    StructField("error_type", StringType(), True),
]


def _emit_typed(entries: list) -> List[pa.Array]:
    page_numbers: List[Optional[int]] = []
    texts: List[Optional[str]] = []
    lang_codes: List[Optional[str]] = []
    lang_scores: List[Optional[float]] = []
    error_messages: List[str] = []
    error_types: List[str] = []
    # spans are built COLUMNARLY (flat value buffers + list offsets,
    # null offset = null list) — no per-span Python dict; this is
    # the typed path's whole point and measured ~2x on the stage
    span_kinds: List[str] = []
    span_starts: List[int] = []
    span_ends: List[int] = []
    span_block_ids: List[int] = []
    span_offsets: List[int] = [0]
    span_is_null: List[bool] = []
    for entry in entries:
        if isinstance(entry, Exception):
            page_numbers.append(None)
            texts.append(None)
            span_offsets.append(len(span_kinds))  # empty slice; mask marks null
            span_is_null.append(True)
            lang_codes.append(None)
            lang_scores.append(None)
            error_messages.append(str(entry))
            error_types.append(qualified_error_type(entry))
            continue
        page_number, text, page_spans, code, score = entry
        page_numbers.append(page_number)
        texts.append(text)
        for (k, s, e, b) in page_spans:
            span_kinds.append(k)
            span_starts.append(s)
            span_ends.append(e)
            span_block_ids.append(b)
        span_offsets.append(len(span_kinds))
        span_is_null.append(False)
        lang_codes.append(code)
        lang_scores.append(score if code else None)
        error_messages.append("")
        error_types.append("")
    span_values = pa.StructArray.from_arrays(
        [
            pa.array(span_kinds, type=pa.string()),
            pa.array(span_starts, type=pa.int32()),
            pa.array(span_ends, type=pa.int32()),
            pa.array(span_block_ids, type=pa.int32()),
        ],
        names=["kind", "start", "end", "block_id"],
    )
    spans_array = pa.ListArray.from_arrays(
        pa.array(span_offsets, type=pa.int32()),
        span_values,
        mask=pa.array(span_is_null, type=pa.bool_()),
    )
    return [
        pa.array(page_numbers, type=pa.int32()),
        pa.array(texts, type=pa.string()),
        spans_array,
        pa.array(lang_codes, type=pa.string()),
        pa.array(lang_scores, type=pa.float64()),
        pa.array(error_messages, type=pa.string()),
        pa.array(error_types, type=pa.string()),
    ]


def extract_pages_typed(
    df: DataFrame,
    html_column: str = "html",
    error_handling: ErrorHandling = ErrorHandling.LOG,
    drop_payload: bool = True,
) -> DataFrame:
    """The typed scale path: the same stage as ``extract_pages`` but
    emitting typed columns directly — no response JSON serialization in the
    stage and no ``from_json`` re-parse downstream. At 100 TB this saves
    one serialize + one parse of every extracted byte. The JSON path
    remains the reference-parity surface; tests assert both paths agree
    field-for-field.

    Output: passthrough + page_number int + extracted_text string +
    spans array<struct> + language_code string + language_score double +
    error_message / error_type strings.
    """
    return _page_stage(df, html_column, error_handling, drop_payload, _TYPED_FIELDS, _emit_typed)


def extract_pages(
    df: DataFrame,
    html_column: str = "html",
    column_prefix: str = DEFAULT_COLUMN_PREFIX,
    error_handling: ErrorHandling = ErrorHandling.LOG,
    verbose: bool = False,
    drop_payload: bool = False,
) -> DataFrame:
    """Route + split + extract every page of every document in one narrow
    Arrow stage. Output: passthrough columns (+ ``page_number`` int) + the
    prefixed API columns, one row per extracted page (or one error row per
    failed document)."""
    column_names = build_unique_column_names(df.columns, column_prefix)
    out_api_cols = api_output_columns(column_names, error_handling, verbose)
    out_fields = [StructField(generate_unique("page_number", df.columns, ""), IntegerType(), True)]
    out_fields += [StructField(name, StringType(), True) for name in out_api_cols]

    def emit(entries: list) -> List[pa.Array]:
        rows = []  # (page_number, then one value per ``column_names`` field)
        for entry in entries:
            if isinstance(entry, Exception):
                rows.append((None, "", str(entry), qualified_error_type(entry), str(entry.args)))
            else:
                page_number, text, spans, code, score = entry
                response = build_page_response(text, spans, code, score)
                rows.append((page_number, response, "", "", ""))
        page_numbers, *api_values = zip(*rows) if rows else [()] * 5
        by_field = dict(zip(column_names, api_values))
        return [pa.array(page_numbers, type=pa.int32())] + [
            pa.array(by_field[name], type=pa.string()) for name in out_api_cols
        ]

    return _page_stage(df, html_column, error_handling, drop_payload, out_fields, emit)
