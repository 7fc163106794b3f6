# -*- coding: utf-8 -*-
"""The guarded row/batch enrichment engine — the distributed equivalent of
the reference's ``parallelizer`` kernel.

Where the reference iterates a pandas DataFrame as row-dicts on a driver
ThreadPoolExecutor and appends four string "API columns" with error capture
(reference: python-lib/parallelizer.py:160-250), this engine expresses the
same contract as a single ``mapInArrow`` stage: Spark tasks replace threads,
Arrow record batches replace the chunked row-dict iterator, and the output
DataFrame carries the identical column set, naming, ordering, empty-string
sentinels and module-qualified error types.

Public surface:

- ``extract(df, function, exceptions, column_prefix, ...)`` — drop-in
  semantic equivalent of ``parallelizer(input_df, function, ...)``
  (reference: python-lib/parallelizer.py:160-204): same kwargs except
  ``parallel_workers``, same output columns, but distributed and lazy.
- ``guarded_row_map`` / ``guarded_batch_map`` — the per-element kernels
  (reference: python-lib/parallelizer.py:41-79 and :82-124).
- ``aligned_batch_response_parser`` — default batch parser with the
  reference's positional zip + error-dict semantics
  (reference: python-lib/google_vision_api_client.py:59-78).
- ``extraction_metrics`` — success/error accounting as a Spark aggregate
  (reference: python-lib/parallelizer.py:242-248).

Scale notes: the stage is embarrassingly parallel (no shuffle); input
columns are passed through as Arrow arrays untouched (no pandas round-trip
of binary payloads); per-row Python only happens for the user-pluggable
dict-based ``function`` contract — the engine's own extractors use the
vectorized kernels in ``operators.pages`` instead.
"""

from __future__ import annotations

import json
import logging
import reprlib
from typing import Callable, Dict, Iterable, Iterator, List, NamedTuple, Optional, Tuple, Union

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

from ..errors import BatchError, ErrorHandling, qualified_error_type
from ..naming import api_output_columns, build_unique_column_names

DEFAULT_BATCH_SIZE = 10
DEFAULT_BATCH_SUPPORT = False
DEFAULT_VERBOSE = False

ExceptionSpec = Union[type, Tuple[type, ...]]


def _as_string(value) -> str:
    """Coerce a function response to the string column type (the reference
    coerces via ``astype(str)``, python-lib/parallelizer.py:145-150; we map
    None to the empty-string sentinel)."""
    if value is None:
        return ""
    if isinstance(value, str):
        return value
    return str(value)


def guarded_row_map(
    function: Callable,
    column_names: NamedTuple,
    row: Dict,
    exceptions: ExceptionSpec,
    error_handling: ErrorHandling = ErrorHandling.LOG,
    verbose: bool = DEFAULT_VERBOSE,
    **function_kwargs,
) -> Dict:
    """Apply ``function(row=row)``, capturing matching exceptions into the
    error columns (reference semantics: python-lib/parallelizer.py:41-79).

    Returns a dict holding only the four API column values.
    """
    output = {column_name: "" for column_name in column_names}
    if error_handling == ErrorHandling.FAIL:
        output[column_names.response] = _as_string(function(row=row, **function_kwargs))
        return output
    try:
        output[column_names.response] = _as_string(function(row=row, **function_kwargs))
    except exceptions as error:
        # reprlib bounds the line: rows may carry whole documents
        logging.warning(
            f"Function {function.__name__} failed on: {reprlib.repr(row)} because of error: {error}"
        )
        output[column_names.error_message] = str(error)
        output[column_names.error_type] = qualified_error_type(error)
        output[column_names.error_raw] = str(error.args)
    return output


def aligned_batch_response_parser(
    batch: List[Dict], response, column_names: NamedTuple
) -> List[Dict]:
    """Default batch parser: ``response`` is a sequence positionally aligned
    with ``batch``; each element is either a result object (JSON-dumped into
    the response column) or a dict with an ``error`` key routed into the
    error columns (reference semantics:
    python-lib/google_vision_api_client.py:59-78, incl. the message/code
    mapping; the double-nesting edge case does not apply to local results).
    """
    results = list(response)
    output_batch = []
    for i in range(len(batch)):
        out = {column_name: "" for column_name in column_names}
        result = results[i] if i < len(results) else {}
        error_raw = result.get("error", {}) if isinstance(result, dict) else {}
        if len(error_raw) == 0:
            out[column_names.response] = result if isinstance(result, str) else json.dumps(result)
        else:
            out[column_names.error_message] = error_raw.get("message", "")
            out[column_names.error_type] = _as_string(error_raw.get("code", ""))
            out[column_names.error_raw] = _as_string(error_raw)
        output_batch.append(out)
    return output_batch


def guarded_batch_map(
    function: Callable,
    column_names: NamedTuple,
    batch: List[Dict],
    batch_response_parser: Callable,
    exceptions: ExceptionSpec,
    error_handling: ErrorHandling = ErrorHandling.LOG,
    verbose: bool = DEFAULT_VERBOSE,
    **function_kwargs,
) -> List[Dict]:
    """Apply ``function(batch=batch)`` and parse its response; on a matching
    batch-level exception, fill the same error columns on every row of the
    batch; under FAIL, raise ``BatchError`` if any row carries an error
    (reference semantics: python-lib/parallelizer.py:82-124)."""
    if error_handling == ErrorHandling.FAIL:
        response = function(batch=batch, **function_kwargs)
        output_batch = batch_response_parser(batch=batch, response=response, column_names=column_names)
        errors = [row[column_names.error_message] for row in output_batch if row[column_names.error_message] != ""]
        if len(errors) != 0:
            raise BatchError(f"Batch function {function.__name__} failed on: {batch} because of error: {errors}")
        return output_batch
    try:
        response = function(batch=batch, **function_kwargs)
        return batch_response_parser(batch=batch, response=response, column_names=column_names)
    except exceptions as error:
        logging.warning(
            f"Batch function {function.__name__} failed on: {reprlib.repr(batch)} because of error: {error}"
        )
        error_type = qualified_error_type(error)
        output_batch = []
        for _ in batch:
            out = {column_name: "" for column_name in column_names}
            out[column_names.error_message] = str(error)
            out[column_names.error_type] = error_type
            out[column_names.error_raw] = str(error.args)
            output_batch.append(out)
        return output_batch


def extract(
    df: DataFrame,
    function: Callable,
    exceptions: ExceptionSpec,
    column_prefix: str,
    batch_support: bool = DEFAULT_BATCH_SUPPORT,
    batch_size: int = DEFAULT_BATCH_SIZE,
    error_handling: ErrorHandling = ErrorHandling.LOG,
    verbose: bool = DEFAULT_VERBOSE,
    batch_response_parser: Optional[Callable] = None,
    **function_kwargs,
) -> DataFrame:
    """Distributed equivalent of the reference ``parallelizer``
    (python-lib/parallelizer.py:160-250): appends the prefixed, de-collided
    response/error columns to ``df`` by applying ``function`` to every row
    (as a dict) or every batch (as a list of dicts) inside a ``mapInArrow``
    stage.

    Output column rules (reference: python-lib/parallelizer.py:139-156):
    input columns keep their types and order; API columns are appended as
    strings in the order response, error_message, error_type, error_raw;
    ``error_raw`` only under ``verbose``; all error columns dropped under
    ``ErrorHandling.FAIL`` (where any error aborts the job instead).

    The reference's ``parallel_workers`` has no counterpart: parallelism
    is Spark's task scheduling (one partition = one task). Every input
    column crosses into the row-dicts; narrow ``df`` first to keep a wide
    or binary column out of Python.
    """
    if batch_size < 1:
        raise ValueError(f"batch_size must be >= 1, got {batch_size}")
    column_names = build_unique_column_names(df.columns, column_prefix)
    out_cols = api_output_columns(column_names, error_handling, verbose)
    out_schema = StructType(
        list(df.schema.fields) + [StructField(name, StringType(), True) for name in out_cols]
    )
    parser = batch_response_parser or aligned_batch_response_parser
    # Reserved kwargs scrubbing, as in the reference (parallelizer.py:227-230)
    kwargs = dict(function_kwargs)
    for reserved in ("fn", "row", "batch", "batch_response_parser"):
        kwargs.pop(reserved, None)

    def process(record_batches: Iterable[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for rb in record_batches:
            rows = rb.to_pylist()
            if batch_support:
                results: List[Dict] = []
                for start in range(0, len(rows), batch_size):
                    results.extend(
                        guarded_batch_map(
                            function,
                            column_names,
                            rows[start : start + batch_size],
                            parser,
                            exceptions,
                            error_handling,
                            verbose,
                            **kwargs,
                        )
                    )
            else:
                results = [
                    guarded_row_map(
                        function, column_names, row, exceptions, error_handling, verbose, **kwargs
                    )
                    for row in rows
                ]
            arrays = list(rb.columns)
            for name in out_cols:
                arrays.append(pa.array([result.get(name, "") for result in results], type=pa.string()))
            yield pa.RecordBatch.from_arrays(arrays, names=list(rb.schema.names) + list(out_cols))

    return df.mapInArrow(process, out_schema)


def extraction_metrics(df: DataFrame, response_column: str) -> DataFrame:
    """Success/error accounting over an extracted DataFrame — the Spark
    aggregate form of the reference's post-run metrics
    (python-lib/parallelizer.py:242-248): ``num_error`` counts empty-string
    responses, ``num_success`` the rest."""
    return df.agg(
        F.count("*").alias("num_rows"),
        F.sum(F.when(F.col(response_column) == "", 1).otherwise(0)).alias("num_error"),
        F.sum(F.when(F.col(response_column) != "", 1).otherwise(0)).alias("num_success"),
    )
