# -*- coding: utf-8 -*-
"""Parity tests for the guarded extraction engine.

Mirror of the reference's parallelizer unit suite
(reference: tests/python/unit/test_parallelizer.py:25-93): the same three
cases (success / invalid input / external-API failure) asserting exact
response strings, empty-string sentinels and the module-qualified error
type, plus our additional contract checks: column order (API columns appended
after all input columns, python-lib/plugin_io_utils.py:81-94), error_raw
visibility rules, batch-mode semantics and FAIL mode.
"""

import json

import pytest

from dss_plugin_google_cloud_vision_spark.errors import (
    BatchError,
    ErrorHandling,
    ExternalAPIError,
)
from dss_plugin_google_cloud_vision_spark.naming import (
    build_unique_column_names,
    generate_unique,
)
from dss_plugin_google_cloud_vision_spark.operators.extract import (
    aligned_batch_response_parser,
    extract,
    extraction_metrics,
    guarded_batch_map,
    guarded_row_map,
)

API_EXCEPTIONS = (ExternalAPIError, ValueError)
COLUMN_PREFIX = "test_api"
INPUT_COLUMN = "test_case"

EXPECTED = {
    "SUCCESS": {
        "test_api_response": '{"result": "Great success"}',
        "test_api_error_message": "",
        "test_api_error_type": "",
    },
    "INVALID_INPUT": {
        "test_api_response": "",
        "test_api_error_message": "invalid literal for int() with base 10: 'invalid_integer'",
        "test_api_error_type": "ValueError",
    },
    "API_FAILURE": {
        "test_api_response": "",
        "test_api_error_message": "foo",
        "test_api_error_type": "dss_plugin_google_cloud_vision_spark.errors.ExternalAPIError",
    },
}


def call_mock_api(row, api_function_param=42):
    test_case = row.get(INPUT_COLUMN)
    response = {}
    if test_case == "SUCCESS":
        response = {"result": "Great success"}
    elif test_case == "INVALID_INPUT":
        response = {"result": int(api_function_param)}
    elif test_case == "API_FAILURE":
        raise ExternalAPIError("foo")
    return json.dumps(response)


def call_mock_api_batch(batch, api_function_param=42):
    return [json.loads(call_mock_api(row, api_function_param)) for row in batch]


def _run(spark, case, **kwargs):
    df = spark.createDataFrame([(case,)], [INPUT_COLUMN])
    out = extract(df, call_mock_api, API_EXCEPTIONS, COLUMN_PREFIX, **kwargs)
    return out, out.collect()[0].asDict()


def test_api_success(spark):
    _, row = _run(spark, "SUCCESS")
    for key, value in EXPECTED["SUCCESS"].items():
        assert row[key] == value


def test_api_failure(spark):
    _, row = _run(spark, "API_FAILURE")
    for key, value in EXPECTED["API_FAILURE"].items():
        assert row[key] == value


def test_invalid_input(spark):
    _, row = _run(spark, "INVALID_INPUT", api_function_param="invalid_integer")
    for key, value in EXPECTED["INVALID_INPUT"].items():
        assert row[key] == value


def test_column_order_and_error_raw_visibility(spark):
    out, _ = _run(spark, "SUCCESS")
    assert out.columns == [INPUT_COLUMN, "test_api_response", "test_api_error_message", "test_api_error_type"]
    out_verbose, row = _run(spark, "API_FAILURE", verbose=True)
    assert out_verbose.columns[-1] == "test_api_error_raw"
    assert row["test_api_error_raw"] == "('foo',)"


def test_fail_mode_drops_error_columns_and_raises(spark):
    out, row = _run(spark, "SUCCESS", error_handling=ErrorHandling.FAIL)
    assert out.columns == [INPUT_COLUMN, "test_api_response"]
    assert row["test_api_response"] == EXPECTED["SUCCESS"]["test_api_response"]
    df = spark.createDataFrame([("API_FAILURE",)], [INPUT_COLUMN])
    failing = extract(df, call_mock_api, API_EXCEPTIONS, COLUMN_PREFIX, error_handling=ErrorHandling.FAIL)
    with pytest.raises(Exception):
        failing.collect()


def test_unexpected_exception_propagates(spark):
    # only exceptions in the `exceptions` tuple are captured (reference
    # semantics: parallelizer.py:70 `except exceptions`)
    def boom(row):
        raise KeyError("not in the tuple")

    df = spark.createDataFrame([("X",)], [INPUT_COLUMN])
    out = extract(df, boom, API_EXCEPTIONS, COLUMN_PREFIX)
    with pytest.raises(Exception):
        out.collect()


def test_batch_mode_success_and_row_alignment(spark):
    cases = ["SUCCESS", "API_FAILURE", "SUCCESS", "INVALID_INPUT", "SUCCESS"]
    df = spark.createDataFrame([(c,) for c in cases], [INPUT_COLUMN]).coalesce(1)
    out = extract(
        df,
        call_mock_api_batch,
        API_EXCEPTIONS,
        COLUMN_PREFIX,
        batch_support=True,
        batch_size=2,
        api_function_param="invalid_integer",
    )
    rows = {r[INPUT_COLUMN]: r.asDict() for r in out.collect()}
    assert rows["SUCCESS"]["test_api_response"] == '{"result": "Great success"}'
    # batch-level exception marks every row of the failing batch
    failing_batch_members = [r for r in out.collect() if r["test_api_error_message"] != ""]
    assert len(failing_batch_members) >= 1
    for r in failing_batch_members:
        assert r["test_api_response"] == ""


def test_batch_fail_mode_raises_batch_error(spark):
    def respond_with_error(batch):
        return [{"error": {"message": "quota", "code": 429}} for _ in batch]

    df = spark.createDataFrame([("SUCCESS",)], [INPUT_COLUMN])
    out = extract(
        df,
        respond_with_error,
        API_EXCEPTIONS,
        COLUMN_PREFIX,
        batch_support=True,
        error_handling=ErrorHandling.FAIL,
    )
    with pytest.raises(Exception) as excinfo:
        out.collect()
    assert BatchError.__name__ in str(excinfo.value)


def test_batch_error_dict_parsing(spark):
    def respond_with_error(batch):
        return [{"error": {"message": "quota exceeded", "code": 429}} for _ in batch]

    df = spark.createDataFrame([("SUCCESS",)], [INPUT_COLUMN])
    out = extract(df, respond_with_error, API_EXCEPTIONS, COLUMN_PREFIX, batch_support=True, verbose=True)
    row = out.collect()[0].asDict()
    assert row["test_api_response"] == ""
    assert row["test_api_error_message"] == "quota exceeded"
    assert row["test_api_error_type"] == "429"


def test_unique_naming_collision(spark):
    # input already holding a column named like an output → numeric suffix
    # (reference: plugin_io_utils.py:43-62)
    assert generate_unique("response", ["test_api_response"], "test_api") == "response_1"
    names = build_unique_column_names(["test_api_response", "x"], "test_api")
    assert names.response == "response_1"
    assert names.error_message == "test_api_error_message"
    df = spark.createDataFrame([("SUCCESS", "existing")], [INPUT_COLUMN, "test_api_response"])
    out = extract(df, call_mock_api, API_EXCEPTIONS, COLUMN_PREFIX)
    assert "response_1" in out.columns
    row = out.collect()[0].asDict()
    assert row["test_api_response"] == "existing"
    assert row["response_1"] == '{"result": "Great success"}'


def test_extraction_metrics(spark):
    cases = ["SUCCESS", "API_FAILURE", "SUCCESS"]
    df = spark.createDataFrame([(c,) for c in cases], [INPUT_COLUMN])
    out = extract(df, call_mock_api, API_EXCEPTIONS, COLUMN_PREFIX)
    metrics = extraction_metrics(out, "test_api_response").collect()[0]
    assert metrics["num_rows"] == 3
    assert metrics["num_success"] == 2
    assert metrics["num_error"] == 1


def test_input_types_preserved(spark):
    df = spark.createDataFrame([(1, 2.5, b"abc", "SUCCESS")], ["i", "f", "b", INPUT_COLUMN])
    out = extract(df, call_mock_api, API_EXCEPTIONS, COLUMN_PREFIX)
    schema = {f.name: f.dataType.simpleString() for f in out.schema.fields}
    assert schema["i"] == "bigint"
    assert schema["f"] == "double"
    assert schema["b"] == "binary"
    row = out.collect()[0]
    assert row["i"] == 1 and row["b"] == bytearray(b"abc")


def test_custom_batch_response_parser(spark):
    """X2 surface: a pluggable parser composed into the batch stage
    (reference: parallelizer.py batch_response_parser kwarg)."""

    def shouting_function(batch):
        return [row[INPUT_COLUMN] for row in batch]

    def shouting_parser(batch, response, column_names):
        out = []
        for value in response:
            row = {name: "" for name in column_names}
            row[column_names.response] = str(value).upper()
            out.append(row)
        return out

    df = spark.createDataFrame([("hello",), ("world",)], [INPUT_COLUMN])
    result = extract(
        df,
        shouting_function,
        API_EXCEPTIONS,
        COLUMN_PREFIX,
        batch_support=True,
        batch_response_parser=shouting_parser,
    )
    values = {r[INPUT_COLUMN]: r["test_api_response"] for r in result.collect()}
    assert values == {"hello": "HELLO", "world": "WORLD"}


def test_verbose_error_raw_byte_parity_row_mode(spark):
    """Verbose row-mode error_raw must be byte-equal to the reference's
    ``str(error.args)`` (parallelizer.py:77) for both a single-arg and a
    multi-arg exception."""
    def failing(row, **kwargs):
        if row[INPUT_COLUMN] == "MULTI":
            raise ExternalAPIError("foo", 503, {"reason": "quota"})
        raise ValueError("bad input")

    df = spark.createDataFrame([("MULTI",), ("SINGLE",)], f"{INPUT_COLUMN} string")
    out = extract(df, failing, API_EXCEPTIONS, COLUMN_PREFIX, verbose=True)
    rows = {r[INPUT_COLUMN]: r.asDict() for r in out.collect()}
    # str(error.args) — reference coerces via astype(str) so tuple repr verbatim
    assert rows["MULTI"]["test_api_error_raw"] == str(("foo", 503, {"reason": "quota"}))
    assert rows["MULTI"]["test_api_error_raw"] == "('foo', 503, {'reason': 'quota'})"
    assert rows["SINGLE"]["test_api_error_raw"] == "('bad input',)"


def test_verbose_error_raw_byte_parity_batch_api_error_dict(spark):
    """Verbose batch-mode error_raw for an API-level error dict must be
    byte-equal to the reference's behavior: the raw dict is stored
    (google_vision_api_client.py:76) and the column materializes as its
    str() via the astype(str) coercion (parallelizer.py:145-150); the code
    lands in error_type as its str()."""
    error_dict = {"code": 400, "message": "Invalid image content", "status": "INVALID_ARGUMENT"}

    def batch_fn(batch, **kwargs):
        return [
            {"error": error_dict} if row[INPUT_COLUMN] == "BAD" else {"ok": row[INPUT_COLUMN]}
            for row in batch
        ]

    df = spark.createDataFrame([("GOOD",), ("BAD",)], f"{INPUT_COLUMN} string")
    out = extract(
        df, batch_fn, API_EXCEPTIONS, COLUMN_PREFIX,
        batch_support=True, batch_size=4, verbose=True,
    )
    rows = {r[INPUT_COLUMN]: r.asDict() for r in out.collect()}
    assert rows["BAD"]["test_api_error_raw"] == str(error_dict)
    assert (
        rows["BAD"]["test_api_error_raw"]
        == "{'code': 400, 'message': 'Invalid image content', 'status': 'INVALID_ARGUMENT'}"
    )
    assert rows["BAD"]["test_api_error_type"] == "400"
    assert rows["BAD"]["test_api_error_message"] == "Invalid image content"
    assert rows["GOOD"]["test_api_error_raw"] == ""
    assert rows["GOOD"]["test_api_response"] == json.dumps({"ok": "GOOD"})


def test_verbose_error_raw_byte_parity_batch_exception(spark):
    """Verbose batch-mode error_raw for a batch-LEVEL exception must be
    ``str(error.args)`` on every row of the batch (parallelizer.py:123)."""
    def batch_fn(batch, **kwargs):
        raise ExternalAPIError("service unavailable", 503)

    df = spark.createDataFrame([("A",), ("B",), ("C",)], f"{INPUT_COLUMN} string").coalesce(1)
    out = extract(
        df, batch_fn, API_EXCEPTIONS, COLUMN_PREFIX,
        batch_support=True, batch_size=10, verbose=True,
    )
    for row in out.collect():
        assert row["test_api_error_raw"] == "('service unavailable', 503)"
        assert (
            row["test_api_error_type"]
            == "dss_plugin_google_cloud_vision_spark.errors.ExternalAPIError"
        )


def test_failure_log_line_is_bounded(caplog):
    """A failing row's warning names the function and the error but not
    the whole row: a 100 KB text cell must not reach the log. The error
    columns keep the full, untruncated values."""
    column_names = build_unique_column_names([INPUT_COLUMN, "text"], COLUMN_PREFIX)
    row = {INPUT_COLUMN: "API_FAILURE", "text": "x" * 100_000}
    with caplog.at_level("WARNING"):
        out = guarded_row_map(call_mock_api, column_names, row, API_EXCEPTIONS, verbose=True)
    [record] = caplog.records
    message = record.getMessage()
    assert len(message) < 1024
    assert "call_mock_api" in message and "foo" in message
    assert out[column_names.error_message] == "foo"
    assert out[column_names.error_raw] == "('foo',)"

    caplog.clear()
    with caplog.at_level("WARNING"):
        guarded_batch_map(
            call_mock_api_batch,
            column_names,
            [row] * 20,
            aligned_batch_response_parser,
            API_EXCEPTIONS,
        )
    [record] = caplog.records
    assert len(record.getMessage()) < 1024
    assert "call_mock_api_batch" in record.getMessage()
