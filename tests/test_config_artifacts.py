# -*- coding: utf-8 -*-
"""F8 parameter validation boundaries + S6 annotated-artifact overlay/sink."""

import os

import pytest
from pyspark.sql import functions as F

from dss_plugin_google_cloud_vision_spark.config import (
    ParamValidationError,
    SUPPORTED_LANGUAGES,
    validate_params,
)
from dss_plugin_google_cloud_vision_spark.errors import ErrorHandling
from dss_plugin_google_cloud_vision_spark.operators.artifacts import (
    annotated_text_column,
    artifact_name,
    strip_annotations,
    write_annotated_artifacts,
)


def test_validate_params_defaults_pass():
    params = validate_params()
    assert params.batch_size == 10
    assert params.error_handling is ErrorHandling.LOG
    assert params.language_hints == []


@pytest.mark.parametrize(
    "kwargs",
    [
        {"batch_size": 0},
        {"batch_size": 17},
        {"rate_limit": 0},
        {"minimum_score": -0.1},
        {"minimum_score": 1.1},
        {"max_results": 0},
        {"aspect_ratio": 0.05},
        {"aspect_ratio": 10.5},
        {"content_categories": ()},
        {"language": "xx"},
        {"error_handling": "EXPLODE"},
    ],
)
def test_validate_params_rejects_out_of_range(kwargs):
    with pytest.raises(ParamValidationError):
        validate_params(**kwargs)


def test_validate_params_boundaries_and_overrides():
    # boundary values are legal (reference ranges are inclusive)
    params = validate_params(batch_size=16, minimum_score=1.0, aspect_ratio=0.1)
    assert params.batch_size == 16
    # document path forces batch size 1 (plugin_params_loader.py:162-164)
    assert validate_params(batch_size=16, document_path=True).batch_size == 1
    # batching divides the rate limit by batch size (:172-176)
    assert validate_params(rate_limit=1800, batch_size=10, batch_support=True).rate_limit == 180
    # language hint must be supported; custom hints override
    assert validate_params(language="fr").language_hints == ["fr"]
    assert validate_params(language="fr", custom_language_hints="en, de").language_hints == ["en", "de"]
    assert "zh" in SUPPORTED_LANGUAGES and "en" in SUPPORTED_LANGUAGES


def test_annotated_text_column_exact(spark):
    df = spark.createDataFrame(
        [("hello brave world", [("h", 0, 5, 0), ("w", 12, 17, 1)])],
        "text string, spans array<struct<kind:string,start:int,end:int,block_id:int>>",
    )
    out = df.select(annotated_text_column(F.col("text"), F.col("spans")).alias("a")).first()["a"]
    assert out == "[[h#0]]hello[[/]] brave [[w#1]]world[[/]]"
    # markers are insertions only: stripping recovers the text
    stripped = df.select(
        strip_annotations(annotated_text_column(F.col("text"), F.col("spans"))).alias("s")
    ).first()["s"]
    assert stripped == "hello brave world"


def test_annotated_artifacts_round_trip_real_pipeline(spark, tmp_path):
    """Real extraction spans → overlay → executor-side file sink →
    artifacts on disk match the per-url annotated column."""
    from dss_plugin_google_cloud_vision_spark.operators.pages import extract_pages_typed
    from dss_plugin_google_cloud_vision_spark.sources.pages import pages_df

    pages = extract_pages_typed(pages_df(spark, 24, partitions=2)).filter(
        F.col("error_message") == ""
    )
    annotated = pages.select(
        "url",
        "page_number",
        F.col("extracted_text"),
        annotated_text_column(F.col("extracted_text"), F.col("spans")).alias("annotated"),
    ).filter(F.col("page_number").isNull())  # single-page docs: url is unique
    rows = annotated.collect()
    assert len(rows) > 0
    target = str(tmp_path / "artifacts")
    write_annotated_artifacts(annotated, target, "url", "annotated")
    for row in rows:
        path = os.path.join(target, artifact_name(row["url"]))
        with open(path, encoding="utf-8") as handle:
            content = handle.read()
        assert content == row["annotated"]
    # stripping the overlay recovers the extracted text byte-for-byte
    mismatches = annotated.filter(
        strip_annotations(F.col("annotated")) != F.col("extracted_text")
    ).count()
    assert mismatches == 0


def test_language_hint_resource_boundaries():
    """The language hint validates against the full 58-code resource
    (reference language_dict.py parity), including codes the local
    detector cannot identify; unknown codes are rejected."""
    import pytest

    from dss_plugin_google_cloud_vision_spark.config import (
        HINTABLE_LANGUAGES,
        ParamValidationError,
        validate_params,
    )

    assert len(HINTABLE_LANGUAGES) == 58
    assert HINTABLE_LANGUAGES["iw"] == "Hebrew"  # legacy API code kept verbatim
    # hintable even though the detector has no profile for it
    assert validate_params(language="km").language_hints == ["km"]
    assert validate_params(language="en").language_hints == ["en"]
    for bad in ("xx", "EN", "english", "he"):
        with pytest.raises(ParamValidationError, match="Invalid language code"):
            validate_params(language=bad)
    # custom hints override and are not validated (reference behavior)
    params = validate_params(language="en", custom_language_hints="en, xx ,fr")
    assert params.language_hints == ["en", "xx", "fr"]

