# -*- coding: utf-8 -*-
"""Formatter-projection tests (FIXTURES.md §3): hand-written response JSON
with inline expected values mirroring the reference formatter behavior
(reference: python-lib/google_vision_api_formatting.py)."""

import json

from pyspark.sql import functions as F

from dss_plugin_google_cloud_vision_spark.errors import ErrorHandling
from dss_plugin_google_cloud_vision_spark.naming import build_unique_column_names
from dss_plugin_google_cloud_vision_spark.operators.formatters import (
    format_content_detection,
    format_crop_hints,
    format_text_detection,
    format_unsafe_content,
    merge_column_descriptions,
    move_api_columns_to_end,
    with_column_descriptions,
)


def _df(spark, *responses):
    return spark.createDataFrame([(i, r) for i, r in enumerate(responses)], "id int, response string")


TEXT_RESPONSE = json.dumps(
    {
        "fullTextAnnotation": {
            "text": "Bonjour le monde",
            "pages": [
                {
                    "property": {
                        "detectedLanguages": [
                            {"languageCode": "en", "confidence": 0.2},
                            {"languageCode": "fr", "confidence": 0.9},
                            {"languageCode": "de", "confidence": 0.9},
                        ]
                    },
                    "blocks": [
                        {"blockType": "paragraph", "blockId": 0, "charSpan": {"start": 0, "end": 16}}
                    ],
                }
            ],
        }
    }
)


def test_text_detection_argmax_and_tie_break(spark):
    result = format_text_detection(_df(spark, TEXT_RESPONSE), "response")
    row = result.df.collect()[0]
    assert row["text_api_detections_concat"] == "Bonjour le monde"
    # fr and de tie at 0.9 → stable sort keeps fr (first in input order)
    assert row["text_api_language_code"] == "fr"
    assert row["text_api_language_score"] == 0.9
    assert row["text_api_spans"][0]["charSpan"]["start"] == 0


def test_text_detection_malformed_and_empty(spark):
    result = format_text_detection(_df(spark, "not json", "", None, "{}"), "response")
    for row in result.df.collect():
        assert row["text_api_detections_concat"] == ""
        assert row["text_api_language_code"] == ""
        assert row["text_api_language_score"] is None


LABELS_RESPONSE = json.dumps(
    {
        "labelAnnotations": [
            {"description": "cat", "score": 0.5},
            {"description": "dog", "score": 0.9},
            {"description": "low", "score": 0.1},
            {"description": "", "score": 0.95},
            {"description": "bird", "score": 0.7},
        ]
    }
)


def test_content_list_top_k_filter_sort(spark):
    result = format_content_detection(
        _df(spark, LABELS_RESPONSE),
        "response",
        content_categories=("label",),
        minimum_score=0.3,
        max_results=2,
    )
    row = result.df.collect()[0]
    # 0.1 filtered out, empty name dropped, sorted desc, capped at 2
    assert row["content_api_label_list"] == ["dog", "bird"]


WEB_RESPONSE = json.dumps(
    {
        "webDetection": {
            "bestGuessLabels": [{"label": "sunset"}, {"label": "other"}],
            "webEntities": [
                {"description": "beach", "score": 1.2},
                {"description": "sun", "score": 3.4},
            ],
            "fullMatchingImages": [
                {"url": "x-raw-image:///abc"},
                {"url": "https://a.example/1.jpg"},
            ],
            "partialMatchingImages": [{"url": "https://b.example/2.jpg"}],
            "pagesWithMatchingImages": [{"url": "https://c.example/page"}],
            "visuallySimilarImages": [
                {"url": "https://d.example/3.jpg"},
                {"url": "x-raw-image:///def"},
            ],
        }
    }
)


def test_web_detection_family(spark):
    result = format_content_detection(
        _df(spark, WEB_RESPONSE), "response", content_categories=("web",)
    )
    row = result.df.collect()[0]
    assert row["content_api_web_label"] == "sunset"
    assert row["content_api_web_entity_list"] == ["sun", "beach"]
    assert row["content_api_web_full_matching_image_list"] == ["https://a.example/1.jpg"]
    assert row["content_api_web_partial_matching_image_list"] == ["https://b.example/2.jpg"]
    assert row["content_api_web_page_match_list"] == ["https://c.example/page"]
    assert row["content_api_web_similar_image_list"] == ["https://d.example/3.jpg"]


def test_web_empty_label_sentinel(spark):
    result = format_content_detection(_df(spark, "{}"), "response", content_categories=("web",))
    row = result.df.collect()[0]
    assert row["content_api_web_label"] == ""
    assert row["content_api_web_entity_list"] == []


UNSAFE_RESPONSE = json.dumps(
    {"safeSearchAnnotation": {"adult": "VERY_UNLIKELY", "violence": "POSSIBLE"}}
)


def test_unsafe_content(spark):
    result = format_unsafe_content(_df(spark, UNSAFE_RESPONSE), "response")
    row = result.df.collect()[0]
    assert row["moderation_api_adult_likelihood"] == "VERY_UNLIKELY"
    assert row["moderation_api_violence_likelihood"] == "POSSIBLE"
    assert row["moderation_api_racy_likelihood"] == ""
    assert result.output_columns == [
        f"moderation_api_{c}_likelihood" for c in ("adult", "spoof", "medical", "violence", "racy")
    ]


CROP_RESPONSE = json.dumps(
    {
        "cropHintsAnnotation": {
            "cropHints": [
                {"confidence": 0.8, "importanceFraction": 0.6},
                {"confidence": 0.5, "importanceFraction": 0.2},
            ]
        }
    }
)


def test_crop_hints_first_only(spark):
    result = format_crop_hints(_df(spark, CROP_RESPONSE, "{}"), "response")
    rows = {r["id"]: r for r in result.df.collect()}
    assert rows[0]["crop_api_score"] == 0.8
    assert rows[0]["crop_api_importance_fraction"] == 0.6
    assert rows[1]["crop_api_score"] is None


def test_name_collision_suffixing(spark):
    df = spark.createDataFrame(
        [(TEXT_RESPONSE, "occupied")], "response string, text_api_detections_concat string"
    )
    result = format_text_detection(df, "response")
    assert "detections_concat_1" in result.df.columns
    row = result.df.collect()[0]
    assert row["text_api_detections_concat"] == "occupied"
    assert row["detections_concat_1"] == "Bonjour le monde"


def test_move_api_columns_to_end(spark):
    names = build_unique_column_names(["id"], "api")
    df = spark.createDataFrame(
        [(1, "r", "m", "t", "raw", "x")],
        ["id", names.response, names.error_message, names.error_type, names.error_raw, "data"],
    )
    reordered = move_api_columns_to_end(df, names)
    assert reordered.columns == ["id", "data", names.response, names.error_message, names.error_type, names.error_raw]
    fail_mode = move_api_columns_to_end(df.drop(names.error_raw), names, ErrorHandling.FAIL)
    assert fail_mode.columns == ["id", names.error_message, names.error_type, "data", names.response]


def test_column_descriptions_roundtrip(spark):
    df = spark.createDataFrame([(1,)], ["id"])
    described = with_column_descriptions(df, {"id": "row identifier"})
    assert described.schema["id"].metadata["comment"] == "row identifier"
    merged = merge_column_descriptions({"a": "out", "b": "out"}, {"b": "in"})
    assert merged == {"a": "out", "b": "in"}


def test_formatter_plan_is_codegen_only(spark):
    """The projection must stay JVM-side: no BatchEvalPython / pythonUDF
    nodes in the plan."""
    result = format_text_detection(_df(spark, TEXT_RESPONSE), "response")
    plan = result.df._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan, plan


def test_span_envelope_columns(spark):
    from dss_plugin_google_cloud_vision_spark.operators.formatters import span_envelope_columns

    df = spark.createDataFrame(
        [
            ("hello brave world", [("h", 2, 5, 0), ("w", 12, 17, 1)]),
            ("x", []),
            (None, None),
        ],
        "text string, spans array<struct<kind:string,start:int,end:int,block_id:int>>",
    )
    env = span_envelope_columns(F.col("spans"), F.length("text"))
    rows = df.select(
        env["envelope_start"].alias("s"),
        env["envelope_end"].alias("e"),
        env["envelope_coverage_milli"].alias("c"),
    ).collect()
    assert (rows[0]["s"], rows[0]["e"]) == (2, 17)
    assert rows[0]["c"] == (17 - 2) * 1000 // 17
    # empty / null span arrays → null envelope (reference returns None for
    # missing polygons)
    assert rows[1]["s"] is None and rows[1]["c"] is None
    assert rows[2]["s"] is None and rows[2]["c"] is None
