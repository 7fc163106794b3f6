# -*- coding: utf-8 -*-
"""Response-formatter projections as Spark column-expression builders.

Each reference formatter class (reference:
python-lib/google_vision_api_formatting.py — row-at-a-time
``df.apply(format_row, axis=1)``) becomes a pure projection over the JSON
``response`` column using ``from_json`` + higher-order array functions:
entirely JVM-side / whole-stage-codegen, no Python in the hot path.

Semantics reproduced exactly (and deviations documented):

- **Lenient JSON parse**: ``from_json`` yields null on malformed input —
  the ``safe_json_loads`` → ``{}`` → empty outputs behavior
  (reference: python-lib/plugin_io_utils.py:65-78).
- **Text detection** (reference :264-282): ``detections_concat`` =
  ``fullTextAnnotation.text`` (default ""); ``language_code`` /
  ``language_score`` = argmax-confidence entry of page 0's
  ``detectedLanguages`` with the reference's stable tie-break (first wins).
- **Content lists** (reference :117-192): filter ``score >=
  minimum_score``, sort score-desc (stable), keep truthy names, cap at
  ``max_results``. NOTE the reference has an operator-precedence bug — it
  filters/sorts only when ``score_key`` is *falsy* (:131-136), i.e. scored
  categories are returned unfiltered and unsorted; we implement the
  *intended* behavior (see ``_stable_top_names``).
- **Empty sentinel deviation**: the reference stores ``""`` for an empty
  list and a Python list otherwise (mixed-type pandas column); Spark
  columns are uniformly ``array<string>`` — empty list instead of ``""``
  (normalization noted in SURVEY.md §1.2).
- **Web matches** (reference :163-191): ``web_label`` is the first
  best-guess label as a plain string ("" default); full-matching and
  similar-image lists drop ``x-raw-image:///`` urls AFTER the top-k cap,
  exactly as the reference does.
- **Unsafe content** (reference :432-457): five ``*_likelihood`` string
  columns from ``safeSearchAnnotation`` ("" default).
- **Crop hints** (reference :460-486): first hint's ``confidence`` /
  ``importanceFraction`` (null default).
- **Unique naming + ordering**: output names via ``generate_unique``
  against the input columns; ``move_api_columns_to_end`` puts the raw
  API columns last (reference: python-lib/plugin_io_utils.py:81-94).
"""

from __future__ import annotations

from typing import Dict, List, NamedTuple, Optional, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..errors import ErrorHandling
from ..naming import generate_unique

# One schema covering every annotation family the formatters project.
VISION_RESPONSE_DDL = (
    "struct<"
    "fullTextAnnotation: struct<"
    "  text: string,"
    "  pages: array<struct<"
    "    property: struct<detectedLanguages: array<struct<languageCode: string, confidence: double>>>,"
    "    blocks: array<struct<blockType: string, blockId: int, charSpan: struct<start: int, end: int>>>"
    "  >>"
    ">,"
    "labelAnnotations: array<struct<description: string, score: double>>,"
    "localizedObjectAnnotations: array<struct<name: string, score: double>>,"
    "landmarkAnnotations: array<struct<description: string, score: double>>,"
    "logoAnnotations: array<struct<description: string, score: double>>,"
    "webDetection: struct<"
    "  bestGuessLabels: array<struct<label: string>>,"
    "  webEntities: array<struct<description: string, score: double>>,"
    "  fullMatchingImages: array<struct<url: string>>,"
    "  partialMatchingImages: array<struct<url: string>>,"
    "  pagesWithMatchingImages: array<struct<url: string>>,"
    "  visuallySimilarImages: array<struct<url: string>>"
    ">,"
    "safeSearchAnnotation: struct<adult: string, spoof: string, medical: string, violence: string, racy: string>,"
    "cropHintsAnnotation: struct<cropHints: array<struct<confidence: double, importanceFraction: double>>>"
    ">"
)

UNSAFE_CATEGORIES = ("adult", "spoof", "medical", "violence", "racy")

CONTENT_CATEGORIES = {
    # category -> (response field, name subfield)
    "label": ("labelAnnotations", "description"),
    "object": ("localizedObjectAnnotations", "name"),
    "landmark": ("landmarkAnnotations", "description"),
    "logo": ("logoAnnotations", "description"),
}


def parse_response(response_col: str) -> Column:
    return F.from_json(F.col(response_col), VISION_RESPONSE_DDL)


def _stable_top_names(
    items: Column,
    score_field: Optional[str],
    name_field: str,
    minimum_score: float,
    max_results: int,
) -> Column:
    """filter(score>=min) → stable sort score-desc → truthy names → cap.

    Stability is the reference's ``sorted(..., reverse=True)`` guarantee:
    equal scores keep input order — reproduced by sorting (−score, index)
    structs lexicographically.

    NOTE the reference applies the filter+sort only when ``score_key`` is
    falsy (google_vision_api_formatting.py:131-136, an operator-precedence
    bug): there, scored categories come back in raw response order with no
    min-score filter. This is the intended behavior instead.
    """
    items = F.coalesce(items, F.array())
    if score_field is not None:
        filtered = F.filter(
            items, lambda x: F.coalesce(x[score_field], F.lit(0.0)) >= F.lit(float(minimum_score))
        )
        indexed = F.transform(
            filtered,
            lambda x, i: F.struct(
                (-F.coalesce(x[score_field], F.lit(0.0))).alias("negscore"),
                i.alias("idx"),
                x[name_field].alias("name"),
            ),
        )
        ordered = F.transform(F.array_sort(indexed), lambda s: s["name"])
    else:
        ordered = F.transform(items, lambda x: x[name_field])
    truthy = F.filter(ordered, lambda name: name.isNotNull() & (name != F.lit("")))
    return F.slice(truthy, 1, max_results)


def _argmax_language(parsed: Column) -> Column:
    """Page-0 detected language with max confidence, first-wins tie-break
    (reference: google_vision_api_formatting.py:272-281)."""
    languages = F.coalesce(
        F.try_element_at(parsed["fullTextAnnotation"]["pages"], F.lit(1))["property"]["detectedLanguages"],
        F.array(),
    )
    indexed = F.transform(
        languages,
        lambda x, i: F.struct(
            (-F.coalesce(x["confidence"], F.lit(0.0))).alias("negconf"),
            i.alias("idx"),
            x["languageCode"].alias("languageCode"),
            x["confidence"].alias("confidence"),
        ),
    )
    return F.try_element_at(F.array_sort(indexed), F.lit(1))


class FormatterResult(NamedTuple):
    df: DataFrame
    output_columns: List[str]
    column_descriptions: Dict[str, str]


def format_text_detection(
    df: DataFrame,
    response_column: str,
    column_prefix: str = "text_api",
    include_spans: bool = True,
) -> FormatterResult:
    """``detections_concat`` / ``language_code`` / ``language_score``
    (+ our char-span flatten, the P9 hierarchy analogue)."""
    existing = list(df.columns)
    text_col = generate_unique("detections_concat", existing, column_prefix)
    lang_col = generate_unique("language_code", existing, column_prefix)
    score_col = generate_unique("language_score", existing, column_prefix)
    parsed = parse_response(response_column)
    best = _argmax_language(parsed)
    out = df.withColumns(
        {
            text_col: F.coalesce(parsed["fullTextAnnotation"]["text"], F.lit("")),
            lang_col: F.coalesce(best["languageCode"], F.lit("")),
            score_col: best["confidence"].cast("double"),
        }
    )
    output_columns = [text_col, lang_col, score_col]
    descriptions = {
        text_col: "Concatenated text detections from the extractor",
        lang_col: "Detected language code",
        score_col: "Confidence score in the detected language from 0 to 1",
    }
    if include_spans:
        spans_col = generate_unique("spans", existing, column_prefix)
        spans = F.flatten(
            F.transform(
                F.coalesce(parsed["fullTextAnnotation"]["pages"], F.array()),
                lambda p: F.coalesce(p["blocks"], F.array()),
            )
        )
        out = out.withColumn(spans_col, spans)
        output_columns.append(spans_col)
        descriptions[spans_col] = "Character spans of extracted blocks (kind, id, start, end)"
    return FormatterResult(out, output_columns, descriptions)


def format_content_detection(
    df: DataFrame,
    response_column: str,
    column_prefix: str = "content_api",
    content_categories: Sequence[str] = ("label", "object", "landmark", "logo", "web"),
    minimum_score: float = 0.0,
    max_results: int = 10,
) -> FormatterResult:
    """Top-k content lists per category + web-detection family."""
    existing = list(df.columns)
    parsed = parse_response(response_column)
    new_columns: Dict[str, Column] = {}
    descriptions: Dict[str, str] = {}
    for category in content_categories:
        if category == "web":
            continue
        field, name_key = CONTENT_CATEGORIES[category]
        col_name = generate_unique(f"{category}_list", existing, column_prefix)
        new_columns[col_name] = _stable_top_names(
            parsed[field], "score", name_key, minimum_score, max_results
        )
        descriptions[col_name] = f"List of {category}s from the extractor"
    if "web" in content_categories:
        web = parsed["webDetection"]
        label_col = generate_unique("web_label", existing, column_prefix)
        new_columns[label_col] = F.coalesce(
            F.try_element_at(
                _stable_top_names(
                    web["bestGuessLabels"], None, "label", minimum_score, max_results
                ),
                F.lit(1),
            ),
            F.lit(""),
        )
        descriptions[label_col] = "Best-guess web label"
        entity_col = generate_unique("web_entity_list", existing, column_prefix)
        new_columns[entity_col] = _stable_top_names(
            web["webEntities"], "score", "description", minimum_score, max_results
        )
        descriptions[entity_col] = "List of web entities"
        full_col = generate_unique("web_full_matching_image_list", existing, column_prefix)
        new_columns[full_col] = F.filter(
            _stable_top_names(
                web["fullMatchingImages"], None, "url", minimum_score, max_results
            ),
            lambda u: ~u.contains("x-raw-image:///"),
        )
        descriptions[full_col] = "Web images fully matching the input"
        partial_col = generate_unique("web_partial_matching_image_list", existing, column_prefix)
        new_columns[partial_col] = _stable_top_names(
            web["partialMatchingImages"], None, "url", minimum_score, max_results
        )
        descriptions[partial_col] = "Web images partially matching the input"
        pages_col = generate_unique("web_page_match_list", existing, column_prefix)
        new_columns[pages_col] = _stable_top_names(
            web["pagesWithMatchingImages"], None, "url", minimum_score, max_results
        )
        descriptions[pages_col] = "Web pages with matching images"
        similar_col = generate_unique("web_similar_image_list", existing, column_prefix)
        new_columns[similar_col] = F.filter(
            _stable_top_names(
                web["visuallySimilarImages"], None, "url", minimum_score, max_results
            ),
            lambda u: ~u.contains("x-raw-image:///"),
        )
        descriptions[similar_col] = "Visually similar web images"
    out = df.withColumns(new_columns)
    return FormatterResult(out, list(new_columns.keys()), descriptions)


def format_unsafe_content(
    df: DataFrame,
    response_column: str,
    column_prefix: str = "moderation_api",
    categories: Sequence[str] = UNSAFE_CATEGORIES,
) -> FormatterResult:
    existing = list(df.columns)
    parsed = parse_response(response_column)
    new_columns: Dict[str, Column] = {}
    descriptions: Dict[str, str] = {}
    for category in categories:
        col_name = generate_unique(f"{category}_likelihood", existing, column_prefix)
        new_columns[col_name] = F.coalesce(parsed["safeSearchAnnotation"][category], F.lit(""))
        descriptions[col_name] = (
            f"Likelihood of category '{category}' from 1 (VERY_UNLIKELY) to 5 (VERY_LIKELY)"
        )
    out = df.withColumns(new_columns)
    return FormatterResult(out, list(new_columns.keys()), descriptions)


def format_crop_hints(
    df: DataFrame,
    response_column: str,
    column_prefix: str = "crop_api",
) -> FormatterResult:
    existing = list(df.columns)
    parsed = parse_response(response_column)
    first_hint = F.try_element_at(parsed["cropHintsAnnotation"]["cropHints"], F.lit(1))
    score_col = generate_unique("score", existing, column_prefix)
    importance_col = generate_unique("importance_fraction", existing, column_prefix)
    out = df.withColumns(
        {
            score_col: first_hint["confidence"].cast("double"),
            importance_col: first_hint["importanceFraction"].cast("double"),
        }
    )
    return FormatterResult(
        out,
        [score_col, importance_col],
        {
            score_col: "Confidence score in the crop hint from 0 to 1",
            importance_col: "Importance of the crop hint from 0 to 1",
        },
    )


def span_envelope_columns(spans: Column, text_length: Column) -> Dict[str, Column]:
    """F6 — the char-span analogue of the reference's bounding-box
    envelope math (google_vision_api_formatting.py:218-227 takes min/max
    over the 4 polygon vertices; :504-514 the normalized variant): the
    envelope of a span array is (min start, max end), absolute, plus the
    normalized coverage as an exact milli ratio (the reference's
    normalized-coordinate form without float hazards).

    Null/empty span arrays yield null envelope fields (the reference
    returns None for missing polygons)."""
    spans = F.coalesce(spans, F.array())
    start = F.array_min(F.transform(spans, lambda s: s["start"]))
    end = F.array_max(F.transform(spans, lambda s: s["end"]))
    # floor, not round: DuckDB and Spark round() disagree on ties
    coverage = F.when(
        text_length > 0, F.floor((end - start) * 1000 / text_length).cast("bigint")
    )
    return {
        "envelope_start": start,
        "envelope_end": end,
        "envelope_coverage_milli": coverage,
    }


def move_api_columns_to_end(
    df: DataFrame,
    api_column_names: NamedTuple,
    error_handling: ErrorHandling = ErrorHandling.LOG,
) -> DataFrame:
    """Reorder so the raw API columns come last; under FAIL drop the
    error_message/error_type columns; drop error_raw unless present
    (reference: python-lib/plugin_io_utils.py:81-94)."""
    api_dict = api_column_names._asdict()
    if error_handling == ErrorHandling.FAIL:
        api_dict.pop("error_message", None)
        api_dict.pop("error_type", None)
    if not any("error_raw" in column for column in df.columns):
        api_dict.pop("error_raw", None)
    api_columns = [c for c in api_dict.values() if c in df.columns]
    data_columns = [c for c in df.columns if c not in api_columns]
    return df.select(*data_columns, *api_columns)


def with_column_descriptions(df: DataFrame, descriptions: Dict[str, str]) -> DataFrame:
    """Attach per-column comments as Spark column metadata — the engine's
    analogue of the reference's dataset schema descriptions
    (reference: python-lib/dku_io_utils.py:48-79). When writing to Iceberg
    these become column COMMENTs; on parquet they survive in the schema
    metadata of the session."""
    return df.select(
        *[
            F.col(c).alias(c, metadata={"comment": descriptions[c]}) if c in descriptions else F.col(c)
            for c in df.columns
        ]
    )


def merge_column_descriptions(
    output_descriptions: Dict[str, str], input_descriptions: Dict[str, str]
) -> Dict[str, str]:
    """Input dataset's descriptions win on name match
    (reference: dku_io_utils.py:71-78)."""
    merged = dict(output_descriptions)
    merged.update({k: v for k, v in input_descriptions.items() if v})
    return merged
