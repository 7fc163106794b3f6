# -*- coding: utf-8 -*-
"""Canonical extraction-response JSON: the local analogue of the Vision
API's ``fullTextAnnotation`` response.

The extraction stage emits, per page, a JSON document mirroring the shape
the reference formatters consume (reference:
python-lib/google_vision_api_formatting.py:264-301 reads
``fullTextAnnotation.text``, ``fullTextAnnotation.pages[0].property.
detectedLanguages`` and the page→block hierarchy), so our formatter
projections keep the reference's parsing semantics. Pixel bounding boxes
become character spans.

Serialization is deterministic: fixed key insertion order, ``ensure_ascii``
False, compact separators — the byte-identity surface depends on it.
"""

from __future__ import annotations

import json
from typing import List, Tuple

# (kind, start, end, block_id) — offsets into the page's extracted text
Span = Tuple[str, int, int, int]

# Spark-side schema for parsing the response column (used by formatters)
RESPONSE_DDL = (
    "struct<fullTextAnnotation: struct<"
    "text: string, "
    "pages: array<struct<"
    "property: struct<detectedLanguages: array<struct<languageCode: string, confidence: double>>>, "
    "blocks: array<struct<blockType: string, blockId: int, charSpan: struct<start: int, end: int>>>"
    ">>"
    ">>"
)


def build_page_response(
    text: str,
    spans: List[Span],
    language_code: str,
    language_confidence: float,
) -> str:
    """Serialize one page's extraction result."""
    detected = []
    if language_code:
        detected.append({"languageCode": language_code, "confidence": language_confidence})
    blocks = [
        {"blockType": kind, "blockId": block_id, "charSpan": {"start": start, "end": end}}
        for (kind, start, end, block_id) in spans
    ]
    payload = {
        "fullTextAnnotation": {
            "text": text,
            "pages": [{"property": {"detectedLanguages": detected}, "blocks": blocks}],
        }
    }
    return json.dumps(payload, ensure_ascii=False, separators=(", ", ": "))
