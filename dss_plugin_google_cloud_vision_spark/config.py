# -*- coding: utf-8 -*-
"""Job-parameter validation (the F8 layer) and the supported-language
resource.

Mirrors the reference's ``PluginParamsLoader`` validation contract
(reference: python-lib/plugin_params_loader.py:150-238) — same ranges,
same forced overrides, same quota math — re-expressed as a plain function
validating the engine's job config before any Spark plan is built.
Validation failures raise ``ParamValidationError`` (the analogue of the
reference's ``PluginParamValidationError``, plugin_params_loader.py:24-27)
at submit time, never inside executors.
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field
from typing import Dict, List, Optional, Sequence

from .errors import ErrorHandling
from .functions.langid import LANG_STOPWORDS

# The full UI-facing hint resource (reference language_dict.py parity —
# 58 codes): what the ``language`` parameter validates against.
from .functions.language_dict import SUPPORTED_LANGUAGES as HINTABLE_LANGUAGES  # noqa: E402

# Languages the engine can actually DETECT (stopword profiles + script
# ranges in functions/langid.py) — narrower than HINTABLE_LANGUAGES; kept
# separate so detection coverage stays honest.
SUPPORTED_LANGUAGES: Dict[str, str] = {
    **{
        code: name
        for code, name in {
            "en": "English",
            "fr": "French",
            "de": "German",
            "es": "Spanish",
            "it": "Italian",
            "pt": "Portuguese",
            "nl": "Dutch",
            "sv": "Swedish",
            "tr": "Turkish",
            "id": "Indonesian",
        }.items()
        if code in LANG_STOPWORDS
    },
    # script-range detections (functions/langid.py SCRIPT_RANGES)
    "zh": "Chinese",
    "ja": "Japanese",
    "ko": "Korean",
    "ar": "Arabic",
    "ru": "Russian",
    "el": "Greek",
    "iw": "Hebrew",
    "hi": "Hindi",
    "th": "Thai",
}


class ParamValidationError(ValueError):
    """Invalid job parameters (reference: plugin_params_loader.py:24-27)."""


@dataclass
class ExtractionJobParams:
    """Validated engine job parameters."""

    batch_size: int = 10
    rate_limit: int = 1800
    error_handling: ErrorHandling = ErrorHandling.LOG
    minimum_score: float = 0.0
    max_results: int = 10
    aspect_ratio: Optional[float] = None
    content_categories: Sequence[str] = ("label",)
    language_hints: List[str] = field(default_factory=list)


def validate_params(
    *,
    batch_size: int = 10,
    rate_limit: int = 1800,
    error_handling: str = "LOG",
    minimum_score: float = 0.0,
    max_results: int = 10,
    aspect_ratio: Optional[float] = None,
    content_categories: Sequence[str] = ("label",),
    language: str = "",
    custom_language_hints: str = "",
    document_path: bool = False,
    batch_support: bool = False,
) -> ExtractionJobParams:
    """Validate and normalize job parameters.

    Ranges and overrides mirror the reference exactly:
    - batch size 1..16, forced to 1 on the document path
      (plugin_params_loader.py:157-164)
    - rate limit >= 1; rate divided by batch size when batching
      (:148-176)
    - minimum score 0..1 (:196-199), max results >= 1 (:209-212),
      aspect ratio 0.1..10 (:236-239)
    - at least one content category (:202-207)
    - language must be supported or empty (:215-218); custom hints
      override, split on commas with spaces removed (:220-223)
    """
    batch_size = int(batch_size)
    if batch_size < 1 or batch_size > 16:
        raise ParamValidationError("Batch size must be between 1 and 16")
    if document_path:
        batch_size = 1
    rate_limit = int(rate_limit)
    if rate_limit < 1:
        raise ParamValidationError("Rate limit must be greater than 1")
    if batch_support:
        rate_limit = max(1, math.floor(rate_limit / batch_size))
    try:
        handling = ErrorHandling[error_handling] if isinstance(error_handling, str) else error_handling
    except KeyError:
        raise ParamValidationError(f"Invalid error handling mode: {error_handling}") from None
    minimum_score = float(minimum_score)
    if minimum_score < 0.0 or minimum_score > 1.0:
        raise ParamValidationError("Minimum score must be between 0 and 1")
    max_results = int(max_results)
    if max_results < 1:
        raise ParamValidationError("Number of results must be greater than 1")
    if aspect_ratio is not None:
        aspect_ratio = float(aspect_ratio)
        if aspect_ratio < 0.1 or aspect_ratio > 10:
            raise ParamValidationError("Aspect ratio must be between 0.1 and 10")
    if len(content_categories) == 0:
        raise ParamValidationError("Please select at least one content category")
    language_hints: List[str] = []
    if language:
        # validated against the full hint resource (reference
        # language_dict.py:4-63), not just the detector's coverage
        if language not in HINTABLE_LANGUAGES:
            raise ParamValidationError(f"Invalid language code: {language}")
        language_hints = [language]
    if custom_language_hints:
        language_hints = [h for h in str(custom_language_hints).replace(" ", "").split(",") if h]
    return ExtractionJobParams(
        batch_size=batch_size,
        rate_limit=rate_limit,
        error_handling=handling,
        minimum_score=minimum_score,
        max_results=max_results,
        aspect_ratio=aspect_ratio,
        content_categories=tuple(content_categories),
        language_hints=language_hints,
    )
