# -*- coding: utf-8 -*-
"""Deterministic, collision-free output column naming.

Re-implements the unique-naming semantics of the reference
(reference: python-lib/plugin_io_utils.py:17-62): every enrichment stage
appends four string columns — ``response``, ``error_message``,
``error_type``, ``error_raw`` — prefixed by the stage's column prefix, with
``_1.._1000`` numeric suffixing on collision against existing columns.
"""

from __future__ import annotations

from collections import OrderedDict, namedtuple
from typing import List, NamedTuple, Sequence

API_COLUMN_NAMES_DESCRIPTION_DICT = OrderedDict(
    [
        ("response", "Raw response from the extraction stage in JSON format"),
        ("error_message", "Error message from the extraction stage"),
        ("error_type", "Error type or code from the extraction stage"),
        ("error_raw", "Raw error from the extraction stage"),
    ]
)

ApiColumnNameTuple = namedtuple("ApiColumnNameTuple", API_COLUMN_NAMES_DESCRIPTION_DICT.keys())


def generate_unique(name: str, existing_names: Sequence[str], prefix: str = "") -> str:
    """Generate a unique name among ``existing_names`` by prefixing and, on
    collision, suffixing ``_1.._1000``  (reference semantics:
    python-lib/plugin_io_utils.py:43-53 — note the suffix is applied to the
    *unprefixed* name on collision, which we reproduce exactly)."""
    new_name = f"{prefix}_{name}" if prefix else name
    existing = set(existing_names)
    for i in range(1, 1001):
        if new_name not in existing:
            return new_name
        new_name = f"{name}_{i}"
    raise RuntimeError(f"Failed to generate a unique name for '{name}'")


def build_unique_column_names(existing_names: Sequence[str], column_prefix: str) -> NamedTuple:
    """Named tuple of the four prefixed, de-collided API column names
    (reference semantics: python-lib/plugin_io_utils.py:56-62)."""
    return ApiColumnNameTuple(
        *[generate_unique(field, existing_names, column_prefix) for field in ApiColumnNameTuple._fields]
    )


def api_output_columns(
    column_names: NamedTuple,
    error_handling,
    verbose: bool = False,
    existing_names: Sequence[str] = (),
) -> List[str]:
    """Which API columns appear in the output, in order.

    Reproduces the combined rules of the reference's
    ``convert_results_to_df`` (python-lib/parallelizer.py:139-156) and
    ``move_api_columns_to_end`` (python-lib/plugin_io_utils.py:81-94):
    under FAIL every column whose field name contains "error" is dropped;
    under LOG, ``error_raw`` is dropped unless ``verbose``.
    """
    from .errors import ErrorHandling

    if error_handling == ErrorHandling.FAIL:
        excluded = {
            name for field, name in column_names._asdict().items() if "error" in field
        }
    else:
        excluded = set() if verbose else {column_names.error_raw}
    return [name for name in column_names if name not in excluded]
