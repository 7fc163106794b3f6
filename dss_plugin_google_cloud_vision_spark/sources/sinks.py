# -*- coding: utf-8 -*-
"""Output sinks with schema + column-description propagation.

Reference behavior being re-expressed: ``write_with_schema`` (S4) and
``set_column_description`` (S5, reference: python-lib/dku_io_utils.py:48-79
— merged descriptions, input dataset wins on name match).

Iceberg is the target catalog (`ALTER TABLE ... ALTER COLUMN ... COMMENT`
after `writeTo(...).createOrReplace()`); this sandbox has no Iceberg
runtime jar, so the sink degrades to parquet + a JSON sidecar carrying the
column descriptions (documented SURVEY.md §7 risk). The API is
catalog-agnostic: callers never branch.
"""

from __future__ import annotations

import json
import os
from typing import Dict, Optional

from pyspark.sql import DataFrame, SparkSession

from ..operators.formatters import merge_column_descriptions, with_column_descriptions

DESCRIPTIONS_SIDECAR = "_column_descriptions.json"


def _iceberg_available(spark: SparkSession) -> bool:
    try:
        spark._jvm.java.lang.Class.forName("org.apache.iceberg.spark.SparkCatalog")
        return True
    except Exception:  # noqa: BLE001
        return False


def write_output(
    df: DataFrame,
    target: str,
    descriptions: Optional[Dict[str, str]] = None,
    input_descriptions: Optional[Dict[str, str]] = None,
    mode: str = "overwrite",
) -> None:
    """Write ``df`` to ``target`` with column descriptions.

    ``target`` is an Iceberg table name when a catalog is configured (dots
    in the name and Iceberg on the classpath), else a parquet path.
    Description merge rule: input dataset's comments win (reference
    dku_io_utils.py:71-78).
    """
    spark = df.sparkSession
    merged = merge_column_descriptions(descriptions or {}, input_descriptions or {})
    described = with_column_descriptions(df, merged)
    use_iceberg = "." in target and "/" not in target and _iceberg_available(spark)
    if use_iceberg:
        writer = described.writeTo(target).using("iceberg")
        if mode == "overwrite":
            writer.createOrReplace()
        else:
            writer.append()
        for column, comment in merged.items():
            escaped = comment.replace("'", "''")
            spark.sql(f"ALTER TABLE {target} ALTER COLUMN {column} COMMENT '{escaped}'")
        return
    described.write.mode(mode).parquet(target)
    if merged:
        sidecar = os.path.join(target, DESCRIPTIONS_SIDECAR)
        with open(sidecar, "w") as handle:
            json.dump(merged, handle, indent=1, sort_keys=True)


def read_column_descriptions(spark: SparkSession, target: str) -> Dict[str, str]:
    """Descriptions back from the sidecar (or, on Iceberg, DESCRIBE)."""
    sidecar = os.path.join(target, DESCRIPTIONS_SIDECAR)
    if os.path.exists(sidecar):
        with open(sidecar) as handle:
            return json.load(handle)
    return {}

