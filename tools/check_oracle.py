#!/usr/bin/env python
# -*- coding: utf-8 -*-
"""Local replica of the driver's correctness gate: run every
``__spark_entry__.queries()`` entry at sf0.01 and compare against its
``oracle_sql()`` via DuckDB — row count, sorted column names, and an
order-insensitive value hash over normalized cell values.

Usage: python tools/check_oracle.py [--sf-dir DIR] [--only name,name]
"""

from __future__ import annotations

import argparse
import decimal
import hashlib
import json
import math
import os
import sys
import time

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO_ROOT)

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings".split()
)


class ArrayCell(Exception):
    """An array/list-typed result cell — the driver's pandas canonicalizer
    crashes on these (round-1 `unhashable type: 'list'`), so the local gate
    must REJECT them, not serialize them."""


def normalize(value):
    """STRICT normalization mirroring the driver's pandas-based compare:
    int and float are DIFFERENT (DuckDB HUGEINT → pandas float64 must not
    silently equal a Spark int64 — the round-1 masking bug), and list cells
    raise. Values arrive as pandas/numpy scalars from .toPandas()/.df()."""
    import numpy as np
    import pandas as pd

    if value is None:
        return ""
    if isinstance(value, (list, tuple, np.ndarray)):
        raise ArrayCell(type(value).__name__)
    if isinstance(value, (bool, np.bool_)):
        return "1" if value else "0"
    if isinstance(value, (int, np.integer)):
        return str(int(value))
    if isinstance(value, decimal.Decimal):
        return repr(round(float(value), 9)) + "f"
    if isinstance(value, (float, np.floating)):
        if math.isnan(value):
            return "nan"
        # floats stay floats: tagged so int64 vs float64 is a mismatch
        return repr(round(float(value), 9)) + "f"
    if isinstance(value, (bytes, bytearray)):
        return bytes(value).hex()
    if isinstance(value, dict):
        return json.dumps({k: normalize(v) for k, v in sorted(value.items())})
    if value is pd.NaT:
        return ""
    return str(value)


def table_signature(columns, rows):
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    names = [columns[i] for i in order]
    normalized = sorted(
        "\x1f".join(normalize(row[i]) for i in order) for row in rows
    )
    digest = hashlib.md5("\x1e".join(normalized).encode("utf-8")).hexdigest()
    return names, len(rows), digest, normalized


def main():
    # one line per checked entry, written as it is decided: a piped run
    # (`| tee`) that ends abnormally still shows every entry it checked
    sys.stdout.reconfigure(line_buffering=True)
    parser = argparse.ArgumentParser()
    parser.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR2", "/root/testdata/sf0.01"))
    parser.add_argument("--only", default="")
    args = parser.parse_args()

    import duckdb

    import __spark_entry__ as entrymod
    from dss_plugin_google_cloud_vision_spark.session import get_spark

    spark = get_spark(app_name="check-oracle", cores=8)
    con = duckdb.connect()
    for table in TABLES:
        path = f"{args.sf_dir}/{table}.parquet"
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {table} AS SELECT * FROM '{path}'")

    queries = entrymod.queries()
    oracles = entrymod.oracle_sql()
    only = {name for name in args.only.split(",") if name}
    failures = []
    for name, fn in queries.items():
        if only and name not in only:
            continue
        started = time.time()
        try:
            sdf = fn(spark, args.sf_dir)
            # through pandas, like the driver — so dtype coercions
            # (HUGEINT→float64, date→datetime64) surface locally too
            spark_pdf = sdf.toPandas()
            spark_rows = list(spark_pdf.itertuples(index=False, name=None))
            spark_cols = list(spark_pdf.columns)
        except Exception as error:  # noqa: BLE001
            print(f"FAIL  {name}: spark error: {error}")
            failures.append(name)
            continue
        if name not in oracles:
            print(f"rows  {name}: {len(spark_rows)} rows (no oracle — rows-only check)")
            continue
        try:
            duck_pdf = con.execute(oracles[name]).df()
            duck_cols = list(duck_pdf.columns)
            duck_rows = list(duck_pdf.itertuples(index=False, name=None))
        except Exception as error:  # noqa: BLE001
            print(f"FAIL  {name}: duckdb error: {error}")
            failures.append(name)
            continue
        try:
            s_names, s_count, s_hash, s_rows = table_signature(spark_cols, spark_rows)
            d_names, d_count, d_hash, d_rows = table_signature(duck_cols, duck_rows)
        except ArrayCell as error:
            print(f"FAIL  {name}: array-typed result cell ({error}) — driver canonicalizer would crash")
            failures.append(name)
            continue
        elapsed = time.time() - started
        if s_names != d_names:
            print(f"FAIL  {name}: schema mismatch spark={s_names} duck={d_names}")
            failures.append(name)
        elif s_count != d_count:
            print(f"FAIL  {name}: row count spark={s_count} duck={d_count}")
            failures.append(name)
        elif s_hash != d_hash:
            diff = [
                (a, b) for a, b in zip(s_rows, d_rows) if a != b
            ][:3]
            print(f"FAIL  {name}: value hash mismatch; first diffs: {diff}")
            failures.append(name)
        else:
            print(f"OK    {name}: {s_count} rows, hash {s_hash[:12]} ({elapsed:.1f}s)")
    if failures:
        print(f"\n{len(failures)} FAILED: {failures}")
        sys.exit(1)
    print("\nall oracle checks passed")


if __name__ == "__main__":
    main()
