# -*- coding: utf-8 -*-
"""Query results against their ``oracle_sql()`` DuckDB mirror over the
same parquet files: sorted column names, row count and an
order-insensitive hash of normalized cells — the comparison the repo's
oracle gate makes, with int and float kept distinct."""

from __future__ import annotations

import decimal
import hashlib
import json
import math
import os
from typing import Dict, List, Sequence, Tuple

import duckdb
import numpy as np
import pandas as pd

TABLES = ("documents", "embeddings")


def normalize(value) -> str:
    if value is None or value is pd.NaT:
        return ""
    if isinstance(value, (list, tuple, np.ndarray)):
        return json.dumps([normalize(v) for v in value])
    if isinstance(value, (bool, np.bool_)):
        return "1" if value else "0"
    if isinstance(value, (int, np.integer)):
        return str(int(value))
    if isinstance(value, (float, np.floating, decimal.Decimal)):
        as_float = float(value)
        if math.isnan(as_float):
            return "nan"
        return repr(round(as_float, 9)) + "f"
    if isinstance(value, (bytes, bytearray)):
        return bytes(value).hex()
    if isinstance(value, dict):
        return json.dumps({k: normalize(v) for k, v in sorted(value.items())})
    return str(value)


def signature(columns: Sequence[str], rows: Sequence[tuple]) -> Tuple[List[str], int, str]:
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    cells = sorted("\x1f".join(normalize(row[i]) for i in order) for row in rows)
    digest = hashlib.md5("\x1e".join(cells).encode("utf-8")).hexdigest()
    return [columns[i] for i in order], len(rows), digest


def compare_all(
    results: Dict[str, tuple], oracles: Dict[str, str], table_dir: str
) -> Dict[str, str]:
    """results: name → (columns, rows). Returns name → problem for every
    query whose result is missing or differs from its oracle."""
    con = duckdb.connect()
    try:
        for table in TABLES:
            path = os.path.join(table_dir, f"{table}.parquet")
            con.execute(f"CREATE VIEW {table} AS SELECT * FROM '{path}'")
        failures = {}
        for name, sql in oracles.items():
            if name not in results:
                failures[name] = "no result"
                continue
            want_pdf = con.execute(sql).df()
            want = signature(
                list(want_pdf.columns), list(want_pdf.itertuples(index=False, name=None))
            )
            got = signature(*results[name])
            if got[0] != want[0]:
                failures[name] = f"columns {got[0]} != oracle {want[0]}"
            elif got[1] != want[1]:
                failures[name] = f"{got[1]} rows != oracle {want[1]}"
            elif got[2] != want[2]:
                failures[name] = "values differ from the oracle"
        return failures
    finally:
        con.close()
