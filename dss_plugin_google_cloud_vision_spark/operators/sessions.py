# -*- coding: utf-8 -*-
"""Gap-based sessionization (batch form).

An engine addition beyond the reference's operator set: training-data and
crawl pipelines group per-user / per-host event streams into sessions
separated by inactivity gaps (e.g. to bound crawl revisit rates or build
behavioral documents). Batch form: two window passes over ONE
(key, ts, tie-break) sort — a single shuffle on the key; the session id is
the running count of gap-breaks (the standard lag + cumulative-sum
formulation, fully SQL-expressible, hence oracle-checked).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

DEFAULT_GAP_SECONDS = 6 * 3600


def epoch_micros(col: Column) -> Column:
    """Epoch micros of a (naive) timestamp, TIMEZONE-INDEPENDENT: measured
    as NTZ wall-clock distance from the NTZ epoch — equals DuckDB's
    ``epoch_us`` whatever the Spark session timezone (``unix_micros`` of a
    cast would shift under non-UTC sessions)."""
    return F.timestamp_diff(
        "MICROSECOND",
        F.lit("1970-01-01 00:00:00").cast("timestamp_ntz"),
        col.cast("timestamp_ntz"),
    )


def sessionize(
    df: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    gap_seconds: int = DEFAULT_GAP_SECONDS,
    order_cols: Sequence[str] = ("event_id",),
) -> DataFrame:
    """Assign ``session_seq`` (1..N per key, in time order) to every row.

    A new session starts when the gap to the previous event of the same
    key exceeds ``gap_seconds``. Ties on the timestamp are broken by
    ``order_cols`` so the assignment is deterministic.
    """
    w = Window.partitionBy(key_col).orderBy(ts_col, *order_cols)
    ts_us = epoch_micros(F.col(ts_col))
    prev_us = F.lag(ts_us).over(w)
    new_session = F.when(
        prev_us.isNull() | (ts_us - prev_us > int(gap_seconds) * 1_000_000), 1
    ).otherwise(0)
    cumulative = Window.partitionBy(key_col).orderBy(ts_col, *order_cols).rowsBetween(
        Window.unboundedPreceding, 0
    )
    return (
        df.withColumn("_new_session", new_session)
        .withColumn("session_seq", F.sum("_new_session").over(cumulative).cast("bigint"))
        .drop("_new_session")
    )


def session_stats(
    df: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    gap_seconds: int = DEFAULT_GAP_SECONDS,
    order_cols: Sequence[str] = ("event_id",),
) -> DataFrame:
    """One row per session: event count and [start, end] in epoch micros
    (exact integers — cross-engine hashable)."""
    sessionized = sessionize(df, key_col, ts_col, gap_seconds, order_cols)
    ts_us = epoch_micros(F.col(ts_col))
    return sessionized.groupBy(key_col, "session_seq").agg(
        F.count("*").alias("n_events"),
        F.min(ts_us).alias("start_us"),
        F.max(ts_us).alias("end_us"),
    )
