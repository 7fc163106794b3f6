# -*- coding: utf-8 -*-
"""Distributed politeness scheduling — the scale-form of the reference's
rate limiter.

The reference throttles API calls with a process-local token bucket
(reference: python-lib/google_vision_api_client.py:83-84 ``@limits(calls=
rate, period=period)``), which cannot exist on a 1000-executor cluster.
The distributed equivalent is *schedule assignment*: given a per-host
budget of ``rate`` fetches per period, assign every url a deterministic
slot number; slot k means "execute in period-window k". Crawl executors
then process slot-by-slot (or feed slots to a scheduler) without any
shared mutable state.

Plan shape: one shuffle on host (the window partition), no state, fully
deterministic given the ordering key — and SQL-expressible, so it is
oracle-checked by the driver like every other operator.

Skew note: a hot host's rows all land in one window partition. That is
inherent to per-host ordering; at 10^12 rows you bound it by scheduling
per (host, warc_ts-bucket) instead — pass ``bucket_column`` — which keeps
per-task key cardinality bounded by the bucket width while preserving
per-host politeness within each bucket.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .skew import host_column


def assign_fetch_slots(
    df: DataFrame,
    rate_per_period: int,
    url_col: str = "url",
    bucket_column: Optional[str] = None,
    order_col: Optional[str] = None,
) -> DataFrame:
    """Add ``host``, ``fetch_seq`` (1-based position within the host's
    queue, ordered by ``order_col`` then url for determinism) and
    ``fetch_slot`` (0-based period index: ``floor((seq-1)/rate)``)."""
    if rate_per_period < 1:
        raise ValueError(f"rate_per_period must be >= 1, got {rate_per_period}")
    host = host_column(url_col)
    partition_cols = [host]
    if bucket_column:
        partition_cols.append(F.col(bucket_column))
    ordering = [F.col(order_col)] if order_col else []
    ordering.append(F.col(url_col))
    w = Window.partitionBy(*partition_cols).orderBy(*ordering)
    seq = F.row_number().over(w)
    return df.withColumns(
        {
            "host": host,
            "fetch_seq": seq,
            "fetch_slot": F.floor((seq - 1) / rate_per_period).cast("int"),
        }
    )

