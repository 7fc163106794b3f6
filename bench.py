#!/usr/bin/env python
# -*- coding: utf-8 -*-
"""Benchmark harness (driver contract): runs the headline queries at
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]`` and prints ONE COMPACT JSON line::

    {"metric": "headline_suite_seconds", "value": N, "unit": "sec",
     "n_queries": K, "sf": ..., "extract_docs_per_sec": ..., "queries": {...}}

(``queries`` holds the 3 extraction rows and the first 50 ``queries()``
entries; the full per-query map goes to ``BENCH/last_run_queries.json`` —
it outgrew the 2,000-character stdout tail that is captured, in round 3).

Also measures raw extraction throughput (documents/sec) over a generated
pages table (``$SPARK_GRAFT_BENCH_DOCS`` docs, default 20000) — the
BASELINE.json headline metric. The two-parallelism scaling run lives in
``BENCH/run_scaling.py``.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO_ROOT = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO_ROOT)
_pythonpath = os.environ.get("PYTHONPATH", "")
if REPO_ROOT not in _pythonpath.split(os.pathsep):
    os.environ["PYTHONPATH"] = (
        os.pathsep.join([REPO_ROOT, _pythonpath]) if _pythonpath else REPO_ROOT
    )

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
BENCH_DOCS = int(os.environ.get("SPARK_GRAFT_BENCH_DOCS", "80000"))


def main():
    import __spark_entry__ as entrymod
    from dss_plugin_google_cloud_vision_spark.operators.pages import extract_pages
    from dss_plugin_google_cloud_vision_spark.session import get_spark
    from dss_plugin_google_cloud_vision_spark.sources.pages import pages_df

    spark = get_spark(
        app_name="bench",
        cores=CPUS,
        shuffle_partitions=str(CPUS),
        # the generated pages parquet is small; default 128MB splits would
        # leave most cores idle during the throughput measurement
        extra_conf={
            "spark.sql.files.maxPartitionBytes": "2m",
            "spark.sql.files.openCostInBytes": "512k",
            # progress bars would interleave with the one stdout line
            "spark.ui.showConsoleProgress": "false",
        },
    )

    timings = {}
    total = 0.0

    # raw extraction throughput: generated pages, full extract, noop sink —
    # both the reference-contract JSON path and the typed scale path.
    # Measured FIRST: after the ~100x2-query suite the JVM carries thousands
    # of stages of listener/heap history and the GC-heavy JSON path read
    # 2.5x slow (24k vs a fresh session's 61k docs/s, round 5) — the
    # headline docs/sec must reflect the kernel, not end-of-suite JVM
    # fatigue.
    from dss_plugin_google_cloud_vision_spark.operators.pages import extract_pages_typed

    pages = pages_df(spark, BENCH_DOCS, partitions=CPUS * 2)
    pages.write.mode("overwrite").parquet("/tmp/bench_pages.parquet")
    stored = spark.read.parquet("/tmp/bench_pages.parquet")
    # warm python workers (their fork+import cost otherwise lands in the
    # first timed run) then best-of-3 per path
    extract_pages(stored.limit(2000), drop_payload=True).write.format("noop").mode(
        "overwrite"
    ).save()

    def timed(builder) -> float:
        runs = []
        for _ in range(3):
            started = time.perf_counter()
            builder().write.format("noop").mode("overwrite").save()
            runs.append(time.perf_counter() - started)
        return min(runs)

    extract_elapsed = timed(lambda: extract_pages(stored, drop_payload=True))
    docs_per_sec = BENCH_DOCS / extract_elapsed
    timings["extract_throughput"] = round(extract_elapsed, 3)
    total += extract_elapsed
    typed_elapsed = timed(lambda: extract_pages_typed(stored))
    timings["extract_typed_throughput"] = round(typed_elapsed, 3)
    total += typed_elapsed

    # skew stress row: the SAME extraction over a Zipf(1)-host remap of the
    # corpus (head host ~15% of rows), followed by the hot-host sketch +
    # skew-safe two-phase per-host aggregation — the shape a Common-Crawl
    # host distribution actually forces. Comparable to extract_throughput:
    # a large gap would mean the skew machinery, not the kernel, is the
    # bottleneck.
    from dss_plugin_google_cloud_vision_spark.operators.skew import (
        hot_hosts,
        per_host_counts_two_phase,
        zipf_host_remap,
    )

    zipf_path = "/tmp/bench_pages_zipf.parquet"
    zipf_host_remap(stored).write.mode("overwrite").parquet(zipf_path)
    zipf = spark.read.parquet(zipf_path)
    hot = hot_hosts(zipf, threshold_fraction=0.01)

    def zipf_pipeline():
        # extraction first (narrow, payloads never shuffle — pages.py's
        # drop-payload doctrine), THEN the salted two-phase host agg over
        # the extracted rows; salted_repartition's placement correctness
        # is pinned by tests/test_skew_stress.py, where pre-extraction
        # host-colocation is actually required (politeness planning)
        extracted = extract_pages(zipf, drop_payload=True)
        return per_host_counts_two_phase(extracted, hot=hot, granularity="year")

    zipf_elapsed = timed(zipf_pipeline)
    timings["zipf_skew_extract"] = round(zipf_elapsed, 3)
    total += zipf_elapsed

    for name, fn in entrymod.queries().items():
        # best-of-2 per query: this VM drifts ±20% run-to-run (CLAUDE.md);
        # the second run also amortizes one-off plan-compile cost, so the
        # recorded number tracks the steady-state plan, not JVM warmup
        runs = []
        for _ in range(2):
            started = time.perf_counter()
            df = fn(spark, SF_DIR)
            # force full execution without driver materialization of rows
            df.write.format("noop").mode("overwrite").save()
            runs.append(time.perf_counter() - started)
        elapsed = min(runs)
        timings[name] = round(elapsed, 3)
        total += elapsed

    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    # stdout carries ONE COMPACT headline line: the full per-query map
    # outgrew the 2,000-character tail capture in round 3 (BENCH_r03
    # recorded parsed:null), so it goes to BENCH/last_run_queries.json;
    # the line keeps the 3 extraction rows and the first 50 queries()
    # entries, the correctness-gated window (1,701 characters at sf0.01)
    result = {
        "metric": "headline_suite_seconds",
        "value": round(total, 3),
        "unit": "sec",
        "n_queries": len(timings),
        "sf": float(sf) if sf.replace(".", "").isdigit() else SF_DIR,
        "extract_docs_per_sec": round(docs_per_sec, 1),
        "extract_typed_docs_per_sec": round(BENCH_DOCS / typed_elapsed, 1),
        "zipf_skew_docs_per_sec": round(BENCH_DOCS / zipf_elapsed, 1),
        "bench_docs": BENCH_DOCS,
        "cpus": CPUS,
        "queries": dict(list(timings.items())[: 3 + 50]),
    }
    per_query_path = os.path.join(REPO_ROOT, "BENCH", "last_run_queries.json")
    with open(per_query_path, "w") as handle:
        json.dump({**result, "queries": timings}, handle, indent=1, sort_keys=True)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
