# -*- coding: utf-8 -*-
"""Checkpoint-resume (FIXTURES.md §5) and skew-salting tests."""

import json
from pathlib import Path

from pyspark.sql import functions as F

from dss_plugin_google_cloud_vision_spark.operators.pages import extract_pages
from dss_plugin_google_cloud_vision_spark.operators.skew import (
    hot_hosts,
    per_host_counts_two_phase,
    salt_column,
    salted_repartition,
    with_host,
)
from dss_plugin_google_cloud_vision_spark.sources.pages import tiny_pages_df
from dss_plugin_google_cloud_vision_spark.sources.snapshots import (
    LINEAGE_DDL,
    SnapshotLog,
    remaining_inputs_snapshot,
    run_with_snapshot_resume,
    with_lineage,
)

N_ROWS = 48


def _extract(df):
    return extract_pages(df, drop_payload=True)


def _audited(lineage_dir, run_id):
    return lambda df: with_lineage(_extract(df), "content_api_response", lineage_dir, run_id)


def test_resume_completes_partial_run(spark, tmp_path):
    df = tiny_pages_df(spark, N_ROWS)
    log = SnapshotLog(str(tmp_path / "snapshot"))
    lineage_dir = str(tmp_path / "lineage")

    # run 1: only a subset survives (induced partial run)
    partial = df.filter(F.crc32(F.col("url")) % 3 != 0)
    run_with_snapshot_resume(spark, partial, _audited(lineage_dir, "r1"), log, run_id="r1")
    done_urls_1 = {r["url"] for r in log.read(spark).select("url").distinct().collect()}
    assert 0 < len(done_urls_1) < N_ROWS

    # run 2: full input; only the missing urls must be extracted
    todo = remaining_inputs_snapshot(df, spark, log, "url")
    todo_urls = {r["url"] for r in todo.select("url").collect()}
    assert todo_urls.isdisjoint(done_urls_1)
    assert len(todo_urls) == N_ROWS - len(done_urls_1)
    run_with_snapshot_resume(spark, df, _audited(lineage_dir, "r2"), log, run_id="r2")

    # converged snapshot equals a clean single run: same url set, no dupes
    snapshot = log.read(spark)
    assert snapshot.select("url").distinct().count() == N_ROWS
    clean = _extract(df)
    assert snapshot.count() == clean.count()
    snap_rows = {
        (r["url"], r["page_number"], r["content_api_response"]) for r in snapshot.collect()
    }
    clean_rows = {
        (r["url"], r["page_number"], r["content_api_response"]) for r in clean.collect()
    }
    assert snap_rows == clean_rows

    # run 3 on a converged snapshot is a no-op
    assert remaining_inputs_snapshot(df, spark, log, "url").count() == 0

    # lineage covers both runs and accounts for every page row exactly once
    lineage = spark.read.schema(LINEAGE_DDL).json(lineage_dir)
    totals = lineage.agg(F.sum("n_output").alias("pages"), F.sum("n_error").alias("errors")).collect()[0]
    assert totals["pages"] == clean.count()
    errors_expected = clean.filter(F.col("content_api_response") == "").count()
    assert totals["errors"] == errors_expected
    assert lineage.select("run_id").distinct().count() == 2
    # every written row carries exactly the DDL's fields (schema-on-read
    # would null a missing key and drop an extra one without a word)
    ddl_fields = [field.split()[0] for field in LINEAGE_DDL.split(",")]
    rows = [json.loads(path.read_text()) for path in sorted(Path(lineage_dir).glob("*.json"))]
    assert rows and all(list(row) == ddl_fields for row in rows)


def test_salting_spreads_hot_host(spark):
    df = tiny_pages_df(spark, 200)
    hosts = hot_hosts(df, threshold_fraction=0.1)
    # datagen gives host00 ~30% and host01 ~20% of rows
    assert "host00.example.org" in hosts and "host01.example.org" in hosts
    salted = df.withColumn("salt", salt_column("url", hot=hosts, n_salt=8))
    by_host = (
        with_host(salted)
        .groupBy("host")
        .agg(F.countDistinct("salt").alias("n_salts"))
        .collect()
    )
    for row in by_host:
        if row["host"] in hosts:
            assert row["n_salts"] > 1, f"hot host {row['host']} not spread"
        else:
            assert row["n_salts"] == 1, f"cold host {row['host']} unnecessarily salted"


def test_two_phase_counts_match_direct(spark):
    df = tiny_pages_df(spark, 200)
    two_phase = {
        (r["host"], r["bucket"]): r["n_rows"]
        for r in per_host_counts_two_phase(df, hot=["host00.example.org"]).collect()
    }
    direct = {
        (r["host"], r["bucket"]): r["n"]
        for r in with_host(df)
        .groupBy("host", F.date_trunc("day", "warc_ts").alias("bucket"))
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert two_phase == direct


def test_salted_repartition_preserves_rows(spark):
    df = tiny_pages_df(spark, 100)
    out = salted_repartition(df, num_partitions=16)
    assert out.count() == 100
    assert out.columns == df.columns

