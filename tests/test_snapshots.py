# -*- coding: utf-8 -*-
"""Snapshot-log semantics: atomic commits, time travel, exactly-once
resume, crash invisibility."""

import os

from pyspark.sql import functions as F

from dss_plugin_google_cloud_vision_spark.operators.pages import extract_pages
from dss_plugin_google_cloud_vision_spark.sources.pages import pages_df
from dss_plugin_google_cloud_vision_spark.sources.snapshots import (
    SnapshotLog,
    remaining_inputs_snapshot,
    run_with_snapshot_resume,
)


def test_commit_and_time_travel(spark, tmp_path):
    log = SnapshotLog(str(tmp_path / "table"))
    assert log.current_snapshot_id() is None
    assert log.read(spark) is None

    s1 = log.commit(spark.range(3).select(F.col("id")))
    s2 = log.commit(spark.range(3, 5).select(F.col("id")))
    assert (s1, s2) == (1, 2)
    assert log.read(spark, 1).count() == 3  # time travel: snapshot 1 unchanged
    assert log.read(spark).count() == 5
    assert log.manifest(2)["parent_id"] == 1


def test_orphan_data_dir_is_invisible(spark, tmp_path):
    """A crash AFTER writing data but BEFORE publishing the manifest must
    leave the table unchanged (the rename is the commit point)."""
    log = SnapshotLog(str(tmp_path / "table"))
    log.commit(spark.range(4))
    # simulate the crash: data lands, no manifest
    spark.range(100, 110).write.parquet(os.path.join(log.data_dir, "s99999999-orphan"))
    assert log.current_snapshot_id() == 1
    assert log.read(spark).count() == 4


def test_snapshot_resume_exactly_once(spark, tmp_path):
    log = SnapshotLog(str(tmp_path / "out"))
    pages = pages_df(spark, 48, partitions=4)

    def build(df):
        return extract_pages(df, drop_payload=True)

    first = run_with_snapshot_resume(
        spark, pages.filter(F.col("url").isNotNull()).limit(30), build, log, run_id="r1"
    )
    assert first["snapshot_id"] == 1

    # second increment: full input — only the missing urls are extracted
    second = run_with_snapshot_resume(spark, pages, build, log, run_id="r2")
    assert second["snapshot_id"] == 2
    table = log.read(spark)
    # every url exactly once (multi-page docs: count per url may exceed 1,
    # but no url is extracted in BOTH commits)
    per_commit = (
        remaining_inputs_snapshot(pages, spark, log).count()
    )
    assert per_commit == 0  # nothing left
    urls_1 = {r["url"] for r in log.read(spark, 1).select("url").distinct().collect()}
    manifest2_dir = log.manifest(2)["dirs"][-1]
    urls_2 = {
        r["url"]
        for r in spark.read.parquet(os.path.join(log.data_dir, manifest2_dir))
        .select("url")
        .distinct()
        .collect()
    }
    assert urls_1.isdisjoint(urls_2)
    assert len(urls_1 | urls_2) == pages.select("url").distinct().count()

    # re-running the full input again is a no-op increment: it publishes
    # no snapshot and leaves no data directory behind
    n_data_dirs = len(os.listdir(log.data_dir))
    third = run_with_snapshot_resume(spark, pages, build, log, run_id="r3")
    assert third["snapshot_keys"] == second["snapshot_keys"]
    assert third["snapshot_id"] == 2
    assert log.snapshot_ids() == [1, 2]
    assert len(os.listdir(log.data_dir)) == n_data_dirs


def test_binary_file_ingest_to_extraction(spark, tmp_path):
    """S3 ingest loop: a folder of blobs → binaryFile scan → pages shape →
    the fused extraction stage, with scan-time extension pruning."""
    from dss_plugin_google_cloud_vision_spark.sources.ingest import pages_from_binary_files

    folder = tmp_path / "blobs"
    folder.mkdir()
    body = (
        "<html><body><article><p>a long enough paragraph of body text that the "
        "extractor keeps as the main content of the page</p></article></body></html>"
    )
    (folder / "a.html").write_text(body)
    (folder / "b.html").write_text(body.replace("body text", "other text"))
    (folder / "skip.txt").write_text("not a page")

    pages = pages_from_binary_files(spark, str(folder), glob="*.html")
    assert pages.count() == 2  # .txt pruned at scan time
    assert set(pages.columns) == {"url", "warc_ts", "html", "text", "lang"}

    extracted = extract_pages(pages, drop_payload=True)
    rows = {r["url"].split("/")[-1]: r for r in extracted.collect()}
    assert rows["a.html"]["content_api_error_message"] == ""
    import json

    text = json.loads(rows["a.html"]["content_api_response"])["fullTextAnnotation"]["text"]
    assert "long enough paragraph of body text" in text


def test_commit_retry_same_run_id_after_crash(spark, tmp_path):
    """A retry with a STABLE run_id after a crash between data write and
    manifest publish must not collide with its own orphan directory
    (code-review regression: attempt-unique commit dirs)."""
    log = SnapshotLog(str(tmp_path / "table"))
    log.commit(spark.range(3), run_id="job-42")
    # simulate the crashed attempt of snapshot 2 under the same run id
    spark.range(50, 60).write.parquet(os.path.join(log.data_dir, "s00000002-job-42-deadbeef0000"))
    retry = log.commit(spark.range(3, 5), run_id="job-42")
    assert retry == 2
    assert log.read(spark).count() == 5  # orphan rows invisible


def test_stray_json_in_manifest_dir_is_ignored(spark, tmp_path):
    """A non-conforming .json (editor backup, hand-dropped file) in the
    manifest dir must not break reads or commits."""
    log = SnapshotLog(str(tmp_path / "table"))
    log.commit(spark.range(4))
    for stray in ("notes.json", "00000001.json.bak", "backup-1.json"):
        with open(os.path.join(log.manifest_dir, stray), "w") as handle:
            handle.write("{}")
    assert log.current_snapshot_id() == 1
    assert log.read(spark).count() == 4
    assert log.commit(spark.range(2)) == 2
    assert log.read(spark).count() == 6


def test_compact_expire_remove_orphans_lifecycle(spark, tmp_path):
    """The maintenance triad: compaction rewrites the table as one data
    dir (older snapshots still readable), expiry drops old manifests, and
    orphan removal then frees every unreferenced directory — including a
    planted crash leftover — without touching live data."""
    log = SnapshotLog(str(tmp_path / "table"))
    for lo, hi in ((0, 3), (3, 7), (7, 12)):
        log.commit(spark.range(lo, hi).select(F.col("id")))
    assert len(os.listdir(log.data_dir)) == 3

    # planted crash leftover: data written, manifest never published
    crash_dir = os.path.join(log.data_dir, "s99999999-crashed-deadbeef")
    spark.range(100, 105).write.parquet(crash_dir)

    s4 = log.compact(spark, target_partitions=1)
    assert s4 == 4
    assert log.read(spark).count() == 12
    assert sorted(r["id"] for r in log.read(spark).collect()) == list(range(12))
    # pre-compaction snapshot still time-travelable (data dirs intact)
    assert log.read(spark, 2).count() == 7

    # nothing is orphaned yet: snapshots 1-3 still reference the old dirs
    assert log.remove_orphans() == ["s99999999-crashed-deadbeef"]
    assert log.read(spark, 2).count() == 7

    expired = log.expire_snapshots(keep_last=1)
    assert expired == [1, 2, 3]
    removed = log.remove_orphans()
    assert len(removed) == 3  # the three pre-compaction data dirs
    assert len(os.listdir(log.data_dir)) == 1
    # the table is intact and still appendable
    assert log.read(spark).count() == 12
    log.commit(spark.range(12, 14).select(F.col("id")))
    assert log.read(spark).count() == 14
