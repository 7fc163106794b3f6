# -*- coding: utf-8 -*-
"""Snapshot log: an Iceberg-analogue metadata layer over parquet data.

The north rule requires Iceberg-snapshot-based checkpoint resume; this
sandbox has no Iceberg runtime jar (``sources.sinks`` degrades the same
way), so this module provides the three metadata properties resume
actually uses from Iceberg, on plain files:

- **Atomic commits**: a commit writes its data directory FIRST, then
  publishes a manifest via ``os.replace`` — the rename is the commit
  point. A crash between the two leaves an orphan data dir that no reader
  ever sees (Iceberg's commit protocol in miniature).
- **Snapshot isolation / time travel**: manifest N lists ALL data
  directories visible at snapshot N plus its parent id; a reader pins a
  snapshot id and gets a consistent table regardless of concurrent
  commits (``read(spark, snapshot_id=...)``).
- **Metadata-only current-snapshot resolution**: the newest manifest file
  name IS the current snapshot id — no data scan to find table state.

Single-writer is assumed (Iceberg adds optimistic-retry CAS on the
metadata pointer; on a shared filesystem ``os.replace`` of the manifest is
atomic and the job scheduler serializes increments).

Resume is one increment at a time (``run_with_snapshot_resume``): pin
the current snapshot, anti-join the input against its keys (only the key
column is read), extract what remains and commit it. An increment that
finds nothing new publishes nothing.

Lineage is one row per extraction task partition (``with_lineage``):
partition id, page rows out, success/error counts, wall ms — the
reference's post-run metrics (parallelizer.py:242-248) persisted per
partition, the north rule's "per-partition lineage rows". A caller wraps
its extraction with it:
``build_extraction=lambda df: with_lineage(extract_pages(df, ...), ...)``.

Reference parity: the reference has no state at all (re-runs recompute
everything); the snapshot log + anti-join is the upgraded semantic named
in BASELINE.json (``checkpoint-resume via Iceberg snapshots``).
"""

from __future__ import annotations

import json
import os
import re
import shutil
import time
import uuid
from typing import Iterable, Iterator, List, Optional

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession

MANIFEST_DIR = "snapshots"
DATA_DIR = "data"
_MANIFEST_NAME = re.compile(r"^\d{8}\.json$")

LINEAGE_DDL = (
    "run_id string, partition_id int, n_output bigint, n_success bigint, "
    "n_error bigint, elapsed_ms bigint"
)


def _parquet_rows(directory: str) -> int:
    """Row count of a written parquet directory from its part files'
    footers — no Spark job."""
    return sum(
        pq.read_metadata(os.path.join(directory, name)).num_rows
        for name in os.listdir(directory)
        if name.endswith(".parquet") and not name.startswith((".", "_"))
    )


class SnapshotLog:
    def __init__(self, root: str):
        self.root = root
        self.manifest_dir = os.path.join(root, MANIFEST_DIR)
        self.data_dir = os.path.join(root, DATA_DIR)
        os.makedirs(self.manifest_dir, exist_ok=True)
        os.makedirs(self.data_dir, exist_ok=True)

    # -- metadata ----------------------------------------------------------

    def snapshot_ids(self) -> List[int]:
        # strict manifest-name match: a stray non-conforming .json (editor
        # backup, hand-dropped file) must not break every read and commit
        ids = []
        for name in os.listdir(self.manifest_dir):
            if _MANIFEST_NAME.match(name):
                ids.append(int(name[:-5]))
        return sorted(ids)

    def current_snapshot_id(self) -> Optional[int]:
        ids = self.snapshot_ids()
        return ids[-1] if ids else None

    def manifest(self, snapshot_id: int) -> dict:
        with open(os.path.join(self.manifest_dir, f"{snapshot_id:08d}.json")) as handle:
            return json.load(handle)

    # -- commit ------------------------------------------------------------

    def _publish_manifest(self, manifest: dict) -> None:
        """THE commit point, shared by every manifest writer: json to a
        unique tmp name, then ``os.replace`` onto the snapshot-id name —
        any change to the publish protocol (fsync, id scheme) lands in
        commit() and compact() together."""
        target = os.path.join(self.manifest_dir, f"{manifest['snapshot_id']:08d}.json")
        tmp = target + f".tmp-{uuid.uuid4().hex[:8]}"
        with open(tmp, "w") as handle:
            json.dump(manifest, handle, indent=1)
        os.replace(tmp, target)  # <- the commit point

    def commit(self, df: DataFrame, run_id: Optional[str] = None) -> int:
        """Write ``df`` as a new data directory and publish the next
        snapshot manifest atomically. Returns the new snapshot id — or,
        when ``df`` wrote no rows and a parent exists, deletes the
        directory and returns the parent id without publishing (an idle
        increment adds no manifest and no data directory). The first
        commit on an empty log always publishes."""
        parent = self.current_snapshot_id()
        snapshot_id = (parent or 0) + 1
        # ALWAYS attempt-unique: a retry after a crash-between-write-and-
        # publish must not collide with its own orphan data directory even
        # under a stable run_id
        commit_dir = f"s{snapshot_id:08d}-{run_id or 'run'}-{uuid.uuid4().hex[:12]}"
        commit_path = os.path.join(self.data_dir, commit_dir)
        df.write.parquet(commit_path)
        if parent is not None and _parquet_rows(commit_path) == 0:
            shutil.rmtree(commit_path)
            return parent
        dirs = self.manifest(parent)["dirs"] if parent else []
        self._publish_manifest(
            {
                "snapshot_id": snapshot_id,
                "parent_id": parent,
                "run_id": run_id,
                "dirs": dirs + [commit_dir],
            }
        )
        return snapshot_id

    # -- maintenance (the Iceberg rewrite_data_files / expire_snapshots /
    # remove_orphan_files triad in miniature — at 100 TB these run on a
    # schedule or the table drowns in small files and dead snapshots) ----

    def compact(self, spark: SparkSession, target_partitions: Optional[int] = None) -> int:
        """Small-files compaction (Iceberg ``rewrite_data_files``): rewrite
        the CURRENT snapshot's data as ONE fresh data directory and commit
        a manifest referencing only it. Readers pinned to older snapshots
        still see the old directories (they stay until expiry + orphan
        removal); new readers scan the compacted files. Returns the new
        snapshot id."""
        current = self.current_snapshot_id()
        if current is None:
            raise ValueError("cannot compact an empty snapshot log")
        table = self.read(spark, current)
        if target_partitions:
            table = table.coalesce(target_partitions)
        parent = current
        snapshot_id = parent + 1
        commit_dir = f"s{snapshot_id:08d}-compact-{uuid.uuid4().hex[:12]}"
        table.write.parquet(os.path.join(self.data_dir, commit_dir))
        self._publish_manifest(
            {
                "snapshot_id": snapshot_id,
                "parent_id": parent,
                "run_id": "compact",
                "dirs": [commit_dir],  # <- the whole point: one dir replaces all
            }
        )
        return snapshot_id

    def expire_snapshots(self, keep_last: int = 1) -> List[int]:
        """Drop the manifests of all but the newest ``keep_last`` snapshots
        (Iceberg ``expire_snapshots``). Time travel to an expired id stops
        working; data directories are NOT touched here — they are freed by
        ``remove_orphans`` once no retained manifest references them.
        Returns the expired ids."""
        if keep_last < 1:
            raise ValueError("keep_last must be >= 1 (the current snapshot must survive)")
        ids = self.snapshot_ids()
        expired = ids[:-keep_last]
        for snapshot_id in expired:
            os.remove(os.path.join(self.manifest_dir, f"{snapshot_id:08d}.json"))
        return expired

    def remove_orphans(self) -> List[str]:
        """Delete data directories referenced by NO retained manifest:
        crash leftovers (written but never published) and directories
        dereferenced by compaction once their snapshots expired. Safe by
        construction — the reachable set is computed from the manifests
        that exist at call time, and a concurrent commit's directory is
        unreachable only before its manifest publish, which single-writer
        scheduling (module docstring) already excludes. Returns the
        removed directory names."""
        reachable = set()
        for snapshot_id in self.snapshot_ids():
            reachable.update(self.manifest(snapshot_id)["dirs"])
        removed = []
        for name in sorted(os.listdir(self.data_dir)):
            if name not in reachable:
                shutil.rmtree(os.path.join(self.data_dir, name))
                removed.append(name)
        return removed

    # -- read --------------------------------------------------------------

    def read(self, spark: SparkSession, snapshot_id: Optional[int] = None) -> Optional[DataFrame]:
        """The table at ``snapshot_id`` (default: current). None when the
        log is empty. Uncommitted data directories are invisible."""
        if snapshot_id is None:
            snapshot_id = self.current_snapshot_id()
        if snapshot_id is None:
            return None
        dirs = self.manifest(snapshot_id)["dirs"]
        return spark.read.parquet(*[os.path.join(self.data_dir, d) for d in dirs])


def remaining_inputs_snapshot(
    input_df: DataFrame,
    spark: SparkSession,
    log: SnapshotLog,
    key: str = "url",
) -> DataFrame:
    """Anti-join the input against the keys of the CURRENT snapshot —
    pinned once, so a concurrent commit cannot make the scan inconsistent.
    Only the key column is read (column pruning)."""
    snapshot = log.read(spark)
    if snapshot is None:
        return input_df
    return input_df.join(snapshot.select(key).distinct(), key, "left_anti")


def run_with_snapshot_resume(
    spark: SparkSession,
    input_df: DataFrame,
    build_extraction,
    log: SnapshotLog,
    key: str = "url",
    run_id: Optional[str] = None,
) -> dict:
    """One resumable increment against the snapshot log: pin current
    snapshot → anti-join → extract → atomic commit. Re-running after a
    crash (even one that left an orphan data dir) extracts each key
    exactly once."""
    todo = remaining_inputs_snapshot(input_df, spark, log, key)
    extracted = build_extraction(todo)
    snapshot_id = log.commit(extracted, run_id=run_id)
    table = log.read(spark, snapshot_id)
    return {
        "snapshot_id": snapshot_id,
        "snapshot_rows": table.count(),
        "snapshot_keys": table.select(key).distinct().count(),
    }


def with_lineage(
    extracted: DataFrame,
    response_column: str,
    lineage_dir: str,
    run_id: str,
) -> DataFrame:
    """Wrap an extracted DataFrame so that, as each task partition is
    consumed, a lineage row (``LINEAGE_DDL``) is written to
    ``lineage_dir`` as ``<run_id>-p<partition>.json`` (local/shared FS
    path; on a cluster this would be an object-store prefix or an Iceberg
    metrics table). Idempotent per (run_id, partition_id): retried tasks
    overwrite their own file. Read the rows back as a table with
    ``spark.read.schema(LINEAGE_DDL).json(lineage_dir)``."""
    os.makedirs(lineage_dir, exist_ok=True)
    schema = extracted.schema
    response_idx = extracted.columns.index(response_column)

    def audit(record_batches: Iterable[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        from pyspark import TaskContext

        context = TaskContext.get()
        partition_id = context.partitionId() if context is not None else -1
        started = time.perf_counter()
        n_output = n_success = 0
        for rb in record_batches:
            responses = rb.column(response_idx)
            n_output += rb.num_rows
            n_success += sum(1 for value in responses.to_pylist() if value != "")
            yield rb
        elapsed_ms = int((time.perf_counter() - started) * 1000)
        row = {
            "run_id": run_id,
            "partition_id": partition_id,
            "n_output": n_output,
            "n_success": n_success,
            "n_error": n_output - n_success,
            "elapsed_ms": elapsed_ms,
        }
        path = os.path.join(lineage_dir, f"{run_id}-p{partition_id:05d}.json")
        tmp_path = path + ".tmp"
        with open(tmp_path, "w") as handle:
            json.dump(row, handle)
        os.replace(tmp_path, path)

    return extracted.mapInArrow(audit, schema)
