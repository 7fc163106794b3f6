# -*- coding: utf-8 -*-
"""Measurement helpers: in-memory spans, Spark event-log reading, captured
stderr counts and process-tree memory sampled from ``/proc``.

Spans are recorded only in a traced run; in an untraced run ``Tracer`` is
created disabled and ``span`` is a no-op context manager, so the timed
region carries no tracing cost.
"""

from __future__ import annotations

import contextlib
import json
import os
import re
import threading
import time
from typing import Dict, Iterable, List, Optional


class Tracer:
    """Spans (name, start, end, parent) kept in memory and written once, at
    exit. Times are wall-clock epoch seconds so they line up with the
    millisecond timestamps of Spark's event log."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: List[dict] = []
        self._stack: List[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        record = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.time(),
            "end": None,
        }
        self.spans.append(record)
        self._stack.append(record["id"])
        try:
            yield record
        finally:
            record["end"] = time.time()
            self._stack.pop()

    def children(self, span_id: Optional[int]) -> List[dict]:
        return [s for s in self.spans if s["parent"] == span_id]

    def self_time(self, span: dict) -> float:
        """Span duration minus the part of it its children cover (children
        of one span never overlap: the benchmark runs one call at a time)."""
        covered = sum(c["end"] - c["start"] for c in self.children(span["id"]))
        return (span["end"] - span["start"]) - covered

    def named(self, name: str) -> List[dict]:
        return [s for s in self.spans if s["name"] == name]

    def write(self, path: str) -> None:
        for span in self.spans:
            span["self_s"] = self.self_time(span)
        with open(path, "w") as handle:
            json.dump(self.spans, handle, indent=1)


# -- Spark event log ---------------------------------------------------------


class EventLog:
    """The parts of one uncompressed, non-rolling Spark event log the
    benchmark reads: jobs (submission time, stages), SQL executions (start,
    end), per-stage task totals, and SQL plan-node metric totals
    (accumulator id → node)."""

    def __init__(self, path: str):
        self.jobs: Dict[int, dict] = {}
        # SQL execution id → {"start", "end"} (epoch seconds)
        self.executions: Dict[int, dict] = {}
        self.stage_tasks: Dict[int, dict] = {}
        self.node_of_accumulator: Dict[int, tuple] = {}
        self.accumulator_totals: Dict[int, float] = {}
        with open(path) as handle:
            for line in handle:
                self._read(json.loads(line))

    def _read(self, event: dict) -> None:
        kind = event["Event"]
        if kind == "SparkListenerJobStart":
            self.jobs[event["Job ID"]] = {
                "submitted": event["Submission Time"] / 1000.0,
                "stages": list(event["Stage IDs"]),
            }
        elif kind == "SparkListenerTaskEnd":
            self._read_task(event)
        elif kind.endswith("SQLExecutionStart") or kind.endswith("SQLAdaptiveExecutionUpdate"):
            if kind.endswith("SQLExecutionStart"):
                self.executions[event["executionId"]] = {"start": event["time"] / 1000.0}
            self._index_plan(event.get("sparkPlanInfo") or {}, event["executionId"])
        elif kind.endswith("SQLExecutionEnd"):
            if event["executionId"] in self.executions:
                self.executions[event["executionId"]]["end"] = event["time"] / 1000.0

    def executions_between(self, start: float, end: float) -> List[int]:
        """Finished SQL executions that started inside ``[start, end]``,
        in start order."""
        found = [
            eid
            for eid, execution in self.executions.items()
            if "end" in execution and start <= execution["start"] <= end
        ]
        return sorted(found, key=lambda eid: self.executions[eid]["start"])

    def execution_seconds(self, execution_ids: Iterable[int]) -> float:
        return sum(
            self.executions[eid]["end"] - self.executions[eid]["start"] for eid in execution_ids
        )

    def _read_task(self, event: dict) -> None:
        metrics = event.get("Task Metrics") or {}
        totals = self.stage_tasks.setdefault(event["Stage ID"], _empty_task_totals())
        totals["tasks"] += 1
        totals["run_s"] += metrics.get("Executor Run Time", 0) / 1000.0
        totals["cpu_s"] += metrics.get("Executor CPU Time", 0) / 1e9
        totals["gc_s"] += metrics.get("JVM GC Time", 0) / 1000.0
        shuffle_write = metrics.get("Shuffle Write Metrics") or {}
        totals["shuffle_write_bytes"] += shuffle_write.get("Shuffle Bytes Written", 0)
        shuffle_read = metrics.get("Shuffle Read Metrics") or {}
        totals["shuffle_read_bytes"] += shuffle_read.get("Remote Bytes Read", 0)
        totals["shuffle_read_bytes"] += shuffle_read.get("Local Bytes Read", 0)
        totals["input_bytes"] += (metrics.get("Input Metrics") or {}).get("Bytes Read", 0)
        totals["output_bytes"] += (metrics.get("Output Metrics") or {}).get("Bytes Written", 0)
        # SQL metric updates arrive as decimal strings
        for acc in (event.get("Task Info") or {}).get("Accumulables", []):
            update = str(acc.get("Update", ""))
            if update.lstrip("-").isdigit():
                self.accumulator_totals[acc["ID"]] = (
                    self.accumulator_totals.get(acc["ID"], 0) + int(update)
                )

    def _index_plan(self, node: dict, execution_id: int) -> None:
        for metric in node.get("metrics", []):
            self.node_of_accumulator[metric["accumulatorId"]] = (
                node.get("nodeName", ""),
                metric["name"],
                metric.get("metricType", ""),
                execution_id,
            )
        for child in node.get("children", []):
            self._index_plan(child, execution_id)

    def jobs_between(self, start: float, end: float) -> List[int]:
        return [jid for jid, job in self.jobs.items() if start <= job["submitted"] <= end]

    def stage_totals(self, job_ids: Iterable[int]) -> dict:
        stages = set()
        for jid in job_ids:
            stages.update(self.jobs[jid]["stages"])
        totals = _empty_task_totals()
        for stage_id in stages:
            for key, value in self.stage_tasks.get(stage_id, {}).items():
                totals[key] += value
        # stages skipped because their shuffle output was reused ran no task
        totals["stages"] = sum(1 for s in stages if s in self.stage_tasks)
        return totals

    def node_metric_totals(
        self, node_names: Iterable[str], execution_ids: Iterable[int]
    ) -> Dict[str, float]:
        """Every SQL metric of the plan nodes named in ``node_names`` within
        the given SQL executions, summed by metric name: timings in
        seconds, sizes in bytes."""
        wanted = set(node_names)
        executions = set(execution_ids)
        out: Dict[str, float] = {}
        for acc_id, total in self.accumulator_totals.items():
            node = self.node_of_accumulator.get(acc_id)
            if node is None or node[0] not in wanted or node[3] not in executions:
                continue
            _, metric_name, metric_type, _ = node
            if metric_type == "timing":
                total = total / 1000.0
            elif metric_type == "nsTiming":
                total = total / 1e9
            out[metric_name] = out.get(metric_name, 0.0) + total
        return out


def _empty_task_totals() -> dict:
    return {
        "tasks": 0,
        "run_s": 0.0,
        "cpu_s": 0.0,
        "gc_s": 0.0,
        "shuffle_write_bytes": 0,
        "shuffle_read_bytes": 0,
        "input_bytes": 0,
        "output_bytes": 0,
    }


def find_event_log(directory: str) -> str:
    logs = [name for name in os.listdir(directory) if not name.startswith(".")]
    finished = [name for name in logs if not name.endswith(".inprogress")]
    if len(finished) != 1:
        raise RuntimeError(f"expected one finished event log in {directory}, found {logs}")
    return os.path.join(directory, finished[0])


# -- captured stderr -----------------------------------------------------------

_ERROR_LINE = re.compile(r"^\S+ \S+ ERROR ")
_ROW_WARNING = re.compile(r"Function \S+ failed on")


def count_log_lines(path: str) -> Dict[str, int]:
    """Spark ``ERROR`` log records (not their stack-trace lines) and
    per-row ``Function ... failed on`` warnings."""
    errors = warnings = 0
    with open(path, errors="replace") as handle:
        for line in handle:
            if _ERROR_LINE.match(line):
                errors += 1
            if _ROW_WARNING.search(line):
                warnings += 1
    return {"error_lines": errors, "row_warning_lines": warnings}


# -- process-tree memory -------------------------------------------------------


def _stat(pid: int) -> Optional[List[str]]:
    """/proc/<pid>/stat fields from the state on (the command name may
    hold spaces, so fields resume after its closing parenthesis)."""
    try:
        with open(f"/proc/{pid}/stat") as handle:
            return handle.read().rsplit(")", 1)[1].split()
    except OSError:
        return None


def start_time(pid: int) -> Optional[int]:
    fields = _stat(pid)
    return int(fields[19]) if fields else None


def tree_pids(root: int) -> List[int]:
    children: Dict[int, List[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            fields = _stat(int(entry))
            if fields:
                children.setdefault(int(fields[1]), []).append(int(entry))
    pids, todo = [], [root]
    while todo:
        pid = todo.pop()
        pids.append(pid)
        todo.extend(children.get(pid, []))
    return pids


def rss_bytes(pids: Iterable[int]) -> int:
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/statm") as handle:
                total += int(handle.read().split()[1]) * page
        except OSError:
            continue
    return total


class RssSampler:
    """Peak resident memory of a process tree (driver, JVM, Python
    workers): the largest sum over the tree of one sample, taken every
    ``interval`` seconds on a daemon thread. Also remembers every process
    it saw, so the caller can make sure none outlives the run."""

    def __init__(self, root: int, interval: float = 0.2):
        self.root = root
        self.interval = interval
        self.peak = 0
        self.seen: Dict[int, int] = {}  # pid → start time
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            pids = tree_pids(self.root)
            for pid in pids:
                if pid not in self.seen:
                    started = start_time(pid)
                    if started is not None:
                        self.seen[pid] = started
            self.peak = max(self.peak, rss_bytes(pids))
            self._stop.wait(self.interval)

    def alive(self) -> List[int]:
        return [pid for pid, started in self.seen.items() if start_time(pid) == started]

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
