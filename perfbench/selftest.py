#!/usr/bin/env python3
# -*- coding: utf-8 -*-
"""The benchmark's own self-test. From the root of a checkout:

    python3 perfbench/selftest.py

1. ``BENCHMARK.json`` names exactly the metrics ``report.py`` emits.
2. Every workload runs end to end at tiny size, untraced and traced,
   through ``run.py``, and prints exactly the declared metrics.
3. Each workload's check accepts its real output and rejects a corrupted
   copy: one altered extracted string, one dropped snapshot key, one
   altered query cell.
4. ``run.py`` fails without printing a result in a directory holding only
   ``BENCHMARK.json`` and the benchmark.
"""

from __future__ import annotations

import copy
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)

import report  # noqa: E402
import workloads  # noqa: E402

SCRATCH = os.path.join(ROOT, ".perfbench", "selftest")


def check_declared_metrics() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as handle:
        declared = json.load(handle)
    end_to_end = {m["name"]: m["unit"] for m in declared["end_to_end"]}
    per_layer = {m["name"]: m["unit"] for m in declared["per_layer"]}
    assert end_to_end == report.END_TO_END, (end_to_end, report.END_TO_END)
    assert per_layer == report.PER_LAYER, set(per_layer) ^ set(report.PER_LAYER)
    assert [w["name"] for w in declared["workloads"]] == list(workloads.WORKLOADS)
    return declared


def run_tiny(workload: str, trace: int, cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [
            sys.executable,
            os.path.join(HERE, "run.py"),
            f"--workload={workload}",
            "--seed=5",
            "--seconds=1",
            f"--trace={trace}",
            "--tiny",
        ],
        cwd=cwd,
        capture_output=True,
        text=True,
        timeout=300,
    )


def check_tiny_runs() -> None:
    for workload in workloads.WORKLOADS:
        for trace, units in ((0, report.END_TO_END), (1, report.PER_LAYER)):
            done = run_tiny(workload, trace)
            assert done.returncode == 0, (workload, trace, done.stderr[-3000:])
            result = json.loads(done.stdout.strip().splitlines()[-1])
            assert set(result) == {"correct", "attempted", "failed", "metrics"}, result
            assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
            assert {k: v["unit"] for k, v in result["metrics"].items()} == units
            print(f"ok  tiny {workload} trace={trace}", flush=True)


def check_negative_cases() -> None:
    """Real tiny outputs pass each check; a one-value corruption fails it."""
    tmp = os.path.join(SCRATCH, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    import worker
    from tracing import Tracer

    cores = len(os.sched_getaffinity(0))
    spark = worker.start_session(SCRATCH, cores)
    try:
        for kind, corrupt in (
            (workloads.Extract, _alter_extracted_text),
            (workloads.Resume, _drop_snapshot_key),
            (workloads.Queries, _alter_query_cell),
        ):
            name = kind.name
            workload = kind(5, True, os.path.join(SCRATCH, name), cores)
            if name == "queries":
                workload.order = ["dsir_importance"]
            workload.materialize()
            workload.open(spark)
            if kind is workloads.Resume:
                workload.cycle(spark, Tracer(False))
            else:
                for task in workload.tasks():
                    task.run(Tracer(False))
            outputs = workload.outputs(spark)
            assert workload.verify(outputs) == {}, (name, workload.verify(outputs))
            broken = corrupt(copy.deepcopy(outputs))
            failures = workload.verify(broken)
            assert failures, f"{name}: corrupted output passed the check"
            print(f"ok  {name} check rejects a corrupted output: {failures}", flush=True)
    finally:
        spark.stop()


def _alter_extracted_text(outputs: dict) -> dict:
    rows = outputs["extract_pages"]
    index = next(i for i, row in enumerate(rows) if row[2])
    url, number, text, error_type = rows[index]
    rows[index] = (url, number, text + " altered", error_type)
    return outputs


def _drop_snapshot_key(outputs: dict) -> dict:
    cycle = next(iter(outputs.values()))
    cycle["rows_per_url"].pop(next(iter(cycle["rows_per_url"])))
    return outputs


def _alter_query_cell(outputs: dict) -> dict:
    columns, rows = outputs["results"]["dsir_importance"]
    first = list(rows[0])
    position = next(i for i, value in enumerate(first) if isinstance(value, (int, float)))
    first[position] = first[position] + 1
    rows[0] = tuple(first)
    return outputs


def check_fails_without_program() -> None:
    bare = os.path.join(SCRATCH, "bare")
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"), ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    done = run_tiny("extract", 0, cwd=bare)
    assert done.returncode != 0 and not done.stdout.strip(), (done.returncode, done.stdout)
    shutil.rmtree(bare)
    print("ok  fails without a result where the program is absent", flush=True)


def main() -> None:
    check_declared_metrics()
    print("ok  BENCHMARK.json matches the emitted metric names", flush=True)
    check_fails_without_program()
    check_negative_cases()
    check_tiny_runs()
    shutil.rmtree(SCRATCH, ignore_errors=True)
    print("selftest passed")


if __name__ == "__main__":
    main()
