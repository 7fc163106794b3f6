#!/usr/bin/env python3
# -*- coding: utf-8 -*-
"""The repo benchmark. Run from the root of a checkout:

    python3 perfbench/run.py --workload {extract,queries} \\
        --seed N --seconds S --trace {0,1}

Runs one workload at ``local[<cores>]`` in a child process whose output
(Spark's log included) goes to ``.perfbench/logs/``, samples the memory of
the child's whole process tree from ``/proc`` (reported by traced runs),
and prints one JSON line:
``{"correct", "attempted", "failed", "metrics"}`` — the end-to-end metrics
with ``--trace 0``, the per-layer metrics with ``--trace 1``. Exits 0 only
when every operation succeeded and every output check passed.

Everything it writes stays under ``.perfbench/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import report  # noqa: E402
import tracing  # noqa: E402

WORKLOADS = ("extract", "queries")
CHILD_TIMEOUT_S = 160
EXIT_GRACE_S = 15


def program_present(root: str) -> bool:
    return os.path.isfile(os.path.join(root, "__spark_entry__.py")) and os.path.isdir(
        os.path.join(root, "dss_plugin_google_cloud_vision_spark")
    )


def stop_all(sampler: tracing.RssSampler) -> None:
    """Wait for every process of the run to end; kill what outlives the
    grace period."""
    deadline = time.monotonic() + EXIT_GRACE_S
    while sampler.alive() and time.monotonic() < deadline:
        time.sleep(0.2)
    for pid in sampler.alive():
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    while sampler.alive():
        time.sleep(0.1)


def main() -> int:
    parser = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    parser.add_argument("--workload", required=True, choices=WORKLOADS)
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=float, required=True)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    parser.add_argument("--tiny", action="store_true", help="self-test sizes")
    args = parser.parse_args()

    root = os.getcwd()
    if not program_present(root):
        print(f"{root} is not a checkout of the program", file=sys.stderr)
        return 2

    label = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    base = os.path.join(root, ".perfbench")
    work = os.path.join(base, f"{label}-{os.getpid()}")
    log_dir = os.path.join(base, "logs")
    for path in (os.path.join(work, "tmp"), log_dir):
        os.makedirs(path, exist_ok=True)
    log_path = os.path.join(log_dir, f"{label}.log")
    out_path = os.path.join(work, "result.json")
    cores = len(os.sched_getaffinity(0))

    env = dict(os.environ)
    env.update(
        TMPDIR=os.path.join(work, "tmp"),
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
    )
    command = [
        sys.executable,
        os.path.join(HERE, "worker.py"),
        f"--workload={args.workload}",
        f"--seed={args.seed}",
        f"--seconds={args.seconds}",
        f"--trace={args.trace}",
        f"--cores={cores}",
        f"--work={work}",
        f"--out={out_path}",
    ] + (["--tiny"] if args.tiny else [])

    with open(log_path, "w") as log:
        child = subprocess.Popen(command, stdout=log, stderr=subprocess.STDOUT, env=env, cwd=root)
        with tracing.RssSampler(child.pid) as sampler:
            try:
                child.wait(timeout=CHILD_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                print(f"{label}: no result within {CHILD_TIMEOUT_S}s", file=sys.stderr)
                child.kill()
                child.wait()
            stop_all(sampler)

    if child.returncode != 0 or not os.path.exists(out_path):
        print(f"{label}: worker failed (exit {child.returncode}); log {log_path}", file=sys.stderr)
        with open(log_path, errors="replace") as handle:
            sys.stderr.write("".join(handle.readlines()[-40:]))
        return 1
    with open(out_path) as handle:
        result = json.load(handle)
    spans = os.path.join(work, "spans.json")
    if os.path.exists(spans):
        shutil.copy(spans, os.path.join(log_dir, f"{label}.spans.json"))
    shutil.rmtree(work, ignore_errors=True)

    if args.trace:
        values = dict(result["metrics"])
        values.update({f"logs.{k}": v for k, v in tracing.count_log_lines(log_path).items()})
        values["memory.peak_rss_mb"] = sampler.peak / 2**20
        units = report.PER_LAYER
    else:
        values = result["metrics"]
        units = report.END_TO_END
    with open(log_path, errors="replace") as handle:
        for line in handle:
            if line.startswith(("operation ", "check failed")):
                sys.stderr.write(line)
    print(
        json.dumps(
            {
                "correct": result["correct"],
                "attempted": result["attempted"],
                "failed": result["failed"],
                "metrics": {
                    name: {"value": values[name], "unit": unit} for name, unit in units.items()
                },
            }
        )
    )
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
