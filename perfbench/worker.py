# -*- coding: utf-8 -*-
"""One benchmark run, in the child process ``run.py`` starts with its
output captured to a log file. Writes the run's result as JSON to
``--out``; prints nothing of its own.

Untraced run: set up ``SETUP_ROUNDS`` times (session start or restart,
input materialization, worker warm-up) and report the median, and the
first round, the only one that launches the JVM, on its own; then run the
workload's operations in a closed loop for ``--seconds``, then check the
outputs.

Traced run: one session with Spark's event log on. In its window every
operation runs twice, once untraced and once with spans, the order
flipping from one operation to the next so that warm-up favours neither
side; the pairs give the tracing overhead. Then the layer
probes run, each a span.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

SETUP_ROUNDS = 3


def start_session(work_dir: str, cores: int, event_log_dir: str | None = None):
    from dss_plugin_google_cloud_vision_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        # the inputs are a few MB: small splits keep every core busy
        "spark.sql.files.maxPartitionBytes": "2m",
        "spark.sql.files.openCostInBytes": "512k",
        "spark.local.dir": os.path.join(work_dir, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work_dir, "warehouse"),
        # JVM temp files inside the checkout; no hsperfdata file in /tmp
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData",
    }
    if event_log_dir:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": event_log_dir,
                # Spark 4 compresses with zstd by default; Python cannot read it here
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return get_spark(
        app_name="perfbench", cores=cores, shuffle_partitions=str(cores), extra_conf=conf
    )


def measure(workload, tracer, seconds: float) -> list:
    """Closed loop, one operation in flight: rounds until ``seconds``
    have passed (at least one round)."""
    from workloads import run_task

    ops = []
    started = time.perf_counter()
    while not ops or time.perf_counter() - started < seconds:
        ops.extend(run_task(task, tracer) for task in workload.tasks())
    return ops


def measure_interleaved(workload, tracer, seconds: float) -> tuple:
    """``measure`` with each operation run untraced and traced back to
    back, in alternating order. Returns (untraced ops, traced ops)."""
    from tracing import Tracer
    from workloads import run_task

    untraced, traced = [], []
    sides = [(Tracer(False), untraced), (tracer, traced)]
    started = time.perf_counter()
    while not traced or time.perf_counter() - started < seconds:
        for task in workload.tasks():
            for side_tracer, ops in sides:
                ops.append(run_task(task, side_tracer))
            sides.reverse()
    return untraced, traced


def verdict(ops: list, failures: dict) -> dict:
    failed = [op for op in ops if op.error or op.group in failures]
    for op in ops:
        print(f"op {op.group} {op.kind} docs={op.docs} seconds={op.seconds:.4f}", file=sys.stderr)
        if op.error:
            print(f"operation {op.kind} failed: {op.error}", file=sys.stderr)
    for group, problem in failures.items():
        print(f"check failed for {group}: {problem}", file=sys.stderr)
    return {
        "correct": not failed and not failures,
        "attempted": len(ops),
        "failed": len(failed),
    }


def run_untraced(args, workload, tracing) -> dict:
    import report

    setups = []
    spark = None
    for _ in range(SETUP_ROUNDS):
        started = time.perf_counter()
        if spark is not None:
            spark.stop()
        spark = start_session(args.work, args.cores)
        workload.materialize()
        workload.open(spark)
        workload.warm(spark)
        setups.append(time.perf_counter() - started)
        print(f"setup round {len(setups)}: {setups[-1]:.3f} s", file=sys.stderr)
    ops = measure(workload, tracing.Tracer(False), args.seconds)
    rounds = workload.rounds(ops)
    failures = workload.verify(workload.outputs(spark))
    spark.stop()
    return {
        **verdict(ops, failures),
        "metrics": {
            **report.part_rates(rounds, workload.parts),
            "setup_s": statistics.median(setups),
            "cold_setup_s": setups[0],
        },
    }


def run_traced(args, workload, tracing) -> dict:
    import kernels
    import report

    event_dir = os.path.join(args.work, "eventlog")
    os.makedirs(event_dir)
    tracer = tracing.Tracer(True)
    with tracer.span("traced"):
        with tracer.span("session"):
            spark = start_session(args.work, args.cores, event_dir)
        with tracer.span("warm"):
            workload.materialize()
            workload.open(spark)
            workload.warm(spark)
        with tracer.span("measure"):
            reference, ops = measure_interleaved(workload, tracer, args.seconds)
        with tracer.span("check"):
            failures = workload.verify(workload.outputs(spark))
        with tracer.span("layers"):
            layer_ops, layer_failures = workload.layers(spark, tracer)
        with tracer.span("stop"):
            spark.stop()
    tracer.write(os.path.join(args.work, "spans.json"))

    events = tracing.EventLog(tracing.find_event_log(event_dir))
    metrics = report.per_layer(
        tracer,
        events,
        ops,
        layer_ops,
        {
            "untraced": report.docs_per_s(workload.rounds(reference)),
            "traced": report.docs_per_s(workload.rounds(ops)),
            "overhead": report.pair_overhead(reference, ops),
        },
        kernels.kernel_metrics(args.seed) if workload.name == "extract" else {},
        workload,
    )
    result = verdict(reference + ops + layer_ops, {**failures, **layer_failures})
    return {**result, "metrics": metrics}


def main() -> None:
    parser = argparse.ArgumentParser()
    parser.add_argument("--workload", required=True)
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=float, required=True)
    parser.add_argument("--trace", type=int, choices=(0, 1), required=True)
    parser.add_argument("--tiny", action="store_true")
    parser.add_argument("--cores", type=int, required=True)
    parser.add_argument("--work", required=True)
    parser.add_argument("--out", required=True)
    args = parser.parse_args()

    import tracing
    import workloads

    workload = workloads.WORKLOADS[args.workload](args.seed, args.tiny, args.work, args.cores)
    if args.trace:
        result = run_traced(args, workload, tracing)
    else:
        result = run_untraced(args, workload, tracing)
    print(f"inputs {json.dumps(workload.input_sizes())}", file=sys.stderr)
    with open(args.out, "w") as handle:
        json.dump(result, handle)


if __name__ == "__main__":
    main()
