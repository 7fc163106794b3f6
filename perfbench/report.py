# -*- coding: utf-8 -*-
"""Metric names and units, and the per-layer metrics of a traced run.

Every workload reports every metric. A layer a workload does not probe
reads 0 there (``functions.*`` and ``snapshots.*`` outside ``extract``,
``queries.*`` / ``dedup.*`` / ``textstats.*`` / ``packing.*`` outside
``queries``).
"""

from __future__ import annotations

import statistics
from typing import Dict, List

from tracing import EventLog, Tracer

END_TO_END = {
    "part_a_docs_per_s": "docs/s",
    "part_b_docs_per_s": "docs/s",
    "setup_s": "s",
    "cold_setup_s": "s",
}

QUERY_NAMES = (
    "web_curation_pipeline",
    "semantic_dedup",
    "ivf_pq_search",
    "bpe_encode",
    "lexical_index_search",
    "classifier_inference",
    "dsir_importance",
    "split_leakage",
    "incremental_near_dup",
    "countmin_heavy_hitters",
)

PER_LAYER = {
    "trace.overhead_frac": "ratio",
    "trace.coverage_frac": "ratio",
    "trace.untraced_docs_per_s": "docs/s",
    "trace.traced_docs_per_s": "docs/s",
    "functions.html_us_per_doc": "us",
    "functions.pdf_us_per_page": "us",
    "functions.langid_us_per_doc": "us",
    "functions.response_json_us_per_page": "us",
    "functions.kernel_docs_per_s": "docs/s",
    "functions.kernel_typed_docs_per_s": "docs/s",
    "functions.payload_bytes": "bytes",
    "functions.pages_out": "count",
    "functions.error_docs": "count",
    "pages.python_run_s": "s",
    "pages.python_start_s": "s",
    "pages.python_init_s": "s",
    "pages.bytes_to_python": "bytes",
    "pages.bytes_from_python": "bytes",
    "pages.identity_s": "s",
    "pages.kernel_s": "s",
    "pages.overhead_s": "s",
    "pages.json_docs_per_s": "docs/s",
    "pages.typed_docs_per_s": "docs/s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.cpu_per_run": "ratio",
    "spark.gc_s": "s",
    "spark.shuffle_write_bytes": "bytes",
    "spark.shuffle_read_bytes": "bytes",
    "spark.input_bytes": "bytes",
    "spark.output_bytes": "bytes",
    "logs.error_lines": "count",
    "logs.row_warning_lines": "count",
    "memory.peak_rss_mb": "MB",
    "snapshots.docs_per_s": "docs/s",
    "snapshots.anti_join_s": "s",
    "snapshots.commit_s": "s",
    "snapshots.verify_s": "s",
    "snapshots.compact_s": "s",
    "snapshots.read_bytes_per_new_doc": "bytes",
    "snapshots.files_written": "count",
    "snapshots.bytes_written": "bytes",
    "snapshots.bytes_per_text_byte": "ratio",
    "textstats.gopher_s": "s",
    "dedup.exact_keep_first_s": "s",
    "dedup.candidate_pairs": "count",
    "dedup.near_dup_pairs": "count",
    "dedup.near_dup_pairs_s": "s",
    "dedup.clusters_s": "s",
    "dedup.clusters_jobs": "count",
    "packing.pack_s": "s",
    "queries.total_s": "s",
    "driver.plan_s": "s",
}
for _name in QUERY_NAMES:
    PER_LAYER[f"queries.{_name}.build_s"] = "s"
    PER_LAYER[f"queries.{_name}.build_jobs"] = "count"
    PER_LAYER[f"queries.{_name}.exec_s"] = "s"

# plan nodes that cross the Python↔JVM boundary
PYTHON_NODES = (
    "MapInArrow",
    "MapInPandas",
    "ArrowEvalPython",
    "BatchEvalPython",
    "FlatMapGroupsInPandas",
    "FlatMapGroupsInArrow",
    "AggregateInPandas",
    "WindowInPandas",
)
_PYTHON_METRICS = {
    "pages.python_run_s": "time to run Python workers",
    "pages.python_start_s": "time to start Python workers",
    "pages.python_init_s": "time to initialize Python workers",
    "pages.bytes_to_python": "data sent to Python workers",
    "pages.bytes_from_python": "data returned from Python workers",
}
# which kernel rate an operation's documents go through
_KERNEL_RATE = {
    "extract_pages": "functions.kernel_docs_per_s",
    "extract_pages_typed": "functions.kernel_typed_docs_per_s",
}


def _seconds(span: dict) -> float:
    return span["end"] - span["start"]


def _median(values: List[float]) -> float:
    return statistics.median(values) if values else 0.0


def docs_per_s(rounds: List[list]) -> float:
    """Median over rounds of documents per wall-clock second."""
    return _median([sum(op.docs for op in r) / sum(op.seconds for op in r) for r in rounds])


def part_rates(rounds: List[list], parts: Dict[str, tuple]) -> Dict[str, float]:
    """``<part>_docs_per_s``: per part, the median over rounds of the
    part's operations' documents per second of their summed wall time."""
    return {
        f"{part}_docs_per_s": docs_per_s([[op for op in r if op.kind in kinds] for r in rounds])
        for part, kinds in parts.items()
    }


def pair_overhead(untraced: list, traced: list) -> float:
    """Median over back-to-back pairs of traced ÷ untraced seconds,
    minus 1. The side that runs a plan first pays its cold-start cost; the
    order flips from pair to pair, and the median keeps the first plan of
    the session from deciding the figure, as it does a ratio of summed
    times. Where each plan runs in one pair only (``queries``), warm-up
    still outweighs the spans: see ``DESIGN.md``."""
    ratios = [
        t.seconds / u.seconds
        for u, t in zip(untraced, traced)
        if not u.error and not t.error and u.seconds > 0
    ]
    return _median(ratios) - 1 if ratios else 0.0


def _within(tracer: Tracer, name: str, outer: dict) -> List[dict]:
    return [
        s
        for s in tracer.named(name)
        if outer["start"] <= s["start"] and s["end"] <= outer["end"]
    ]


def per_layer(
    tracer: Tracer,
    events: EventLog,
    ops: list,
    layer_ops: list,
    rates: Dict[str, float],
    kernels: Dict[str, float],
    workload,
) -> Dict[str, float]:
    m = {name: 0.0 for name in PER_LAYER}
    root = tracer.named("traced")[0]
    measure = tracer.named("measure")[0]

    m["trace.untraced_docs_per_s"] = rates["untraced"]
    m["trace.traced_docs_per_s"] = rates["traced"]
    m["trace.overhead_frac"] = rates["overhead"]
    m["trace.coverage_frac"] = sum(
        _seconds(s) for s in tracer.children(root["id"])
    ) / _seconds(root)
    m.update(kernels)

    # Spark stages and the Python boundary of the traced operations (the
    # untraced ones between them have no span)
    op_spans = tracer.children(measure["id"])
    jobs = [j for s in op_spans for j in events.jobs_between(s["start"], s["end"])]
    totals = events.stage_totals(jobs)
    m["spark.jobs"] = len(jobs)
    m["spark.stages"] = totals["stages"]
    m["spark.tasks"] = totals["tasks"]
    m["spark.executor_run_s"] = totals["run_s"]
    m["spark.executor_cpu_s"] = totals["cpu_s"]
    m["spark.cpu_per_run"] = totals["cpu_s"] / totals["run_s"] if totals["run_s"] else 0.0
    m["spark.gc_s"] = totals["gc_s"]
    for key in ("shuffle_write_bytes", "shuffle_read_bytes", "input_bytes", "output_bytes"):
        m[f"spark.{key}"] = totals[key]
    executions = [e for s in op_spans for e in events.executions_between(s["start"], s["end"])]
    python = events.node_metric_totals(PYTHON_NODES, executions)
    for key, metric_name in _PYTHON_METRICS.items():
        m[key] = python.get(metric_name, 0.0)
    m["pages.identity_s"] = _median([_seconds(s) for s in tracer.named("pages.identity")])
    m["pages.kernel_s"] = sum(
        op.docs / kernels[_KERNEL_RATE[op.kind]] for op in ops if op.kind in _KERNEL_RATE
    )
    if m["pages.python_run_s"]:
        m["pages.overhead_s"] = m["pages.python_run_s"] - m["pages.kernel_s"]
    m["pages.json_docs_per_s"] = _median(
        [op.docs / op.seconds for op in ops if op.kind == "extract_pages"]
    )
    m["pages.typed_docs_per_s"] = _median(
        [op.docs / op.seconds for op in ops if op.kind == "extract_pages_typed"]
    )

    resume = getattr(workload, "resume", None)
    if resume is not None:
        _snapshots(m, tracer, events, tracer.named("layers")[0], layer_ops, resume)
    _curation(m, tracer, events)
    _queries(m, tracer, events, measure, ops)
    return m


def _snapshots(m, tracer, events, window, ops, resume) -> None:
    """The resume cycles ``extract``'s traced run makes after its measured
    window. Each ``run_with_snapshot_resume`` call runs its commit
    (anti-join + extraction + parquet write) as one SQL execution, then two
    verify counts: split an increment's time by those executions."""
    increments = _within(tracer, "increment", window)
    n_cycles = len([op for op in ops if op.kind == "compact"])
    if not increments or not n_cycles:
        return
    commit = verify = 0.0
    increment_jobs = []
    for span in increments:
        executions = events.executions_between(span["start"], span["end"])
        commit += events.execution_seconds(executions[:1])
        verify += events.execution_seconds(executions[1:])
        increment_jobs.extend(events.jobs_between(span["start"], span["end"]))
    new_docs = sum(op.docs for op in ops if op.kind == "increment")
    m["snapshots.docs_per_s"] = docs_per_s(resume.rounds(ops))
    m["snapshots.commit_s"] = commit / n_cycles
    m["snapshots.verify_s"] = verify / n_cycles
    m["snapshots.anti_join_s"] = sum(_seconds(s) for s in tracer.named("snapshots.anti_join"))
    m["snapshots.compact_s"] = _median([_seconds(s) for s in _within(tracer, "compact", window)])
    m["snapshots.read_bytes_per_new_doc"] = (
        events.stage_totals(increment_jobs)["input_bytes"] / new_docs
    )
    last = resume.cycles[-1]
    m["snapshots.files_written"] = last["files_written"]
    m["snapshots.bytes_written"] = last["bytes_written"]
    m["snapshots.bytes_per_text_byte"] = last["bytes_written"] / resume.text_bytes()


def _curation(m, tracer, events) -> None:
    spans = {
        "textstats.gopher_s": "textstats.gopher_quality_table",
        "dedup.exact_keep_first_s": "dedup.exact_dedup_keep_first",
        "dedup.near_dup_pairs_s": "dedup.near_dup_pairs",
        "dedup.clusters_s": "dedup.near_dup_clusters",
        "packing.pack_s": "packing.pack_sequences",
    }
    for metric, span_name in spans.items():
        found = tracer.named(span_name)
        if found:
            m[metric] = _seconds(found[0])
    for metric, span_name in (
        ("dedup.candidate_pairs", "dedup.minhash_candidate_pairs"),
        ("dedup.near_dup_pairs", "dedup.near_dup_pairs"),
    ):
        found = tracer.named(span_name)
        if found:
            m[metric] = found[0]["count"]
    clusters = tracer.named("dedup.near_dup_clusters")
    if clusters:
        m["dedup.clusters_jobs"] = len(events.jobs_between(clusters[0]["start"], clusters[0]["end"]))


def _queries(m, tracer, events, measure, ops) -> None:
    query_ops = [op for op in ops if op.kind in QUERY_NAMES]
    if not query_ops:
        return
    n_passes = len(query_ops) / len(QUERY_NAMES)
    m["queries.total_s"] = sum(op.seconds for op in query_ops) / n_passes
    plan = 0.0
    for name in QUERY_NAMES:
        build = exec_ = jobs = 0.0
        for span in _within(tracer, name, measure):
            parts = {child["name"]: child for child in tracer.children(span["id"])}
            if "build" in parts:
                build += _seconds(parts["build"])
                jobs += len(events.jobs_between(parts["build"]["start"], parts["build"]["end"]))
            if "exec" in parts:
                exec_ += _seconds(parts["exec"])
            if "plan" in parts:
                plan += _seconds(parts["plan"])
        m[f"queries.{name}.build_s"] = build / n_passes
        m[f"queries.{name}.build_jobs"] = jobs / n_passes
        m[f"queries.{name}.exec_s"] = exec_ / n_passes
    m["driver.plan_s"] = plan / n_passes
