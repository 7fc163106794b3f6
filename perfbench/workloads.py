# -*- coding: utf-8 -*-
"""The benchmark's workloads. Each one:

- ``materialize()`` writes its seeded inputs as parquet, driver-side
  (no Spark), so the program only ever reads generated files;
- ``open(spark)`` / ``warm(spark)`` bind lazy readers and run a small job
  that starts the Python workers;
- ``tasks()`` lists one closed-loop round of operations, each a ``Task``
  whose ``run(tracer)`` runs it (one job in flight); ``run_task`` times it
  into an ``Op``;
- ``outputs(spark)`` collects what the operations produced, outside the
  timed region, and ``verify(outputs)`` checks it against analytic truth
  or the DuckDB oracle, returning ``{group: problem}`` for every failure;
- ``layers(spark, tracer)`` (traced runs only) times each layer's public
  calls on materialized inputs and returns the probes' own operations and
  check failures.
"""

from __future__ import annotations

import os
import shutil
import time
from typing import Callable, Dict, List, NamedTuple, Optional, Tuple

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

import datagen
import oracle_check
from report import QUERY_NAMES
from tracing import Tracer

from dss_plugin_google_cloud_vision_spark.functions.response import RESPONSE_DDL
from dss_plugin_google_cloud_vision_spark.operators.pages import (
    extract_pages,
    extract_pages_typed,
)
from dss_plugin_google_cloud_vision_spark.sources.pages import (
    KIND_BADPDF,
    KIND_PDF,
    expected_page,
    make_page,
)
from dss_plugin_google_cloud_vision_spark.sources.snapshots import (
    SnapshotLog,
    remaining_inputs_snapshot,
    run_with_snapshot_resume,
)

_ERRORS = "dss_plugin_google_cloud_vision_spark.errors."
SPLIT_ERROR = _ERRORS + "DocumentSplitError"
EXTRACTION_ERROR = _ERRORS + "ExtractionError"


class Op(NamedTuple):
    group: str  # unit a correctness check passes or fails as a whole
    kind: str
    docs: int
    seconds: float
    error: Optional[str]


class Task(NamedTuple):
    group: str
    kind: str
    docs: int
    run: Callable[[Tracer], object]


def noop(df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()


def worker_package(spark: SparkSession) -> str:
    """Where a Python worker imports the program's package from."""

    def where(_):
        import dss_plugin_google_cloud_vision_spark as package

        yield package.__file__

    return spark.sparkContext.parallelize([0], 1).mapPartitions(where).collect()[0]


def timed(tracer: Tracer, group: str, kind: str, docs: int, call: Callable[[], object]) -> Op:
    """Run one operation; an exception fails it instead of the run."""
    with tracer.span(kind):
        started = time.perf_counter()
        try:
            call()
            error = None
        except Exception as exc:  # noqa: BLE001 — counted in failed/attempted
            error = f"{type(exc).__name__}: {str(exc)[:300]}"
        return Op(group, kind, docs, time.perf_counter() - started, error)


def run_task(task: Task, tracer: Tracer) -> Op:
    return timed(tracer, task.group, task.kind, task.docs, lambda: task.run(tracer))


def _pages_table(rows: List[dict]) -> pa.Table:
    return pa.table(
        {
            "url": pa.array([r["url"] for r in rows], type=pa.string()),
            "warc_ts": pa.array([r["warc_ts"] for r in rows], type=pa.timestamp("us", tz="UTC")),
            "html": pa.array([r["html"] for r in rows], type=pa.binary()),
            "text": pa.array([r["text"] for r in rows], type=pa.string()),
            "lang": pa.array([r["lang"] for r in rows], type=pa.string()),
        }
    )


def write_pages(rows: List[dict], out_dir: str, n_files: int) -> None:
    """``sources.pages`` rows as ``n_files`` parquet files, so a scan has
    at least one split per core."""
    os.makedirs(out_dir)
    step = max(1, -(-len(rows) // n_files))
    for part, start in enumerate(range(0, len(rows), step)):
        pq.write_table(
            _pages_table(rows[start : start + step]),
            os.path.join(out_dir, f"part-{part:03d}.parquet"),
        )


def expected_pages(n_pages: int, seed: int) -> Dict[tuple, tuple]:
    """(url, page_number) → (text, error_type) for every output row the
    extraction stage must emit, from ``sources.pages``' analytic truth."""
    truth = {}
    for i in range(n_pages):
        page = expected_page(i, seed)
        if page["is_error"]:
            kind = SPLIT_ERROR if page["kind"] == KIND_BADPDF else EXTRACTION_ERROR
            truth[(page["url"], None)] = (None, kind)
        elif page["kind"] == KIND_PDF:
            for number, text in enumerate(page["page_texts"], start=1):
                truth[(page["url"], number)] = (text, "")
        else:
            truth[(page["url"], None)] = (page["page_texts"][0], "")
    return truth


def compare_rows(rows: List[tuple], truth: Dict[tuple, tuple]) -> Optional[str]:
    """rows: (url, page_number, text, error_type) as the stage emitted them."""
    got = {}
    for url, number, text, error_type in rows:
        key = (url, number)
        if key in got:
            return f"duplicate output row {key}"
        got[key] = (None if error_type else text, error_type or "")
    if got.keys() != truth.keys():
        missing = sorted(truth.keys() - got.keys(), key=str)[:3]
        extra = sorted(got.keys() - truth.keys(), key=str)[:3]
        return f"row keys differ: missing {missing}, unexpected {extra}"
    for key, want in truth.items():
        if got[key] != want:
            return f"{key}: got {got[key]!r:.120}, want {want!r:.120}"
    return None


def _dir_files(path: str) -> List[str]:
    return [
        os.path.join(root, name)
        for root, _, names in os.walk(path)
        for name in names
        if name.endswith(".parquet")
    ]


class Workload:
    name = ""

    def __init__(self, seed: int, tiny: bool, work_dir: str, cores: int):
        self.seed = seed
        self.tiny = tiny
        self.work_dir = work_dir
        self.cores = cores
        self.input_dir = os.path.join(work_dir, "input")

    def materialize(self) -> None:
        shutil.rmtree(self.input_dir, ignore_errors=True)
        self._write_inputs()

    def _write_inputs(self) -> None:
        raise NotImplementedError

    def open(self, spark: SparkSession) -> None:
        raise NotImplementedError

    def warm(self, spark: SparkSession) -> None:
        raise NotImplementedError

    def tasks(self) -> List[Task]:
        raise NotImplementedError

    def rounds(self, ops: List[Op]) -> List[List[Op]]:
        """The ops the throughput is a median over, grouped by round; a
        round with a failed op is left out."""
        raise NotImplementedError

    # end-to-end part name → the operation kinds whose throughput it is
    parts: Dict[str, Tuple[str, ...]] = {}

    def outputs(self, spark: SparkSession):
        raise NotImplementedError

    def verify(self, outputs) -> Dict[str, str]:
        raise NotImplementedError

    def layers(self, spark: SparkSession, tracer: Tracer) -> Tuple[List[Op], Dict[str, str]]:
        """Traced runs only: extra per-layer probes, recorded as spans."""
        return [], {}

    def input_sizes(self) -> Dict[str, int]:
        raise NotImplementedError


class Extract(Workload):
    """Both extraction paths over one seeded pages table: nearly all time
    is in ``functions`` and the ``operators.pages`` Arrow boundary, with
    zero shuffle. Its traced run also probes the snapshot layer with
    ``Resume`` cycles."""

    name = "extract"
    PATHS = ("extract_pages", "extract_pages_typed")
    parts = {"part_a": ("extract_pages",), "part_b": ("extract_pages_typed",)}

    def __init__(self, *args):
        super().__init__(*args)
        self.n_pages = 120 if self.tiny else 2000

    def _write_inputs(self) -> None:
        rows = [make_page(i, self.seed) for i in range(self.n_pages)]
        self.payload_bytes = sum(len(r["html"]) for r in rows)
        write_pages(rows, self.input_dir, 4 * self.cores)

    def input_sizes(self) -> Dict[str, int]:
        return {"docs": self.n_pages, "payload_bytes": self.payload_bytes}

    def open(self, spark):
        self.pages = spark.read.parquet(self.input_dir)

    def _build(self, path: str) -> DataFrame:
        if path == "extract_pages":
            return extract_pages(self.pages, drop_payload=True)
        return extract_pages_typed(self.pages)

    def warm(self, spark):
        sample = self.pages.sample(fraction=0.05, seed=0)
        noop(extract_pages(sample, drop_payload=True))
        noop(extract_pages_typed(sample))

    def tasks(self):
        return [
            Task(path, path, self.n_pages, lambda _, path=path: noop(self._build(path)))
            for path in self.PATHS
        ]

    def rounds(self, ops):
        """One pass of each path per round. The first round is a warm-up
        (the JIT is still compiling the stage) and is checked but not
        counted, unless it is the only one."""
        pairs = [[a, b] for a, b in zip(ops[0::2], ops[1::2]) if not a.error and not b.error]
        return pairs[1:] or pairs

    def outputs(self, spark):
        json_text = F.from_json("content_api_response", RESPONSE_DDL)["fullTextAnnotation"]["text"]
        json_rows = self._build("extract_pages").select(
            "url", "page_number", json_text, "content_api_error_type"
        )
        typed_rows = self._build("extract_pages_typed").select(
            "url", "page_number", "extracted_text", "error_type"
        )
        return {
            "extract_pages": [tuple(r) for r in json_rows.collect()],
            "extract_pages_typed": [tuple(r) for r in typed_rows.collect()],
        }

    def verify(self, outputs):
        truth = expected_pages(self.n_pages, self.seed)
        failures = {}
        for path, rows in outputs.items():
            problem = compare_rows(rows, truth)
            if problem:
                failures[path] = problem
        return failures

    def layers(self, spark, tracer):
        # the boundary floor: the same input through an identity mapInArrow
        for _ in range(3):
            with tracer.span("pages.identity"):
                noop(self.pages.mapInArrow(lambda batches: batches, self.pages.schema))
        # the snapshot layer: resume cycles over the first pages of the same
        # generator, in their own directory
        self.resume = Resume(self.seed, self.tiny, os.path.join(self.work_dir, "resume"), self.cores)
        with tracer.span("snapshots.setup"):
            self.resume.materialize()
            self.resume.open(spark)
            self.resume.warm(spark)
        ops = []
        for _ in range(self.resume.CYCLES):
            ops.extend(self.resume.cycle(spark, tracer))
        self.resume.time_anti_join(spark, tracer)
        with tracer.span("snapshots.check"):
            failures = self.resume.verify(self.resume.outputs(spark))
        return ops, failures


class Resume(Workload):
    """The snapshot-layer probe of ``extract``'s traced run: pages offered
    in K growing seeded slices to ``run_with_snapshot_resume`` on the typed
    path, then compaction, snapshot expiry and orphan removal — extraction
    beside an anti-join, parquet writes, manifest publishes and a growing
    table re-read every increment."""

    name = "resume"
    CYCLES = 2

    def __init__(self, *args):
        super().__init__(*args)
        self.n_pages, self.increments = (90, 3) if self.tiny else (1000, 4)
        self.bounds = datagen.resume_bounds(self.n_pages, self.increments, self.seed)
        self.cycles: List[dict] = []

    def _write_inputs(self) -> None:
        rows = [make_page(i, self.seed) for i in range(self.n_pages)]
        self.chunk_dirs = []
        start = 0
        for j, end in enumerate(self.bounds):
            chunk_dir = os.path.join(self.input_dir, f"chunk-{j}")
            write_pages(rows[start:end], chunk_dir, self.cores)
            self.chunk_dirs.append(chunk_dir)
            start = end

    def open(self, spark):
        # increment j is offered every page up to bounds[j]: the pages the
        # log already holds must be skipped by the anti-join
        self.prefixes = [
            spark.read.parquet(*self.chunk_dirs[: j + 1]) for j in range(self.increments)
        ]

    def _cycle_root(self, label: str) -> str:
        root = os.path.join(self.work_dir, "snapshots", label)
        shutil.rmtree(root, ignore_errors=True)
        return root

    def warm(self, spark):
        log = SnapshotLog(self._cycle_root("warm"))
        sample = self.prefixes[0].sample(fraction=0.05, seed=0)
        run_with_snapshot_resume(spark, sample, extract_pages_typed, log, run_id="warm")
        log.compact(spark, target_partitions=self.cores)
        shutil.rmtree(log.root)

    def cycle(self, spark, tracer):
        group = f"cycle{len(self.cycles)}"
        log = SnapshotLog(self._cycle_root(group))
        ops = []
        offered = 0
        for j, prefix in enumerate(self.prefixes):
            ops.append(
                timed(
                    tracer,
                    group,
                    "increment",
                    self.bounds[j] - offered,
                    lambda: run_with_snapshot_resume(
                        spark, prefix, extract_pages_typed, log, run_id=f"inc{j}"
                    ),
                )
            )
            offered = self.bounds[j]
        increment_files = _dir_files(log.data_dir)
        increment_bytes = sum(os.path.getsize(path) for path in increment_files)

        def maintain():
            log.compact(spark, target_partitions=self.cores)
            log.expire_snapshots(keep_last=1)
            log.remove_orphans()

        ops.append(timed(tracer, group, "compact", 0, maintain))
        compacted = _dir_files(log.data_dir)
        self.cycles.append(
            {
                "group": group,
                "root": log.root,
                "files_written": len(increment_files) + len(compacted),
                "bytes_written": increment_bytes
                + sum(os.path.getsize(path) for path in compacted),
            }
        )
        return ops

    def rounds(self, ops):
        """One cycle per round: its increments' new pages and the closing
        compaction."""
        cycles = [[op for op in ops if op.group == cycle["group"]] for cycle in self.cycles]
        return [c for c in cycles if c and not any(op.error for op in c)]

    def text_bytes(self) -> int:
        return sum(
            len(expected_page(i, self.seed)["doc_text"].encode("utf-8"))
            for i in range(self.n_pages)
        )

    def outputs(self, spark):
        """Per cycle not yet collected: rows per url in the final snapshot,
        and how many snapshots and data directories survived maintenance."""
        out = {}
        for cycle in self.cycles:
            if not os.path.isdir(cycle["root"]):
                continue
            log = SnapshotLog(cycle["root"])
            table = log.read(spark)
            counts = (
                {r["url"]: r["count"] for r in table.groupBy("url").count().collect()}
                if table is not None
                else {}
            )
            out[cycle["group"]] = {
                "rows_per_url": counts,
                "snapshots": len(log.snapshot_ids()),
                "data_dirs": len(os.listdir(log.data_dir)),
            }
            shutil.rmtree(cycle["root"])
        return out

    def verify(self, outputs):
        want = {}
        for i in range(self.n_pages):
            page = expected_page(i, self.seed)
            want[page["url"]] = max(page["page_count"], 1)
        failures = {}
        for group, got in outputs.items():
            counts = got["rows_per_url"]
            if counts.keys() != want.keys():
                missing = sorted(want.keys() - counts.keys())[:3]
                extra = sorted(counts.keys() - want.keys())[:3]
                failures[group] = f"urls differ: missing {missing}, unexpected {extra}"
            elif counts != want:
                url = next(u for u in want if counts[u] != want[u])
                failures[group] = f"{url}: {counts[url]} rows, want {want[url]}"
            elif got["snapshots"] != 1 or got["data_dirs"] != 1:
                failures[group] = (
                    f"after maintenance {got['snapshots']} snapshots and "
                    f"{got['data_dirs']} data dirs remain, want 1 and 1"
                )
        return failures

    def time_anti_join(self, spark, tracer):
        """One more cycle with the anti-join timed on its own before each
        increment (inside an increment it shares a job with the write)."""
        log = SnapshotLog(self._cycle_root("layers"))
        for j, prefix in enumerate(self.prefixes):
            with tracer.span("snapshots.anti_join"):
                remaining_inputs_snapshot(prefix, spark, log).count()
            run_with_snapshot_resume(spark, prefix, extract_pages_typed, log, run_id=f"inc{j}")
        shutil.rmtree(log.root)


class Queries(Workload):
    """Ten declared ``__spark_entry__.queries()`` entries over one seeded
    table set: the web-curation composition (shuffles, the LSH chain, the
    connected-components loop, checkpoints) and nine entries each covering
    an operator module the extraction workloads skip. Many short plans, so
    driver-side build and plan cost shows. No extraction at all.

    A pass runs the seven entries outside ``operators.dedup`` (part b),
    then the three that go through it (part a), always in the same order:
    the first plan of a session, and the first plan of a part, cost
    seconds more than the same plan later, so a seed-chosen order would
    move that cost from entry to entry and part to part."""

    name = "queries"
    DEDUP = ("web_curation_pipeline", "split_leakage", "incremental_near_dup")

    def __init__(self, *args):
        super().__init__(*args)
        others = tuple(name for name in QUERY_NAMES if name not in self.DEDUP)
        self.order = list(others + self.DEDUP)
        self.parts = {"part_a": self.DEDUP, "part_b": others}
        self.results: Dict[str, tuple] = {}

    def _write_inputs(self) -> None:
        self.rows = datagen.write_table_set(self.input_dir, self.seed, self.tiny)
        self.n_docs = self.rows["docs"]

    def input_sizes(self) -> Dict[str, int]:
        return {
            **self.rows,
            "payload_bytes": sum(
                os.path.getsize(path) for path in _dir_files(self.input_dir)
            ),
        }

    def open(self, spark):
        import __spark_entry__ as entry

        # The entry module ships the package to the workers as a zip at a
        # fixed path under /tmp, written once and reused while it exists;
        # the workers put it ahead of PYTHONPATH. A zip left there by
        # another checkout would make the workers run that checkout's code.
        # The session already carries this checkout on PYTHONPATH, so the
        # session is marked as shipped; ``outputs`` checks where the
        # workers imported the package from.
        entry._PYFILES_SESSIONS.add(id(spark.sparkContext))
        self.spark = spark
        builders = entry.queries()
        self.builders = {name: builders[name] for name in QUERY_NAMES}

    def warm(self, spark):
        docs = spark.read.parquet(os.path.join(self.input_dir, "documents.parquet"))
        docs.groupBy("lang").count().collect()
        noop(docs.mapInArrow(lambda batches: batches, docs.schema))

    def tasks(self):
        return [
            Task(name, name, self.n_docs, lambda tracer, name=name: self._query(name, tracer))
            for name in self.order
        ]

    def _query(self, name: str, tracer: Tracer) -> None:
        with tracer.span("build"):
            df = self.builders[name](self.spark, self.input_dir)
        if tracer.enabled:
            with tracer.span("plan"):
                df._jdf.queryExecution().executedPlan()
        with tracer.span("exec"):
            pdf = df.toPandas()
        self.results[name] = (list(pdf.columns), list(pdf.itertuples(index=False, name=None)))

    def rounds(self, ops):
        """One pass over the entries per round."""
        n = len(self.order)
        passes = [ops[start : start + n] for start in range(0, len(ops) - n + 1, n)]
        return [p for p in passes if not any(op.error for op in p)]

    def outputs(self, spark):
        return {"results": dict(self.results), "worker_package": worker_package(spark)}

    def verify(self, outputs):
        import __spark_entry__ as entry

        oracles = entry.oracle_sql()
        failures = oracle_check.compare_all(
            outputs["results"], {name: oracles[name] for name in self.order}, self.input_dir
        )
        checkout = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        if not outputs["worker_package"].startswith(checkout + os.sep):
            failures["workers"] = f"package imported from {outputs['worker_package']}"
        return failures

    def layers(self, spark, tracer):
        """The web-curation stages one public call at a time, each on a
        materialized input, the way ``plans.web_curation`` chains them."""
        import __spark_entry__ as entry

        from dss_plugin_google_cloud_vision_spark.operators.dedup import (
            exact_dedup_keep_first,
            minhash_candidate_pairs,
            near_dup_clusters,
            near_dup_pairs,
            within_doc_line_dedup_column,
        )
        from dss_plugin_google_cloud_vision_spark.operators.packing import pack_sequences
        from dss_plugin_google_cloud_vision_spark.operators.textstats import (
            gopher_quality_table,
        )

        docs = spark.read.parquet(os.path.join(self.input_dir, "documents.parquet"))
        lines = (
            entry.build_paragraph_corpus(docs)
            .select("doc_id", within_doc_line_dedup_column("text").alias("text"))
            .localCheckpoint(eager=True)
        )
        with tracer.span("textstats.gopher_quality_table"):
            quality = gopher_quality_table(lines, min_words=40).localCheckpoint(eager=True)
        gated = lines.join(
            quality.filter(F.col("keep") == 1).select("doc_id"), "doc_id", "left_semi"
        ).localCheckpoint(eager=True)
        with tracer.span("dedup.exact_dedup_keep_first"):
            exact = exact_dedup_keep_first(gated, "doc_id", "text").localCheckpoint(eager=True)
        with tracer.span("dedup.minhash_candidate_pairs") as span:
            span["count"] = minhash_candidate_pairs(exact, "doc_id", "text").count()
        with tracer.span("dedup.near_dup_pairs") as span:
            pairs = (
                near_dup_pairs(exact, "doc_id", "text", threshold_milli=800)
                .select("doc_a", "doc_b")
                .localCheckpoint(eager=True)
            )
            span["count"] = pairs.count()
        with tracer.span("dedup.near_dup_clusters"):
            clusters = near_dup_clusters(pairs).localCheckpoint(eager=True)
        losers = clusters.filter(F.col("doc_id") != F.col("cluster_id")).select("doc_id")
        final = exact.join(losers, "doc_id", "left_anti").localCheckpoint(eager=True)
        with tracer.span("packing.pack_sequences"):
            noop(pack_sequences(final, budget_tokens=512, group_size=64))
        return [], {}


WORKLOADS = {cls.name: cls for cls in (Extract, Queries)}
