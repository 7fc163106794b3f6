#!/usr/bin/env python
# -*- coding: utf-8 -*-
"""Regenerate PLANS.md's headline sections: formatted physical plans of
the headline operators with scale commentary — the 'is this the plan
you'd want at 100 TB' evidence, regenerated after operator changes.

Only the ``## <title>`` sections this script generates are replaced
(matched by heading); every hand-written line of PLANS.md is kept
byte-identical. Run: ``python tools/dump_plans.py``."""

from __future__ import annotations

import os
import shutil
import sys

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO_ROOT)


def formatted(df) -> str:
    return df._jdf.queryExecution().explainString(
        df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def splice_sections(text: str, sections) -> str:
    """``text`` with each generated section's body replaced: a section runs
    from its ``## <title>`` line to the next ``## `` heading outside a code
    fence. A title not yet in ``text`` is appended at the end."""
    chunks, fenced = [[]], False
    for line in text.splitlines(keepends=True):
        if line.startswith("```"):
            fenced = not fenced
        if not fenced and line.startswith("## "):
            chunks.append([])
        chunks[-1].append(line)
    fresh = {
        f"## {title}\n": f"## {title}\n\n{commentary}\n\n```\n{plan_text.strip()}\n```\n\n"
        for title, commentary, plan_text in sections
    }
    out = [fresh.pop(chunk[0], None) or "".join(chunk) for chunk in chunks if chunk]
    return "".join(out) + "".join(fresh.values())


def main() -> None:
    from pyspark.sql import functions as F

    from dss_plugin_google_cloud_vision_spark.operators.dedup import minhash_candidate_pairs
    from dss_plugin_google_cloud_vision_spark.operators.pages import (
        extract_pages,
        extract_pages_typed,
    )
    from dss_plugin_google_cloud_vision_spark.plans.extract_pipeline import (
        run_extraction_pipeline,
    )
    from dss_plugin_google_cloud_vision_spark.session import get_spark
    from dss_plugin_google_cloud_vision_spark.sources.pages import pages_df
    from dss_plugin_google_cloud_vision_spark.sources.snapshots import (
        SnapshotLog,
        remaining_inputs_snapshot,
    )

    spark = get_spark(app_name="dump-plans", cores=8)
    tmp = "/tmp/plans_pages.parquet"
    pages_df(spark, 256, partitions=4).write.mode("overwrite").parquet(tmp)
    stored = spark.read.parquet(tmp)

    sections = []

    sections.append(
        (
            "Fused extraction stage (scan → mapInArrow → sink)",
            "One narrow stage: parquet scan feeds the Arrow extraction kernel "
            "directly; no Exchange anywhere. Document→page fan-out happens "
            "inside the stage. This is the shape that makes N→4N scaling "
            "near-linear: zero cross-task coordination.",
            formatted(extract_pages(stored, drop_payload=True)),
        )
    )
    sections.append(
        (
            "Typed scale path",
            "Same stage emitting typed columns (no response-JSON serialize + "
            "re-parse downstream).",
            formatted(extract_pages_typed(stored)),
        )
    )
    plan = run_extraction_pipeline(stored)
    sections.append(
        (
            "Full pipeline document merge (the ONLY shuffle)",
            "groupBy(url) for page reassembly is the pipeline's single "
            "Exchange; partial aggregation (ObjectHashAggregate over "
            "collect_list) runs map-side. At 10^12 rows this shuffle moves "
            "extracted text only — the binary payload was dropped in-stage.",
            formatted(plan.documents),
        )
    )
    shutil.rmtree("/tmp/plans_snapshot", ignore_errors=True)
    snapshot = SnapshotLog("/tmp/plans_snapshot")
    snapshot.commit(extract_pages(stored, drop_payload=True))
    sections.append(
        (
            "Resume anti-join",
            "The snapshot side reads ONLY the url column (ReadSchema below) — "
            "resuming against a 100 TB output costs a single-column scan; the "
            "join broadcasts when the done-set is small and AQE re-plans "
            "otherwise.",
            formatted(remaining_inputs_snapshot(stored, spark, snapshot, "url")),
        )
    )
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    sections.append(
        (
            "MinHash-LSH candidate generation",
            "Shingle explode → single aggregation pass computing all minhash "
            "columns (partial_min map-side) → band explode → self equi-join "
            "on (band, band_key). No pairwise work outside buckets.",
            formatted(minhash_candidate_pairs(docs)),
        )
    )

    plans_md = os.path.join(REPO_ROOT, "PLANS.md")
    with open(plans_md) as handle:
        text = handle.read()
    with open(plans_md, "w") as handle:
        handle.write(splice_sections(text, sections))
    print("updated PLANS.md")


if __name__ == "__main__":
    main()
