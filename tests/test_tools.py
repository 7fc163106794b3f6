"""tools/queries.py (static oracle gate, plan normalization) and
tools/check_oracle.py's input check. Only the plan test starts Spark."""

import importlib.util
import re
import subprocess
import sys
from pathlib import Path

import pytest

REPO_ROOT = Path(__file__).resolve().parents[1]
QUERIES_TOOL = REPO_ROOT / "tools" / "queries.py"


def _load_queries_tool():
    spec = importlib.util.spec_from_file_location("queries_tool", QUERIES_TOOL)
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    return module


def _run(*args, **kwargs):
    return subprocess.run(
        [sys.executable, *args], cwd=REPO_ROOT, capture_output=True, text=True, timeout=120, **kwargs
    )


LSH_FAMILY = {
    "near_dup_pairs", "minhash_candidates", "dedup_clusters", "cluster_representatives",
    "hot_bucket_report", "split_leakage", "incremental_near_dup", "web_curation_pipeline",
    "curation_pipeline", "corpus_overlap",
}


@pytest.mark.parametrize(
    "touching, expected",
    [
        # the one Spark-side MinHash site: every signature builder
        (["dedup.minhash_slots"], LSH_FAMILY),
        # the subtree-copy fix's three functions: exactly its hand-made gate
        (
            ["dedup.incremental_near_dup_filter", "dedup.near_dup_clusters", "splits.split_leakage_report"],
            {"split_leakage", "incremental_near_dup", "dedup_clusters", "cluster_representatives",
             "web_curation_pipeline", "curation_pipeline"},
        ),
        # reached only by tests
        (["artifacts.strip_annotations"], set()),
    ],
)
def test_gate_exact_sets(touching, expected):
    assert set(_load_queries_tool().gate(touching)) == expected


def test_gate_locally_bound_names_do_not_resolve():
    """multi_query_bm25's parameter ``queries`` must not resolve to
    ``__spark_entry__.queries`` (which would make every entry reach
    every definition)."""
    tool = _load_queries_tool()
    gated = tool.gate(["dedup.stage_tokens"])
    assert "multi_query_bm25" not in gated
    assert {"near_dup_pairs", "dsir_importance", "doc_signals"} <= set(gated)
    assert len(gated) < len(tool.entry_roots(tool.build_index()[2]))


def test_gate_roots_include_oracle_sql():
    """An edit to a shared oracle CTE gates the entries whose oracle uses it."""
    assert set(_load_queries_tool().gate(["oracles._sig_cte"])) == LSH_FAMILY - {"corpus_overlap"}


def test_gate_cli_is_static_and_rejects_unknown_names():
    done = _run("-X", "importtime", str(QUERIES_TOOL), "gate", "--touching", "dedup.minhash_slots")
    assert done.returncode == 0, done.stderr
    assert done.stdout.strip().split(",")[0] == "near_dup_pairs"  # queries() order
    imported = {line.rsplit("|", 1)[-1].strip().split(".")[0] for line in done.stderr.splitlines()}
    assert "pyspark" not in imported
    assert "dss_plugin_google_cloud_vision_spark" not in imported
    assert "__spark_entry__" not in imported

    done = _run(str(QUERIES_TOOL), "gate", "--touching", "dedup.minhash_slots,dedup.no_such_function")
    assert done.returncode == 2
    assert "dedup.no_such_function" in done.stderr
    assert done.stdout == ""


def test_check_oracle_rejects_unknown_only_names_before_spark():
    code = (
        "import runpy, sys\n"
        f"sys.path.insert(0, {str(REPO_ROOT)!r})\n"
        "import dss_plugin_google_cloud_vision_spark.session as session\n"
        "session.get_spark = lambda *a, **k: sys.exit('get_spark was called')\n"
        "sys.argv = ['check_oracle.py', '--only', 'near_dup_pairs,no_such_entry']\n"
        "runpy.run_path('tools/check_oracle.py', run_name='__main__')\n"
    )
    done = _run("-c", code)
    assert done.returncode != 0
    assert "no_such_entry" in done.stderr
    assert "get_spark was called" not in done.stderr
    assert "passed" not in done.stdout


def test_queries_and_oracles_name_the_same_entries():
    import __spark_entry__ as entrymod

    assert set(entrymod.queries()) == set(entrymod.oracle_sql())


def test_plan_normalization_is_stable(spark, sf_dir):
    import __spark_entry__ as entrymod

    tool = _load_queries_tool()
    build = entrymod.queries()["minhash_candidates"]
    first, second = (tool.formatted(build(spark, sf_dir)) for _ in range(2))
    assert first != second  # fresh expression ids per build
    assert tool.normalize_plan(first) == tool.normalize_plan(second)
    assert re.search(r"#\d", first) and not re.search(r"#\d", tool.normalize_plan(first))
