"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship extraction query on sf0.001.
``queries()`` / ``oracle_sql()`` — per-operator Spark callables + DuckDB
oracle SQL, compared by the driver at sf0.01 (row count + schema +
order-insensitive value hash). Column names are aligned on both sides.

Float discipline: outputs avoid raw double aggregates — monetary values are
emitted as exact cents (``cast(round(x*100) as bigint)``) so Spark and
DuckDB hashes agree bit-for-bit.
"""

from __future__ import annotations

import functools
import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

REPO_ROOT = os.path.dirname(os.path.abspath(__file__))
if REPO_ROOT not in sys.path:
    sys.path.insert(0, REPO_ROOT)
_pythonpath = os.environ.get("PYTHONPATH", "")
if REPO_ROOT not in _pythonpath.split(os.pathsep):
    os.environ["PYTHONPATH"] = (
        os.pathsep.join([REPO_ROOT, _pythonpath]) if _pythonpath else REPO_ROOT
    )

from dss_plugin_google_cloud_vision_spark import oracles as _oracles  # noqa: E402
from dss_plugin_google_cloud_vision_spark.operators.extract import extraction_metrics  # noqa: E402
from dss_plugin_google_cloud_vision_spark.plans.extract_pipeline import (  # noqa: E402
    run_extraction_pipeline,
)
from dss_plugin_google_cloud_vision_spark.sources.render import documents_as_pages  # noqa: E402

DEFAULT_SF_DIR = "/root/testdata/sf0.001"

_PYFILES_SESSIONS: set = set()


@functools.cache
def _package_zip() -> str:
    """This checkout's package as a zip, built once per process into a
    fresh temporary directory: a zip at a shared fixed path could hold
    another checkout's code, and the workers put shipped files ahead of
    PYTHONPATH."""
    import atexit
    import shutil
    import tempfile
    import zipfile

    zip_dir = tempfile.mkdtemp(prefix="spark_webtext_engine_")
    atexit.register(shutil.rmtree, zip_dir, ignore_errors=True)
    pkg_zip = os.path.join(zip_dir, "spark_webtext_engine_entry.zip")
    pkg_root = os.path.join(REPO_ROOT, "dss_plugin_google_cloud_vision_spark")
    with zipfile.ZipFile(pkg_zip, "w", zipfile.ZIP_DEFLATED) as zf:
        for dirpath, _dirs, filenames in os.walk(pkg_root):
            for filename in filenames:
                if filename.endswith(".py"):
                    full = os.path.join(dirpath, filename)
                    zf.write(full, os.path.relpath(full, REPO_ROOT))
    return pkg_zip


def _ensure_workers_can_import(spark: SparkSession) -> None:
    """Python workers must be able to import the engine package. If the
    driver created its session before this module set PYTHONPATH, the
    worker daemon may lack the checkout — ship the package via addPyFile
    (idempotent per session)."""
    key = id(spark.sparkContext)
    if key in _PYFILES_SESSIONS:
        return
    _PYFILES_SESSIONS.add(key)
    try:
        spark.sparkContext.addPyFile(_package_zip())
    except Exception:  # noqa: BLE001 — e.g. Connect sessions; PYTHONPATH fallback applies
        pass


def _table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    _ensure_workers_can_import(spark)
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _cents(col: str):
    return F.round(F.col(col) * 100).cast("bigint")


def _lazy_scratch_dir(prefix: str) -> str:
    """Per-invocation scratch dir for write-then-read queries whose RESULT
    DataFrame lazily scans the written path (so it cannot be reclaimed
    before the driver collects): fresh mkdtemp per call — no fixed shared
    path to clash on — reclaimed at interpreter exit."""
    import atexit
    import shutil
    import tempfile

    path = tempfile.mkdtemp(prefix=prefix)
    atexit.register(shutil.rmtree, path, ignore_errors=True)
    return path


# ---------------------------------------------------------------------------
# flagship
# ---------------------------------------------------------------------------


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: render sf0.001 documents as Common-Crawl-style pages, run
    the full extraction pipeline (route → extract → format), and roll up
    extracted characters by *detected* language."""
    pages = documents_as_pages(_table(spark, DEFAULT_SF_DIR, "documents"))
    plan = run_extraction_pipeline(pages)
    return (
        plan.pages.filter(F.col("content_api_error_message") == "")
        .groupBy(F.col("content_api_language_code").alias("language_code"))
        .agg(
            F.sum(F.length("content_api_detections_concat")).alias("total_chars"),
            F.count("*").alias("n_pages"),
        )
        .orderBy(F.desc("total_chars"))
        .limit(10)
    )


# ---------------------------------------------------------------------------
# queries (Spark side)
# ---------------------------------------------------------------------------


def q_extract_text_identity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North-rule byte-identity: the pipeline must recover documents.text
    exactly from the rendered HTML (boilerplate fully stripped)."""
    pages = documents_as_pages(_table(spark, sf_dir, "documents"))
    plan = run_extraction_pipeline(pages)
    return plan.pages.filter(F.col("content_api_error_message") == "").select(
        "doc_id", F.col("content_api_detections_concat").alias("extracted_text")
    )


def q_extract_error_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E4 success/error accounting with a deterministic induced-error subset
    (empty payloads on doc_id % 37 == 0)."""
    pages = documents_as_pages(_table(spark, sf_dir, "documents"), error_mod=37)
    from dss_plugin_google_cloud_vision_spark.operators.pages import extract_pages

    extracted = extract_pages(pages, drop_payload=True)
    return extraction_metrics(extracted, "content_api_response")


def q_extract_lang_chars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship rollup, oracle-checkable via metadata lang (extraction
    recovers text byte-identically, so char sums match documents)."""
    pages = documents_as_pages(_table(spark, sf_dir, "documents"))
    plan = run_extraction_pipeline(pages)
    return (
        plan.pages.filter(F.col("content_api_error_message") == "")
        .groupBy("lang")
        .agg(
            F.sum(F.length("content_api_detections_concat")).alias("total_chars"),
            F.count("*").alias("n_docs"),
        )
    )


def q_doc_merge_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E3 document-level merge: single-page docs reassemble to their own
    text (page_count 1, doc_text == text)."""
    pages = documents_as_pages(_table(spark, sf_dir, "documents"))
    plan = run_extraction_pipeline(pages)
    return plan.documents.join(
        pages.select("url", "doc_id"), "url"
    ).select("doc_id", "page_count", "doc_text")


def q_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T1 top-k: top 3 lineitems per returnflag by price, deterministic
    tie-break."""
    from pyspark.sql import Window

    lineitem = _table(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_returnflag").orderBy(
        F.desc("l_extendedprice"), F.asc("l_orderkey"), F.asc("l_linenumber")
    )
    return (
        lineitem.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select(
            "l_returnflag",
            "l_orderkey",
            "l_linenumber",
            _cents("l_extendedprice").alias("price_cents"),
            "rn",
        )
    )


def q_argmax_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T2 argmax: supplier(s) with max account balance per nation."""
    supplier = _table(spark, sf_dir, "supplier")
    nation = _table(spark, sf_dir, "nation")
    max_bal = supplier.groupBy("s_nationkey").agg(F.max("s_acctbal").alias("max_bal"))
    return (
        supplier.join(F.broadcast(max_bal), "s_nationkey")
        .filter(F.col("s_acctbal") == F.col("max_bal"))
        .join(F.broadcast(nation), supplier.s_nationkey == nation.n_nationkey)
        .select("n_name", "s_name", _cents("s_acctbal").alias("acctbal_cents"))
    )


def q_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-join relational shape (TPC-H Q3): filtered customer segment ⋈
    orders ⋈ lineitem, revenue agg, top-10 — exercises join planning,
    broadcast of the pruned build side, and partial aggregation."""
    customer = _table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = _table(spark, sf_dir, "orders").filter(F.col("o_orderdate") < "1998-06-01")
    lineitem = _table(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > "1998-06-01")
    revenue_cents = F.sum(
        F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100).cast("bigint")
    )
    return (
        lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .groupBy(
            "l_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
            "o_orderpriority",
        )
        .agg(revenue_cents.alias("revenue_cents"))
        .orderBy(F.desc("revenue_cents"), F.asc("l_orderkey"))
        .limit(10)
    )


def q_extension_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1/F2 path-extension predicate over synthesized paths."""
    part = _table(spark, sf_dir, "part")
    path = F.format_string(
        "/data/%s.%s",
        F.col("p_name"),
        F.element_at(F.array(F.lit("pdf"), F.lit("html"), F.lit("tiff")), (F.col("p_partkey") % 3 + 1).cast("int")),
    )
    ext = F.lower(F.regexp_extract(path, r"\.([^.]+)$", 1))
    return (
        part.select("p_partkey", path.alias("path"), ext.alias("ext"))
        .filter(F.col("ext").isin("pdf", "tiff"))
    )


def q_anti_join_resume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Checkpoint-resume anti-join: documents not in the already-done set
    (doc_id % 5 == 0 simulates a prior snapshot)."""
    docs = _table(spark, sf_dir, "documents")
    done = docs.filter(F.col("doc_id") % 5 == 0).select("doc_id")
    return docs.join(done, "doc_id", "left_anti").select("doc_id", "lang", "n_chars")


def q_merge_collect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E3 ordered collect-merge: per order, quantities joined in line order."""
    lineitem = _table(spark, sf_dir, "lineitem")
    # l_linenumber is not unique per order in this synthetic data: the sort
    # key includes the quantity itself for a deterministic total order
    ordered = F.array_sort(
        F.collect_list(
            F.struct(
                F.col("l_linenumber").alias("ln"),
                F.col("l_quantity").cast("int").alias("q"),
            )
        )
    )
    return lineitem.groupBy("l_orderkey").agg(
        F.array_join(F.transform(ordered, lambda s: s["q"].cast("string")), ",").alias("quantities"),
        F.count("*").alias("n_lines"),
    )


def q_text_formatter_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P5/T2 formatter plumbing: build a fullTextAnnotation response in SQL,
    project it back out through the formatter expressions."""
    from dss_plugin_google_cloud_vision_spark.operators.formatters import format_text_detection

    docs = _table(spark, sf_dir, "documents")
    response = F.to_json(
        F.struct(
            F.struct(
                F.col("text").alias("text"),
                F.array(
                    F.struct(
                        F.struct(
                            F.array(
                                F.struct(
                                    F.col("lang").alias("languageCode"),
                                    F.lit(0.9).alias("confidence"),
                                )
                            ).alias("detectedLanguages")
                        ).alias("property")
                    )
                ).alias("pages"),
            ).alias("fullTextAnnotation")
        )
    )
    with_response = docs.select("doc_id", response.alias("resp"))
    result = format_text_detection(with_response, "resp", "text_api", include_spans=False)
    return result.df.select(
        "doc_id",
        F.col("text_api_detections_concat").alias("detections_concat"),
        F.col("text_api_language_code").alias("language_code"),
        F.col("text_api_language_score").alias("language_score"),
    )


def q_content_topk_formatter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P6/T1 through the actual formatter expression: per order, top-3
    part keys by price among annotations scoring >= 5000.00 (exact-cents),
    with deterministic tie-break (annotations pre-sorted (score asc, name
    asc), stable desc sort preserves name order within ties)."""
    from dss_plugin_google_cloud_vision_spark.operators.formatters import _stable_top_names

    lineitem = _table(spark, sf_dir, "lineitem")
    annotations = F.array_sort(
        F.collect_list(
            F.struct(
                _cents("l_extendedprice").alias("score"),
                F.col("l_partkey").cast("string").alias("description"),
            )
        )
    )
    grouped = lineitem.groupBy("l_orderkey").agg(annotations.alias("ann"), F.count("*").alias("n_lines"))
    top = _stable_top_names(F.col("ann"), "score", "description", minimum_score=500000, max_results=3)
    # string-join the list: the driver's pandas canonicalizer cannot sort
    # array cells (round-1 harness error) — '|' join on both sides instead
    return grouped.select(
        "l_orderkey", F.array_join(top, "|").alias("label_list"), "n_lines"
    )


def _docs_with_induced_empties(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents with text blanked on doc_id % 41 == 0 — a deterministic
    error subset for the pluggable-extract oracle checks."""
    docs = _table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.when(F.col("doc_id") % 41 == 0, F.lit("")).otherwise(F.col("text")).alias("text"),
    )


def q_custom_row_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X1/M1: a user-pluggable ROW function through extract() (the
    drop-in parallelizer equivalent); response JSON parsed back
    relationally; induced empty-text rows land in the error columns."""
    from dss_plugin_google_cloud_vision_spark.errors import ExtractionError
    from dss_plugin_google_cloud_vision_spark.operators.enrichers import token_stats_row
    from dss_plugin_google_cloud_vision_spark.operators.extract import extract

    out = extract(
        _docs_with_induced_empties(spark, sf_dir), token_stats_row, (ExtractionError,), "stats_api"
    )
    return out.select(
        "doc_id",
        F.get_json_object("stats_api_response", "$.n_tokens").cast("bigint").alias("n_tokens"),
        F.get_json_object("stats_api_response", "$.n_chars").cast("bigint").alias("n_chars"),
        F.col("stats_api_error_message").alias("error_message"),
        F.col("stats_api_error_type").alias("error_type"),
    )


def q_custom_batch_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2/M2/M3: a user-pluggable BATCH function + the default positional
    batch-response parser, incl. error-dict routing (message/code)."""
    from dss_plugin_google_cloud_vision_spark.errors import ExtractionError
    from dss_plugin_google_cloud_vision_spark.operators.enrichers import token_stats_batch
    from dss_plugin_google_cloud_vision_spark.operators.extract import extract

    out = extract(
        _docs_with_induced_empties(spark, sf_dir),
        token_stats_batch,
        (ExtractionError,),
        "stats_api",
        batch_support=True,
        batch_size=7,
    )
    return out.select(
        "doc_id",
        F.get_json_object("stats_api_response", "$.n_tokens").cast("bigint").alias("n_tokens"),
        F.get_json_object("stats_api_response", "$.n_chars").cast("bigint").alias("n_chars"),
        F.col("stats_api_error_message").alias("error_message"),
        F.col("stats_api_error_type").alias("error_type"),
    )


def q_unique_naming_collision(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P11: the input already carries a ``stats_api_response`` column —
    the engine must de-collide with the reference's numeric-suffix rule
    (reference plugin_io_utils.py:43-62 — the suffix applies to the
    UNPREFIXED name, so the new column is ``response_1``) and keep the
    original untouched."""
    from dss_plugin_google_cloud_vision_spark.errors import ExtractionError
    from dss_plugin_google_cloud_vision_spark.operators.enrichers import token_stats_row
    from dss_plugin_google_cloud_vision_spark.operators.extract import extract

    docs = _table(spark, sf_dir, "documents").select(
        "doc_id", "text", F.lit("preexisting").alias("stats_api_response")
    )
    out = extract(docs, token_stats_row, (ExtractionError,), "stats_api")
    return out.select(
        "doc_id",
        F.col("stats_api_response").alias("original_column"),
        F.get_json_object("response_1", "$.n_tokens").cast("bigint").alias("n_tokens"),
    )


def q_annotated_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S6 artifact overlay as a pure column expression: two synthetic
    half-text spans (char offsets computed identically in both engines)
    overlaid with [[kind#id]] markers by the aggregate-fold expression."""
    from dss_plugin_google_cloud_vision_spark.operators.artifacts import annotated_text_column

    # n >= 2 on BOTH sides: the two-span construction assumes a space
    # separator between the halves (1-token docs have none — latent
    # oracle trap if the datagen floor ever drops below 2 tokens)
    docs = _table(spark, sf_dir, "documents").filter(F.size(F.split("text", " ")) >= 2)
    toks = F.split(F.col("text"), " ")
    n = F.size(toks)
    n1 = F.floor(n / 2).cast("int")
    len1 = F.length(F.array_join(F.slice(toks, 1, n1), " ")).cast("int")
    spans = F.array(
        F.struct(
            F.lit("seg").alias("kind"),
            F.lit(0).alias("start"),
            len1.alias("end"),
            F.lit(0).alias("block_id"),
        ),
        F.struct(
            F.lit("seg").alias("kind"),
            (len1 + 1).alias("start"),
            F.length("text").cast("int").alias("end"),
            F.lit(1).alias("block_id"),
        ),
    )
    return docs.select(
        "doc_id", annotated_text_column(F.col("text"), spans).alias("annotated")
    )


def q_span_envelope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F6 envelope math over span arrays: min-start/max-end plus exact
    milli coverage, computed over the second-half span subset (block 1)
    of the same synthetic two-span construction as annotated_spans."""
    from dss_plugin_google_cloud_vision_spark.operators.formatters import span_envelope_columns

    docs = _table(spark, sf_dir, "documents").filter(F.size(F.split("text", " ")) >= 2)
    toks = F.split(F.col("text"), " ")
    n = F.size(toks)
    n1 = F.floor(n / 2).cast("int")
    len1 = F.length(F.array_join(F.slice(toks, 1, n1), " ")).cast("int")
    spans = F.array(
        F.struct(
            F.lit("seg").alias("kind"),
            F.lit(0).alias("start"),
            len1.alias("end"),
            F.lit(0).alias("block_id"),
        ),
        F.struct(
            F.lit("seg").alias("kind"),
            (len1 + 1).alias("start"),
            F.length("text").cast("int").alias("end"),
            F.lit(1).alias("block_id"),
        ),
    )
    second_half = F.filter(spans, lambda s: s["block_id"] == 1)
    env = span_envelope_columns(second_half, F.length("text"))
    return docs.select(
        "doc_id",
        env["envelope_start"].alias("env_start"),
        env["envelope_end"].alias("env_end"),
        env["envelope_coverage_milli"].alias("coverage_milli"),
    )


_LIKELIHOODS = ("VERY_UNLIKELY", "UNLIKELY", "POSSIBLE", "LIKELY", "VERY_LIKELY")


def q_web_blocklist_formatter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P4 through the actual formatter: x-raw-image:/// URLs are dropped
    from the full-matching list AFTER the top-k cap, exactly as the
    reference does (google_vision_api_formatting.py:163-191); plus the
    best-guess web label."""
    from dss_plugin_google_cloud_vision_spark.operators.formatters import (
        format_content_detection,
    )

    docs = _table(spark, sf_dir, "documents")
    url_a = F.format_string("https://img%s.example.org/a", F.col("doc_id"))
    url_b = F.when(F.col("doc_id") % 3 == 0, F.lit("x-raw-image:///img")).otherwise(
        F.format_string("https://img%s.example.org/b", F.col("doc_id"))
    )
    url_c = F.format_string("https://img%s.example.org/c", F.col("doc_id"))
    response = F.to_json(
        F.struct(
            F.struct(
                F.array(F.struct(F.format_string("lbl%s", F.col("doc_id") % 7).alias("label"))).alias(
                    "bestGuessLabels"
                ),
                F.array(
                    F.struct(url_a.alias("url")),
                    F.struct(url_b.alias("url")),
                    F.struct(url_c.alias("url")),
                ).alias("fullMatchingImages"),
            ).alias("webDetection")
        )
    )
    with_resp = docs.select("doc_id", response.alias("resp"))
    result = format_content_detection(
        with_resp, "resp", "content_api", content_categories=("web",), max_results=2
    )
    return result.df.select(
        "doc_id",
        F.col("content_api_web_label").alias("web_label"),
        F.array_join(F.col("content_api_web_full_matching_image_list"), "|").alias(
            "full_matching"
        ),
    )


def q_min_score_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P2 min-score predicate over events.value."""
    events = _table(spark, sf_dir, "events")
    return events.filter(F.col("value") >= 0.5).select(
        "event_id", "event_type", F.round(F.col("value") * 1000).cast("bigint").alias("value_milli")
    )


# ---------------------------------------------------------------------------
# training-data pipeline operators: dedup / similarity / textstats
# ---------------------------------------------------------------------------


def build_dedup_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents ∪ near-dup copies (suffixed) ∪ exact copies — mirrors
    oracles.CORPUS_CTE so dedup results are decisively non-empty."""
    docs = _table(spark, sf_dir, "documents").select("doc_id", "text")
    near = docs.filter(F.col("doc_id") % 20 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" zzz extra suffix token")).alias("text"),
    )
    exact = docs.filter(F.col("doc_id") % 25 == 0).select(
        (F.col("doc_id") + 200000).alias("doc_id"), F.col("text")
    )
    return docs.unionAll(near).unionAll(exact)


def q_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dss_plugin_google_cloud_vision_spark.operators.dedup import exact_dedup_groups

    return exact_dedup_groups(build_dedup_corpus(spark, sf_dir))


def q_minhash_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dss_plugin_google_cloud_vision_spark.operators.dedup import minhash_candidate_pairs

    return minhash_candidate_pairs(build_dedup_corpus(spark, sf_dir))


def q_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dss_plugin_google_cloud_vision_spark.operators.dedup import near_dup_pairs

    return near_dup_pairs(build_dedup_corpus(spark, sf_dir))


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over verified near-dup pairs (Pregel-style
    min-label propagation; the transitive-closure step chains of pairwise
    dedup need), checked against a DuckDB recursive CTE."""
    from dss_plugin_google_cloud_vision_spark.operators.dedup import (
        near_dup_clusters,
        near_dup_pairs,
    )

    pairs = near_dup_pairs(build_dedup_corpus(spark, sf_dir))
    return near_dup_clusters(pairs.select("doc_a", "doc_b"))


def q_cluster_representatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware dedup: elect the highest-scoring (longest, ties to
    lowest id) member of each transitive near-dup cluster — the curation
    rule that keeps the best page of a boilerplate family. Election is a
    map-combined max(struct) aggregation, never a corpus window."""
    from pyspark.sql import functions as F

    from dss_plugin_google_cloud_vision_spark.operators.dedup import (
        cluster_representatives,
        near_dup_pairs,
    )

    corpus = build_dedup_corpus(spark, sf_dir)
    pairs = near_dup_pairs(corpus).select("doc_a", "doc_b")
    scored = corpus.select("doc_id", F.length("text").cast("bigint").alias("score"))
    return cluster_representatives(scored, pairs, "score")


def q_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer training prep: learn the corpus's first 6 BPE merges.
    One corpus pass collapses text to distinct-word grain, collected once;
    each merge round is an integer pair count + top-pair election + one
    replace over the bounded vocabulary on the driver (replace is
    left-to-right non-overlapping in every engine == greedy BPE)."""
    from dss_plugin_google_cloud_vision_spark.operators.tokenizer import (
        learn_bpe_merges,
    )

    return learn_bpe_merges(_table(spark, sf_dir, "documents"), n_merges=6)


def q_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Evaluation hygiene: deterministic train/valid/test assignment
    (md5-bucket per-mille ranges, pure function of doc_id) + per-doc audit
    of near-dup pairs that straddle the split boundary — train docs
    near-dupping a held-out doc are flagged ``contaminated``. Splits are
    computed row-locally on the pair list; the only corpus-sized op is the
    final id-grain left join."""
    from dss_plugin_google_cloud_vision_spark.operators.dedup import near_dup_pairs
    from dss_plugin_google_cloud_vision_spark.operators.splits import (
        split_leakage_report,
    )

    corpus = build_dedup_corpus(spark, sf_dir)
    pairs = near_dup_pairs(corpus).select("doc_a", "doc_b")
    return split_leakage_report(corpus, pairs)


def q_domain_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-graph centrality (Common-Crawl-style host ranking): exact
    integer-micro PageRank, 3 statically-unrolled join+aggregate
    iterations over a derived (source domain → hashed target domain) edge
    list; all tables domain- or edge-grain, corpus touched once."""
    from pyspark.sql import functions as F

    from dss_plugin_google_cloud_vision_spark.operators.graph import domain_pagerank

    docs = _table(spark, sf_dir, "documents")
    edges = docs.select(
        F.col("source").alias("src"),
        F.concat(
            F.lit("src"), ((F.col("doc_id") * 7 + 3) % 10).cast("string")
        ).alias("dst"),
    )
    return domain_pagerank(edges, n_iterations=3)


def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dss_plugin_google_cloud_vision_spark.operators.dedup import simhash_table

    return simhash_table(_table(spark, sf_dir, "documents"))


def q_simhash_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dss_plugin_google_cloud_vision_spark.operators.dedup import simhash_near_dup_pairs

    return simhash_near_dup_pairs(build_dedup_corpus(spark, sf_dir))


def build_embedding_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """embeddings ∪ exactly-parallel ×2 copies of every tenth vector —
    mirrors oracles.EMB_CORPUS_CTE. Power-of-two scaling is IEEE-exact:
    every partial sum in the hyperplane dot folds doubles exactly, so a
    copy shares every LSH band key with its source (guaranteed recall)
    and the pair's cosine is exactly 1.0."""
    emb = _table(spark, sf_dir, "embeddings")
    base = emb.select(
        "vec_id", F.transform(F.col("embedding"), lambda x: x.cast("double")).alias("embedding")
    )
    copies = emb.filter(F.col("vec_id") % 10 == 0).select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform(F.col("embedding"), lambda x: x.cast("double") * 2.0).alias("embedding"),
    )
    return base.unionAll(copies)


def q_embedding_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dss_plugin_google_cloud_vision_spark.operators.dedup import embedding_near_dup_pairs

    # near-orthogonal base vectors (max pairwise cosine ~0.51) + planted
    # parallel copies: the 0.99 threshold keeps exactly the planted pairs
    return embedding_near_dup_pairs(
        build_embedding_corpus(spark, sf_dir), threshold_micro=990_000, dim=64
    )


def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dss_plugin_google_cloud_vision_spark.operators.dedup import semantic_dedup

    # k-means blocking + within-cluster cosine marking: the planted ×2
    # copies (cos exactly 1.0, same argmax-dot cluster as their source)
    # are the rows flagged at the 0.95 paraphrase radius — base vectors
    # are near-orthogonal (max pairwise cos ~0.51) so nothing else is
    return semantic_dedup(
        build_embedding_corpus(spark, sf_dir),
        n_clusters=16,
        n_iterations=2,
        threshold_micro=950_000,
    )


def _query_vector(spark: SparkSession, sf_dir: str, vec_id: int = 0):
    row = _table(spark, sf_dir, "embeddings").filter(F.col("vec_id") == vec_id).collect()[0]
    return [float(v) for v in row["embedding"]]


def q_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dss_plugin_google_cloud_vision_spark.operators.similarity import brute_force_topk

    return brute_force_topk(
        _table(spark, sf_dir, "embeddings"), _query_vector(spark, sf_dir), k=10
    )


def q_lsh_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dss_plugin_google_cloud_vision_spark.operators.similarity import lsh_bucketed_topk

    return lsh_bucketed_topk(
        _table(spark, sf_dir, "embeddings"), _query_vector(spark, sf_dir), k=10
    )


def q_ivf_index_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF as a PERSISTED index: corpus written hive-partitioned by its
    trained cell, search reads only the probed cell directories
    (partition pruning at the scan — the lake-native IVF form). Must
    return exactly ivf_topk's rows, so the oracle is ivf_topk_sql
    verbatim."""
    from dss_plugin_google_cloud_vision_spark.operators.similarity import (
        build_ivf_index,
        search_ivf_index,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    query = [float(v) for v in emb.filter(F.col("vec_id") == 0).first()["embedding"]]
    index_path = os.path.join(_lazy_scratch_dir("ivf_index_"), "index.parquet")
    centroids = build_ivf_index(emb, index_path, n_centroids=16, train_iterations=2)
    return search_ivf_index(spark, index_path, centroids, query, k=10, n_probe=4)


def q_ivf_pq_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ as a PERSISTED lake index (build_ivfpq_index →
    search_ivfpq_index): coarse cells prune partitions at the scan, ADC
    scores only the (id, codes) columns, exact refine broadcast-joins the
    candidate ids — the production lake-ANN composition, mirrored by the
    fully-relational ivf_pq_search_sql (IVF + PQ CTEs composed)."""
    from dss_plugin_google_cloud_vision_spark.operators.similarity import (
        build_ivfpq_index,
        search_ivfpq_index,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    query = [float(v) for v in emb.filter(F.col("vec_id") == 0).first()["embedding"]]
    index_path = os.path.join(_lazy_scratch_dir("ivfpq_index_"), "index.parquet")
    centroids, codebooks = build_ivfpq_index(
        emb,
        index_path,
        n_centroids=16,
        n_subspaces=2,
        n_codes=8,
        ivf_train_iterations=2,
        pq_train_iterations=1,
    )
    return search_ivfpq_index(
        spark, index_path, centroids, codebooks, query, k=10, n_probe=4, refine=4
    )


def q_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dss_plugin_google_cloud_vision_spark.operators.similarity import ivf_topk

    return ivf_topk(
        _table(spark, sf_dir, "embeddings"), _query_vector(spark, sf_dir), k=10
    )


def q_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dss_plugin_google_cloud_vision_spark.operators.dedup import stage_tokens
    from dss_plugin_google_cloud_vision_spark.operators.textstats import (
        fingerprint_column,
        rolling_hash_column,
        shingle_fingerprint_column,
    )

    return stage_tokens(_table(spark, sf_dir, "documents"), "doc_id", "text").select(
        "doc_id",
        fingerprint_column().alias("doc_md5"),
        shingle_fingerprint_column().alias("shingle_fp"),
        rolling_hash_column().alias("rolling_hash"),
    )


def q_training_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-data pipeline: render (with planted exact
    duplicates) → extract → quality gate (>=20 tokens) → exact dedup
    keep-first → (doc_id, lang, n_tokens). Oracle-checkable because
    extraction recovers text byte-identically."""
    from dss_plugin_google_cloud_vision_spark.operators.dedup import exact_dedup_keep_first

    docs = _table(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    copies = docs.filter(F.col("doc_id") % 25 == 0).select(
        (F.col("doc_id") + 200000).alias("doc_id"), "text", "lang"
    )
    pages = documents_as_pages(docs.unionAll(copies))
    plan = run_extraction_pipeline(pages)
    extracted = plan.pages.filter(F.col("content_api_error_message") == "").select(
        "doc_id",
        "lang",
        F.col("content_api_detections_concat").alias("etext"),
    )
    quality_gated = extracted.withColumn("n_tokens", F.size(F.split("etext", " "))).filter(
        F.col("n_tokens") >= 20
    )
    # exact_dedup_keep_first consumes its input twice (keeper election +
    # semi-join probe) — checkpoint so extraction executes once (r6;
    # execution hint only, results identical)
    quality_gated = quality_gated.localCheckpoint(eager=False)
    deduped = exact_dedup_keep_first(quality_gated, id_col="doc_id", text_col="etext")
    return deduped.select("doc_id", "lang", F.col("n_tokens").cast("bigint").alias("n_tokens"))


def q_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship composition, oracle-checked end-to-end: render (with
    planted exact AND near duplicates) → extraction → quality gate →
    exact dedup → MinHash-LSH near-dup pairs → connected-component
    collapse → per-lang corpus stats."""
    from dss_plugin_google_cloud_vision_spark.plans.curation import curate_corpus

    docs = _table(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    near = docs.filter(F.col("doc_id") % 20 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" zzz extra suffix token")).alias("text"),
        "lang",
    )
    exact = docs.filter(F.col("doc_id") % 25 == 0).select(
        (F.col("doc_id") + 200000).alias("doc_id"), "text", "lang"
    )
    pages = documents_as_pages(docs.unionAll(near).unionAll(exact))
    curated = curate_corpus(pages)
    return curated.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("total_tokens"),
    )


def q_politeness_slots(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed politeness scheduling (the reference's rate limiter,
    M5, as deterministic slot assignment): 5 fetches per host per period."""
    from dss_plugin_google_cloud_vision_spark.operators.politeness import assign_fetch_slots

    part = _table(spark, sf_dir, "part")
    urls = part.select(
        F.format_string(
            "https://h%s.example.org/p/%s", (F.col("p_partkey") % 7), F.col("p_partkey")
        ).alias("url")
    )
    return assign_fetch_slots(urls, rate_per_period=5).select(
        "url", "host", "fetch_seq", "fetch_slot"
    )


def q_skew_two_phase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe two-phase aggregation: events.event_type is a hot key
    (6 values over the whole table); partial agg on (key, salt) then final
    agg on key must equal a direct GROUP BY."""
    events = _table(spark, sf_dir, "events")
    salted = events.select(
        "event_type", F.pmod(F.xxhash64("event_id"), F.lit(16)).alias("salt")
    )
    partial = salted.groupBy("event_type", "salt").agg(F.count("*").alias("partial_rows"))
    return partial.groupBy("event_type").agg(F.sum("partial_rows").alias("n_events"))


def q_event_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time tumbling-window aggregation: events per type per day."""
    events = _table(spark, sf_dir, "events")
    # the day is emitted as a yyyy-MM-dd STRING: a Spark date column lands
    # in the driver's pandas canonicalizer as datetime64 and hash-mismatches
    # the oracle (round-1 red)
    return events.groupBy(
        F.date_format(F.date_trunc("day", F.col("ts")), "yyyy-MM-dd").alias("day"),
        "event_type",
    ).agg(
        F.count("*").alias("n_events"),
        F.sum(F.round(F.col("value") * 1000).cast("bigint")).alias("value_milli_sum"),
    )


def q_session_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (6h inactivity gap per user): lag +
    cumulative-sum session ids, one shuffle on the key; exact epoch-micro
    bounds per session."""
    from dss_plugin_google_cloud_vision_spark.operators.sessions import session_stats

    return session_stats(_table(spark, sf_dir, "events"))


def q_partitioned_pruned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2 partitioned-folder union as a write-then-read roundtrip: the
    corpus is laid out hive-style (partitionBy lang — the (host,
    warc_ts-bucket) layout of the north rule in miniature), read back as
    one multi-folder scan, and a two-partition filter must come back
    identical to the flat table (partition PRUNING is plan-asserted in
    tests/test_plan_quality.py)."""
    docs = _table(spark, sf_dir, "documents")
    target = os.path.join(_lazy_scratch_dir("oracle_partitioned_"), "docs.parquet")
    docs.write.mode("overwrite").partitionBy("lang").parquet(target)
    back = spark.read.parquet(target).filter(F.col("lang").isin("en", "fr"))
    return back.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
    )


def build_paragraph_corpus(docs: DataFrame) -> DataFrame:
    """Rendered paragraph corpus (mirror of oracles.paragraph_corpus_sql):
    each document's tokens split into two halves joined by a newline, a
    constant boilerplate paragraph appended for doc_id % 3 == 0 and
    prepended for doc_id % 7 == 0 — cross-document duplicate paragraphs
    by construction."""
    from dss_plugin_google_cloud_vision_spark.oracles import PARA_BOILER

    toks = F.split(F.col("text"), " ")
    n = F.size(toks)
    n1 = F.floor(n / 2).cast("int")
    body = F.concat(
        F.array_join(F.slice(toks, 1, n1), " "),
        F.lit("\n"),
        F.array_join(F.slice(toks, n1 + 1, n - n1), " "),
    )
    return docs.select(
        "doc_id",
        F.concat(
            F.when(F.col("doc_id") % 7 == 0, F.lit(PARA_BOILER + "\n")).otherwise(F.lit("")),
            body,
            F.when(F.col("doc_id") % 3 == 0, F.lit("\n" + PARA_BOILER)).otherwise(F.lit("")),
        ).alias("text"),
    )


def q_paragraph_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4/RefinedWeb-style corpus-wide paragraph dedup: first occurrence
    of every distinct paragraph wins (skew-robust agg+composite-key join,
    not a hot window — see operators.dedup.paragraph_dedup), documents
    reassembled from surviving paragraphs in order."""
    from dss_plugin_google_cloud_vision_spark.operators.dedup import paragraph_dedup

    corpus = build_paragraph_corpus(_table(spark, sf_dir, "documents"))
    return paragraph_dedup(corpus)


def q_ngram_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: fraction of each document's distinct
    3-gram shingles present in the 'eval set' (every 100th document),
    via a broadcast shingle join — the pre-training contamination test."""
    from dss_plugin_google_cloud_vision_spark.operators.dedup import ngram_contamination

    docs = _table(spark, sf_dir, "documents")
    benchmark = docs.filter(F.col("doc_id") % 100 == 0)
    return ngram_contamination(docs, benchmark)


def build_span_corpus(docs: DataFrame) -> DataFrame:
    """Mirror of oracles.span_corpus_sql: fixed boilerplate sentence
    appended to every doc_id % 10 == 3 document — its interior 8-token
    windows repeat across all such documents."""
    from dss_plugin_google_cloud_vision_spark.oracles import SPAN_BOILER

    return docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(F.col("doc_id") % 10 == 3, F.lit(" " + SPAN_BOILER)).otherwise(F.lit("")),
        ).alias("text"),
    )


def q_bigram_predictability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram conditional-frequency scoring (integer-exact n-gram-LM
    quality proxy): corpus P(b|a) in milli, per-document mean/min."""
    from dss_plugin_google_cloud_vision_spark.operators.textstats import (
        bigram_predictability_table,
    )

    return bigram_predictability_table(_table(spark, sf_dir, "documents"))


def q_trigram_predictability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated trigram LM scoring (P(c|a,b) with bigram/unigram
    backoff, fixed milli weights — integer-exact): per-document
    mean/min interpolated score."""
    from dss_plugin_google_cloud_vision_spark.operators.textstats import (
        trigram_predictability_table,
    )

    return trigram_predictability_table(_table(spark, sf_dir, "documents"))


def q_gopher_multilingual(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-aware Gopher gate: Unicode-letter alpha rule, stopword
    presence checked against the document's OWN language profile
    (no-profile languages exempt, not auto-failed)."""
    from dss_plugin_google_cloud_vision_spark.operators.textstats import (
        gopher_quality_multilingual_table,
    )

    return gopher_quality_multilingual_table(_table(spark, sf_dir, "documents"))


def q_web_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full web-curation composition (plans.web_curation): line dedup
    -> Gopher gate -> exact keep-first -> near-dup CC collapse ->
    sequence packing, summarized in one row incl. a sum-of-kept-ids
    exactness witness; mirrored end-to-end by one recursive-CTE oracle."""
    from dss_plugin_google_cloud_vision_spark.plans.web_curation import curate_web_corpus

    corpus = build_paragraph_corpus(_table(spark, sf_dir, "documents"))
    return curate_web_corpus(corpus)


def q_token_rarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-frequency rarity scoring (integer-exact LM-quality proxy):
    vocabulary aggregate + occurrence join + per-doc rollup."""
    from dss_plugin_google_cloud_vision_spark.operators.textstats import token_rarity_table

    return token_rarity_table(_table(spark, sf_dir, "documents"))


def q_dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style data selection: hashed unigram+bigram bucket profile,
    one-pass raw/target bucket counts (target = English slice), smoothed
    integer ratio weights broadcast back over occurrences, per-document
    importance rollup. The bucket table is 4096 rows at ANY corpus size —
    the hash uniformizes Zipf keys, so the only corpus-scale shuffle is
    the map-combined per-doc aggregate."""
    from pyspark.sql import functions as F

    from dss_plugin_google_cloud_vision_spark.operators.selection import dsir_importance_table

    return dsir_importance_table(
        _table(spark, sf_dir, "documents"), target_pred=F.col("lang") == "en"
    )


def q_budget_head(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget head selection: stopword-quality score (row-local),
    then documents kept in (score DESC, id) order until 10k tokens — the
    'fill the training budget' step, via the NESTED two-phase prefix sum
    (score-grain totals + bounded in-group windows; small group_size so
    the multi-group path is really exercised)."""
    from pyspark.sql import functions as F

    from dss_plugin_google_cloud_vision_spark.operators.selection import budget_head
    from dss_plugin_google_cloud_vision_spark.operators.textstats import quality_columns

    docs = _table(spark, sf_dir, "documents")
    cols = quality_columns("text")
    scored = docs.select(
        F.col("doc_id"),
        cols["stopword_ratio_milli"].alias("score"),
        cols["n_tokens"].alias("n_tokens"),
    )
    return budget_head(scored, budget_tokens=10_000, group_size=64)


def q_warc_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WARC-record stream parsing (Common-Crawl-native ingest): documents
    are serialized into 16 concatenated WARC-style shard streams
    (deterministic synthesis), then the mapInPandas boundary scanner
    recovers every record's byte offset/length/payload digest. The oracle
    PREDICTS the parser's output analytically (prefix sums over computed
    record byte lengths) — the parser is checked against arithmetic,
    never against itself."""
    from dss_plugin_google_cloud_vision_spark.sources.warc import (
        build_warc_shards,
        parse_warc_stream,
    )

    docs = _table(spark, sf_dir, "documents")
    return parse_warc_stream(build_warc_shards(docs, n_shards=16))


def q_domain_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mixture token allocation: water-fill a 10k-token training
    budget across the corpus's source domains — exact integer level +
    deterministic remainder, so no domain dominates the mixture. One
    map-combined aggregate collapses the corpus to domain grain; all the
    rank/threshold work runs on the (bounded) domain table."""
    from pyspark.sql import functions as F

    from dss_plugin_google_cloud_vision_spark.operators.selection import (
        domain_token_allocation,
    )
    from dss_plugin_google_cloud_vision_spark.operators.textstats import quality_columns

    docs = _table(spark, sf_dir, "documents")
    sized = docs.select(
        F.col("source").alias("domain"),
        quality_columns("text")["n_tokens"].alias("n_tokens"),
    )
    return domain_token_allocation(sized, budget_tokens=10_000)


def q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-window chunking with overlap (chunk 64, stride 48): row-local
    sequence+transform+explode, no shuffle — the RAG/long-context
    windowing step."""
    from dss_plugin_google_cloud_vision_spark.operators.packing import chunk_documents

    return chunk_documents(
        _table(spark, sf_dir, "documents"), chunk_tokens=64, stride_tokens=48
    )


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing for training loaders: every document's slot in the
    packed fixed-budget token stream, via a scalable TWO-PHASE prefix sum
    (coarse-group totals + bounded in-group windows — never one global
    window partition); must equal the oracle's naive global cumsum. A
    small group_size forces many groups so the two-phase path is really
    exercised."""
    from dss_plugin_google_cloud_vision_spark.operators.packing import pack_sequences

    return pack_sequences(_table(spark, sf_dir, "documents"), budget_tokens=512, group_size=64)


def q_hot_bucket_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LSH hot-bucket guard's REPORT surface under a planted flood:
    600 extra copies of doc 0 collapse onto one MinHash signature, so the
    family's band buckets exceed the 512 cap and must be reported (the
    no-silent-caps rule made oracle-checkable)."""
    from dss_plugin_google_cloud_vision_spark.operators.dedup import (
        DEFAULT_MAX_BAND_BUCKET,
        lsh_band_keys,
        minhash_signature,
        oversized_band_buckets,
    )

    docs = _table(spark, sf_dir, "documents").select("doc_id", "text")
    seed = docs.filter(F.col("doc_id") == 0).select("text")
    copies = seed.select(
        F.explode(F.sequence(F.lit(1), F.lit(600))).alias("i"), F.col("text")
    ).select((F.lit(900000) + F.col("i")).alias("doc_id"), "text")
    flood = docs.unionAll(copies)
    bands = lsh_band_keys(minhash_signature(flood))
    return oversized_band_buckets(bands, ["band", "band_key"], DEFAULT_MAX_BAND_BUCKET)


def q_duplicate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-level dedup (Lee et al. duplicated-span removal,
    relational form): repeated 8-token windows keep only their first
    occurrence; window text never shuffles (hash + positions only)."""
    from dss_plugin_google_cloud_vision_spark.operators.dedup import duplicate_span_removal

    corpus = build_span_corpus(_table(spark, sf_dir, "documents"))
    return duplicate_span_removal(corpus, window_n=8)


def q_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document repeated-line removal (RefinedWeb rule): row-local
    array ops, zero shuffle; docs carrying the boilerplate paragraph both
    prepended and appended (doc_id % 21 == 0) must lose the second copy."""
    from dss_plugin_google_cloud_vision_spark.operators.dedup import within_doc_line_dedup

    corpus = build_paragraph_corpus(_table(spark, sf_dir, "documents"))
    return within_doc_line_dedup(corpus).select("doc_id", "deduped_text")


def q_gopher_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher/MassiveText-style document quality rules as exact integer
    columns + combined keep verdict — one row-local JVM projection."""
    from dss_plugin_google_cloud_vision_spark.operators.textstats import gopher_quality_table

    return gopher_quality_table(_table(spark, sf_dir, "documents"))


def q_url_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization (operators.urls): messy crawl URLs rendered
    deterministically from documents (mixed-case scheme/host, default
    ports, tracking params in unstable order, fragments) must collapse to
    the canonical form — one codegen projection, no UDF."""
    from dss_plugin_google_cloud_vision_spark.operators.urls import canonicalize_urls

    docs = _table(spark, sf_dir, "documents")
    d = F.col("doc_id")
    scheme = (
        F.when(d % 3 == 0, F.lit("HTTPS://"))
        .when(d % 3 == 1, F.lit("http://"))
        .otherwise(F.lit("https://"))
    )
    port = (
        F.when(d % 3 == 0, F.lit(":443")).when(d % 3 == 1, F.lit(":80")).otherwise(F.lit(""))
    )
    query = F.when(d % 2 == 0, F.lit("?utm_source=feed&b=2&a=1&gclid=x")).otherwise(
        F.lit("?z=9&a=1&utm_campaign=news")
    )
    frag = F.when(d % 5 == 0, F.lit("#section-2")).otherwise(F.lit(""))
    messy = docs.select(
        "doc_id",
        F.concat(
            scheme,
            F.lit("WWW.Example"),
            (d % 7).cast("string"),
            F.lit(".COM"),
            port,
            F.lit("/Docs/"),
            F.col("lang"),
            F.lit("/"),
            d.cast("string"),
            query,
            frag,
        ).alias("url"),
    )
    return canonicalize_urls(messy).select("doc_id", "url", "canonical_url")


def q_url_revisit_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-snapshot URL revisit dedup (operators.urls.latest_per_url):
    every 3 consecutive doc_ids are rendered as three snapshot visits of
    ONE logical page — three messy spellings of the same canonical URL,
    with the two newest visits TYING on the crawl timestamp so the
    id tie-break is exercised on every full group. Keep-newest election
    at canonical-url grain: map-combined max(struct(ts, id)), one
    shuffle, no window. The oracle predicts the canonical form
    analytically (canonicalization itself is chain-mirrored by
    url_canonicalize) and mirrors the lexicographic election as
    max-ts-then-max-id-at-max-ts."""
    from dss_plugin_google_cloud_vision_spark.operators.urls import latest_per_url

    docs = _table(spark, sf_dir, "documents")
    d = F.col("doc_id")
    logical = F.expr("doc_id div 3").cast("string")
    slot = d % 3
    url = (
        F.when(
            slot == 1,
            F.concat(
                F.lit("HTTPS://WWW.Example.COM:443/snap/"),
                logical,
                F.lit("?a=1&b=2&utm_source=x"),
            ),
        )
        .when(
            slot == 2,
            F.concat(
                F.lit("https://www.example.com/snap/"),
                logical,
                F.lit("?b=2&a=1&gclid=z#frag"),
            ),
        )
        .otherwise(
            F.concat(F.lit("https://www.example.com/snap/"), logical, F.lit("?b=2&a=1"))
        )
    )
    ts = (
        F.lit(1600000000000).cast("long")
        + F.expr("doc_id div 3") * 7919
        + F.when(slot == 0, F.lit(0)).otherwise(F.lit(5))
    )
    visits = docs.select("doc_id", url.alias("url"), ts.alias("ts_milli"))
    return latest_per_url(visits, ts_col="ts_milli")


def q_incremental_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous-crawl ingest near-dedup (mirror of
    oracles.incremental_near_dup_sql): the corpus is the even documents;
    the increment is the odd documents plus planted near-dups of corpus
    members (' zzz tail token' appended, doc_id+300000) and exact dups of
    increment members (doc_id+400000). The filter must drop both planted
    families and keep the rest."""
    from dss_plugin_google_cloud_vision_spark.operators.dedup import (
        incremental_near_dup_filter,
    )

    docs = _table(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 2 == 0).select("doc_id", "text")
    increment = (
        docs.filter(F.col("doc_id") % 2 == 1)
        .select("doc_id", "text")
        .unionAll(
            docs.filter(F.col("doc_id") % 10 == 6).select(
                (F.col("doc_id") + 10_000_000).alias("doc_id"),
                F.concat(F.col("text"), F.lit(" zzz tail token")).alias("text"),
            )
        )
        .unionAll(
            docs.filter((F.col("doc_id") % 2 == 1) & (F.col("doc_id") % 15 == 1)).select(
                (F.col("doc_id") + 20_000_000).alias("doc_id"), F.col("text")
            )
        )
    )
    return incremental_near_dup_filter(increment, corpus)


def q_split_empty_guard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E5 empty-result guard at page level: a deterministic subset of PDF
    payloads (doc_id % 23 == 0) carries the ``%PDF-`` magic but NO page
    structure — the split guard must raise DocumentSplitError (reference
    document_utils.py:152-156 analogue, functions/pdf_extract.py) and
    route it to the error columns as ONE error row per document (null
    page_number), while every other document still splits into its two
    layout pages with clean error columns."""
    from dss_plugin_google_cloud_vision_spark.operators.pages import extract_pages
    from dss_plugin_google_cloud_vision_spark.sources.render import documents_as_pdf_pages

    pages = documents_as_pdf_pages(_table(spark, sf_dir, "documents"))
    gutted = pages.withColumn(
        "html",
        F.when(
            F.col("doc_id") % 23 == 0,
            F.encode(F.lit("%PDF-FAKE 1.0\n%%EOF\n"), "UTF-8"),
        ).otherwise(F.col("html")),
    )
    out = extract_pages(gutted, drop_payload=True)
    return out.select(
        "doc_id",
        "page_number",
        F.col("content_api_error_message").alias("error_message"),
        F.col("content_api_error_type").alias("error_type"),
    )


def q_extract_split_identity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Both document-split branches (P3/M7/E1/E2) in ONE query, union'd
    with a ``fmt`` discriminator. PDF: two-page layout payloads with blocks
    written out of reading order; the pipeline must split pages, restore
    layout order and merge back to part1\\npart2\\fpart3 of documents.text.
    TIFF (the third routing branch): two-frame ``II*\\x00`` payloads that
    must merge back to half1\\fhalf2 of documents.text."""
    from dss_plugin_google_cloud_vision_spark.sources.render import (
        documents_as_pdf_pages,
        documents_as_tiff_pages,
    )

    docs = _table(spark, sf_dir, "documents")
    parts = []
    for fmt, render in (("pdf", documents_as_pdf_pages), ("tiff", documents_as_tiff_pages)):
        pages = render(docs)
        plan = run_extraction_pipeline(pages)
        parts.append(
            plan.documents.join(pages.select("url", "doc_id"), "url").select(
                F.lit(fmt).alias("fmt"),
                "doc_id",
                "page_count",
                F.col("doc_text").alias("extracted_text"),
            )
        )
    return parts[0].unionByName(parts[1])


def q_vision_formatters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P7+P8+P4 in ONE query: the unsafe-likelihood, crop-hint, and
    web-blocklist formatters are all 1:1 per-doc projections — joined on
    doc_id into a single wide correctness surface, each through its real
    formatter.

    P7: safeSearchAnnotation responses built in SQL, the five likelihood
    columns projected back out (reference google_vision_api_formatting.py:
    432-457). P8: the first crop hint's confidence / importanceFraction
    (reference :460-486) as exact micro ints; a second hint must not win."""
    from dss_plugin_google_cloud_vision_spark.operators.formatters import (
        UNSAFE_CATEGORIES,
        format_crop_hints,
        format_unsafe_content,
    )

    docs = _table(spark, sf_dir, "documents")

    def lik(offset: int):
        return F.element_at(
            F.array(*[F.lit(s) for s in _LIKELIHOODS]),
            ((F.col("doc_id") + offset) % 5 + 1).cast("int"),
        )

    safe_search = F.to_json(
        F.struct(
            F.struct(
                *[lik(i).alias(cat) for i, cat in enumerate(UNSAFE_CATEGORIES)]
            ).alias("safeSearchAnnotation")
        )
    )
    unsafe = format_unsafe_content(
        docs.select("doc_id", safe_search.alias("resp")), "resp", "moderation_api"
    ).df.select(
        "doc_id",
        *[
            F.col(f"moderation_api_{cat}_likelihood").alias(f"{cat}_likelihood")
            for cat in UNSAFE_CATEGORIES
        ],
    )

    conf = (F.col("doc_id") % 100).cast("double") / 100.0
    imp = (F.col("doc_id") % 37).cast("double") / 37.0
    crop_hints = F.to_json(
        F.struct(
            F.struct(
                F.array(
                    F.struct(conf.alias("confidence"), imp.alias("importanceFraction")),
                    F.struct(F.lit(0.5).alias("confidence"), F.lit(0.5).alias("importanceFraction")),
                ).alias("cropHints")
            ).alias("cropHintsAnnotation")
        )
    )
    crop = format_crop_hints(
        docs.select("doc_id", crop_hints.alias("resp")), "resp", "crop_api"
    ).df.select(
        "doc_id",
        F.round(F.col("crop_api_score") * 1_000_000).cast("bigint").alias("score_micro"),
        F.round(F.col("crop_api_importance_fraction") * 1_000_000)
        .cast("bigint")
        .alias("importance_micro"),
    )
    return unsafe.join(crop, "doc_id").join(q_web_blocklist_formatter(spark, sf_dir), "doc_id")


def q_corpus_subsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mixture construction: per-language deterministic hash
    sample (en 80% / fr 50% / de 25%, everything else 10%) followed by a
    per-source quota cap (40 docs) — the two corpus-subsampling operators
    composed the way a mixture builder runs them. Fully deterministic:
    the sampling coordinate is an md5 hex prefix compared
    lexicographically, bit-identical across engines."""
    from dss_plugin_google_cloud_vision_spark.operators.sampling import (
        cap_per_group,
        stratified_sample,
    )

    docs = _table(spark, sf_dir, "documents").select("doc_id", "lang", "source")
    sampled = stratified_sample(
        docs, {"en": 800, "fr": 500, "de": 250}, default_rate_milli=100
    )
    return cap_per_group(sampled, "source", cap=40)


def q_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN end-to-end (train → encode → ADC search →
    exact refine) against the fully-relational DuckDB mirror: identical
    L2 Lloyd training per subspace, identical left-fold arithmetic, so
    codebooks, codes, candidates and ranks agree bit-for-bit."""
    from dss_plugin_google_cloud_vision_spark.operators.similarity import (
        encode_pq,
        pq_topk,
        train_pq_codebooks,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    query = [float(v) for v in emb.filter(F.col("vec_id") == 0).first()["embedding"]]
    books = train_pq_codebooks(emb, n_subspaces=2, n_codes=8, train_iterations=1)
    return pq_topk(encode_pq(emb, books), books, query, k=10, refine=4)


def q_quality_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style per-language head/middle/tail bucketing by the exact
    bigram LM score, tercile thresholds via the bounded-domain histogram
    quantile — the mixture-construction step after quality scoring."""
    from dss_plugin_google_cloud_vision_spark.operators.textstats import lm_quality_buckets

    return lm_quality_buckets(_table(spark, sf_dir, "documents"))


def q_duplicate_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-doc duplicate 5-gram fraction (the long-n Gopher repetition
    rule) over documents with a planted self-repeating spam tail on every
    fifth doc — internal looping that corpus-level dedup cannot see."""
    from dss_plugin_google_cloud_vision_spark.operators.textstats import (
        duplicate_ngram_stats,
    )

    docs = _table(spark, sf_dir, "documents").select(
        "doc_id",
        F.when(
            F.col("doc_id") % 5 == 0,
            F.concat(
                F.col("text"),
                F.lit(" spam spam spam spam spam spam spam spam spam spam"),
            ),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return duplicate_ngram_stats(docs, n=5)


def q_shard_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic training-order sharding witness: per-shard doc count,
    id sum, and minimum order key over the md5-derived (shard, order_key)
    assignment — the reproducible global shuffle a training loader reads."""
    from dss_plugin_google_cloud_vision_spark.operators.packing import shard_corpus

    sharded = shard_corpus(_table(spark, sf_dir, "documents"), n_shards=16)
    return sharded.groupBy("shard").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("doc_id").cast("bigint").alias("sum_ids"),
        F.min("order_key").cast("bigint").alias("min_order"),
    )


def q_grouped_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-language p50/p90 document length via the bounded-domain
    histogram method (the 100 TB-feasible exact quantile: the only window
    runs over distinct values, never corpus rows)."""
    from dss_plugin_google_cloud_vision_spark.operators.textstats import (
        grouped_exact_quantiles,
    )

    return grouped_exact_quantiles(
        _table(spark, sf_dir, "documents"), "lang", "n_chars", (50, 90)
    )


def q_boilerplate_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-frequency boilerplate removal over the rendered paragraph
    corpus: the planted boilerplate line (present in ~2/5 of docs) crosses
    the min_doc_count threshold and is removed from EVERY document,
    including its first occurrence — the rule paragraph_dedup deliberately
    does not apply."""
    from dss_plugin_google_cloud_vision_spark.operators.dedup import remove_frequent_lines

    corpus = build_paragraph_corpus(_table(spark, sf_dir, "documents"))
    return remove_frequent_lines(corpus, min_doc_count=50)


def q_text_quality_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counts + quality signals + language-ID as ONE row-local
    projection (they were three separate per-doc queries; all are
    expressions over the same scan, so the merged form is also the plan a
    real profiler would run — one pass, zero shuffles)."""
    from dss_plugin_google_cloud_vision_spark.operators.textstats import (
        langid_detected_expr,
        langid_hit_columns,
        quality_columns,
        regex_token_count,
    )

    docs = _table(spark, sf_dir, "documents")
    with_hits = docs.withColumns(langid_hit_columns())
    qc = quality_columns()
    return with_hits.select(
        "doc_id",
        *[expr.alias(name) for name, expr in qc.items()],
        regex_token_count().cast("bigint").alias("n_regex_tokens"),
        langid_detected_expr().alias("lang_detected"),
    )


def q_doc_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two training-data hygiene signals as ONE per-doc surface, joined
    1:1 on doc_id, each over its own planted corpus. PII: URLs/emails/
    phones planted into every document (deterministically, mirrored by the
    oracle) must be counted and redacted by typed placeholders — pure JVM
    regexp. Repetition: the Gopher-style top-bigram fraction over
    documents with a planted spam tail on every fifth doc."""
    from dss_plugin_google_cloud_vision_spark.operators.textstats import (
        pii_counts,
        redact_pii_column,
        repetition_table,
    )

    docs = _table(spark, sf_dir, "documents")
    planted = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com via https://site"),
            F.col("doc_id").cast("string"),
            F.lit(".org/p?q=1 or +1 (555) 010-"),
            F.format_string("%04d", (F.col("doc_id") % 10000).cast("int")),
        ).alias("text"),
    )
    pii = planted.select(
        "doc_id",
        redact_pii_column().alias("redacted"),
        *[expr.alias(name) for name, expr in pii_counts().items()],
    )
    spam_tailed = docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 5 == 0,
            F.concat(F.col("text"), F.lit(" spam spam spam spam spam spam")),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return pii.join(repetition_table(spam_tailed), "doc_id")


def q_column_reorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P10 column reorder as a constant-shape roundtrip: a deliberately
    scrambled column layout is normalized by move_api_columns_to_end under
    LOG (api columns last, data order preserved) and FAIL (error
    message/type leave the api tail); the resulting ORDERS are emitted as
    data so the driver's name-sorted compare still verifies them."""
    from dss_plugin_google_cloud_vision_spark.errors import ErrorHandling, ExtractionError
    from dss_plugin_google_cloud_vision_spark.naming import build_unique_column_names
    from dss_plugin_google_cloud_vision_spark.operators.enrichers import token_stats_row
    from dss_plugin_google_cloud_vision_spark.operators.extract import extract
    from dss_plugin_google_cloud_vision_spark.operators.formatters import (
        move_api_columns_to_end,
    )

    docs = _table(spark, sf_dir, "documents").select("doc_id", "text")
    out = extract(docs, token_stats_row, (ExtractionError,), "stats_api", verbose=True)
    scrambled = out.select(
        "stats_api_response",
        "doc_id",
        "stats_api_error_message",
        "text",
        "stats_api_error_type",
        "stats_api_error_raw",
    )
    names = build_unique_column_names(["doc_id", "text"], "stats_api")
    log_order = move_api_columns_to_end(scrambled, names, ErrorHandling.LOG).columns
    fail_order = move_api_columns_to_end(scrambled, names, ErrorHandling.FAIL).columns
    return docs.select(
        "doc_id",
        F.lit(",".join(log_order)).alias("log_order"),
        F.lit(",".join(fail_order)).alias("fail_order"),
    )


def q_param_validation_echo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F8 parameter validation as a constant-shape roundtrip: the
    normalized/overridden values (document-path batch-size force, batched
    rate-limit division, hint override) echoed per doc_id and pinned by a
    constant oracle."""
    from dss_plugin_google_cloud_vision_spark.config import validate_params

    doc_params = validate_params(batch_size=16, document_path=True, rate_limit=1800)
    batched = validate_params(batch_size=16, rate_limit=1800, batch_support=True)
    hinted = validate_params(language="fr", custom_language_hints="en, de")
    docs = _table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.lit(doc_params.batch_size).cast("int").alias("doc_path_batch_size"),
        F.lit(batched.rate_limit).cast("int").alias("batched_rate_limit"),
        F.lit(",".join(hinted.language_hints)).alias("hints"),
        F.lit(hinted.error_handling.name).alias("error_handling"),
    )


def q_column_descriptions_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4/S5 write-then-read roundtrip: write documents with merged column
    descriptions (input wins on name match, reference dku_io_utils.py:71-78)
    then read the descriptions back and emit them as rows."""
    import tempfile

    from dss_plugin_google_cloud_vision_spark.sources.sinks import (
        read_column_descriptions,
        write_output,
    )

    docs = _table(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    # Per-invocation dir (a fixed shared path clashes under concurrent
    # driver/bench runs and across users); the descriptions read is eager,
    # so the dir can be reclaimed before returning.
    with tempfile.TemporaryDirectory(prefix="oracle_sink_") as tmp:
        target = os.path.join(tmp, "descriptions.parquet")
        write_output(
            docs,
            target,
            descriptions={"doc_id": "output id", "lang": "output lang", "text": "extracted text"},
            input_descriptions={"lang": "input language wins", "n_chars": ""},
        )
        described = read_column_descriptions(spark, target)
    rows = sorted(described.items())
    return spark.createDataFrame(rows, "column_name string, description string")


def q_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal surface (binary payload → feature vector via
    mapInPandas): ALL THREE modalities REAL-decoded — images (PNG/PPM
    pixel histograms, functions/imaging.py), audio (PCM WAV sample
    histograms, functions/audio.py), video (RGB24 AVI frame-pixel
    histograms, functions/video.py); the planted undecodable video rows
    land in feature_error. The oracle (``oracles.media_features_sql``)
    recomputes the decoded histograms ANALYTICALLY from the generation
    formulas — an exact end-to-end check of encode → decode → featurize.
    Micro values replicate numpy's arithmetic order: round((cnt/size)*1e6)."""
    from dss_plugin_google_cloud_vision_spark.operators.multimodal import (
        extract_media_features,
        synthetic_media_df,
    )

    _ensure_workers_can_import(spark)
    media = synthetic_media_df(spark, 96)
    out = extract_media_features(media)
    feats = F.col("features")
    return out.select(
        "media_id",
        "kind",
        F.round(F.element_at(feats, 1) * 1000000).cast("bigint").alias("f0_micro"),
        F.round(F.element_at(feats, 7) * 1000000).cast("bigint").alias("f6_micro"),
        F.when(feats.isNotNull(), F.size(feats)).alias("n_bins"),
        (F.length("feature_error") > 0).cast("int").alias("error_flag"),
    )


def q_countmin_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min frequency sketch: the 4x256 counter grid is bounded state
    at ANY corpus size (one map-combined groupBy on hash-uniform keys — no
    Zipf skew survives the bucketing), and point estimates are a broadcast
    join against that tiny grid. Output: the top-25 tokens by exact count
    (cnt DESC, token — TakeOrdered both sides) with their sketch estimate
    and the never-negative overcount."""
    from dss_plugin_google_cloud_vision_spark.operators.sketches import (
        countmin_estimates,
        countmin_table,
        whitespace_tokens,
    )

    docs = _table(spark, sf_dir, "documents")
    sketch = countmin_table(docs)
    exact = (
        whitespace_tokens(docs)
        .groupBy("token")
        .agg(F.count("*").cast("bigint").alias("exact_cnt"))
    )
    top = exact.orderBy(F.col("exact_cnt").desc(), "token").limit(25)
    return countmin_estimates(top, sketch).select(
        "token",
        "exact_cnt",
        "cm_estimate",
        (F.col("cm_estimate") - F.col("exact_cnt")).cast("bigint").alias("overcount"),
    )


def q_classifier_inference(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fastText-shaped classifier at corpus scale: one-pass hashed-ngram
    class-affinity weight table (bounded: n_buckets x n_labels rows,
    integer-exact add-one ratios), then inference = broadcast weight join
    + map-combined per-(doc,label) dot product + deterministic argmax.
    Output: per-doc predicted language vs actual, with the correct flag
    (synthetic vocab is mostly shared across langs, so accuracy is an
    honesty column, not a quality claim — the operator under test is the
    distributed inference shape)."""
    from dss_plugin_google_cloud_vision_spark.operators.classifier import (
        _ngram_occurrences,
        classify_documents,
        train_class_affinity_weights,
    )
    from dss_plugin_google_cloud_vision_spark.operators.classifier import CLS_SEED
    from dss_plugin_google_cloud_vision_spark.operators.selection import DSIR_N_BUCKETS

    docs = _table(spark, sf_dir, "documents")
    # one (doc, label, bucket) occurrence table shared by the trainer's
    # two aggregates AND inference (identical rows under the same seed) —
    # the corpus explode + md5 bucketing executes once instead of three
    # times (r6; execution hint only, results identical)
    occ = _ngram_occurrences(
        docs,
        [F.col("doc_id"), F.col("lang").alias("label")],
        "text",
        DSIR_N_BUCKETS,
        CLS_SEED,
    ).localCheckpoint(eager=False)
    weights = train_class_affinity_weights(docs, label_col="lang", occurrences=occ)
    pred = classify_documents(docs, weights, occurrences=occ)
    return pred.join(docs.select("doc_id", "lang"), "doc_id").select(
        "doc_id",
        "lang",
        F.col("predicted_label").alias("predicted_lang"),
        "best_score_micro",
        "n_ngrams",
        (F.col("lang") == F.col("predicted_label")).cast("int").alias("correct"),
    )


def q_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer lifecycle second half: apply the corpus-learned merge
    list back onto the corpus (encode). Runs at distinct-word grain (the
    bounded vocabulary), every collected merge a literal replace in one
    projection, then one Zipf-documented word join + map-combined per-doc
    rollup. Output:
    per-doc word/BPE-token/char counts + integer compression ratio."""
    from dss_plugin_google_cloud_vision_spark.operators.tokenizer import (
        apply_bpe_merges,
        learn_bpe_merges,
    )

    docs = _table(spark, sf_dir, "documents")
    merges = learn_bpe_merges(docs, n_merges=6)
    return apply_bpe_merges(docs, merges, n_merges=6)


def q_importance_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The R in DSIR: deterministic Bernoulli-by-weight resample of the
    corpus — keep probability = importance_micro / scale, decided by one
    row-local bigint comparison on an independent md5 coordinate (no
    floats, no global sort). Output: full audit table with kept flag."""
    from dss_plugin_google_cloud_vision_spark.operators.selection import (
        importance_resample,
    )

    return importance_resample(
        _table(spark, sf_dir, "documents"), target_pred=F.col("lang") == "en"
    )


def q_page_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Page-chrome metadata (title, link census, footer, lead-article
    size) parsed from the rendered payload BYTES in one codegen
    projection; the oracle predicts every column analytically from the
    render template (golden cross-check — media_features discipline)."""
    from dss_plugin_google_cloud_vision_spark.operators.metadata import page_metadata

    pages = documents_as_pages(_table(spark, sf_dir, "documents"))
    return page_metadata(pages).select(
        "doc_id", "is_html", "title", "n_anchors", "has_footer", "article_chars"
    )


def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical retrieval at corpus scale: top-15 documents for a 3-term
    query under integer-exact BM25 (log-free rational idf — the module
    docstring documents the deviation). Plan shape: posting lists
    filtered to the query's terms before the only corpus-proportional
    shuffle (the (doc, dl, token) tf rollup); df and N/L are broadcast
    1-row/3-row aggregates; top-k is TakeOrderedAndProject."""
    from dss_plugin_google_cloud_vision_spark.operators.retrieval import bm25_topk

    docs = _table(spark, sf_dir, "documents")
    return bm25_topk(docs, ["spark", "merge", "join"], k=15)


def q_normalized_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style normalization-keyed dedup over a corpus with PLANTED
    variants (uppercase mirrors, punctuation tails, digit rewrites that
    fold to the same '0'-form): groups raw exact dedup cannot see,
    flagged by n_distinct_raw > 1. One codegen normalization projection
    + the md5-key groupBy dedup shape (uniform shuffle key)."""
    from dss_plugin_google_cloud_vision_spark.operators.normalize import (
        normalized_dedup_groups,
    )

    docs = _table(spark, sf_dir, "documents").select("doc_id", "text")
    corpus = (
        docs.unionByName(
            docs.filter(F.col("doc_id") % 10 == 0).select(
                (F.col("doc_id") + 300000).alias("doc_id"),
                F.upper(F.col("text")).alias("text"),
            )
        )
        .unionByName(
            docs.filter(F.col("doc_id") % 15 == 0).select(
                (F.col("doc_id") + 400000).alias("doc_id"),
                F.concat(F.col("text"), F.lit(" !!!")).alias("text"),
            )
        )
        .unionByName(
            docs.filter(F.col("doc_id") % 20 == 0).select(
                (F.col("doc_id") + 500000).alias("doc_id"),
                F.concat(F.col("text"), F.lit(" 42")).alias("text"),
            )
        )
        .unionByName(
            docs.filter(F.col("doc_id") % 20 == 0).select(
                (F.col("doc_id") + 600000).alias("doc_id"),
                F.concat(F.col("text"), F.lit(" 99")).alias("text"),
            )
        )
    )
    return normalized_dedup_groups(corpus)


def q_lexical_index_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 over a PERSISTED lexical lake index: tf postings written
    hive-partitioned by seeded token-hash shard + a 1-row _meta table;
    the search scans ONLY the query terms' shard directories
    (PartitionFilters, plan-asserted in tests) with the token filter
    pushed into those scans, then the exact same integer scoring as
    bm25_topk — so the oracle is the plain corpus-side BM25 SQL."""
    from dss_plugin_google_cloud_vision_spark.operators.retrieval import (
        build_lexical_index,
        search_lexical_index,
    )

    docs = _table(spark, sf_dir, "documents")
    index_path = _lazy_scratch_dir("lexindex_") + "/postings"
    build_lexical_index(docs, index_path)
    return search_lexical_index(
        spark, index_path, ["table", "window", "vector", "group"], k=20
    )


def q_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing (MOSS) fingerprint selection per document: window-min
    over token k-gram hashes with rightmost tie-break, fully row-local
    (zero shuffle) — output is the per-doc selection count + an exact
    md5 witness of the sorted selection set."""
    from dss_plugin_google_cloud_vision_spark.operators.textstats import (
        winnow_fingerprint_table,
    )

    return winnow_fingerprint_table(_table(spark, sf_dir, "documents"))


def q_winnow_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MOSS match step over the dedup corpus: pairs sharing >= 2 winnow
    fingerprints (position-independent hash part — LOCAL overlap
    evidence, catches a shared run in otherwise-different docs where
    MinHash needs global Jaccard). Blocking k=5 keeps fp buckets tight;
    the cap guard stays available for boilerplate-heavy corpora."""
    from dss_plugin_google_cloud_vision_spark.operators.textstats import (
        winnow_near_dup_pairs,
    )

    return winnow_near_dup_pairs(build_dedup_corpus(spark, sf_dir))


def q_c4_gates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 cleaning heuristics over a corpus rebuilt as multi-line pages
    (3 terminally-punctuated lines per doc, with planted rule-breakers:
    %5 docs lose their third terminal mark, %7 gain a lorem-ipsum line,
    %11 a curly-brace line, %13 a blocklist line) — every gate column +
    the keep decision in one codegen projection, zero exchanges."""
    from dss_plugin_google_cloud_vision_spark.operators.textstats import (
        c4_gates_table,
    )

    docs = _table(spark, sf_dir, "documents").select("doc_id", "text")
    nl = F.lit("\n")
    third_punct = F.when(F.col("doc_id") % 5 == 0, F.lit("")).otherwise(F.lit("!"))
    body = F.concat(
        F.col("text"), F.lit("."), nl,
        F.col("text"), F.lit("?"), nl,
        F.col("text"), third_punct,
    )
    body = F.when(
        F.col("doc_id") % 7 == 0, F.concat(body, nl, F.lit("lorem Ipsum dolor sit."))
    ).otherwise(body)
    body = F.when(
        F.col("doc_id") % 11 == 0, F.concat(body, nl, F.lit("a { code block }."))
    ).otherwise(body)
    body = F.when(
        F.col("doc_id") % 13 == 0, F.concat(body, nl, F.lit("then BADWORD1 appears here."))
    ).otherwise(body)
    pages = docs.select("doc_id", body.alias("text"))
    return c4_gates_table(pages)


def q_passage_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAG passage retrieval = the chunking operator composed with BM25:
    token-window chunks (row-local) become the retrieval corpus under a
    composite passage key (doc_id*10000 + chunk_id), scored by the same
    integer BM25 — top passages, not top documents. Oracle nests the
    chunk SQL as the BM25 source (operator composability is mirrored by
    CTE composability)."""
    from dss_plugin_google_cloud_vision_spark.operators.packing import (
        chunk_documents,
    )
    from dss_plugin_google_cloud_vision_spark.operators.retrieval import bm25_topk

    docs = _table(spark, sf_dir, "documents")
    chunks = chunk_documents(docs, chunk_tokens=64, stride_tokens=48)
    # composite-key guard: chunk_id >= 10000 would collide with the next
    # doc's key, and the oracle mirrors the same arithmetic so it could
    # never catch it — fail loudly (assert_true) past the bound
    guarded_chunk = F.when(
        F.assert_true(
            F.col("chunk_id") < 10000,
            F.lit("passage key collides at >= 10000 chunks per doc"),
        ).isNull(),
        F.col("chunk_id"),
    )
    passages = chunks.select(
        (F.col("doc_id") * 10000 + guarded_chunk).alias("doc_id"),
        F.col("chunk_text").alias("text"),
    )
    return bm25_topk(passages, ["spark", "merge", "join"], k=15)


MQ_BM25_QUERIES = {
    "q_engine": ["spark", "merge", "join"],
    "q_data": ["table", "row", "column"],
    "q_mixed": ["spark", "table", "window"],
}


def q_multi_query_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A BATCH of BM25 queries in one corpus pass (decontamination-
    mining shape): broadcast (query_id, token) fan-out, token-grain df
    shared across queries, per-query rank window (bounded partitions —
    one per query id). Single-query batches match bm25_topk exactly
    (tested)."""
    from dss_plugin_google_cloud_vision_spark.operators.retrieval import (
        multi_query_bm25,
    )

    docs = _table(spark, sf_dir, "documents")
    return multi_query_bm25(docs, MQ_BM25_QUERIES, k=8)


def q_corpus_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-vs-corpus overlap (dataset versioning): each corpus
    collapses to a 12-row MinHash signature in one map-combined pass
    (bounded state at ANY size), the estimate is a 12-row broadcast
    join; the exact shingle-set Jaccard rides along as the honesty
    column (hll_distinct discipline — skipped at production scale).
    Corpus B = even-id docs verbatim ∪ mod-5 docs with a drift suffix."""
    from dss_plugin_google_cloud_vision_spark.operators.corpus_diff import (
        corpus_overlap_report,
    )

    docs = _table(spark, sf_dir, "documents")
    corpus_b = (
        docs.filter(F.col("doc_id") % 2 == 0)
        .select("text")
        .unionByName(
            docs.filter(F.col("doc_id") % 5 == 0).select(
                F.concat(F.col("text"), F.lit(" novel drift token")).alias("text")
            )
        )
    )
    return corpus_overlap_report(docs.select("text"), corpus_b)


def q_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional phrase search on the inverted index: each phrase slot
    equi-joins its filtered posting list on (doc, pos - slot) — hash
    joins only, overlapping matches counted. Output: matching docs with
    match count and first anchor position."""
    from dss_plugin_google_cloud_vision_spark.operators.retrieval import (
        phrase_search,
    )

    docs = _table(spark, sf_dir, "documents")
    return phrase_search(docs, ["the", "spark"])


def q_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog distinct-count sketch over document TEXTS (the
    exact-dup-rate cardinality question): 64 registers of max(rho), merged
    by one map-combined groupBy — the state is 64 rows whether the corpus
    is 500 docs or 100 TB. The exact distinct count rides along as the
    honesty column; err_milli is the integer relative error."""
    from dss_plugin_google_cloud_vision_spark.operators.sketches import (
        hll_distinct_estimate,
    )

    docs = _table(spark, sf_dir, "documents").select(F.col("text").alias("v"))
    return hll_distinct_estimate(docs, "v")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Dict ORDER is part of the driver contract: the round driver's
    correctness gate covers the FIRST 50 entries, so exactly one
    representative of every operator family sits inside that window
    (consolidated where 1:1 per-doc surfaces could merge); entries past 50
    are redundant variants of families already covered — still checked by
    ``tools/check_oracle.py``, just not by the driver's hard signal."""
    return {
        # --- reference-surface families (extraction, formatters, sinks) ---
        "extract_text_identity": q_extract_text_identity,
        "extract_error_metrics": q_extract_error_metrics,
        "extract_split_identity": q_extract_split_identity,
        "merge_collect": q_merge_collect,
        "topk_per_group": q_topk_per_group,
        "argmax_supplier": q_argmax_supplier,
        "extension_filter": q_extension_filter,
        "text_formatter_roundtrip": q_text_formatter_roundtrip,
        "vision_formatters": q_vision_formatters,
        "annotated_spans": q_annotated_spans,
        "span_envelope": q_span_envelope,
        "custom_row_extract": q_custom_row_extract,
        "custom_batch_extract": q_custom_batch_extract,
        "unique_naming_collision": q_unique_naming_collision,
        "content_topk_formatter": q_content_topk_formatter,
        "column_reorder": q_column_reorder,
        "param_validation_echo": q_param_validation_echo,
        "column_descriptions_sink": q_column_descriptions_sink,
        "partitioned_pruned_scan": q_partitioned_pruned_scan,
        "split_empty_guard": q_split_empty_guard,
        "politeness_slots": q_politeness_slots,
        "skew_two_phase": q_skew_two_phase,
        # --- dedup / similarity families ---
        "exact_dedup": q_exact_dedup,
        # minhash_candidates is a strict prefix of near_dup_pairs' LSH
        # chain (same shingle/sig/band CTEs) — moved below the window to
        # make room for the graph-centrality family (domain_pagerank)
        "near_dup_pairs": q_near_dup_pairs,
        "dedup_clusters": q_dedup_clusters,
        # corpus_overlap is the corpus-level-comparison family rep
        # (bounded MinHash sketch diff between two corpora);
        # simhash_near_dups moved below the window — sketch-banded
        # near-dup stays repped in-window by near_dup_pairs (MinHash) and
        # semantic_dedup (embedding)
        "corpus_overlap": q_corpus_overlap,
        # classifier_inference is the model-based-scoring family rep
        # (hashed-feature linear classifier: broadcast weights +
        # map-combined dot + argmax); embedding_near_dups moved below the
        # window — embedding-space near-dup stays repped in-window by
        # semantic_dedup (and the banded-LSH shape by near_dup_pairs)
        "classifier_inference": q_classifier_inference,
        "semantic_dedup": q_semantic_dedup,
        # countmin_heavy_hitters is the bounded-state sketch family rep
        # (count-min grid + broadcast point estimates); paragraph_dedup
        # moved below the window — cross-doc granular dedup stays repped
        # in-window by duplicate_spans and boilerplate_lines
        "countmin_heavy_hitters": q_countmin_heavy_hitters,
        # split_leakage is the evaluation-hygiene family rep (deterministic
        # split carve-out + near-dup cross-split audit); line_dedup moved
        # below the window — within-doc granular dedup stays represented
        # in-window by duplicate_spans and boilerplate_lines
        "split_leakage": q_split_leakage,
        "duplicate_spans": q_duplicate_spans,
        # bpe_merges is the tokenizer-prep family rep (corpus BPE merge
        # learning at vocabulary grain); ngram_contamination moved below
        # the window — benchmark decontamination stays repped in-window
        # by split_leakage (the eval-hygiene family)
        "bpe_merges": q_bpe_merges,
        "incremental_near_dup": q_incremental_near_dup,
        "ann_topk": q_ann_topk,
        # ivf_pq_search covers the ivf_index_search family AND the PQ ADC
        # path in one entry (partition pruning + code-only scan + refine);
        # the flat ivf_index_search variant moved below the window
        "ivf_pq_search": q_ivf_pq_search,
        # --- text-analysis / pipeline families ---
        "text_quality_profile": q_text_quality_profile,
        # bm25_topk is the lexical-retrieval family rep (filtered posting
        # lists + broadcast df/N + integer BM25 + TakeOrdered top-k);
        # fingerprints moved below the window — content-fingerprinting
        # stays repped in-window by exact_dedup (md5 fingerprints) and
        # near_dup_pairs (MinHash signatures)
        "bm25_topk": q_bm25_topk,
        "gopher_quality": q_gopher_quality,
        # dsir_importance is the data-selection family rep (hashed-ngram
        # importance weighting); token_rarity moved below the window —
        # its corpus-frequency-scoring family stays represented in-window
        # by trigram_predictability
        "dsir_importance": q_dsir_importance,
        "trigram_predictability": q_trigram_predictability,
        "doc_signals": q_doc_signals,
        "url_canonicalize": q_url_canonicalize,
        "corpus_subsample": q_corpus_subsample,
        "boilerplate_lines": q_boilerplate_lines,
        "pack_sequences": q_pack_sequences,
        "session_stats": q_session_stats,
        # warc_records is the Common-Crawl-native ingest family rep
        # (record-boundary scan, analytic offset oracle); event_windows
        # moved below the window — the event-time family stays
        # represented in-window by session_stats
        "warc_records": q_warc_records,
        # domain_pagerank is the graph-centrality family rep (host-level
        # link-graph ranking, exact integer-micro fixed-point chain)
        "domain_pagerank": q_domain_pagerank,
        "web_curation_pipeline": q_web_curation,
        "media_features": q_media_features,
        # ---- driver window ends here (50) — variants below ----
        # (web_blocklist/min_score: P4 and P2 are exercised inside
        # vision_formatters and content_topk_formatter's in-window oracles;
        # chunk_documents is the stride variant of the pack_sequences
        # packing family — displaced by semantic_dedup, round 5)
        "chunk_documents": q_chunk_documents,
        "token_rarity": q_token_rarity,
        "event_windows": q_event_windows,
        "budget_head": q_budget_head,
        # domain_mixture: selection-family variant (budget allocation at
        # domain grain) — family repped in-window by dsir_importance
        "domain_mixture": q_domain_mixture,
        "minhash_candidates": q_minhash_candidates,
        "line_dedup": q_line_dedup,
        "ngram_contamination": q_ngram_contamination,
        # cluster_representatives: dedup-family variant (quality-aware
        # winner election on top of the in-window dedup_clusters closure)
        "cluster_representatives": q_cluster_representatives,
        "web_blocklist_formatter": q_web_blocklist_formatter,
        "min_score_filter": q_min_score_filter,
        "extract_lang_chars": q_extract_lang_chars,
        "doc_merge_roundtrip": q_doc_merge_roundtrip,
        "shipping_priority": q_shipping_priority,
        "anti_join_resume": q_anti_join_resume,
        "simhash": q_simhash,
        "lsh_ann_topk": q_lsh_ann_topk,
        "ivf_topk": q_ivf_topk,
        "ivf_index_search": q_ivf_index_search,
        "hot_bucket_report": q_hot_bucket_report,
        "training_pipeline": q_training_pipeline,
        "curation_pipeline": q_curation_pipeline,
        "gopher_multilingual": q_gopher_multilingual,
        "bigram_predictability": q_bigram_predictability,
        "shard_summary": q_shard_summary,
        "grouped_quantiles": q_grouped_quantiles,
        "duplicate_ngrams": q_duplicate_ngrams,
        "quality_buckets": q_quality_buckets,
        "pq_topk": q_pq_topk,
        "paragraph_dedup": q_paragraph_dedup,
        "embedding_near_dups": q_embedding_near_dups,
        # hll_distinct: sketch-family variant (distinct-count registers) —
        # family repped in-window by countmin_heavy_hitters
        "hll_distinct": q_hll_distinct,
        # bpe_encode: tokenizer-family variant (apply/encode half) —
        # family repped in-window by bpe_merges (the learn half)
        "bpe_encode": q_bpe_encode,
        # importance_resample: selection-family variant (the resampling
        # half of DSIR) — family repped in-window by dsir_importance
        "importance_resample": q_importance_resample,
        # page_metadata: extraction-family variant (the page-chrome
        # metadata half of the extractor) — family repped in-window by
        # extract_text_identity / extract_split_identity
        "page_metadata": q_page_metadata,
        # fingerprints: document-fingerprint variant (rolling-hash prefix
        # fingerprint) — content-fingerprinting repped in-window by
        # exact_dedup (md5 fingerprints) and near_dup_pairs (MinHash)
        "fingerprints": q_fingerprints,
        # phrase_search: lexical-retrieval variant (positional phrase
        # matching) — family repped in-window by bm25_topk
        "phrase_search": q_phrase_search,
        # simhash_near_dups: near-dup variant (SimHash pigeonhole bands)
        # — family repped in-window by near_dup_pairs / semantic_dedup
        "simhash_near_dups": q_simhash_near_dups,
        # lexical_index_search: retrieval variant (persisted shard-
        # partitioned index, pruned-scan search) — family repped
        # in-window by bm25_topk
        "lexical_index_search": q_lexical_index_search,
        # normalized_dedup: normalization variant (CCNet text folding
        # before the exact-dedup shape) — normalization repped in-window
        # by url_canonicalize, dedup by exact_dedup
        "normalized_dedup": q_normalized_dedup,
        # winnow_fingerprints: fingerprint variant (MOSS window-min local
        # fingerprints) — content-fingerprinting repped in-window by
        # exact_dedup + near_dup_pairs
        "winnow_fingerprints": q_winnow_fingerprints,
        # winnow_near_dups: near-dup variant (MOSS shared-fingerprint
        # pairs) — family repped in-window by near_dup_pairs
        "winnow_near_dups": q_winnow_near_dups,
        # c4_gates: quality-gate variant (the C4 named rule set) —
        # family repped in-window by gopher_quality
        "c4_gates": q_c4_gates,
        # passage_retrieval: retrieval variant (chunking x BM25
        # composition) — family repped in-window by bm25_topk
        "passage_retrieval": q_passage_retrieval,
        # multi_query_bm25: retrieval variant (batched query fan-out) —
        # family repped in-window by bm25_topk
        "multi_query_bm25": q_multi_query_bm25,
        # url_revisit_dedup: url-family variant (cross-snapshot keep-newest
        # election over canonical URLs) — canonical form repped in-window
        # by url_canonicalize, grouped election by exact_dedup/argmax
        "url_revisit_dedup": q_url_revisit_dedup,
    }


# ---------------------------------------------------------------------------
# oracle SQL (DuckDB side)
# ---------------------------------------------------------------------------


def oracle_sql() -> dict[str, str]:
    return {
        "extract_text_identity": (
            "SELECT doc_id, text AS extracted_text FROM documents"
        ),
        "extract_error_metrics": (
            "SELECT count(*) AS num_rows, "
            "count(*) FILTER (WHERE doc_id % 37 = 0) AS num_error, "
            "count(*) FILTER (WHERE doc_id % 37 <> 0) AS num_success "
            "FROM documents"
        ),
        "extract_lang_chars": (
            # cast: DuckDB sum(INTEGER) is HUGEINT → float64 in the driver's
            # pandas canonicalizer (round-1 hash-mismatch)
            "SELECT lang, cast(sum(length(text)) AS bigint) AS total_chars, "
            "count(*) AS n_docs FROM documents GROUP BY lang"
        ),
        "doc_merge_roundtrip": (
            "SELECT doc_id, 1 AS page_count, text AS doc_text FROM documents"
        ),
        "extract_split_identity": (
            "SELECT 'pdf' AS fmt, * FROM ("
            "SELECT doc_id, 2 AS page_count, "
            "array_to_string(toks[1:n1], ' ') || chr(10) || "
            "array_to_string(toks[n1+1:n1+n2], ' ') || chr(12) || "
            "array_to_string(toks[n1+n2+1:n], ' ') AS extracted_text "
            "FROM (SELECT doc_id, string_split(text, ' ') AS toks, "
            " len(string_split(text, ' ')) AS n, "
            " cast(floor(len(string_split(text, ' ')) / 3) AS int) AS n1, "
            " cast(floor(len(string_split(text, ' ')) / 3) AS int) AS n2 "
            " FROM documents)) "
            "UNION ALL "
            "SELECT 'tiff' AS fmt, * FROM ("
            "SELECT doc_id, 2 AS page_count, "
            "array_to_string(toks[1:n1], ' ') || chr(12) || "
            "array_to_string(toks[n1+1:n], ' ') AS extracted_text "
            "FROM (SELECT doc_id, string_split(text, ' ') AS toks, "
            " len(string_split(text, ' ')) AS n, "
            " cast(floor(len(string_split(text, ' ')) / 2) AS int) AS n1 "
            " FROM documents))"
        ),
        "topk_per_group": (
            "SELECT l_returnflag, l_orderkey, l_linenumber, "
            "cast(round(l_extendedprice * 100) AS bigint) AS price_cents, rn FROM ("
            "  SELECT *, row_number() OVER ("
            "    PARTITION BY l_returnflag "
            "    ORDER BY l_extendedprice DESC, l_orderkey ASC, l_linenumber ASC) AS rn"
            "  FROM lineitem) WHERE rn <= 3"
        ),
        "argmax_supplier": (
            "SELECT n.n_name, s.s_name, cast(round(s.s_acctbal * 100) AS bigint) AS acctbal_cents "
            "FROM supplier s "
            "JOIN (SELECT s_nationkey, max(s_acctbal) AS max_bal FROM supplier GROUP BY s_nationkey) m "
            "  ON s.s_nationkey = m.s_nationkey AND s.s_acctbal = m.max_bal "
            "JOIN nation n ON s.s_nationkey = n.n_nationkey"
        ),
        "extension_filter": (
            "SELECT p_partkey, path, ext FROM ("
            "  SELECT p_partkey, "
            "    '/data/' || p_name || '.' || "
            "      (['pdf','html','tiff'])[cast(p_partkey % 3 AS int) + 1] AS path, "
            "    lower(regexp_extract("
            "      '/data/' || p_name || '.' || "
            "      (['pdf','html','tiff'])[cast(p_partkey % 3 AS int) + 1], "
            "      '\\.([^.]+)$', 1)) AS ext "
            "  FROM part) WHERE ext IN ('pdf', 'tiff')"
        ),
        "shipping_priority": (
            "SELECT l_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate, "
            "o_orderpriority, "
            "cast(sum(cast(round(l_extendedprice * (1 - l_discount) * 100) AS bigint)) AS bigint)"
            " AS revenue_cents "
            "FROM lineitem JOIN orders ON l_orderkey = o_orderkey "
            "JOIN customer ON o_custkey = c_custkey "
            "WHERE c_mktsegment = 'BUILDING' AND o_orderdate < '1998-06-01' "
            "AND l_shipdate > '1998-06-01' "
            "GROUP BY l_orderkey, o_orderdate, o_orderpriority "
            "ORDER BY revenue_cents DESC, l_orderkey LIMIT 10"
        ),
        "anti_join_resume": (
            "SELECT doc_id, lang, n_chars FROM documents "
            "WHERE doc_id NOT IN (SELECT doc_id FROM documents WHERE doc_id % 5 = 0)"
        ),
        "merge_collect": (
            "SELECT l_orderkey, "
            "string_agg(cast(cast(l_quantity AS int) AS varchar), ',' "
            "  ORDER BY l_linenumber, cast(l_quantity AS int)) AS quantities, "
            "count(*) AS n_lines "
            "FROM lineitem GROUP BY l_orderkey"
        ),
        "text_formatter_roundtrip": (
            "SELECT doc_id, text AS detections_concat, lang AS language_code, "
            "cast(0.9 AS double) AS language_score FROM documents"
        ),
        "min_score_filter": (
            "SELECT event_id, event_type, cast(round(value * 1000) AS bigint) AS value_milli "
            "FROM events WHERE value >= 0.5"
        ),
        "vision_formatters": (
            "SELECT doc_id, "
            + ", ".join(
                "(['VERY_UNLIKELY','UNLIKELY','POSSIBLE','LIKELY','VERY_LIKELY'])"
                f"[cast((doc_id + {i}) % 5 AS int) + 1] AS {cat}_likelihood"
                for i, cat in enumerate(("adult", "spoof", "medical", "violence", "racy"))
            )
            + ", cast(round(cast(doc_id % 100 AS double) / 100.0 * 1000000) AS bigint) AS score_micro"
            ", cast(round(cast(doc_id % 37 AS double) / 37.0 * 1000000) AS bigint) AS importance_micro"
            ", 'lbl' || cast(doc_id % 7 AS varchar) AS web_label"
            ", CASE WHEN doc_id % 3 = 0"
            "  THEN 'https://img' || cast(doc_id AS varchar) || '.example.org/a'"
            "  ELSE 'https://img' || cast(doc_id AS varchar) || '.example.org/a|'"
            "    || 'https://img' || cast(doc_id AS varchar) || '.example.org/b'"
            " END AS full_matching"
            " FROM documents"
        ),
        "corpus_subsample": _oracles.corpus_subsample_sql(),
        "boilerplate_lines": _oracles.remove_frequent_lines_sql(),
        "web_blocklist_formatter": (
            "SELECT doc_id, 'lbl' || cast(doc_id % 7 AS varchar) AS web_label, "
            "CASE WHEN doc_id % 3 = 0 "
            " THEN 'https://img' || cast(doc_id AS varchar) || '.example.org/a' "
            " ELSE 'https://img' || cast(doc_id AS varchar) || '.example.org/a|'"
            "   || 'https://img' || cast(doc_id AS varchar) || '.example.org/b' "
            "END AS full_matching "
            "FROM documents"
        ),
        "content_topk_formatter": (
            "SELECT l_orderkey, "
            "array_to_string(coalesce(list(cast(l_partkey AS varchar) "
            "  ORDER BY cast(round(l_extendedprice * 100) AS bigint) DESC, "
            "           cast(l_partkey AS varchar) ASC) "
            "  FILTER (WHERE cast(round(l_extendedprice * 100) AS bigint) >= 500000), "
            "  [])[1:3], '|') AS label_list, "
            "count(*) AS n_lines "
            "FROM lineitem GROUP BY l_orderkey"
        ),
        "span_envelope": (
            "SELECT doc_id, cast(len1 + 1 AS int) AS env_start, "
            "cast(length(text) AS int) AS env_end, "
            "cast(floor((length(text) - len1 - 1) * 1000 / length(text)) AS bigint) AS coverage_milli "
            "FROM (SELECT doc_id, text, "
            " length(array_to_string((string_split(text, ' '))"
            "  [1:cast(floor(len(string_split(text, ' ')) / 2) AS int)], ' ')) AS len1 "
            " FROM documents WHERE len(string_split(text, ' ')) >= 2)"
        ),
        "custom_row_extract": (
            "SELECT doc_id, "
            "CASE WHEN doc_id % 41 = 0 THEN NULL ELSE cast(len(string_split(text, ' ')) AS bigint) END AS n_tokens, "
            "CASE WHEN doc_id % 41 = 0 THEN NULL ELSE cast(length(text) AS bigint) END AS n_chars, "
            "CASE WHEN doc_id % 41 = 0 THEN 'empty text' ELSE '' END AS error_message, "
            "CASE WHEN doc_id % 41 = 0 THEN "
            " 'dss_plugin_google_cloud_vision_spark.errors.ExtractionError' ELSE '' END AS error_type "
            "FROM documents"
        ),
        "custom_batch_extract": (
            "SELECT doc_id, "
            "CASE WHEN doc_id % 41 = 0 THEN NULL ELSE cast(len(string_split(text, ' ')) AS bigint) END AS n_tokens, "
            "CASE WHEN doc_id % 41 = 0 THEN NULL ELSE cast(length(text) AS bigint) END AS n_chars, "
            "CASE WHEN doc_id % 41 = 0 THEN 'empty text' ELSE '' END AS error_message, "
            "CASE WHEN doc_id % 41 = 0 THEN '400' ELSE '' END AS error_type "
            "FROM documents"
        ),
        "unique_naming_collision": (
            "SELECT doc_id, 'preexisting' AS original_column, "
            "cast(len(string_split(text, ' ')) AS bigint) AS n_tokens FROM documents"
        ),
        "annotated_spans": (
            "SELECT doc_id, "
            "'[[seg#0]]' || array_to_string(toks[1:n1], ' ') || '[[/]]' || ' ' || "
            "'[[seg#1]]' || array_to_string(toks[n1+1:n], ' ') || '[[/]]' AS annotated "
            "FROM (SELECT doc_id, string_split(text, ' ') AS toks, "
            " len(string_split(text, ' ')) AS n, "
            " cast(floor(len(string_split(text, ' ')) / 2) AS int) AS n1 "
            " FROM documents WHERE len(string_split(text, ' ')) >= 2)"
        ),
        "exact_dedup": _oracles.exact_dedup_sql(),
        "minhash_candidates": _oracles.minhash_candidates_sql(),
        "near_dup_pairs": _oracles.near_dup_pairs_sql(),
        "dedup_clusters": _oracles.near_dup_clusters_sql(),
        "simhash": _oracles.simhash_sql(),
        "simhash_near_dups": _oracles.simhash_near_dup_sql(),
        "embedding_near_dups": _oracles.embedding_near_dup_sql(threshold_micro=990_000),
        "semantic_dedup": _oracles.semantic_dedup_sql(
            n_clusters=16, train_iterations=2, threshold_micro=950_000
        ),
        "ann_topk": _oracles.ann_topk_sql(),
        "lsh_ann_topk": _oracles.lsh_ann_topk_sql(),
        "ivf_topk": _oracles.ivf_topk_sql(),
        "ivf_index_search": _oracles.ivf_topk_sql(),
        "ivf_pq_search": _oracles.ivf_pq_search_sql(),
        "text_quality_profile": _oracles.text_quality_profile_sql(),
        "fingerprints": _oracles.fingerprint_sql(),
        "partitioned_pruned_scan": (
            "SELECT lang, count(*) AS n_docs, cast(sum(n_chars) AS bigint) AS total_chars "
            "FROM documents WHERE lang IN ('en', 'fr') GROUP BY lang"
        ),
        "split_empty_guard": (
            "SELECT doc_id, CAST(NULL AS INT) AS page_number, "
            "'document could not be split' AS error_message, "
            "'dss_plugin_google_cloud_vision_spark.errors.DocumentSplitError' AS error_type "
            "FROM documents WHERE doc_id % 23 = 0 "
            "UNION ALL "
            "SELECT doc_id, p.page_number, '' AS error_message, '' AS error_type "
            "FROM documents CROSS JOIN "
            "(SELECT 1 AS page_number UNION ALL SELECT 2) p "
            "WHERE doc_id % 23 <> 0"
        ),
        "paragraph_dedup": _oracles.paragraph_dedup_sql(),
        "ngram_contamination": _oracles.ngram_contamination_sql(),
        "incremental_near_dup": _oracles.incremental_near_dup_sql(),
        "url_canonicalize": _oracles.url_canonicalize_sql(),
        "url_revisit_dedup": _oracles.url_revisit_dedup_sql(),
        "gopher_quality": _oracles.gopher_quality_sql(),
        "line_dedup": _oracles.line_dedup_sql(),
        "duplicate_spans": _oracles.duplicate_span_sql(),
        "hot_bucket_report": _oracles.hot_bucket_report_sql(),
        "pack_sequences": _oracles.pack_sequences_sql(budget_tokens=512),
        "chunk_documents": _oracles.chunk_documents_sql(chunk_tokens=64, stride_tokens=48),
        "token_rarity": _oracles.token_rarity_sql(),
        "dsir_importance": _oracles.dsir_importance_sql(),
        "budget_head": _oracles.budget_head_sql(budget_tokens=10_000),
        "warc_records": _oracles.warc_records_sql(n_shards=16),
        "domain_mixture": _oracles.domain_mixture_sql(budget_tokens=10_000),
        "cluster_representatives": _oracles.cluster_representatives_sql(),
        "domain_pagerank": _oracles.domain_pagerank_sql(n_iterations=3),
        "split_leakage": _oracles.split_leakage_sql(),
        "bpe_merges": _oracles.bpe_merges_sql(n_merges=6),
        "web_curation_pipeline": _oracles.web_curation_sql(),
        "gopher_multilingual": _oracles.gopher_multilingual_sql(),
        "bigram_predictability": _oracles.bigram_predictability_sql(),
        "trigram_predictability": _oracles.trigram_predictability_sql(),
        "doc_signals": _oracles.doc_signals_sql(),
        "media_features": _oracles.media_features_sql(),
        "shard_summary": _oracles.shard_summary_sql(),
        "grouped_quantiles": _oracles.grouped_quantiles_sql(),
        "duplicate_ngrams": _oracles.duplicate_ngram_sql(),
        "quality_buckets": _oracles.lm_quality_buckets_sql(),
        "pq_topk": _oracles.pq_topk_sql(),
        "countmin_heavy_hitters": _oracles.countmin_heavy_hitters_sql(),
        "hll_distinct": _oracles.hll_distinct_sql(),
        "classifier_inference": _oracles.classifier_inference_sql(),
        "bpe_encode": _oracles.bpe_encode_sql(),
        "importance_resample": _oracles.importance_resample_sql(),
        "page_metadata": _oracles.page_metadata_sql(),
        "bm25_topk": _oracles.bm25_topk_sql(),
        "phrase_search": _oracles.phrase_search_sql(),
        "corpus_overlap": _oracles.corpus_overlap_sql(),
        # the persisted-index search returns exactly what the in-memory
        # BM25 returns on the same corpus — same oracle builder
        "lexical_index_search": _oracles.bm25_topk_sql(
            ("table", "window", "vector", "group"), k=20
        ),
        "normalized_dedup": _oracles.normalized_dedup_sql(),
        "winnow_fingerprints": _oracles.winnow_fingerprints_sql(),
        "winnow_near_dups": _oracles.winnow_near_dups_sql(),
        "c4_gates": _oracles.c4_gates_sql(),
        "multi_query_bm25": _oracles.multi_query_bm25_sql(MQ_BM25_QUERIES, k=8),
        "passage_retrieval": _oracles.bm25_topk_sql(
            ("spark", "merge", "join"),
            k=15,
            source=(
                "(SELECT doc_id * 10000 + chunk_id AS doc_id,"
                " chunk_text AS text FROM ("
                + _oracles.chunk_documents_sql(64, 48)
                + ") chunks) passages"
            ),
        ),
        "session_stats": (
            "WITH m AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us, "
            " CASE WHEN lag(ts) OVER w IS NULL "
            "  OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > cast(21600 AS bigint) * 1000000 "
            "  THEN 1 ELSE 0 END AS ns "
            " FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)), "
            "s AS (SELECT *, sum(ns) OVER ("
            " PARTITION BY user_id ORDER BY ts_us, event_id ROWS UNBOUNDED PRECEDING) AS session_seq "
            " FROM m) "
            "SELECT user_id, cast(session_seq AS bigint) AS session_seq, count(*) AS n_events, "
            "min(ts_us) AS start_us, max(ts_us) AS end_us "
            "FROM s GROUP BY user_id, session_seq"
        ),
        "skew_two_phase": (
            "SELECT event_type, count(*) AS n_events FROM events GROUP BY event_type"
        ),
        "column_reorder": (
            "SELECT doc_id, "
            "'doc_id,text,stats_api_response,stats_api_error_message,"
            "stats_api_error_type,stats_api_error_raw' AS log_order, "
            "'doc_id,stats_api_error_message,text,stats_api_error_type,"
            "stats_api_response,stats_api_error_raw' AS fail_order "
            "FROM documents"
        ),
        "param_validation_echo": (
            # doc path forces batch_size 1; batched rate = floor(1800/16);
            # custom hints override the language param; LOG is the default
            "SELECT doc_id, 1 AS doc_path_batch_size, 112 AS batched_rate_limit, "
            "'en,de' AS hints, 'LOG' AS error_handling FROM documents"
        ),
        "column_descriptions_sink": (
            "SELECT * FROM (VALUES "
            "('doc_id', 'output id'), "
            "('lang', 'input language wins'), "
            "('text', 'extracted text')"
            ") AS t(column_name, description)"
        ),
        "politeness_slots": (
            "SELECT url, "
            " regexp_extract(url, '^https://([^/]+)/', 1) AS host, "
            " cast(row_number() OVER (PARTITION BY regexp_extract(url, '^https://([^/]+)/', 1)"
            "   ORDER BY url) AS int) AS fetch_seq, "
            " cast(floor((row_number() OVER (PARTITION BY regexp_extract(url, '^https://([^/]+)/', 1)"
            "   ORDER BY url) - 1) / 5) AS int) AS fetch_slot "
            "FROM (SELECT 'https://h' || cast(p_partkey % 7 AS varchar) || '.example.org/p/' ||"
            " cast(p_partkey AS varchar) AS url FROM part)"
        ),
        "training_pipeline": (
            "WITH corpus AS ("
            " SELECT doc_id, text, lang FROM documents"
            " UNION ALL"
            " SELECT doc_id + 200000 AS doc_id, text, lang FROM documents WHERE doc_id % 25 = 0), "
            "gated AS ("
            " SELECT doc_id, text, lang, cast(len(string_split(text, ' ')) AS bigint) AS n_tokens"
            " FROM corpus WHERE len(string_split(text, ' ')) >= 20), "
            "keepers AS (SELECT text, min(doc_id) AS keep FROM gated GROUP BY text) "
            "SELECT g.doc_id, g.lang, g.n_tokens FROM gated g "
            "JOIN keepers k ON g.text = k.text AND g.doc_id = k.keep"
        ),
        "curation_pipeline": _oracles.curation_pipeline_sql(),
        "event_windows": (
            # day as yyyy-MM-dd string + outer bigint cast (sum(BIGINT) is
            # HUGEINT in DuckDB) — both round-1 hash-mismatch causes
            "SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day, event_type, "
            "count(*) AS n_events, "
            "cast(sum(cast(round(value * 1000) AS bigint)) AS bigint) AS value_milli_sum "
            "FROM events GROUP BY 1, 2"
        ),
    }
