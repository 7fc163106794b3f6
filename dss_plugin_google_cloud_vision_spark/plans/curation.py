# -*- coding: utf-8 -*-
"""End-to-end training-corpus curation: the composition every LLM data
pipeline runs over a crawled page table, expressed as one lazy Spark plan:

    pages → extraction (fused mapInArrow) → quality gate → exact dedup
          → MinHash-LSH near-dup pairs → connected-component collapse
          → curated corpus

Every stage is an operator that is individually oracle-checked; this plan
is ALSO oracle-checked end-to-end (driver query ``curation_pipeline``)
because each stage is SQL-expressible over the rendered corpus.

Scale shape: one narrow extraction stage; one hash shuffle for the exact
dedup (32-byte md5 keys); the LSH chain's shuffles are on band keys and
candidate pairs only; the component collapse joins only the pair graph
(tiny next to the corpus) and anti-joins back.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.dedup import dedup_by_clusters, exact_dedup_keep_first, near_dup_pairs
from .extract_pipeline import run_extraction_pipeline

DEFAULT_MIN_TOKENS = 20


def curate_corpus(
    pages: DataFrame,
    min_tokens: int = DEFAULT_MIN_TOKENS,
    near_dup_threshold_milli: int = 800,
) -> DataFrame:
    """pages(url, html, ..., doc_id, lang) → curated documents
    (doc_id, lang, text, n_tokens): extraction failures dropped, short
    documents gated out, exact duplicates keep-first, near-duplicate
    clusters collapsed to their min-id representative.

    The exact-deduped intermediate feeds BOTH the pair graph and the final
    anti-join; it is checkpointed once so the extraction stage is not
    recomputed per consumer — at cluster scale you would persist this
    intermediate to the snapshot log and get the same effect plus
    resumability."""
    plan = run_extraction_pipeline(pages)
    extracted = plan.pages.filter(F.col("content_api_error_message") == "").select(
        "doc_id",
        "lang",
        F.col("content_api_detections_concat").alias("text"),
    )
    gated = extracted.withColumn("n_tokens", F.size(F.split("text", " "))).filter(
        F.col("n_tokens") >= min_tokens
    )
    # exact_dedup_keep_first consumes its input twice (keeper
    # election + semi-join probe) — without this the whole
    # extraction stage executes twice (r6)
    gated = gated.localCheckpoint(eager=False)
    exact = exact_dedup_keep_first(gated, id_col="doc_id", text_col="text").localCheckpoint(
        eager=False
    )
    pairs = near_dup_pairs(
        exact, id_col="doc_id", text_col="text", threshold_milli=near_dup_threshold_milli
    ).select("doc_a", "doc_b")
    return dedup_by_clusters(exact, pairs, id_col="doc_id")
