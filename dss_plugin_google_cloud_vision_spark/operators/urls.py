# -*- coding: utf-8 -*-
"""URL canonicalization for web-corpus pipelines.

Common-Crawl-style tables key everything on the url (the reference keys
its outputs on the input file path the same way; the north rule's
per-document identity is "byte-identical extracted text per url") — but
raw crawl URLs arrive messy: mixed-case scheme/host, default ports,
fragments, tracking parameters, unstable query order. Canonicalizing
before dedup/partitioning collapses these spurious distinctions, which
matters twice at 100 TB: url-keyed exact dedup finds the real duplicates,
and the (host, warc_ts-bucket) partition key stops splitting one logical
host across 'WWW.Example.COM' spellings.

Everything here is a single JVM projection (built-in string/array
functions, no UDF, no shuffle), mirrored 1:1 by the DuckDB oracle.

Rules (applied in order):
1. strip the fragment (``#...``);
2. lowercase the scheme and the host[:port] (path/query case preserved);
3. drop the scheme's default port (``:80`` for http, ``:443`` for https);
4. drop tracking query parameters (``utm_*``, ``fbclid=``, ``gclid=``,
   ``ref=``) and empty parameters;
5. sort the surviving query parameters bytewise (order-insensitive
   canonical form); no ``?`` when none survive.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

TRACKING_PREFIXES = ("utm_", "fbclid=", "gclid=", "ref=")


def canonical_url_column(url_col: str = "url") -> Column:
    """Canonical form of ``url_col`` per the module rules — one codegen
    projection over built-ins."""
    u0 = F.element_at(F.split(F.col(url_col), "#", 2), 1)
    scheme_pos = F.instr(u0, "://")
    scheme = F.lower(F.substring(u0, F.lit(1), scheme_pos - 1))
    rest = F.substr(u0, scheme_pos + 3)
    slash_pos = F.instr(rest, "/")
    hostport = F.lower(
        F.when(slash_pos > 0, F.substring(rest, F.lit(1), slash_pos - 1)).otherwise(rest)
    )
    path_query = F.when(slash_pos > 0, F.substr(rest, slash_pos)).otherwise(F.lit("/"))
    hostport = F.when(
        (scheme == "http") & hostport.endswith(":80"),
        F.substring(hostport, F.lit(1), F.length(hostport) - 3),
    ).when(
        (scheme == "https") & hostport.endswith(":443"),
        F.substring(hostport, F.lit(1), F.length(hostport) - 4),
    ).otherwise(hostport)
    q_pos = F.instr(path_query, "?")
    path = F.when(q_pos > 0, F.substring(path_query, F.lit(1), q_pos - 1)).otherwise(path_query)
    query = F.when(q_pos > 0, F.substr(path_query, q_pos + 1)).otherwise(F.lit(""))

    def is_kept(p: Column) -> Column:
        kept = p != ""
        for prefix in TRACKING_PREFIXES:
            kept = kept & ~p.startswith(prefix)
        return kept

    params = F.array_sort(F.filter(F.split(query, "&", -1), is_kept))
    canon_query = F.when(
        F.size(params) > 0, F.concat(F.lit("?"), F.array_join(params, "&"))
    ).otherwise(F.lit(""))
    return F.concat(scheme, F.lit("://"), hostport, path, canon_query)


def canonicalize_urls(df: DataFrame, url_col: str = "url", out: str = "canonical_url") -> DataFrame:
    return df.withColumn(out, canonical_url_column(url_col))


def latest_per_url(
    df: DataFrame,
    url_col: str = "url",
    ts_col: str = "warc_ts",
    id_col: str = "doc_id",
    out: str = "canonical_url",
) -> DataFrame:
    """Cross-snapshot revisit dedup: keep the NEWEST crawl of each
    canonical URL (Common-Crawl re-crawls the same page across monthly
    snapshots; training corpora want one copy, and the freshest).

    Election is a map-combined ``max(struct(ts, id))`` per canonical URL —
    lexicographic, so ties on the timestamp break to the highest id,
    deterministically. One shuffle at canonical-url grain, partial
    aggregation on the map side, and NO window function: a hot URL
    re-crawled in every snapshot never concentrates in one task beyond
    its post-combine partials. Output is the election at canonical-url
    grain (``canonical_url, n_visits, kept_ts, kept_id``); recovering the
    full winning rows is an ``id``-grain join the caller composes when
    needed (winners are corpus-sized — never driver-collected here).
    """
    winner = F.max(
        F.struct(F.col(ts_col).alias("ts"), F.col(id_col).alias("id"))
    ).alias("_w")
    return (
        df.select(canonical_url_column(url_col).alias(out), ts_col, id_col)
        .groupBy(out)
        .agg(F.count(F.lit(1)).alias("n_visits"), winner)
        .select(
            out,
            "n_visits",
            F.col("_w.ts").alias("kept_ts"),
            F.col("_w.id").alias("kept_id"),
        )
    )

