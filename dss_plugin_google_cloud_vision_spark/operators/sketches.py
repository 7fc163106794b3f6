# -*- coding: utf-8 -*-
"""Bounded-state corpus sketches: count-min frequency estimation and a
HyperLogLog-shaped distinct counter.

At 100 TB the questions "which tokens are hot?" and "how many distinct
values are there?" cannot be answered with a full vocabulary aggregate on
every pipeline run — the answers' *state* must be bounded regardless of
corpus size. These two classic sketches have exactly that property, and
both reduce to map-combinable integer aggregations over hash-uniform
keys, so they are one groupBy each in Spark:

- ``countmin_table`` — a depth×width counter grid; every token occurrence
  increments one bucket per row. The grid is ``depth*width`` rows no
  matter the corpus (hash-uniform key → no Zipf skew survives bucketing,
  the same argument as ``selection.dsir_importance_table``), and the
  point-estimate for any token (min over rows of its counters) is a
  broadcast join against that tiny grid. Estimates over-count, never
  under-count (Cormode & Muthukrishnan 2005).

- ``hll_register_table`` / ``hll_distinct_estimate`` — per-bucket max of
  the leading-zero rank of a salted hash (Flajolet et al. 2007). The
  register table is ``m`` rows; merging shards/streams is a further
  ``max`` — the whole sketch is one map-combined ``groupBy(bucket).max``.

Cross-engine exactness (CLAUDE.md arithmetic rule): hashes are md5-hex
prefixes parsed with the established ``conv(hex,16,10)`` ==
``('0x'||hex)::bigint`` identity; the leading-zero rank is computed on
the hex STRING (regexp strip of '0's + a 16-way CASE on the first
non-zero digit) so no engine-specific bit intrinsics are involved; the
HLL harmonic denominator is the pure-integer ``sum(1 << (RMAX - reg))``
and the estimate a single bigint ``div`` — no float fold anywhere. The
raw-estimate formula is used without the small/large-range corrections
(documented deviation; the corrections are driver-side branches on the
same integers and add nothing to the distributed shape).

Reference anchor: the reference plugin has no corpus-statistics surface
(dataiku/dss-plugin-google-cloud-vision python-lib/parallelizer.py:242-248
counts successes/errors eagerly per job); sketches are part of this
engine's LLM-pipeline layer.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .selection import hashed_ngram_bucket

CM_DEPTH = 4
CM_WIDTH = 256
CM_SEED = 11

HLL_LOG2M = 6  # m = 64 registers
HLL_RMAX = 33  # rho ranges 1..33 over a 32-bit hash window
HLL_ALPHA_MILLI = 709  # alpha_64 * 1000 (Flajolet et al. 2007, m >= 64)
HLL_SEED = 13


def _hash_hex(value: Column, salt: str, start: int = 1, width: int = 8) -> Column:
    """Fixed-width md5 hex window of ``salt ':' value`` — the
    cross-engine-exact hash coordinate family (``sampling.sample_key_column``)."""
    return F.substring(F.md5(F.concat_ws(":", F.lit(salt), value)), start, width)


def _hash_mod(value: Column, salt: str, modulus: int) -> Column:
    """First 8 hex digits as a 32-bit integer, mod ``modulus`` — the
    shared cross-engine bucket coordinate (``selection.hashed_ngram_bucket``
    with a composite salt; one implementation on purpose)."""
    return hashed_ngram_bucket(value, modulus, salt)


def whitespace_tokens(df: DataFrame, text_col: str = "text") -> DataFrame:
    """One row per non-empty whitespace token — the same ``split(text,
    ' ')`` tokenization the textstats family uses."""
    return (
        df.select(F.explode(F.split(F.col(text_col), " ")).alias("token"))
        .filter(F.col("token") != "")
    )


def countmin_table(
    df: DataFrame,
    text_col: str = "text",
    depth: int = CM_DEPTH,
    width: int = CM_WIDTH,
    seed: int = CM_SEED,
) -> DataFrame:
    """Build the count-min grid: (row, bucket, cnt), ``depth*width`` rows.

    Each token occurrence lands in one bucket per grid row (independent
    salts), via a single posexplode — the corpus is scanned once and the
    only shuffle is the map-combined groupBy on the bounded (row, bucket)
    key. Missing cells are zero by construction (absent rows).
    """
    if depth < 1 or width < 1:
        raise ValueError(f"depth/width must be >= 1, got {depth}/{width}")
    toks = whitespace_tokens(df, text_col)
    buckets = F.array(
        *[_hash_mod(F.col("token"), f"{seed}:{r}", width) for r in range(depth)]
    )
    return (
        toks.select(F.posexplode(buckets).alias("row", "bucket"))
        .groupBy("row", "bucket")
        .agg(F.count("*").cast("bigint").alias("cnt"))
    )


def countmin_estimates(
    probes: DataFrame,
    sketch: DataFrame,
    token_col: str = "token",
    depth: int = CM_DEPTH,
    width: int = CM_WIDTH,
    seed: int = CM_SEED,
) -> DataFrame:
    """Point-estimate each probe token from the sketch: min over the
    ``depth`` grid rows of the token's counter (0 for an untouched cell).
    Adds ``cm_estimate`` to the probe table — row-for-row (duplicate
    probe rows stay duplicated): each grid row becomes one broadcast
    left join of the ≤``width``-row slice, and the estimate is a
    row-local ``least`` over the ``depth`` looked-up counters — no
    grouping, so no probe column participates in any key. The probe
    side never shuffles (its join keys are hash-uniform buckets)."""
    reserved = {f"_cm_cnt_{r}" for r in range(depth)} | {"_cm_bucket"}
    clash = reserved & set(probes.columns)
    if clash:
        raise ValueError(f"probe columns collide with internals: {sorted(clash)}")
    out = probes
    for r in range(depth):
        grid_row = sketch.filter(F.col("row") == r).select(
            F.col("bucket").alias("_cm_bucket"),
            F.col("cnt").cast("bigint").alias(f"_cm_cnt_{r}"),
        )
        out = out.withColumn(
            "_cm_bucket", _hash_mod(F.col(token_col), f"{seed}:{r}", width)
        ).join(F.broadcast(grid_row), "_cm_bucket", "left").drop("_cm_bucket")
    counters = [F.coalesce(F.col(f"_cm_cnt_{r}"), F.lit(0)) for r in range(depth)]
    estimate = counters[0] if depth == 1 else F.least(*counters)
    return out.select(
        *probes.columns, estimate.cast("bigint").alias("cm_estimate")
    )


def hll_rho(value: Column, salt: str = str(HLL_SEED)) -> Column:
    """Leading-zero rank (rho) of the 32-bit hash window at hex offset 5:
    1 + the number of leading zero BITS, computed on the hex string so
    both engines run the identical character arithmetic. An all-zero
    window yields the cap ``HLL_RMAX``."""
    win = _hash_hex(value, salt, start=5, width=8)
    stripped = F.regexp_replace(win, "^0+", "")
    zero_hex = F.lit(8) - F.length(stripped)
    first = F.substring(stripped, 1, 1)
    extra = (
        F.when(first == "1", 3)
        .when(first.isin("2", "3"), 2)
        .when(first.isin("4", "5", "6", "7"), 1)
        .otherwise(0)
    )
    return (
        F.when(F.length(stripped) == 0, F.lit(HLL_RMAX))
        .otherwise(zero_hex * 4 + extra + 1)
        .cast("int")
    )


def hll_register_table(
    df: DataFrame,
    value_col: str,
    log2m: int = HLL_LOG2M,
    seed: int = HLL_SEED,
) -> DataFrame:
    """HLL registers: (bucket, register) with register = max(rho) over the
    values hashed into the bucket. Bucket bits (first 4 hex chars) and
    rho bits (next 8) come from disjoint hash windows. At most ``2^log2m``
    rows; the aggregation is a map-combined max, and a union of register
    tables from different shards merges with one more max — the property
    that makes the sketch mergeable across 1000 executors or N runs.

    ``log2m`` is capped at 16: the bucket comes from a 4-hex-char (16-bit)
    hash window, so more registers than 2^16 could never all be reached.
    The pure-bigint ESTIMATOR (``hll_estimate_from_registers``) supports
    only log2m <= 10 (int64 numerator bound) — build wider register
    tables only if estimating elsewhere."""
    if not 1 <= log2m <= 16:
        raise ValueError(f"log2m must be in [1, 16], got {log2m}")
    m = 1 << log2m
    salt = str(seed)
    buckets = df.select(
        (F.conv(_hash_hex(F.col(value_col), salt, start=1, width=4), 16, 10).cast("bigint") % m)
        .cast("int")
        .alias("bucket"),
        hll_rho(F.col(value_col), salt).alias("rho"),
    )
    return buckets.groupBy("bucket").agg(F.max("rho").cast("int").alias("register"))


def hll_estimate_from_registers(
    regs: DataFrame,
    log2m: int = HLL_LOG2M,
    alpha_milli: int = HLL_ALPHA_MILLI,
) -> DataFrame:
    """One-row raw estimate from an already-built (bucket, register)
    table — e.g. the max-merge of several shards' or arrival waves'
    register tables. Missing buckets contribute
    the full ``1 << RMAX``; an all-missing (empty) table degrades to the
    raw formula's floor, never NULL. Output: m, registers_set, sum_pow,
    hll_estimate.

    ``log2m`` is capped at 10 here (tighter than ``hll_register_table``'s
    16): the numerator ``alpha_milli * m^2 * 2^33`` must stay inside
    int64 for the pure-bigint division — at log2m=11 it would overflow
    into Spark's DecimalType while a DuckDB mirror goes HUGEINT→float,
    the exact cross-engine divergence class CLAUDE.md bans.

    The input is validated cheaply at run time: ``registers_set <= m``
    (via ``assert_true``). A raw multi-wave ledger passed without the
    max-merge, or a register table built with a larger log2m than the
    estimator is told, fails the job instead of silently producing a
    negative/garbage estimate."""
    if not 1 <= log2m <= 10:
        raise ValueError(
            f"log2m must be in [1, 10] (numerator alpha*m^2*2^33 must fit int64), got {log2m}"
        )
    m = 1 << log2m
    numerator = alpha_milli * m * m * (1 << HLL_RMAX)
    return (
        regs.agg(
            F.count("*").cast("bigint").alias("registers_set"),
            # F.shiftleft only takes a python-int shift; the SQL form
            # accepts a column expression (bigint base keeps the 2^33
            # shift in range). coalesce: an EMPTY table has zero registers
            # and sum() over zero rows is NULL — the missing-bucket rule
            # then needs 0 here so sum_pow degrades to m * 2^RMAX
            F.coalesce(
                F.sum(F.expr(f"shiftleft(cast(1 as bigint), {HLL_RMAX} - register)")),
                F.lit(0),
            )
            .cast("bigint")
            .alias("sum_present"),
        )
        .select(
            F.lit(m).cast("bigint").alias("m"),
            # value passthrough + runtime guard: assert_true yields NULL
            # when the predicate holds (so the when() keeps the value) and
            # fails the job when registers_set > m — an unmerged ledger or
            # a log2m mismatch, which would otherwise drive sum_pow
            # negative and return garbage silently
            F.when(
                F.assert_true(
                    F.col("registers_set") <= F.lit(m),
                    F.lit(
                        "registers_set exceeds m: pass a max-merged register "
                        "table (read_hll_registers) and the log2m it was built with"
                    ),
                ).isNull(),
                F.col("registers_set"),
            ).alias("registers_set"),
            (
                F.col("sum_present")
                + (F.lit(m) - F.col("registers_set")) * F.lit(1 << HLL_RMAX)
            )
            .cast("bigint")
            .alias("sum_pow"),
        )
        .select(
            "m",
            "registers_set",
            "sum_pow",
            F.expr(f"div({numerator}, 1000 * sum_pow)").cast("bigint").alias("hll_estimate"),
        )
    )


def hll_distinct_estimate(
    df: DataFrame,
    value_col: str,
    log2m: int = HLL_LOG2M,
    seed: int = HLL_SEED,
    alpha_milli: int = HLL_ALPHA_MILLI,
) -> DataFrame:
    """One-row raw-HLL estimate next to the exact distinct count.

    ``sum_pow = sum over all m registers of 1 << (RMAX - register)``
    (missing buckets contribute the full ``1 << RMAX``) is pure bigint —
    bounded by ``m * 2^33 < 2^63`` — and the estimate is the single
    integer division ``div(alpha_milli * m * m << RMAX, 1000 * sum_pow)``
    (raw formula, no range corrections; see module docstring). The exact
    count is computed for the error column — at real scale a caller
    would skip it; here it is the honesty check.

    Output: m, registers_set, sum_pow, hll_estimate, exact_distinct,
    err_milli (|est - exact| * 1000 / exact, integer). An EMPTY corpus
    yields the raw formula over all-missing registers (estimate ~= alpha
    * m / 1000) with err_milli NULL (division by exact_distinct = 0).
    """
    est = hll_estimate_from_registers(
        hll_register_table(df, value_col, log2m, seed), log2m, alpha_milli
    )
    exact = df.select(F.col(value_col)).distinct().agg(
        F.count("*").cast("bigint").alias("exact_distinct")
    )
    return (
        est.crossJoin(F.broadcast(exact))
        .select(
            "m",
            "registers_set",
            "sum_pow",
            "hll_estimate",
            "exact_distinct",
            # explicit empty-corpus guard: ANSI div raises on 0 divisor
            F.when(
                F.col("exact_distinct") > 0,
                F.expr("div(abs(hll_estimate - exact_distinct) * 1000, exact_distinct)"),
            )
            .cast("bigint")
            .alias("err_milli"),
        )
    )
