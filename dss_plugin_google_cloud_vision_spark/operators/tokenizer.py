# -*- coding: utf-8 -*-
"""BPE merge learning — tokenizer-training preparation over a corpus.

Training a byte-pair-encoding tokenizer is a corpus-scale aggregation
problem: count adjacent-symbol pairs across every word occurrence, merge
the most frequent pair everywhere, repeat. The reference plugin has no
tokenizer surface — this is part of the LLM-pipeline layer (the merge
list produced here is the actual artifact a tokenizer trainer ships).

Two design choices make this exact across engines and scalable:

1. **The corpus is touched exactly once.** The first step collapses text
   to the distinct-WORD grain (word, frequency) — the classic BPE trainer
   move (Sennrich et al., ACL 2016) — and every merge round runs on that
   bounded vocabulary table, collected once to the driver (same
   distinct-grain argument as ``textstats.grouped_exact_quantiles``; the
   sf0.01 documents hold 31 distinct words). Pair counts are
   frequency-weighted integer sums, so no shuffle or iteration order can
   flip a result.

2. **Greedy merge = string replace.** A word's symbol sequence is encoded
   with per-symbol bars: ``hello`` → ``|h||e||l||l||o|``; merging pair
   (l, l) rewrites ``|l||l|`` → ``|ll|`` (``_merge_rewrite``). Python's
   ``str.replace``, Spark's ``replace`` and DuckDB's ``replace`` all
   substitute left-to-right and non-overlapping — exactly BPE's greedy
   leftmost-non-overlapping application (``aaaa`` with merge (a,a) →
   ``aa aa``, not three overlapping pairs). No arrays, no per-row Python,
   identical semantics in every engine (``oracles.bpe_merges_sql``).

Pre-tokenization keeps ASCII ``[A-Za-z0-9']`` runs from the RAW text and
lowercases the extracted words (ASCII-only lowering — engine-identical by
construction; lowering the raw text first would expose cross-engine
Unicode case-mapping differences).
"""

from __future__ import annotations

import re
from typing import Tuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# ASCII word runs, extracted before lowercasing (see module docstring).
BPE_WORD_RE = "[A-Za-z0-9']+"
# one symbol of a bar-delimited sequence
_SYMBOL_RE = r"\|([^|]+)\|"
_MERGES_SCHEMA = (
    "iteration bigint, merge_left string, merge_right string, merged string, pair_count bigint"
)


def bpe_word_table(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Collapse the corpus to distinct-word grain: (word, wf, seq) where
    ``wf`` is the total occurrence count and ``seq`` the bar-delimited
    initial (per-character) symbol sequence. The single corpus-sized pass
    of the whole trainer."""
    words = df.select(
        F.explode(F.regexp_extract_all(F.col(text_col), F.lit(BPE_WORD_RE), F.lit(0))).alias(
            "raw"
        )
    ).select(F.lower(F.col("raw")).alias("word"))
    return words.groupBy("word").agg(F.count("*").cast("bigint").alias("wf")).select(
        "word",
        "wf",
        F.regexp_replace(F.col("word"), "(.)", r"|$1|").alias("seq"),
    )


def _merge_rewrite(left: str, right: str) -> Tuple[str, str]:
    """(pattern, replacement) applying merge (left, right) to a
    bar-delimited sequence: ``|left||right|`` → ``|leftright|``."""
    return f"|{left}||{right}|", f"|{left}{right}|"


def learn_bpe_merges(
    df: DataFrame,
    n_merges: int = 6,
    text_col: str = "text",
) -> DataFrame:
    """Learn the first ``n_merges`` BPE merges of the corpus.

    ``bpe_word_table`` is the one Spark pass; its (wf, seq) rows are
    collected once and the greedy rounds run on the driver. Each round:
    adjacent-pair counts weighted by ``wf`` (every occurrence of a pair
    inside a word counts) → the single top pair (highest count, ties to
    the lexicographically smallest (left, right), i.e. the minimum of
    ``(-cnt, a, b)``) → one leftmost non-overlapping replace over every
    sequence (``_merge_rewrite``).

    Output, a local DataFrame with one row per learned merge: iteration
    (1-based), merge_left, merge_right, merged, pair_count. Corpora that
    run out of pairs yield fewer than ``n_merges`` rows. Mirrored by
    ``oracles.bpe_merges_sql``.
    """
    if n_merges < 1:
        raise ValueError(f"n_merges must be >= 1, got {n_merges}")
    vocab = [(row["wf"], row["seq"]) for row in bpe_word_table(df, text_col).collect()]
    merges = []
    for it in range(1, n_merges + 1):
        counts = {}
        for wf, seq in vocab:
            syms = re.findall(_SYMBOL_RE, seq)
            for pair in zip(syms, syms[1:]):
                counts[pair] = counts.get(pair, 0) + wf
        if not counts:
            break  # no pairs left: every later round would be empty too
        (a, b), cnt = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        merges.append((it, a, b, a + b, cnt))
        pattern, repl = _merge_rewrite(a, b)
        vocab = [(wf, seq.replace(pattern, repl)) for wf, seq in vocab]
    return df.sparkSession.createDataFrame(merges, _MERGES_SCHEMA)


def apply_bpe_merges(
    df: DataFrame,
    merges: DataFrame,
    n_merges: int,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Encode the corpus with a learned merge list — the other half of the
    tokenizer lifecycle (learn once, encode every shard).

    The merge list (``n_merges`` rows at most) is collected once; step i
    is the maximum (merge_left, merge_right) among its ``iteration == i``
    rows, and a missing step is a no-op. Every step is then applied in
    ONE projection of nested literal ``replace`` calls built by the
    trainer's own ``_merge_rewrite``, so apply-after-learn is
    replay-identical to the trainer's working vocabulary. Encoding runs
    at distinct-WORD grain (the bounded vocabulary), then per-word BPE
    token counts join back to the per-doc word occurrences — a plain join
    on ``word`` (Zipf-skewed key; AQE skew-join handles the head, same
    documented stance as ``textstats.token_rarity_table``) followed by
    one map-combined per-doc rollup. Nothing corpus-sized is ever
    broadcast or collected.

    Output per document (docs with zero ASCII words produce no row —
    inner-join semantics, mirrored by the oracle): id, n_words,
    n_bpe_tokens, n_chars (sum of word lengths), compression_milli =
    ``div(n_bpe_tokens * 1000, n_chars)``. Mirrored by
    ``oracles.bpe_encode_sql``.
    """
    if n_merges < 1:
        raise ValueError(f"n_merges must be >= 1, got {n_merges}")
    steps = {}
    for row in merges.filter(F.col("iteration").between(1, n_merges)).collect():
        pair = (row["merge_left"], row["merge_right"])
        steps[row["iteration"]] = max(steps.get(row["iteration"], pair), pair)
    occ = df.select(
        F.col(id_col),
        F.explode(F.regexp_extract_all(F.col(text_col), F.lit(BPE_WORD_RE), F.lit(0))).alias(
            "raw"
        ),
    ).select(id_col, F.lower(F.col("raw")).alias("word"))
    seq = F.regexp_replace(F.col("word"), "(.)", r"|$1|")
    for it in sorted(steps):
        pattern, repl = _merge_rewrite(*steps[it])
        seq = F.replace(seq, F.lit(pattern), F.lit(repl))
    word_tokens = occ.select("word").distinct().select(
        "word",
        F.size(F.regexp_extract_all(seq, F.lit(_SYMBOL_RE), F.lit(1)))
        .cast("bigint")
        .alias("n_tokens_word"),
    )
    return (
        occ.join(word_tokens, "word")
        .groupBy(id_col)
        .agg(
            F.count("*").cast("bigint").alias("n_words"),
            F.sum("n_tokens_word").cast("bigint").alias("n_bpe_tokens"),
            F.sum(F.length("word")).cast("bigint").alias("n_chars"),
        )
        .select(
            id_col,
            "n_words",
            "n_bpe_tokens",
            "n_chars",
            F.expr("div(n_bpe_tokens * 1000, n_chars)").cast("bigint").alias(
                "compression_milli"
            ),
        )
    )
