# -*- coding: utf-8 -*-
"""Text analysis operators for training-data pipelines: token counting,
quality scoring, document fingerprinting, SQL-expressible language ID.

All expressions are JVM-side and use cross-engine-identical primitives
(length/split/md5/integer arithmetic) so every operator has an exact DuckDB
oracle. The extraction-time language ID (``functions.langid``) is the
heuristic used inside the Arrow stage; ``langid_stopword_column`` here is
the same stopword-profile idea expressed relationally (argmax of hit
counts with deterministic profile-order tie-break).
"""

from __future__ import annotations

from typing import Dict

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.langid import LANG_STOPWORDS
from .dedup import (
    _drop_oversized_buckets,
    shingles_column,
    stage_tokens,
    token_ngrams,
    tokens_column,
)

BPE_ISH_TOKEN_REGEX = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"

def regex_token_count(text_col: str = "text") -> Column:
    """BPE-ish token count: alpha runs, digit runs, and single punctuation
    marks each count as one token."""
    return F.size(F.regexp_extract_all(F.col(text_col), F.lit(BPE_ISH_TOKEN_REGEX), 0))


def quality_columns(text_col: str = "text") -> Dict[str, Column]:
    """Integer-scaled quality signals (milli-units where fractional):
    length, token count, mean token length, stopword ratio (en profile),
    non-alnum ratio. Compose downstream however the pipeline wants —
    components stay exact for oracle checks."""
    toks = tokens_column(text_col)
    n_tokens = F.size(toks)
    n_chars = F.length(F.col(text_col))
    chars_no_space = F.length(F.regexp_replace(F.col(text_col), " ", ""))
    en_stopwords = list(LANG_STOPWORDS["en"])
    stopword_hits = F.size(F.filter(toks, lambda w: F.lower(w).isin(en_stopwords)))
    non_alnum = n_chars - F.length(F.regexp_replace(F.col(text_col), r"[^A-Za-z0-9 ]", ""))
    return {
        "n_chars": n_chars.cast("bigint"),
        "n_tokens": n_tokens.cast("bigint"),
        "mean_token_len_milli": F.when(
            n_tokens > 0, F.round(chars_no_space * 1000 / n_tokens).cast("bigint")
        ).otherwise(F.lit(0)),
        "stopword_ratio_milli": F.when(
            n_tokens > 0, F.round(stopword_hits * 1000 / n_tokens).cast("bigint")
        ).otherwise(F.lit(0)),
        "non_alnum_milli": F.when(
            n_chars > 0, F.round(non_alnum * 1000 / n_chars).cast("bigint")
        ).otherwise(F.lit(0)),
    }


def fingerprint_column(text_col: str = "text") -> Column:
    """Whole-document fingerprint (md5 of the exact text)."""
    return F.md5(F.col(text_col))


def shingle_fingerprint_column(text_col: str = "text", k: int = 5) -> Column:
    """Content-defined fingerprint robust to document order: the minimum
    md5 over k-gram token shingles of the staged ``_toks``
    (``dedup.stage_tokens``; a 1-hash MinHash) — the document fingerprint
    for near-dup blocking."""
    return F.array_min(F.transform(shingles_column(text_col, k), lambda s: F.md5(s)))


ROLLING_HASH_MOD = (1 << 31) - 1  # Mersenne prime; 256 * mod fits in int64
ROLLING_HASH_BASE = 256
ROLLING_HASH_PREFIX_CHARS = 4096


def rolling_hash_column(
    text_col: str = "text", prefix_chars: int = ROLLING_HASH_PREFIX_CHARS
) -> Column:
    """Karp–Rabin rolling hash over the first ``prefix_chars`` code points:
    the polynomial ``sum(cp_i * base^(k-1-i)) mod 2^31-1``, computed as a
    left fold ``acc = (acc*256 + cp) % m`` — every intermediate fits in
    int64, so Spark and DuckDB agree bit-for-bit (the DuckDB mirror's
    ``list_reduce`` seeds with the first element, which equals the
    zero-seeded fold since cp < m). A content-defined chunker extends the
    same recurrence one position at a time.

    Scale notes: the fold runs over a PRE-SPLIT char array — the naive
    per-position ``substr(text, i, 1)`` form is O(i) per step on UTF8
    strings (boundary scan), i.e. quadratic per document; splitting once
    makes the whole fold linear. Work per row is additionally CAPPED at a
    fixed prefix (default 4096 chars — bounded cost regardless of document
    length; a prefix hash is the standard cheap discriminator, with
    ``fingerprint_column``'s md5 as the exact whole-document form). Pass
    ``prefix_chars=None`` for the uncapped fold."""
    text = F.col(text_col)
    chars = F.split(text, "")
    if prefix_chars is not None:
        chars = F.slice(chars, 1, prefix_chars)
    fold = F.aggregate(
        chars,
        F.lit(0).cast("bigint"),
        lambda acc, ch: (acc * ROLLING_HASH_BASE + F.ascii(ch)) % ROLLING_HASH_MOD,
    )
    return F.when(F.length(text) > 0, fold).otherwise(F.lit(0)).cast("bigint")


WINNOW_K = 3  # token k-grams (the engine's shingle grain)
WINNOW_W = 4  # selection window (guarantee: any >= w+k-1-token match shares a fingerprint)


def _winnow_encode(kgrams: Column) -> Column:
    """k-gram array → encoded candidate array (md5 + position suffix).
    The position term (10^7 - pos) is ENFORCED positive (assert_true —
    the module's fail-loud bound discipline): at ≥ 10^7 k-grams the lpad
    would truncate/misorder and the rightmost tie-break silently flips,
    and the oracle mirrors the same arithmetic so it could never catch
    it. Split documents that long before fingerprinting."""
    guarded = F.when(
        F.assert_true(
            F.size(kgrams) < F.lit(10_000_000),
            F.lit(
                "winnowing position encoding overflows at >= 1e7 k-grams "
                "per document — split the document first"
            ),
        ).isNull(),
        kgrams,
    )
    return F.transform(
        guarded,
        lambda s, i: F.concat(
            F.md5(s),
            F.lit("|"),
            F.lpad((F.lit(10_000_000) - (i + F.lit(1))).cast("string"), 8, "0"),
        ),
    )


def _staged_winnow_encoded(
    df: DataFrame, id_col: str, text_col: str, k: int
) -> DataFrame:
    """(id, _enc) with every array stage bound through a column — the
    load-bearing staging that defeats the higher-order re-inline
    quadratic (lambdas re-inline an unbound subtree per window; a
    one-expression form measured 18.6x slower at sf0.1). Single
    implementation shared by the per-doc table and the pair generator so
    a staging fix can never diverge."""
    staged = stage_tokens(df, id_col, text_col, text_col=text_col).select(
        F.col(id_col), shingles_column(text_col, k).alias("_kg")
    )
    return staged.select(F.col(id_col), _winnow_encode(F.col("_kg")).alias("_enc"))


def _winnow_select(encoded: Column, w: int) -> Column:
    """Encoded candidates → sorted distinct window minima: winnowing
    (Schleimer/Wilkerson/Aiken, the MOSS algorithm). Each window of ``w``
    consecutive k-gram hashes contributes its minimum; the string encoding
    ``md5hex || '|' || lpad(10^7 - pos, 8)`` makes a plain lexicographic
    min pick (smallest hash, then LARGEST pos) — the robust-winnowing
    rightmost tie-break, engine-neutral where struct ordering is a dialect
    trap. Any shared run of ≥ w+k-1 tokens shares a selected hash;
    documents shorter than w k-grams winnow one whole-array window."""
    n_windows = F.greatest(F.size(encoded) - (w - 1), F.lit(1))
    selections = F.transform(
        F.sequence(F.lit(1), n_windows),
        lambda i: F.array_min(F.slice(encoded, i, w)),
    )
    return F.array_sort(F.array_distinct(selections))


def winnow_fingerprint_table(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = WINNOW_K,
    w: int = WINNOW_W,
) -> DataFrame:
    """Per-doc winnowing summary — (id, n_winnowed, winnow_digest) where
    the digest is the md5 of the comma-joined sorted selections (compact
    exact witness of the full selection set). Zero shuffle, and every
    array stage (tokens → k-grams → encoded → selections) is STAGED
    through a bound column via ``_staged_winnow_encoded`` — see its
    docstring for the 18.6x re-inline trap it defeats."""
    enc = _staged_winnow_encoded(df, id_col, text_col, k)
    sel = enc.select(
        F.col(id_col), _winnow_select(F.col("_enc"), w).alias("_sel")
    )
    return sel.select(
        F.col(id_col),
        F.size(F.col("_sel")).cast("int").alias("n_winnowed"),
        F.md5(F.concat_ws(",", F.col("_sel"))).alias("winnow_digest"),
    )


WINNOW_PAIR_K = 5  # blocking k: rarer k-grams → tight fingerprint buckets


def winnow_near_dup_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = WINNOW_PAIR_K,
    w: int = WINNOW_W,
    min_shared: int = 2,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Near-dup pairs by SHARED winnowing fingerprints — the MOSS match
    step: block on the position-independent hash part of each selection
    (two documents sharing any ≥ w+k-1-token run collide by the
    winnowing guarantee), count shared fingerprints per pair, keep pairs
    with ≥ ``min_shared``. Complements MinHash-LSH: winnowing evidence
    is LOCAL (a shared paragraph in otherwise-different documents still
    pairs), where MinHash needs global Jaccard.

    ``k`` defaults HIGHER than the per-doc selection grain: the blocking
    key's bucket size is the number of documents containing a selected
    k-gram, so rarer (longer) k-grams keep the self-join tight; the
    guarantee window grows to w+k-1 tokens accordingly. The
    ``max_bucket_size`` cap is the standard hot-bucket guard
    (``dedup.DEFAULT_MAX_BAND_BUCKET`` semantics — dropped buckets are
    boilerplate-grade fingerprints); per the CLAUDE.md scale-guard rule
    its oracle mirrors the same count rule. Default None (no cap): the
    k=5 blocking key keeps buckets tight on real corpora; pass
    ``dedup.DEFAULT_MAX_BAND_BUCKET`` on templated/boilerplate-heavy
    ones and report ``dedup.oversized_band_buckets`` alongside.

    Output: (doc_a, doc_b, n_shared_fps), doc_a < doc_b."""
    enc = _staged_winnow_encoded(df, id_col, text_col, k)
    fps = (
        enc.select(F.col(id_col), F.explode(_winnow_select(F.col("_enc"), w)).alias("_sel"))
        .select(F.col(id_col), F.substring(F.col("_sel"), 1, 32).alias("fp"))
        .distinct()
    )
    fps = _drop_oversized_buckets(fps, ["fp"], max_bucket_size)
    left = fps.select(F.col(id_col).alias("doc_a"), "fp")
    right = fps.select(F.col(id_col).alias("doc_b"), "fp")
    return (
        left.join(right, "fp")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").cast("bigint").alias("n_shared_fps"))
        .filter(F.col("n_shared_fps") >= min_shared)
    )


C4_BAD_WORDS = ("badword1", "badword2")  # caller passes the real list
C4_MIN_SENTENCES = 3
C4_MIN_LINE_WORDS = 3


def c4_gates_table(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bad_words: tuple = C4_BAD_WORDS,
    min_sentences: int = C4_MIN_SENTENCES,
    min_line_words: int = C4_MIN_LINE_WORDS,
) -> DataFrame:
    """The C4 cleaning heuristics (Raffel et al. 2020 §2.2) as one
    row-local projection — the fourth named public rule set alongside
    Gopher (``gopher_quality_table``), CCNet (``lm_quality_buckets``/
    ``normalize``), and RefinedWeb (``remove_frequent_lines``):

    - a line is RETAINED iff it ends in terminal punctuation (. ! ? ")
      and has ≥ ``min_line_words`` words; the doc keeps ≥
      ``min_sentences`` retained lines or is dropped;
    - drop on 'lorem ipsum' (case-insensitive), on a curly brace ``{``
      (code tell), and on any blocklist word (lowercased whole-token
      match — ``arrays_overlap`` with a literal array: the list is
      request-sized, never a join).

    Output: id, n_lines, n_retained_lines, has_lorem_ipsum, has_curly,
    has_bad_word, c4_keep — all computed in whole-stage codegen, zero
    exchanges. The 3-line-span dedup half of C4 lives in
    ``dedup.duplicate_span_removal``/``remove_frequent_lines``."""
    lines = F.split(F.col(text_col), "\n")
    retained = F.filter(
        lines,
        lambda ln: (F.size(F.split(F.trim(ln), " +")) >= min_line_words)
        & F.trim(ln).rlike('[.!?"]$'),
    )
    lowered = F.lower(F.col(text_col))
    low_tokens = F.split(lowered, "[ \n]+")
    bad_arr = F.array(*[F.lit(wd) for wd in bad_words])
    return df.select(
        F.col(id_col),
        F.size(lines).cast("int").alias("n_lines"),
        F.size(retained).cast("int").alias("n_retained_lines"),
        lowered.contains("lorem ipsum").cast("int").alias("has_lorem_ipsum"),
        F.col(text_col).contains("{").cast("int").alias("has_curly"),
        F.arrays_overlap(low_tokens, bad_arr).cast("int").alias("has_bad_word"),
        (
            (F.size(retained) >= min_sentences)
            & ~lowered.contains("lorem ipsum")
            & ~F.col(text_col).contains("{")
            & ~F.arrays_overlap(low_tokens, bad_arr)
        )
        .cast("int")
        .alias("c4_keep"),
    )


def langid_hit_columns(text_col: str = "text") -> Dict[str, Column]:
    """Per-profile stopword hit counts (one filter+size per profile)."""
    toks = tokens_column(text_col)

    def make_predicate(stopword_list):
        return lambda w: F.lower(w).isin(stopword_list)

    return {
        f"_hits_{code}": F.size(F.filter(toks, make_predicate(list(stopwords))))
        for code, stopwords in LANG_STOPWORDS.items()
    }


def langid_detected_expr() -> Column:
    """Argmax-of-stopword-hits language code over the MATERIALIZED
    ``_hits_<code>`` columns (``langid_hit_columns``); '' when nothing
    matches; ties break by profile order (LANG_STOPWORDS insertion order) —
    same rule as the kernel langid. The hits MUST be plain column
    references: a naive inline chain duplicates every hits subtree into
    each branch (expression-tree blowup: ~100x slower measured at sf0.1)."""
    best = F.greatest(*[F.col(f"_hits_{code}") for code in LANG_STOPWORDS])
    expr: Column = F.lit("")
    # build the CASE from the LAST profile backwards so evaluation order is
    # first-profile-wins, matching the kernel's tie-break
    for code in reversed(list(LANG_STOPWORDS)):
        expr = F.when(F.col(f"_hits_{code}") == best, F.lit(code)).otherwise(expr)
    return F.when(best == 0, F.lit("")).otherwise(expr)


# ---------------------------------------------------------------------------
# PII scrubbing (training-data hygiene pass)
# ---------------------------------------------------------------------------

# Patterns restricted to the Java-regex ∩ RE2 common subset (no lookaround,
# no backrefs) so Spark and the DuckDB oracle match identical spans.
PII_PATTERNS = (
    ("url", r"https?://[^\s]+", "<URL>"),
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z][A-Za-z]+", "<EMAIL>"),
    ("phone", r"\+[0-9][0-9() -]{6,}[0-9]", "<PHONE>"),
)


def pii_counts(text_col: str = "text") -> Dict[str, Column]:
    """Per-kind PII match counts (JVM regexp, no Python)."""
    return {
        f"n_{kind}": F.size(F.regexp_extract_all(F.col(text_col), F.lit(pattern), 0)).cast(
            "bigint"
        )
        for kind, pattern, _ in PII_PATTERNS
    }


def redact_pii_column(text_col: str = "text") -> Column:
    """Scrubbed text: URLs, then emails, then phone numbers replaced by
    typed placeholders — the standard hygiene pass before a crawl dump
    becomes training data. Application order is fixed (URL first, so a
    URL's path can't half-match the email pattern) and mirrored verbatim
    by the oracle."""
    out = F.col(text_col)
    for _, pattern, placeholder in PII_PATTERNS:
        out = F.regexp_replace(out, pattern, placeholder)
    return out


# ---------------------------------------------------------------------------
# repetition signal (Gopher-style quality rule)
# ---------------------------------------------------------------------------


def repetition_table(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Top-bigram repetition ratio per document: the Gopher-style "most
    frequent n-gram fraction" quality signal. Output: id, n_bigrams,
    top_bigram_n, rep_milli = floor(1000 * top / total) (0 for docs with
    no bigram).

    Shape: bigram explode → (doc, bigram) count → per-doc max/sum — two
    aggregations that stay keyed on the doc id (one shuffle each, map-side
    combinable); integer output, exact oracle."""
    exploded = stage_tokens(df, id_col, text_col=text_col).select(
        F.col(id_col), F.explode(token_ngrams(2)).alias("bigram")
    )
    per_bigram = exploded.groupBy(id_col, "bigram").agg(F.count("*").alias("n"))
    stats = per_bigram.groupBy(id_col).agg(
        F.sum("n").alias("n_bigrams"), F.max("n").alias("top_bigram_n")
    )
    # left join back so bigram-less docs keep a row with zeros
    base = df.select(F.col(id_col))
    return base.join(stats, id_col, "left").select(
        F.col(id_col),
        F.coalesce(F.col("n_bigrams"), F.lit(0)).cast("bigint").alias("n_bigrams"),
        F.coalesce(F.col("top_bigram_n"), F.lit(0)).cast("bigint").alias("top_bigram_n"),
        F.coalesce(
            F.floor(F.col("top_bigram_n") * 1000 / F.col("n_bigrams")), F.lit(0)
        )
        .cast("bigint")
        .alias("rep_milli"),
    )


GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def gopher_quality_table(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len_milli: int = 3000,
    max_mean_word_len_milli: int = 10_000,
    min_alpha_word_milli: int = 800,
    min_stopword_distinct: int = 2,
) -> DataFrame:
    """Gopher-style document quality rules (the rule family of the Gopher
    /MassiveText filtering pipeline, Rae et al. 2021, applied by most
    open-web training corpora since): word-count bounds, mean-word-length
    bounds, fraction of words containing an alphabetic character, and
    presence of common English stopwords — each emitted as an exact
    integer column plus the combined ``keep`` verdict, all row-local JVM
    expressions (one narrow projection at any scale).

    Output: id, n_words, mean_word_len_milli (floor), alpha_word_milli
    (floor), stopword_distinct, keep.
    """
    cols = gopher_columns(
        text_col,
        min_words=min_words,
        max_words=max_words,
        min_mean_word_len_milli=min_mean_word_len_milli,
        max_mean_word_len_milli=max_mean_word_len_milli,
        min_alpha_word_milli=min_alpha_word_milli,
        min_stopword_distinct=min_stopword_distinct,
    )
    return df.select(F.col(id_col), *[expr.alias(name) for name, expr in cols.items()])


def gopher_columns(
    text_col: str = "text",
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len_milli: int = 3000,
    max_mean_word_len_milli: int = 10_000,
    min_alpha_word_milli: int = 800,
    min_stopword_distinct: int = 2,
) -> Dict[str, Column]:
    """The Gopher gate as raw column expressions (all row-local), so the
    gate composes into ANY projection — the batch table
    (``gopher_quality_table``) or any caller's own filter."""
    toks = tokens_column(text_col)
    n_words = F.size(toks)
    char_sum = F.aggregate(toks, F.lit(0).cast("bigint"), lambda acc, t: acc + F.length(t))
    mean_wl_milli = F.when(n_words > 0, F.floor(char_sum * 1000 / n_words)).otherwise(
        F.lit(0)
    ).cast("bigint")
    alpha_words = F.size(F.filter(toks, lambda t: t.rlike("[A-Za-z]")))
    alpha_milli = F.when(n_words > 0, F.floor(alpha_words * 1000 / n_words)).otherwise(
        F.lit(0)
    ).cast("bigint")
    stop_distinct = F.size(
        F.array_intersect(
            F.transform(toks, lambda t: F.lower(t)), F.array(*[F.lit(w) for w in GOPHER_STOPWORDS])
        )
    ).cast("bigint")
    keep = (
        (n_words >= min_words)
        & (n_words <= max_words)
        & (mean_wl_milli >= min_mean_word_len_milli)
        & (mean_wl_milli <= max_mean_word_len_milli)
        & (alpha_milli >= min_alpha_word_milli)
        & (stop_distinct >= min_stopword_distinct)
    )
    return {
        "n_words": n_words.cast("bigint"),
        "mean_word_len_milli": mean_wl_milli,
        "alpha_word_milli": alpha_milli,
        "stopword_distinct": stop_distinct,
        # int not boolean: exact cross-engine value-hash form
        "keep": keep.cast("int"),
    }


# Hot-vocabulary head size for the skew-safe score joins: the top-K rows
# of a Zipf-distributed score table carry the overwhelming majority of
# OCCURRENCE mass ("the" alone is ~5% of English tokens), so broadcasting
# them resolves the hot keys map-side and only the flat tail ever shuffles.
SCORE_JOIN_HEAD_K = 8192


def skew_safe_score_join(
    weighted: DataFrame,
    score_table: DataFrame,
    keys: list,
    count_col: str,
    top_k: int = SCORE_JOIN_HEAD_K,
) -> DataFrame:
    """Join per-(doc, key) weighted occurrence rows to a Zipf-distributed
    score table WITHOUT shuffling the hot keys: the ``top_k`` hottest score
    rows (by ``count_col``, deterministic key tie-break) are broadcast and
    probed map-side; rows that miss the head shuffle-join the anti-joined
    tail — whose keys are near-uniform by construction, so the shuffle has
    no skewed partition left. Exact same rows as a plain join.

    The caller should pre-aggregate occurrences to (doc, key) grain first
    (map-combinable, skew-free key) so the head/miss branches sit above a
    reusable Exchange rather than re-scanning the source."""
    head = score_table.orderBy(F.desc(count_col), *keys).limit(top_k)
    tail = score_table.join(F.broadcast(head.select(*keys)), keys, "left_anti")
    score_cols = [c for c in score_table.columns if c not in keys]
    # hit detection via a non-null sentinel, NOT score-column nullness —
    # a legitimately-NULL score value must not reroute its row to the
    # tail branch (where the inner join would drop it)
    probed = weighted.join(F.broadcast(head.withColumn("_head_hit", F.lit(1))), keys, "left")
    hit = probed.filter(F.col("_head_hit").isNotNull()).drop("_head_hit")
    miss = probed.filter(F.col("_head_hit").isNull()).drop("_head_hit", *score_cols)
    return hit.unionByName(miss.join(tail, keys).select(*hit.columns))


def token_rarity_table(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Corpus-frequency rarity signals per document (a deterministic,
    integer-exact stand-in for LM-perplexity quality scoring): build the
    corpus token-frequency table, then score each document by the
    frequency of its tokens — documents full of corpus-rare tokens are
    OCR garbage / boilerplate-hash candidates, documents of only
    ultra-common tokens carry little signal.

    Scale shape: one token explode feeding a map-combined
    ``groupBy(token).count()`` (the vocabulary table — Zipf-small next to
    the corpus), a join of token occurrences to their frequency, and a
    map-collapsing per-document aggregate. All arithmetic integer.

    Skew note (PLANS.md "Zipf-token score joins"): the occurrence→vocab
    join key is Zipf-distributed ("the" ≈ 5% of occurrence rows on one
    key). The build side is ONE row per token, so AQE skew-join splitting
    (``spark.sql.adaptive.skewJoin.enabled``, pinned by ``session.
    get_spark``) splits the hot probe partition at runtime with no
    build-side duplication cost — measured A/B, the explicit broadcast-
    head/tail rewrite (``skew_safe_score_join``, used by the trigram
    scorer) costs a constant ~0.2s of extra stages at bench scale while
    AQE needs none, so this operator keeps the plain join and the
    documented AQE reliance.

    Output: id, n_tokens, min_token_freq (the rarest token's corpus
    count), mean_token_freq_milli (floor(sum(freq)*1000 / n_tokens)).
    Mirrored by ``oracles.token_rarity_sql``.
    """
    occurrences = df.select(
        F.col(id_col), F.explode(tokens_column(text_col)).alias("tok")
    )
    vocabulary = occurrences.groupBy("tok").agg(F.count("*").alias("freq"))
    return (
        occurrences.join(vocabulary, "tok")
        .groupBy(id_col)
        .agg(
            F.count("*").cast("bigint").alias("n_tokens"),
            F.min("freq").cast("bigint").alias("min_token_freq"),
            F.floor(F.sum("freq") * 1000 / F.count("*")).cast("bigint").alias(
                "mean_token_freq_milli"
            ),
        )
    )


def gopher_quality_multilingual_table(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    lang_col: str = "lang",
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len_milli: int = 2000,
    max_mean_word_len_milli: int = 12_000,
    min_letter_word_milli: int = 800,
    min_stopword_distinct: int = 2,
) -> DataFrame:
    """Language-aware Gopher gate: the English-centric rules of
    ``gopher_quality_table`` mis-gate non-Latin documents (zh tokens have
    no ``[A-Za-z]`` and no English stopwords), so this variant:

    - counts LETTER words with the Unicode ``\\p{L}`` class (Java regex /
      RE2 common subset — identical spans both engines);
    - checks stopword presence against the DOCUMENT'S OWN language
      profile (``functions.langid.LANG_STOPWORDS``, the shared constant);
      languages without a profile (e.g. zh) are EXEMPT from the stopword
      rule rather than auto-failed.

    Row-local JVM expressions; mirrored by
    ``oracles.gopher_multilingual_sql``.
    """
    toks = tokens_column(text_col)
    n_words = F.size(toks)
    char_sum = F.aggregate(toks, F.lit(0).cast("bigint"), lambda acc, t: acc + F.length(t))
    mean_wl_milli = F.when(n_words > 0, F.floor(char_sum * 1000 / n_words)).otherwise(
        F.lit(0)
    ).cast("bigint")
    letter_words = F.size(F.filter(toks, lambda t: t.rlike(r"\p{L}")))
    letter_milli = F.when(n_words > 0, F.floor(letter_words * 1000 / n_words)).otherwise(
        F.lit(0)
    ).cast("bigint")
    lowered = F.transform(toks, lambda t: F.lower(t))
    stop_distinct: Column = F.lit(None).cast("bigint")
    for code in reversed(list(LANG_STOPWORDS)):
        profile = F.array(*[F.lit(w) for w in LANG_STOPWORDS[code]])
        stop_distinct = F.when(
            F.col(lang_col) == code,
            F.size(F.array_intersect(lowered, profile)).cast("bigint"),
        ).otherwise(stop_distinct)
    stop_rule_ok = F.when(
        stop_distinct.isNull(), F.lit(True)  # no profile for this language: exempt
    ).otherwise(stop_distinct >= min_stopword_distinct)
    keep = (
        (n_words >= min_words)
        & (n_words <= max_words)
        & (mean_wl_milli >= min_mean_word_len_milli)
        & (mean_wl_milli <= max_mean_word_len_milli)
        & (letter_milli >= min_letter_word_milli)
        & stop_rule_ok
    )
    return df.select(
        F.col(id_col),
        F.col(lang_col).alias("lang"),
        n_words.cast("bigint").alias("n_words"),
        mean_wl_milli.alias("mean_word_len_milli"),
        letter_milli.alias("letter_word_milli"),
        F.coalesce(stop_distinct, F.lit(-1)).cast("bigint").alias("stopword_distinct"),
        keep.cast("int").alias("keep"),
    )


def bigram_predictability_table(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Bigram-predictability scoring — the integer-exact n-gram-LM quality
    proxy one step past ``token_rarity_table``: for every adjacent token
    pair (a, b), its corpus conditional frequency
    ``floor(count(a b) * 1000 / count(a))`` (P(b|a) in milli), rolled up
    per document as mean and min. Near-1000 means templated/repetitive
    text; near-0 means token sequences the corpus has essentially never
    seen (OCR noise, shuffled text).

    Scale shape: one bigram explode (row-local pairing) → map-combined
    bigram and unigram count tables (Zipf-small) → two hash joins → one
    per-document rollup. All arithmetic integer. Documents with fewer
    than two tokens drop out. Mirrored by
    ``oracles.bigram_predictability_sql``.

    Skew note: same AQE skew-join reliance as ``token_rarity_table``
    (PLANS.md "Zipf-token score joins") — hot "of the"-class keys are
    split at runtime; the explicit broadcast-head rewrite measured as a
    net constant cost at bench scale.
    """
    base = stage_tokens(df, id_col, text_col=text_col)
    toks = F.col("_toks")
    pairs = F.transform(
        F.sequence(F.lit(1), F.size(toks) - 1),
        lambda i: F.struct(
            F.element_at(toks, i).alias("a"), F.element_at(toks, i + 1).alias("b")
        ),
    )
    occurrences = (
        base.filter(F.size(toks) >= 2)
        .select(F.col(id_col), F.explode(pairs).alias("bg"))
        .select(id_col, F.col("bg.a").alias("a"), F.col("bg.b").alias("b"))
    )
    unigrams = base.select(F.explode(toks).alias("a")).groupBy("a").agg(
        F.count("*").alias("ua")
    )
    bigrams = occurrences.groupBy("a", "b").agg(F.count("*").alias("ab"))
    scored = (
        occurrences.join(bigrams, ["a", "b"])
        .join(unigrams, "a")
        .select(F.col(id_col), F.floor(F.col("ab") * 1000 / F.col("ua")).alias("pred_milli"))
    )
    return scored.groupBy(id_col).agg(
        F.count("*").cast("bigint").alias("n_bigrams"),
        F.floor(F.sum("pred_milli") / F.count("*")).cast("bigint").alias("mean_pred_milli"),
        F.min("pred_milli").cast("bigint").alias("min_pred_milli"),
    )


# Interpolation weights (milli) for the trigram LM score: lambda3 * P(c|ab)
# + lambda2 * P(c|b) + lambda1 * P(c). Fixed Jelinek-Mercer-style weights
# keep the arithmetic integer-exact (no EM fitting, which a quality gate
# does not need).
TRIGRAM_INTERP_WEIGHTS = (500, 300, 200)


def trigram_predictability_table(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Interpolated trigram LM scoring — the next step past
    ``bigram_predictability_table``: every adjacent token triple (a, b, c)
    scores ``floor((l3*P3 + l2*P2 + l1*P1) / 1000)`` where (in milli,
    floor-divided, all integer-exact)

    - P3 = floor(1000 * count(a b c) / count(a b))   (trigram conditional)
    - P2 = floor(1000 * count(b c) / count(b))       (bigram backoff)
    - P1 = floor(1000 * count(c) / corpus_tokens)    (unigram backoff)

    rolled up per document as mean and min. The backoff terms mean a
    triple the corpus has never seen in full still scores by its shorter
    suffixes — the standard interpolated-LM shape (Jelinek-Mercer with
    fixed weights).

    Scale shape: ALL probability arithmetic happens at vocabulary grain —
    the trigram score table is built by joining the trigram/bigram/unigram
    count tables (each map-combined and Zipf-small) plus a broadcast
    1-row corpus total; occurrences pre-aggregate to (doc, a, b, c) grain
    and resolve via ``skew_safe_score_join`` (hot triples broadcast, flat
    tail shuffles). Documents with fewer than three tokens drop out.
    Mirrored by ``oracles.trigram_predictability_sql``.
    """
    w3, w2, w1 = TRIGRAM_INTERP_WEIGHTS
    base = stage_tokens(df, id_col, text_col=text_col)
    toks = F.col("_toks")
    triples = F.transform(
        F.sequence(F.lit(1), F.size(toks) - 2),
        lambda i: F.struct(
            F.element_at(toks, i).alias("a"),
            F.element_at(toks, i + 1).alias("b"),
            F.element_at(toks, i + 2).alias("c"),
        ),
    )
    occurrences = (
        base.filter(F.size(toks) >= 3)
        .select(F.col(id_col), F.explode(triples).alias("tg"))
        .select(id_col, "tg.a", "tg.b", "tg.c")
    )
    unigrams = base.select(F.explode(toks).alias("tok")).groupBy("tok").agg(
        F.count("*").alias("u")
    )
    total = unigrams.agg(F.sum("u").alias("corpus_tokens"))
    pairs = F.transform(
        F.sequence(F.lit(1), F.size(toks) - 1),
        lambda i: F.struct(
            F.element_at(toks, i).alias("x"), F.element_at(toks, i + 1).alias("y")
        ),
    )
    bigram_counts = (
        base.filter(F.size(toks) >= 2)
        .select(F.explode(pairs).alias("bg"))
        .groupBy("bg.x", "bg.y")
        .agg(F.count("*").alias("xy"))
    )
    trigram_counts = occurrences.groupBy("a", "b", "c").agg(F.count("*").alias("abc"))
    score_table = (
        trigram_counts.join(
            bigram_counts.select(
                F.col("x").alias("a"), F.col("y").alias("b"), F.col("xy").alias("ab")
            ),
            ["a", "b"],
        )
        .join(
            bigram_counts.select(
                F.col("x").alias("b"), F.col("y").alias("c"), F.col("xy").alias("bc")
            ),
            ["b", "c"],
        )
        .join(unigrams.select(F.col("tok").alias("b"), F.col("u").alias("ub")), "b")
        .join(unigrams.select(F.col("tok").alias("c"), F.col("u").alias("uc")), "c")
        .crossJoin(F.broadcast(total))
        .select(
            "a",
            "b",
            "c",
            "abc",
            F.floor(
                (
                    w3 * F.floor(F.col("abc") * 1000 / F.col("ab"))
                    + w2 * F.floor(F.col("bc") * 1000 / F.col("ub"))
                    + w1 * F.floor(F.col("uc") * 1000 / F.col("corpus_tokens"))
                )
                / 1000
            ).alias("interp_milli"),
        )
    )
    weighted = occurrences.groupBy(id_col, "a", "b", "c").agg(F.count("*").alias("n"))
    scored = skew_safe_score_join(weighted, score_table, ["a", "b", "c"], "abc")
    return scored.groupBy(id_col).agg(
        F.sum("n").cast("bigint").alias("n_trigrams"),
        F.floor(F.sum(F.col("n") * F.col("interp_milli")) / F.sum("n"))
        .cast("bigint")
        .alias("mean_interp_milli"),
        F.min("interp_milli").cast("bigint").alias("min_interp_milli"),
    )


def grouped_exact_quantiles(
    df: DataFrame,
    group_col: str = "lang",
    value_col: str = "n_chars",
    percentiles: tuple = (50, 90),
) -> DataFrame:
    """EXACT per-group percentiles of a bounded integer column (corpus
    length profiling: p50/p90 document length per language) — computed
    the way exact quantiles stay feasible at 100 TB.

    The naive exact form (``row_number`` per group over the raw rows)
    funnels every group's rows through ONE reducer for a full sort —
    a handful of language groups means a handful of reducers sorting the
    whole corpus. Instead: aggregate to the (group, value) HISTOGRAM first
    (map-combined; the result is tiny — bounded by the value domain, not
    the corpus), then take cumulative sums over that histogram and pick
    ``min(value) where cum >= ceil(p * n / 100)`` (quantile_disc
    semantics, pure integer arithmetic: ``ceil`` as ``(p*n + 99) div
    100``). The only window runs over distinct values per group —
    thousands of rows, not billions.

    Output: group, n_rows, p<p> for each requested percentile.
    Mirrored by ``oracles.grouped_quantiles_sql``.
    """
    from pyspark.sql import Window

    hist = df.groupBy(group_col, value_col).agg(F.count("*").alias("cnt"))
    w_cum = Window.partitionBy(group_col).orderBy(value_col)
    w_all = Window.partitionBy(group_col)
    cum = hist.withColumn("cum", F.sum("cnt").over(w_cum)).withColumn(
        "n", F.sum("cnt").over(w_all)
    )
    aggs = [F.max("n").cast("bigint").alias("n_rows")]
    for p in percentiles:
        # `div` keeps the rank target in PURE bigint arithmetic: Spark's
        # `/` is double division, and above 2^53 (n*p+99 at per-group
        # 1e14-row scale) the double rounds while the DuckDB mirror's
        # integer `//` does not — the CLAUDE.md cross-engine rule
        aggs.append(
            F.expr(
                f"min(CASE WHEN cum >= (n * {int(p)} + 99) div 100"
                f" THEN `{value_col}` END)"
            )
            .cast("bigint")
            .alias(f"p{int(p)}")
        )
    return cum.groupBy(group_col).agg(*aggs)


def duplicate_ngram_stats(
    df: DataFrame, n: int = 5, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Within-document duplicate n-gram fraction — the long-n complement
    of ``repetition_table``'s top-bigram signal in the Gopher rule family
    (Rae et al. 2021 filter on duplicate 5..10-grams; expressed here over
    token occurrences): the fraction of a document's n-gram occurrences
    that are repeats of an earlier n-gram in the SAME document. High
    values mean internally looping/templated text that survives corpus-
    level dedup because the repetition is internal.

    Row-local at any scale: one transform builds the gram array, one
    array_distinct counts the unique grams — zero Exchange, exact integer
    output. Output: id, n_grams, n_distinct, dup_milli
    (floor((n_grams - n_distinct) * 1000 / n_grams); 0 when no grams).
    Mirrored by ``oracles.duplicate_ngram_sql``.
    """
    with_grams = stage_tokens(df, id_col, text_col=text_col).select(
        F.col(id_col), token_ngrams(n).alias("_grams")
    )
    total = F.size(F.col("_grams"))
    distinct = F.size(F.array_distinct(F.col("_grams")))
    return with_grams.select(
        F.col(id_col),
        total.cast("bigint").alias("n_grams"),
        distinct.cast("bigint").alias("n_distinct"),
        F.when(total > 0, F.floor((total - distinct) * 1000 / total))
        .otherwise(F.lit(0))
        .cast("bigint")
        .alias("dup_milli"),
    )


def lm_quality_buckets(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    lang_col: str = "lang",
) -> DataFrame:
    """CCNet-style quality bucketing (Wenzek et al. 2020: split each
    language's documents into head/middle/tail by LM perplexity): here
    the integer-exact ``bigram_predictability_table`` score stands in for
    the LM, and the per-language tercile thresholds come from
    ``grouped_exact_quantiles`` — the bounded-domain histogram method
    (scores live in [0, 1000] milli), so the threshold computation stays
    exact and scale-safe.

    head = most predictable tercile of its language, tail = least.
    A score exactly equal to a threshold falls to the LOWER bucket
    (``<=`` semantics — p33 itself is tail), mirrored exactly by the
    oracle.

    Scale shape: the per-doc score is the audited bigram plan; the
    threshold table is one row per language (broadcast join); bucketing
    is a row-local CASE. Output: id, lang, mean_pred_milli, bucket.
    Mirrored by ``oracles.lm_quality_buckets_sql``.
    """
    scores = bigram_predictability_table(df, id_col, text_col).join(
        df.select(F.col(id_col), F.col(lang_col)), id_col
    )
    # dual consumer (threshold aggregate + bucketing join): checkpoint the
    # score table once instead of recomputing the bigram plan per branch
    scores = scores.localCheckpoint(eager=False)
    thresholds = grouped_exact_quantiles(
        scores, lang_col, "mean_pred_milli", (33, 67)
    ).select(lang_col, F.col("p33"), F.col("p67"))
    bucketed = scores.join(F.broadcast(thresholds), lang_col)
    bucket = (
        F.when(F.col("mean_pred_milli") <= F.col("p33"), F.lit("tail"))
        .when(F.col("mean_pred_milli") <= F.col("p67"), F.lit("middle"))
        .otherwise(F.lit("head"))
    )
    return bucketed.select(
        F.col(id_col),
        F.col(lang_col),
        F.col("mean_pred_milli"),
        bucket.alias("bucket"),
    )
