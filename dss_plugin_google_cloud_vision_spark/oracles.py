# -*- coding: utf-8 -*-
"""DuckDB oracle SQL builders for the dedup / similarity / textstats
operators.

Each builder mirrors its Spark operator definition 1:1 (same constants,
same hash strings, same integer scaling) so the driver's side-by-side
comparison is exact. SQL is generated programmatically from the SAME
Python constants the Spark operators use (hash counts, band layout,
stopword profiles, hyperplanes) — one definition, two engines.
"""

from __future__ import annotations

from .functions.langid import LANG_STOPWORDS
from .operators.dedup import (
    DEFAULT_BANDS,
    DEFAULT_MAX_BAND_BUCKET,
    DEFAULT_N_HASHES,
    DEFAULT_SHINGLE_K,
    SIMHASH_BANDS,
    SIMHASH_BITS,
)
from .operators.similarity import _hyperplane

# Synthetic near-dup corpus: documents ∪ suffixed copies ∪ exact copies.
# Mirrored by `build_dedup_corpus` in __spark_entry__.
CORPUS_CTE = (
    "corpus AS ("
    " SELECT doc_id, text FROM documents"
    " UNION ALL"
    " SELECT doc_id + 100000 AS doc_id, text || ' zzz extra suffix token' AS text"
    "  FROM documents WHERE doc_id % 20 = 0"
    " UNION ALL"
    " SELECT doc_id + 200000 AS doc_id, text FROM documents WHERE doc_id % 25 = 0"
    ")"
)


def shingle_cte(source: str = "corpus", k: int = DEFAULT_SHINGLE_K, name: str = "sh") -> str:
    parts = " || ' ' || ".join(f"tokens[i+{o}]" if o else "tokens[i]" for o in range(k))
    return (
        f"{name} AS MATERIALIZED ("
        f" SELECT DISTINCT doc_id, shingle FROM ("
        f"  SELECT doc_id, unnest(CASE WHEN len(tokens) >= {k}"
        f"   THEN list_transform(generate_series(1, len(tokens)-{k - 1}), i -> {parts})"
        f"   ELSE [text] END) AS shingle"
        f"  FROM (SELECT doc_id, text, string_split(text, ' ') AS tokens FROM {source})"
        f" )"
        f")"
    )


def exact_dedup_sql() -> str:
    return (
        f"WITH {CORPUS_CTE} "
        "SELECT min(doc_id) AS doc_id, count(*) AS n_copies "
        "FROM corpus GROUP BY text HAVING count(*) > 1"
    )


def _sig_cte(n_hashes: int = DEFAULT_N_HASHES, src: str = "sh", name: str = "sig") -> str:
    mins = ", ".join(
        f"min(md5('{s}#' || shingle)) AS h{s}" for s in range(n_hashes)
    )
    return f"{name} AS MATERIALIZED (SELECT doc_id, {mins} FROM {src} GROUP BY doc_id)"


def _bands_cte(
    n_hashes: int = DEFAULT_N_HASHES,
    bands: int = DEFAULT_BANDS,
    src: str = "sig",
    name: str = "bands",
) -> str:
    rows_per_band = n_hashes // bands
    selects = []
    for b in range(bands):
        cols = " || '|' || ".join(f"h{b * rows_per_band + r}" for r in range(rows_per_band))
        selects.append(f"SELECT doc_id, {b} AS band, md5({cols}) AS band_key FROM {src}")
    return f"{name} AS MATERIALIZED (" + " UNION ALL ".join(selects) + ")"


def _capped_cte(
    name: str,
    src: str,
    keys: str = "band, band_key",
    cap: int = DEFAULT_MAX_BAND_BUCKET,
) -> str:
    """Mirror of operators.dedup._drop_oversized_buckets: drop every row
    of a band bucket larger than ``cap``. The rule is a pure count over
    the same rows both engines see, so it is engine-agnostic — but it
    MUST be mirrored wherever the Spark side caps (invisible at sf0.01,
    a real divergence the first time a templated-text corpus floods a
    16-bit simhash band at sf0.1)."""
    return (
        f"{name} AS MATERIALIZED ("
        f" SELECT s.* FROM {src} s"
        f" JOIN (SELECT {keys} FROM {src} GROUP BY {keys}"
        f"  HAVING count(*) <= {cap}) k USING ({keys}))"
    )


def minhash_candidates_sql() -> str:
    return (
        f"WITH {CORPUS_CTE}, {shingle_cte()}, {_sig_cte()}, {_bands_cte()}, "
        f"{_capped_cte('bands_k', 'bands')} "
        "SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b "
        "FROM bands_k a JOIN bands_k b "
        "ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id"
    )


def _near_dup_pairs_ctes(threshold_milli: int = 800, corpus_cte: str = CORPUS_CTE) -> str:
    """All CTEs up to ``pairs`` (verified near-dup pairs of the corpus
    defined by ``corpus_cte``, which must define a CTE named ``corpus``
    with at least (doc_id, text))."""
    return (
        f"{corpus_cte}, {shingle_cte()}, {_sig_cte()}, {_bands_cte()}, "
        f"{_capped_cte('bands_k', 'bands')}, "
        "cand AS MATERIALIZED ("
        " SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b"
        " FROM bands_k a JOIN bands_k b"
        " ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id), "
        "sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id), "
        "inter AS ("
        " SELECT c.doc_a, c.doc_b, count(*) AS inter_size"
        " FROM cand c JOIN sh a ON a.doc_id = c.doc_a"
        " JOIN sh b ON b.doc_id = c.doc_b AND b.shingle = a.shingle"
        " GROUP BY c.doc_a, c.doc_b), "
        "pairs AS ("
        " SELECT i.doc_a, i.doc_b, i.inter_size, sa.n + sb.n - i.inter_size AS union_size"
        " FROM inter i JOIN sizes sa ON sa.doc_id = i.doc_a JOIN sizes sb ON sb.doc_id = i.doc_b"
        f" WHERE i.inter_size * 1000 >= {threshold_milli} * (sa.n + sb.n - i.inter_size))"
    )


def near_dup_pairs_sql(threshold_milli: int = 800) -> str:
    return (
        f"WITH {_near_dup_pairs_ctes(threshold_milli)} "
        "SELECT doc_a, doc_b, inter_size, union_size FROM pairs"
    )


def near_dup_clusters_sql(threshold_milli: int = 800) -> str:
    """Connected components over the verified near-dup pairs: min reachable
    id per node, via a recursive CTE (mirrors
    operators.dedup.near_dup_clusters' min-label propagation fixpoint)."""
    return (
        f"WITH RECURSIVE {_near_dup_pairs_ctes(threshold_milli)}, "
        "edges AS ("
        " SELECT doc_a AS src, doc_b AS dst FROM pairs"
        " UNION SELECT doc_b AS src, doc_a AS dst FROM pairs), "
        "reach(node, label) AS ("
        " SELECT src AS node, src AS label FROM edges"
        " UNION"
        " SELECT e.dst AS node, r.label FROM reach r JOIN edges e ON e.src = r.node) "
        "SELECT node AS doc_id, min(label) AS cluster_id FROM reach GROUP BY node"
    )


def _simhash_ctes(source: str = "documents", bits: int = SIMHASH_BITS) -> str:
    """Mirror of operators.dedup.simhash_table: distinct tokens → 16
    hex-digit values per token → 64 ±1 vote sums → signed-bigint signature
    (bit 63 contributes -2^63, two's complement — DuckDB and Spark agree
    bit-for-bit)."""
    digit_defs = ", ".join(
        f"(strpos('0123456789abcdef', substring(h, {i + 1}, 1)) - 1) AS d{i}"
        for i in range(bits // 4)
    )
    vote_cols = [
        f"sum(CASE WHEN ((d{j // 4} >> {j % 4}) & 1) = 1 THEN 1 ELSE -1 END) AS s{j}"
        for j in range(bits)
    ]
    bit_terms = " + ".join(
        f"(CASE WHEN s{j} > 0 THEN cast({2 ** j} AS bigint) ELSE cast(0 AS bigint) END)"
        for j in range(bits - 1)
    )
    sign_term = (
        f"(CASE WHEN s{bits - 1} > 0 THEN cast(-9223372036854775807 - 1 AS bigint)"
        " ELSE cast(0 AS bigint) END)"
    )
    return (
        f"tok AS (SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS w FROM {source}), "
        f"hsh AS (SELECT doc_id, md5(w) AS h FROM tok), "
        f"dig AS (SELECT doc_id, {digit_defs} FROM hsh), "
        f"votes AS (SELECT doc_id, {', '.join(vote_cols)} FROM dig GROUP BY doc_id), "
        f"sims AS (SELECT doc_id, cast({bit_terms} + {sign_term} AS bigint) AS simhash FROM votes)"
    )


def simhash_sql(source: str = "documents") -> str:
    return f"WITH {_simhash_ctes(source)} SELECT doc_id, simhash FROM sims"


def simhash_near_dup_sql(max_hamming: int = 3, bands: int = SIMHASH_BANDS) -> str:
    width = SIMHASH_BITS // bands
    mask = (1 << width) - 1
    band_selects = " UNION ALL ".join(
        f"SELECT doc_id, simhash, {b} AS band, (simhash >> {width * b}) & {mask} AS key FROM sims"
        for b in range(bands)
    )
    return (
        f"WITH {CORPUS_CTE}, {_simhash_ctes('corpus')}, "
        f"banded AS ({band_selects}), "
        f"{_capped_cte('banded_k', 'banded', keys='band, key')} "
        "SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b, "
        " cast(bit_count(xor(a.simhash, b.simhash)) AS int) AS hamming "
        "FROM banded_k a JOIN banded_k b ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id "
        f"WHERE bit_count(xor(a.simhash, b.simhash)) <= {max_hamming}"
    )


DOT = (
    "list_reduce(list_transform(list_zip({a}, {b}),"
    " x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)), (acc, v) -> acc + v)"
)


def _cos_micro(a: str, b: str) -> str:
    dot = DOT.format(a=a, b=b)
    norm_a = f"sqrt({DOT.format(a=a, b=a)})"
    norm_b = f"sqrt({DOT.format(a=b, b=b)})"
    return f"cast(round(1000000 * ({dot}) / ({norm_a} * {norm_b})) AS bigint)"


def ann_topk_sql(query_vec_id: int = 0, k: int = 10) -> str:
    return (
        f"WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = {query_vec_id}), "
        f"scored AS (SELECT vec_id, {_cos_micro('embedding', 'qv')} AS cos_micro "
        "FROM embeddings, q) "
        "SELECT vec_id, cos_micro, cast(rank AS int) AS rank FROM ("
        " SELECT *, row_number() OVER (ORDER BY cos_micro DESC, vec_id) AS rank FROM scored) "
        f"WHERE rank <= {k}"
    )


# Synthetic embedding near-dup corpus: embeddings ∪ exactly-parallel ×2
# copies of every tenth vector. Power-of-two scaling is IEEE-exact, so a
# copy shares every hyperplane sign (always a candidate) and has cosine
# 1.0 to its source. Mirrored by `build_embedding_corpus` in __spark_entry__.
EMB_CORPUS_CTE = (
    "ecorpus AS ("
    " SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb FROM embeddings"
    " UNION ALL"
    " SELECT vec_id + 100000 AS vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE) * 2) AS emb"
    "  FROM embeddings WHERE vec_id % 10 = 0)"
)


def _hyperplane_band_key_sql(vec: str, band: int, dim: int, n_planes: int, n_bands: int) -> str:
    """Mirror of operators.similarity.hyperplane_band_keys for one band."""
    planes_per_band = n_planes // n_bands
    terms = []
    for r in range(planes_per_band):
        plane = "[" + ", ".join(repr(v) for v in _hyperplane(dim, band * planes_per_band + r)) + "]"
        terms.append(f"(CASE WHEN {DOT.format(a=vec, b=plane)} > 0 THEN {2 ** r} ELSE 0 END)")
    return "cast((" + " + ".join(terms) + ") AS int)"


def embedding_near_dup_sql(
    threshold_micro: int = 990_000, dim: int = 64, n_planes: int = 32, n_bands: int = 4
) -> str:
    """Mirror of operators.dedup.embedding_near_dup_pairs: hyperplane band
    keys → band equi-join candidates → L2-normalize once → one exact dot
    per candidate pair. Identical double op order on both engines →
    identical bits (and identical LSH candidacy, so even LSH misses are
    mirrored exactly)."""
    key_cols = ", ".join(
        f"{_hyperplane_band_key_sql('emb', b, dim, n_planes, n_bands)} AS k{b}"
        for b in range(n_bands)
    )
    band_selects = " UNION ALL ".join(
        f"SELECT vec_id, {b} AS band, k{b} AS key FROM sigs" for b in range(n_bands)
    )
    pair_dot = DOT.format(a="a.e", b="b.e")
    return (
        f"WITH {EMB_CORPUS_CTE}, "
        f"sigs AS (SELECT vec_id, {key_cols} FROM ecorpus), "
        f"banded AS ({band_selects}), "
        "cand AS (SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b"
        " FROM banded a JOIN banded b ON a.band = b.band AND a.key = b.key AND a.vec_id < b.vec_id), "
        "normed AS ("
        " SELECT vec_id, list_transform(emb, x -> x / n) AS e"
        f" FROM (SELECT vec_id, emb, sqrt({DOT.format(a='emb', b='emb')}) AS n FROM ecorpus)) "
        "SELECT c.vec_a, c.vec_b, "
        f"cast(round({pair_dot} * 1000000) AS bigint) AS cos_micro "
        "FROM cand c JOIN normed a ON a.vec_id = c.vec_a JOIN normed b ON b.vec_id = c.vec_b "
        f"WHERE cast(round({pair_dot} * 1000000) AS bigint) >= {threshold_micro}"
    )


def lsh_ann_topk_sql(query_vec_id: int = 0, k: int = 10, n_planes: int = 8, n_bands: int = 2, dim: int = 64) -> str:
    """Same deterministic hyperplanes as operators.similarity — constants
    generated from one Python source."""
    planes_per_band = n_planes // n_bands
    mask = (1 << planes_per_band) - 1

    def sig(vec: str) -> str:
        terms = []
        for p in range(n_planes):
            plane = "[" + ", ".join(repr(v) for v in _hyperplane(dim, p)) + "]"
            terms.append(f"(CASE WHEN {DOT.format(a=vec, b=plane)} > 0 THEN {2 ** p} ELSE 0 END)")
        return "(" + " + ".join(terms) + ")"

    band_match = " OR ".join(
        f"(cast(floor(sig / {1 << (b * planes_per_band)}) AS int) % {mask + 1} = "
        f"cast(floor(qsig / {1 << (b * planes_per_band)}) AS int) % {mask + 1})"
        for b in range(n_bands)
    )
    return (
        f"WITH q AS (SELECT embedding AS qv, {sig('embedding')} AS qsig FROM embeddings WHERE vec_id = {query_vec_id}), "
        f"scored AS (SELECT vec_id, {sig('embedding')} AS sig, embedding, qv, qsig FROM embeddings, q), "
        f"cands AS (SELECT vec_id, {_cos_micro('embedding', 'qv')} AS cos_micro FROM scored WHERE {band_match}) "
        "SELECT vec_id, cos_micro, cast(rank AS int) AS rank FROM ("
        " SELECT *, row_number() OVER (ORDER BY cos_micro DESC, vec_id) AS rank FROM cands) "
        f"WHERE rank <= {k}"
    )


def _flat_dot(a: str, b: str, dim: int) -> str:
    """Left-associated flat dot — the identical `x1 + x2 + ...` evaluation
    order as similarity.ivf_cell_udf's per-dimension numpy accumulation
    (one IEEE add per dimension, in order)."""
    return " + ".join(
        f"(CAST({a}[{d + 1}] AS DOUBLE) * CAST({b}[{d + 1}] AS DOUBLE))" for d in range(dim)
    )


def _assign_cte(name: str, cents: str, source: str = "embeddings", dim: int = 64) -> str:
    """Argmax-dot cell assignment against the ``cents`` codebook CTE —
    identical flat-sum order and (dot DESC, cid) tie-break as
    operators.similarity.ivf_cell_udf."""
    assign_dot = _flat_dot("e.embedding", "c.cvec", dim)
    return (
        f"{name} AS ("
        " SELECT vec_id, embedding, cell FROM ("
        "  SELECT e.vec_id, e.embedding, c.cid AS cell,"
        f"   row_number() OVER (PARTITION BY e.vec_id ORDER BY {assign_dot} DESC, c.cid) AS rn"
        f"  FROM {source} e, {cents} c) WHERE rn = 1)"
    )


def _kmeans_step_ctes(step: int, dim: int, source: str = "embeddings") -> str:
    """One Lloyd iteration: assignment against cents{step-1} → per-cell
    micro-quantized integer component sums (order-independent, so Spark's
    partial aggregation agrees bit-for-bit) → cents{step} as
    ``(sum / count) / 1e6`` with empty cells keeping their previous
    centroid (mirror of operators.similarity.train_centroids)."""
    sums = ", ".join(
        f"sum(cast(round(cast(embedding[{d + 1}] AS double) * 1000000) AS bigint)) AS s{d}"
        for d in range(dim)
    )
    mean_list = ", ".join(f"(cast(m.s{d} AS double) / m.n) / 1000000.0" for d in range(dim))
    return (
        f"{_assign_cte(f'a{step - 1}', f'cents{step - 1}', source=source)}, "
        f"m{step} AS (SELECT cell, count(*) AS n, {sums} FROM a{step - 1} GROUP BY cell), "
        f"cents{step} AS ("
        " SELECT c.cid,"
        f"  CASE WHEN m.cell IS NULL THEN c.cvec ELSE [{mean_list}] END AS cvec"
        f" FROM cents{step - 1} c LEFT JOIN m{step} m ON m.cell = c.cid)"
    )


def ivf_topk_sql(
    query_vec_id: int = 0,
    k: int = 10,
    n_centroids: int = 16,
    n_probe: int = 4,
    train_iterations: int = 2,
    dim: int = 64,
) -> str:
    """Fully-relational mirror of operators.similarity.ivf_topk: k-means
    codebook (lowest-id seeding + ``train_iterations`` Lloyd steps over
    micro-quantized integer sums), argmax-dot cell assignment, probe the
    query's n_probe nearest cells, exact-cosine re-rank. Identical double
    fold order on both engines → identical codebook, cells, probes and
    ranks."""
    probe_dot = DOT.format(a="q.qv", b="c.cvec")
    train = "".join(", " + _kmeans_step_ctes(s, dim) for s in range(1, train_iterations + 1))
    final_cents = f"cents{train_iterations}"
    return (
        "WITH cents0 AS ("
        " SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid,"
        "  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cvec"
        f" FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT {n_centroids}))"
        f"{train}, "
        f"{_assign_cte('assigned', final_cents)}, "
        f"q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = {query_vec_id}), "
        "probes AS ("
        " SELECT cid FROM ("
        f"  SELECT c.cid, row_number() OVER (ORDER BY {probe_dot} DESC, c.cid) AS pr"
        f"  FROM {final_cents} c, q) WHERE pr <= {n_probe}), "
        "cand AS (SELECT a.vec_id, a.embedding FROM assigned a JOIN probes p ON a.cell = p.cid), "
        f"scored AS (SELECT vec_id, {_cos_micro('embedding', 'qv')} AS cos_micro FROM cand, q) "
        "SELECT vec_id, cos_micro, cast(rank AS int) AS rank FROM ("
        " SELECT *, row_number() OVER (ORDER BY cos_micro DESC, vec_id) AS rank FROM scored) "
        f"WHERE rank <= {k}"
    )


def semantic_dedup_sql(
    n_clusters: int = 16,
    train_iterations: int = 2,
    threshold_micro: int = 950_000,
    dim: int = 64,
) -> str:
    """Fully-relational mirror of operators.dedup.semantic_dedup over the
    planted embedding corpus (EMB_CORPUS_CTE): lowest-id-seeded Lloyd
    training (micro-quantized integer sums), argmax-dot cluster
    assignment, L2-normalize once, within-cluster lower-id pair marking.
    Identical double fold order on both engines → identical clusters and
    flags bit-for-bit."""
    train = "".join(
        ", " + _kmeans_step_ctes(s, dim, source="ecorp")
        for s in range(1, train_iterations + 1)
    )
    final_cents = f"cents{train_iterations}"
    pair_dot = DOT.format(a="a.e", b="b.e")
    return (
        f"WITH {EMB_CORPUS_CTE}, "
        "ecorp AS (SELECT vec_id, emb AS embedding FROM ecorpus), "
        "cents0 AS ("
        " SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, embedding AS cvec"
        f" FROM (SELECT vec_id, embedding FROM ecorp ORDER BY vec_id LIMIT {n_clusters}))"
        f"{train}, "
        f"{_assign_cte('assigned', final_cents, source='ecorp')}, "
        "normed AS ("
        " SELECT vec_id, cell, list_transform(embedding, x -> x / n) AS e"
        f" FROM (SELECT vec_id, cell, embedding,"
        f"  sqrt({DOT.format(a='embedding', b='embedding')}) AS n FROM assigned)), "
        "dups AS ("
        " SELECT DISTINCT b.vec_id FROM normed a JOIN normed b"
        " ON a.cell = b.cell AND a.vec_id < b.vec_id"
        f" WHERE cast(round({pair_dot} * 1000000) AS bigint) >= {threshold_micro}) "
        "SELECT s.vec_id, cast(s.cell AS int) AS cluster, "
        "(d.vec_id IS NOT NULL) AS is_semantic_dup "
        "FROM assigned s LEFT JOIN dups d ON d.vec_id = s.vec_id"
    )


CURATED_CORPUS_CTE = (
    "corpus0 AS ("
    " SELECT doc_id, text, lang FROM documents"
    " UNION ALL"
    " SELECT doc_id + 100000 AS doc_id, text || ' zzz extra suffix token' AS text, lang"
    "  FROM documents WHERE doc_id % 20 = 0"
    " UNION ALL"
    " SELECT doc_id + 200000 AS doc_id, text, lang FROM documents WHERE doc_id % 25 = 0), "
    "gated AS ("
    " SELECT doc_id, text, lang, cast(len(string_split(text, ' ')) AS bigint) AS n_tokens"
    " FROM corpus0 WHERE len(string_split(text, ' ')) >= 20), "
    "keepers AS (SELECT text, min(doc_id) AS keep FROM gated GROUP BY text), "
    "corpus AS ("
    " SELECT g.doc_id, g.text, g.lang, g.n_tokens FROM gated g"
    " JOIN keepers k ON g.text = k.text AND g.doc_id = k.keep)"
)


def curation_pipeline_sql(threshold_milli: int = 800) -> str:
    """Mirror of plans.curation.curate_corpus over the rendered corpus:
    quality gate → exact keep-first → MinHash-LSH near-dup pairs →
    connected-component collapse (recursive CTE) → per-lang stats."""
    return (
        f"WITH RECURSIVE {_near_dup_pairs_ctes(threshold_milli, CURATED_CORPUS_CTE)}, "
        "edges AS ("
        " SELECT doc_a AS src, doc_b AS dst FROM pairs"
        " UNION SELECT doc_b AS src, doc_a AS dst FROM pairs), "
        "reach(node, label) AS ("
        " SELECT src AS node, src AS label FROM edges"
        " UNION"
        " SELECT e.dst AS node, r.label FROM reach r JOIN edges e ON e.src = r.node), "
        "losers AS ("
        " SELECT node FROM (SELECT node, min(label) AS cluster FROM reach GROUP BY node)"
        " WHERE node <> cluster) "
        "SELECT lang, count(*) AS n_docs, cast(sum(n_tokens) AS bigint) AS total_tokens "
        "FROM corpus WHERE doc_id NOT IN (SELECT node FROM losers) GROUP BY lang"
    )


def token_count_sql() -> str:
    return (
        "SELECT doc_id, cast(len(string_split(text, ' ')) AS bigint) AS n_tokens, "
        "cast(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \\t\\n\\r]')) AS bigint) AS n_regex_tokens "
        "FROM documents"
    )


def quality_sql() -> str:
    en_list = ", ".join(f"'{w}'" for w in LANG_STOPWORDS["en"])
    return (
        "SELECT doc_id, "
        "cast(length(text) AS bigint) AS n_chars, "
        "cast(len(string_split(text, ' ')) AS bigint) AS n_tokens, "
        "cast(CASE WHEN len(string_split(text, ' ')) > 0 THEN "
        " round(length(replace(text, ' ', '')) * 1000.0 / len(string_split(text, ' '))) ELSE 0 END AS bigint) AS mean_token_len_milli, "
        "cast(CASE WHEN len(string_split(text, ' ')) > 0 THEN "
        f" round(len(list_filter(string_split(text, ' '), w -> lower(w) IN ({en_list}))) * 1000.0 / len(string_split(text, ' '))) ELSE 0 END AS bigint) AS stopword_ratio_milli, "
        "cast(CASE WHEN length(text) > 0 THEN "
        " round((length(text) - length(regexp_replace(text, '[^A-Za-z0-9 ]', '', 'g'))) * 1000.0 / length(text)) ELSE 0 END AS bigint) AS non_alnum_milli "
        "FROM documents"
    )


def fingerprint_sql(k: int = 5) -> str:
    from .operators.textstats import (
        ROLLING_HASH_BASE,
        ROLLING_HASH_MOD,
        ROLLING_HASH_PREFIX_CHARS,
    )

    parts = " || ' ' || ".join(f"tokens[i+{o}]" if o else "tokens[i]" for o in range(k))
    rolling = (
        "CASE WHEN length(text) = 0 THEN 0 ELSE "
        "list_reduce(list_transform("
        f"generate_series(1, least(length(text), {ROLLING_HASH_PREFIX_CHARS})),"
        " i -> cast(ord(substring(text, i, 1)) AS bigint)),"
        f" (acc, v) -> (acc * {ROLLING_HASH_BASE} + v) % {ROLLING_HASH_MOD}) END"
    )
    return (
        "SELECT doc_id, md5(text) AS doc_md5, "
        f"list_min(list_transform(CASE WHEN len(tokens) >= {k}"
        f" THEN list_transform(generate_series(1, len(tokens)-{k - 1}), i -> {parts})"
        " ELSE [text] END, s -> md5(s))) AS shingle_fp, "
        f"cast({rolling} AS bigint) AS rolling_hash "
        "FROM (SELECT doc_id, text, string_split(text, ' ') AS tokens FROM documents)"
    )


def pii_redaction_sql() -> str:
    """Mirror of q_doc_signals' PII side: same planted text, same PII_PATTERNS
    constants (Java-regex ∩ RE2 subset), same replacement order."""
    from .operators.textstats import PII_PATTERNS

    redacted = "text"
    for _, pattern, placeholder in PII_PATTERNS:
        redacted = f"regexp_replace({redacted}, '{pattern}', '{placeholder}', 'g')"
    count_cols = ", ".join(
        f"cast(len(regexp_extract_all(text, '{pattern}')) AS bigint) AS n_{kind}"
        for kind, pattern, _ in PII_PATTERNS
    )
    return (
        "WITH planted AS ("
        " SELECT doc_id, text || ' contact user' || cast(doc_id AS varchar)"
        " || '@example.com via https://site' || cast(doc_id AS varchar)"
        " || '.org/p?q=1 or +1 (555) 010-' || printf('%04d', cast(doc_id % 10000 AS int))"
        " AS text FROM documents) "
        f"SELECT doc_id, {redacted} AS redacted, {count_cols} FROM planted"
    )


def repetition_sql() -> str:
    """Mirror of operators.textstats.repetition_table over the planted-spam
    corpus of q_doc_signals' repetition side."""
    return (
        "WITH corpus AS ("
        " SELECT doc_id, CASE WHEN doc_id % 5 = 0"
        "  THEN text || ' spam spam spam spam spam spam' ELSE text END AS text"
        " FROM documents), "
        "toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM corpus), "
        "bg AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(t) - 1),"
        " i -> t[i] || ' ' || t[i+1])) AS bigram FROM toks WHERE len(t) >= 2), "
        "per AS (SELECT doc_id, bigram, count(*) AS n FROM bg GROUP BY doc_id, bigram), "
        "stats AS (SELECT doc_id, sum(n) AS nb, max(n) AS tb FROM per GROUP BY doc_id) "
        "SELECT d.doc_id, cast(coalesce(s.nb, 0) AS bigint) AS n_bigrams, "
        "cast(coalesce(s.tb, 0) AS bigint) AS top_bigram_n, "
        "cast(coalesce(floor(s.tb * 1000 / s.nb), 0) AS bigint) AS rep_milli "
        "FROM corpus d LEFT JOIN stats s ON s.doc_id = d.doc_id"
    )


def langid_sql() -> str:
    hit_cols = []
    for code, stopwords in LANG_STOPWORDS.items():
        words = ", ".join(f"'{w}'" for w in stopwords)
        hit_cols.append(
            f"len(list_filter(string_split(text, ' '), w -> lower(w) IN ({words}))) AS h_{code}"
        )
    greatest = "greatest(" + ", ".join(f"h_{c}" for c in LANG_STOPWORDS) + ")"
    case = "CASE WHEN " + greatest + " = 0 THEN '' "
    for code in LANG_STOPWORDS:
        case += f"WHEN h_{code} = {greatest} THEN '{code}' "
    case += "END"
    return (
        f"SELECT doc_id, {case} AS lang_detected FROM ("
        f" SELECT doc_id, {', '.join(hit_cols)} FROM documents)"
    )


PARA_BOILER = "Subscribe to our newsletter for updates and follow us on social media."


def paragraph_corpus_sql() -> str:
    """The rendered paragraph corpus: each document split into two token
    halves joined by a newline, with a constant boilerplate paragraph
    appended for doc_id % 3 = 0 and prepended for doc_id % 7 = 0 —
    mirrored exactly by ``build_paragraph_corpus`` in __spark_entry__."""
    return (
        "pcorpus AS ("
        " SELECT doc_id,"
        "  (CASE WHEN doc_id % 7 = 0 THEN '" + PARA_BOILER + "' || chr(10) ELSE '' END)"
        "  || array_to_string(toks[1:n1], ' ') || chr(10) || array_to_string(toks[n1+1:n], ' ')"
        "  || (CASE WHEN doc_id % 3 = 0 THEN chr(10) || '" + PARA_BOILER + "' ELSE '' END)"
        "  AS text"
        " FROM (SELECT doc_id, string_split(text, ' ') AS toks,"
        "  len(string_split(text, ' ')) AS n,"
        "  cast(floor(len(string_split(text, ' ')) / 2) AS int) AS n1 FROM documents))"
    )


def paragraph_dedup_sql() -> str:
    """Mirror of operators.dedup.paragraph_dedup over the rendered
    paragraph corpus: split on newline, keep the first occurrence of each
    distinct non-empty paragraph corpus-wide (lowest (doc_id, pos)),
    reassemble in original order."""
    return (
        f"WITH {paragraph_corpus_sql()}, "
        "plist AS (SELECT doc_id, string_split(text, chr(10)) AS ps FROM pcorpus), "
        "paras AS ("
        " SELECT doc_id, u.pos AS pos, u.para AS para, n_paragraphs FROM ("
        "  SELECT doc_id,"
        "   unnest(list_transform(generate_series(1, len(ps)), i -> struct_pack(pos := i, para := ps[i]))) AS u,"
        "   len(list_filter(ps, p -> p <> '')) AS n_paragraphs"
        "  FROM plist)"
        " WHERE u.para <> ''), "
        "kept AS ("
        " SELECT doc_id, pos, para, n_paragraphs FROM ("
        "  SELECT *, row_number() OVER (PARTITION BY para ORDER BY doc_id, pos) AS rn FROM paras)"
        " WHERE rn = 1) "
        "SELECT doc_id, string_agg(para, chr(10) ORDER BY pos) AS deduped_text, "
        "cast(count(*) AS bigint) AS n_kept, "
        "cast(min(n_paragraphs) AS bigint) AS n_paragraphs "
        "FROM kept GROUP BY doc_id"
    )


def ngram_contamination_sql(bench_mod: int = 100, k: int = DEFAULT_SHINGLE_K) -> str:
    """Mirror of operators.dedup.ngram_contamination with the benchmark =
    every ``bench_mod``-th document: per-document fraction of distinct
    k-gram shingles that appear anywhere in the benchmark set."""
    return (
        f"WITH {shingle_cte('documents', k, 'csh')}, "
        f"bdocs AS (SELECT doc_id, text FROM documents WHERE doc_id % {bench_mod} = 0), "
        f"{shingle_cte('bdocs', k, 'bsh')}, "
        "bench AS (SELECT DISTINCT md5(shingle) AS bh FROM bsh) "
        "SELECT c.doc_id, cast(count(*) AS bigint) AS n_shingles, "
        "cast(sum(CASE WHEN b.bh IS NOT NULL THEN 1 ELSE 0 END) AS bigint) AS n_contaminated, "
        "cast(floor(sum(CASE WHEN b.bh IS NOT NULL THEN 1 ELSE 0 END) * 1000.0 / count(*)) AS bigint)"
        " AS contamination_milli "
        "FROM (SELECT doc_id, md5(shingle) AS ch FROM csh) c "
        "LEFT JOIN bench b ON c.ch = b.bh "
        "GROUP BY c.doc_id"
    )


INC_CORPUS_CTE = (
    "basecorp AS (SELECT doc_id, text FROM documents WHERE doc_id % 2 = 0)"
)

INC_INCREMENT_CTE = (
    "inc AS ("
    " SELECT doc_id, text FROM documents WHERE doc_id % 2 = 1"
    " UNION ALL"
    " SELECT doc_id + 10000000 AS doc_id, text || ' zzz tail token' AS text"
    "  FROM documents WHERE doc_id % 10 = 6"  # near-dups of corpus members
    " UNION ALL"
    " SELECT doc_id + 20000000 AS doc_id, text FROM documents"
    "  WHERE doc_id % 2 = 1 AND doc_id % 15 = 1"  # dups within the increment
    ")"
)


def incremental_near_dup_sql(threshold_milli: int = 800) -> str:
    """Mirror of operators.dedup.incremental_near_dup_filter over the
    rendered corpus/increment split (``build_incremental_corpus`` in
    __spark_entry__): keep increment rows that are neither verified
    near-dups of a corpus row (via cross band collisions) nor doc_b of a
    verified within-increment pair."""
    inc_pairs = (
        f"{_capped_cte('bands_ik', 'bands_i')}, "
        "icand AS ("
        " SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b"
        " FROM bands_ik a JOIN bands_ik b"
        " ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id), "
        "isizes AS (SELECT doc_id, count(*) AS n FROM sh_i GROUP BY doc_id), "
        "iinter AS ("
        " SELECT c.doc_a, c.doc_b, count(*) AS inter_size"
        " FROM icand c JOIN sh_i a ON a.doc_id = c.doc_a"
        " JOIN sh_i b ON b.doc_id = c.doc_b AND b.shingle = a.shingle"
        " GROUP BY c.doc_a, c.doc_b), "
        "self_dup AS ("
        " SELECT DISTINCT i.doc_b AS doc_id"
        " FROM iinter i JOIN isizes sa ON sa.doc_id = i.doc_a"
        " JOIN isizes sb ON sb.doc_id = i.doc_b"
        f" WHERE i.inter_size * 1000 >= {threshold_milli} * (sa.n + sb.n - i.inter_size))"
    )
    cross = (
        f"{_capped_cte('bands_ck', 'bands_c')}, "
        "xcand AS ("
        " SELECT DISTINCT i.doc_id AS doc_i, c.doc_id AS doc_c"
        " FROM bands_i i JOIN bands_ck c"
        " ON i.band = c.band AND i.band_key = c.band_key), "
        "csizes AS (SELECT doc_id, count(*) AS n FROM sh_c GROUP BY doc_id), "
        "xinter AS ("
        " SELECT x.doc_i, x.doc_c, count(*) AS inter_size"
        " FROM xcand x JOIN sh_i a ON a.doc_id = x.doc_i"
        " JOIN sh_c b ON b.doc_id = x.doc_c AND b.shingle = a.shingle"
        " GROUP BY x.doc_i, x.doc_c), "
        "cross_dup AS ("
        " SELECT DISTINCT i.doc_i AS doc_id"
        " FROM xinter i JOIN isizes sa ON sa.doc_id = i.doc_i"
        " JOIN csizes sb ON sb.doc_id = i.doc_c"
        f" WHERE i.inter_size * 1000 >= {threshold_milli} * (sa.n + sb.n - i.inter_size))"
    )
    return (
        f"WITH {INC_CORPUS_CTE}, {INC_INCREMENT_CTE}, "
        f"{shingle_cte('basecorp', name='sh_c')}, "
        f"{_sig_cte(src='sh_c', name='sig_c')}, "
        f"{_bands_cte(src='sig_c', name='bands_c')}, "
        f"{shingle_cte('inc', name='sh_i')}, "
        f"{_sig_cte(src='sh_i', name='sig_i')}, "
        f"{_bands_cte(src='sig_i', name='bands_i')}, "
        f"{inc_pairs}, {cross} "
        "SELECT doc_id, text FROM inc "
        "WHERE doc_id NOT IN (SELECT doc_id FROM cross_dup) "
        "AND doc_id NOT IN (SELECT doc_id FROM self_dup)"
    )


MESSY_URL_CTE = (
    "messy AS ("
    " SELECT doc_id,"
    "  (CASE WHEN doc_id % 3 = 0 THEN 'HTTPS://' WHEN doc_id % 3 = 1 THEN 'http://'"
    "   ELSE 'https://' END)"
    "  || 'WWW.Example' || cast(doc_id % 7 AS varchar) || '.COM'"
    "  || (CASE WHEN doc_id % 3 = 0 THEN ':443' WHEN doc_id % 3 = 1 THEN ':80' ELSE '' END)"
    "  || '/Docs/' || lang || '/' || cast(doc_id AS varchar)"
    "  || (CASE WHEN doc_id % 2 = 0 THEN '?utm_source=feed&b=2&a=1&gclid=x'"
    "      ELSE '?z=9&a=1&utm_campaign=news' END)"
    "  || (CASE WHEN doc_id % 5 = 0 THEN '#section-2' ELSE '' END) AS url"
    " FROM documents)"
)


def url_canonicalize_sql() -> str:
    """Mirror of operators.urls.canonical_url_column over the rendered
    messy URLs (``q_url_canonicalize``): fragment strip, scheme/host
    lowercase, default-port drop, tracking-param filter, bytewise param
    sort."""
    return (
        f"WITH {MESSY_URL_CTE}, "
        "p1 AS (SELECT doc_id, url, string_split(url, '#')[1] AS u0 FROM messy), "
        "p2 AS (SELECT doc_id, url, u0, instr(u0, '://') AS sp FROM p1), "
        "p3 AS (SELECT doc_id, url, lower(substr(u0, 1, sp - 1)) AS scheme,"
        " substr(u0, sp + 3) AS rest FROM p2), "
        "p4 AS (SELECT *, instr(rest, '/') AS slp FROM p3), "
        "p5 AS (SELECT doc_id, url, scheme,"
        " lower(CASE WHEN slp > 0 THEN substr(rest, 1, slp - 1) ELSE rest END) AS hostport,"
        " CASE WHEN slp > 0 THEN substr(rest, slp) ELSE '/' END AS pq FROM p4), "
        "p6 AS (SELECT doc_id, url,"
        " scheme,"
        " CASE WHEN scheme = 'http' AND hostport LIKE '%:80'"
        "   THEN substr(hostport, 1, length(hostport) - 3)"
        "  WHEN scheme = 'https' AND hostport LIKE '%:443'"
        "   THEN substr(hostport, 1, length(hostport) - 4)"
        "  ELSE hostport END AS hostport,"
        " pq, instr(pq, '?') AS qp FROM p5), "
        "p7 AS (SELECT doc_id, url, scheme, hostport,"
        " CASE WHEN qp > 0 THEN substr(pq, 1, qp - 1) ELSE pq END AS path,"
        " CASE WHEN qp > 0 THEN substr(pq, qp + 1) ELSE '' END AS query FROM p6), "
        "p8 AS (SELECT doc_id, url, scheme, hostport, path,"
        " list_sort(list_filter(string_split(query, '&'),"
        "  p -> p <> '' AND NOT starts_with(p, 'utm_') AND NOT starts_with(p, 'fbclid=')"
        "   AND NOT starts_with(p, 'gclid=') AND NOT starts_with(p, 'ref='))) AS params"
        " FROM p7) "
        "SELECT doc_id, url, scheme || '://' || hostport || path ||"
        " (CASE WHEN len(params) > 0 THEN '?' || array_to_string(params, '&') ELSE '' END)"
        " AS canonical_url FROM p8"
    )


def url_revisit_dedup_sql() -> str:
    """Mirror of ``q_url_revisit_dedup`` (operators.urls.latest_per_url).

    The canonical URL is predicted ANALYTICALLY from the render template
    (the canonicalization chain itself is mirrored rule-by-rule in
    url_canonicalize_sql — this oracle isolates the NEW logic, the
    keep-newest election). Lexicographic ``max(struct(ts, id))`` is
    mirrored engine-neutrally as max ts, then max id among max-ts rows.
    DuckDB ``//`` for the visit-group division (``/`` is float division
    — CLAUDE.md cross-engine rule)."""
    return (
        "WITH visits AS ("
        " SELECT doc_id,"
        "  'https://www.example.com/snap/' || cast(doc_id // 3 AS varchar)"
        "   || '?a=1&b=2' AS canonical_url,"
        "  1600000000000 + (doc_id // 3) * 7919"
        "   + (CASE WHEN doc_id % 3 = 0 THEN 0 ELSE 5 END) AS ts_milli"
        " FROM documents), "
        "g AS ("
        " SELECT canonical_url, count(*) AS n_visits, max(ts_milli) AS kept_ts"
        " FROM visits GROUP BY canonical_url) "
        "SELECT g.canonical_url, g.n_visits, g.kept_ts, max(v.doc_id) AS kept_id "
        "FROM g JOIN visits v"
        " ON v.canonical_url = g.canonical_url AND v.ts_milli = g.kept_ts "
        "GROUP BY g.canonical_url, g.n_visits, g.kept_ts"
    )


def gopher_quality_sql(
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len_milli: int = 3000,
    max_mean_word_len_milli: int = 10_000,
    min_alpha_word_milli: int = 800,
    min_stopword_distinct: int = 2,
    source: str = "documents",
    with_prefix: str = "WITH ",
) -> str:
    """Mirror of operators.textstats.gopher_quality_table over ``source``
    (a table or upstream CTE with (doc_id, text)); set ``with_prefix=''``
    to splice the body into an outer WITH chain."""
    from .operators.textstats import GOPHER_STOPWORDS

    stopwords = ", ".join(f"'{w}'" for w in GOPHER_STOPWORDS)
    return (
        f"{with_prefix}t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM {source}), "
        "m AS (SELECT doc_id,"
        " cast(len(toks) AS bigint) AS n_words,"
        " cast(list_sum(list_transform(toks, x -> length(x))) AS bigint) AS char_sum,"
        " cast(len(list_filter(toks, x -> regexp_matches(x, '[A-Za-z]'))) AS bigint) AS alpha_words,"
        f" cast(len(list_distinct(list_filter(list_transform(toks, x -> lower(x)), x -> x IN ({stopwords})))) AS bigint) AS stopword_distinct"
        " FROM t) "
        "SELECT doc_id, n_words,"
        " cast(CASE WHEN n_words > 0 THEN floor(char_sum * 1000 / n_words) ELSE 0 END AS bigint) AS mean_word_len_milli,"
        " cast(CASE WHEN n_words > 0 THEN floor(alpha_words * 1000 / n_words) ELSE 0 END AS bigint) AS alpha_word_milli,"
        " stopword_distinct,"
        " cast(CASE WHEN"
        f"  n_words >= {min_words} AND n_words <= {max_words}"
        f"  AND (CASE WHEN n_words > 0 THEN floor(char_sum * 1000 / n_words) ELSE 0 END) >= {min_mean_word_len_milli}"
        f"  AND (CASE WHEN n_words > 0 THEN floor(char_sum * 1000 / n_words) ELSE 0 END) <= {max_mean_word_len_milli}"
        f"  AND (CASE WHEN n_words > 0 THEN floor(alpha_words * 1000 / n_words) ELSE 0 END) >= {min_alpha_word_milli}"
        f"  AND stopword_distinct >= {min_stopword_distinct}"
        " THEN 1 ELSE 0 END AS int) AS keep "
        "FROM m"
    )


def line_dedup_sql() -> str:
    """Mirror of operators.dedup.within_doc_line_dedup_column over the
    rendered paragraph corpus (docs with doc_id % 21 == 0 carry the
    boilerplate line both prepended and appended — a true within-doc
    repeat). First-occurrence-in-order dedup via an indexed list_filter
    (DuckDB's list_distinct does NOT preserve order)."""
    return (
        f"WITH {paragraph_corpus_sql()}, "
        "l AS (SELECT doc_id, list_filter(string_split(text, chr(10)), p -> p <> '') AS lines"
        " FROM pcorpus) "
        "SELECT doc_id, array_to_string("
        " list_filter(lines, (x, i) -> list_position(lines[1:i-1], x) = 0), chr(10))"
        " AS deduped_text FROM l"
    )


SPAN_BOILER = (
    "click here to subscribe to our free weekly newsletter and never miss an update again"
)  # 15 tokens


def span_corpus_sql() -> str:
    """Corpus with planted duplicated spans: docs with doc_id % 10 = 3 get
    the fixed boilerplate sentence appended — its interior windows repeat
    across every such document (mirror: ``build_span_corpus``)."""
    return (
        "scorpus AS ("
        " SELECT doc_id,"
        f"  text || (CASE WHEN doc_id % 10 = 3 THEN ' {SPAN_BOILER}' ELSE '' END) AS text"
        " FROM documents)"
    )


def duplicate_span_sql(window_n: int = 8) -> str:
    """Mirror of operators.dedup.duplicate_span_removal over the planted
    span corpus."""
    w = int(window_n)
    return (
        f"WITH {span_corpus_sql()}, "
        "t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM scorpus), "
        "tok AS ("
        " SELECT doc_id, u.idx AS idx, u.tok AS tok, len(toks) AS n_tokens FROM ("
        "  SELECT doc_id, toks,"
        "   unnest(list_transform(generate_series(1, len(toks)),"
        "    i -> struct_pack(idx := i, tok := toks[i]))) AS u"
        "  FROM t)), "
        "win AS ("
        " SELECT doc_id, u.pos AS pos, u.wh AS wh FROM ("
        "  SELECT doc_id,"
        f"   unnest(list_transform(generate_series(1, greatest(len(toks) - {w - 1}, 0)),"
        f"    i -> struct_pack(pos := i, wh := md5(array_to_string(toks[i:i+{w - 1}], ' '))))) AS u"
        "  FROM t)), "
        "dup AS ("
        " SELECT wh, w FROM ("
        "  SELECT wh, count(*) AS c,"
        "   min(struct_pack(doc_id := doc_id, pos := pos)) AS w"
        "  FROM win GROUP BY wh) WHERE c > 1), "
        "marks AS ("
        " SELECT win.doc_id, win.pos FROM win JOIN dup ON win.wh = dup.wh"
        " WHERE NOT (win.doc_id = dup.w.doc_id AND win.pos = dup.w.pos)), "
        "covered AS ("
        f" SELECT DISTINCT doc_id, unnest(generate_series(pos, pos + {w - 1})) AS idx FROM marks), "
        "kept AS ("
        " SELECT tok.doc_id, tok.idx, tok.tok, tok.n_tokens FROM tok"
        " ANTI JOIN covered ON tok.doc_id = covered.doc_id AND tok.idx = covered.idx) "
        "SELECT doc_id, string_agg(tok, ' ' ORDER BY idx) AS deduped_text, "
        "cast(count(*) AS bigint) AS n_tokens_kept, "
        "cast(min(n_tokens) AS bigint) AS n_tokens "
        "FROM kept GROUP BY doc_id"
    )


def hot_bucket_report_sql(n_copies: int = 600, max_bucket: int = 512) -> str:
    """Mirror of operators.dedup.oversized_band_buckets over a corpus with
    a planted boilerplate family: ``n_copies`` extra copies of doc 0's
    text (ids 900000+k) collapse onto one MinHash signature, so every
    band bucket holding the family exceeds the cap and must be reported
    (the no-silent-caps contract of the LSH hot-bucket guard)."""
    flood = (
        "flood AS ("
        " SELECT doc_id, text FROM documents"
        " UNION ALL"
        f" SELECT 900000 + g.i AS doc_id, d.text AS text"
        f" FROM (SELECT text FROM documents WHERE doc_id = 0) d,"
        f"  (SELECT unnest(generate_series(1, {n_copies})) AS i) g)"
    )
    return (
        f"WITH {flood}, "
        f"{shingle_cte('flood')}, {_sig_cte()}, {_bands_cte()} "
        "SELECT band, band_key, cast(count(*) AS bigint) AS bucket_n "
        f"FROM bands GROUP BY band, band_key HAVING count(*) > {max_bucket}"
    )


def pack_sequences_sql(budget_tokens: int = 2048) -> str:
    """Mirror of operators.packing.pack_sequences: the naive global
    cumsum (fine at oracle scale) must equal the operator's two-phase
    prefix sum exactly."""
    return (
        "WITH t AS ("
        " SELECT doc_id, cast(len(string_split(text, ' ')) AS bigint) AS n_tokens"
        " FROM documents), "
        "p AS ("
        " SELECT doc_id, n_tokens,"
        "  coalesce(sum(n_tokens) OVER (ORDER BY doc_id"
        "   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start"
        " FROM t) "
        "SELECT doc_id, n_tokens, "
        f"cast(floor(start / {budget_tokens}) AS bigint) AS seq_id, "
        f"cast(start % {budget_tokens} AS bigint) AS offset_in_seq, "
        "cast(CASE WHEN n_tokens > 0 AND"
        f" floor((start + n_tokens - 1) / {budget_tokens}) > floor(start / {budget_tokens})"
        " THEN 1 ELSE 0 END AS int) AS spans_boundary "
        "FROM p"
    )


def chunk_documents_sql(chunk_tokens: int = 64, stride_tokens: int = 48) -> str:
    """Mirror of operators.packing.chunk_documents."""
    c, st = int(chunk_tokens), int(stride_tokens)
    return (
        "WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents), "
        "m AS (SELECT doc_id, toks, len(toks) AS n,"
        f" greatest(cast(ceil((len(toks) - {c}) / {st}.0) AS int) + 1, 1) AS n_chunks FROM t) "
        "SELECT doc_id, u.chunk_id AS chunk_id, u.token_start AS token_start,"
        " u.chunk_text AS chunk_text, u.n_chunk_tokens AS n_chunk_tokens FROM ("
        " SELECT doc_id, unnest(list_transform(generate_series(0, n_chunks - 1),"
        "  k -> struct_pack("
        "   chunk_id := cast(k AS int),"
        f"   token_start := cast(k * {st} AS bigint),"
        f"   chunk_text := array_to_string(toks[k * {st} + 1 : k * {st} + {c}], ' '),"
        f"   n_chunk_tokens := cast(least(n - k * {st}, {c}) AS bigint)))) AS u"
        " FROM m)"
    )


def token_rarity_sql() -> str:
    """Mirror of operators.textstats.token_rarity_table."""
    return (
        "WITH occ AS ("
        " SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents), "
        "vocab AS (SELECT tok, count(*) AS freq FROM occ GROUP BY tok) "
        "SELECT occ.doc_id, cast(count(*) AS bigint) AS n_tokens, "
        "cast(min(freq) AS bigint) AS min_token_freq, "
        "cast(floor(sum(freq) * 1000 / count(*)) AS bigint) AS mean_token_freq_milli "
        "FROM occ JOIN vocab ON occ.tok = vocab.tok GROUP BY occ.doc_id"
    )


def web_curation_sql(
    min_words: int = 40, threshold_milli: int = 800, budget_tokens: int = 512
) -> str:
    """Mirror of plans.web_curation.curate_web_corpus over the rendered
    paragraph corpus: line dedup → Gopher gate → exact keep-first →
    near-dup CC collapse (recursive CTE) → packing summary. The gopher
    CTE nests its own WITH (scoped); ``_near_dup_pairs_ctes`` receives
    the whole upstream chain as its corpus definition."""
    upstream = (
        f"{paragraph_corpus_sql()}, "
        # MATERIALIZED: each CTE here is referenced several times and sits
        # on a deep chain — DuckDB would otherwise inline (recompute) the
        # whole upstream per reference, multiplicatively (measured 318s ->
        # ~5s for the full mirror)
        "lns AS MATERIALIZED (SELECT doc_id, list_filter(string_split(text, chr(10)), p -> p <> '')"
        " AS lines FROM pcorpus), "
        "ld AS MATERIALIZED (SELECT doc_id, array_to_string("
        " list_filter(lines, (x, i) -> list_position(lines[1:i-1], x) = 0), chr(10))"
        " AS text FROM lns), "
        f"gq AS MATERIALIZED ({gopher_quality_sql(min_words=min_words, source='ld')}), "
        "gated AS MATERIALIZED (SELECT ld.doc_id, ld.text FROM ld JOIN gq ON ld.doc_id = gq.doc_id"
        " WHERE gq.keep = 1), "
        "keepers AS (SELECT text, min(doc_id) AS keep FROM gated GROUP BY text), "
        "corpus AS MATERIALIZED (SELECT g.doc_id, g.text FROM gated g"
        " JOIN keepers k ON g.text = k.text AND g.doc_id = k.keep)"
    )
    return (
        f"WITH RECURSIVE {_near_dup_pairs_ctes(threshold_milli, upstream)}, "
        "edges AS ("
        " SELECT doc_a AS src, doc_b AS dst FROM pairs"
        " UNION SELECT doc_b AS src, doc_a AS dst FROM pairs), "
        "reach(node, label) AS ("
        " SELECT src AS node, src AS label FROM edges"
        " UNION"
        " SELECT e.dst AS node, r.label FROM reach r JOIN edges e ON e.src = r.node), "
        "losers AS ("
        " SELECT node FROM (SELECT node, min(label) AS cluster FROM reach GROUP BY node)"
        " WHERE node <> cluster), "
        "final AS MATERIALIZED (SELECT doc_id, text FROM corpus"
        " WHERE doc_id NOT IN (SELECT node FROM losers)), "
        "ft AS MATERIALIZED (SELECT doc_id, cast(len(string_split(text, ' ')) AS bigint) AS n FROM final), "
        "pk AS (SELECT doc_id, n, coalesce(sum(n) OVER (ORDER BY doc_id"
        " ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start FROM ft) "
        "SELECT"
        " (SELECT count(*) FROM pcorpus) AS n_input,"
        " (SELECT count(*) FROM gated) AS n_gated,"
        " (SELECT count(*) FROM corpus) AS n_exact,"
        " (SELECT count(*) FROM final) AS n_final,"
        " (SELECT cast(sum(n) AS bigint) FROM ft) AS total_tokens,"
        " (SELECT cast(sum(doc_id) AS bigint) FROM final) AS sum_kept_ids,"
        f" (SELECT cast(max(cast(floor(start / {budget_tokens}) AS bigint)) + 1 AS bigint)"
        "  FROM pk) AS n_sequences"
    )


def gopher_multilingual_sql(
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len_milli: int = 2000,
    max_mean_word_len_milli: int = 12_000,
    min_letter_word_milli: int = 800,
    min_stopword_distinct: int = 2,
) -> str:
    """Mirror of operators.textstats.gopher_quality_multilingual_table
    (profiles from the shared LANG_STOPWORDS constant; languages without
    a profile exempt from the stopword rule, stopword_distinct = -1)."""
    branches = " ".join(
        "WHEN lang = '{code}' THEN cast(len(list_distinct(list_filter(lt, x -> x IN ({words})))) AS bigint)".format(
            code=code, words=", ".join(f"'{w}'" for w in words)
        )
        for code, words in LANG_STOPWORDS.items()
    )
    mean_expr = "CASE WHEN n_words > 0 THEN floor(char_sum * 1000 / n_words) ELSE 0 END"
    letter_expr = "CASE WHEN n_words > 0 THEN floor(letter_words * 1000 / n_words) ELSE 0 END"
    return (
        "WITH t AS (SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents), "
        "m AS (SELECT doc_id, lang,"
        " cast(len(toks) AS bigint) AS n_words,"
        " cast(list_sum(list_transform(toks, x -> length(x))) AS bigint) AS char_sum,"
        " cast(len(list_filter(toks, x -> regexp_matches(x, '\\p{L}'))) AS bigint) AS letter_words,"
        f" CASE {branches} ELSE NULL END AS sd"
        " FROM (SELECT doc_id, lang, toks, list_transform(toks, x -> lower(x)) AS lt FROM t)) "
        "SELECT doc_id, lang, n_words,"
        f" cast({mean_expr} AS bigint) AS mean_word_len_milli,"
        f" cast({letter_expr} AS bigint) AS letter_word_milli,"
        " cast(coalesce(sd, -1) AS bigint) AS stopword_distinct,"
        " cast(CASE WHEN"
        f"  n_words >= {min_words} AND n_words <= {max_words}"
        f"  AND ({mean_expr}) >= {min_mean_word_len_milli}"
        f"  AND ({mean_expr}) <= {max_mean_word_len_milli}"
        f"  AND ({letter_expr}) >= {min_letter_word_milli}"
        f"  AND (sd IS NULL OR sd >= {min_stopword_distinct})"
        " THEN 1 ELSE 0 END AS int) AS keep "
        "FROM m"
    )


def bigram_predictability_sql() -> str:
    """Mirror of operators.textstats.bigram_predictability_table."""
    return (
        "WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents), "
        "occ AS ("
        " SELECT doc_id, u.a AS a, u.b AS b FROM ("
        "  SELECT doc_id, unnest(list_transform(generate_series(1, len(toks) - 1),"
        "   i -> struct_pack(a := toks[i], b := toks[i+1]))) AS u"
        "  FROM t WHERE len(toks) >= 2)), "
        "uni AS (SELECT a, count(*) AS ua FROM (SELECT unnest(toks) AS a FROM t) GROUP BY a), "
        "big AS (SELECT a, b, count(*) AS ab FROM occ GROUP BY a, b), "
        "scored AS ("
        " SELECT occ.doc_id, cast(floor(big.ab * 1000 / uni.ua) AS bigint) AS pred_milli"
        " FROM occ JOIN big ON occ.a = big.a AND occ.b = big.b"
        " JOIN uni ON occ.a = uni.a) "
        "SELECT doc_id, cast(count(*) AS bigint) AS n_bigrams, "
        "cast(floor(sum(pred_milli) / count(*)) AS bigint) AS mean_pred_milli, "
        "cast(min(pred_milli) AS bigint) AS min_pred_milli "
        "FROM scored GROUP BY doc_id"
    )


def trigram_predictability_sql() -> str:
    """Mirror of operators.textstats.trigram_predictability_table (the
    interpolated trigram LM score, fixed milli weights). CTEs referenced
    more than once are MATERIALIZED — DuckDB inlines (recomputes) plain
    CTEs per reference."""
    from .operators.textstats import TRIGRAM_INTERP_WEIGHTS

    w3, w2, w1 = TRIGRAM_INTERP_WEIGHTS
    return (
        "WITH t AS MATERIALIZED ("
        " SELECT doc_id, string_split(text, ' ') AS toks FROM documents), "
        "occ AS MATERIALIZED ("
        " SELECT doc_id, u.a AS a, u.b AS b, u.c AS c FROM ("
        "  SELECT doc_id, unnest(list_transform(generate_series(1, len(toks) - 2),"
        "   i -> struct_pack(a := toks[i], b := toks[i+1], c := toks[i+2]))) AS u"
        "  FROM t WHERE len(toks) >= 3)), "
        "uni AS MATERIALIZED ("
        " SELECT tok, count(*) AS u FROM (SELECT unnest(toks) AS tok FROM t) GROUP BY tok), "
        "tot AS (SELECT cast(sum(u) AS bigint) AS corpus_tokens FROM uni), "
        "big AS MATERIALIZED ("
        " SELECT x, y, count(*) AS xy FROM ("
        "  SELECT u.x AS x, u.y AS y FROM ("
        "   SELECT unnest(list_transform(generate_series(1, len(toks) - 1),"
        "    i -> struct_pack(x := toks[i], y := toks[i+1]))) AS u"
        "   FROM t WHERE len(toks) >= 2)) GROUP BY x, y), "
        "tri AS (SELECT a, b, c, count(*) AS abc FROM occ GROUP BY a, b, c), "
        "score AS ("
        " SELECT tri.a, tri.b, tri.c, cast(floor(("
        f"  {w3} * floor(tri.abc * 1000 / ab.xy)"
        f"  + {w2} * floor(bc.xy * 1000 / ub.u)"
        f"  + {w1} * floor(uc.u * 1000 / tot.corpus_tokens)"
        " ) / 1000) AS bigint) AS interp_milli"
        " FROM tri"
        " JOIN big ab ON ab.x = tri.a AND ab.y = tri.b"
        " JOIN big bc ON bc.x = tri.b AND bc.y = tri.c"
        " JOIN uni ub ON ub.tok = tri.b"
        " JOIN uni uc ON uc.tok = tri.c"
        " CROSS JOIN tot), "
        "scored AS ("
        " SELECT occ.doc_id, s.interp_milli FROM occ"
        " JOIN score s ON occ.a = s.a AND occ.b = s.b AND occ.c = s.c) "
        "SELECT doc_id, cast(count(*) AS bigint) AS n_trigrams, "
        "cast(floor(sum(interp_milli) / count(*)) AS bigint) AS mean_interp_milli, "
        "cast(min(interp_milli) AS bigint) AS min_interp_milli "
        "FROM scored GROUP BY doc_id"
    )


def text_quality_profile_sql() -> str:
    """Mirror of q_text_quality_profile: the three per-doc profiling
    surfaces (quality signals, regex token count, language ID) joined 1:1
    on doc_id."""
    return (
        f"SELECT q.*, t.n_regex_tokens, l.lang_detected "
        f"FROM ({quality_sql()}) q "
        f"JOIN ({token_count_sql()}) t ON q.doc_id = t.doc_id "
        f"JOIN ({langid_sql()}) l ON q.doc_id = l.doc_id"
    )


def doc_signals_sql() -> str:
    """Mirror of q_doc_signals: PII redaction + repetition signal joined
    1:1 on doc_id (each over its own planted corpus, as before)."""
    return (
        "SELECT p.doc_id, p.redacted, p.n_url, p.n_email, p.n_phone, "
        "r.n_bigrams, r.top_bigram_n, r.rep_milli "
        f"FROM ({pii_redaction_sql()}) p "
        f"JOIN ({repetition_sql()}) r ON p.doc_id = r.doc_id"
    )


def media_features_sql(n_rows: int = 96, seed: int = 42) -> str:
    """ANALYTIC mirror of q_media_features: the synthetic media payloads
    (operators.multimodal.synthetic_media_df) are pure integer functions of
    (seed, media_id), and the codecs are exact roundtrips — so the decoded
    pixel/sample/frame histograms can be recomputed in SQL from the
    generation formulas alone (generate_series, no binary columns).
    Histogram: numpy np.histogram(range=(0,256), bins=16) == value // 16.
    The normalized micro values replicate numpy's arithmetic ORDER:
    round((cnt/size) * 1e6), never round(cnt*1e6/size) (CLAUDE.md
    cross-engine double rule). Audio: int16 chirp -> //2 -> (s+32768)>>8
    byte domain. Every 15th video row is the planted undecodable blob:
    NULL features, error_flag 1."""
    return f"""
WITH ids AS (SELECT unnest(generate_series(0, {n_rows} - 1)) AS i),
imgs AS (
  SELECT i, 16 + (i % 6) * 4 AS h, 24 + (i % 8) * 4 AS w
  FROM ids WHERE i % 3 = 0),
img_vals AS (
  SELECT i, unnest(flatten(flatten(
    list_transform(generate_series(0, h - 1), y ->
      list_transform(generate_series(0, w - 1), x ->
        list_transform([0, 1, 2], c ->
          ({seed} + i * 31 + y * 7 + x * 3 + c * 11) % 256)))))) AS v
  FROM imgs),
aud_vals AS (
  SELECT i, unnest(list_transform(generate_series(0, 2047), t ->
    cast(floor((cast(floor((((t * (31 + (i % 13)) + {seed}) % 65536) - 32768) / 2.0)
      AS bigint) + 32768) / 256.0) AS bigint))) AS v
  FROM ids WHERE i % 3 = 1),
vids AS (
  SELECT i, 16 + (i % 6) * 4 AS h, 24 + (i % 8) * 4 AS w, 4 + (i % 4) AS nf
  FROM ids WHERE i % 3 = 2 AND i % 15 <> 14),
vid_vals AS (
  SELECT i, unnest(flatten(flatten(flatten(
    list_transform(generate_series(0, nf - 1), f ->
      list_transform(generate_series(0, h - 1), y ->
        list_transform(generate_series(0, w - 1), x ->
          list_transform([0, 1, 2], c ->
            ({seed} + i * 31 + y * 7 + x * 3 + c * 11 + f * 17) % 256)))))))) AS v
  FROM vids),
all_vals AS (
  SELECT * FROM img_vals UNION ALL SELECT * FROM aud_vals UNION ALL SELECT * FROM vid_vals),
hist AS (
  SELECT i, count(*) AS n,
    count(*) FILTER (WHERE cast(floor(v / 16.0) AS bigint) = 0) AS c0,
    count(*) FILTER (WHERE cast(floor(v / 16.0) AS bigint) = 6) AS c6
  FROM all_vals GROUP BY i)
SELECT ids.i AS media_id,
  (['image', 'audio', 'video'])[cast(ids.i % 3 AS int) + 1] AS kind,
  cast(round((cast(h.c0 AS double) / cast(h.n AS double)) * 1000000.0) AS bigint) AS f0_micro,
  cast(round((cast(h.c6 AS double) / cast(h.n AS double)) * 1000000.0) AS bigint) AS f6_micro,
  CASE WHEN h.i IS NOT NULL THEN 16 END AS n_bins,
  CASE WHEN h.i IS NULL THEN 1 ELSE 0 END AS error_flag
FROM ids LEFT JOIN hist h ON h.i = ids.i
"""


def remove_frequent_lines_sql(min_doc_count: int = 50) -> str:
    """Mirror of operators.dedup.remove_frequent_lines over the rendered
    paragraph corpus: any line in >= min_doc_count distinct docs is
    removed from EVERY document (boilerplate rule — unlike paragraph
    dedup, the first occurrence goes too)."""
    return (
        f"WITH {paragraph_corpus_sql()}, "
        "plist AS (SELECT doc_id, string_split(text, chr(10)) AS ps FROM pcorpus), "
        "lines AS ("
        " SELECT doc_id, u.pos AS pos, u.line AS line, n_lines FROM ("
        "  SELECT doc_id,"
        "   unnest(list_transform(generate_series(1, len(ps)), i -> struct_pack(pos := i, line := ps[i]))) AS u,"
        "   len(list_filter(ps, p -> p <> '')) AS n_lines"
        "  FROM plist)"
        " WHERE u.line <> ''), "
        "frequent AS ("
        " SELECT line FROM (SELECT line, count(DISTINCT doc_id) AS doc_count FROM lines GROUP BY line)"
        f" WHERE doc_count >= {min_doc_count}), "
        "kept AS (SELECT * FROM lines WHERE line NOT IN (SELECT line FROM frequent)) "
        "SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS cleaned_text, "
        "cast(count(*) AS bigint) AS n_kept, "
        "cast(min(n_lines) AS bigint) AS n_lines "
        "FROM kept GROUP BY doc_id"
    )


def corpus_subsample_sql(
    rates_milli: dict | None = None,
    default_rate_milli: int = 100,
    cap: int = 40,
    seed: int = 42,
) -> str:
    """Mirror of the q_corpus_subsample composition: stratified
    deterministic hash sample per language, then a per-source quota cap.
    The sampling coordinate is a lexicographic compare of an md5 hex
    prefix — byte-identical across engines, no numeric conversion."""
    from .operators.sampling import sample_threshold_hex

    rates = rates_milli or {"en": 800, "fr": 500, "de": 250}
    case = "CASE "
    for value, rate in sorted(rates.items()):
        case += f"WHEN lang = '{value}' THEN '{sample_threshold_hex(rate)}' "
    case += f"ELSE '{sample_threshold_hex(default_rate_milli)}' END"
    return (
        "WITH sampled AS ("
        " SELECT doc_id, lang, source FROM documents"
        f" WHERE substring(md5('{seed}:' || cast(doc_id AS varchar)), 1, 8) < {case}), "
        "capped AS ("
        " SELECT *, row_number() OVER (PARTITION BY source"
        "   ORDER BY substring(md5('0:' || cast(doc_id AS varchar)), 1, 8), doc_id) AS rn"
        " FROM sampled) "
        f"SELECT doc_id, lang, source FROM capped WHERE rn <= {cap}"
    )


def shard_summary_sql(n_shards: int = 16, seed: int = 42) -> str:
    """Mirror of q_shard_summary: deterministic md5-derived shard + order
    key; DuckDB's ('0x'||hex)::bigint equals Spark's conv(hex,16,10)."""
    return (
        "WITH sharded AS ("
        " SELECT doc_id,"
        f" ('0x' || substring(md5('{seed}:' || cast(doc_id AS varchar)), 1, 8))::BIGINT AS order_key"
        " FROM documents) "
        f"SELECT cast(order_key % {n_shards} AS int) AS shard, "
        "cast(count(*) AS bigint) AS n_docs, "
        "cast(sum(doc_id) AS bigint) AS sum_ids, "
        "cast(min(order_key) AS bigint) AS min_order "
        "FROM sharded GROUP BY 1"
    )


def grouped_quantiles_sql() -> str:
    """Mirror of textstats.grouped_exact_quantiles(lang, n_chars, (50,90)):
    histogram + cumulative pick, quantile_disc semantics, pure integers."""
    return (
        "WITH hist AS ("
        " SELECT lang, n_chars AS v, count(*) AS cnt FROM documents GROUP BY lang, n_chars), "
        "cum AS ("
        " SELECT lang, v, sum(cnt) OVER (PARTITION BY lang ORDER BY v) AS cum,"
        " sum(cnt) OVER (PARTITION BY lang) AS n FROM hist) "
        "SELECT lang, cast(max(n) AS bigint) AS n_rows, "
        "cast(min(CASE WHEN cum >= (n * 50 + 99) // 100 THEN v END) AS bigint) AS p50, "
        "cast(min(CASE WHEN cum >= (n * 90 + 99) // 100 THEN v END) AS bigint) AS p90 "
        "FROM cum GROUP BY lang"
    )


def duplicate_ngram_sql(n: int = 5) -> str:
    """Mirror of textstats.duplicate_ngram_stats over the planted-spam
    corpus of q_duplicate_ngrams (spam tails repeat their own 5-grams)."""
    return (
        "WITH corpus AS ("
        " SELECT doc_id, CASE WHEN doc_id % 5 = 0"
        "  THEN text || ' spam spam spam spam spam spam spam spam spam spam' ELSE text END AS text"
        " FROM documents), "
        "g AS ("
        " SELECT doc_id, CASE WHEN len(toks) >= "
        f"{n} THEN list_transform(generate_series(1, len(toks) - {n - 1}),"
        f" i -> array_to_string(toks[i:i+{n - 1}], ' '))"
        " ELSE [] END AS grams"
        " FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM corpus)) "
        "SELECT doc_id, cast(len(grams) AS bigint) AS n_grams, "
        "cast(len(list_distinct(grams)) AS bigint) AS n_distinct, "
        "cast(CASE WHEN len(grams) > 0"
        " THEN floor((len(grams) - len(list_distinct(grams))) * 1000 / len(grams))"
        " ELSE 0 END AS bigint) AS dup_milli "
        "FROM g"
    )


def lm_quality_buckets_sql() -> str:
    """Mirror of textstats.lm_quality_buckets: bigram scores + per-lang
    exact terciles (histogram method) + CASE bucketing."""
    return (
        f"WITH scored AS ({bigram_predictability_sql()}), "
        "joined AS ("
        " SELECT s.doc_id, d.lang, s.mean_pred_milli"
        " FROM scored s JOIN documents d ON s.doc_id = d.doc_id), "
        "hist AS ("
        " SELECT lang, mean_pred_milli AS v, count(*) AS cnt FROM joined GROUP BY lang, v), "
        "cum AS ("
        " SELECT lang, v, sum(cnt) OVER (PARTITION BY lang ORDER BY v) AS cum,"
        " sum(cnt) OVER (PARTITION BY lang) AS n FROM hist), "
        "thresholds AS ("
        " SELECT lang, "
        " min(CASE WHEN cum >= (n * 33 + 99) // 100 THEN v END) AS p33, "
        " min(CASE WHEN cum >= (n * 67 + 99) // 100 THEN v END) AS p67 "
        " FROM cum GROUP BY lang) "
        "SELECT j.doc_id, j.lang, j.mean_pred_milli, "
        "CASE WHEN j.mean_pred_milli <= t.p33 THEN 'tail' "
        " WHEN j.mean_pred_milli <= t.p67 THEN 'middle' ELSE 'head' END AS bucket "
        "FROM joined j JOIN thresholds t ON j.lang = t.lang"
    )


def _pq_sub_expr(j: int, sub: int, source_col: str = "embedding") -> str:
    """DuckDB 1-based inclusive slice of subspace j."""
    return f"{source_col}[{j * sub + 1}:{(j + 1) * sub}]"


def _pq_l2_assign_cte(name: str, source: str, cents: str, sub: int) -> str:
    """L2 code assignment: argmin ||v-c||^2 as argmax (2*dot - ||c||^2),
    replicating similarity.ivf_cell_udf(metric='l2') exactly — the dot is
    the left-fold flat sum, the norm is the left-fold self-dot, and the
    combination is ((2.0 * dot) - norm) with (score DESC, cid) tie-break."""
    dot = _flat_dot("e.sv", "c.cvec", sub)
    norm = _flat_dot("c.cvec", "c.cvec", sub)
    return (
        f"{name} AS ("
        " SELECT vec_id, sv, cell FROM ("
        "  SELECT e.vec_id, e.sv, c.cid AS cell,"
        f"   row_number() OVER (PARTITION BY e.vec_id"
        f"    ORDER BY ((2.0 * ({dot})) - ({norm})) DESC, c.cid) AS rn"
        f"  FROM {source} e, {cents} c) WHERE rn = 1)"
    )


def _pq_kmeans_step(j: int, step: int, sub: int) -> str:
    """One L2 Lloyd iteration for subspace ``j`` (micro-quantized integer
    sums; empty cells keep their previous centroid) — the per-subspace
    mirror of train_centroids(metric='l2')."""
    sums = ", ".join(
        f"sum(cast(round(cast(sv[{d + 1}] AS double) * 1000000) AS bigint)) AS s{d}"
        for d in range(sub)
    )
    mean_list = ", ".join(f"(cast(m.s{d} AS double) / m.n) / 1000000.0" for d in range(sub))
    return (
        f"{_pq_l2_assign_cte(f'pa{j}_{step - 1}', f'sub{j}', f'pc{j}_{step - 1}', sub)}, "
        f"pm{j}_{step} AS (SELECT cell, count(*) AS n, {sums} FROM pa{j}_{step - 1} GROUP BY cell), "
        f"pc{j}_{step} AS ("
        " SELECT c.cid,"
        f"  CASE WHEN m.cell IS NULL THEN c.cvec ELSE [{mean_list}] END AS cvec"
        f" FROM pc{j}_{step - 1} c LEFT JOIN pm{j}_{step} m ON m.cell = c.cid)"
    )


def _pq_subspace_parts(
    query_vec_id: int, n_subspaces: int, n_codes: int, train_iterations: int, dim: int
):
    """Per-subspace PQ CTEs shared by ``pq_topk_sql`` and
    ``ivf_pq_search_sql``: subspace slices, L2 Lloyd training, code
    assignment, and the query's ADC lookup table. Returns
    ``(parts, approx_sum, joins)`` where ``approx_sum`` is the strict
    left-fold `l0.v + l1.v + ...` ADC chain."""
    sub = dim // n_subspaces
    parts = []
    approx_terms = []
    joins = []
    for j in range(n_subspaces):
        parts.append(
            f"sub{j} AS (SELECT vec_id, {_pq_sub_expr(j, sub)} AS sv FROM embeddings)"
        )
        parts.append(
            f"pc{j}_0 AS ("
            " SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid,"
            "  list_transform(sv, x -> CAST(x AS DOUBLE)) AS cvec"
            f" FROM (SELECT vec_id, sv FROM sub{j} ORDER BY vec_id LIMIT {n_codes}))"
        )
        for step in range(1, train_iterations + 1):
            parts.append(_pq_kmeans_step(j, step, sub))
        final = f"pc{j}_{train_iterations}"
        parts.append(_pq_l2_assign_cte(f"code{j}", f"sub{j}", final, sub))
        lut_dot = _flat_dot("q.qv", "c.cvec", sub)
        parts.append(
            f"lut{j} AS (SELECT c.cid, ({lut_dot}) AS v FROM {final} c, "
            f"(SELECT {_pq_sub_expr(j, sub)} AS qv FROM embeddings"
            f" WHERE vec_id = {query_vec_id}) q)"
        )
        approx_terms.append(f"l{j}.v")
        joins.append(
            f"JOIN code{j} c{j} ON c{j}.vec_id = e.vec_id "
            f"JOIN lut{j} l{j} ON l{j}.cid = c{j}.cell"
        )
    return parts, " + ".join(approx_terms), joins


def pq_topk_sql(
    query_vec_id: int = 0,
    k: int = 10,
    n_subspaces: int = 2,
    n_codes: int = 8,
    train_iterations: int = 1,
    refine: int = 4,
    dim: int = 64,
) -> str:
    """Fully-relational mirror of the PQ pipeline (train_pq_codebooks →
    encode_pq → pq_topk): per-subspace L2 k-means (lowest-id seeds, Lloyd
    with micro-quantized sums), code assignment, the query's ADC lookup
    table as a per-subspace dot against the trained centroids, candidate
    selection by summed LUT values (raw doubles, identical left-fold
    order), exact-cosine refine of the top k*refine."""
    parts, approx_sum, joins = _pq_subspace_parts(
        query_vec_id, n_subspaces, n_codes, train_iterations, dim
    )
    return (
        "WITH "
        + ", ".join(parts)
        + ", approx AS ("
        f" SELECT e.vec_id, ({approx_sum}) AS score FROM embeddings e {' '.join(joins)}), "
        "cand AS ("
        " SELECT a.vec_id, e.embedding FROM ("
        "  SELECT vec_id, row_number() OVER (ORDER BY score DESC, vec_id) AS rn FROM approx)"
        f" a JOIN embeddings e ON e.vec_id = a.vec_id WHERE a.rn <= {k * refine}), "
        f"q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = {query_vec_id}), "
        f"scored AS (SELECT vec_id, {_cos_micro('embedding', 'qv')} AS cos_micro FROM cand, q) "
        "SELECT vec_id, cos_micro, cast(rank AS int) AS rank FROM ("
        " SELECT *, row_number() OVER (ORDER BY cos_micro DESC, vec_id) AS rank FROM scored) "
        f"WHERE rank <= {k}"
    )


def ivf_pq_search_sql(
    query_vec_id: int = 0,
    k: int = 10,
    n_centroids: int = 16,
    n_probe: int = 4,
    n_subspaces: int = 2,
    n_codes: int = 8,
    ivf_train_iterations: int = 2,
    pq_train_iterations: int = 1,
    refine: int = 4,
    dim: int = 64,
) -> str:
    """Fully-relational mirror of the IVF-PQ lake index
    (similarity.build_ivfpq_index → search_ivfpq_index): the IVF half is
    ivf_topk_sql's codebook/assignment/probe CTEs verbatim; the PQ half is
    pq_topk_sql's per-subspace CTEs verbatim; the ADC candidate stage
    additionally restricts to the probed cells — exactly the partition
    pruning the Spark side gets from the hive layout. Same left-fold
    arithmetic throughout → identical codebooks, cells, probes, codes,
    candidates and ranks."""
    probe_dot = DOT.format(a="q.qv", b="c.cvec")
    ivf_train = "".join(
        ", " + _kmeans_step_ctes(s, dim) for s in range(1, ivf_train_iterations + 1)
    )
    final_cents = f"cents{ivf_train_iterations}"
    pq_parts, approx_sum, pq_joins = _pq_subspace_parts(
        query_vec_id, n_subspaces, n_codes, pq_train_iterations, dim
    )
    return (
        "WITH cents0 AS ("
        " SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid,"
        "  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cvec"
        f" FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT {n_centroids}))"
        f"{ivf_train}, "
        f"{_assign_cte('assigned', final_cents)}, "
        f"q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = {query_vec_id}), "
        "probes AS ("
        " SELECT cid FROM ("
        f"  SELECT c.cid, row_number() OVER (ORDER BY {probe_dot} DESC, c.cid) AS pr"
        f"  FROM {final_cents} c, q) WHERE pr <= {n_probe}), "
        + ", ".join(pq_parts)
        + ", approx AS ("
        f" SELECT e.vec_id, ({approx_sum}) AS score"
        " FROM assigned e JOIN probes p ON e.cell = p.cid "
        + " ".join(pq_joins)
        + "), "
        "cand AS ("
        " SELECT a.vec_id, e.embedding FROM ("
        "  SELECT vec_id, row_number() OVER (ORDER BY score DESC, vec_id) AS rn FROM approx)"
        f" a JOIN embeddings e ON e.vec_id = a.vec_id WHERE a.rn <= {k * refine}), "
        f"scored AS (SELECT vec_id, {_cos_micro('embedding', 'qv')} AS cos_micro FROM cand, q) "
        "SELECT vec_id, cos_micro, cast(rank AS int) AS rank FROM ("
        " SELECT *, row_number() OVER (ORDER BY cos_micro DESC, vec_id) AS rank FROM scored) "
        f"WHERE rank <= {k}"
    )


def dsir_importance_sql(
    target_lang: str = "en",
    n_buckets: int = 4096,
    scale: int = 1_000_000,
    seed: int = 7,
) -> str:
    """Mirror of operators.selection.dsir_importance_table with
    ``target_pred = lang == target_lang``: hashed unigram+bigram buckets
    (same md5-prefix coordinate as the shard oracle), one-pass raw/target
    bucket counts, smoothed integer ratio weights, per-document rollup.
    Pure bigint ``//`` division on both sides (the CLAUDE.md rule)."""
    return (
        "WITH t AS ("
        f" SELECT doc_id, CASE WHEN lang = '{target_lang}' THEN 1 ELSE 0 END AS tgt,"
        " string_split(text, ' ') AS toks FROM documents), "
        "occ AS ("
        " SELECT doc_id, tgt,"
        f" cast(('0x' || substr(md5('{seed}:' || ng), 1, 8))::bigint % {n_buckets} AS int) AS bucket"
        " FROM ("
        "  SELECT doc_id, tgt, unnest(list_concat(toks,"
        "   CASE WHEN len(toks) >= 2 THEN list_transform(generate_series(1, len(toks) - 1),"
        "    i -> toks[i] || ' ' || toks[i+1]) ELSE [] END)) AS ng FROM t)), "
        "bs AS (SELECT bucket, count(*) AS cnt_all, sum(tgt) AS cnt_target"
        " FROM occ GROUP BY bucket), "
        "w AS (SELECT bucket,"
        f" cast((cnt_target + 1) * {scale} // (cnt_all + 1) AS bigint) AS weight_micro FROM bs) "
        "SELECT occ.doc_id, cast(count(*) AS bigint) AS n_ngrams, "
        "cast(sum(weight_micro) AS bigint) AS score_micro_sum, "
        "cast(sum(weight_micro) // count(*) AS bigint) AS importance_micro "
        "FROM occ JOIN w USING (bucket) GROUP BY occ.doc_id"
    )


def budget_head_sql(budget_tokens: int = 10_000) -> str:
    """Mirror of the q_budget_head composition: stopword-ratio quality
    score (the quality_sql fragment) ordered DESC with doc_id tiebreak,
    naive global ordered cumsum — value-identical to the operator's
    nested two-phase prefix sum."""
    en_list = ", ".join(f"'{w}'" for w in LANG_STOPWORDS["en"])
    return (
        "WITH q AS ("
        " SELECT doc_id,"
        " cast(CASE WHEN len(string_split(text, ' ')) > 0 THEN"
        f"  round(len(list_filter(string_split(text, ' '), w -> lower(w) IN ({en_list})))"
        "   * 1000.0 / len(string_split(text, ' '))) ELSE 0 END AS bigint) AS score,"
        " cast(len(string_split(text, ' ')) AS bigint) AS n_tokens FROM documents), "
        "c AS ("
        " SELECT *, coalesce(sum(n_tokens) OVER ("
        "  ORDER BY score DESC, doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)"
        "  AS cum_tokens_before FROM q) "
        "SELECT doc_id, score, n_tokens, cast(cum_tokens_before AS bigint) AS cum_tokens_before, "
        f"cast(CASE WHEN cum_tokens_before < {budget_tokens} THEN 1 ELSE 0 END AS int) AS selected "
        "FROM c"
    )


def warc_records_sql(n_shards: int = 16) -> str:
    """ANALYTIC mirror of q_warc_records: the parser's output predicted
    from generation arithmetic alone (never by parsing). Record byte
    length = 48 fixed header chars + decimal widths of id and
    content-length + payload bytes + 4 trailer bytes; offsets are per-
    shard prefix sums in id order. DuckDB ``strlen`` is byte length
    (Spark ``octet_length``) — CJK payloads round-trip."""
    return (
        "WITH r AS ("
        f" SELECT doc_id, cast(doc_id % {n_shards} AS int) AS shard, md5(text) AS pm,"
        " 48 + length(cast(doc_id AS varchar)) + length(cast(strlen(text) AS varchar))"
        "  + strlen(text) + 4 AS rec_len FROM documents), "
        "o AS ("
        " SELECT *, coalesce(sum(rec_len) OVER ("
        "  PARTITION BY shard ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)"
        "  AS off FROM r) "
        'SELECT shard, cast(doc_id AS bigint) AS rec_id, cast(off AS bigint) AS "offset", '
        'cast(rec_len AS bigint) AS "length", pm AS payload_md5, \'\' AS error FROM o'
    )


def domain_mixture_sql(budget_tokens: int = 10_000) -> str:
    """Mirror of operators.selection.domain_token_allocation over the
    documents table grouped by ``source``: exact integer water-filling of
    a token budget across domains. Same rank/prefix/threshold arithmetic
    as the operator (ascending (n_dom, domain) order; j = largest rank
    whose whole-corpus prefix plus level-at-n_dom_j fill fits the budget;
    remainder tokens go to the smallest capped domains). Pure bigint
    ``//`` and ``%`` on both sides (the CLAUDE.md rule)."""
    b = int(budget_tokens)
    return (
        "WITH dom AS ("
        " SELECT source AS domain, cast(count(*) AS bigint) AS n_docs,"
        " cast(coalesce(sum(len(string_split(text, ' '))), 0) AS bigint) AS n_dom"
        " FROM documents GROUP BY source), "
        "ranked AS ("
        " SELECT *, cast(row_number() OVER (ORDER BY n_dom, domain) AS bigint) AS rn,"
        " sum(n_dom) OVER (ORDER BY n_dom, domain"
        "  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prefix FROM dom), "
        "tot AS (SELECT cast(count(*) AS bigint) AS m FROM ranked), "
        "jr AS (SELECT cast(coalesce(max(rn), 0) AS bigint) AS j"
        f" FROM ranked, tot WHERE prefix + (m - rn) * n_dom <= {b}), "
        "par AS ("
        " SELECT j, cast(coalesce(max(CASE WHEN rn = j THEN prefix END), 0) AS bigint)"
        "  AS prefix_j, m - j AS k FROM ranked, jr, tot GROUP BY j, m), "
        "lv AS ("
        f" SELECT j, CASE WHEN k > 0 THEN ({b} - prefix_j) // k ELSE 0 END AS level,"
        f" CASE WHEN k > 0 THEN ({b} - prefix_j) % k ELSE 0 END AS rem FROM par), "
        "alloc AS ("
        " SELECT r.*, CASE WHEN rn <= j THEN n_dom"
        "  ELSE level + CASE WHEN rn - j <= rem THEN 1 ELSE 0 END END AS a"
        " FROM ranked r, lv) "
        "SELECT domain, n_docs, n_dom AS n_domain_tokens, cast(a AS bigint) AS alloc_tokens, "
        "cast(CASE WHEN a < n_dom THEN 1 ELSE 0 END AS int) AS capped, "
        "cast(CASE WHEN n_dom > 0 THEN (a * 1000) // n_dom ELSE 0 END AS bigint) AS rate_milli "
        "FROM alloc"
    )


def cluster_representatives_sql(threshold_milli: int = 800) -> str:
    """Mirror of operators.dedup.cluster_representatives over the dedup
    corpus with score = len(text): transitive near-dup closure, then the
    highest-score / lowest-id member of each component wins. The window
    form here (row_number over the cluster) and the operator's
    max(struct(score, -id)) aggregation elect the same winner by
    construction — max score, ties to the smallest doc_id."""
    return (
        f"WITH RECURSIVE {_near_dup_pairs_ctes(threshold_milli)}, "
        "edges AS ("
        " SELECT doc_a AS src, doc_b AS dst FROM pairs"
        " UNION SELECT doc_b AS src, doc_a AS dst FROM pairs), "
        "reach(node, label) AS ("
        " SELECT src AS node, src AS label FROM edges"
        " UNION"
        " SELECT e.dst AS node, r.label FROM reach r JOIN edges e ON e.src = r.node), "
        "cc AS (SELECT node AS doc_id, min(label) AS cluster_id FROM reach GROUP BY node), "
        "mem AS ("
        " SELECT c.doc_id, coalesce(cc.cluster_id, c.doc_id) AS cluster_id,"
        "  cast(len(c.text) AS bigint) AS score"
        " FROM corpus c LEFT JOIN cc ON cc.doc_id = c.doc_id), "
        "rk AS ("
        " SELECT *, row_number() OVER (PARTITION BY cluster_id ORDER BY score DESC, doc_id) AS rn,"
        "  count(*) OVER (PARTITION BY cluster_id) AS csize FROM mem) "
        "SELECT m.doc_id, m.cluster_id, cast(w.csize AS bigint) AS cluster_size, "
        "cast(w.doc_id AS bigint) AS rep_id, "
        "cast(CASE WHEN m.doc_id = w.doc_id THEN 1 ELSE 0 END AS int) AS is_rep "
        "FROM mem m JOIN (SELECT * FROM rk WHERE rn = 1) w ON w.cluster_id = m.cluster_id"
    )


def domain_pagerank_sql(
    n_iterations: int = 3,
    damping_milli: int = 850,
    scale: int = 1_000_000,
    fanout: int = 10,
) -> str:
    """Mirror of operators.graph.domain_pagerank over the derived document
    domain graph (src = source, dst = 'src' || (doc_id*7+3) % fanout):
    identical integer micro arithmetic per iteration — DuckDB ``//`` and
    Spark ``div`` both truncate on the all-positive operands here, and
    integer contribution sums are order-independent, so the chain is exact
    at any iteration count."""
    d = int(damping_milli)
    ctes = [
        "e AS (SELECT DISTINCT source AS src,"
        f" 'src' || cast((doc_id * 7 + 3) % {int(fanout)} AS varchar) AS dst FROM documents)",
        "nodes AS (SELECT src AS domain FROM e UNION SELECT dst FROM e)",
        "od AS (SELECT src AS domain, cast(count(*) AS bigint) AS out_degree FROM e GROUP BY src)",
        "idg AS (SELECT dst AS domain, cast(count(*) AS bigint) AS in_degree FROM e GROUP BY dst)",
        "par AS (SELECT cast(count(*) AS bigint) AS n,"
        f" ({1000 - d} * cast({int(scale)} AS bigint)) // (1000 * count(*)) AS base_micro,"
        f" cast({int(scale)} AS bigint) // count(*) AS pr0 FROM nodes)",
        "p0 AS (SELECT domain, pr0 AS pr FROM nodes CROSS JOIN par)",
    ]
    for t in range(1, int(n_iterations) + 1):
        ctes.append(
            f"c{t} AS (SELECT e.dst AS domain,"
            f" sum((p.pr * {d}) // (1000 * od.out_degree)) AS m"
            f" FROM p{t - 1} p JOIN od ON od.domain = p.domain"
            " JOIN e ON e.src = p.domain GROUP BY e.dst)"
        )
        ctes.append(
            f"p{t} AS (SELECT nodes.domain,"
            f" cast(par.base_micro + coalesce(c{t}.m, 0) AS bigint) AS pr"
            f" FROM nodes CROSS JOIN par LEFT JOIN c{t} ON c{t}.domain = nodes.domain)"
        )
    last = f"p{int(n_iterations)}"
    return (
        "WITH " + ", ".join(ctes) + " "
        f"SELECT p.domain, coalesce(od.out_degree, cast(0 AS bigint)) AS out_degree, "
        "coalesce(idg.in_degree, cast(0 AS bigint)) AS in_degree, p.pr AS pr_micro, "
        'cast(row_number() OVER (ORDER BY p.pr DESC, p.domain) AS bigint) AS "rank" '
        f"FROM {last} p LEFT JOIN od ON od.domain = p.domain "
        "LEFT JOIN idg ON idg.domain = p.domain"
    )


def _split_case(id_expr: str, splits_milli=None, seed: int = 7) -> str:
    """The split-assignment CASE for ``id_expr``, generated from the SAME
    (seed, order, weights) constants operators.splits.split_column uses:
    md5-prefix bucket in [0,1000) through cumulative per-mille ranges."""
    from .operators.splits import DEFAULT_SPLITS_MILLI, _validate_splits

    pairs = _validate_splits(splits_milli or DEFAULT_SPLITS_MILLI)
    bucket = (
        f"(('0x' || substring(md5('{seed}:' || cast({id_expr} AS varchar)), 1, 8))::BIGINT"
        " % 1000)"
    )
    whens, hi = [], 0
    for name, milli in pairs[:-1]:
        hi += milli
        whens.append(f"WHEN {bucket} < {hi} THEN '{name}'")
    return "CASE " + " ".join(whens) + f" ELSE '{pairs[-1][0]}' END"


def split_leakage_sql(threshold_milli: int = 800, seed: int = 7) -> str:
    """Mirror of operators.splits.split_leakage_report over the dedup
    corpus: near-dup pairs (same LSH/verify CTE chain as near_dup_pairs),
    both endpoints' splits computed inline (pure-function assignment —
    exactly like the Spark side, no split table), symmetrize, aggregate at
    id grain, left-join the corpus so zero-link docs report zeros."""
    sp_doc = _split_case("s.doc_id", seed=seed)
    sp_partner = _split_case("s.partner", seed=seed)
    sp_corpus = _split_case("c.doc_id", seed=seed)
    return (
        f"WITH {_near_dup_pairs_ctes(threshold_milli)}, "
        "sym AS ("
        " SELECT doc_a AS doc_id, doc_b AS partner FROM pairs"
        " UNION ALL SELECT doc_b AS doc_id, doc_a AS partner FROM pairs), "
        "links AS ("
        f" SELECT doc_id,"
        f" sum(CASE WHEN {sp_partner} <> {sp_doc} THEN 1 ELSE 0 END) AS n_cross,"
        f" sum(CASE WHEN {sp_partner} IN ('valid', 'test')"
        f"  AND {sp_partner} <> {sp_doc} THEN 1 ELSE 0 END) AS n_eval"
        " FROM sym s GROUP BY doc_id) "
        f"SELECT c.doc_id, {sp_corpus} AS split, "
        "cast(coalesce(l.n_cross, 0) AS bigint) AS n_cross_links, "
        "cast(coalesce(l.n_eval, 0) AS bigint) AS n_eval_links, "
        f"cast(CASE WHEN {sp_corpus} = 'train' AND coalesce(l.n_eval, 0) > 0"
        " THEN 1 ELSE 0 END AS int) AS contaminated "
        "FROM corpus c LEFT JOIN links l ON l.doc_id = c.doc_id"
    )


def _bpe_cte_chain(n_merges: int, source: str) -> list:
    """Shared CTE chain for the BPE trainer mirrors: w0 (distinct-word
    vocabulary) then per-round pair counts (p), top pair (t), rewritten
    vocabulary (w) and merge row (m). ``w{n_merges}`` is the vocabulary
    AFTER all merges — exactly what the encode mirror scores against."""
    ctes = [
        "w0 AS MATERIALIZED ("
        " SELECT word, cast(count(*) AS bigint) AS wf,"
        " regexp_replace(word, '(.)', '|\\1|', 'g') AS seq"
        " FROM (SELECT lower(unnest(regexp_extract_all(text, '[A-Za-z0-9'']+'))) AS word"
        f" FROM {source}) GROUP BY word)"
    ]
    for t in range(1, int(n_merges) + 1):
        ctes.append(
            f"p{t} AS ("
            " SELECT p.a AS a, p.b AS b, cast(sum(wf) AS bigint) AS cnt FROM ("
            "  SELECT wf, unnest(list_transform(generate_series(1, len(s) - 1),"
            "   i -> struct_pack(a := s[i], b := s[i+1]))) AS p"
            "  FROM (SELECT wf, regexp_extract_all(seq, '\\|([^|]+)\\|', 1) AS s"
            f"   FROM w{t - 1}) WHERE len(s) >= 2"
            " ) GROUP BY p.a, p.b)"
        )
        ctes.append(f"t{t} AS (SELECT a, b, cnt FROM p{t} ORDER BY cnt DESC, a, b LIMIT 1)")
        ctes.append(
            f"w{t} AS ("
            " SELECT w.word, w.wf, CASE WHEN t.a IS NULL THEN w.seq"
            "  ELSE replace(w.seq, '|' || t.a || '||' || t.b || '|',"
            "   '|' || t.a || t.b || '|') END AS seq"
            f" FROM w{t - 1} w LEFT JOIN t{t} t ON TRUE)"
        )
        ctes.append(
            f"m{t} AS (SELECT cast({t} AS bigint) AS iteration, a AS merge_left,"
            f" b AS merge_right, a || b AS merged, cnt AS pair_count FROM t{t})"
        )
    return ctes


def bpe_merges_sql(n_merges: int = 6, source: str = "documents") -> str:
    """Mirror of operators.tokenizer.learn_bpe_merges: unrolled merge
    rounds over the distinct-word vocabulary, bar-delimited symbol
    sequences, and replace()-based greedy merge application — DuckDB's
    replace is left-to-right non-overlapping exactly like Spark's, and
    pair counts are integer sums, so every round is engine-exact. Top-pair
    election here is ORDER BY cnt DESC, a, b LIMIT 1 (== the operator's
    min(struct(-cnt, a, b)) by construction)."""
    ctes = _bpe_cte_chain(int(n_merges), source)
    union = " UNION ALL ".join(f"SELECT * FROM m{t}" for t in range(1, int(n_merges) + 1))
    return "WITH " + ", ".join(ctes) + " " + union


def bpe_encode_sql(n_merges: int = 6, source: str = "documents") -> str:
    """Mirror of operators.tokenizer.apply_bpe_merges composed after
    learn_bpe_merges: the trainer chain's final vocabulary ``w{n}`` IS the
    applied encoding (apply replays the trainer's own replace per round),
    so the encode mirror just counts post-merge symbols per word and rolls
    up per document over the word occurrences. compression_milli uses
    integer ``//`` (positive operands: floor == Spark div)."""
    n = int(n_merges)
    ctes = _bpe_cte_chain(n, source)
    ctes.append(
        "docw AS (SELECT doc_id,"
        " lower(unnest(regexp_extract_all(text, '[A-Za-z0-9'']+'))) AS word"
        f" FROM {source})"
    )
    ctes.append(
        "nt AS (SELECT word,"
        " cast(len(regexp_extract_all(seq, '\\|([^|]+)\\|', 1)) AS bigint) AS n_tokens_word"
        f" FROM w{n})"
    )
    return (
        "WITH " + ", ".join(ctes) + " "
        "SELECT doc_id, cast(count(*) AS bigint) AS n_words, "
        "cast(sum(n_tokens_word) AS bigint) AS n_bpe_tokens, "
        "cast(sum(length(word)) AS bigint) AS n_chars, "
        "cast(sum(n_tokens_word) * 1000 // sum(length(word)) AS bigint)"
        " AS compression_milli "
        "FROM docw JOIN nt USING (word) GROUP BY doc_id"
    )


def countmin_heavy_hitters_sql(
    depth: int = 4,
    width: int = 256,
    seed: int = 11,
    top_n: int = 25,
    source: str = "documents",
) -> str:
    """Mirror of operators.sketches.countmin_table + countmin_estimates:
    the depth*width counter grid replayed with the same md5-prefix bucket
    coordinate ('0x'||hex == Spark conv(hex,16,10)), then the top-``top_n``
    tokens by exact count (cnt DESC, token tiebreak — Spark TakeOrdered)
    point-estimated as min over grid rows with absent cells = 0. All
    counters are bigint; no float anywhere."""
    return (
        "WITH toks AS ("
        " SELECT t AS token FROM ("
        f"  SELECT unnest(string_split(text, ' ')) AS t FROM {source}) WHERE t <> ''), "
        f"rws AS (SELECT unnest(range({depth})) AS row), "
        "occ AS ("
        " SELECT row, cast(('0x' || substr("
        f"  md5('{seed}:' || cast(row AS varchar) || ':' || token), 1, 8))::bigint"
        f"  % {width} AS int) AS bucket"
        " FROM toks CROSS JOIN rws), "
        "grid AS (SELECT row, bucket, cast(count(*) AS bigint) AS cnt"
        " FROM occ GROUP BY row, bucket), "
        "exact AS (SELECT token, cast(count(*) AS bigint) AS exact_cnt"
        " FROM toks GROUP BY token), "
        f"top AS (SELECT * FROM exact ORDER BY exact_cnt DESC, token LIMIT {top_n}), "
        "probe AS ("
        " SELECT token, exact_cnt, row, cast(('0x' || substr("
        f"  md5('{seed}:' || cast(row AS varchar) || ':' || token), 1, 8))::bigint"
        f"  % {width} AS int) AS bucket"
        " FROM top CROSS JOIN rws), "
        "est AS ("
        " SELECT token, exact_cnt,"
        " cast(min(coalesce(grid.cnt, 0)) AS bigint) AS cm_estimate"
        " FROM probe LEFT JOIN grid USING (row, bucket) GROUP BY token, exact_cnt) "
        "SELECT token, exact_cnt, cm_estimate, "
        "cast(cm_estimate - exact_cnt AS bigint) AS overcount FROM est"
    )


def hll_distinct_sql(
    log2m: int = 6,
    seed: int = 13,
    alpha_milli: int = 709,
    rmax: int = 33,
    source: str = "documents",
) -> str:
    """Mirror of operators.sketches.hll_distinct_estimate over document
    TEXTS (the exact-dup-rate cardinality question — distinct-doc counts
    sit in raw HLL's good range, unlike the tiny synthetic token vocab):
    bucket = first-4-hex window mod m, rho = leading-zero rank of the
    hex-5..12 window computed by the SAME string arithmetic (regexp strip
    + 16-way CASE — no engine bit intrinsics), registers = max(rho), and
    the raw estimate as one bigint ``//`` division (positive operands:
    floor == Spark div's truncation)."""
    m = 1 << log2m
    numerator = alpha_milli * m * m * (1 << rmax)
    rho = (
        "CASE WHEN length(stripped) = 0 THEN " + str(rmax) + " ELSE"
        " (8 - length(stripped)) * 4 +"
        " CASE WHEN substr(stripped, 1, 1) = '1' THEN 3"
        "  WHEN substr(stripped, 1, 1) IN ('2', '3') THEN 2"
        "  WHEN substr(stripped, 1, 1) IN ('4', '5', '6', '7') THEN 1"
        "  ELSE 0 END + 1 END"
    )
    return (
        f"WITH vals AS (SELECT text AS v FROM {source}), "
        "h AS ("
        f" SELECT cast(('0x' || substr(md5('{seed}:' || v), 1, 4))::bigint % {m} AS int)"
        "  AS bucket,"
        f" regexp_replace(substr(md5('{seed}:' || v), 5, 8), '^0+', '') AS stripped"
        " FROM vals), "
        f"r AS (SELECT bucket, cast({rho} AS int) AS rho FROM h), "
        "regs AS (SELECT bucket, max(rho) AS register FROM r GROUP BY bucket), "
        "a AS ("
        " SELECT cast(count(*) AS bigint) AS registers_set,"
        f" cast(coalesce(sum(1::BIGINT << ({rmax} - register)), 0) AS bigint)"
        "  AS sum_present FROM regs), "
        "e AS (SELECT cast(count(DISTINCT v) AS bigint) AS exact_distinct FROM vals), "
        "s AS ("
        f" SELECT cast({m} AS bigint) AS m, registers_set,"
        f" cast(sum_present + ({m} - registers_set) * (1::BIGINT << {rmax}) AS bigint)"
        "  AS sum_pow, exact_distinct"
        " FROM a CROSS JOIN e), "
        "f AS ("
        " SELECT m, registers_set, sum_pow,"
        f" cast({numerator} // (1000 * sum_pow) AS bigint) AS hll_estimate, exact_distinct"
        " FROM s) "
        "SELECT m, registers_set, sum_pow, hll_estimate, exact_distinct, "
        "cast(abs(hll_estimate - exact_distinct) * 1000 // exact_distinct AS bigint)"
        " AS err_milli FROM f"
    )


def classifier_inference_sql(
    n_buckets: int = 4096,
    scale: int = 1_000_000,
    seed: int = 17,
    source: str = "documents",
) -> str:
    """Mirror of operators.classifier train + classify over the documents
    table with ``lang`` as the label: hashed unigram+bigram occurrences
    (the dsir_importance_sql feature CTE with the classifier seed), dense
    (bucket x label) add-one affinity weights as pure bigint ``//``, per-
    (doc, label) score sums, and the argmax as a (score DESC, label)
    row_number — identical to the operator's min(struct(-score, label))
    by construction. Positive operands: ``//`` floor == Spark div."""
    return (
        "WITH t AS ("
        f" SELECT doc_id, lang, string_split(text, ' ') AS toks FROM {source}), "
        "occ AS ("
        " SELECT doc_id, lang,"
        f" cast(('0x' || substr(md5('{seed}:' || ng), 1, 8))::bigint % {n_buckets} AS int)"
        "  AS bucket"
        " FROM ("
        "  SELECT doc_id, lang, unnest(list_concat(toks,"
        "   CASE WHEN len(toks) >= 2 THEN list_transform(generate_series(1, len(toks) - 1),"
        "    i -> toks[i] || ' ' || toks[i+1]) ELSE [] END)) AS ng FROM t)), "
        "bt AS (SELECT bucket, cast(count(*) AS bigint) AS cnt_all FROM occ GROUP BY bucket), "
        f"lbl AS (SELECT DISTINCT lang AS label FROM {source}), "
        "nl AS (SELECT cast(count(*) AS bigint) AS n_labels FROM lbl), "
        "pc AS (SELECT bucket, lang AS label, cast(count(*) AS bigint) AS cnt"
        " FROM occ GROUP BY bucket, lang), "
        "w AS ("
        " SELECT bt.bucket, lbl.label,"
        f" cast((coalesce(pc.cnt, 0) + 1) * {scale} // (bt.cnt_all + nl.n_labels) AS bigint)"
        "  AS weight_micro"
        " FROM bt CROSS JOIN lbl CROSS JOIN nl"
        " LEFT JOIN pc ON bt.bucket = pc.bucket AND lbl.label = pc.label), "
        "ds AS ("
        " SELECT occ.doc_id, w.label,"
        " cast(sum(w.weight_micro) AS bigint) AS score_micro,"
        " cast(count(*) AS bigint) AS n_ngrams"
        " FROM occ JOIN w ON occ.bucket = w.bucket GROUP BY occ.doc_id, w.label), "
        "best AS ("
        " SELECT doc_id, label, score_micro, n_ngrams,"
        " row_number() OVER (PARTITION BY doc_id ORDER BY score_micro DESC, label) AS rn"
        " FROM ds) "
        "SELECT d.doc_id, d.lang, b.label AS predicted_lang, "
        "b.score_micro AS best_score_micro, b.n_ngrams, "
        "cast(CASE WHEN d.lang = b.label THEN 1 ELSE 0 END AS int) AS correct "
        f"FROM best b JOIN {source} d USING (doc_id) WHERE b.rn = 1"
    )


def importance_resample_sql(
    target_lang: str = "en",
    n_buckets: int = 4096,
    scale: int = 1_000_000,
    seed: int = 7,
    sample_seed: int = 23,
) -> str:
    """Mirror of operators.selection.importance_resample: the
    dsir_importance_sql query nested as a CTE, plus the row-local
    Bernoulli-by-weight keep — the same pure-bigint comparison
    ``key * scale < importance_micro * 2^32`` on the '0x'-parsed md5
    sampling coordinate."""
    inner = dsir_importance_sql(target_lang, n_buckets, scale, seed)
    return (
        f"WITH imp AS ({inner}), "
        "k AS (SELECT *, ('0x' || substr("
        f"md5('{sample_seed}:' || cast(doc_id AS varchar)), 1, 8))::bigint AS sample_key"
        " FROM imp) "
        "SELECT doc_id, n_ngrams, score_micro_sum, importance_micro, sample_key, "
        f"cast(CASE WHEN sample_key * {scale} < importance_micro * {1 << 32}"
        " THEN 1 ELSE 0 END AS int) AS kept FROM k"
    )


def page_metadata_sql() -> str:
    """Mirror of operators.metadata.page_metadata over the RENDERED pages
    corpus (sources.render.documents_as_pages) — fully ANALYTIC: the
    render template is a pure function of (doc_id, text), so every
    metadata column is predicted from generation parameters (title =
    'doc '||doc_id, the template's fixed 5 anchors and footer, lead
    article = the HTML-escaped text) while the Spark side PARSES the
    actual payload bytes. Same golden-cross-check discipline as
    media_features: the two sides only agree if the byte-level
    extraction is right."""
    return (
        "SELECT doc_id, cast(1 AS int) AS is_html, "
        "'doc ' || cast(doc_id AS varchar) AS title, "
        "cast(5 AS int) AS n_anchors, cast(1 AS int) AS has_footer, "
        "cast(length(replace(replace(replace(text, '&', '&amp;'), "
        "'<', '&lt;'), '>', '&gt;')) AS int) AS article_chars "
        "FROM documents"
    )


def bm25_topk_sql(
    query_terms=("spark", "merge", "join"),
    k: int = 15,
    k1_centi: int = 120,
    b_centi: int = 75,
    scale: int = 1_000_000,
    source: str = "documents",
) -> str:
    """Mirror of operators.retrieval.bm25_topk: whitespace postings with
    doc length riding the explode, tf/df over the query terms only, the
    log-free rational idf_milli, centi-integer tf saturation, and the
    per-doc term-score sum — every division a positive-operand ``//``
    (== Spark ``div``), ranked (score DESC, doc_id)."""
    terms = sorted(set(query_terms))
    in_list = ", ".join("'" + t.replace("'", "''") + "'" for t in terms)
    return (
        "WITH docs AS ("
        f" SELECT doc_id, string_split(text, ' ') AS toks FROM {source}), "
        "tot AS ("
        " SELECT cast(count(*) AS bigint) AS n_docs,"
        " cast(sum(len(toks)) AS bigint) AS total_len FROM docs), "
        "post AS ("
        " SELECT doc_id, cast(len(toks) AS bigint) AS dl, unnest(toks) AS token"
        " FROM docs), "
        "tf AS ("
        " SELECT doc_id, dl, token, cast(count(*) AS bigint) AS tf"
        f" FROM post WHERE token IN ({in_list}) GROUP BY doc_id, dl, token), "
        "dft AS ("
        " SELECT token, cast(count(*) AS bigint) AS df_t FROM tf GROUP BY token), "
        "st AS ("
        " SELECT tf.doc_id,"
        " (100 * tot.total_len) // tot.n_docs AS avgdl_centi,"
        " ((2 * tot.n_docs - 2 * dft.df_t + 1) * 1000) // (2 * dft.df_t + 1)"
        "  AS idf_milli,"
        " tf.tf, tf.dl"
        " FROM tf JOIN dft USING (token) CROSS JOIN tot), "
        "ts AS ("
        " SELECT doc_id, idf_milli,"
        f" (tf * {100 + k1_centi} * 100 * avgdl_centi * {scale})"
        f"  // (10000 * avgdl_centi * tf"
        f"   + {k1_centi} * ({100 - b_centi} * avgdl_centi + {100 * b_centi} * dl))"
        "  AS tf_sat_micro"
        " FROM st), "
        "scored AS ("
        " SELECT doc_id,"
        " cast(sum((idf_milli * tf_sat_micro) // 1000) AS bigint) AS score_micro,"
        " cast(count(*) AS bigint) AS n_terms_matched"
        " FROM ts GROUP BY doc_id) "
        "SELECT doc_id, score_micro, n_terms_matched, cast(rank AS int) AS rank FROM ("
        " SELECT *, row_number() OVER (ORDER BY score_micro DESC, doc_id) AS rank"
        " FROM scored) "
        f"WHERE rank <= {k}"
    )


def phrase_search_sql(
    phrase=("the", "spark"),
    source: str = "documents",
) -> str:
    """Mirror of operators.retrieval.phrase_search: zipped positional
    unnest, each phrase slot i shifted to its anchor (pos - i), m-way
    equi-join on (doc_id, anchor), per-doc match count + first anchor.
    Overlapping matches count individually on both engines."""
    words = list(phrase)
    post = (
        "post AS ("
        " SELECT doc_id, unnest(toks) AS token,"
        " unnest(generate_series(1, len(toks))) AS pos"
        f" FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM {source}))"
    )
    slots = []
    for i, w in enumerate(words):
        esc = w.replace("'", "''")
        slots.append(
            f"s{i} AS (SELECT doc_id, pos - {i} AS anchor FROM post"
            f" WHERE token = '{esc}')"
        )
    joins = " ".join(
        f"JOIN s{i} USING (doc_id, anchor)" for i in range(1, len(words))
    )
    return (
        f"WITH {post}, " + ", ".join(slots) + " "
        "SELECT doc_id, cast(count(*) AS bigint) AS n_matches, "
        "cast(min(anchor) AS int) AS first_pos "
        f"FROM s0 {joins} GROUP BY doc_id"
    )


def corpus_overlap_sql(
    n_hashes: int = DEFAULT_N_HASHES,
    shingle_k: int = DEFAULT_SHINGLE_K,
    source: str = "documents",
) -> str:
    """Mirror of operators.corpus_diff.corpus_overlap_report over corpus
    A = documents and the derived corpus B = (even-id docs verbatim) ∪
    (mod-5 docs with a drift suffix): per-slot corpus mins of
    md5('<slot>#'||shingle) (duplicates don't move a min — no DISTINCT on
    the sketch side), slot-match count, and the exact shingle-set Jaccard
    honesty columns, every division a positive-operand ``//``."""
    parts = " || ' ' || ".join(
        f"tokens[i+{o}]" if o else "tokens[i]" for o in range(shingle_k)
    )
    def sh(src: str, name: str) -> str:
        return (
            f"{name} AS ("
            f" SELECT unnest(CASE WHEN len(tokens) >= {shingle_k}"
            f"  THEN list_transform(generate_series(1, len(tokens)-{shingle_k - 1}),"
            f"   i -> {parts})"
            f"  ELSE [text] END) AS shingle"
            f" FROM (SELECT text, string_split(text, ' ') AS tokens FROM {src}))"
        )
    return (
        f"WITH a_docs AS (SELECT text FROM {source}), "
        "b_docs AS ("
        f" SELECT text FROM {source} WHERE doc_id % 2 = 0"
        " UNION ALL"
        f" SELECT text || ' novel drift token' AS text FROM {source}"
        "  WHERE doc_id % 5 = 0), "
        + sh("a_docs", "a_sh") + ", "
        + sh("b_docs", "b_sh") + ", "
        f"slots AS (SELECT unnest(generate_series(0, {n_hashes - 1})) AS slot), "
        "a_min AS ("
        " SELECT slot, min(md5(cast(slot AS varchar) || '#' || shingle)) AS min_a"
        " FROM a_sh CROSS JOIN slots GROUP BY slot), "
        "b_min AS ("
        " SELECT slot, min(md5(cast(slot AS varchar) || '#' || shingle)) AS min_b"
        " FROM b_sh CROSS JOIN slots GROUP BY slot), "
        "est AS ("
        " SELECT cast(count(*) AS bigint) AS n_hashes,"
        " cast(sum(CASE WHEN min_a = min_b THEN 1 ELSE 0 END) AS bigint)"
        "  AS matching_slots"
        " FROM a_min JOIN b_min USING (slot)), "
        "da AS (SELECT DISTINCT shingle FROM a_sh), "
        "db AS (SELECT DISTINCT shingle FROM b_sh), "
        "cnt AS ("
        " SELECT (SELECT cast(count(*) AS bigint) FROM da) AS n_shingles_a,"
        " (SELECT cast(count(*) AS bigint) FROM db) AS n_shingles_b,"
        " (SELECT cast(count(*) AS bigint) FROM da JOIN db USING (shingle))"
        "  AS n_shared) "
        "SELECT n_hashes, matching_slots, "
        "cast((1000 * matching_slots) // n_hashes AS bigint) AS est_jaccard_milli, "
        "n_shingles_a, n_shingles_b, n_shared, "
        "cast(CASE WHEN n_shingles_a + n_shingles_b - n_shared > 0"
        " THEN (1000 * n_shared) // (n_shingles_a + n_shingles_b - n_shared)"
        " ELSE 0 END AS bigint)"
        " AS exact_jaccard_milli, "
        "cast(abs((1000 * matching_slots) // n_hashes"
        " - CASE WHEN n_shingles_a + n_shingles_b - n_shared > 0"
        " THEN (1000 * n_shared) // (n_shingles_a + n_shingles_b - n_shared)"
        " ELSE 0 END) AS bigint)"
        " AS err_milli "
        "FROM est CROSS JOIN cnt"
    )


NORMALIZE_EXPR = (
    "trim(regexp_replace(regexp_replace(regexp_replace(lower(text),"
    " '[0-9]', '0', 'g'), '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))"
)


def normalized_dedup_sql(source: str = "documents") -> str:
    """Mirror of operators.normalize.normalized_dedup_groups over the
    planted-variant corpus (uppercase mirrors %10, punct tails %15,
    digit rewrites %20 — the 42/99 pair folds to the same '0'-form):
    the same lower → digit-fold → ASCII-strip → space-collapse chain
    (explicit character classes only — Java regex == RE2 on these),
    grouped on md5 of the normalized form."""
    return (
        "WITH corpus AS ("
        f" SELECT doc_id, text FROM {source}"
        " UNION ALL SELECT doc_id + 300000 AS doc_id, upper(text) AS text"
        f"  FROM {source} WHERE doc_id % 10 = 0"
        " UNION ALL SELECT doc_id + 400000 AS doc_id, text || ' !!!' AS text"
        f"  FROM {source} WHERE doc_id % 15 = 0"
        " UNION ALL SELECT doc_id + 500000 AS doc_id, text || ' 42' AS text"
        f"  FROM {source} WHERE doc_id % 20 = 0"
        " UNION ALL SELECT doc_id + 600000 AS doc_id, text || ' 99' AS text"
        f"  FROM {source} WHERE doc_id % 20 = 0), "
        f"n AS (SELECT doc_id, text, {NORMALIZE_EXPR} AS norm FROM corpus) "
        "SELECT min(doc_id) AS doc_id, cast(count(*) AS bigint) AS n_copies, "
        "cast(count(DISTINCT text) AS bigint) AS n_distinct_raw "
        "FROM n GROUP BY md5(norm) HAVING count(*) > 1"
    )


def winnow_fingerprints_sql(
    k: int = 3, w: int = 4, source: str = "documents"
) -> str:
    """Mirror of operators.textstats.winnow_fingerprint_table: token
    k-gram md5s (shingles_column's <k whole-text fallback included),
    candidates encoded ``md5 || '|' || lpad(10^7 - pos, 8, '0')``,
    per-window list min (DuckDB slice is inclusive: enc[i:i+w-1] is w
    elements, clamped at the end exactly like Spark's slice), distinct +
    sort + joined-md5 digest."""
    parts = " || ' ' || ".join(f"tokens[i+{o}]" if o else "tokens[i]" for o in range(k))
    return (
        "WITH t AS ("
        f" SELECT doc_id, text, string_split(text, ' ') AS tokens FROM {source}), "
        "kg AS ("
        f" SELECT doc_id, CASE WHEN len(tokens) >= {k}"
        f"  THEN list_transform(generate_series(1, len(tokens)-{k - 1}), i -> {parts})"
        "  ELSE [text] END AS kgs FROM t), "
        "enc AS ("
        " SELECT doc_id, list_transform(generate_series(1, len(kgs)),"
        "  i -> md5(kgs[i]) || '|' || lpad(cast(10000000 - i AS varchar), 8, '0'))"
        "  AS encs FROM kg), "
        "sel AS ("
        " SELECT doc_id, list_sort(list_distinct(list_transform("
        f"  generate_series(1, greatest(len(encs) - {w - 1}, 1)),"
        f"  i -> list_aggregate(encs[i:i+{w - 1}], 'min')))) AS sels FROM enc) "
        "SELECT doc_id, cast(len(sels) AS int) AS n_winnowed, "
        "md5(array_to_string(sels, ',')) AS winnow_digest FROM sel"
    )


def winnow_near_dups_sql(k: int = 5, w: int = 4, min_shared: int = 2) -> str:
    """Mirror of operators.textstats.winnow_near_dup_pairs over the
    standard dedup corpus (CORPUS_CTE): winnow selections at blocking
    grain k, distinct (doc, hash-part) fingerprints, self-join on fp,
    shared-count filter. No bucket cap by default — mirrored 1:1 with
    the operator's default (the CLAUDE.md scale-guard rule: if a cap is
    ever enabled on the Spark side, _capped_cte must wrap ``fps``)."""
    parts = " || ' ' || ".join(f"tokens[i+{o}]" if o else "tokens[i]" for o in range(k))
    return (
        f"WITH {CORPUS_CTE}, "
        "t AS (SELECT doc_id, text, string_split(text, ' ') AS tokens FROM corpus), "
        "kg AS ("
        f" SELECT doc_id, CASE WHEN len(tokens) >= {k}"
        f"  THEN list_transform(generate_series(1, len(tokens)-{k - 1}), i -> {parts})"
        "  ELSE [text] END AS kgs FROM t), "
        "enc AS ("
        " SELECT doc_id, list_transform(generate_series(1, len(kgs)),"
        "  i -> md5(kgs[i]) || '|' || lpad(cast(10000000 - i AS varchar), 8, '0'))"
        "  AS encs FROM kg), "
        "sel AS ("
        " SELECT doc_id, list_distinct(list_transform("
        f"  generate_series(1, greatest(len(encs) - {w - 1}, 1)),"
        f"  i -> list_aggregate(encs[i:i+{w - 1}], 'min'))) AS sels FROM enc), "
        "fps AS MATERIALIZED ("
        " SELECT DISTINCT doc_id, substr(u, 1, 32) AS fp"
        " FROM (SELECT doc_id, unnest(sels) AS u FROM sel)) "
        "SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, "
        "cast(count(*) AS bigint) AS n_shared_fps "
        "FROM fps a JOIN fps b ON a.fp = b.fp AND a.doc_id < b.doc_id "
        f"GROUP BY a.doc_id, b.doc_id HAVING count(*) >= {min_shared}"
    )


def c4_gates_sql(
    min_sentences: int = 3,
    min_line_words: int = 3,
    bad_words=("badword1", "badword2"),
    source: str = "documents",
) -> str:
    """Mirror of operators.textstats.c4_gates_table over the planted
    multi-line corpus of q_c4_gates: same line split, terminal-punct
    regex (explicit class — Java == RE2), min-words-per-line rule,
    substring flags, and whole-token blocklist match. ``bad_words``
    must mirror the query's list (oracle-discipline rule) — defaults
    track textstats.C4_BAD_WORDS."""
    retained = (
        "list_filter(string_split(text, chr(10)), ln ->"
        f" len(string_split_regex(trim(ln), ' +')) >= {min_line_words}"
        " AND regexp_matches(trim(ln), '[.!?\"]$'))"
    )
    return (
        "WITH base AS ("
        f" SELECT doc_id, text || '.' || chr(10) || text || '?' || chr(10) || text"
        " || CASE WHEN doc_id % 5 = 0 THEN '' ELSE '!' END"
        " || CASE WHEN doc_id % 7 = 0 THEN chr(10) || 'lorem Ipsum dolor sit.' ELSE '' END"
        " || CASE WHEN doc_id % 11 = 0 THEN chr(10) || 'a { code block }.' ELSE '' END"
        " || CASE WHEN doc_id % 13 = 0 THEN chr(10) || 'then BADWORD1 appears here.' ELSE '' END"
        f"  AS text FROM {source}), "
        "g AS ("
        " SELECT doc_id, text,"
        " cast(len(string_split(text, chr(10))) AS int) AS n_lines,"
        f" cast(len({retained}) AS int) AS n_retained_lines,"
        " cast(contains(lower(text), 'lorem ipsum') AS int) AS has_lorem_ipsum,"
        " cast(contains(text, '{') AS int) AS has_curly,"
        " cast(list_has_any(string_split_regex(lower(text), '[ \\n]+'),"
        f"  [{', '.join(chr(39) + w.replace(chr(39), chr(39)*2) + chr(39) for w in bad_words)}]) AS int) AS has_bad_word"
        " FROM base) "
        "SELECT doc_id, n_lines, n_retained_lines, has_lorem_ipsum, has_curly, "
        "has_bad_word, "
        f"cast(CASE WHEN n_retained_lines >= {min_sentences}"
        " AND has_lorem_ipsum = 0 AND has_curly = 0 AND has_bad_word = 0"
        " THEN 1 ELSE 0 END AS int) AS c4_keep "
        "FROM g"
    )


def multi_query_bm25_sql(
    queries: dict,
    k: int = 10,
    k1_centi: int = 120,
    b_centi: int = 75,
    scale: int = 1_000_000,
    source: str = "documents",
) -> str:
    """Mirror of operators.retrieval.multi_query_bm25: the bm25 CTE
    chain with a VALUES (query_id, token) table joined in, df_t shared
    at token grain, per-query rank window."""
    pairs = sorted({(qid, t) for qid, terms in queries.items() for t in terms})
    def esc(x):
        return "'" + x.replace("'", "''") + "'"
    values = ", ".join(f"({esc(q)}, {esc(t)})" for q, t in pairs)
    in_list = ", ".join(esc(t) for t in sorted({t for _, t in pairs}))
    return (
        "WITH docs AS ("
        f" SELECT doc_id, string_split(text, ' ') AS toks FROM {source}), "
        "qterms(query_id, token) AS (VALUES " + values + "), "
        "tot AS ("
        " SELECT cast(count(*) AS bigint) AS n_docs,"
        " cast(sum(len(toks)) AS bigint) AS total_len FROM docs), "
        "post AS ("
        " SELECT doc_id, cast(len(toks) AS bigint) AS dl, unnest(toks) AS token"
        " FROM docs), "
        "tf AS ("
        " SELECT doc_id, dl, token, cast(count(*) AS bigint) AS tf"
        f" FROM post WHERE token IN ({in_list}) GROUP BY doc_id, dl, token), "
        "dft AS ("
        " SELECT token, cast(count(*) AS bigint) AS df_t FROM tf GROUP BY token), "
        "st AS ("
        " SELECT q.query_id, tf.doc_id,"
        " (100 * tot.total_len) // tot.n_docs AS avgdl_centi,"
        " ((2 * tot.n_docs - 2 * dft.df_t + 1) * 1000) // (2 * dft.df_t + 1)"
        "  AS idf_milli,"
        " tf.tf, tf.dl"
        " FROM tf JOIN dft USING (token) JOIN qterms q USING (token)"
        " CROSS JOIN tot), "
        "ts AS ("
        " SELECT query_id, doc_id, idf_milli,"
        f" (tf * {100 + k1_centi} * 100 * avgdl_centi * {scale})"
        f"  // (10000 * avgdl_centi * tf"
        f"   + {k1_centi} * ({100 - b_centi} * avgdl_centi + {100 * b_centi} * dl))"
        "  AS tf_sat_micro"
        " FROM st), "
        "scored AS ("
        " SELECT query_id, doc_id,"
        " cast(sum((idf_milli * tf_sat_micro) // 1000) AS bigint) AS score_micro,"
        " cast(count(*) AS bigint) AS n_terms_matched"
        " FROM ts GROUP BY query_id, doc_id) "
        "SELECT query_id, doc_id, score_micro, n_terms_matched, "
        "cast(rank AS int) AS rank FROM ("
        " SELECT *, row_number() OVER ("
        "  PARTITION BY query_id ORDER BY score_micro DESC, doc_id) AS rank"
        " FROM scored) "
        f"WHERE rank <= {k}"
    )
