# -*- coding: utf-8 -*-
"""Similarity search over embedding columns (``array<float>``).

- ``brute_force_topk``: exact cosine top-k against a query vector — the
  correctness baseline. One narrow pass over the table (the query vector is
  a literal/broadcast), then a global top-k (TakeOrderedAndProject — no
  full sort).
- ``lsh_bucketed_topk``: random-hyperplane LSH signatures (hyperplanes
  derived deterministically from md5, so signatures are reproducible
  across engines and runs); candidates = vectors sharing the query's
  bucket in any band; exact cosine re-ranking only on candidates. At
  10^12 rows the bucket join prunes the candidate set by ~2^bits per
  band while brute force would scan everything.
- ``ivf_topk``: IVF-flat — a k-means codebook TRAINED with deterministic
  Lloyd iterations (``train_centroids``) assigns every vector a cell via
  a VECTORIZED Arrow stage (``ivf_cell_udf`` — see its docstring for why
  this beats a generated flat-dot expression); search scans only the
  probed cells and ends in TakeOrderedAndProject.
- ``build_ivf_index`` / ``search_ivf_index``: the same cells persisted
  as hive partitions, so a search prunes unprobed cells at the scan. The
  index is written whole with its codebook; a grown corpus is re-built.

All cosine arithmetic is double-precision left-fold (deterministic IEEE
order), and comparisons/outputs use micro-scaled integers so results hash
identically across engines.
"""

from __future__ import annotations

import hashlib
from typing import List, Sequence, Tuple

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def dot_product(a: Column, b: Column) -> Column:
    """Sequential left-fold dot product in double precision."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot_product(a, a))


def cosine(a: Column, b: Column) -> Column:
    return dot_product(a, b) / (norm(a) * norm(b))


def cosine_micro(a: Column, b: Column) -> Column:
    """Cosine similarity as a micro-scaled bigint (exact cross-engine
    comparisons; avoids float value-hash hazards)."""
    return F.round(cosine(a, b) * 1_000_000).cast("bigint")


def pair_dot_udf():
    """Vectorized pairwise dot product (Arrow batch kernel) with the
    IDENTICAL left-fold IEEE chain as ``dot_product`` — one numpy
    multiply-add per dimension over the whole batch
    (``acc = acc + a[:, d] * b[:, d]``), never ``ndarray.sum()``/matmul
    (blocked accumulation diverges from the fold — CLAUDE.md).

    Why it exists (r6): candidate-pair verification evaluates one dot per
    pair; the interpreted ``F.aggregate``/``zip_with`` fold costs ~64
    interpreter dispatches per element, which dominates
    ``semantic_dedup``'s and ``embedding_near_dup_pairs``'s verify stage.
    This kernel computes the same doubles bit-for-bit in one narrow
    ArrowEvalPython stage. A null on either side yields a SQL NULL —
    exactly the old fold's null propagation. The raw double is returned;
    callers keep ``F.round(... * 1e6)`` in SQL so rounding semantics
    (HALF_UP) never enter numpy."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def pair_dot(a, b):
        va, vb = a.values, b.values
        ok = [
            i
            for i in range(len(va))
            if va[i] is not None and vb[i] is not None
        ]
        out = pd.array([None] * len(va), dtype="Float64")
        if ok:
            ma = np.stack([np.asarray(va[i], dtype=np.float64) for i in ok])
            mb = np.stack([np.asarray(vb[i], dtype=np.float64) for i in ok])
            acc = np.zeros(ma.shape[0])
            for d in range(ma.shape[1]):
                # ONE add per dimension — the exact left-fold chain
                acc = acc + ma[:, d] * mb[:, d]
            out[np.asarray(ok)] = acc
        return pd.Series(out)

    pair_dot.__annotations__ = {"a": pd.Series, "b": pd.Series, "return": pd.Series}
    return pandas_udf(pair_dot, "double")


def cluster_max_lower_dots(
    normed: DataFrame,
    id_col: str,
    vec_col: str = "_e",
    cluster_col: str = "cluster",
    pair_block: int = 4_000_000,
) -> DataFrame:
    """Per cluster member, the MAX dot product against any LOWER-id
    member of the same cluster: (id, _max_dot), one row per member that
    has at least one lower-id partner. Ids must be unique within a
    cluster (a repeat raises ``ValueError`` in the task).

    Why it exists (r6): ``semantic_dedup``'s dup rule only asks whether
    SOME lower-id cluster-mate clears the cosine radius. The join form
    expands every within-cluster pair to a row carrying BOTH vectors
    (~n²/k · 2·dim doubles through the Python boundary — 150 MB at bench
    scale for 3 MB of distinct vectors); here each vector crosses ONCE
    (grouped by cluster) and the pairwise dots happen inside one numpy
    kernel. Because HALF_UP ``round`` is monotone non-decreasing,
    ``round(max(dot)·1e6) ≥ t  ⇔  ∃ pair: round(dot·1e6) ≥ t``, so
    filtering the max is EXACTLY the old exists-a-qualifying-pair rule —
    the SQL rounding/threshold stays outside numpy, as with
    ``pair_dot_udf``.

    IEEE chain: per-dimension multiply-add over the pair block
    (``acc = acc + A[I, d] * A[J, d]``) — the identical left-fold as
    ``pair_dot_udf``/``dot_product``, never matmul/``ndarray.sum()``
    (CLAUDE.md); ``max`` is order-free. Pair blocks are bounded
    (``pair_block`` rows at a time), so per-group memory stays O(block
    + members·dim) even on a hot cluster; the n²/k pair COUNT is the
    operator's documented k ∝ √n contract, unchanged here."""
    import numpy as np
    import pandas as pd

    id_type = dict(normed.dtypes)[id_col]
    _PAIR_BLOCK = int(pair_block)

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        m = len(pdf)
        if m < 2:
            # the id column's own dtype (string ids arrive as object)
            return pd.DataFrame({id_col: pdf[id_col].iloc[:0], "_max_dot": np.zeros(0)})
        pdf = pdf.sort_values(id_col)
        ids = pdf[id_col].to_numpy()
        repeated = ids[1:][ids[1:] == ids[:-1]]
        if len(repeated):
            # a repeated id would silently pair with itself as its own
            # "lower" partner
            raise ValueError(
                f"{id_col} {repeated.tolist()[0]!r} repeats within one {cluster_col} group"
            )
        mat = np.stack([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
        dim = mat.shape[1]
        out_ids, out_max = [], []
        j = 1
        while j < m:
            # block of target positions [j, j_end): sum of lower-partner
            # counts bounded by _PAIR_BLOCK
            j_end, npairs = j, 0
            while j_end < m and (npairs == 0 or npairs + j_end <= _PAIR_BLOCK):
                npairs += j_end
                j_end += 1
            counts = np.arange(j, j_end)
            big_j = np.repeat(counts, counts)
            big_i = np.concatenate([np.arange(c) for c in counts])
            acc = np.zeros(len(big_j))
            for d in range(dim):
                # ONE add per dimension — the exact left-fold chain
                acc = acc + mat[big_i, d] * mat[big_j, d]
            offsets = np.concatenate([[0], np.cumsum(counts)[:-1]])
            out_ids.append(ids[counts])
            out_max.append(np.maximum.reduceat(acc, offsets))
            j = j_end
        return pd.DataFrame(
            {
                id_col: np.concatenate(out_ids),
                "_max_dot": np.concatenate(out_max),
            }
        )

    return (
        normed.select(cluster_col, id_col, vec_col)
        .groupBy(cluster_col)
        .applyInPandas(kernel, schema=f"{id_col} {id_type}, _max_dot double")
    )


def _ranked_topk(
    scored: DataFrame, k: int, id_col: str, score_col: str = "cos_micro"
) -> DataFrame:
    """Global top-k + rank column, shared by every ANN surface.

    ``orderBy().limit(k)`` plans as TakeOrderedAndProject (per-partition
    top-k merged on the driver — no global sort, no full-table window);
    the rank window then touches only the k surviving rows.
    ``partitionBy(id % 1)`` — constant 0, but NOT foldable, so Spark 4's
    EliminateWindowPartitions can't strip it (a bare ``lit(0)`` is folded
    away) — gives the window a non-empty partition spec and keeps the
    "No Partition Defined for Window operation" warning out of the logs
    for these by-design k-row windows, so a real full-table window
    elsewhere still warns."""
    from pyspark.sql import Window

    top = scored.orderBy(F.desc(score_col), F.asc(id_col)).limit(k)
    w = Window.partitionBy(F.col(id_col) % 1).orderBy(
        F.desc(score_col), F.asc(id_col)
    )
    return top.withColumn("rank", F.row_number().over(w))


def brute_force_topk(
    df: DataFrame,
    query_vector: Sequence[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k by cosine against a literal query vector; deterministic
    tie-break on id. Output: vec_id, cos_micro, rank."""
    query = F.array(*[F.lit(float(v)) for v in query_vector])
    scored = df.select(
        F.col(id_col), cosine_micro(F.col(vec_col), query).alias("cos_micro")
    )
    return _ranked_topk(scored, k, id_col)


# ---------------------------------------------------------------------------
# deterministic random-hyperplane LSH
# ---------------------------------------------------------------------------


def _hyperplane(dim: int, plane: int) -> List[float]:
    """Deterministic pseudo-random unit-free hyperplane: component d is a
    signed value derived from md5('plane|dim') — reproducible everywhere,
    no RNG state."""
    components = []
    for d in range(dim):
        digest = hashlib.md5(f"hp:{plane}:{d}".encode()).hexdigest()
        # map first 8 hex chars to [-1, 1)
        value = int(digest[:8], 16) / 2**31 - 1.0
        components.append(value)
    return components


def lsh_bucketed_topk(
    df: DataFrame,
    query_vector: Sequence[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 8,
    n_bands: int = 2,
) -> DataFrame:
    """Approximate top-k: candidates share the query's signature in at
    least one band of hyperplane sign bits; exact cosine re-rank on the
    candidate set only. Output: vec_id, cos_micro, rank."""
    dim = len(query_vector)
    planes_per_band = n_planes // n_bands
    query = F.array(*[F.lit(float(v)) for v in query_vector])

    # r6: corpus-side band keys via the vectorized Arrow kernel (same
    # sign bits, no n_planes×dim literal tree / interpreted folds —
    # see hyperplane_band_keys_udf); query-side keys computed on the
    # DRIVER with the identical _fold_dot left-fold chain (the
    # _probe_cells precedent), folding to integer literals — this also
    # removes the old 1-row crossJoin. Candidate set unchanged: a null
    # vector's keys become SQL NULLs (never equal) instead of the old
    # all-zero keys, but those rows' cosines were NULL and never ranked.
    qkeys = []
    for b in range(n_bands):
        key = 0
        for r in range(planes_per_band):
            plane = _hyperplane(dim, b * planes_per_band + r)
            if _fold_dot(query_vector, plane) > 0:
                key += 1 << r
        qkeys.append(key)
    keys_arr = hyperplane_band_keys_udf(dim, n_planes, n_bands)(F.col(vec_col))
    scored = df.select(F.col(id_col), F.col(vec_col), keys_arr.alias("_bands"))
    candidate_filter = None
    for b in range(n_bands):
        clause = F.element_at(F.col("_bands"), b + 1) == F.lit(qkeys[b])
        candidate_filter = clause if candidate_filter is None else (candidate_filter | clause)
    candidates = scored.filter(candidate_filter)
    rescored = candidates.select(
        F.col(id_col), cosine_micro(F.col(vec_col), query).alias("cos_micro")
    )
    return _ranked_topk(rescored, k, id_col)


def hyperplane_band_keys(
    vec_col: Column, dim: int, n_planes: int = 32, n_bands: int = 4
) -> List[Column]:
    """Per-band LSH bucket keys for pairwise blocking: band ``b``'s key
    packs the sign bits of its ``n_planes // n_bands`` hyperplanes into a
    small int (bits packed per band — no 32-bit overflow however many
    planes). Two vectors are near-dup candidates iff they share a key in
    at least one band. Exactly-parallel vectors always share every key."""
    planes_per_band = n_planes // n_bands
    keys: List[Column] = []
    for b in range(n_bands):
        terms = []
        for r in range(planes_per_band):
            plane_index = b * planes_per_band + r
            plane = F.array(*[F.lit(v) for v in _hyperplane(dim, plane_index)])
            terms.append(
                F.when(dot_product(vec_col, plane) > 0, F.lit(2**r)).otherwise(F.lit(0))
            )
        keys.append(sum(terms[1:], terms[0]).cast("int"))
    return keys


def hyperplane_band_keys_udf(dim: int, n_planes: int = 32, n_bands: int = 4):
    """Vectorized form of ``hyperplane_band_keys``: ONE Arrow batch
    kernel computing every band key per vector (returns ``array<int>``
    of length ``n_bands``), replacing ``n_planes`` interpreted
    ``F.aggregate`` folds AND the ``n_planes × dim`` literal expression
    tree (r6: building those ``F.lit`` arrays cost ~2 s of py4j round
    trips per plan, and the literals bloat Catalyst optimization).

    Bit-exactness: each plane dot is the same per-dimension left-fold
    chain as ``dot_product``/``ivf_cell_udf`` (``acc = acc + v[:, d] *
    plane[d]`` — one numpy multiply-add per dimension, never matmul or
    ``ndarray.sum()``), and the planes are the identical
    ``_hyperplane`` doubles, so the sign bits — and therefore every
    band key — match the expression form and the DuckDB oracle
    bit-for-bit. A null vector yields a SQL NULL (the expression form's
    null propagation)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    planes_per_band = n_planes // n_bands
    planes = np.array(
        [_hyperplane(dim, p) for p in range(n_planes)], dtype=np.float64
    )  # (n_planes, dim)

    def band_keys(vecs):
        values = vecs.values
        ok = [i for i in range(len(values)) if values[i] is not None]
        out = [None] * len(values)
        if ok:
            m = np.stack([np.asarray(values[i], dtype=np.float64) for i in ok])
            acc = np.zeros((m.shape[0], n_planes))
            for d in range(dim):
                # ONE multiply-add per dimension — the exact left fold
                acc = acc + m[:, d : d + 1] * planes[None, :, d]
            bits = acc > 0
            keys = np.zeros((m.shape[0], n_bands), dtype=np.int64)
            for b in range(n_bands):
                for r in range(planes_per_band):
                    keys[:, b] += bits[:, b * planes_per_band + r] << r
            for row, i in enumerate(ok):
                out[i] = [int(v) for v in keys[row]]
        return pd.Series(out)

    band_keys.__annotations__ = {"vecs": pd.Series, "return": pd.Series}
    return pandas_udf(band_keys, "array<int>")


def ivf_cell_udf(centroids: List[List[float]], metric: str = "dot"):
    """Coarse-quantizer cell assignment as a VECTORIZED Arrow stage:
    argmax dot(vec, centroid) with ties to the lower cell id.

    Why a pandas_udf and not a codegen expression: the k×dim flat-dot
    expression form (round-3) exceeded janino's recursion depth once
    Catalyst inlined it into a pushed-down Filter — Spark then fell back
    to INTERPRETED evaluation and re-attempted (and re-failed) the
    compile on every run, costing seconds per query. A numpy kernel
    behind Arrow batches is both the scale form (one narrow stage, no
    shuffle, no codegen hazard) and the fast form at any dim.

    Cross-engine determinism: the accumulation loops over dimensions in
    order, one fused multiply-ADD per step (``acc = acc + x_d * c_d``),
    so every (row, cell) dot product is the identical left-associated
    IEEE-double chain the DuckDB oracle spells out textually
    (oracles._flat_dot) — bit-exact parity, argmax-first-hit = the
    (dot DESC, cid ASC) tie-break."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    codebook = np.array([[float(v) for v in c] for c in centroids], dtype=np.float64)
    n_cells, dim = codebook.shape
    # metric="l2": argmin ||v - c||^2 == argmax (2*v.c - ||c||^2) — the
    # same left-fold dot chain plus a per-cell constant, so the PQ
    # quantizer (L2 by definition) reuses this kernel unchanged
    if metric not in ("dot", "l2"):
        raise ValueError(f"unknown metric {metric!r}")
    norm_sq = None
    if metric == "l2":
        # explicit per-dimension fold, NOT ndarray.sum(): numpy reduces
        # with 8-way unrolled accumulators above ~8 elements, which is a
        # different IEEE rounding chain than the oracle's left fold
        norm_sq = np.zeros(n_cells)
        for d in range(dim):
            norm_sq = norm_sq + codebook[:, d] * codebook[:, d]

    def cell_of(vecs):
        values = vecs.values
        if len(values) == 0:
            return pd.Series([], dtype="Int32")
        present = np.array([v is not None for v in values])
        out = np.full(len(values), np.nan)
        if present.any():
            m = np.stack(
                [np.asarray(v, dtype=np.float64) for v, ok in zip(values, present) if ok]
            )
            acc = np.zeros((m.shape[0], n_cells))
            for d in range(dim):
                # ONE add per dimension — the exact left-fold chain
                acc = acc + m[:, d : d + 1] * codebook[None, :, d]
            if norm_sq is not None:
                acc = 2.0 * acc - norm_sq[None, :]
            out[present] = np.argmax(acc, axis=1)
        # nullable Int32: absent vectors become real SQL NULLs through Arrow
        return pd.Series(out).astype("Int32")

    # module-level `from __future__ import annotations` stringifies inline
    # hints, which pandas_udf can't resolve — attach real type objects
    cell_of.__annotations__ = {"vecs": pd.Series, "return": pd.Series}
    return pandas_udf(cell_of, "int")


def assign_cells(
    df: DataFrame,
    centroids: List[List[float]],
    vec_col: str = "embedding",
    cell_name: str = "cell",
    metric: str = "dot",
) -> DataFrame:
    """Append the IVF cell id column (``ivf_cell_udf``): a single narrow
    ArrowEvalPython stage — at ingest scale you would persist/partition
    by this column so searches prune to probed cells at the scan."""
    return df.withColumn(cell_name, ivf_cell_udf(centroids, metric)(F.col(vec_col)))


QUANT_MICRO = 1_000_000


def _train_codebooks(
    df: DataFrame,
    spaces: Sequence[Tuple[int, int, int, int, str]],
    id_col: str,
    vec_col: str,
) -> List[List[List[float]]]:
    """Deterministic distributed k-means for several SPACES at once —
    Lloyd iterations with a FIXED iteration count, seeded by the
    lowest-id vectors. A space is ``(part, n_parts, n_cells,
    n_iterations, metric)``: slice ``part`` of the vector cut into
    ``n_parts`` equal contiguous slices (``(0, 1, ...)`` is the whole
    vector, the IVF quantizer; PQ subspace ``j`` is ``(j, n_subspaces,
    ...)``). Returns one codebook per space, ``[]`` each on an empty
    corpus.

    Cross-engine determinism: per-cell component sums are computed over
    MICRO-QUANTIZED integers (``round(x * 1e6)`` as bigint) — integer sums
    are order-independent, so Spark's partial aggregation and DuckDB's
    streaming aggregate produce the identical mean
    ``(sum / count) / 1e6`` bit-for-bit; assignments use the same
    left-fold dot (or its L2 form) + lowest-cell tie-break as
    ``ivf_cell_udf``. Cells that lose all members keep their previous
    centroid.

    Scale shape: ONE lowest-id collect seeds every space and gives the
    dimension. Each Lloyd iteration is ONE aggregation for every space
    still iterating: one narrow Arrow stage computes every space's cell
    column, each vector explodes to one (space, cell, d, x_d) row per
    dimension of every space, and one map-combined groupBy(space, cell,
    d) sums the quantized components — a cells×dims-row driver collect
    (the broadcast-build pattern: the codebooks ship to the next
    iteration inside the next UDFs' closures, exactly how a trained IVF
    codebook ships to an ingest job)."""
    n_seed = max(space[2] for space in spaces)
    rows = df.orderBy(id_col).limit(n_seed).select(vec_col).collect()
    if not rows:
        return [[] for _ in spaces]
    seeds = [[float(v) for v in row[0]] for row in rows]
    dim = len(seeds[0])
    slices, books = [], []
    for part, n_parts, n_cells, _, _ in spaces:
        if dim % n_parts:
            raise ValueError(f"dim {dim} not divisible by n_subspaces {n_parts}")
        width = dim // n_parts
        slices.append((part * width + 1, width))  # 1-based, as F.slice
        books.append([seed[part * width : (part + 1) * width] for seed in seeds[:n_cells]])
    vec = F.col(vec_col)
    for step in range(max(space[3] for space in spaces)):
        live = [s for s, space in enumerate(spaces) if step < space[3] and books[s]]
        if not live:
            break
        cells = df.select(
            vec,
            *[
                ivf_cell_udf(books[s], spaces[s][4])(F.slice(vec, *slices[s])).alias(f"_c{s}")
                for s in live
            ],
        )
        by_space = F.array(
            *[
                F.struct(
                    F.lit(s).alias("space"),
                    F.col(f"_c{s}").alias("cell"),
                    F.slice(vec, *slices[s]).alias("x"),
                )
                for s in live
            ]
        )
        sums = (
            cells.select(F.inline(by_space))
            .select("space", "cell", F.posexplode("x"))
            .groupBy("space", "cell", "pos")
            .agg(
                F.count("*").alias("n"),
                F.sum(F.round(F.col("col").cast("double") * QUANT_MICRO).cast("bigint")).alias("q"),
            )
        )
        trained = {}
        for r in sums.collect():
            mean = trained.setdefault((r["space"], r["cell"]), [0.0] * slices[r["space"]][1])
            mean[r["pos"]] = (float(r["q"]) / r["n"]) / QUANT_MICRO
        for s in live:
            books[s] = [trained.get((s, cid), c) for cid, c in enumerate(books[s])]
    return books


def train_centroids(
    df: DataFrame,
    n_centroids: int = 16,
    n_iterations: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    metric: str = "dot",
) -> List[List[float]]:
    """k-means codebook over the whole vector (``_train_codebooks``):
    ``n_iterations`` Lloyd steps from the ``n_centroids`` lowest-id
    vectors — 0 returns that sample, the codebook a real IVF job would
    ship as a small literal table. One seed collect plus one aggregation
    per iteration; ``[]`` for an empty corpus."""
    return _train_codebooks(
        df, [(0, 1, n_centroids, n_iterations, metric)], id_col, vec_col
    )[0]


def _fold_dot(a: Sequence[float], b: Sequence[float]) -> float:
    """Driver-side strict left-fold dot — the identical IEEE chain as
    dot_product / ivf_cell_udf / the DuckDB oracles, so probe selection
    agrees bit-for-bit across engines."""
    acc = 0.0
    for x, y in zip(a, b):
        acc = acc + float(x) * float(y)
    return acc


def _probe_cells(
    centroids: List[List[float]], query_vector: Sequence[float], n_probe: int
) -> List[int]:
    """The query's ``n_probe`` nearest cells by (dot DESC, cid ASC) — the
    shared probe rule of every IVF search surface."""
    order = sorted(
        range(len(centroids)),
        key=lambda cid: (-_fold_dot(query_vector, centroids[cid]), cid),
    )
    return sorted(order[:n_probe])


def ivf_topk(
    df: DataFrame,
    query_vector: Sequence[float],
    k: int = 10,
    n_centroids: int = 16,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    train_iterations: int = 2,
) -> DataFrame:
    """IVF-flat approximate top-k: assign every vector to its nearest
    TRAINED centroid (k-means codebook, ``train_centroids`` — seeded from
    the lowest-id rule, ``train_iterations`` Lloyd steps; 0 reproduces the
    round-2 sampled codebook), probe only the query's ``n_probe`` nearest
    cells, re-rank candidates with exact cosine.

    Scale shape: cell assignment is one narrow vectorized Arrow stage
    (at ingest time you would persist/partition by the cell column so
    searches prune at the scan); search scans ~n_probe/n_centroids of
    the corpus and ends in TakeOrderedAndProject. Probe selection runs
    on the driver over the same centroid doubles with the same left-fold
    order as the engines, so the DuckDB oracle's fully-relational mirror
    agrees bit-for-bit. Output: vec_id, cos_micro, rank."""
    centroids = train_centroids(df, n_centroids, train_iterations, id_col, vec_col)
    probes = _probe_cells(centroids, query_vector, n_probe)
    query = F.array(*[F.lit(float(v)) for v in query_vector])
    candidates = assign_cells(df.select(id_col, vec_col), centroids, vec_col).filter(
        F.col("cell").isin(*probes)
    )
    rescored = candidates.select(
        F.col(id_col), cosine_micro(F.col(vec_col), query).alias("cos_micro")
    )
    return _ranked_topk(rescored, k, id_col)


def build_ivf_index(
    df: DataFrame,
    index_path: str,
    n_centroids: int = 16,
    train_iterations: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> List[List[float]]:
    """INGEST side of IVF: train the codebook, assign every vector its
    cell (``assign_cells``), and persist the corpus hive-partitioned BY
    CELL — the on-disk form of an IVF index in a lake: each cell is a
    partition directory, so a search touching ``n_probe`` cells prunes
    every other cell at the SCAN (PartitionFilters), reading
    ~n_probe/n_centroids of the bytes. Returns the trained codebook (ship
    it to searches exactly like a real IVF codebook artifact). The table
    is overwritten: rebuild, with a fresh codebook, when the corpus grows."""
    centroids = train_centroids(df, n_centroids, train_iterations, id_col, vec_col)
    assign_cells(df, centroids, vec_col).write.mode("overwrite").partitionBy("cell").parquet(
        index_path
    )
    return centroids


def search_ivf_index(
    spark,
    index_path: str,
    centroids: List[List[float]],
    query_vector: Sequence[float],
    k: int = 10,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SEARCH side of IVF over a ``build_ivf_index`` table: probe the
    query's ``n_probe`` nearest cells with a PARTITION-PRUNED scan (only
    those cell directories are read — plan-asserted in tests), exact
    cosine re-rank, TakeOrderedAndProject top-k. Identical results to
    ``ivf_topk`` on the same corpus/codebook (same probe rule, same
    left-fold arithmetic)."""
    probes = _probe_cells(centroids, query_vector, n_probe)
    query = F.array(*[F.lit(float(v)) for v in query_vector])
    candidates = spark.read.parquet(index_path).filter(F.col("cell").isin(*probes))
    rescored = candidates.select(
        F.col(id_col), cosine_micro(F.col(vec_col), query).alias("cos_micro")
    )
    return _ranked_topk(rescored, k, id_col)


# ---------------------------------------------------------------------------
# product quantization (PQ) — the memory-compressed ANN path
# ---------------------------------------------------------------------------


def _train_with_pq(df, ivf, n_subspaces, n_codes, train_iterations, id_col, vec_col):
    """``_train_codebooks`` over the ``ivf`` spaces followed by one L2
    space per PQ subspace; an empty corpus has no PQ codebook."""
    pq = [(j, n_subspaces, n_codes, train_iterations, "l2") for j in range(n_subspaces)]
    books = _train_codebooks(df, ivf + pq, id_col, vec_col)
    if not books[-1]:
        raise ValueError("cannot train PQ codebooks on an empty corpus")
    return books


def train_pq_codebooks(
    df: DataFrame,
    n_subspaces: int = 4,
    n_codes: int = 16,
    train_iterations: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> List[List[List[float]]]:
    """Train a product-quantization codebook (Jégou et al. 2011): the
    vector is split into ``n_subspaces`` contiguous sub-vectors and each
    subspace gets its own ``n_codes``-entry L2 k-means codebook (PQ
    quantizes by Euclidean proximity, not dot product). Every subspace
    trains in the SAME jobs (``_train_codebooks``): one seed collect,
    then one aggregation per Lloyd iteration grouped by (subspace, cell,
    d), so the job count does not grow with ``n_subspaces``.
    Deterministic end-to-end (lowest-id seeding, fixed iterations,
    micro-quantized integer sums). Returns codebooks[j][c] = centroid.

    Memory story at scale: a 768-dim float corpus stores 3 KB/vector;
    PQ with 8 subspaces × 256 codes stores 8 BYTES/vector — the
    difference between an index that fits executor memory and one that
    does not."""
    return _train_with_pq(df, [], n_subspaces, n_codes, train_iterations, id_col, vec_col)


def encode_pq(
    df: DataFrame,
    codebooks: List[List[List[float]]],
    vec_col: str = "embedding",
    code_col: str = "pq_codes",
) -> DataFrame:
    """Append the ``array<int>`` PQ code column: per subspace, the L2-
    nearest code (``ivf_cell_udf`` with the L2 correction, one narrow
    Arrow stage per subspace — n_subspaces is a small constant). The
    encoded table is what a 100 TB ANN index persists; the float vectors
    can be dropped or tiered to cold storage."""
    sub = len(codebooks[0][0])
    code_columns = [
        ivf_cell_udf(codebooks[j], metric="l2")(F.slice(F.col(vec_col), j * sub + 1, sub))
        for j in range(len(codebooks))
    ]
    return df.withColumn(code_col, F.array(*code_columns))


def _adc_score_udf(
    codebooks: List[List[List[float]]], query_vector: Sequence[float]
):
    """The asymmetric-distance (ADC) scoring kernel shared by ``pq_topk``
    and ``search_ivfpq_index``: the query builds one lookup table
    LUT[j][c] = dot(query_j, centroid_jc) on the driver (n_subspaces ×
    n_codes doubles — tiny, ships in the UDF closure); a vector's
    approximate score is the left-fold sum of its m LUT lookups.

    Vectorized per Arrow batch: the per-row work is only the NULL/NaN
    validity check; the LUT gathers and adds run as ONE numpy op per
    subspace over the whole batch, subspaces in order — the identical
    left-associated IEEE chain as the oracle's ``l0.v + l1.v + ...`` at
    ANY n_subspaces (never ``ndarray.sum()``, whose 8-way unrolled
    accumulators diverge from a left fold above ~8 elements — CLAUDE.md).
    ADC scan throughput is the entire point of PQ at 100 TB, so the
    kernel must not loop per row."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    sub = len(codebooks[0][0])
    n_sub = len(codebooks)
    lut = np.array(
        [
            [
                sum(float(query_vector[j * sub + d]) * float(c[d]) for d in range(sub))
                for c in codebooks[j]
            ]
            for j in range(n_sub)
        ],
        dtype=np.float64,
    )

    def adc_score(codes):
        values = codes.values
        # absent vectors carry NULL codes (ivf_cell_udf emits SQL NULLs);
        # score them -inf so they never reach the candidate set — same
        # tolerance as search_ivf_index, where a NULL cell never matches
        out = np.full(len(values), -np.inf)
        # per-row work is ONLY the null/shape guard (no per-row float
        # conversion or NaN scan): integer-dtype rows are trusted as-is,
        # and only object/other dtypes (NULL elements arrive as NaN via
        # Arrow's nullable-int widening, or None in object arrays) pay
        # the float64 coercion
        idx = []
        rows = []
        for i, code in enumerate(values):
            if code is None:
                continue
            arr = np.asarray(code)
            if arr.dtype.kind not in "iuf":
                arr = np.asarray(code, dtype=np.float64)  # None -> NaN
            if arr.shape != (n_sub,):
                continue
            idx.append(i)
            rows.append(arr)
        if idx:
            mat = np.stack(rows)  # any float row widens the whole batch
            keep = np.asarray(idx)
            if mat.dtype.kind == "f":
                good = ~np.isnan(mat).any(axis=1)
                mat, keep = mat[good], keep[good]
            if keep.size:
                mat = mat.astype(np.int64)
                acc = lut[0, mat[:, 0]]
                for j in range(1, n_sub):
                    acc = acc + lut[j, mat[:, j]]
                out[keep] = acc
        return pd.Series(out)

    adc_score.__annotations__ = {"codes": pd.Series, "return": pd.Series}
    # the approx score stays a raw DOUBLE: it is internal (never in the
    # output surface, so no cross-engine hash concern), and the -inf
    # sentinel for absent vectors sorts itself last — a micro-int cast
    # would ANSI-overflow on it
    return pandas_udf(adc_score, "double")


def pq_topk(
    encoded: DataFrame,
    codebooks: List[List[List[float]]],
    query_vector: Sequence[float],
    k: int = 10,
    refine: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    code_col: str = "pq_codes",
) -> DataFrame:
    """Asymmetric-distance PQ search (``_adc_score_udf``): score every
    vector by its CODES — no float vectors are read in the scan — then
    exact-cosine re-rank the top ``k * refine`` candidates (the standard
    ADC + refine design). Output: vec_id, cos_micro, rank — same surface
    as the other ANN entries.

    Scale shape: one narrow Arrow stage over the (id, codes) columns →
    TakeOrderedAndProject(k*refine) → exact re-rank of a constant-size
    candidate set. The scan reads bytes-per-vector, not floats."""
    approx = encoded.withColumn(
        "_approx", _adc_score_udf(codebooks, query_vector)(F.col(code_col))
    )
    candidates = approx.orderBy(F.desc("_approx"), F.asc(id_col)).limit(k * refine)
    query = F.array(*[F.lit(float(v)) for v in query_vector])
    rescored = candidates.select(
        F.col(id_col), cosine_micro(F.col(vec_col), query).alias("cos_micro")
    )
    return _ranked_topk(rescored, k, id_col)


def build_ivfpq_index(
    df: DataFrame,
    index_path: str,
    n_centroids: int = 16,
    n_subspaces: int = 2,
    n_codes: int = 8,
    ivf_train_iterations: int = 2,
    pq_train_iterations: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    code_col: str = "pq_codes",
):
    """INGEST side of IVF-PQ — the production lake-ANN composition (Jégou
    et al. 2011's IVFADC, re-expressed as a partitioned lake table): train
    the coarse IVF codebook AND the per-subspace PQ codebooks, then
    persist (id, embedding, pq_codes) hive-partitioned BY CELL.

    A search then composes BOTH prunings: partition pruning to the probed
    cells (reads ~n_probe/n_centroids of the files) × column pruning to
    (id, codes) in the ADC stage (reads bytes-per-vector, not floats) —
    at 100 TB that is the difference between scanning terabytes and
    scanning a few gigabytes of codes. The float vectors stay in the same
    rows for the exact-refine step only (a parquet column the ADC scan
    never touches; a real deployment could tier them to cold storage).

    PQ codebooks are trained on the RAW vectors, not IVF residuals —
    residual encoding couples every code to its cell and is deliberately
    traded away for codebook/oracle simplicity (documented divergence
    from IVFADC; recall at small n_probe is slightly lower, the scan
    shape is identical).

    Returns ``(centroids, codebooks)`` — the two codebook artifacts a
    search job ships exactly like any trained-model side input."""
    # IVF and PQ codebooks come from the same raw vectors with no
    # cross-dependency: one trainer call runs the IVF space and every PQ
    # subspace in the same seed collect and Lloyd-step jobs
    centroids, *codebooks = _train_with_pq(
        df,
        [(0, 1, n_centroids, ivf_train_iterations, "dot")],
        n_subspaces,
        n_codes,
        pq_train_iterations,
        id_col,
        vec_col,
    )
    encoded = encode_pq(
        assign_cells(df, centroids, vec_col), codebooks, vec_col, code_col
    )
    encoded.write.mode("overwrite").partitionBy("cell").parquet(index_path)
    return centroids, codebooks


def search_ivfpq_index(
    spark,
    index_path: str,
    centroids: List[List[float]],
    codebooks: List[List[List[float]]],
    query_vector: Sequence[float],
    k: int = 10,
    n_probe: int = 4,
    refine: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    code_col: str = "pq_codes",
) -> DataFrame:
    """SEARCH side of IVF-PQ over a ``build_ivfpq_index`` table:

    1. probe the query's ``n_probe`` nearest cells (shared
       ``_probe_cells`` rule) — PartitionFilters prune every other cell
       directory at the scan (plan-asserted in tests);
    2. ADC-score the pruned scan reading ONLY (id, codes) — column
       pruning keeps the float vectors on disk;
    3. TakeOrderedAndProject the top ``k * refine`` candidate ids;
    4. exact-cosine refine: re-read (id, embedding) from the SAME pruned
       cells and broadcast-join the candidate ids (k*refine rows — always
       broadcastable), so the refine never shuffles the corpus either.

    Identical results to ``pq_topk`` restricted to the probed cells (same
    codebooks, same left-fold arithmetic, same tie-breaks). Output:
    vec_id, cos_micro, rank."""
    probes = _probe_cells(centroids, query_vector, n_probe)
    pruned = spark.read.parquet(index_path).filter(F.col("cell").isin(*probes))
    approx = pruned.select(F.col(id_col), F.col(code_col)).withColumn(
        "_approx", _adc_score_udf(codebooks, query_vector)(F.col(code_col))
    )
    candidate_ids = (
        approx.orderBy(F.desc("_approx"), F.asc(id_col))
        .limit(k * refine)
        .select(id_col)
    )
    query = F.array(*[F.lit(float(v)) for v in query_vector])
    vectors = spark.read.parquet(index_path).filter(
        F.col("cell").isin(*probes)
    ).select(F.col(id_col), F.col(vec_col))
    rescored = vectors.join(F.broadcast(candidate_ids), id_col).select(
        F.col(id_col), cosine_micro(F.col(vec_col), query).alias("cos_micro")
    )
    return _ranked_topk(rescored, k, id_col)
