#!/usr/bin/env python3
# -*- coding: utf-8 -*-
"""Distribution statistics of a ``documents`` / ``embeddings`` table set,
to compare the benchmark's derived set with the sf table set it is
derived from:

    python3 perfbench/inputstats.py <table dir> [<table dir> ...]
    python3 perfbench/inputstats.py --derived SEED [<table dir> ...]

``--derived SEED`` adds the set ``datagen.write_table_set`` makes for that
seed. For each set it prints one JSON line: token-length deciles, language
and label shares, and, per 1,000 documents, the MinHash-LSH candidate
pairs and the Jaccard-verified near-duplicate pairs, computed in plain
Python with the parameters of ``operators.dedup``'s defaults (3-token
shingles, 12 md5 minhashes in 4 bands, 512-row bucket cap, Jaccard ≥ 0.8).
"""

from __future__ import annotations

import argparse
import collections
import hashlib
import itertools
import json
import os
import statistics
import sys
import tempfile
from typing import Dict, List

import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

SHINGLE_K = 3
N_HASHES = 12
BANDS = 4
MAX_BUCKET = 512
THRESHOLD_MILLI = 800


def shingles(text: str) -> frozenset:
    toks = text.split(" ")
    if len(toks) < SHINGLE_K:
        return frozenset([text])
    return frozenset(" ".join(toks[i : i + SHINGLE_K]) for i in range(len(toks) - SHINGLE_K + 1))


def _md5(text: str) -> str:
    return hashlib.md5(text.encode("utf-8")).hexdigest()


def band_keys(sh: frozenset) -> List[str]:
    sig = [min(_md5(f"{s}#{x}") for x in sh) for s in range(N_HASHES)]
    rows = N_HASHES // BANDS
    return [_md5("|".join(sig[b * rows : (b + 1) * rows])) for b in range(BANDS)]


def pair_stats(ids: List[int], texts: List[str]) -> Dict[str, float]:
    sets = [shingles(t) for t in texts]
    buckets: Dict[tuple, List[int]] = collections.defaultdict(list)
    for i, sh in enumerate(sets):
        for b, key in enumerate(band_keys(sh)):
            buckets[(b, key)].append(i)
    candidates = set()
    for members in buckets.values():
        if len(members) <= MAX_BUCKET:
            for a, b in itertools.combinations(members, 2):
                candidates.add((min(a, b), max(a, b)))
    near = sum(
        1
        for a, b in candidates
        if len(sets[a] & sets[b]) * 1000 >= THRESHOLD_MILLI * len(sets[a] | sets[b])
    )
    per_k = 1000 / len(ids)
    return {
        "candidate_pairs_per_1k_docs": round(len(candidates) * per_k, 2),
        "near_dup_pairs_per_1k_docs": round(near * per_k, 2),
        "largest_band_bucket": max(len(m) for m in buckets.values()),
    }


def _shares(values) -> Dict[str, float]:
    counts = collections.Counter(values)
    return {str(k): round(v / len(values), 3) for k, v in sorted(counts.items())}


def table_stats(table_dir: str) -> dict:
    docs = pq.read_table(os.path.join(table_dir, "documents.parquet")).to_pydict()
    vecs = pq.read_table(os.path.join(table_dir, "embeddings.parquet")).to_pydict()
    tokens = [len(t.split(" ")) for t in docs["text"]]
    texts = collections.Counter(docs["text"])
    return {
        "docs": len(docs["doc_id"]),
        "token_deciles": [round(q, 1) for q in statistics.quantiles(tokens, n=10)],
        "token_mean": round(statistics.mean(tokens), 1),
        "exact_dup_docs_per_1k": round(
            sum(n for n in texts.values() if n > 1) * 1000 / len(tokens), 2
        ),
        "lang_shares": _shares(docs["lang"]),
        **pair_stats(docs["doc_id"], docs["text"]),
        "vectors": len(vecs["vec_id"]),
        "dim": len(vecs["embedding"][0]),
        "label_shares": _shares(vecs["label"]),
    }


def main() -> None:
    parser = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    parser.add_argument("dirs", nargs="*")
    parser.add_argument("--derived", type=int, action="append", default=[])
    args = parser.parse_args()
    for table_dir in args.dirs:
        print(json.dumps({"set": table_dir, **table_stats(table_dir)}))
    for seed in args.derived:
        import datagen

        with tempfile.TemporaryDirectory(dir=os.getcwd()) as tmp:
            datagen.write_table_set(tmp, seed)
            print(json.dumps({"set": f"derived seed {seed}", **table_stats(tmp)}))


if __name__ == "__main__":
    main()
