# -*- coding: utf-8 -*-
"""Seeded benchmark inputs. Every table is a pure function of its size
and ``seed``; the program under test only ever sees the parquet files
written here (or, for pages, the table ``sources.pages`` generates and the
benchmark materializes before timing).

``documents`` / ``embeddings`` are derived from the sf0.1 test set with
``tools/make_sf1.py``'s replica/tail recipe. The base is a fixed slice of
sf0.1 kept in ``perfbench/data/`` (a run reads nothing outside its
checkout): its first 250 vectors, and 500 documents taken as
whole near-duplicate families in a fixed pseudo-random order (md5 of the
family text), so the planted near-dup pairs keep both members and their
density stays that of sf0.1. It is rebuilt from an sf0.1 directory with

    python3 perfbench/datagen.py --base-from <sf0.1 dir>

A derived set is ``REPLICAS`` copies of the base with ``make_sf1``'s id
offsets (``doc_id + r * 5000``, ``vec_id + r * 2000``), ``n_chars``
recomputed, embeddings copied exactly, and a tail of 20 distinct tokens on
every document of every replica, salted with the seed. ``make_sf1`` keys
the tail on the document's id; here it is keyed on the smallest id of the
document's near-duplicate family (texts equal up to a trailing `` dup``), so a planted
pair keeps one tail and stays a near-duplicate within its replica, while
replicas of one family get different tails and stay apart. With a
per-document tail the 20 extra tokens would push every planted pair of
these ≤ 100-token documents below the 0.8 Jaccard threshold and leave the
LSH and connected-components stages no pairs. ``perfbench/inputstats.py``
compares the result with sf0.1 (see ``DESIGN.md``).
"""

from __future__ import annotations

import argparse
import hashlib
import os
from random import Random
from typing import Dict, List

import pyarrow as pa
import pyarrow.parquet as pq

BASE_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")
BASE_DOCS = 300
BASE_VECS = 150
REPLICAS = 2
TAIL_TOKENS = 20
DOC_ID_OFFSET = 5000  # make_sf1: sf0.1's document count
VEC_ID_OFFSET = 2000  # make_sf1: sf0.1's vector count
DUP_SUFFIX = " dup"


def family(text: str) -> str:
    """Near-duplicate family of a document: sf0.1 plants a near-dup as
    another document's text plus `` dup``; exact copies share the text."""
    return text[: -len(DUP_SUFFIX)] if text.endswith(DUP_SUFFIX) else text


def take_families(docs: Dict[str, list], n_docs: int) -> List[int]:
    """Row indices of whole families, in md5 order of the family text,
    until ``n_docs`` rows are taken (the last family may end the slice a
    row or two short)."""
    members: Dict[str, List[int]] = {}
    for row in sorted(range(len(docs["doc_id"])), key=docs["doc_id"].__getitem__):
        members.setdefault(family(docs["text"][row]), []).append(row)
    rows: List[int] = []
    for key in sorted(members, key=lambda text: hashlib.md5(text.encode("utf-8")).hexdigest()):
        group = members[key]
        if len(rows) + len(group) > n_docs:
            break
        rows.extend(group)
    return rows


def write_base(sf_dir: str) -> None:
    docs = pq.read_table(os.path.join(sf_dir, "documents.parquet"))
    rows = take_families(docs.to_pydict(), BASE_DOCS)
    os.makedirs(BASE_DIR, exist_ok=True)
    pq.write_table(docs.take(rows), os.path.join(BASE_DIR, "documents.parquet"))
    vecs = pq.read_table(os.path.join(sf_dir, "embeddings.parquet")).sort_by("vec_id")
    pq.write_table(vecs.slice(0, BASE_VECS), os.path.join(BASE_DIR, "embeddings.parquet"))


def _tail(root_id: int, seed: int) -> str:
    """``make_sf1``'s tail, ``z<id>t<j>``, with the seed as a salt."""
    return " ".join(f"z{root_id}s{seed % 1000}t{j}" for j in range(TAIL_TOKENS))


def documents_table(base: Dict[str, list], seed: int) -> pa.Table:
    roots: Dict[str, int] = {}  # family → its smallest doc_id
    for doc_id, text in zip(base["doc_id"], base["text"]):
        roots[family(text)] = min(doc_id, roots.get(family(text), doc_id))
    out: Dict[str, list] = {"doc_id": [], "text": [], "lang": [], "source": [], "n_chars": []}
    for r in range(REPLICAS):
        for doc_id, text, lang, source in zip(
            base["doc_id"], base["text"], base["lang"], base["source"]
        ):
            text = f"{text} {_tail(roots[family(text)] + r * DOC_ID_OFFSET, seed)}"
            out["doc_id"].append(doc_id + r * DOC_ID_OFFSET)
            out["text"].append(text)
            out["lang"].append(lang)
            out["source"].append(source)
            out["n_chars"].append(len(text))
    return pa.table(
        {
            "doc_id": pa.array(out["doc_id"], type=pa.int64()),
            "text": pa.array(out["text"], type=pa.string()),
            "lang": pa.array(out["lang"], type=pa.string()),
            "source": pa.array(out["source"], type=pa.string()),
            "n_chars": pa.array(out["n_chars"], type=pa.int64()),
        }
    )


def embeddings_table(base: pa.Table) -> pa.Table:
    replicas = [
        base.set_column(0, "vec_id", pa.compute.add(base["vec_id"], r * VEC_ID_OFFSET))
        for r in range(REPLICAS)
    ]
    return pa.concat_tables(replicas)


def write_table_set(out_dir: str, seed: int, tiny: bool = False) -> Dict[str, int]:
    """``documents.parquet`` + ``embeddings.parquet`` under ``out_dir`` —
    the layout ``__spark_entry__`` queries and their oracles read. Returns
    the row counts."""
    docs = pq.read_table(os.path.join(BASE_DIR, "documents.parquet"))
    vecs = pq.read_table(os.path.join(BASE_DIR, "embeddings.parquet"))
    if tiny:
        docs = docs.take(take_families(docs.to_pydict(), 60))
        vecs = vecs.slice(0, 32)
    documents = documents_table(docs.to_pydict(), seed)
    embeddings = embeddings_table(vecs)
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(documents, os.path.join(out_dir, "documents.parquet"))
    pq.write_table(embeddings, os.path.join(out_dir, "embeddings.parquet"))
    return {"docs": documents.num_rows, "vectors": embeddings.num_rows}


def resume_bounds(n_pages: int, increments: int, seed: int) -> List[int]:
    """Growing prefix ends for the resume workload: increment ``j`` offers
    pages ``[0, bounds[j])``; the last bound is ``n_pages``. Cut points are
    seeded so the anti-join sees uneven slices."""
    rng = Random(seed)
    cuts = sorted(rng.sample(range(1, n_pages), increments - 1))
    return cuts + [n_pages]


if __name__ == "__main__":
    parser = argparse.ArgumentParser(description="Rebuild the base slice in perfbench/data/.")
    parser.add_argument("--base-from", required=True, help="an sf0.1 table directory")
    write_base(parser.parse_args().base_from)
