# -*- coding: utf-8 -*-
"""CCNet-style text normalization and normalization-keyed exact dedup.

Web corpora are full of documents that differ only in case, punctuation,
digits, or whitespace (mirrors re-rendering the same article, print
pages, AMP variants). CCNet hashes a NORMALIZED form of each paragraph
precisely so its dedup catches these; this module is the document-grain
form of that rule: normalize → md5 → the established exact-dedup shapes.

Normalization rules (applied in order, one codegen projection):
1. lowercase;
2. digits → ``0`` (``[0-9]`` class only — CCNet's digit folding);
3. strip every character outside ``[a-z0-9 ]`` (ASCII-conservative on
   purpose: Java regex and RE2 agree exactly on these explicit classes,
   where Unicode property classes are dialect-trapped — the same
   cross-engine reasoning as CLAUDE.md's ln rule);
4. collapse runs of spaces and trim.

The dedup is the md5-groupBy shape of ``dedup.exact_dedup_groups``
(bucketed, map-combinable), keyed on the normalized fingerprint, with an
extra ``n_distinct_raw`` column — how many RAW variants the group
collapsed, i.e. the value-add over raw exact dedup (raw-identical copies
alone leave n_distinct_raw = 1).

Reference anchor: the reference plugin's only text canonicalization is
language-code mapping (dataiku/dss-plugin-google-cloud-vision
python-lib/language_dict.py); content normalization is part of this
engine's LLM-pipeline layer (rule set follows the public CCNet paper's
normalization step).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def normalized_text_column(text_col: str = "text") -> Column:
    """The module-docstring normalization as one built-in projection."""
    lowered = F.lower(F.col(text_col))
    digits_folded = F.regexp_replace(lowered, "[0-9]", "0")
    stripped = F.regexp_replace(digits_folded, "[^a-z0-9 ]", "")
    return F.trim(F.regexp_replace(stripped, " +", " "))


def normalized_dedup_groups(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Duplicate groups under the normalized fingerprint: one row per
    group with >1 member — (id of the kept representative = min id,
    n_copies, n_distinct_raw). ``n_distinct_raw > 1`` marks groups ONLY
    normalization could find (case/punct/digit variants); the shuffle
    key is the 32-char md5, uniform regardless of content skew."""
    fingerprinted = df.select(
        F.col(id_col), F.md5(normalized_text_column(text_col)).alias("_nfp"), F.col(text_col)
    )
    return (
        fingerprinted.groupBy("_nfp")
        .agg(
            F.min(id_col).alias(id_col),
            F.count("*").cast("bigint").alias("n_copies"),
            F.countDistinct(text_col).cast("bigint").alias("n_distinct_raw"),
        )
        .filter(F.col("n_copies") > 1)
        .drop("_nfp")
    )

