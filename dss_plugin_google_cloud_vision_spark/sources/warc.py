# -*- coding: utf-8 -*-
"""WARC-style record streams: deterministic synthesis and a
record-boundary parser.

Common-Crawl-native ingest reads concatenated WARC records — a header
block ("WARC/1.0", named fields, Content-Length), CRLF-CRLF, the payload
bytes, CRLF-CRLF — from large archive files. The operator here is the
*parser*: ``parse_warc_stream`` scans a stream of concatenated records
and emits one row per record with its byte offset, total length, and a
payload digest, capturing malformation in error columns instead of
aborting the task (same error-column discipline as the extraction
kernels; reference taxonomy semantics from
dataiku/dss-plugin-google-cloud-vision python-lib/api_parallelizer.py:61-79 —
a bad record never kills the batch).

``warc_record_column`` / ``build_warc_shards`` are the deterministic
synthesis side (tests/bench only): they build the record bytes
analytically from the documents table, so the oracle can predict every
offset with prefix sums over computed record lengths — the parser is
checked against arithmetic, never against itself (CLAUDE.md
"datagen is analytic"). Production ingest would read real archive blobs
via ``sources.ingest`` binaryFile and feed the same parser.

Scale shape: parsing is embarrassingly parallel per blob (mapInPandas,
one pass, no shuffle); offsets are blob-relative so no cross-blob state
exists. The synthesis side's per-shard ``collect_list`` concat is
test-harness-only and bounded by the shard count chosen for the test.
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

WARC_MAGIC = "WARC/1.0\r\n"
# record = MAGIC + "WARC-Record-ID: {id}\r\nContent-Length: {n}\r\n\r\n"
#          + payload + "\r\n\r\n"
_TRAILER_CHARS = 4  # \r\n\r\n


def warc_record_column(id_col: str = "doc_id", text_col: str = "text") -> Column:
    """The record string for one document. Content-Length counts PAYLOAD
    BYTES (UTF-8), as real WARC does — ``octet_length``, not character
    length, so CJK documents round-trip."""
    return F.concat(
        F.lit(WARC_MAGIC),
        F.lit("WARC-Record-ID: "),
        F.col(id_col).cast("string"),
        F.lit("\r\nContent-Length: "),
        F.octet_length(F.col(text_col)).cast("string"),
        F.lit("\r\n\r\n"),
        F.col(text_col),
        F.lit("\r\n\r\n"),
    )


def build_warc_shards(
    df: DataFrame, n_shards: int = 16, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Deterministic synthetic WARC stream table: shard = id % n_shards,
    blob = records concatenated in id order (``array_sort`` over
    (id, record) structs — ``collect_list`` order is not deterministic on
    its own). Test/bench harness; see module docstring."""
    recs = df.select(
        (F.col(id_col) % n_shards).cast("int").alias("shard"),
        F.struct(F.col(id_col).alias("i"), warc_record_column(id_col, text_col).alias("r")).alias(
            "rec"
        ),
    )
    return recs.groupBy("shard").agg(
        F.array_join(
            F.transform(F.array_sort(F.collect_list("rec")), lambda x: x["r"]), ""
        ).alias("blob")
    )


PARSED_SCHEMA = StructType(
    [
        StructField("shard", IntegerType()),
        StructField("rec_id", LongType()),
        StructField("offset", LongType()),
        StructField("length", LongType()),
        StructField("payload_md5", StringType()),
        StructField("error", StringType()),
    ]
)


def _scan_blob(shard: int, blob: bytes):
    """One pass over a concatenated-record byte stream. Yields
    (shard, rec_id, offset, length, payload_md5, error) tuples; on the
    first malformed record it yields a single error row anchored at the
    failing offset and stops (without a valid Content-Length there is no
    safe resync point — the remainder is undecodable by construction)."""
    magic = WARC_MAGIC.encode()
    pos, n = 0, len(blob)
    while pos < n:
        if not blob.startswith(magic, pos):
            yield (shard, -1, pos, n - pos, "", "BadMagic: record header not found")
            return
        header_end = blob.find(b"\r\n\r\n", pos)
        if header_end < 0:
            yield (shard, -1, pos, n - pos, "", "TruncatedHeader: no header terminator")
            return
        rec_id, content_len = None, None
        for line in blob[pos + len(magic) : header_end].split(b"\r\n"):
            name, sep, value = line.partition(b": ")
            if not sep:
                yield (shard, -1, pos, n - pos, "", "BadHeaderLine: missing separator")
                return
            if name == b"WARC-Record-ID":
                rec_id = int(value)
            elif name == b"Content-Length":
                content_len = int(value)
        if rec_id is None or content_len is None:
            yield (shard, -1, pos, n - pos, "", "MissingField: need record id and length")
            return
        payload_start = header_end + 4
        payload_end = payload_start + content_len
        if payload_end + _TRAILER_CHARS > n or blob[payload_end : payload_end + 4] != b"\r\n\r\n":
            yield (shard, rec_id, pos, n - pos, "", "TruncatedPayload: length overruns stream")
            return
        payload = blob[payload_start:payload_end]
        yield (
            shard,
            rec_id,
            pos,
            (payload_end + _TRAILER_CHARS) - pos,
            hashlib.md5(payload).hexdigest(),
            "",
        )
        pos = payload_end + _TRAILER_CHARS


def parse_warc_stream(blobs: DataFrame) -> DataFrame:
    """Parse (shard int, blob string) rows into per-record rows:
    shard, rec_id, byte offset, total record byte length, payload md5,
    error ('' on success). Offsets are blob-relative byte positions over
    the UTF-8 encoding. Mirrored analytically by
    ``oracles.warc_records_sql`` (prefix sums over computed record
    lengths — the oracle never runs a parser)."""

    def parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            rows = []
            for shard, blob in zip(batch["shard"], batch["blob"]):
                rows.extend(_scan_blob(int(shard), blob.encode("utf-8")))
            yield pd.DataFrame(
                rows, columns=["shard", "rec_id", "offset", "length", "payload_md5", "error"]
            )

    return blobs.mapInPandas(parse, PARSED_SCHEMA)
