"""Extended inventory XLVII — tar shard-archive lane (round 9).

Training corpora ship as tar shards (the WebDataset convention: one
member per sample), so archive walking belongs next to the RIFF/AVI
container walkers.  ``operators/tar.py`` builds and parses ustar
shards with per-header checksum verification; this lane round-trips
the documents table through real shards:

  group docs into 8 shards (doc_id % 8) → one deterministic ustar
  archive per shard (members "{doc_id}.txt", sorted by doc_id) → walk
  every shard back (checksum-verified headers, 512-byte padding,
  prefix handling) → re-emit one row per member with its position,
  byte count, and content md5.

The oracle replays shard assignment, member ORDER (row_number within
shard), sizes, and the md5 of each document's text — a walker that
mis-reads an octal size field, drops padding wrong, or reorders
members fails the value hash.  Scale shape: ONE keyed shuffle to form
shards (shard construction is inherently a grouping op), then linear
walks; shard payloads never shuffle again.
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .operators import tar
from .registry import register
from .tables import _t


_N_SHARDS = 8

_SHARD_SCHEMA = T.StructType(
    [
        T.StructField("shard_id", T.LongType(), False),
        T.StructField("payload", T.BinaryType(), True),
    ]
)

_MEMBER_SCHEMA = T.StructType(
    [
        T.StructField("shard_id", T.LongType(), False),
        T.StructField("member_idx", T.IntegerType(), True),
        T.StructField("doc_id", T.LongType(), True),
        T.StructField("n_bytes", T.LongType(), True),
        T.StructField("text_md5", T.StringType(), True),
    ]
)


def q_tar_shard_roundtrip(spark, sf_dir):
    """WebDataset-style shard round trip: docs → ustar shards → walk →
    per-member rows.  See module docstring."""
    docs = _t(spark, sf_dir, "documents").select(
        (F.col("doc_id") % _N_SHARDS).alias("shard_id"), "doc_id", "text"
    )

    # both params annotated: a pdf-only hint is ambiguous to PySpark's
    # eval-type inference (it warns and falls back on every run)
    def build(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("doc_id")
        members = [
            (f"{int(d)}.txt", ("" if t is None else t).encode("utf-8"))
            for d, t in zip(pdf["doc_id"], pdf["text"])
        ]
        return pd.DataFrame(
            [(int(key[0]), tar.tar_container(members))],
            columns=["shard_id", "payload"],
        )

    shards = docs.groupBy("shard_id").applyInPandas(build, _SHARD_SCHEMA)

    def walk(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for sid, payload in zip(pdf["shard_id"], pdf["payload"]):
                # fail-soft per shard: one corrupt archive yields one
                # marker row, never a dead stage
                try:
                    members = tar.parse_tar(bytes(payload))
                except ValueError:
                    rows.append((sid, None, None, None, None))
                    continue
                for i, (name, data) in enumerate(members):
                    rows.append(
                        (
                            sid,
                            i,
                            int(name.removesuffix(".txt")),
                            len(data),
                            hashlib.md5(data).hexdigest(),
                        )
                    )
            yield pd.DataFrame(
                rows,
                columns=[
                    "shard_id",
                    "member_idx",
                    "doc_id",
                    "n_bytes",
                    "text_md5",
                ],
            )

    return shards.mapInPandas(walk, _MEMBER_SCHEMA)


SQL_TAR_SHARD_ROUNDTRIP = f"""
SELECT doc_id % {_N_SHARDS} AS shard_id,
       CAST(row_number() OVER (PARTITION BY doc_id % {_N_SHARDS}
                               ORDER BY doc_id) - 1 AS INTEGER)
         AS member_idx,
       doc_id,
       CAST(octet_length(encode(COALESCE(text, ''))) AS BIGINT) AS n_bytes,
       md5(COALESCE(text, '')) AS text_md5
FROM documents
"""

register(q_tar_shard_roundtrip, SQL_TAR_SHARD_ROUNDTRIP)


def q_targz_shard_roundtrip(spark, sf_dir):
    """The wire form shards actually ship in: the same ustar archives
    gzip-framed (RFC 1952 header + deflate + CRC32/ISIZE trailer,
    stdlib zlib — the PNG codec's deflate precedent), walked back
    through gunzip → checksum-verified tar parse.  The gzip trailer's
    CRC32 covers the whole archive, so a single flipped byte anywhere
    in the compressed stream fails loudly; the decoded rows — and the
    oracle — are identical to the uncompressed lane's."""
    import zlib

    docs = _t(spark, sf_dir, "documents").select(
        (F.col("doc_id") % _N_SHARDS).alias("shard_id"), "doc_id", "text"
    )

    def build(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("doc_id")
        members = [
            (f"{int(d)}.txt", ("" if t is None else t).encode("utf-8"))
            for d, t in zip(pdf["doc_id"], pdf["text"])
        ]
        co = zlib.compressobj(6, zlib.DEFLATED, 31)  # wbits 31 = gzip frame
        gz = co.compress(tar.tar_container(members)) + co.flush()
        return pd.DataFrame(
            [(int(key[0]), gz)], columns=["shard_id", "payload"]
        )

    shards = docs.groupBy("shard_id").applyInPandas(build, _SHARD_SCHEMA)

    def walk(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for sid, payload in zip(pdf["shard_id"], pdf["payload"]):
                try:
                    raw = zlib.decompress(bytes(payload), 31)
                    members = tar.parse_tar(raw)
                except (ValueError, zlib.error):
                    rows.append((sid, None, None, None, None))
                    continue
                for i, (name, data) in enumerate(members):
                    rows.append(
                        (
                            sid,
                            i,
                            int(name.removesuffix(".txt")),
                            len(data),
                            hashlib.md5(data).hexdigest(),
                        )
                    )
            yield pd.DataFrame(
                rows,
                columns=[
                    "shard_id",
                    "member_idx",
                    "doc_id",
                    "n_bytes",
                    "text_md5",
                ],
            )

    return shards.mapInPandas(walk, _MEMBER_SCHEMA)


register(q_targz_shard_roundtrip, SQL_TAR_SHARD_ROUNDTRIP)
