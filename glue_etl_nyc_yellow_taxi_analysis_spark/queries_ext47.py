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

from pyspark.sql import functions as F
from pyspark.sql import types as T

from .operators import multimodal, tar
from .registry import register
from .tables import _t


_N_SHARDS = 8

_MEMBER_SCHEMA = T.StructType(
    [
        T.StructField("shard_id", T.LongType(), False),
        T.StructField("member_idx", T.IntegerType(), True),
        T.StructField("doc_id", T.LongType(), True),
        T.StructField("n_bytes", T.LongType(), True),
        T.StructField("text_md5", T.StringType(), True),
    ]
)


def _member_shard_lane(spark, sf_dir, pack, unpack, errors):
    """The shard round trip every member-archive lane shares: docs →
    _N_SHARDS archives, ``pack(shard_id, members)`` building one from
    its ("{doc_id}.txt", utf-8 text) members in doc_id order → each
    archive walked back by ``unpack(payload)`` → one row per member
    with its position, byte count and content md5.  Fail-soft per
    shard: an ``errors`` exception from ``unpack`` yields one NULL
    marker row, never a dead stage."""
    docs = _t(spark, sf_dir, "documents").select(
        (F.col("doc_id") % _N_SHARDS).alias("shard_id"), "doc_id", "text"
    )

    def pack_shard(sid, pdf):
        members = [
            (f"{int(d)}.txt", ("" if t is None else t).encode("utf-8"))
            for d, t in zip(pdf["doc_id"], pdf["text"])
        ]
        return pack(sid, members)

    def walk(sid, payload):
        try:
            members = unpack(bytes(payload))
        except errors:
            yield sid, None, None, None, None
            return
        for i, (name, data) in enumerate(members):
            n = int(name.removesuffix(".txt"))
            yield sid, i, n, len(data), hashlib.md5(data).hexdigest()

    shards = multimodal._shard_stage(docs, pack_shard)
    return multimodal._row_stage(shards, ("shard_id", "payload"), _MEMBER_SCHEMA, walk)


def q_tar_shard_roundtrip(spark, sf_dir):
    """WebDataset-style shard round trip: docs → ustar shards → walk →
    per-member rows.  See module docstring."""
    return _member_shard_lane(
        spark,
        sf_dir,
        lambda sid, members: tar.tar_container(members),
        tar.parse_tar,
        ValueError,
    )


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

    def pack(sid, members):
        co = zlib.compressobj(6, zlib.DEFLATED, 31)  # wbits 31 = gzip frame
        return co.compress(tar.tar_container(members)) + co.flush()

    return _member_shard_lane(
        spark,
        sf_dir,
        pack,
        lambda payload: tar.parse_tar(zlib.decompress(payload, 31)),
        (ValueError, zlib.error),
    )


register(q_targz_shard_roundtrip, SQL_TAR_SHARD_ROUNDTRIP)
