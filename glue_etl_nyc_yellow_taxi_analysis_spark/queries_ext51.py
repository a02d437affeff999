"""Extended inventory LI — MP3 demux accounting (round 11).

``q_mp3_framewalk`` closes the media matrix's most common wire format
at the DEMUX level (the ``q_avi_framesample`` discipline: walk the
container math, decode nothing): each doc becomes a real MPEG-1
Layer III stream (operators/mp3.py — optional ID3v2.4 syncsafe tag,
per-frame 4-byte headers, header-mandated payload extents), then the
walker re-derives frame count, byte total, exact integer duration and
centi-kbps bitrate profile purely from the header math.  A determinis-
tic subset of docs is truncated mid-frame — the fail-soft path
accounts them as NULL marker rows, and the oracle pins those too.

Scale shape: one stateless Arrow map pass — build + walk never leave
the input partition, no shuffle at all.  Audio DECODE stays a
documented seam (Huffman/IMDCT belong to a codec library); everything
a corpus-stats or sharding pass needs (duration, bitrate, frame
boundaries) is exact here.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql import types as T

from .operators import mp3, multimodal
from .paths import scratch
from .registry import register
from .tables import _t


_MAX_FRAMES = 25  # n_frames = 1 + len(text) % 24  ∈  [1, 25)


def _framewalk(docs):
    """The build+walk demux stage over a (doc_id, text) frame — shared
    by the batch lane and the streaming twin (both stateless Arrow
    passes, so the same function serves either execution mode)."""
    build, walk = mp3.mp3_container, mp3.walk_mp3
    spf = mp3.SAMPLES_PER_FRAME

    out_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType(), True),
            T.StructField("sr", T.IntegerType(), True),
            T.StructField("n_frames", T.IntegerType(), True),
            T.StructField("total_bytes", T.LongType(), True),
            T.StructField("duration_us", T.LongType(), True),
            T.StructField("avg_centikbps", T.LongType(), True),
        ]
    )

    def row(d, t):
        d = int(d)
        n = 1 + (len("" if t is None else t) % 24)
        frames = [(1 + (d + i) % 14, (d + i) % 2) for i in range(n)]
        data = build(frames, d % 3, id3_payload=bytes(d % 64))
        if d % 50 == 7:
            data = data[:-1]  # hostile: truncated final frame
        try:
            sr, walked = walk(data)
        except ValueError:
            yield d, None, None, None, None, None
            return
        yield (
            d,
            sr,
            len(walked),
            len(data),
            len(walked) * spf * 1_000_000 // sr,
            sum(k for k, _ in walked) * 100 // len(walked),
        )

    return multimodal._row_stage(docs, ("doc_id", "text"), out_schema, row)


def q_mp3_framewalk(spark, sf_dir):
    """MP3 demux round trip: docs → real MPEG-1 Layer III streams →
    header-math walk → per-doc accounting (see module docstring).

    Frame spec per doc (replayed verbatim by the oracle):
    samplerate index doc_id % 3, n_frames 1 + len(text) % 24, frame i
    bitrate index 1 + (doc_id + i) % 14 with padding (doc_id + i) % 2,
    ID3v2 payload of doc_id % 64 bytes (0 → no tag); docs with
    doc_id % 50 == 7 lose their final byte (truncated last frame)."""
    return _framewalk(_t(spark, sf_dir, "documents").select("doc_id", "text"))


def q_stream_mp3_ingest(spark, sf_dir):
    """The MP3 demux IN-STREAM: documents arrive as a file-source
    stream (two parquet shards, maxFilesPerTrigger=1 → ≥2
    micro-batches) and the whole build+walk accounting runs as the
    same stateless Arrow pass — append mode, no watermark, no state
    store; the hostile truncated-doc rows flow through the stream's
    fail-soft path too.  The drained sink must equal q_mp3_framewalk
    row for row, so this lane shares its oracle VERBATIM.  Scale
    posture: per-batch linear demux work, zero shuffle; payload bytes
    never leave the walking executor."""
    from .streaming.ingest import drain, stream_files

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    # content-sized source files (the ext48 shard rule: file count is
    # the per-trigger parallelism — the fixed repartition(2)/one-file
    # trigger variant measured 7.6× wall at 10× rows because each
    # micro-batch ran ~1 task while per-doc demux work grew 10×);
    # half the files per trigger keeps ≥2 micro-batches at every SF
    n_files = max(2, -(-d.count() // 2500))
    src_dir = scratch("sg_mp3_src_")
    d.repartition(n_files).write.mode("overwrite").parquet(src_dir)

    stream = stream_files(
        spark, src_dir, d.schema, max_files_per_trigger=max(1, n_files // 2)
    )
    return drain(_framewalk(stream), "sg_stream_mp3_ingest")


SQL_MP3_FRAMEWALK = f"""
WITH f AS (
  SELECT doc_id,
         CASE doc_id % 3 WHEN 0 THEN 44100 WHEN 1 THEN 48000
              ELSE 32000 END AS sr,
         1 + (length(coalesce(text, '')) % 24) AS n_frames
  FROM documents
), per_frame AS (
  -- outer index named k, not i (the DUCK_HASH32 lambda-shadow rule)
  SELECT f.doc_id, f.sr, f.n_frames,
         list_extract(
           LIST_VALUE(32,40,48,56,64,80,96,112,128,160,192,224,256,320),
           CAST(1 + (f.doc_id + t.k) % 14 AS INTEGER)) AS kbps,
         CAST((f.doc_id + t.k) % 2 AS BIGINT) AS pad
  FROM f, range(0, {_MAX_FRAMES}) t(k) WHERE t.k < f.n_frames
), agg AS (
  SELECT doc_id, sr, n_frames,
         CAST(SUM(144 * kbps * 1000 // sr + pad) AS BIGINT) AS frame_bytes,
         CAST(SUM(kbps) AS BIGINT) AS sum_kbps
  FROM per_frame GROUP BY doc_id, sr, n_frames
)
SELECT doc_id,
       CASE WHEN doc_id % 50 = 7 THEN NULL ELSE sr END AS sr,
       CASE WHEN doc_id % 50 = 7 THEN NULL ELSE n_frames END AS n_frames,
       CASE WHEN doc_id % 50 = 7 THEN NULL ELSE frame_bytes
            + CASE WHEN doc_id % 64 = 0 THEN 0 ELSE 10 + doc_id % 64 END
       END AS total_bytes,
       CASE WHEN doc_id % 50 = 7 THEN NULL
            ELSE CAST(n_frames AS BIGINT) * 1152 * 1000000 // sr
       END AS duration_us,
       CASE WHEN doc_id % 50 = 7 THEN NULL
            ELSE sum_kbps * 100 // n_frames END AS avg_centikbps
FROM agg
"""

register(q_mp3_framewalk, SQL_MP3_FRAMEWALK)
register(q_stream_mp3_ingest, SQL_MP3_FRAMEWALK, bench=False)


# --------------------------------------------------------------------------
# REP politeness, per-URL: batch slots + the stateful streaming twin
# --------------------------------------------------------------------------

def q_crawl_slots(spark, sf_dir):
    """Per-URL fetch slots under REP politeness: the gated frontier's
    allowed URLs get a per-host slot (0-based, url order) and a
    scheduled_s = slot * Crawl-delay — the row-level expansion of
    q_crawl_schedule's per-host plan (a real fetcher consumes exactly
    this table).  One keyed window over the host partition — the
    per-key two-phase rule applies only to GLOBAL orderings; a host's
    queue is the natural partition here."""
    from pyspark.sql import Window

    from .operators import robots as R
    from .queries_ext48 import _robots_frontier

    frontier, robots = _robots_frontier(spark, sf_dir, materialize_hosts=True)
    rules = R.parse_robots(robots)
    verdicts = R.gate_frontier(frontier, rules, ["doc_id", "url"])
    allowed = (
        verdicts.filter(F.col("is_allowed") == 1).select("host", "url").distinct()
    )
    pace = F.coalesce("crawl_delay_s", F.lit(1))
    slot = F.row_number().over(Window.partitionBy("host").orderBy("url")) - 1
    return (
        allowed.join(F.broadcast(R.parse_crawl_delay(robots)), "host", "left")
        .select(
            "host",
            "url",
            slot.cast("int").alias("slot"),
            (slot * pace).cast("bigint").alias("scheduled_s"),
        )
    )


def _sql_crawl_slots(order_expr: str) -> str:
    from .queries_ext48 import _SQL_REP_CTES

    return f"""{_SQL_REP_CTES}, per_url AS (
  SELECT DISTINCT f.host, f.url, COALESCE(b.b.a, 1) AS is_allowed
  FROM frontier f LEFT JOIN best b ON f.doc_id = b.doc_id AND f.url = b.url
), delays AS (
  SELECT host,
         max(CAST(trim(substr(trim(line), 13)) AS INTEGER)) AS crawl_delay_s
  FROM (SELECT host, unnest(string_split(txt, chr(10))) AS line FROM robots)
  WHERE lower(trim(line)) LIKE 'crawl-delay:%'
  GROUP BY host
)
SELECT p.host, p.url,
       CAST(row_number() OVER (PARTITION BY p.host ORDER BY {order_expr}) - 1
            AS INTEGER) AS slot,
       CAST((row_number() OVER (PARTITION BY p.host ORDER BY {order_expr}) - 1)
            * COALESCE(d.crawl_delay_s, 1) AS BIGINT) AS scheduled_s
FROM per_url p LEFT JOIN delays d ON p.host = d.host
WHERE p.is_allowed = 1
"""


register(q_crawl_slots, _sql_crawl_slots("p.url"))


def q_stream_crawl_pacing(spark, sf_dir):
    """The politeness scheduler IN-STREAM: frontier URLs arrive over
    three micro-batches (one file per trigger, mtime-ordered), and a
    per-host applyInPandasWithState token counter hands out fetch
    slots that CONTINUE across batches — the state machine a real
    crawl coordinator runs.  Slot order is (arrival batch, url); the
    drained sink must equal the batch computation row for row, which
    the shared slots oracle replays with the same ordering.

    Scale shape: state is one integer per host (|hosts|-bounded store);
    each micro-batch shuffles only its own arrivals by host."""
    import os
    import time

    from pyspark.sql import types as T2

    from .operators import robots as R
    from .queries_ext48 import _robots_frontier
    from .streaming.ingest import drain, stream_files

    frontier, robots = _robots_frontier(spark, sf_dir, materialize_hosts=True)
    rules = R.parse_robots(robots)
    verdicts = R.gate_frontier(frontier, rules, ["doc_id", "url"])
    pace = F.coalesce("crawl_delay_s", F.lit(1))
    allowed = (
        verdicts.filter(F.col("is_allowed") == 1)
        .select("host", "url")
        .distinct()
        .join(F.broadcast(R.parse_crawl_delay(robots)), "host", "left")
        .select("host", "url", pace.alias("crawl_delay_s"))
    )
    # three deterministic arrival waves by length(url) % 3, one FILE
    # each with strictly increasing mtimes (FileStreamSource orders by
    # mtime) so batch order — and therefore slot order — is replayable.
    # ONE partitionBy write job builds all three waves (the r11 probe
    # measured the per-wave loop re-running the whole robots gate three
    # times — gate + distinct + pacing join per wave); the frontier
    # pipeline itself runs exactly once.
    src_dir = scratch("sg_pacing_src_")
    pdir = scratch("sg_pacing_part_")
    (
        allowed.withColumn("wave", (F.length("url") % 3).cast("int"))
        .coalesce(1)
        .write.mode("overwrite")
        .partitionBy("wave")
        .parquet(pdir)
    )
    for b in range(3):
        wdir = f"{pdir}/wave={b}"
        if not os.path.isdir(wdir):
            # an empty wave writes no partition dir: emit a 0-row file
            # so the stream still sees three mtime-ordered batches
            allowed.limit(0).coalesce(1).write.mode("overwrite").parquet(wdir)
        src = next(f for f in os.listdir(wdir) if f.endswith(".parquet"))
        dst = f"{src_dir}/wave{b}.parquet"
        os.rename(f"{wdir}/{src}", dst)
        ts = time.time() + b * 2
        os.utime(dst, (ts, ts))

    out_schema = T2.StructType(
        [
            T2.StructField("host", T2.StringType(), True),
            T2.StructField("url", T2.StringType(), True),
            T2.StructField("slot", T2.IntegerType(), True),
            T2.StructField("scheduled_s", T2.LongType(), True),
        ]
    )
    state_schema = T2.StructType([T2.StructField("next_slot", T2.IntegerType(), True)])

    def grant(key, pdfs, state):
        import pandas as pd2

        base = state.get[0] if state.exists else 0
        for pdf in pdfs:
            pdf = pdf.sort_values("url")
            n = len(pdf)
            slots = list(range(base, base + n))
            delay = [1 if pd2.isna(d) else int(d) for d in pdf["crawl_delay_s"]]
            yield pd2.DataFrame(
                {
                    "host": pdf["host"],
                    "url": pdf["url"],
                    "slot": slots,
                    "scheduled_s": [s * d for s, d in zip(slots, delay)],
                }
            )
            base += n
        state.update((base,))

    stream = stream_files(spark, src_dir, allowed.schema, max_files_per_trigger=1)
    paced = stream.groupBy("host").applyInPandasWithState(
        grant, out_schema, state_schema, "append", "NoTimeout"
    )
    # size the state store by KEY CARDINALITY, not the session's batch
    # shuffle width: state is one integer per host, so a partition per
    # ~64 hosts is plenty — with the session default every micro-batch
    # paid (shuffle.partitions - |hosts|) empty Python state tasks
    # (3 batches x 32 partitions for ~11 hosts at sf0.1).  Content-
    # derived (counted from the written waves), capped at the session
    # default so a real cluster's wider setting still wins at scale.
    n_hosts = (
        spark.read.parquet(src_dir).select("host").distinct().count()
    )
    shuffle_conf = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        shuffle_n = int(shuffle_conf)
    except (TypeError, ValueError):
        # some platforms report 'auto' — fall back to the core count
        shuffle_n = spark.sparkContext.defaultParallelism
    n_state = max(1, min(shuffle_n, -(-n_hosts // 64)))
    spark.conf.set("spark.sql.shuffle.partitions", str(n_state))
    try:
        return drain(paced, "sg_stream_crawl_pacing")
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", shuffle_conf)


register(
    q_stream_crawl_pacing,
    _sql_crawl_slots(
        "length(p.url) % 3, p.url"
    ),
)


def q_mp3_metadata(spark, sf_dir):
    """ID3v2.4 metadata round trip — the tag layer an audio-curation
    pass reads before any signal work: each doc's MP3 carries real
    TIT2/TPE1/TCON text frames (UTF-8 encoding byte for odd docs,
    Latin-1 for even — the parser must be encoding-blind), plus one
    frame of a FOREIGN id (WXXX-shaped, skipped by size per the spec's
    forward-compat rule); the walk recovers the text fields and the
    tag/audio byte split.  Oracle replays every field from documents.

    Scale shape: one stateless Arrow map pass, no shuffle."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "source")
    build, walk = mp3.mp3_container, mp3.walk_mp3
    frames_of, parse_tag = mp3.id3_frames, mp3.parse_id3

    out_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType(), True),
            T.StructField("title", T.StringType(), True),
            T.StructField("artist", T.StringType(), True),
            T.StructField("genre", T.StringType(), True),
            T.StructField("n_text_frames", T.IntegerType(), True),
            T.StructField("tag_bytes", T.LongType(), True),
            T.StructField("audio_bytes", T.LongType(), True),
        ]
    )

    def row(d, lang, src):
        d = int(d)
        fields = {
            "TIT2": f"Document {d}",
            "TPE1": "" if src is None else str(src),
            "TCON": "" if lang is None else str(lang),
        }
        payload = frames_of(fields, utf8=bool(d % 2))
        # a foreign (non-text) frame the walker must skip by size
        payload += b"WXXX" + bytes((0, 0, 0, 5)) + b"\x00\x00" + b"url:x"
        data = build([(1 + d % 14, 0)], d % 3, id3_payload=payload)
        tag_len = 10 + len(payload)
        got = parse_tag(data[:tag_len])
        walk(data)  # fail-hard: the audio frame after the tag must walk
        yield (
            d,
            got.get("TIT2"),
            got.get("TPE1"),
            got.get("TCON"),
            len(got),
            tag_len,
            len(data) - tag_len,
        )

    return multimodal._row_stage(
        docs, ("doc_id", "lang", "source"), out_schema, row
    )


# tag bytes: 10 (header) + per text frame (10 + 1 enc + len(value)) +
# the 15-byte foreign frame (10 + 5); audio bytes: one frame of bitrate index
# 1 + d % 14 at samplerate doc_id % 3, padding 0
SQL_MP3_METADATA = """
SELECT doc_id,
       'Document ' || doc_id AS title,
       coalesce(source, '') AS artist,
       coalesce(lang, '') AS genre,
       3 AS n_text_frames,
       CAST(10
            + 11 + length('Document ' || doc_id)
            + 11 + length(coalesce(source, ''))
            + 11 + length(coalesce(lang, ''))
            + 15 AS BIGINT) AS tag_bytes,
       CAST(144 * list_extract(
              LIST_VALUE(32,40,48,56,64,80,96,112,128,160,192,224,256,320),
              CAST(1 + doc_id % 14 AS INTEGER)) * 1000
            // (CASE doc_id % 3 WHEN 0 THEN 44100 WHEN 1 THEN 48000
                ELSE 32000 END) AS BIGINT) AS audio_bytes
FROM documents
"""

register(q_mp3_metadata, SQL_MP3_METADATA)


def q_robots_sitemaps(spark, sf_dir):
    """robots.txt Sitemap-directive discovery (the sitemaps.org
    cross-submission channel): per-host ``Sitemap:`` lines extracted
    case-insensitively (the even mirrors publish the lowercase form),
    multiple directives per host preserved (the hub lists two),
    relative URLs raise.  Completes the crawl's discovery inputs:
    WARC captures + page links + sitemap.xml + robots pointers.

    Scale shape: |hosts|-bounded everywhere — distinct hosts, one
    line explode per robots body, one filter."""
    from .operators import robots as R
    from .queries_ext48 import _robots_frontier

    _, robots = _robots_frontier(spark, sf_dir)
    return R.parse_sitemap_urls(robots)


def _sql_robots_sitemaps():
    from .queries_ext48 import _SQL_REP_CTES

    return f"""{_SQL_REP_CTES}
SELECT host, trim(substr(trim(line), 9)) AS sitemap_url
FROM (SELECT host, unnest(string_split(txt, chr(10))) AS line FROM robots)
WHERE lower(trim(line)) LIKE 'sitemap:%'
"""


register(q_robots_sitemaps, _sql_robots_sitemaps(), bench=False)


def q_warc_revisit(spark, sf_dir):
    """WARC revisit records (ISO 28500 §6.7.2, the identical-payload-
    digest profile — how CommonCrawl stores re-crawled duplicates):
    every doc is captured once as a response record; docs with
    doc_id % 3 == 1 are captured AGAIN from a mirror URI as a REVISIT
    record — no payload block, WARC-Refers-To naming the original's
    record id, WARC-Payload-Digest carrying the shared md5.  The walk
    resolves each revisit against its shard's referenced response and
    VERIFIES the digest agreement (a mismatched or dangling reference
    fails the shard into the fail-soft marker path); emitted rows
    carry the RESOLVED content digest, so dedup-by-reference is
    invisible to downstream content accounting.

    Scale shape: one keyed shuffle to form shards (content-sized
    count, the ext48 rule), then linear walks; revisit resolution is
    an in-shard dict lookup (originals precede their revisits by
    construction, the convention CommonCrawl's sorted captures give)."""
    import hashlib

    from .operators import html as H
    from .operators import warc
    from .queries_ext48 import _URI_PREFIX, _n_shards

    base = _t(spark, sf_dir, "documents")
    n_shards = _n_shards(base)
    docs = base.select(
        (F.col("doc_id") % n_shards).alias("shard_id"), "doc_id", "text", "source"
    )
    synth = H.synth_html
    warcinfo, response = warc.warcinfo_record, warc.response_record
    revisit, http_response = warc.revisit_record, warc.http_response
    container, parse = warc.warc_container, warc.parse_warc
    split_http = warc.split_http_response
    uri_prefix = _URI_PREFIX
    mirror_prefix = "https://mirror.example.org/doc/"

    def pack(shard_id, pdf):
        records = [warcinfo("software: revisit-lane\r\n")]
        for d, t, s in zip(pdf["doc_id"], pdf["text"], pdf["source"]):
            d = int(d)
            page = synth(d, t, s).encode("utf-8")
            uri = f"{uri_prefix}{d}"
            records.append(response(uri, http_response(page)))
            if d % 3 == 1:
                digest = hashlib.md5(page).hexdigest()
                records.append(revisit(f"{mirror_prefix}{d}", uri, digest))
        return container(records)

    out_schema = T.StructType(
        [
            T.StructField("shard_id", T.LongType(), False),
            T.StructField("record_idx", T.IntegerType(), True),
            T.StructField("doc_id", T.LongType(), True),
            T.StructField("is_revisit", T.IntegerType(), True),
            T.StructField("n_bytes", T.LongType(), True),
            T.StructField("payload_md5", T.StringType(), True),
        ]
    )

    def walk(sid, payload):
        by_rid: dict[str, str] = {}
        idx = 0
        for headers, block in parse(bytes(payload)):
            wt = headers.get("warc-type")
            if wt == "response":
                uri = headers["warc-target-uri"]
                _, _, body = split_http(block)
                digest = hashlib.md5(body).hexdigest()
                by_rid[headers["warc-record-id"]] = digest
                doc_id = int(uri.removeprefix(uri_prefix))
                yield sid, idx, doc_id, 0, len(body), digest
                idx += 1
            elif wt == "revisit":
                ref = headers["warc-refers-to"]
                if ref not in by_rid:
                    raise ValueError("dangling WARC-Refers-To")
                claimed = headers["warc-payload-digest"].removeprefix("md5:")
                if claimed != by_rid[ref]:
                    raise ValueError("revisit digest disagreement")
                uri = headers["warc-target-uri"]
                doc_id = int(uri.removeprefix(mirror_prefix))
                yield sid, idx, doc_id, 1, 0, by_rid[ref]
                idx += 1

    shards = multimodal._shard_stage(docs, pack)
    return multimodal._row_stage(
        shards, ("shard_id", "payload"), out_schema, walk, (ValueError, KeyError)
    )


def _sql_warc_revisit():
    from .operators import html as H
    from .queries_ext48 import _DOCS_PER_SHARD

    html = H.synth_html_sql()
    return f"""
WITH k AS (
  SELECT greatest(1, CAST(ceil(COUNT(*) / {_DOCS_PER_SHARD}.0) AS BIGINT))
      AS n FROM documents
), recs AS (
  SELECT doc_id % (SELECT n FROM k) AS shard_id, doc_id,
         0 AS is_revisit,
         CAST(octet_length(encode({html})) AS BIGINT) AS n_bytes,
         md5({html}) AS payload_md5
  FROM documents
  UNION ALL
  SELECT doc_id % (SELECT n FROM k), doc_id, 1,
         CAST(0 AS BIGINT), md5({html})
  FROM documents WHERE doc_id % 3 = 1
)
SELECT shard_id,
       CAST(row_number() OVER (PARTITION BY shard_id
                               ORDER BY doc_id, is_revisit) - 1 AS INTEGER)
           AS record_idx,
       doc_id, is_revisit, n_bytes, payload_md5
FROM recs
"""


register(q_warc_revisit, _sql_warc_revisit(), bench=False)
