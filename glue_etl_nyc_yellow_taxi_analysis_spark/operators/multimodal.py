"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Pattern for image/audio/video at 100 TB: store the payload as a ``binary``
column (or a pointer to object storage) next to typed metadata; run decode /
feature-extraction as Arrow-batched ``mapInPandas`` so each Python worker
processes whole record batches, never single rows.

Decode support is two-tier:

* REAL, stdlib-only parsers for headerful uncompressed formats —
  PCM16 WAV (RIFF chunk walk via ``struct``), 24bpp BMP (BITMAPFILEHEADER
  + BITMAPINFOHEADER, bottom-up or top-down, row padding stripped) and
  YUV4MPEG2 video (stream-header tag walk, per-frame parameter scan,
  4:2:0 plane split).  These back ``decode_wav`` / ``decode_bmp`` /
  ``decode_y4m`` and the ``fake_decode=False`` path of
  ``extract_features``; their sample/pixel-level outputs are exact integers,
  value-hash verified against SQL replays of the same bytes.
* baseline JPEG is REAL too, via ``operators/jpeg.py`` — a pure-numpy
  ITU T.81 sequential codec (Huffman entropy coding, IDCT/FDCT,
  4:2:0/4:4:4 chroma, restart markers) backing ``decode_jpeg`` and the
  ``fake_decode=False`` path of ``resize_images``; it is pinned by
  hand-constructed spec streams (a SQL engine can't replay
  Huffman+IDCT, so no DuckDB oracle lane).
* the remaining compressed codecs (MP3/H.264; arithmetic-coded or
  12-bit JPEG) need libs absent from this container; those payloads
  still raise ``NotImplementedError`` where ffmpeg would go.  MP3
  DEMUX-level accounting (frame walk, duration, bitrate profile) IS
  implemented — ``operators/mp3.py`` / ``q_mp3_framewalk`` — only the
  Huffman/IMDCT decode stage remains behind this seam.
  ``fake_decode=True`` keeps the deterministic byte-slicer for
  plumbing tests.
"""

from __future__ import annotations

import hashlib
import math
import struct
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

FEATURE_DIM = 8


def _compose(runs):
    """Chain pandas-batch-iterator kernels into one kernel.  A named
    module-level factory (not an inline closure capturing loop state)
    so cloudpickle ships exactly the bound list."""

    def chained(batches):
        it = batches
        for run in runs:
            it = run(it)
        yield from it

    return chained


def _map_stage(df: DataFrame, cols, run, schema) -> DataFrame:
    """``df.select(cols).mapInPandas(run, schema)`` with automatic
    stage FUSION: when ``df`` is itself the direct output of a media
    stage (build → transform → decode chains), the kernels compose into
    ONE ``mapInPandas`` instead of stacking.  Each separate mapInPandas
    stage ships its whole input out of the JVM and its whole output
    back in — for media chains that is the payload bytes crossing the
    Python boundary once per stage (guide §4); the fused kernel runs
    the composition batch-by-batch inside one Python worker, so the
    container bytes never cross at all.  Row-identical by construction
    (same kernels, same order, same batches — downstream kernels read
    columns by NAME, and every stage yields named frames).

    Fusion requires every one of the stage's declared ``cols`` to be in
    the parent stage's output schema.  A stage naming a column its
    parent never produced stacks as the unfused path does, so Spark
    rejects the plan with ``AnalysisException`` when it is built instead
    of a ``KeyError`` on an executor at the first action.  Fusion also
    stops at any Spark-side boundary (select/filter/checkpoint drop the
    stage tag), so a chain interrupted by JVM work keeps its stages.
    """
    chain = getattr(df, "_sg_stage", None)
    if chain is not None and set(cols) <= set(chain[3].fieldNames()):
        parent, parent_cols, runs, _ = chain
        all_runs = runs + [run]
        out = parent.select(*parent_cols).mapInPandas(
            _compose(all_runs), schema
        )
        out._sg_stage = (parent, parent_cols, all_runs, schema)
        return out
    out = df.select(*cols).mapInPandas(run, schema)
    out._sg_stage = (df, tuple(cols), [run], schema)
    return out


def _row_stage(df: DataFrame, cols, schema, row, errors=()) -> DataFrame:
    """One per-row media kernel as a fusable ``_map_stage``.
    ``row(*values)`` receives one input row's ``cols`` values and yields
    that row's output tuples in ``schema`` order (none, one or many);
    each Arrow batch's tuples become one pandas frame.  An exception
    listed in ``errors`` turns its input row into one ``(key, NULL, …)``
    row, key being the row's first value: per-row fail-soft, so ONE
    corrupt payload never kills the whole 100 TB job (an exception here
    aborts every task retry)."""
    names = schema.fieldNames()
    blank = (None,) * (len(names) - 1)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for values in zip(*(pdf[c] for c in cols)):
                try:
                    rows.extend(list(row(*values)))
                except errors:
                    rows.append((values[0],) + blank)
            yield pd.DataFrame(rows, columns=names)

    return _map_stage(df, cols, run, schema)


_SHARD_SCHEMA = T.StructType(
    [
        T.StructField("shard_id", T.LongType(), False),
        T.StructField("payload", T.BinaryType(), True),
    ]
)


def _shard_stage(docs: DataFrame, pack) -> DataFrame:
    """One archive per shard: ``docs`` grouped by ``shard_id``, each
    shard's rows sorted by ``doc_id`` and handed to ``pack(shard_id,
    pdf)``, which returns the shard's payload bytes.  One keyed shuffle
    forms the shards (grouping is inherent to sharding); a shard's walk
    is a ``row`` passed to ``_row_stage`` over the
    ``(shard_id, payload)`` rows this returns."""
    names = _SHARD_SCHEMA.fieldNames()

    # both params annotated: a pdf-only hint is ambiguous to PySpark's
    # eval-type inference (it warns and falls back on every run)
    def build(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        sid = int(key[0])
        payload = pack(sid, pdf.sort_values("doc_id"))
        return pd.DataFrame([(sid, payload)], columns=names)

    return docs.groupBy("shard_id").applyInPandas(build, _SHARD_SCHEMA)


_DOC_COLS = ("doc_id", "text")
_MEDIA_COLS = ("media_id", "payload")

_PAYLOAD_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("payload", T.BinaryType(), True),
    ]
)


# what a container parser raises on a corrupt or unsupported payload;
# the JPEG codec's bit reader adds IndexError on truncated scans
_PARSE_ERRORS = (ValueError, NotImplementedError, struct.error)
_JPEG_ERRORS = _PARSE_ERRORS + (IndexError,)


def _utf8(text) -> bytes:
    return ("" if text is None else text).encode("utf-8")


def documents_as_media(df: DataFrame) -> DataFrame:
    """Adapter: pack a text table into the media shape (payload = utf-8
    bytes) so the binary pipeline is exercisable on the driver testdata.
    """
    return df.select(
        F.col("doc_id").alias("media_id"),
        F.encode(F.col("text"), "utf-8").alias("payload"),
        F.lit("text/plain").alias("media_type"),
        F.lit(None).cast("int").alias("width"),
        F.lit(None).cast("int").alias("height"),
    )


# --------------------------------------------------------------------------
# Real stdlib-only codecs: PCM16 WAV and 24bpp BMP
# --------------------------------------------------------------------------


def wav_container(
    pcm: bytes,
    sample_rate: int = 16000,
    n_channels: int = 1,
    extra_chunks: tuple = (),
    fmt_code: int = 1,
    bits: int = 16,
) -> bytes:
    """Wrap raw little-endian sample bytes in a canonical RIFF/WAVE
    container.  ``extra_chunks`` = ((id4, payload), ...) inserted before
    the data chunk — lets tests prove the decoder WALKS chunks rather
    than assuming the 44-byte canonical layout.  ``fmt_code``/``bits``
    select the sample encoding: (1, 16) PCM16 [default], (1, 8) unsigned
    PCM8, (1, 24) signed PCM24, (3, 32) IEEE float32."""
    if (fmt_code, bits) not in {(1, 16), (1, 8), (1, 24), (3, 32)}:
        raise ValueError(f"unsupported WAV encoding ({fmt_code}, {bits})")
    block_align = n_channels * (bits // 8)
    fmt = struct.pack(
        "<4sIHHIIHH",
        b"fmt ",
        16,
        fmt_code,
        n_channels,
        sample_rate,
        sample_rate * block_align,
        block_align,
        bits,
    )
    body = fmt
    for cid, payload in extra_chunks:
        body += struct.pack("<4sI", cid, len(payload)) + payload
        if len(payload) % 2:  # RIFF chunks are word-aligned
            body += b"\x00"
    body += struct.pack("<4sI", b"data", len(pcm)) + pcm
    if len(pcm) % 2:
        body += b"\x00"
    return struct.pack("<4sI4s", b"RIFF", 4 + len(body), b"WAVE") + body


def pack_samples(samples, fmt_code: int = 1, bits: int = 16) -> bytes:
    """Serialize int16-scale samples into the given WAV encoding's data
    bytes.  PCM8 stores (s >> 8) + 128 (unsigned high byte), PCM24
    stores s << 8 (exact), float32 stores s / 32768.0 (exact in f32 for
    |s| <= 32768) — so decode(encode(s)) is bit-exact for 16/24/f32 and
    a deterministic 256x quantization for 8-bit."""
    if (fmt_code, bits) == (1, 16):
        return struct.pack(f"<{len(samples)}h", *samples)
    if (fmt_code, bits) == (1, 8):
        return bytes(((s >> 8) + 128) & 0xFF for s in samples)
    if (fmt_code, bits) == (1, 24):
        out = bytearray()
        for s in samples:
            out += ((s << 8) & 0xFFFFFF).to_bytes(3, "little")
        return bytes(out)
    if (fmt_code, bits) == (3, 32):
        return struct.pack(f"<{len(samples)}f", *(s / 32768.0 for s in samples))
    raise ValueError(f"unsupported WAV encoding ({fmt_code}, {bits})")


def parse_wav(data: bytes) -> tuple[int, int, list[int]]:
    """Parse a RIFF/WAVE container (stdlib struct only) →
    (sample_rate, n_channels, samples as signed ints on the INT16
    scale).  Decodes PCM16 natively plus the three other uncompressed
    encodings real corpora carry — unsigned PCM8 (scaled up ×256),
    signed PCM24 (arithmetic shift down ÷256), IEEE float32 (×32768,
    round-half-even, clamped) — all normalized to one int16-scale
    contract so every downstream stat/fingerprint lane is
    encoding-invariant.  Walks the chunk list with word alignment,
    skipping unknown chunks; raises ValueError on malformed containers
    and NotImplementedError on compressed encodings (ADPCM, MP3-in-WAV
    — where a real codec library would take over)."""
    if len(data) < 12 or data[:4] != b"RIFF" or data[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE container")
    pos, fmt, pcm = 12, None, None
    while pos + 8 <= len(data):
        cid, size = struct.unpack_from("<4sI", data, pos)
        pos += 8
        if pos + size > len(data):
            raise ValueError(f"truncated chunk {cid!r}")
        if cid == b"fmt ":
            if size < 16:
                raise ValueError("fmt chunk too short")
            fmt = struct.unpack_from("<HHIIHH", data, pos)
        elif cid == b"data":
            pcm = data[pos : pos + size]
        pos += size + (size % 2)  # word alignment
    if fmt is None or pcm is None:
        raise ValueError("missing fmt or data chunk")
    audio_format, n_channels, sample_rate, _, _, bits = fmt
    if (audio_format, bits) == (1, 16):
        n = len(pcm) // 2
        samples = list(struct.unpack(f"<{n}h", pcm[: n * 2]))
    elif (audio_format, bits) == (1, 8):
        samples = [(b - 128) << 8 for b in pcm]
    elif (audio_format, bits) == (1, 24):
        samples = []
        for k in range(len(pcm) // 3):
            v = int.from_bytes(pcm[3 * k : 3 * k + 3], "little")
            if v >= 1 << 23:
                v -= 1 << 24
            samples.append(v >> 8)  # floor shift: exact for v = s*256
    elif (audio_format, bits) == (3, 32):
        n = len(pcm) // 4
        samples = [
            max(-32768, min(32767, int(round(f * 32768.0))))
            for f in struct.unpack(f"<{n}f", pcm[: n * 4])
        ]
    else:
        raise NotImplementedError(
            f"only uncompressed PCM8/16/24 and float32 are decoded "
            f"stdlib-side (format={audio_format}, bits={bits}); "
            f"compressed audio needs ffmpeg/librosa"
        )
    return sample_rate, n_channels, samples


def bmp_container(pixels_topdown: bytes, width: int, height: int) -> bytes:
    """Wrap a top-down row-major BGR byte stream (len == width*height*3)
    in a 24bpp bottom-up BMP: BITMAPFILEHEADER + BITMAPINFOHEADER, rows
    written in reverse order, each padded to a 4-byte boundary."""
    if len(pixels_topdown) != width * height * 3:
        raise ValueError("pixel buffer does not match width*height*3")
    row = width * 3
    pad = (-row) % 4
    body = b"".join(
        pixels_topdown[r * row : (r + 1) * row] + b"\x00" * pad
        for r in range(height - 1, -1, -1)
    )
    info = struct.pack(
        "<IiiHHIIiiII", 40, width, height, 1, 24, 0, len(body), 0, 0, 0, 0
    )
    file_hdr = struct.pack("<2sIHHI", b"BM", 14 + 40 + len(body), 0, 0, 14 + 40)
    return file_hdr + info + body


def bmp_container_pal8(
    indices_topdown: bytes,
    width: int,
    height: int,
    palette: list[tuple[int, int, int]],
) -> bytes:
    """Wrap a top-down row-major stream of palette INDICES (len ==
    width*height) in an 8bpp bottom-up BMP: BITMAPFILEHEADER +
    BITMAPINFOHEADER + a 256-entry BGRX color table, rows written in
    reverse order, each padded to a 4-byte boundary (stride = width
    rounded up — at width 6 that is 2 pad bytes per row, so the strip
    is load-bearing just like the 24bpp lane)."""
    if len(indices_topdown) != width * height:
        raise ValueError("index buffer does not match width*height")
    if len(palette) != 256:
        raise ValueError("palette must carry 256 entries")
    pad = (-width) % 4
    body = b"".join(
        indices_topdown[r * width : (r + 1) * width] + b"\x00" * pad
        for r in range(height - 1, -1, -1)
    )
    table = b"".join(bytes((b, g, r, 0)) for b, g, r in palette)
    info = struct.pack(
        "<IiiHHIIiiII", 40, width, height, 1, 8, 0, len(body), 0, 0, 256, 0
    )
    off = 14 + 40 + len(table)
    file_hdr = struct.pack("<2sIHHI", b"BM", off + len(body), 0, 0, off)
    return file_hdr + info + table + body


def parse_bmp(data: bytes) -> tuple[int, int, bytes]:
    """Parse an uncompressed BMP (stdlib struct only) → (width, height,
    pixels as a TOP-DOWN row-major BGR byte stream).  Decodes 24bpp
    truecolor natively and 8bpp palette images by resolving each index
    through the file's BGRX color table, so both flavors honor one
    output contract.  Handles both bottom-up (positive biHeight) and
    top-down (negative) images and strips per-row padding; raises
    ValueError on malformed headers and NotImplementedError for
    bpp/compression a real image library would handle (RLE, 1/4bpp,
    16/32bpp bitfields)."""
    if len(data) < 54 or data[:2] != b"BM":
        raise ValueError("not a BMP file")
    _, _, _, pix_off = struct.unpack_from("<IHHI", data, 2)
    hdr_size, width, height = struct.unpack_from("<Iii", data, 14)
    if hdr_size < 40:
        raise ValueError(f"unsupported DIB header size {hdr_size}")
    planes, bpp, compression = struct.unpack_from("<HHI", data, 26)
    if bpp not in (8, 24) or compression != 0:
        raise NotImplementedError(
            f"only uncompressed 8bpp-palette and 24bpp BMP are decoded "
            f"stdlib-side (bpp={bpp}, compression={compression}); wire "
            f"PIL here"
        )
    top_down = height < 0
    height = abs(height)
    if width <= 0 or height <= 0 or planes != 1:
        raise ValueError("malformed BMP dimensions")
    palette = None
    if bpp == 8:
        (clr_used,) = struct.unpack_from("<I", data, 46)
        n_colors = clr_used or 256
        tbl_off = 14 + hdr_size
        if tbl_off + 4 * n_colors > len(data):
            raise ValueError("truncated BMP color table")
        palette = [
            data[tbl_off + 4 * i : tbl_off + 4 * i + 3] for i in range(n_colors)
        ]
    row = width * (3 if bpp == 24 else 1)
    stride = row + ((-row) % 4)
    if pix_off + stride * height > len(data):
        raise ValueError("truncated BMP pixel data")
    rows = [
        data[pix_off + r * stride : pix_off + r * stride + row]
        for r in range(height)
    ]
    if not top_down:
        rows.reverse()  # file stores bottom-up; emit top-down
    if palette is not None:
        try:
            rows = [b"".join(palette[i] for i in r) for r in rows]
        except IndexError:
            raise ValueError("palette index out of range") from None
    return width, height, b"".join(rows)


def _text_pcm16(text) -> bytes:
    """The byte-pair sample rule every text→audio builder shares: PCM16
    sample k is the byte pair (text[2k], text[2k+1]) little-endian, with
    every ODD sample's high byte (byte 4j+3) XOR 0x80 so the stream
    carries genuinely negative int16s (ASCII alone never sets the sign
    bit) — the transform an oracle can replay byte-for-byte from
    ``text``."""
    b = _utf8(text)
    pcm = bytearray(b[: len(b) // 2 * 2])
    pcm[3::4] = bytes(x ^ 0x80 for x in pcm[3::4])
    return bytes(pcm)


def _text_samples(text) -> list[int]:
    """``_text_pcm16`` as signed int16 sample values."""
    pcm = _text_pcm16(text)
    return list(struct.unpack(f"<{len(pcm) // 2}h", pcm))


def documents_as_wav(df: DataFrame, sample_rate: int = 16000) -> DataFrame:
    """Deterministic PCM16 WAV payloads from document text, Arrow-batched:
    the samples follow the byte-pair rule of ``_text_pcm16``."""

    def row(mid, text):
        yield mid, wav_container(_text_pcm16(text), sample_rate)

    return _row_stage(df, _DOC_COLS, _PAYLOAD_SCHEMA, row)


_WAV_FORMATS = ((1, 16), (1, 8), (1, 24), (3, 32))  # doc_id % 4 → encoding


def documents_as_wav_formats(
    df: DataFrame, sample_rate: int = 16000
) -> DataFrame:
    """One corpus, four WAV encodings: the SAMPLE stream is derived from
    text exactly as documents_as_wav does (byte pairs, odd samples' high
    byte XOR 0x80), then serialized per ``doc_id % 4`` as PCM16 / PCM8 /
    PCM24 / IEEE-float32 (pack_samples).  PCM16/24/f32 round-trip the
    samples bit-exactly; PCM8 quantizes to floor(s/256)*256 — the one
    deterministic lossy lane, which the oracle replays."""

    def row(mid, text):
        fc, bits = _WAV_FORMATS[int(mid) % 4]
        pcm = pack_samples(_text_samples(text), fc, bits)
        yield mid, wav_container(pcm, sample_rate, fmt_code=fc, bits=bits)

    return _row_stage(df, _DOC_COLS, _PAYLOAD_SCHEMA, row)


def documents_as_bmp_pal8(df: DataFrame, width: int = 6) -> DataFrame:
    """Deterministic 8bpp palette BMP payloads from document text: the
    top-down INDEX stream is the first width*height bytes of the text
    (zero-padded), height = max(1, n_bytes // width), and the color
    table maps index i → BGR (i, (i*7)%256, (i*13)%256) — an affine
    palette the oracle replays per byte.  width=6 keeps the 8bpp row
    stride at 8 (2 pad bytes per row), so the strip stays
    load-bearing."""
    palette = [(i, (i * 7) % 256, (i * 13) % 256) for i in range(256)]

    def row(mid, text):
        b = _utf8(text)
        h = max(1, len(b) // width)
        idx = b[: width * h].ljust(width * h, b"\x00")
        yield mid, bmp_container_pal8(idx, width, h, palette)

    return _row_stage(df, _DOC_COLS, _PAYLOAD_SCHEMA, row)


def documents_as_bmp(df: DataFrame, width: int = 6) -> DataFrame:
    """Deterministic 24bpp BMP payloads from document text: the top-down
    BGR pixel stream is the first width*3*height bytes of the text
    (zero-padded), height = max(1, n_bytes // (width*3)).  width=6 makes
    the row stride 18 → 2 padding bytes per row, so the decoder's
    padding-strip and bottom-up flip are both load-bearing."""
    stride = width * 3

    def row(mid, text):
        b = _utf8(text)
        h = max(1, len(b) // stride)
        pix = b[: stride * h].ljust(stride * h, b"\x00")
        yield mid, bmp_container(pix, width, h)

    return _row_stage(df, _DOC_COLS, _PAYLOAD_SCHEMA, row)


_WAV_DECODE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("sample_rate", T.IntegerType(), True),
        T.StructField("n_channels", T.IntegerType(), True),
        T.StructField("n_samples", T.LongType(), True),
        T.StructField("sum_abs", T.LongType(), True),
        T.StructField("peak_abs", T.LongType(), True),
        T.StructField("n_zero_cross", T.LongType(), True),
        T.StructField("samples_md5", T.StringType(), True),
    ]
)


def _sample_stats(rate: int, nch: int, samples) -> tuple:
    """(sample_rate, n_channels, n_samples, sum|s|, peak|s|,
    zero-crossings, samples_md5) for one decoded sample stream.
    numpy-vectorized: the per-sample Python loops were the lane's hot
    path (repeat >2x bench flag r8) — |s| <= 32768 so int64
    abs/sum/zero-cross are exact, and the md5 string (decimal reprs,
    comma-joined) is byte-identical to the loop form the oracle
    replays."""
    arr = np.asarray(samples, dtype=np.int64)
    aabs = np.abs(arr)
    return (
        rate,
        nch,
        len(samples),
        int(aabs.sum()),
        int(aabs.max()) if len(samples) else 0,
        int(((arr[:-1] < 0) != (arr[1:] < 0)).sum()) if len(samples) else 0,
        hashlib.md5(",".join(map(str, samples)).encode()).hexdigest(),
    )


def decode_wav(df: DataFrame) -> DataFrame:
    """REAL audio decode lane: parse each payload as a PCM16 WAV
    container (parse_wav — stdlib chunk walk, no fake_decode) and reduce
    the samples to exact-integer stats: count, sum|s|, peak|s|,
    zero-crossings (sign flips between consecutive samples), and an md5
    over the comma-joined signed sample values.  Every output is either
    an integer or a digest of integers, so the whole decode path —
    container walk, int16 unpack, sign handling — is value-hash
    verifiable against a SQL replay of the same bytes.  Per-row
    fail-soft: a corrupt payload yields one NULL-stats row."""

    def row(mid, payload):
        yield (mid,) + _sample_stats(*parse_wav(bytes(payload)))

    return _row_stage(df, _MEDIA_COLS, _WAV_DECODE_SCHEMA, row, _PARSE_ERRORS)


def documents_as_flac(df: DataFrame, sample_rate: int = 16000) -> DataFrame:
    """Deterministic FLAC payloads from document text: the SAMPLE
    stream is documents_as_wav's byte-pair rule verbatim (so the two
    audio codecs share one oracle), compressed through the in-repo
    subset encoder (operators/flac.py — fixed predictors, rice
    residuals, STREAMINFO MD5)."""
    from . import flac as _flac

    def row(mid, text):
        yield mid, _flac.encode_flac(_text_samples(text), sample_rate)

    return _row_stage(df, _DOC_COLS, _PAYLOAD_SCHEMA, row)


def decode_flac(df: DataFrame) -> DataFrame:
    """REAL compressed-audio decode lane: parse each payload as a FLAC
    stream (operators/flac.py — metadata walk, frame sync, rice/LPC
    reconstruction, CRC-8/16 + STREAMINFO MD5 verified) and reduce the
    samples to the SAME exact-integer stats as decode_wav, so a WAV
    lane and a FLAC lane over the same signal are value-hash
    interchangeable."""
    from . import flac as _flac

    def row(mid, payload):
        yield (mid,) + _sample_stats(*_flac.parse_flac(bytes(payload)))

    return _row_stage(df, _MEDIA_COLS, _WAV_DECODE_SCHEMA, row, _PARSE_ERRORS)


_BMP_DECODE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("n_pixels", T.LongType(), True),
        T.StructField("sum_b", T.LongType(), True),
        T.StructField("sum_g", T.LongType(), True),
        T.StructField("sum_r", T.LongType(), True),
        T.StructField("pixels_md5", T.StringType(), True),
    ]
)


def decode_bmp(df: DataFrame) -> DataFrame:
    """REAL image decode lane: parse each payload as an uncompressed
    24bpp BMP (parse_bmp — header struct-unpack, bottom-up row flip,
    padding strip) and reduce the pixels to exact-integer stats:
    per-channel byte sums and an md5 over the comma-joined TOP-DOWN BGR
    byte values.  The md5 pins row ORDER (a decoder that forgets the
    bottom-up flip, or leaks padding bytes, fails the hash), the sums
    pin channel alignment.  Per-row fail-soft."""

    def row(mid, payload):
        w, h, pix = parse_bmp(bytes(payload))
        yield (
            mid,
            w,
            h,
            w * h,
            sum(pix[0::3]),
            sum(pix[1::3]),
            sum(pix[2::3]),
            hashlib.md5(",".join(str(b) for b in pix).encode()).hexdigest(),
        )

    return _row_stage(df, _MEDIA_COLS, _BMP_DECODE_SCHEMA, row, _PARSE_ERRORS)


def _y4m_plane_lens(width: int, height: int, chroma: str) -> tuple[int, int]:
    """(y_len, chroma_plane_len) for a Y4M chroma-sampling tag.  420* →
    quarter-res chroma, 422 → half-horizontal, 444 → full-res, mono →
    no chroma planes at all."""
    if chroma.startswith("420"):
        if width % 2 or height % 2:
            raise ValueError("C420 needs even dimensions")
        return width * height, (width // 2) * (height // 2)
    if chroma == "422":
        if width % 2:
            raise ValueError("C422 needs even width")
        return width * height, (width // 2) * height
    if chroma == "444":
        return width * height, width * height
    if chroma == "mono":
        return width * height, 0
    raise NotImplementedError(
        f"chroma sampling C{chroma} is not decoded stdlib-side "
        f"(only 420*/422/444/mono); other samplings need ffmpeg"
    )


def y4m_container(
    frames: list[bytes],
    width: int,
    height: int,
    frame_params: tuple = (),
    chroma: str = "420jpeg",
) -> bytes:
    """Wrap frame payloads in a YUV4MPEG2 (Y4M) container.  Each entry
    of ``frames`` is one frame's Y+U+V planes concatenated, sized per
    ``chroma`` (420*: quarter-res chroma; 422: half-horizontal; 444:
    full-res; mono: luma only).  ``frame_params`` = (frame_index,
    b" Xtag") pairs appended to those frames' FRAME lines — Y4M allows
    per-frame parameters, and tests use them to prove the parser scans
    to the newline instead of assuming a fixed 6-byte "FRAME\\n"
    marker."""
    y_len, c_len = _y4m_plane_lens(width, height, chroma)
    frame_len = y_len + 2 * c_len
    params = dict(frame_params)
    out = [
        f"YUV4MPEG2 W{width} H{height} F25:1 Ip A1:1 C{chroma}\n".encode()
    ]
    for i, fr in enumerate(frames):
        if len(fr) != frame_len:
            raise ValueError(f"frame {i}: {len(fr)} bytes, want {frame_len}")
        out.append(b"FRAME" + params.get(i, b"") + b"\n" + fr)
    return b"".join(out)


def parse_y4m(data: bytes) -> tuple[int, int, list[tuple[bytes, bytes, bytes]]]:
    """Parse a YUV4MPEG2 stream (stdlib only) → (width, height, frames as
    (y_plane, u_plane, v_plane) tuples — chroma planes sized per the
    stream's C tag, empty for mono).  Decodes 420*/422/444/mono chroma
    samplings.  Walks the stream header's space-separated tags, then
    each FRAME marker (scanning past optional per-frame parameters to
    the newline).  Raises ValueError on malformed or truncated streams
    and NotImplementedError for chroma samplings beyond those four
    (where ffmpeg would take over)."""
    nl = data.find(b"\n")
    if nl < 0 or not data.startswith(b"YUV4MPEG2"):
        raise ValueError("not a YUV4MPEG2 stream")
    width = height = None
    chroma = "420jpeg"  # the Y4M default when no C tag is present
    for tag in data[9:nl].split(b" "):
        if not tag:
            continue
        key, val = tag[:1], tag[1:]
        if key == b"W":
            width = int(val)
        elif key == b"H":
            height = int(val)
        elif key == b"C":
            chroma = val.decode("ascii", "replace")
    if width is None or height is None:
        raise ValueError("missing W/H in stream header")
    # A corrupt header like W-2 must raise, not loop: a non-positive
    # frame_len would make the FRAME walk below advance pos backwards
    # (or not at all) and spin forever accumulating frames.
    if width <= 0 or height <= 0:
        raise ValueError(f"non-positive dimensions W{width} H{height}")
    y_len, c_len = _y4m_plane_lens(width, height, chroma)
    frame_len = y_len + 2 * c_len
    pos, frames = nl + 1, []
    while pos < len(data):
        if data[pos : pos + 5] != b"FRAME":
            raise ValueError(f"expected FRAME marker at byte {pos}")
        fnl = data.find(b"\n", pos + 5)
        if fnl < 0 or fnl + 1 + frame_len > len(data):
            raise ValueError("truncated frame")
        start = fnl + 1
        frames.append(
            (
                data[start : start + y_len],
                data[start + y_len : start + y_len + c_len],
                data[start + y_len + c_len : start + frame_len],
            )
        )
        pos = start + frame_len
    return width, height, frames


def _text_y4m(text, width: int, height: int, chroma: str, frame_len: int) -> bytes:
    """documents_as_y4m's container for one document."""
    b = _utf8(text)
    n = max(1, len(b) // frame_len)
    raw = b[: frame_len * n].ljust(frame_len * n, b"\x00")
    frames = [raw[f * frame_len : (f + 1) * frame_len] for f in range(n)]
    params = tuple((i, b" Xodd") for i in range(1, n, 2))
    return y4m_container(frames, width, height, params, chroma)


def documents_as_y4m(
    df: DataFrame,
    width: int = 6,
    height: int = 4,
    chroma: str = "420jpeg",
) -> DataFrame:
    """Deterministic Y4M payloads from document text: the byte stream of
    frame f is text[f*flen : (f+1)*flen] (Y plane first, then the U and
    V planes sized per ``chroma`` — the plane SPLIT is load-bearing for
    the decoder), zero-padded in the last frame; n_frames = max(1,
    n_bytes // flen).  Odd frames get an ``Xodd`` per-frame parameter so
    the FRAME-line scan is exercised on every multi-frame document."""
    y_len, c_len = _y4m_plane_lens(width, height, chroma)
    frame_len = y_len + 2 * c_len

    def row(mid, text):
        yield mid, _text_y4m(text, width, height, chroma, frame_len)

    return _row_stage(df, _DOC_COLS, _PAYLOAD_SCHEMA, row)


_Y4M_DECODE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("n_frames", T.LongType(), True),
        T.StructField("sum_y", T.LongType(), True),
        T.StructField("sum_u", T.LongType(), True),
        T.StructField("sum_v", T.LongType(), True),
        T.StructField("frame_diff_sum", T.LongType(), True),
        T.StructField("y_md5", T.StringType(), True),
    ]
)


# decimal-string lookup for the luma md5: ",".join over a precomputed
# table replays ",".join(str(b) for b in all_y) byte-identically at a
# fraction of the per-byte str() cost (guide §4.2)
_DEC_LUT = tuple(str(i) for i in range(256))


def _y4m_stats_row(payload: bytes):
    """(width, height, n_frames, sum_y, sum_u, sum_v, frame_diff_sum,
    y_md5) for one Y4M payload, or None on parse failure.  The
    reductions are vectorized (numpy frame-diff, C-speed byte sums, LUT
    decimal join) but value-identical to the original per-byte Python
    loops — integer sums are exact and the md5 input string is the same
    bytes."""
    try:
        w, h, frames = parse_y4m(bytes(payload))
    except _PARSE_ERRORS:
        return None
    all_y = b"".join(fr[0] for fr in frames)
    y_len = len(frames[0][0]) if frames else 0
    if len(frames) > 1 and y_len:
        arr = np.frombuffer(all_y, np.uint8).reshape(len(frames), y_len)
        diff = int(
            np.abs(arr[1:].astype(np.int64) - arr[:-1].astype(np.int64)).sum()
        )
    else:
        diff = 0
    return (
        w,
        h,
        len(frames),
        sum(all_y),
        sum(b"".join(fr[1] for fr in frames)),
        sum(b"".join(fr[2] for fr in frames)),
        diff,
        hashlib.md5(",".join(map(_DEC_LUT.__getitem__, all_y)).encode()).hexdigest(),
    )


def decode_y4m(df: DataFrame) -> DataFrame:
    """REAL video decode lane: parse each payload as a YUV4MPEG2 stream
    (parse_y4m — header tag walk, per-frame parameter scan, 4:2:0 plane
    split) and reduce to exact-integer stats: per-plane byte sums, the
    inter-frame luma delta Σ|y_f - y_{f-1}| (the scene-cut energy
    q_video_scene_cut thresholds), and an md5 over the comma-joined luma
    stream.  A parser that mis-splits planes, skips a FRAME parameter
    wrong, or drops a frame fails the value hash, not just a count.
    Per-row fail-soft: a corrupt payload yields one NULL-stats row."""

    def row(mid, payload):
        yield (mid,) + (_y4m_stats_row(payload) or (None,) * 8)

    return _row_stage(df, _MEDIA_COLS, _Y4M_DECODE_SCHEMA, row)


_Y4M_ROUNDTRIP_SCHEMA = T.StructType(
    [T.StructField("media_id", T.LongType(), False),
     T.StructField("chroma", T.StringType(), False)]
    + _Y4M_DECODE_SCHEMA.fields[1:]
)


def y4m_roundtrip_stats(
    df: DataFrame,
    width: int = 6,
    height: int = 4,
    chroma: str = "420jpeg",
    chroma_mod: tuple[str, ...] | None = None,
) -> DataFrame:
    """Fused documents_as_y4m → decode_y4m pass: build each document's
    Y4M container and parse it back inside ONE Arrow batch, so the
    container bytes never cross the JVM↔Python boundary at all
    (guide §4 — the two-stage form shipped every payload out of Python
    and straight back in).  ``chroma_mod`` selects the chroma tag per
    document as ``chroma_mod[id % len(chroma_mod)]`` (the chroma-sweep
    lane's split), replacing N filtered build→decode branches with one
    corpus pass.  Output = decode_y4m's schema plus the ``chroma`` tag;
    byte-stream identity with the two-stage form is pinned by
    tests/test_multimodal_fused.py."""
    tags = chroma_mod if chroma_mod is not None else (chroma,)
    flens = {
        t: (lambda yl, cl: yl + 2 * cl)(*_y4m_plane_lens(width, height, t))
        for t in tags
    }

    def row(mid, text):
        tag = tags[int(mid) % len(tags)]
        payload = _text_y4m(text, width, height, tag, flens[tag])
        yield (mid, tag) + (_y4m_stats_row(payload) or (None,) * 8)

    return _row_stage(df, _DOC_COLS, _Y4M_ROUNDTRIP_SCHEMA, row)


def extract_features(df: DataFrame, fake_decode: bool = True) -> DataFrame:
    """Decode + featurize binary payloads via Arrow-batched mapInPandas.

    Output schema: (media_id long, n_bytes long, features array<double>,
    feat_ppm array<bigint>).  The fake decoder hashes fixed-stride byte
    slices into FEATURE_DIM deterministic doubles — same batch shape and
    schema a real decoder (PIL/librosa/ffmpeg) would produce.

    ``feat_ppm`` is the exact-integer twin of ``features``: per stride,
    ``floor(sum/count * 1e6 + 0.5)`` evaluated in EXACTLY this IEEE op
    order — the SQL oracle replays the same integer byte sums and the
    same double ops, so the whole Python lane (Arrow batching, stride
    slicing, the division) is value-hash verifiable with no
    double→string rendering ambiguity anywhere.
    """
    out_schema = T.StructType(
        [
            T.StructField("media_id", T.LongType(), False),
            T.StructField("n_bytes", T.LongType(), True),
            T.StructField("features", T.ArrayType(T.DoubleType()), True),
            T.StructField("feat_ppm", T.ArrayType(T.LongType()), True),
        ]
    )

    def decode_values(data: bytes):
        """Real decode dispatch by magic bytes: PCM16 WAV → signed
        samples, 24bpp BMP → top-down pixel bytes, YUV4MPEG2 → flat luma
        stream, baseline JPEG / PNG → row-major decoded pixel bytes (the
        in-repo operators/jpeg.py and operators/png.py codecs);
        MP3/H.264 still need libs absent from this container."""
        if data[:4] == b"RIFF" and data[8:12] == b"WAVE":
            return parse_wav(data)[2]
        if data[:2] == b"BM":
            return parse_bmp(data)[2]
        if data[:9] == b"YUV4MPEG2":
            return b"".join(fr[0] for fr in parse_y4m(data)[2])
        if data[:2] == b"\xff\xd8":
            from . import jpeg

            try:
                return jpeg.decode_baseline(data)[2].tobytes()
            except (ValueError, IndexError, struct.error) as exc:
                # corrupt JPEG container: same ValueError contract as
                # the stdlib parsers (callers' fail-soft catches it)
                raise ValueError(f"bad JPEG payload: {exc}") from exc
        if data[:8] == b"\x89PNG\r\n\x1a\n":
            from . import png

            return png.decode_png(data)[2].tobytes()
        raise NotImplementedError(
            "real decode covers PCM16 WAV / 24bpp BMP / Y4M / baseline "
            "JPEG; other formats require audio/video libraries not "
            "present in this environment — wire librosa/ffmpeg here"
        )

    def row(mid, payload):
        data = bytes(payload) if payload is not None else b""
        # per-stride mean over raw bytes (fake lane) or REAL decoded
        # sample/pixel values (bytes and int lists both slice to int
        # sequences, so the fold is shared)
        vals = data if fake_decode else decode_values(data)
        f, pp = [], []
        for d in range(FEATURE_DIM):
            sl = vals[d::FEATURE_DIM]
            if sl:
                f.append(round(sum(sl) / len(sl), 6))
                # op order matters: (sum/count)*1e6 + 0.5, left to
                # right — the oracle mirrors it term for term
                pp.append(math.floor(sum(sl) / len(sl) * 1000000.0 + 0.5))
            else:
                f.append(0.0)
                pp.append(0)
        yield mid, len(data), f, pp

    return _row_stage(df, _MEDIA_COLS, out_schema, row)


def _text_raster(text, width: int):
    """The grayscale raster every text→image builder shares: the text's
    utf-8 bytes fill a width-wide uint8 raster top-down, zero-padded,
    height = max(1, n_bytes // width) capped at 64 rows."""
    b = _utf8(text)
    h = min(64, max(1, len(b) // width))
    return np.frombuffer(
        b[: width * h].ljust(width * h, b"\x00"), dtype=np.uint8
    ).reshape(h, width)


def documents_as_jpeg(
    df: DataFrame,
    width: int = 16,
    quality: int = 90,
    progressive_every: int | None = None,
) -> DataFrame:
    """Deterministic baseline-JPEG payloads from document text: the
    ``_text_raster`` grayscale raster encoded through the real
    ``operators/jpeg.py`` codec.  The planted corpus therefore
    exercises Huffman coding, FDCT and the decoder's full path on every
    document.  ``progressive_every=N`` encodes every Nth id as a
    PROGRESSIVE (SOF2 spectral-selection) stream — decoded pixels are
    bit-identical either way, so downstream geometry/content contracts
    hold unchanged while the multi-scan path gets corpus-wide
    exercise."""
    from . import jpeg

    def row(mid, text):
        prog = progressive_every is not None and mid % progressive_every == 0
        yield mid, jpeg.encode_baseline(
            _text_raster(text, width), quality, progressive=prog
        )

    return _row_stage(df, _DOC_COLS, _PAYLOAD_SCHEMA, row)


_JPEG_DECODE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("n_channels", T.IntegerType(), True),
        T.StructField("sum_luma", T.LongType(), True),
        T.StructField("pixels_md5", T.StringType(), True),
    ]
)


def decode_jpeg(df: DataFrame) -> DataFrame:
    """REAL compressed-image decode lane: run each payload through the
    baseline JPEG codec and reduce to exact-integer stats + an md5 over
    the row-major pixel bytes.  Per-row fail-soft: corrupt containers
    and unsupported modes (arithmetic-coded, 12-bit) yield NULLs, never a
    task failure — same contract as decode_wav/decode_bmp.  Unlike the
    uncompressed lanes there is no SQL oracle (a DuckDB replay of
    Huffman+IDCT is not expressible); correctness is pinned by the
    hand-constructed spec streams in tests/test_jpeg_codec.py."""
    from . import jpeg

    def row(mid, payload):
        h, w, px = jpeg.decode_baseline(bytes(payload))
        nchan = 1 if px.ndim == 2 else px.shape[2]
        luma = px if px.ndim == 2 else px[..., 0]
        yield (
            mid,
            w,
            h,
            nchan,
            int(luma.astype("int64").sum()),
            hashlib.md5(px.tobytes()).hexdigest(),
        )

    return _row_stage(df, _MEDIA_COLS, _JPEG_DECODE_SCHEMA, row, _JPEG_ERRORS)


def resize_images(
    df: DataFrame, width: int, height: int, fake_decode: bool = True
) -> DataFrame:
    """Resize: (media_id, payload, width, height) → resized payload +
    updated metadata, Arrow-batched.

    ``fake_decode=False`` is the REAL path: decode each payload by its
    magic bytes — PNG (operators/png.py) stays PNG, anything else is
    treated as baseline JPEG (operators/jpeg.py) — nearest-neighbor
    resample to (width, height) with the exact integer index map
    src = floor(dst·src_dim/dst_dim), and re-encode in the SOURCE
    format (format-preserving), bit-deterministic end to end.  The PNG
    path is lossless both directions, so resized pixel VALUES are
    exactly the index-mapped source pixels — SQL-replayable.  Corrupt/
    unsupported payloads pass through as NULL payloads with NULL dims
    (fail-soft).

    The fake path re-emits a deterministic payload slice sized
    proportional to the target area and stamps the new dimensions — the
    schema/batch/metadata contract without the codec."""
    from . import jpeg, png

    out_schema = T.StructType(
        [
            T.StructField("media_id", T.LongType(), False),
            T.StructField("payload", T.BinaryType(), True),
            T.StructField("width", T.IntegerType(), True),
            T.StructField("height", T.IntegerType(), True),
        ]
    )

    def row(mid, payload):
        data = bytes(payload) if payload is not None else b""
        if fake_decode:
            keep = max(1, min(len(data), width * height // 64))
            yield mid, data[:keep], width, height
            return
        is_png = data[:8] == b"\x89PNG\r\n\x1a\n"
        h0, w0, px = (png.decode_png if is_png else jpeg.decode_baseline)(data)
        ys = (np.arange(height) * h0) // height
        xs = (np.arange(width) * w0) // width
        resized = px[ys][:, xs]
        enc = png.encode_png(resized) if is_png else jpeg.encode_baseline(resized, 90)
        yield mid, enc, width, height

    return _row_stage(df, _MEDIA_COLS, out_schema, row, _JPEG_ERRORS)


def documents_as_png(
    df: DataFrame,
    width: int = 16,
    interlace_every: int | None = None,
) -> DataFrame:
    """Deterministic PNG payloads from document text: the same
    ``_text_raster`` raster as ``documents_as_jpeg``, encoded through
    the real ``operators/png.py`` codec with adaptive per-row filtering
    — real corpora exercise all five filter types.
    ``interlace_every=N`` emits every Nth id as an Adam7 interlaced
    stream.  PNG is LOSSLESS, so unlike the JPEG twin the decoded pixels
    equal the planted raster byte-for-byte — the PNG lanes' oracles pin
    full content, not just geometry."""
    from . import png

    def row(mid, text):
        il = interlace_every is not None and mid % interlace_every == 0
        yield mid, png.encode_png(_text_raster(text, width), interlace=il)

    return _row_stage(df, _DOC_COLS, _PAYLOAD_SCHEMA, row)


_PNG_DECODE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("n_channels", T.IntegerType(), True),
        T.StructField("sum_luma", T.LongType(), True),
        T.StructField("pixels_md5", T.StringType(), True),
    ]
)


def _raster_stats(h: int, w: int, px) -> tuple:
    """(width, height, n_channels, exact luma sum, md5 over the
    comma-joined decimal luma values) for one decoded lossless raster —
    channel 0 / the luma plane, row-major: the ``array_to_string``
    rendering DuckDB replays, shared by every lossless codec."""
    nchan = 1 if px.ndim == 2 else px.shape[2]
    flat = (px if px.ndim == 2 else px[..., 0]).reshape(-1)
    return (
        w,
        h,
        nchan,
        int(flat.astype("int64").sum()),
        hashlib.md5(",".join(str(int(v)) for v in flat).encode()).hexdigest(),
    )


def decode_png(df: DataFrame) -> DataFrame:
    """REAL lossless-image decode lane: run each payload through the
    PNG codec and reduce it to ``_raster_stats`` — the exact integer
    value sum plus an md5 over the decimal pixel values, so the oracle
    verifies CONTENT through deflate+filtering, which the lossy JPEG
    lanes cannot.  Per-row fail-soft: corrupt containers and
    unsupported depths yield NULLs, never a task failure."""
    from . import png

    def row(mid, payload):
        yield (mid,) + _raster_stats(*png.decode_png(bytes(payload)))

    return _row_stage(
        df, _MEDIA_COLS, _PNG_DECODE_SCHEMA, row, (ValueError, NotImplementedError),
    )


def sample_frames(
    df: DataFrame,
    every_nth: int = 8,
    max_frames: int = 4,
    frame_size: int = 8,
    fake_decode: bool = True,
) -> DataFrame:
    """Frame-sampling plumbing: one input video row → N output frame rows
    (media_id, frame_idx, frame_payload).

    Output is a one-to-many mapInPandas (the real ffmpeg pattern: iterate
    the container once, emit selected frames).  The fake path slices the
    payload into deterministic ``frame_size``-byte chunks and keeps every
    ``every_nth``-th chunk; ``frame_idx`` is the SOURCE frame ordinal
    (0, every_nth, 2·every_nth, …) so downstream code can correlate a
    sampled frame back to its media position — the same contract as the
    oracle-verified ``frame_sample`` lane.  (Pre-r4 this function used
    ``every_nth`` as BOTH the chunk size and the stride — an effective
    stride² nobody asked for — and emitted post-sampling ordinals.)

    The REAL path (``fake_decode=False``, r9) demuxes RIFF AVI
    containers with ``operators/avi.py`` — one container walk, emit
    every ``every_nth``-th frame's raw stream bytes (a JPEG bitstream
    for MJPG, a padded DIB raster for 00db streams), exactly ffmpeg's
    demux-without-decode sampling shape.  Non-AVI containers (MP4/MKV
    need an ffmpeg/PyAV demuxer) and corrupt payloads fail soft to a
    single ``(media_id, -1, NULL)`` marker row, so one alien file in a
    100 TB sweep surfaces in the output instead of killing the task.
    """
    out_schema = T.StructType(
        [
            T.StructField("media_id", T.LongType(), False),
            T.StructField("frame_idx", T.IntegerType(), False),
            T.StructField("frame_payload", T.BinaryType(), True),
        ]
    )

    from . import avi

    def row(mid, payload):
        data = bytes(payload) if payload is not None else b""
        if fake_decode:
            chunk = max(1, frame_size)
            frames = [data[i : i + chunk] for i in range(0, len(data), chunk)]
        else:
            try:
                _w, _h, _codec, frames = avi.parse_avi(data)
            except _PARSE_ERRORS:
                # MP4/MKV (ffmpeg/PyAV seam) or corrupt container
                yield mid, -1, None
                return
        kept = range(0, len(frames), max(1, every_nth))
        for src_idx in list(kept)[:max_frames]:
            yield mid, src_idx, frames[src_idx]

    return _row_stage(df, _MEDIA_COLS, out_schema, row)


def frame_sample(
    df: DataFrame, frame_size: int = 32, every: int = 4
) -> DataFrame:
    """Frame-sampling plumbing: slice each payload into fixed-size frames
    and keep every ``every``-th one — the video/audio sampling pattern
    (ffmpeg keyframe extraction) with a deterministic byte-slicer standing
    in for the codec.  Arrow-batched ``mapInPandas``; fan-out is
    rows → frames, so the output carries (media_id, frame_idx) for
    downstream per-frame featurization.

    Because the slicer is bytes-exact, the WHOLE Python path is
    oracle-checkable: frame boundaries and md5s must match a SQL replay
    (q_multimodal_framesample) — the plumbing is verified, not just
    row-counted; a real decoder drops in behind the same contract.
    """
    out_schema = T.StructType(
        [
            T.StructField("media_id", T.LongType(), False),
            T.StructField("frame_idx", T.IntegerType(), False),
            T.StructField("frame_len", T.IntegerType(), False),
            T.StructField("frame_md5", T.StringType(), False),
        ]
    )

    def row(mid, payload):
        data = bytes(payload) if payload is not None else b""
        n_frames = math.ceil(len(data) / frame_size)
        for i in range(0, n_frames, every):
            frame = data[i * frame_size : (i + 1) * frame_size]
            yield mid, i, len(frame), hashlib.md5(frame).hexdigest()

    return _row_stage(df, _MEDIA_COLS, out_schema, row)


def audio_energy_windows(df: DataFrame, window_bytes: int = 64) -> DataFrame:
    """Windowed energy profile over audio-shaped payloads, Arrow-batched.

    Treats the payload as a PCM-style sample stream (here: unsigned bytes
    — a real pipeline would ``np.frombuffer(..., dtype=np.int16)`` after
    codec decode) and reduces each fixed-size window to its energy (sum of
    sample magnitudes).  This is the silence-detection / loudness-segmentation
    primitive of an audio curation stack, and unlike the decode stubs the
    arithmetic is REAL — so the entire Python lane (Arrow batching, numpy
    window fold, argmax tie policy) is value-hash verifiable by a SQL
    oracle over the same bytes.

    Output: (media_id, n_bytes, n_windows, peak_energy, peak_window,
    energy_md5) — scalars only, canonicalizer-safe.
    """
    out_schema = T.StructType(
        [
            T.StructField("media_id", T.LongType(), False),
            T.StructField("n_bytes", T.IntegerType(), True),
            T.StructField("n_windows", T.IntegerType(), True),
            T.StructField("peak_energy", T.LongType(), True),
            T.StructField("peak_window", T.IntegerType(), True),
            T.StructField("energy_md5", T.StringType(), True),
        ]
    )

    def row(mid, payload):
        data = bytes(payload) if payload is not None else b""
        arr = np.frombuffer(data, dtype=np.uint8)
        n_win = -(-len(arr) // window_bytes) if len(arr) else 0
        energies = [
            int(arr[w * window_bytes : (w + 1) * window_bytes].sum())
            for w in range(n_win)
        ]
        yield (
            mid,
            len(arr),
            n_win,
            max(energies) if energies else 0,
            # first-max tie policy — matches the oracle's list_position
            energies.index(max(energies)) if energies else 0,
            hashlib.md5(",".join(str(e) for e in energies).encode()).hexdigest(),
        )

    return _row_stage(df, _MEDIA_COLS, out_schema, row)


# ---------------------------------------------------------------------------
# Audio fingerprinting — the audio leg of the near-dup stack
# ---------------------------------------------------------------------------

_AUDIO_FP_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("n_samples", T.LongType(), True),
        T.StructField("n_frames", T.IntegerType(), True),
        T.StructField("n_hashes", T.IntegerType(), True),
        T.StructField("fp_md5", T.StringType(), True),
    ]
)

_AUDIO_FRAME_HASH_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("t", T.IntegerType(), False),
        T.StructField("fh", T.IntegerType(), False),
    ]
)


def _frame_hashes_np(samples, frame_samples: int, bands: int):
    """Band-energy-delta fingerprint over decoded PCM16 samples — the
    Chromaprint-family recipe in its integer-exact form: frame the
    stream, sum s² per band (exact int64 — |s|≤32768, so a band of
    frame_samples/bands samples stays far below 2⁶³), and set bit b of
    frame t iff band b's energy ROSE from frame t-1.  Deltas, not
    absolute levels: the hash tracks spectral-envelope MOTION, so it is
    invariant to overall gain — the property that makes it a
    fingerprint rather than a volume meter."""
    bw = frame_samples // bands
    n_frames = len(samples) // frame_samples
    if n_frames == 0:
        return 0, []
    arr = np.asarray(
        samples[: n_frames * frame_samples], dtype=np.int64
    ).reshape(n_frames, bands, bw)
    energy = (arr * arr).sum(axis=2)
    bits = energy[1:] > energy[:-1]
    hashes = (bits << np.arange(bands, dtype=np.int64)).sum(axis=1)
    return n_frames, [int(h) for h in hashes]


def audio_fingerprint(
    df: DataFrame, frame_samples: int = 32, bands: int = 4
) -> DataFrame:
    """Per-payload fingerprint summary over REAL WAV decode
    (``parse_wav``): sample count, frame count, hash count
    (n_frames-1 — hashes are deltas), and an md5 over the comma-joined
    frame-hash sequence.  Every number is exact-integer, so the whole
    path — container walk, int16 sign handling, band energy, delta
    thresholding — is value-hash verifiable against a SQL replay of the
    same bytes.  Corrupt payloads fail soft to a NULL-stats row."""

    def row(mid, payload):
        _rate, _nch, samples = parse_wav(bytes(payload))
        n_frames, hashes = _frame_hashes_np(samples, frame_samples, bands)
        yield (
            mid,
            len(samples),
            n_frames,
            len(hashes),
            hashlib.md5(",".join(str(h) for h in hashes).encode()).hexdigest(),
        )

    return _row_stage(df, _MEDIA_COLS, _AUDIO_FP_SCHEMA, row, _PARSE_ERRORS)


def audio_frame_hashes(
    df: DataFrame, frame_samples: int = 32, bands: int = 4
) -> DataFrame:
    """(media_id, t, fh): the exploded frame-hash sequence — the
    building block the near-dup lane shingles and joins on.  One linear
    Arrow pass per payload, zero shuffle; a payload with fewer than
    2·frame_samples samples (or a corrupt container) contributes no
    rows rather than failing the stage."""

    def row(mid, payload):
        try:
            _rate, _nch, samples = parse_wav(bytes(payload))
        except _PARSE_ERRORS:
            return
        _n, hashes = _frame_hashes_np(samples, frame_samples, bands)
        for t, h in enumerate(hashes):
            yield mid, t, h

    return _row_stage(df, _MEDIA_COLS, _AUDIO_FRAME_HASH_SCHEMA, row)


def video_frame_hashes(
    df: DataFrame, luma_per_frame: int, bands: int = 4
) -> DataFrame:
    """(media_id, t, fh): the video twin of ``audio_frame_hashes`` —
    decode Y4M with the REAL stream walker (parse_y4m), flatten the
    luma planes, and reuse the band-energy-delta kernel over luma bytes
    (frame = one video frame's ``luma_per_frame`` bytes, band = a
    contiguous quadrant).  Deltas of band energies between consecutive
    frames make the hash brightness-scale invariant, the same property
    the audio hash has for gain.  Corrupt containers contribute no rows
    (fail-soft), one linear Arrow pass, zero shuffle."""

    def row(mid, payload):
        try:
            _w, _h, frames = parse_y4m(bytes(payload))
        except _PARSE_ERRORS:
            return
        luma = list(b"".join(fr[0] for fr in frames))
        _n, hashes = _frame_hashes_np(luma, luma_per_frame, bands)
        for t, h in enumerate(hashes):
            yield mid, t, h

    return _row_stage(df, _MEDIA_COLS, _AUDIO_FRAME_HASH_SCHEMA, row)


def documents_as_gif(df: DataFrame, width: int = 16) -> DataFrame:
    """Deterministic GIF payloads from document text: the SAME
    ``_text_raster`` raster as documents_as_png/jpeg, encoded through
    the real ``operators/gif.py`` LZW codec with the identity-gray
    palette.  GIF is lossless, so the decoded pixels equal the planted
    raster byte-for-byte — the decode lane can share the PNG lane's
    content-exact oracle VERBATIM (same raster, same stats), which is
    itself the point: the oracle pins CONTENT, so it is
    codec-independent across every lossless format."""
    from . import gif

    def row(mid, text):
        yield mid, gif.encode_gif(_text_raster(text, width))

    return _row_stage(df, _DOC_COLS, _PAYLOAD_SCHEMA, row)


def decode_gif(df: DataFrame) -> DataFrame:
    """REAL GIF decode lane: run each payload through the LZW codec and
    reduce it to the q_png_decode ``_raster_stats`` contract, so the
    content oracle is shared across lossless codecs.  Per-row fail-soft
    on corrupt containers."""
    from . import gif

    def row(mid, payload):
        yield (mid,) + _raster_stats(*gif.decode_gif(bytes(payload)))

    return _row_stage(
        df, _MEDIA_COLS, _PNG_DECODE_SCHEMA, row, (ValueError, NotImplementedError),
    )
