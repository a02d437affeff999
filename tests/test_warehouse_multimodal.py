"""Warehouse-load semantics + multimodal binary plumbing."""

from pyspark.sql import functions as F

from glue_etl_nyc_yellow_taxi_analysis_spark.operators import multimodal
from glue_etl_nyc_yellow_taxi_analysis_spark.sources.writers import ParquetWarehouse


def test_warehouse_create_append_read(spark, sf_dir, tmp_path):
    wh = ParquetWarehouse(str(tmp_path))
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    assert not wh.table_exists("dim_nation")
    wh.create(nation, "dim_nation")
    assert wh.table_exists("dim_nation")
    assert wh.read(spark, "dim_nation").count() == 25
    wh.append(nation, "dim_nation")
    assert wh.read(spark, "dim_nation").count() == 50  # append, not overwrite


def test_multimodal_resize_and_frames(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(10)
    media = multimodal.documents_as_media(docs)
    resized = multimodal.resize_images(media, 32, 32).collect()
    assert all(r.width == 32 and r.height == 32 for r in resized)
    assert all(len(bytes(r.payload)) <= 32 * 32 // 64 for r in resized)
    frames = multimodal.sample_frames(media, every_nth=8, max_frames=4)
    per_doc = {r[0]: r[1] for r in frames.groupBy("media_id").count().collect()}
    assert set(per_doc) == {r.media_id for r in media.select("media_id").collect()}
    assert all(1 <= n <= 4 for n in per_doc.values())  # one-to-many explosion, capped
    # frame_idx is the SOURCE ordinal (0, 8, 16, ...), not a renumbering
    assert all(r.frame_idx % 8 == 0 for r in frames.collect())


def test_multimodal_features_deterministic(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(20)
    media = multimodal.documents_as_media(docs)
    assert [f.name for f in media.schema.fields] == [
        "media_id", "payload", "media_type", "width", "height",
    ]
    feats1 = {r.media_id: tuple(r.features) for r in multimodal.extract_features(media).collect()}
    feats2 = {r.media_id: tuple(r.features) for r in multimodal.extract_features(media).collect()}
    assert feats1 == feats2  # deterministic fake decode
    assert all(len(v) == multimodal.FEATURE_DIM for v in feats1.values())
    # n_bytes matches the utf-8 payload length
    n = {r.media_id: r.n_bytes for r in multimodal.extract_features(media).collect()}
    chars = {r.doc_id: r.n for r in docs.select("doc_id", F.length("text").alias("n")).collect()}
    assert all(n[k] >= chars[k] for k in n)  # utf-8 ≥ char count


def test_frame_sample_slices_and_fanout(spark):
    from glue_etl_nyc_yellow_taxi_analysis_spark.operators import multimodal

    rows = [(1, "a" * 100), (2, "b" * 31), (3, "c" * 129)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    media = multimodal.documents_as_media(df)
    out = multimodal.frame_sample(media, frame_size=32, every=4).collect()
    by_id = {}
    for r in out:
        by_id.setdefault(r.media_id, []).append(r)
    # 100 bytes → 4 frames → sampled idx {0}; 31 → 1 frame; 129 → 5 frames → {0, 4}
    assert [r.frame_idx for r in by_id[1]] == [0]
    assert [r.frame_len for r in by_id[2]] == [31]
    assert sorted(r.frame_idx for r in by_id[3]) == [0, 4]
    import hashlib
    assert by_id[2][0].frame_md5 == hashlib.md5(b"b" * 31).hexdigest()
    last = [r for r in by_id[3] if r.frame_idx == 4][0]
    assert last.frame_len == 1 and last.frame_md5 == hashlib.md5(b"c").hexdigest()


# --------------------------------------------------------------------------
# REAL stdlib codecs (round 6): PCM16 WAV + 24bpp BMP
# --------------------------------------------------------------------------


def test_parse_wav_roundtrip_and_chunk_walk():
    """parse_wav must WALK the chunk list (unknown chunks, odd sizes,
    word alignment), not assume the canonical 44-byte layout, and must
    decode signed int16 little-endian."""
    import struct

    samples = [0, 1, -1, 32767, -32768, 12345, -12345]
    pcm = struct.pack(f"<{len(samples)}h", *samples)
    # odd-length LIST chunk forces the word-alignment path
    payload = multimodal.wav_container(
        pcm, sample_rate=44100, n_channels=2,
        extra_chunks=((b"LIST", b"INFOx"), (b"junk", b"\x00" * 7)),
    )
    rate, nch, got = multimodal.parse_wav(payload)
    assert (rate, nch) == (44100, 2)
    assert got == samples


def test_parse_wav_rejects_malformed():
    import struct

    import pytest

    with pytest.raises(ValueError):
        multimodal.parse_wav(b"RIFFxxxxNOPE")
    with pytest.raises(ValueError):  # truncated data chunk
        good = multimodal.wav_container(b"\x00\x00" * 8)
        multimodal.parse_wav(good[:-5])
    with pytest.raises(ValueError):  # no data chunk at all
        hdr = struct.pack("<4sI4s", b"RIFF", 4, b"WAVE")
        multimodal.parse_wav(hdr)
    with pytest.raises(NotImplementedError):  # non-PCM needs ffmpeg
        mp3ish = multimodal.wav_container(b"ab")
        # patch audio_format=3 (IEEE float) inside the fmt chunk
        mp3ish = mp3ish[:20] + b"\x03" + mp3ish[21:]
        multimodal.parse_wav(mp3ish)


def test_parse_bmp_bottom_up_flip_and_padding():
    """Encoder writes bottom-up rows with padding; the decoder must
    return the original TOP-DOWN unpadded stream."""
    w, h = 6, 3  # stride 18 + 2 pad bytes
    pix = bytes(range(w * h * 3))
    payload = multimodal.bmp_container(pix, w, h)
    # rows land bottom-up with 2 pad bytes: verify the raw layout first
    assert payload[14 + 40 : 14 + 40 + 18] == pix[36:54]  # last row first
    assert payload[14 + 40 + 18 : 14 + 40 + 20] == b"\x00\x00"
    got_w, got_h, got = multimodal.parse_bmp(payload)
    assert (got_w, got_h, got) == (w, h, pix)


def test_parse_bmp_top_down_negative_height():
    """Negative biHeight = top-down storage: no flip on decode."""
    import struct

    w, h = 6, 2
    pix = bytes(range(w * h * 3))
    payload = bytearray(multimodal.bmp_container(pix, w, h))
    # rewrite as top-down: negate height, store rows in natural order
    struct.pack_into("<i", payload, 22, -h)
    row, stride = w * 3, w * 3 + 2
    for r in range(h):
        payload[54 + r * stride : 54 + r * stride + row] = pix[
            r * row : (r + 1) * row
        ]
    got_w, got_h, got = multimodal.parse_bmp(bytes(payload))
    assert (got_w, got_h, got) == (w, h, pix)


def test_parse_bmp_rejects_malformed():
    import pytest

    with pytest.raises(ValueError):
        multimodal.parse_bmp(b"PNG\x00" * 20)
    with pytest.raises(ValueError):  # truncated pixel data
        multimodal.parse_bmp(multimodal.bmp_container(bytes(18), 6, 1)[:-3])
    with pytest.raises(NotImplementedError):  # 4bpp still needs PIL
        payload = bytearray(multimodal.bmp_container(bytes(18), 6, 1))
        payload[28] = 4
        multimodal.parse_bmp(bytes(payload))
    with pytest.raises(ValueError):  # 8bpp but color table truncated
        payload = bytearray(multimodal.bmp_container(bytes(18), 6, 1))
        payload[28] = 8
        multimodal.parse_bmp(bytes(payload))


def test_parse_bmp_pal8_roundtrip():
    """8bpp palette decode resolves indices through the file's own color
    table into the same top-down BGR contract as the 24bpp lane."""
    palette = [(i, (i * 7) % 256, (i * 13) % 256) for i in range(256)]
    w, h = 6, 2  # stride 8 → 2 pad bytes per row
    idx = bytes([0, 1, 2, 255, 40, 7, 200, 130, 64, 3, 9, 99])
    payload = multimodal.bmp_container_pal8(idx, w, h, palette)
    got_w, got_h, got = multimodal.parse_bmp(payload)
    want = b"".join(bytes(palette[i]) for i in idx)
    assert (got_w, got_h, got) == (w, h, want)
    # clr_used=0 must mean "256 entries", per the BMP spec
    payload0 = bytearray(payload)
    payload0[46:50] = b"\x00\x00\x00\x00"
    assert multimodal.parse_bmp(bytes(payload0))[2] == want


def test_parse_y4m_roundtrip_and_frame_params():
    """parse_y4m must scan each FRAME line to its newline (per-frame
    parameters are legal Y4M), split Y/U/V planes at 4:2:0 sizes, and
    preserve frame order."""
    w, h = 6, 4
    f0 = bytes(range(36))
    f1 = bytes(range(100, 136))
    payload = multimodal.y4m_container(
        [f0, f1], w, h, frame_params=((1, b" Xodd"),)
    )
    got_w, got_h, frames = multimodal.parse_y4m(payload)
    assert (got_w, got_h, len(frames)) == (w, h, 2)
    assert frames[0] == (f0[:24], f0[24:30], f0[30:36])
    assert frames[1] == (f1[:24], f1[24:30], f1[30:36])


def test_parse_y4m_defaults_chroma_and_ignores_unknown_tags():
    """A header with no C tag defaults to 420jpeg; unknown tags (F, I,
    A, X...) must be skipped, not choke the parser."""
    frame = bytes(36)
    payload = (
        b"YUV4MPEG2 W6 H4 F30000:1001 It A0:0 Xcustom\nFRAME\n" + frame
    )
    got_w, got_h, frames = multimodal.parse_y4m(payload)
    assert (got_w, got_h, len(frames)) == (6, 4, 1)


def test_parse_y4m_rejects_malformed():
    import pytest

    with pytest.raises(ValueError):  # wrong magic
        multimodal.parse_y4m(b"RIFFxxxxWAVE")
    with pytest.raises(ValueError):  # missing dimensions
        multimodal.parse_y4m(b"YUV4MPEG2 F25:1\nFRAME\n" + bytes(36))
    with pytest.raises(ValueError):  # truncated frame payload
        good = multimodal.y4m_container([bytes(36)], 6, 4)
        multimodal.parse_y4m(good[:-5])
    with pytest.raises(ValueError):  # garbage between frames
        good = multimodal.y4m_container([bytes(36), bytes(36)], 6, 4)
        broken = good.replace(b"FRAME\n" + bytes(36), b"XRAME\n" + bytes(36), 1)
        multimodal.parse_y4m(broken)
    with pytest.raises(NotImplementedError):  # 4:1:1 still needs ffmpeg
        payload = b"YUV4MPEG2 W8 H4 C411\nFRAME\n" + bytes(48)
        multimodal.parse_y4m(payload)


def test_parse_y4m_chroma_samplings():
    """422/444/mono plane geometry: the split must follow the C tag."""
    w, h = 6, 4
    fr422 = bytes(range(48))
    got = multimodal.parse_y4m(
        multimodal.y4m_container([fr422], w, h, chroma="422")
    )
    assert got[2] == [(fr422[:24], fr422[24:36], fr422[36:48])]
    fr444 = bytes(range(72))
    got = multimodal.parse_y4m(
        multimodal.y4m_container([fr444], w, h, chroma="444")
    )
    assert got[2] == [(fr444[:24], fr444[24:48], fr444[48:72])]
    fry = bytes(range(24))
    got = multimodal.parse_y4m(
        multimodal.y4m_container([fry], w, h, chroma="mono")
    )
    assert got[2] == [(fry, b"", b"")]


def test_parse_wav_format_normalization():
    """PCM8/24/f32 decode to the int16 scale: 16/24/f32 round-trip the
    samples bit-exactly, PCM8 quantizes to floor(s/256)*256."""
    samples = [0, 1, -1, 32767, -32768, 12345, -12345, 255, -255]
    for fc, bits in ((1, 16), (1, 24), (3, 32)):
        payload = multimodal.wav_container(
            multimodal.pack_samples(samples, fc, bits), fmt_code=fc, bits=bits
        )
        assert multimodal.parse_wav(payload)[2] == samples, (fc, bits)
    payload = multimodal.wav_container(
        multimodal.pack_samples(samples, 1, 8), fmt_code=1, bits=8
    )
    import math

    want = [math.floor(s / 256) * 256 for s in samples]
    assert multimodal.parse_wav(payload)[2] == want
    # odd-length PCM8 data chunk exercises the RIFF pad byte
    payload = multimodal.wav_container(
        multimodal.pack_samples(samples[:3], 1, 8),
        fmt_code=1,
        bits=8,
        extra_chunks=((b"LIST", b"xx"),),
    )
    assert multimodal.parse_wav(payload)[2] == want[:3]


def test_y4m_decode_lane_features(spark):
    """End-to-end through Spark: a 2-frame doc's luma sums and scene-cut
    delta computed by hand must match decode_y4m's output."""
    text = "".join(chr(65 + (i % 26)) for i in range(72))  # 2 full frames
    docs = spark.createDataFrame([(1, text), (2, "hi")], ["doc_id", "text"])
    media = multimodal.documents_as_y4m(docs)
    out = {r.media_id: r for r in multimodal.decode_y4m(media).collect()}
    b = text.encode()
    y = b[0:24] + b[36:60]
    assert out[1].n_frames == 2
    assert out[1].sum_y == sum(y)
    assert out[1].sum_u == sum(b[24:30]) + sum(b[60:66])
    assert out[1].sum_v == sum(b[30:36]) + sum(b[66:72])
    assert out[1].frame_diff_sum == sum(
        abs(b[36 + i] - b[i]) for i in range(24)
    )
    # short doc: one zero-padded frame, no inter-frame delta
    assert out[2].n_frames == 1 and out[2].frame_diff_sum == 0
    assert out[2].sum_y == sum("hi".encode())


def test_extract_features_real_decode_dispatch(spark):
    """fake_decode=False now REALLY decodes WAV/BMP payloads (per-stride
    means over decoded samples/pixels, not raw container bytes) and
    still raises NotImplementedError for formats needing codec libs."""
    import struct

    import pytest

    samples = list(range(-8, 8))
    wav = multimodal.wav_container(struct.pack("<16h", *samples))
    pix = bytes(range(36))
    bmp = multimodal.bmp_container(pix, 6, 2)
    df = spark.createDataFrame(
        [(1, bytearray(wav)), (2, bytearray(bmp))],
        "media_id long, payload binary",
    )
    got = {
        r.media_id: r
        for r in multimodal.extract_features(df, fake_decode=False).collect()
    }
    dim = multimodal.FEATURE_DIM
    exp_wav = [
        round(sum(samples[d::dim]) / len(samples[d::dim]), 6)
        for d in range(dim)
    ]
    exp_bmp = [
        round(sum(pix[d::dim]) / len(pix[d::dim]), 6) for d in range(dim)
    ]
    assert list(got[1].features) == exp_wav   # decoded SAMPLES, not bytes
    assert list(got[2].features) == exp_bmp   # top-down pixel stream
    # baseline JPEG payloads now take the REAL codec (r8): features are
    # per-stride means over DECODED pixels, replayed driver-side
    import numpy as np

    from glue_etl_nyc_yellow_taxi_analysis_spark.operators import jpeg as J

    img = np.full((8, 8), 100, dtype=np.uint8)
    data = J.encode_baseline(img, quality=90)
    jdf = spark.createDataFrame(
        [(3, bytearray(data))], "media_id long, payload binary"
    )
    got3 = multimodal.extract_features(jdf, fake_decode=False).collect()[0]
    vals = J.decode_baseline(data)[2].tobytes()
    exp = [
        round(sum(vals[d::dim]) / len(vals[d::dim]), 6) for d in range(dim)
    ]
    assert list(got3.features) == exp
    # corrupt JPEG → ValueError; truly unknown magic → NotImplementedError
    bad = spark.createDataFrame(
        [(4, bytearray(b"\xff\xd8\xff\xe0JFIF-not-decodable"))],
        "media_id long, payload binary",
    )
    with pytest.raises(Exception, match="bad JPEG payload|ValueError"):
        multimodal.extract_features(bad, fake_decode=False).collect()
    unknown = spark.createDataFrame(
        [(5, bytearray(b"ID3mp3-frame-data"))],
        "media_id long, payload binary",
    )
    with pytest.raises(Exception, match="NotImplementedError|real decode"):
        multimodal.extract_features(unknown, fake_decode=False).collect()


# ---------------------------------------------------------------------------
# corrupt-payload fail-soft (round 6): one bad container must yield one
# NULL-stats row, never abort the mapInPandas task (which would kill the
# whole job after retries at scale)
# ---------------------------------------------------------------------------

def test_decoders_fail_soft_on_corrupt_payloads(spark):
    import struct

    from glue_etl_nyc_yellow_taxi_analysis_spark.operators.multimodal import (
        bmp_container,
        decode_bmp,
        decode_wav,
        decode_y4m,
        wav_container,
        y4m_container,
    )

    good = {
        "wav": wav_container(struct.pack("<3h", 100, -100, 50)),
        "bmp": bmp_container(bytes(range(12)), 2, 2),
        "y4m": y4m_container([bytes([10] * 4 + [20] + [30])], 2, 2),
    }
    bad = [
        b"",
        b"garbage-not-a-container",
        good["wav"][:10],
        # negative W tag: parse_y4m must REJECT it (ValueError → NULL
        # row), not loop forever — a negative frame_len would walk pos
        # backwards and accumulate frames unboundedly
        b"YUV4MPEG2 W-2 H2\nFRAME\n" + bytes(64),
    ]
    for kind, fn in (("wav", decode_wav), ("bmp", decode_bmp), ("y4m", decode_y4m)):
        payloads = [(0, good[kind])] + [(i + 1, b) for i, b in enumerate(bad)]
        df = spark.createDataFrame(
            payloads, "media_id long, payload binary"
        )
        rows = {r["media_id"]: r for r in fn(df).collect()}
        assert len(rows) == 5  # every payload yields exactly one row
        ok = rows[0]
        assert all(v is not None for v in ok.asDict().values()), kind
        for i in (1, 2, 3, 4):
            vals = rows[i].asDict()
            vals.pop("media_id")
            assert all(v is None for v in vals.values()), (kind, i)


def test_parse_y4m_rejects_nonpositive_dimensions():
    """A W/H tag ≤ 0 must raise immediately: a non-positive frame_len
    would otherwise advance the FRAME walk backwards (W-2 H2 ⇒
    frame_len = -6) and spin forever accumulating frames."""
    import pytest

    from glue_etl_nyc_yellow_taxi_analysis_spark.operators.multimodal import parse_y4m

    for header in (b"W-2 H2", b"W2 H-2", b"W0 H2", b"W2 H0"):
        with pytest.raises(ValueError, match="dimensions|missing"):
            parse_y4m(b"YUV4MPEG2 " + header + b"\nFRAME\n" + bytes(64))
