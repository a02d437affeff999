"""MP3 frame-walk contract (operators/mp3.py): header-math demux over
real MPEG-1 Layer III streams — frame extents, ID3v2 syncsafe skip,
and loud seams for every foreign feature the subset rejects."""

import pytest

from glue_etl_nyc_yellow_taxi_analysis_spark.operators import mp3


def test_roundtrip_all_bitrates_and_samplerates():
    frames = [(b, p) for b in range(1, 15) for p in (0, 1)]
    for sr_idx, sr in enumerate((44100, 48000, 32000)):
        data = mp3.mp3_container(frames, sr_idx)
        got_sr, walked = mp3.walk_mp3(data)
        assert got_sr == sr
        assert walked == [(mp3.BITRATES[b], p) for b, p in frames]


def test_frame_len_is_spec_literal():
    # 144 * 128000 / 44100 = 417.95…  → 417, +1 when padded
    assert mp3.frame_len(128, 44100, 0) == 417
    assert mp3.frame_len(128, 44100, 1) == 418
    assert mp3.frame_len(320, 48000, 0) == 960


def test_id3v2_tag_skipped_by_syncsafe_size():
    # payload length 200 > 127 exercises the multi-byte syncsafe form
    data = mp3.mp3_container([(9, 0)], 0, id3_payload=bytes(200))
    assert data[:3] == b"ID3"
    sr, walked = mp3.walk_mp3(data)
    assert (sr, walked) == (44100, [(128, 0)])
    # a non-syncsafe size byte is corruption, not a silent mis-skip
    bad = bytearray(data)
    bad[6] |= 0x80
    with pytest.raises(ValueError, match="syncsafe"):
        mp3.walk_mp3(bytes(bad))


def test_truncation_raises_at_every_cut():
    data = mp3.mp3_container([(5, 1), (12, 0)], 1)
    len_first = mp3.frame_len(64, 48000, 1)
    for cut in range(1, len(data)):
        if cut == len_first:
            # a cut exactly ON a frame boundary is indistinguishable
            # from a shorter stream (MP3 has no global length field) —
            # it must parse as one frame, honestly
            assert mp3.walk_mp3(data[:cut]) == (48000, [(64, 1)])
            continue
        with pytest.raises(ValueError):
            mp3.walk_mp3(data[:cut])


def test_foreign_features_raise_descriptively():
    data = bytearray(mp3.mp3_container([(9, 0)], 0))
    mpeg2 = bytearray(data)
    mpeg2[1] &= ~0x08  # version bits 11 -> 10 (MPEG-2)
    with pytest.raises(ValueError, match="MPEG-1"):
        mp3.walk_mp3(bytes(mpeg2))
    layer2 = bytearray(data)
    layer2[1] = (layer2[1] & ~0x06) | 0x04  # layer 01 -> 10 (Layer II)
    with pytest.raises(ValueError, match="Layer III"):
        mp3.walk_mp3(bytes(layer2))
    crc = bytearray(data)
    crc[1] &= ~0x01  # protection bit 0 = CRC present
    with pytest.raises(ValueError, match="CRC"):
        mp3.walk_mp3(bytes(crc))
    free = bytearray(data)
    free[2] &= 0x0F  # bitrate index 0 = free format
    with pytest.raises(ValueError, match="free-format"):
        mp3.walk_mp3(bytes(free))
    rsv = bytearray(data)
    rsv[2] = (rsv[2] & ~0x0C) | 0x0C  # samplerate index 3
    with pytest.raises(ValueError, match="reserved samplerate"):
        mp3.walk_mp3(bytes(rsv))
    with pytest.raises(ValueError, match="sync"):
        mp3.walk_mp3(b"\x00\x00\x00\x00")
    with pytest.raises(ValueError, match="no MPEG frames"):
        mp3.walk_mp3(mp3.mp3_container([], 0, id3_payload=b"x"))


def test_samplerate_change_mid_stream_raises():
    a = mp3.mp3_container([(9, 0)], 0)
    b = mp3.mp3_container([(9, 0)], 1)
    with pytest.raises(ValueError, match="samplerate changes"):
        mp3.walk_mp3(a + b)


def test_lane_accounting_matches_hand_math(spark, sf_dir):
    """Row-level pin independent of the SQL oracle: duration and byte
    totals recomputed from the frame spec by hand."""
    from glue_etl_nyc_yellow_taxi_analysis_spark.queries_ext51 import (
        q_mp3_framewalk,
    )

    docs = {
        r["doc_id"]: r["text"]
        for r in spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "text")
        .collect()
    }
    out = {r["doc_id"]: r for r in q_mp3_framewalk(spark, sf_dir).collect()}
    assert set(out) == set(docs)
    seen_trunc = seen_ok = False
    for d, t in docs.items():
        r = out[d]
        if d % 50 == 7:
            assert r["sr"] is None and r["n_frames"] is None, r
            seen_trunc = True
            continue
        seen_ok = True
        n = 1 + (len(t or "") % 24)
        sr = (44100, 48000, 32000)[d % 3]
        kbps = [mp3.BITRATES[1 + (d + i) % 14] for i in range(n)]
        pads = [(d + i) % 2 for i in range(n)]
        assert r["n_frames"] == n and r["sr"] == sr
        frame_bytes = sum(mp3.frame_len(k, sr, p) for k, p in zip(kbps, pads))
        id3 = 0 if d % 64 == 0 else 10 + d % 64
        assert r["total_bytes"] == frame_bytes + id3, (d, r)
        assert r["duration_us"] == n * 1152 * 1_000_000 // sr
        assert r["avg_centikbps"] == sum(kbps) * 100 // n
    assert seen_ok and seen_trunc


def test_stream_pacing_state_continues_across_batches(spark, sf_dir):
    """q_stream_crawl_pacing: slots must CONTINUE across the three
    arrival waves (the state store doing real work), stay contiguous
    per host, and follow the (wave, url) arrival order exactly; the
    batch q_crawl_slots lane must agree on the allowed URL set."""
    from collections import defaultdict

    from glue_etl_nyc_yellow_taxi_analysis_spark.queries_ext51 import (
        q_crawl_slots,
        q_stream_crawl_pacing,
    )

    rows = q_stream_crawl_pacing(spark, sf_dir).collect()
    per_host = defaultdict(list)
    for r in rows:
        per_host[r["host"]].append(r)
    assert per_host
    multi_wave_hosts = 0
    for host, rs in per_host.items():
        slots = sorted(r["slot"] for r in rs)
        assert slots == list(range(len(rs))), host  # contiguous, 0-based
        want_order = sorted(rs, key=lambda r: (len(r["url"]) % 3, r["url"]))
        assert [r["slot"] for r in want_order] == list(range(len(rs))), host
        if len({len(r["url"]) % 3 for r in rs}) > 1:
            multi_wave_hosts += 1
    # the continuation path genuinely ran: hosts spanned >1 micro-batch
    assert multi_wave_hosts > 0

    batch = {(r["host"], r["url"]) for r in q_crawl_slots(spark, sf_dir).collect()}
    assert batch == {(r["host"], r["url"]) for r in rows}


def test_id3_text_frames_roundtrip_and_seams():
    """ID3v2.4 frame layer: both text encodings round-trip, foreign
    frame ids skip by size, padding is tolerated, and the unsupported
    features (v2.3, unsync, compressed frames, other encodings) raise
    descriptively."""
    fields = {"TIT2": "A Title", "TPE1": "an artist", "TCON": "genre-x"}
    for utf8 in (False, True):
        payload = mp3.id3_frames(fields, utf8=utf8)
        data = mp3.mp3_container([(9, 0)], 0, id3_payload=payload)
        assert mp3.parse_id3(data[: 10 + len(payload)]) == fields
    # non-Latin-1 text must use the UTF-8 encoding byte
    assert mp3.id3_frames({"TIT2": "naïve"}, utf8=True)
    with pytest.raises(UnicodeEncodeError):
        mp3.id3_frames({"TIT2": "кириллица"}, utf8=False)
    # foreign frame skipped by size; trailing zero padding tolerated
    payload = mp3.id3_frames({"TIT2": "x"}) + b"WXXX" + bytes((0, 0, 0, 3)) + b"\x00\x00abc"
    padded = payload + bytes(16)
    tag = b"ID3\x04\x00\x00" + mp3._syncsafe(len(padded)) + padded
    assert mp3.parse_id3(tag) == {"TIT2": "x"}
    # seams
    v23 = bytearray(tag); v23[3] = 3
    with pytest.raises(ValueError, match="v2.4"):
        mp3.parse_id3(bytes(v23))
    unsync = bytearray(tag); unsync[5] |= 0x80
    with pytest.raises(ValueError, match="unsynchronised"):
        mp3.parse_id3(bytes(unsync))
    comp = bytearray(tag); comp[19] |= 0x08  # frame format flags byte
    with pytest.raises(ValueError, match="compressed/encrypted"):
        mp3.parse_id3(bytes(comp))
    enc2 = bytearray(tag); enc2[20] = 1  # UTF-16 encoding byte
    with pytest.raises(ValueError, match="text encodings"):
        mp3.parse_id3(bytes(enc2))
    with pytest.raises(ValueError, match="text frame ids"):
        mp3.id3_frames({"WXXX": "not text"})


def test_stream_mp3_ingest_equals_batch(spark, sf_dir):
    """Stream/batch equivalence through the demux pass, including the
    truncated-doc NULL marker rows."""
    from glue_etl_nyc_yellow_taxi_analysis_spark.queries_ext51 import (
        q_mp3_framewalk,
        q_stream_mp3_ingest,
    )

    batch = sorted(tuple(r) for r in q_mp3_framewalk(spark, sf_dir).collect())
    stream = sorted(tuple(r) for r in q_stream_mp3_ingest(spark, sf_dir).collect())
    assert batch == stream
    assert any(r[1] is None for r in stream)  # hostile rows streamed too
