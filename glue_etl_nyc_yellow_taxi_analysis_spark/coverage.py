"""Driver-window coverage rotation.

The external correctness gate checks the FIRST ~50 entries of the declared
query registry each round, so with ~200 declared queries a static order
would leave most of the inventory without hard driver-side evidence
forever.  This module reads which queries already have a driver row (the
committed CORRECTNESS_r{N}.json files) and reorders the registry so that:

1. ``PINNED`` queries come first — fixes that need fresh driver evidence
   this round.
2. A small ``RECHECK_QUOTA`` of previously-green queries rotates back in
   (round-robin keyed on the round number) so a regression in an
   already-checked query is eventually re-detected, not invisible forever.
3. Queries never driver-checked in any past round come next (stable
   registry order), so the window keeps consuming new evidence each round.
4. Remaining previously-checked queries go last — their rows exist in
   committed CORRECTNESS_r{N}.json files.

Every query remains declared and locally gated (tools/check_oracle.py +
pytest) regardless of position.
"""

from __future__ import annotations

import glob
import json
import os
import re

_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Must re-earn a driver row this round: only queries whose Spark or
# oracle side changed since their latest committed driver row, at most
# 10, so the pins take ONE lane per changed MECHANISM.
#
# Folding the package's three Lloyd's k-means trainers into
# operators/pq.pq_fit changed three lanes:
#   * q_kmeans_oracle — k-means is now the PQ loop at m=1;
#   * q_ann_pq_oracle — the m>1 path, whose rounds now materialize the
#     one-row codebook map instead of the codebook table;
#   * q_kmeans_train — its float-mean trainer is gone; it trains
#     through the same loop at k=8, 3 rounds.
# Moving every media, document, audio and shard kernel onto the one
# kernel path (_row_stage/_shard_stage) keeps its pins:
#   * q_jpeg_resize — a media builder's per-row kernel, fused with its
#     decode (the media-kernel consolidation);
#   * q_pdf_extract — a document build → extract pair fused into one
#     Arrow pass;
#   * q_flac_transcode — the deepest new fusion (3 stages -> 1);
#   * q_audio_decimate — a DSP transform fused onto the WAV build, its
#     fail-soft scoped to the parse inside the row;
#   * q_zip_shard_roundtrip — the one member-shard builder (its pack
#     varies method and ZIP64 framing by shard_id);
#   * q_warc_ingest — the shared WARC pack and a whole-row fail-soft
#     walk with the hostile marker shard;
#   * q_mp3_framewalk — build + walk in one row, its fail-soft scoped
#     to the walk.
# Dropped to stay within 10: q_stream_warc_ingest (the same WARC pack
# as q_warc_ingest, read by a stream) and q_warc_revisit (its own pack
# through the _shard_stage that q_zip_shard_roundtrip already pins).
# Left out deliberately: the other member-shard, document, media and
# PQ lanes share a pinned lane's code path and are oracle-proven
# locally.
PINNED: tuple[str, ...] = (
    "q_kmeans_oracle",
    "q_ann_pq_oracle",
    "q_kmeans_train",
    "q_jpeg_resize",
    "q_pdf_extract",
    "q_flac_transcode",
    "q_audio_decimate",
    "q_zip_shard_roundtrip",
    "q_warc_ingest",
    "q_mp3_framewalk",
)

# Rounds 1-2 predate the r3 bit-exact hash canonicalization, so a lane
# whose LATEST driver row is r1/r2 has only lax-era external evidence.
# Until that backlog is empty, those lanes outrank even never-checked
# lanes for window slots: a brand-new lane at least has the local
# strict gate (tools/check_oracle.py + pytest) from the round it was
# born, while a pre-r3 row was never externally checked bit-exact at
# all.  Round 9 has exactly 50 such lanes (18 r1 + 32 r2) — one full
# driver window; new lanes added this round earn their driver row next
# round, when this constant's set is empty and ordering degrades to
# the usual fresh-then-oldest rotation.
STRICT_GATE_ROUND = 3


def _round_files() -> list[tuple[int, str]]:
    out = []
    for p in glob.glob(os.path.join(_REPO_ROOT, "CORRECTNESS_r*.json")):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", p)
        if m:
            out.append((int(m.group(1)), p))
    return sorted(out)

def checked_names() -> set[str]:
    names: set[str] = set()
    for _, p in _round_files():
        try:
            with open(p) as f:
                names.update(json.load(f).keys())
        except (OSError, json.JSONDecodeError):
            continue
    return names


def evidence_age() -> dict[str, int]:
    """Latest committed driver round per query name.  Queries whose most
    recent driver row is oldest are the ones a silent regression could
    hide in longest — they re-enter the window first."""
    latest: dict[str, int] = {}
    for rnd, p in _round_files():
        try:
            with open(p) as f:
                for name in json.load(f):
                    latest[name] = rnd  # files sorted ascending by round
        except (OSError, json.JSONDecodeError):
            continue
    return latest


def driver_order(queries: dict) -> dict:
    """Reorder the registry: PINNED (changed this round), then lanes
    whose latest driver row predates the strict bit-exact gate
    (oldest-first — see STRICT_GATE_ROUND), then never-driver-checked
    lanes (stable registry order), then everything else ordered
    oldest-evidence-first.

    With the never-checked tail closed (round 7), every window slot
    after the pins re-verifies the stalest committed evidence — ~50
    lanes per round, so the whole 311-query registry re-earns a fresh
    driver row about every 6 rounds.  Ordering by (latest_round,
    registry order) is self-balancing: lanes re-checked this round drop
    to the back automatically in the next round's ordering."""
    age = evidence_age()
    pinned = [n for n in PINNED if n in queries]
    head = set(pinned)
    order = list(queries)
    lax = sorted(
        (
            n
            for n in queries
            if n in age and age[n] < STRICT_GATE_ROUND and n not in head
        ),
        key=lambda n: (age[n], order.index(n)),
    )
    head.update(lax)
    fresh = [n for n in queries if n not in age and n not in head]
    done = sorted(
        (n for n in queries if n in age and n not in head),
        key=lambda n: (age[n], order.index(n)),
    )
    return {n: queries[n] for n in (*pinned, *lax, *fresh, *done)}
