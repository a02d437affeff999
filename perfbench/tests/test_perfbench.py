"""Tests of the benchmark itself: inputs, answers, checks and output shape.

    python3 -m pytest perfbench/tests -q

The smoke runs start Spark at the benchmark's own input size, with the
shortest window (warm-up plus each workload's minimum number of passes),
and take about a minute each.
"""

from __future__ import annotations

import filecmp
import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT, os.path.join(ROOT, "tools")]

import corpus  # noqa: E402
import run  # noqa: E402
import taxi  # noqa: E402
import workloads  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def _metrics(kind):
    return {m["name"]: m["unit"] for m in SPEC[kind]}


def test_same_seed_gives_byte_identical_inputs(tmp_path):
    a = taxi.write_months(5, str(tmp_path / "a"), 2, 3000)
    b = taxi.write_months(5, str(tmp_path / "b"), 2, 3000)
    c = taxi.write_months(6, str(tmp_path / "c"), 2, 3000)
    for x, y, z in zip(a, b, c):
        assert filecmp.cmp(x.path, y.path, shallow=False)
        assert not filecmp.cmp(x.path, z.path, shallow=False)
    corpus.write_corpus(str(tmp_path / "d"), 50, 50)
    corpus.write_corpus(str(tmp_path / "e"), 50, 50)
    for name in ("documents.parquet", "embeddings.parquet"):
        assert filecmp.cmp(tmp_path / "d" / name, tmp_path / "e" / name, shallow=False)


def test_generator_answers_follow_the_fact_contract(tmp_path):
    """Replay the Job-1 contract (full-row dedup, then the quality rules)
    in pandas over the raw file; it must agree with the generator's
    numpy answers."""
    import pandas as pd

    (m,) = taxi.write_months(3, str(tmp_path), 1, 5000)
    df = pd.read_parquet(m.path).drop_duplicates()
    minutes = (df.tpep_dropoff_datetime - df.tpep_pickup_datetime).dt.total_seconds() // 60
    keep = (
        df.passenger_count.between(1, 6)
        & df.trip_distance.between(5.0, 500.0)
        & (df.fare_amount > 0)
        & (minutes < 1440)
    )
    assert keep.sum() == m.fact_rows < m.raw_rows
    assert round(df.total_amount[keep].sum() * 100) == m.total_cents
    # fees are missing as nulls, never NaN stand-ins in a non-null column
    assert df.congestion_surcharge.isna().sum() > 0


def test_pinned_lane_hashes_match_duckdb_oracle(tmp_path):
    import duckdb

    from check_oracle import value_hash
    from glue_etl_nyc_yellow_taxi_analysis_spark.queries import ORACLE

    lanes = workloads.CurationLanes
    d = corpus.write_corpus(str(tmp_path), lanes.DOCS, lanes.VECTORS)
    with open(workloads.PINNED) as f:
        pinned = json.load(f)
    assert set(pinned) == set(lanes.LANES)
    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{d}/{t}.parquet'")
    for lane, want in pinned.items():
        res = con.execute(ORACLE[lane])
        assert value_hash([c[0] for c in res.description], res.fetchall()) == want, lane


def test_corrupted_result_is_a_failed_operation():
    class Ctx:
        seed = 1

    wl = workloads.CurationLanes(Ctx())
    lane = "q_jpeg_resize"
    rows = [(i, 8, 8, True) for i in range(workloads.CurationLanes.DOCS)]
    cols = ["media_id", "width", "height", "decoded"]
    ops = [workloads.Op("lane", lane, None)] * 2
    good = run.Outcome("lane", lane, 1.0, (cols, rows), True, "window", {})
    bad_rows = list(rows)
    bad_rows[3] = (3, 8, 7, True)
    bad = run.Outcome("lane", lane, 1.0, (cols, bad_rows), True, "window", {})
    assert run.check_outcomes(wl, ops[:1], [good])
    assert good.ok
    assert not run.check_outcomes(wl, ops, [good, bad])
    assert good.ok and not bad.ok


def _run(workload, trace):
    out = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
         "--seed", "3", "--seconds", "0.1", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    lines = out.stdout.strip().splitlines()
    return json.loads(lines[-1]), lines


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_smoke_run_emits_every_end_to_end_metric(workload):
    res, _ = _run(workload, 0)
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    assert {k: v["unit"] for k, v in res["metrics"].items()} == _metrics("end_to_end")
    assert all(v["value"] > 0 for v in res["metrics"].values())


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_traced_run_emits_every_per_layer_metric(workload):
    res, lines = _run(workload, 1)
    assert res["correct"]
    assert {k: v["unit"] for k, v in res["metrics"].items()} == _metrics("per_layer")
    if workload != "curation_lanes":
        return
    # the stream lane's micro-batch jobs run on the query's own thread,
    # under the query's job group, and must still count toward the lane
    (path,) = [ln.split("spans written to ")[1] for ln in lines if "spans written to " in ln]
    with open(os.path.join(ROOT, path)) as f:
        spans = json.load(f)
    build = [s for s in spans if s["name"] == "queries.q_stream_ann_enrich.build"]
    assert build and all(s["foreign_group_jobs"] > 0 for s in build)
    assert all(s["jobs"] > s["foreign_group_jobs"] for s in build)
