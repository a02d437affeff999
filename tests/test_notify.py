"""Terminal-state notification seam (reference
Rules-CloudFormation-Template.json:142-168 — the EventBridge→SNS email on
job SUCCEEDED/FAILED).  No cloud dependency: sinks are callables."""

from __future__ import annotations

import json
import os

import pytest

from glue_etl_nyc_yellow_taxi_analysis_spark.jobs.notify import (
    JobNotifier,
    attach_streaming_listener,
    jsonl_sink,
    run_with_notification,
)


def test_notify_fires_on_success_and_failure():
    got: list[dict] = []
    notifier = JobNotifier([got.append])

    out = run_with_notification("j1", lambda: {"rows": 3}, notifier, detail={"m": 1})
    assert out == {"rows": 3}

    with pytest.raises(ValueError):
        run_with_notification(
            "j2", lambda: (_ for _ in ()).throw(ValueError("boom")), notifier
        )

    assert [p["state"] for p in got] == ["SUCCEEDED", "FAILED"]
    assert got[0]["job"] == "j1" and got[0]["detail"]["m"] == 1
    assert got[0]["detail"]["result"] == {"rows": 3}
    assert got[1]["job"] == "j2"
    assert got[1]["detail"]["error_class"] == "ValueError"
    assert "boom" in got[1]["detail"]["error"]


def test_notify_sink_failure_never_masks_outcome():
    def bad_sink(_p):
        raise RuntimeError("sns down")

    got: list[dict] = []
    notifier = JobNotifier([bad_sink, got.append])
    assert run_with_notification("j", lambda: 7, notifier) == 7
    assert [p["state"] for p in got] == ["SUCCEEDED"]
    assert len(notifier.sink_errors) == 1


def test_jsonl_sink_appends_one_line_per_state(tmp_path):
    path = str(tmp_path / "notify.jsonl")
    notifier = JobNotifier([jsonl_sink(path)])
    run_with_notification("a", lambda: 1, notifier)
    with pytest.raises(KeyError):
        run_with_notification("b", lambda: {}["x"], notifier)
    lines = [json.loads(l) for l in open(path)]
    assert [(p["job"], p["state"]) for p in lines] == [
        ("a", "SUCCEEDED"),
        ("b", "FAILED"),
    ]


def test_streaming_listener_reports_termination(spark, sf_dir, tmp_path):
    import time

    got: list[dict] = []
    notifier = JobNotifier([got.append])
    listener = attach_streaming_listener(spark, notifier, job="ingest")
    try:
        src = str(tmp_path / "src")
        os.mkdir(src)
        os.symlink(f"{sf_dir}/documents.parquet", f"{src}/documents.parquet")
        schema = spark.read.parquet(f"{sf_dir}/documents.parquet").schema
        q = (
            spark.readStream.schema(schema)
            .parquet(src)
            .writeStream.format("noop")
            .trigger(availableNow=True)
            .option("checkpointLocation", str(tmp_path / "ck"))
            .start()
        )
        assert q.awaitTermination(120)
        # listener events are delivered async — poll briefly
        for _ in range(100):
            if got:
                break
            time.sleep(0.1)
        assert got and got[0]["state"] == "SUCCEEDED"
        assert got[0]["job"] == "ingest"
        assert got[0]["detail"]["query_id"]
    finally:
        spark.streams.removeListener(listener)
