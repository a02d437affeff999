"""streaming/ingest.drain: the one way a query lane drains a stream, and
paths.scratch: the one way the package, tools/ and bench.py make a
temporary directory.

``drain`` owns its checkpoint and removes it however the query ends;
``scratch`` directories are removed when the interpreter exits.
"""

import os
import re
import subprocess
import sys
import tempfile

import pytest
from pyspark.errors import StreamingQueryException

from glue_etl_nyc_yellow_taxi_analysis_spark.streaming.ingest import drain, stream_files

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = os.path.join(REPO, "glue_etl_nyc_yellow_taxi_analysis_spark")


def _py_files(roots):
    for top in roots:
        if top.endswith(".py"):
            yield top
            continue
        for root, _dirs, files in os.walk(top):
            yield from (os.path.join(root, f) for f in files if f.endswith(".py"))


def _offenders(pattern, home, roots=(PKG,)):
    found = []
    for path in _py_files(roots):
        if path == os.path.join(PKG, home):
            continue
        with open(path, encoding="utf-8") as fh:
            for i, line in enumerate(fh, 1):
                if re.search(pattern, line):
                    found.append(f"{os.path.relpath(path, REPO)}:{i}")
    return found


def test_streams_start_and_wait_only_in_the_ingest_module():
    found = _offenders(r"\.writeStream\b|\.awaitTermination\(", "streaming/ingest.py")
    assert found == [], "drain streams through streaming/ingest.drain: " + ", ".join(found)


def test_temporary_dirs_come_only_from_the_scratch_helper():
    found = _offenders(
        r"tempfile\.mkdtemp\(",
        "paths.py",
        (PKG, os.path.join(REPO, "tools"), os.path.join(REPO, "bench.py")),
    )
    assert found == [], "make temporary dirs with paths.scratch: " + ", ".join(found)


@pytest.fixture
def scratch_root(tmp_path, monkeypatch):
    """The temp dir ``scratch`` makes its directories under."""
    root = tmp_path / "scratch"
    root.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(root))
    return root


def _source(spark, tmp_path):
    src = str(tmp_path / "src")
    spark.range(6).selectExpr("id", "id % 2 AS k").write.parquet(src)
    return stream_files(spark, src, spark.read.parquet(src).schema)


def test_drain_into_a_memory_table_returns_it_and_removes_its_checkpoint(
    spark, tmp_path, scratch_root
):
    counts = _source(spark, tmp_path).groupBy("k").count()
    table = drain(counts, "sg_test_drain_counts", "complete")
    assert sorted(tuple(r) for r in table.collect()) == [(0, 3), (1, 3)]
    assert os.listdir(scratch_root) == []


def test_a_failed_batch_raises_and_its_checkpoint_is_removed(
    spark, tmp_path, scratch_root
):
    def fail(batch, batch_id):
        raise RuntimeError("batch failed on purpose")

    with pytest.raises(StreamingQueryException, match="batch failed on purpose"):
        drain(_source(spark, tmp_path), fail)
    assert os.listdir(scratch_root) == []


_LANE_PROBE = """
import sys
sys.path.insert(0, {repo!r})
from glue_etl_nyc_yellow_taxi_analysis_spark.queries_ext51 import q_stream_mp3_ingest
from glue_etl_nyc_yellow_taxi_analysis_spark.session import get_spark

spark = get_spark(app_name="scratch-leak", cpus=1)
print("rows", q_stream_mp3_ingest(spark, {sf_dir!r}).count())
"""


def test_a_stream_lane_leaves_no_scratch_after_exit(tmp_path, sf_dir):
    tmp, cwd = tmp_path / "tmp", tmp_path / "cwd"
    tmp.mkdir()
    cwd.mkdir()
    env = {**os.environ, "TMPDIR": str(tmp), "SPARK_GRAFT_DRIVER_MEM": "1g"}
    r = subprocess.run(
        [sys.executable, "-c", _LANE_PROBE.format(repo=REPO, sf_dir=sf_dir)],
        cwd=cwd,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert r.returncode == 0, r.stderr[-3000:]
    assert "rows " in r.stdout, r.stdout[-2000:]
    assert [e for e in os.listdir(tmp) if e.startswith("sg_")] == []
