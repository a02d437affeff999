"""operators/materialize.py: the one place a plan is cut.

Every checkpoint call in the package goes through ``materialize``; it
picks reliable or local storage from the SparkContext's checkpoint dir
and names its jobs with ``why`` without touching the job group.
"""

import json
import os
import re
import subprocess
import sys

from glue_etl_nyc_yellow_taxi_analysis_spark.operators.materialize import materialize
from glue_etl_nyc_yellow_taxi_analysis_spark.queries_ext9 import q_graph_bfs

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = os.path.join(REPO, "glue_etl_nyc_yellow_taxi_analysis_spark")
_DESCRIPTION = "spark.job.description"


def test_checkpoint_calls_only_in_the_materialize_operator():
    cut = re.compile(r"\.(localCheckpoint|checkpoint)\(")
    home = os.path.join(PKG, "operators", "materialize.py")
    offenders = []
    for root, _dirs, files in os.walk(PKG):
        for f in files:
            path = os.path.join(root, f)
            if not f.endswith(".py") or path == home:
                continue
            with open(path, encoding="utf-8") as fh:
                for i, line in enumerate(fh, 1):
                    if cut.search(line):
                        offenders.append(f"{os.path.relpath(path, REPO)}:{i}")
    assert offenders == [], "cut plans through materialize(df, why): " + ", ".join(
        offenders
    )


def _new_jobs(sc, first):
    """(description, group) of every job submitted since job id ``first``."""
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    out = []
    for job_id in range(first, jsc.dagScheduler().numTotalJobs()):
        job = store.job(job_id)
        desc, group = job.description(), job.jobGroup()
        out.append(
            (
                desc.get() if desc.isDefined() else None,
                group.get() if group.isDefined() else None,
            )
        )
    return out


def test_materialize_names_its_jobs_and_restores_the_description(spark):
    sc = spark.sparkContext
    assert sc.getCheckpointDir() is None  # the local path
    df = spark.range(200).selectExpr("id % 7 AS k").groupBy("k").count()
    first = sc._jsc.sc().dagScheduler().numTotalJobs()
    sc.setJobGroup("outer-group", "outer description")
    try:
        cut = materialize(df, "why-x")
        assert sc.getLocalProperty(_DESCRIPTION) == "outer description"
        jobs = _new_jobs(sc, first)
        assert jobs and all(j == ("why-x", "outer-group") for j in jobs), jobs
        assert sorted(cut.collect()) == sorted(df.collect())
    finally:
        sc._jsc.clearJobGroup()
    assert sc.getLocalProperty(_DESCRIPTION) is None
    materialize(df, "why-y")
    assert sc.getLocalProperty(_DESCRIPTION) is None


def test_lazy_materialize_runs_no_job(spark):
    sc = spark.sparkContext
    df = spark.range(10).selectExpr("id * 2 AS x")
    first = sc._jsc.sc().dagScheduler().numTotalJobs()
    cut = materialize(df, "why-lazy", eager=False)
    assert _new_jobs(sc, first) == []
    assert sorted(r.x for r in cut.collect()) == list(range(0, 20, 2))


_RELIABLE_PROBE = """
import json, sys
sys.path.insert(0, {repo!r})
from glue_etl_nyc_yellow_taxi_analysis_spark.queries_ext9 import q_graph_bfs
from glue_etl_nyc_yellow_taxi_analysis_spark.session import get_spark

spark = get_spark(
    app_name="reliable-checkpoint", cpus=2,
    extra_conf={{"spark.checkpoint.dir": {ckpt!r}}},
)
assert spark.sparkContext.getCheckpointDir(), "checkpoint dir not set"
rows = sorted(tuple(r) for r in q_graph_bfs(spark, {sf!r}).collect())
print("ROWS", json.dumps(rows))
"""


def test_reliable_checkpoint_matches_local(spark, sf_dir, tmp_path):
    """With spark.checkpoint.dir set, the iterative BFS lane cuts its
    plan through reliable checkpoints (files under the dir) and returns
    the rows the local-checkpoint run returns."""
    ckpt = tmp_path / "ckpt"
    env = {**os.environ, "SPARK_GRAFT_DRIVER_MEM": "1g"}
    r = subprocess.run(
        [
            sys.executable,
            "-c",
            _RELIABLE_PROBE.format(repo=REPO, ckpt=str(ckpt), sf=sf_dir),
        ],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert r.returncode == 0, r.stderr[-3000:]
    line = next(x for x in r.stdout.splitlines() if x.startswith("ROWS "))
    reliable = [tuple(row) for row in json.loads(line[len("ROWS ") :])]
    local = sorted(tuple(r) for r in q_graph_bfs(spark, sf_dir).collect())
    assert reliable == local
    written = [f for _r, _d, fs in os.walk(ckpt) for f in fs]
    assert written, "no checkpoint file written"

