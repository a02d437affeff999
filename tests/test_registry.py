"""The query registry (registry.py): one declaration per query.

Every query module registers into the same three collections, and no
query module imports ``queries``, so any of them can be the first import
of a fresh interpreter (worker processes and the CLI jobs enter the
package that way).
"""

import os
import subprocess
import sys

import pytest

from glue_etl_nyc_yellow_taxi_analysis_spark.queries import ORACLE, QUERIES
from glue_etl_nyc_yellow_taxi_analysis_spark.registry import HEADLINE, register

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.mark.parametrize("module", ["queries_ext16", "queries_ext51"])
def test_ext_module_imports_first_in_fresh_interpreter(module):
    r = subprocess.run(
        [sys.executable, "-c", f"import glue_etl_nyc_yellow_taxi_analysis_spark.{module}"],
        cwd=REPO,
        env={**os.environ, "PYTHONPATH": REPO},
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert r.returncode == 0, r.stderr[-2000:]


def test_register_rejects_duplicate_name():
    with pytest.raises(ValueError, match="q_star_agg"):
        register(QUERIES["q_star_agg"], ORACLE["q_star_agg"])


def test_every_query_has_an_oracle():
    assert set(QUERIES) == set(ORACLE)
    assert all(isinstance(sql, str) and sql.strip() for sql in ORACLE.values())


def test_headline_lanes_are_registered_queries():
    assert len(HEADLINE) == len(set(HEADLINE)) == 243
    assert set(HEADLINE) <= set(QUERIES)


_WORKER_PROBE = """
import sys
sys.path.insert(0, {repo!r})
from glue_etl_nyc_yellow_taxi_analysis_spark.operators import multimodal as mm
from glue_etl_nyc_yellow_taxi_analysis_spark.session import get_spark

spark = get_spark(app_name="worker-imports", cpus=1)
docs = spark.createDataFrame([(1, "ab"), (2, "cdef")], "doc_id long, text string")
lane = mm.decode_wav(mm.documents_as_wav(docs))
print("n_samples", sorted(r["n_samples"] for r in lane.collect()))
"""


def test_python_workers_import_the_package_from_any_cwd(tmp_path):
    """A kernel lane must run when neither the JVM's working directory
    nor PYTHONPATH holds the repo (only the driver's sys.path does):
    get_spark ships the package to the Python workers."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    r = subprocess.run(
        [sys.executable, "-c", _WORKER_PROBE.format(repo=REPO)],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert r.returncode == 0, r.stderr[-3000:]
    assert "n_samples [1, 2]" in r.stdout, r.stdout[-2000:]
