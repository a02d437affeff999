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
