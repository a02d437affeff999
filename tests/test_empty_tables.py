"""Empty-input robustness: the driver-logic crash class.

Queries that run DRIVER-side Python on collected state (trainer argmax,
power-iteration dims probe, watermark flush timestamps, Observation
maps, greedy re-rank loops) are the class that CRASHES on empty input
instead of degrading — the empty-tables sweep (round 6,
tools/sweep_empty_tables.py, all 291 queries) found four such crashes
plus earlier trainer/MMR ones.  This standing test empties every table
and pins that the class completes; the full-registry sweep remains a
tool (too slow for the suite).
"""

import os

import pyarrow.parquet as pq
import pytest

from glue_etl_nyc_yellow_taxi_analysis_spark.queries import QUERIES

_TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
)

# every lane with driver-side Python over collected state
_DRIVER_LOGIC_LANES = (
    "q_pca_power",            # dims probe via first()
    "q_observe_metrics",      # Observation.get on a zero-task job
    "q_partitioned_write_prune",  # read-back of a fileless write
    "q_stream_sessions",      # watermark flush from max(ts)
    "q_bpe_merge_train",      # argmax .first() per iteration
    "q_bpe_apply",
    "q_kmeans_train",         # centroid init toDF
    "q_kmeans_oracle",
    "q_mmr_rerank",           # greedy loop over collected candidates
    "q_lsa_topic",            # norm divisions per half-step
    "q_dsir_weights",         # bucket-table collect
    "q_global_index",         # two-phase offsets collect
    "q_sequence_packing",
)


@pytest.fixture(scope="module")
def empty_dir(sf_dir, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("empty_gate"))
    for t in _TABLES:
        tb = pq.read_table(f"{sf_dir}/{t}.parquet").slice(0, 0)
        pq.write_table(tb, os.path.join(d, f"{t}.parquet"))
    return d


@pytest.mark.parametrize("name", _DRIVER_LOGIC_LANES)
def test_driver_logic_lane_survives_empty_input(spark, empty_dir, name):
    rows = QUERIES[name](spark, empty_dir).collect()
    assert isinstance(rows, list)  # completed; empty or degenerate is fine
