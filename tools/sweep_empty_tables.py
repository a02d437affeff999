"""Empty-tables crash sweep: run EVERY declared query against a dataset
directory where all ten tables exist but carry zero rows, and report
queries that raise instead of returning an empty/degenerate result.

    python tools/sweep_empty_tables.py [schema_src_dir]

The round-6 pass over all 291 queries found four driver-logic crashes
(PCA dims probe, Observation on a zero-task job, schema inference on a
fileless write, watermark flush from max(ts)); the fixed class is
pinned by tests/test_empty_tables.py.
"""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pyarrow.parquet as pq

from glue_etl_nyc_yellow_taxi_analysis_spark.paths import scratch
from glue_etl_nyc_yellow_taxi_analysis_spark.queries import QUERIES
from glue_etl_nyc_yellow_taxi_analysis_spark.session import get_spark


def main() -> None:
    src = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = get_spark(app_name="sweep-empty", cpus=8, shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    d = scratch("sg_empty_")
    tables = (
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings",
    )
    for t in tables:
        tb = pq.read_table(f"{src}/{t}.parquet").slice(0, 0)
        pq.write_table(tb, f"{d}/{t}.parquet")
    n_err = 0
    for name, fn in sorted(QUERIES.items()):
        try:
            fn(spark, d).collect()
        except Exception as e:  # noqa: BLE001 — a sweep reports, not raises
            n_err += 1
            print(f"ERR {name} {type(e).__name__} {str(e)[:120]}", flush=True)
    print(f"DONE ({n_err} errors / {len(QUERIES)} queries)", flush=True)


if __name__ == "__main__":
    main()
