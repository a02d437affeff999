"""Task-retry determinism probe (r6 verdict item 6).

Every nondeterministic-LOOKING lane here (hash sampling, LSH banding,
md5 splits, the deterministic star twin) claims its output is a pure
function of the input — which at cluster scale specifically means:
a task that FAILS AND RETRIES (preemption, OOM-kill, speculative
execution) must reproduce bit-identical output.  The fail-soft work
covered bad DATA; this probe covers bad TASKS.

Mechanism: a session with ``local[8,3]`` (maxFailures=3 — local mode
defaults to 1, where any task failure kills the job), and a pass-through
``mapInPandas`` wrapper injected over every table scan that raises
ONCE — on (partitionId == 0, attemptNumber == 0) — then succeeds on the
retry.  Each probed lane runs twice, flaky-on and flaky-off, in the
same session; the canonical row-set hash must match exactly, and the
marker file proves the injected failure actually fired (a vacuous pass
is a broken probe, not a green property).

    python tools/retry_probe.py /root/testdata/sf0.001 q_stratified_sample ...

Prints one JSON line per lane plus {"ok": true} if every hash matched.
Driven by tests/test_retry_determinism.py.
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from glue_etl_nyc_yellow_taxi_analysis_spark.paths import scratch

MARKER_DIR = scratch("sg_retry_marker_")


def _flaky_wrap(df, marker_dir: str):
    """Pass-through mapInPandas that fails the FIRST attempt of the
    first partition (writing a marker beforehand so the driver can
    assert the failure fired), then succeeds on retry."""
    schema = df.schema

    def gen(batches):
        from pyspark import TaskContext

        tc = TaskContext.get()
        if tc.partitionId() == 0 and tc.attemptNumber() == 0:
            with open(os.path.join(marker_dir, f"fired-{tc.stageId()}"), "w") as f:
                f.write("1")
            raise RuntimeError("injected flaky-once task failure (attempt 0)")
        yield from batches

    return df.mapInPandas(gen, schema)


def _canonical_hash(df) -> str:
    rows = sorted(repr(sorted(r.asDict().items())) for r in df.collect())
    return hashlib.md5("\n".join(rows).encode()).hexdigest()


def main() -> int:
    sf_dir, lanes = sys.argv[1], sys.argv[2:]

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[8,3]")
        .appName("retry-probe")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    from glue_etl_nyc_yellow_taxi_analysis_spark import queries

    real_t, real_fixture = queries._t, queries._taxi_fixture
    # the ext modules bind `from .queries import _t` at import time, so
    # the wrapper must be installed on EVERY module holding the symbol
    holders_t = [
        m
        for n, m in list(sys.modules.items())
        if n.startswith("glue_etl_") and getattr(m, "_t", None) is real_t
    ]
    holders_fx = [
        m
        for n, m in list(sys.modules.items())
        if n.startswith("glue_etl_")
        and getattr(m, "_taxi_fixture", None) is real_fixture
    ]

    flaky_t = lambda s, d, n: _flaky_wrap(real_t(s, d, n), MARKER_DIR)  # noqa: E731
    flaky_fx = lambda s: _flaky_wrap(real_fixture(s), MARKER_DIR)  # noqa: E731

    ok = True
    for lane in lanes:
        fn = queries.QUERIES[lane]
        clean = _canonical_hash(fn(spark, sf_dir))

        before = set(os.listdir(MARKER_DIR))
        for m in holders_t:
            m._t = flaky_t
        for m in holders_fx:
            m._taxi_fixture = flaky_fx
        try:
            flaky = _canonical_hash(fn(spark, sf_dir))
        finally:
            for m in holders_t:
                m._t = real_t
            for m in holders_fx:
                m._taxi_fixture = real_fixture
        fired = len(set(os.listdir(MARKER_DIR)) - before)

        row = {
            "lane": lane,
            "identical": flaky == clean,
            "failures_fired": fired,
            "hash": clean,
        }
        ok = ok and row["identical"] and fired > 0
        print(json.dumps(row))
    print(json.dumps({"ok": ok}))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
