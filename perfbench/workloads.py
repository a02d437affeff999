"""The two workloads, each one closed loop driven by a single client.

A workload prepares its inputs in ``setup`` and then hands out passes:
fixed lists of operations that the runner times one after another.  Each
operation returns what it produced; ``check`` later compares that with an
answer known independently of the engine (the generator's own arithmetic,
DuckDB over the same files, or a pinned hash).

Why these two:

- ``taxi_etl_sql`` is the paper's monthly pipeline end to end: raw TLC
  months through the Job-1 star build into the catalog (plus one
  re-delivered month), the Job-2 bulk load into a JDBC warehouse, then
  ad-hoc BI SQL over the fresh star, half pruned to one month.  It is the
  only workload touching ``plans``, ``catalog``, JDBC ``sources`` and
  ``sql``.
- ``curation_lanes`` runs curation queries whose cost sits where the star
  pipeline never puts it: in many small driver-side jobs around the
  ``streaming`` layer, or in Python-worker CPU.

A third workload of SQL alone did not fit the benchmark's time budget:
every run pays a JVM start and a cold warm-up pass, so the SQL mix rides
in the pipeline's pass instead.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
from dataclasses import dataclass, replace
from typing import Any, Callable

import numpy as np

from corpus import write_corpus
from taxi import Month, write_months

HERE = os.path.dirname(os.path.abspath(__file__))
PINNED = os.path.join(HERE, "pinned_hashes.json")


@dataclass
class Op:
    kind: str
    label: str
    run: Callable[[], Any]


class OutputMismatch(Exception):
    """An operation finished but its output is not the known answer."""


def traced_warehouse(tracer, spark, db_name: str):
    """A ``JdbcWarehouse`` on a fresh in-memory Derby database whose four
    methods each run in a span, so Job 2's time splits by JDBC call."""
    from glue_etl_nyc_yellow_taxi_analysis_spark.sources.config import resolve_warehouse_config
    from glue_etl_nyc_yellow_taxi_analysis_spark.sources.writers import JdbcWarehouse

    class TracedWarehouse(JdbcWarehouse):
        def table_exists(self, table):
            with tracer.span("sources.jdbc.table_exists"):
                return super().table_exists(table)

        def create(self, df, table):
            with tracer.span("sources.jdbc.create"):
                super().create(df, table)

        def append(self, df, table):
            with tracer.span("sources.jdbc.append"):
                super().append(df, table)

        def read(self, spark, table):
            with tracer.span("sources.jdbc.read"):
                return super().read(spark, table)

    url, props = resolve_warehouse_config(db_name)
    return TracedWarehouse(spark, url, props)


def _hash(cols, rows) -> str:
    from check_oracle import value_hash

    return value_hash(list(cols), [tuple(r) for r in rows])


def _median(values):
    return statistics.median(values) if values else float("nan")


def _median_of(outcomes, kind):
    return _median([o.latency for o in outcomes if o.kind == kind and o.ok])


# Dialect-neutral BI queries over the star, all on one processed year {y};
# {m} is the pruned month, {loc} a seeded pickup zone.
SQL_MIX = {
    "payment_mix": """
SELECT p.payment_type_description, COUNT(*) AS trips,
       CAST(SUM(f.total_amount) AS DOUBLE) AS revenue
FROM {db}.fact_uber_trips f
JOIN {db}.dim_payment_type p ON f.payment_type = CAST(p.payment_type_id AS INTEGER)
WHERE f.processed_year = '{y}'
GROUP BY p.payment_type_description""",
    "peak_band_month": """
SELECT b.trip_peak_band_description, COUNT(*) AS trips,
       CAST(SUM(f.total_amount) AS DOUBLE) AS revenue
FROM {db}.fact_uber_trips f
JOIN {db}.dim_trip_peak_band b ON f.trip_peak_band_id = b.trip_peak_band_id
WHERE f.processed_year = '{y}' AND f.processed_month = '{m}'
GROUP BY b.trip_peak_band_description""",
    "vendor_duration": """
SELECT v.vendor_name, COUNT(*) AS trips, SUM(f.trip_duration_minutes) AS minutes
FROM {db}.fact_uber_trips f
JOIN {db}.dim_vendors v ON f.vendor_id = CAST(v.vendor_id AS INTEGER)
WHERE f.processed_year = '{y}'
GROUP BY v.vendor_name""",
    "top_pickup_month": """
SELECT f.pickup_location_id, CAST(SUM(f.total_amount) AS DOUBLE) AS revenue
FROM {db}.fact_uber_trips f
WHERE f.processed_year = '{y}' AND f.processed_month = '{m}'
GROUP BY f.pickup_location_id
ORDER BY revenue DESC, f.pickup_location_id
LIMIT 10""",
    "point_count_month": """
SELECT COUNT(*) AS trips
FROM {db}.fact_uber_trips f
WHERE f.processed_year = '{y}' AND f.processed_month = '{m}'
  AND f.pickup_location_id = {loc}""",
    "weekend_revenue": """
SELECT d.is_weekend, COUNT(*) AS trips, CAST(SUM(f.total_amount) AS DOUBLE) AS revenue
FROM {db}.fact_uber_trips f
JOIN {db}.dim_date d ON f.tpep_pickup_date_id = d.date_id
WHERE f.processed_year = '{y}'
GROUP BY d.is_weekend""",
    "hourly_month": """
SELECT t.hour, COUNT(*) AS trips
FROM {db}.fact_uber_trips f
JOIN {db}.dim_time t ON f.tpep_pickup_time_id = t.time_id
WHERE f.processed_year = '{y}' AND f.processed_month = '{m}'
GROUP BY t.hour""",
    "daily_all": """
SELECT f.processed_month, f.tpep_pickup_date_id, COUNT(*) AS trips,
       CAST(SUM(f.total_amount) AS DOUBLE) AS revenue
FROM {db}.fact_uber_trips f
WHERE f.processed_year = '{y}'
GROUP BY f.processed_month, f.tpep_pickup_date_id""",
}


class Workload:
    known_defects: list[str] | tuple = ()
    # Passes keep getting faster for a while after the warm-up (JIT), so a
    # median over two passes in one run and over three in another compares
    # different things.  Every window runs at least this many, and this
    # many take longer than the 10 s window, so the count is fixed.  The
    # peak resident set is read after this many passes too, so that it
    # covers the same work however fast the passes run.
    MIN_PASSES = 2

    def probe_known_defects(self) -> None:
        """Exercise known defects once, outside the measured mix."""

    def end_pass(self, k: int) -> None:
        """Release what pass ``k`` left behind once its outputs are checked."""

    def close(self) -> None:
        """Release what the workload holds in the session."""


class TaxiEtlSql(Workload):
    """One monthly cycle per pass: Job 1, Job 2, then BI SQL.

    Pass ``k`` ingests the generated months under processed year 2021+k
    into one catalog database, so after the warm-up pass every pass is the
    steady monthly path: the dimensions exist and each month adds a
    partition.  Job 2 loads one month per fresh Derby warehouse, dropped
    once the next pass is checked, so at most two are held at a time.  With
    the default ``skip_if_loaded``, a second load into the same warehouse
    fails (the string partition columns become CLOB and the existence probe
    compares them); an operation known to fail cannot be part of the
    measured mix, so that defect is probed once per run after the window,
    on the last pass's warehouse, and reported.
    """

    name = "taxi_etl_sql"
    DB = "etl"
    MONTHS = 2
    ROWS = 10_000
    PRUNED_MONTH = "2"

    def __init__(self, ctx):
        self.ctx = ctx
        self.months: list[Month] = []
        self.warehouses: dict[str, Any] = {}
        self.known_defects = []
        self.loc = int(np.random.default_rng([ctx.seed, 7]).integers(1, 266))
        self._facts: dict[str, dict] = {}
        self._duck = None

    def setup(self):
        self.months = write_months(self.ctx.seed, os.path.join(self.ctx.work, "raw"), self.MONTHS, self.ROWS)

    def _job1(self, m: Month, span: str) -> Month:
        from glue_etl_nyc_yellow_taxi_analysis_spark import catalog
        from glue_etl_nyc_yellow_taxi_analysis_spark.plans import star

        t, spark = self.ctx.tracer, self.ctx.spark
        with t.span("plans.star.ensure_dimensions"):
            star.ensure_dimensions(spark, self.DB)
        with t.span("plans.star.build_fact"):
            fact = star.build_fact(spark.read.parquet(m.path), m.year, m.month)
        with t.span(span):
            catalog.save_table(fact, self.DB, "fact_uber_trips",
                               partition_by=["processed_year", "processed_month"])
        return m

    def _job2(self, wh, m: Month):
        from glue_etl_nyc_yellow_taxi_analysis_spark.plans import warehouse

        with self.ctx.tracer.span("plans.warehouse.load"):
            return m, warehouse.load_star_to_warehouse(self.ctx.spark, wh, self.DB, m.year, m.month)

    def _query(self, sql_text):
        from glue_etl_nyc_yellow_taxi_analysis_spark import sql

        t = self.ctx.tracer
        with t.span("sql.run_sql"):
            df = sql.run_sql(self.ctx.spark, sql_text)
        with t.span("sql.collect"):
            rows = df.collect()
        return sql_text, df.columns, rows

    def passes(self, k: int) -> list[Op]:
        months = [replace(m, year=str(int(m.year) + k)) for m in self.months]
        first = months[0]
        wh = traced_warehouse(self.ctx.tracer, self.ctx.spark, f"perfbench_{os.getpid()}_{k}")
        self.warehouses[first.year] = wh
        ops = [Op("job1_month", f"{m.year}-{m.month}",
                  lambda m=m: self._job1(m, "catalog.save_table"))
               for m in months]
        ops.append(Op("job1_redeliver", f"{first.year}-{first.month}",
                      lambda: self._job1(first, "catalog.overwrite_month")))
        ops.append(Op("job2_month", f"{first.year}-{first.month}", lambda: self._job2(wh, first)))
        params = dict(db=self.DB, y=first.year, m=self.PRUNED_MONTH, loc=self.loc)
        ops += [Op("sql", f"{first.year}/{name}", lambda q=q.format(**params): self._query(q))
                for name, q in SQL_MIX.items()]
        return ops

    def _catalog_facts(self, year: str) -> dict:
        """processed_month -> (rows, total cents) of ``year`` in the catalog,
        read once the year's pass is done."""
        from pyspark.sql import functions as F

        if year not in self._facts:
            self._facts[year] = {
                r["m"]: (r["n"], int(r["cents"]))
                for r in self.ctx.spark.table(f"{self.DB}.fact_uber_trips")
                .filter(F.col("processed_year") == year)
                .groupBy(F.col("processed_month").alias("m"))
                .agg(F.count("*").alias("n"), (F.sum("total_amount") * 100).alias("cents"))
                .collect()
            }
        return self._facts[year]

    def _duckdb_hash(self, sql_text) -> str:
        """The query's hash from DuckDB over the Spark-written star."""
        if self._duck is None:
            import duckdb

            self._duck = duckdb.connect()
            self._duck.execute(f"CREATE SCHEMA {self.DB}")
            base = os.path.join(self.ctx.warehouse_dir, f"{self.DB}.db")
            for path in sorted(glob.glob(os.path.join(base, "*"))):
                table = os.path.basename(path)
                if table == "fact_uber_trips":
                    src = (f"read_parquet('{path}/*/*/*.parquet', hive_partitioning = true, "
                           "hive_types = {'processed_year': VARCHAR, 'processed_month': VARCHAR})")
                else:
                    src = f"read_parquet('{path}/*.parquet')"
                self._duck.execute(f"CREATE VIEW {self.DB}.{table} AS SELECT * FROM {src}")
        res = self._duck.execute(sql_text)
        return _hash([d[0] for d in res.description], res.fetchall())

    def check(self, op: Op, result) -> None:
        if op.kind == "sql":
            sql_text, cols, rows = result
            got, want = _hash(cols, rows), self._duckdb_hash(sql_text)
            if got != want:
                raise OutputMismatch(f"{op.label}: hash {got} != DuckDB {want}")
        elif op.kind == "job2_month":
            m, actions = result
            catalog_n = self._catalog_facts(m.year)[m.month][0]
            wh_n = self.warehouses[m.year].read(self.ctx.spark, "fact_uber_trips").count()
            if actions.get("fact_uber_trips") != f"appended {m.year}-{m.month}" or wh_n != catalog_n:
                raise OutputMismatch(f"{op.label}: warehouse rows {wh_n} != catalog rows {catalog_n}")
        else:
            # a re-delivered month must leave the month's rows as generated
            got = self._catalog_facts(result.year).get(result.month)
            want = (result.fact_rows, result.total_cents)
            if got != want:
                raise OutputMismatch(f"{op.label}: fact (rows, cents) {got} != {want}")

    def end_pass(self, k):
        from glue_etl_nyc_yellow_taxi_analysis_spark.sources.config import drop_derby_memory_db

        keep = str(int(self.months[0].year) + k)
        for year in [y for y in self.warehouses if y != keep]:
            drop_derby_memory_db(self.ctx.spark, self.warehouses.pop(year).url)

    def probe_known_defects(self):
        """Load the second month into a warehouse that already holds the
        first, with the default ``skip_if_loaded``; report how it ends."""
        if not self.warehouses or len(self.months) < 2:
            return
        year, wh = next(iter(self.warehouses.items()))
        try:
            self._job2(wh, replace(self.months[1], year=year))
            self.known_defects.append("derby_incremental_load: fixed (second month loaded)")
        except Exception as e:  # the defect surfaces as a JVM exception
            text = str(e)
            state = "42818" if "42818" in text or "Comparisons between 'CLOB" in text else "other"
            self.known_defects.append(
                f"derby_incremental_load: present ({type(e).__name__}, SQLState {state})")

    def close(self):
        from glue_etl_nyc_yellow_taxi_analysis_spark.sources.config import drop_derby_memory_db

        for wh in self.warehouses.values():
            drop_derby_memory_db(self.ctx.spark, wh.url)
        if self._duck is not None:
            self._duck.close()

    def report(self, outcomes, window_s):
        raw = sum(o.result.raw_rows for o in outcomes if o.kind.startswith("job1") and o.ok)
        sql = sorted(o.latency for o in outcomes if o.kind == "sql" and o.ok)
        out = {
            "job1_month_s": _median_of(outcomes, "job1_month"),
            "job1_redeliver_s": _median_of(outcomes, "job1_redeliver"),
            "job2_month_s": _median_of(outcomes, "job2_month"),
            "etl_raw_rows_per_s": raw / window_s,
            "sql_p50_s": _median(sql),
            "sql_samples": len(sql),
        }
        if len(sql) > 20:
            # the highest percentile with at least ten samples beyond it,
            # once that percentile is past the median
            out["sql_tail_s"] = sql[len(sql) - 11]
            out["sql_tail_pct"] = 100.0 * (len(sql) - 10) / len(sql)
        return out


class CurationLanes(Workload):
    """Curation query lanes over the fixed corpus, in a fixed order.

    The seed changes nothing here.  With the lane order drawn from the seed,
    the stream lane ran 0.75-1.0 s (12-15%) slower in runs where it opened
    each pass than in paired runs where it followed the JPEG lane, so the
    median pass depended on which order a seed drew.
    """

    name = "curation_lanes"
    # The median of three is the middle pass, so one pass slowed by a burst
    # of load on the host does not move it.  On taxi_etl_sql a third pass
    # and its check would add about 10 s, a sixth, to each run.
    MIN_PASSES = 3
    LANES = ("q_jpeg_resize", "q_stream_ann_enrich")
    DOCS = 400
    VECTORS = 400

    def __init__(self, ctx):
        self.ctx = ctx
        with open(PINNED) as f:
            self.pinned = json.load(f)

    def setup(self):
        self.corpus = write_corpus(os.path.join(self.ctx.work, "corpus"), self.DOCS, self.VECTORS)

    def _lane(self, name):
        from glue_etl_nyc_yellow_taxi_analysis_spark.queries import QUERIES

        t = self.ctx.tracer
        with t.span(f"queries.{name}.build"):
            df = QUERIES[name](self.ctx.spark, self.corpus)
        with t.span(f"queries.{name}.action"):
            rows = df.collect()
        return df.columns, rows

    def passes(self, k: int) -> list[Op]:
        return [Op("lane", name, lambda name=name: self._lane(name)) for name in self.LANES]

    def check(self, op: Op, result) -> None:
        got = _hash(*result)
        if got != self.pinned[op.label]:
            raise OutputMismatch(f"{op.label}: hash {got} != pinned {self.pinned[op.label]}")

    def report(self, outcomes, window_s):
        out = {}
        for n in self.LANES:
            done = [o for o in outcomes if o.label == n and o.ok]
            out[f"lane_{n[2:]}_s"] = _median([o.latency for o in done])
            if any("python_worker_cpu_s" in o.counters for o in done):  # traced runs
                out[f"lane_{n[2:]}_python_worker_cpu_s"] = _median(
                    [o.counters["python_worker_cpu_s"] for o in done])
        return out


WORKLOADS = {w.name: w for w in (TaxiEtlSql, CurationLanes)}
