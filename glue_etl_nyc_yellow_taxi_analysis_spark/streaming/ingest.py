"""Structured Streaming ingest — the Lambda/EventBridge replacement.

The reference's arrive-and-process loop (S3 ObjectCreated → Lambda regex →
start Glue job, ``lambda-process-s3-raw-nyc-files/lambda_function.py``;
EventBridge job-chaining, ``Rules-CloudFormation-Template.json:60-86``)
collapses into Spark's own file source: new files under a directory become
micro-batches; ``foreachBatch`` runs the star build per batch;
``trigger(availableNow=True)`` gives catch-up-then-stop batch semantics.
Exactly-once bookkeeping comes from the checkpoint dir (replaces Glue job
bookmarks).

The drain rule: every query lane drains its stream through ``drain``
and nowhere else.  ``drain`` starts the query with the availableNow
trigger, so it processes the backlog present at start and stops; waits
for it without a timeout, so a failed batch raises instead of leaving a
partial sink to be read; and gives it a checkpoint dir of its own, which
it removes once the query ends, failed or not.  The lane's other scratch
(source files, foreachBatch output) comes from ``paths.scratch`` and is
removed when the interpreter exits, since the lane's result reads it
lazily.  ``monthly_star_ingest`` is the one query with a caller-owned
checkpoint: it is resumable, so the caller keeps the dir and the query.
"""

from __future__ import annotations

import os
import shutil
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..paths import scratch


def ensure_event_time(df: DataFrame, col: str = "ts") -> DataFrame:
    """Make ``col`` watermark-able event time (streaming requires
    TIMESTAMP, not TIMESTAMP_NTZ or raw integers).

    The driver's testdata has shipped ``events.ts`` both as parquet
    TIMESTAMP(NANOS) (readable only as nanos-since-epoch longs under
    ``spark.sql.legacy.parquet.nanosAsLong``) and as TIMESTAMP(MICROS)
    (read as TIMESTAMP_NTZ).  Both converge here: longs via exact integer
    division to microseconds, NTZ via an explicit epoch computation that
    interprets the wall clock as UTC — NOT a bare cast, which would pick
    up whatever spark.sql.session.timeZone the host session carries (a
    non-UTC session with DST would shift streaming window boundaries).
    Already-TIMESTAMP columns pass through untouched.
    """
    dtype = dict(df.dtypes).get(col)
    if dtype == "bigint":
        return df.withColumn(
            col, F.timestamp_micros(F.expr(f"{col} div 1000"))
        )
    if dtype == "timestamp_ntz":
        return df.withColumn(
            col,
            F.timestamp_micros(
                F.expr(
                    f"timestampdiff(MICROSECOND,"
                    f" TIMESTAMP_NTZ '1970-01-01 00:00:00', {col})"
                )
            ),
        )
    return df


def stream_files(
    spark: SparkSession,
    source_dir: str,
    schema: T.StructType,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Parquet file-source stream: one micro-batch per arriving file set.
    ``max_files_per_trigger`` paces backlog drain (and lets tests exercise
    multi-batch recovery)."""
    reader = spark.readStream.format("parquet").schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.load(source_dir)


def stream_table(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    """File-source stream over one table file of ``sf_dir``: the file is
    linked into a fresh scratch dir, so its whole backlog is that file."""
    src = f"{sf_dir}/{table}.parquet"
    src_dir = scratch(f"sg_{table}_stream_")
    os.symlink(src, f"{src_dir}/{table}.parquet")
    return stream_files(spark, src_dir, spark.read.parquet(src).schema)


def drain(
    stream: DataFrame,
    sink: str | Callable[[DataFrame, int], None],
    mode: str = "append",
) -> DataFrame | None:
    """Run ``stream`` to the end of its backlog (see the module docstring).
    ``sink`` is a memory-table name, whose table is returned, or a
    ``foreachBatch(batch_df, batch_id)`` callable.  A memory table holds
    its rows in the driver until a drain under the same name replaces
    it, so each lane drains into one fixed name."""
    writer = stream.writeStream.outputMode(mode)
    if callable(sink):
        writer = writer.foreachBatch(sink)
    else:
        writer = writer.format("memory").queryName(sink)
    ckpt = scratch("sg_ckpt_")
    try:
        writer.option("checkpointLocation", ckpt).trigger(
            availableNow=True
        ).start().awaitTermination()
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)
    return None if callable(sink) else stream.sparkSession.table(sink)


def monthly_star_ingest(
    spark: SparkSession,
    source_dir: str,
    database: str,
    schema: T.StructType,
    checkpoint_dir: str,
    max_files_per_trigger: int | None = None,
    on_file=None,
):
    """End-to-end Job-1 loop: arriving ``yellow_tripdata_YYYY-MM.parquet``
    files → star fact build → partitioned catalog append, one micro-batch at
    a time.  This is the whole Lambda + EventBridge + Glue-job chain
    (lambda-process-s3-raw-nyc-files/lambda_function.py:8-22) as ~20 lines
    of Structured Streaming.  Returns the started query; the caller owns
    ``checkpoint_dir``, so a restart resumes where the last run stopped.

    Each batch may contain several monthly files; the per-file (year, month)
    the Lambda regexed out of the S3 key is derived the same way from
    ``input_file_name``.  Distinct file list per batch is metadata-sized —
    the only driver-side loop, bounded by files-per-batch.
    """
    from ..catalog import ensure_database, save_table
    from ..paths import year_month_from_path
    from ..plans.star import build_fact

    ensure_database(spark, database)
    # dynamic partition overwrite is scoped inside catalog.save_table

    def process_batch(batch: DataFrame, batch_id: int) -> None:
        files = [r[0] for r in batch.select("__source_file").distinct().collect()]
        for path in sorted(files):
            if on_file is not None:
                # observability/chaos hook: runs BEFORE any write for the
                # file, so a raise aborts the batch pre-commit and the
                # checkpoint replays the whole batch on restart
                on_file(path)
            year, month = year_month_from_path(path)
            raw = batch.filter(F.col("__source_file") == path).drop("__source_file")
            fact = build_fact(raw, year, month)
            save_table(
                fact,
                database,
                "fact_uber_trips",
                partition_by=["processed_year", "processed_month"],
                mode="overwrite",  # dynamic: replaces only this month
            )

    stream = stream_files(
        spark, source_dir, schema, max_files_per_trigger=max_files_per_trigger
    ).withColumn("__source_file", F.input_file_name())
    return (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def stateful_user_totals(
    events: DataFrame,
    key_col: str = "user_id",
    value_col: str = "value",
):
    """Custom stateful streaming operator via ``applyInPandasWithState``:
    per-user running (event count, value total) maintained across
    micro-batches.

    This is the escape hatch for stateful semantics Spark's built-in
    windowed aggregations can't express (per-key custom state machines);
    state lives in the state store (checkpointed, exactly-once), and the
    user function sees Arrow batches, never single rows.  Output mode
    "update": one row per key per batch with the post-batch totals.

    The running total is held as integer TEN-THOUSANDTHS: each value is
    quantized per-row with floor(v*10000 + 0.5) — pure IEEE multiply/floor,
    bit-identical in numpy, the JVM, and any SQL engine — and summed as an
    int.  A float accumulator rounded per batch would drift with batch
    boundaries and pandas' pairwise-summation order, making the final
    state unverifiable; the integer lane makes the whole operator
    replayable by a batch SQL oracle.
    """
    import pandas as pd  # noqa: F401 — required by the worker closure
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    output_schema = T.StructType(
        [
            T.StructField(key_col, T.LongType()),
            T.StructField("n_events", T.LongType()),
            T.StructField("total_value", T.DoubleType()),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("n_events", T.LongType()),
            T.StructField("total_i", T.LongType()),
        ]
    )

    def update(key, pdfs, state: "GroupState"):
        import numpy as np
        import pandas as pd

        n, total_i = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            n += len(pdf)
            total_i += int(
                np.floor(pdf[value_col].to_numpy(dtype="float64") * 10000.0 + 0.5).sum()
            )
        state.update((n, total_i))
        yield pd.DataFrame(
            {key_col: [key[0]], "n_events": [n], "total_value": [total_i / 10000.0]}
        )

    return (
        events.groupBy(key_col)
        .applyInPandasWithState(
            update,
            outputStructType=output_schema,
            stateStructType=state_schema,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def windowed_event_counts(
    events: DataFrame,
    ts_col: str = "ts",
    window_duration: str = "1 hour",
    watermark: str = "2 hours",
    group_cols: list[str] | None = None,
    slide_duration: str | None = None,
) -> DataFrame:
    """Streaming tumbling (or, with ``slide_duration``, hopping) window
    aggregate with late-data watermark.

    The batch twin is ``operators.sessionize.tumbling_agg`` /
    ``queries_ext.q_sliding_windows`` — identical F.window call, so batch
    results validate the streaming plan.
    """
    group_cols = group_cols or ["event_type"]
    win = (
        F.window(ts_col, window_duration, slide_duration)
        if slide_duration
        else F.window(ts_col, window_duration)
    )
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(win.alias("w"), *group_cols)
        .agg(
            F.count("*").alias("n_events"),
            # decimal-routed double sum (same lane as tumbling_agg/dsum):
            # streaming state accumulates in arrival order, which would
            # make a bare double sum run-dependent at the last ulp
            F.round(F.sum(F.col("value").cast("decimal(18,4)")), 2)
            .cast("double")
            .alias("sum_value"),
        )
        .select(F.col("w.start").alias("window_start"), *group_cols, "n_events", "sum_value")
    )


def session_window_counts(
    events: DataFrame,
    ts_col: str = "ts",
    gap: str = "30 minutes",
    watermark: str = "2 hours",
    key_cols: list[str] | None = None,
) -> DataFrame:
    """Streaming gap-session aggregate via the built-in session_window:
    the state store merges adjacent per-key sessions as events arrive and
    emits a session once the watermark passes its close — bounded state,
    no custom state machine.  The batch twin is
    ``queries_ext11.q_session_window_native`` (identical expression), so
    batch results validate the streaming plan.
    """
    key_cols = key_cols or ["user_id"]
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(*key_cols, F.session_window(ts_col, gap))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            # decimal-routed like tumbling_agg and the batch twin's dsum
            # lane: streaming state accumulates in arrival order, so a
            # bare double sum differs from the batch twin at the last
            # ulp run-to-run (review r4)
            F.round(
                F.sum(F.round("value", 4).cast("decimal(18,4)")), 2
            )
            .cast("double")
            .alias("sum_value"),
        )
        .select(
            *key_cols,
            F.col("session_window.start").alias("session_start"),
            "n_events",
            "sum_value",
        )
    )


def interval_join_streams(
    left: DataFrame,
    right: DataFrame,
    key: str = "user_id",
    ts_col: str = "ts",
    gap: str = "10 minutes",
    watermark: str = "30 minutes",
) -> DataFrame:
    """Stream-stream inner join with an event-time interval condition:
    right-side events within ``gap`` BEFORE each left event, same key.

    Both sides carry watermarks and the join condition bounds event time in
    both directions, so Spark can expire join state — without the time
    bound, stream-stream join state grows forever.  Batch twin: the same
    join expression on static DataFrames (parity-tested)."""
    l, r = left.alias("l"), right.alias("r")
    cond = F.expr(
        f"l.{key} = r.{key} AND "
        f"r.{ts_col} BETWEEN l.{ts_col} - INTERVAL {gap} AND l.{ts_col}"
    )
    return (
        l.withWatermark(ts_col, watermark)
        .join(r.withWatermark(ts_col, watermark), cond, "inner")
        .select(
            F.col(f"l.{key}").alias(key),
            F.col(f"l.{ts_col}").alias("l_ts"),
            F.col(f"r.{ts_col}").alias("r_ts"),
        )
    )


def dedup_stream(
    stream: DataFrame,
    keys: list[str],
    ts_col: str = "ts",
    watermark: str = "30 minutes",
) -> DataFrame:
    """Streaming exactly-once-per-key dedup with bounded state.

    ``dropDuplicatesWithinWatermark`` keeps one row per key and expires
    the key's state once the watermark passes its event time — the
    unbounded-state footgun of plain streaming ``dropDuplicates`` (state
    grows forever at 100 TB/day) is what this exists to avoid.  Late
    duplicates inside the watermark are suppressed; duplicates arriving
    after state expiry are a watermark-sizing decision, not a bug.
    """
    return stream.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(keys)
