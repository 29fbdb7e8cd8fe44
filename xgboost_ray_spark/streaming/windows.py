"""Structured Streaming operators (SURVEY.md §2.2 S25).

The events table replays as a file-source stream; aggregations use event-time
tumbling/sliding windows. ``run_stream_to_memory`` drives a query to
completion synchronously (processAllAvailable against a memory sink) so the
batch-equivalence oracle can hash the result — the pattern from the public
Spark docs for deterministic streaming tests.

Watermarks: ``windowed_counts`` takes a watermark delay for the append-mode
production path (late data dropped after the delay); the oracle-checked
variants run in complete mode, where the final state equals the batch
answer by construction.

Scale: streaming state lives in the state store keyed by (window, group);
watermarks bound state size. At 100 TB/day the same plan runs against Kafka
with checkpointing — the file source here swaps out, the plan does not.
"""

from __future__ import annotations

import uuid
from collections import deque
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from xgboost_ray_spark.catalog import table_path


def read_table_stream(
    spark: SparkSession, sf_dir: str, table: str
) -> DataFrame:
    """File-source replay of a catalog table with the batch schema.

    The ONE streaming reader: every file-replay entry goes through here so
    schema-probe and glob strategy cannot fork between entries. For
    events, the raw file stores TIMESTAMP(NANOS) (read as long under
    nanosAsLong — set defensively below, exactly like
    ``catalog.load_table``, because the batch schema probe hits the same
    PARQUET_TYPE_ILLEGAL on an externally built session); the same ns->us
    conversion as the batch catalog keeps stream and batch plans
    identical downstream.
    """
    from xgboost_ray_spark.catalog import normalize_event_ts

    if table == "events":
        from xgboost_ray_spark.registry import set_runtime_conf

        set_runtime_conf(
            spark, "spark.sql.legacy.parquet.nanosAsLong", "true"
        )
    raw_schema = spark.read.parquet(table_path(sf_dir, table)).schema
    # The file-stream source needs a directory; scope it to the one table
    # file with a glob filter.
    stream = (
        spark.readStream.schema(raw_schema)
        .option("pathGlobFilter", f"{table}.parquet")
        .parquet(sf_dir)
    )
    return normalize_event_ts(stream) if table == "events" else stream


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source replay of the events table with the batch schema."""
    return read_table_stream(spark, sf_dir, "events")


def windowed_counts(
    events: DataFrame,
    window: str = "1 hour",
    slide: str | None = None,
    watermark: str | None = None,
) -> DataFrame:
    """Tumbling (or sliding, if ``slide``) event-time window aggregation."""
    src = events.withWatermark("ts", watermark) if watermark else events
    win = F.window("ts", window, slide) if slide else F.window("ts", window)
    return (
        src.groupBy(win.alias("w"), "event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(28,6)")).cast("double")
            .alias("sum_value"),
        )
        .select(F.col("w.start").alias("wstart"), "event_type", "n", "sum_value")
    )


# A stateful shuffle's partition count is captured into the query's state
# layout at ``start()``, and each state partition is one task per
# micro-batch that opens and commits its state-store instances (a
# stream-stream join keeps four) whatever its data volume. That fixed cost
# dominates at these sizes, so stateful queries use at most
# ``MAX_STATE_PARTITIONS`` and never more than the session has task slots:
# 8 partitions on 4 slots would run every micro-batch in two waves. On a
# cluster whose state outgrows the executors' state-store budget, raise
# the cap.
MAX_STATE_PARTITIONS = 8


@contextmanager
def stream_state_partitions(spark: SparkSession):
    """Pin ``spark.sql.shuffle.partitions`` to the stateful partition
    count for the duration and restore the batch value after. The ONE
    copy of this save/set/restore protocol: every streaming runner
    (memory sink, foreachBatch CDC) enters it here so the restore
    semantics cannot drift between entries."""
    batch_parts = spark.conf.get("spark.sql.shuffle.partitions")
    state_parts = min(
        MAX_STATE_PARTITIONS, spark.sparkContext.defaultParallelism
    )
    spark.conf.set("spark.sql.shuffle.partitions", str(state_parts))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", batch_parts)


# Memory-sink temp views registered by run_stream_to_memory, oldest first.
# The sink keeps its full result set on the driver for as long as the
# view exists, so an unbounded session (bench loops re-running streaming
# entries every pass) would otherwise accumulate one complete result set
# per run forever. Retention is a small FIFO: the returned DataFrame is
# guaranteed valid until _MEMORY_SINK_KEEP further run_stream_to_memory
# calls — collect promptly (every harness here does; the driver collects
# each query before building the next).
_MEMORY_SINK_VIEWS: deque[tuple[SparkSession, str]] = deque()
_MEMORY_SINK_KEEP = 8

# The most recent run's last micro-batch executed plan and its progress
# reports, stashed by the two runners: the plan for the streaming leg of
# the plan-hygiene sweep (tests/test_plan_hygiene.py pins the batch catalog
# directly; streaming plans only exist while a query runs, so the runner
# captures them in passing), the progress (``StreamingQuery.recentProgress``:
# batch ids and durations, state-operator rows and shuffle partitions,
# watermark) for tests and profiles. One list cell each, overwritten per
# run — read them immediately after the build returns.
LAST_STREAM_PLAN: list[str] = []
LAST_STREAM_PROGRESS: list[dict] = []


def _clear_last_run() -> None:
    """Called BEFORE start, so a failed run leaves the cells empty, never
    the previous query's (their contract is "this run's")."""
    LAST_STREAM_PLAN[:] = []
    LAST_STREAM_PROGRESS[:] = []


def _capture_last_run(q) -> None:
    """Stash the finished query's lastExecution plan text and its
    recentProgress (driver-side state — no job, a few py4j calls, covered
    by the build-cost ceilings' headroom). Advisory: a capture failure
    leaves its cell empty rather than failing the run."""
    try:
        LAST_STREAM_PLAN[:] = [q._jsq.explainInternal(True)]
    except Exception:
        LAST_STREAM_PLAN[:] = []
    try:
        LAST_STREAM_PROGRESS[:] = q.recentProgress
    except Exception:
        LAST_STREAM_PROGRESS[:] = []


def run_stream_to_memory(
    agg: DataFrame, spark: SparkSession, output_mode: str = "complete"
) -> DataFrame:
    """Run a streaming aggregation to completion into a memory sink."""
    name = f"stream_out_{uuid.uuid4().hex[:8]}"
    _clear_last_run()
    with stream_state_partitions(spark):
        q = (
            agg.writeStream.outputMode(output_mode)
            .format("memory")
            .queryName(name)
            .start()
        )
        # Enqueue for eviction as soon as the view EXISTS (start()
        # registers it), not after success: a failing
        # processAllAvailable would otherwise leak a never-evicted,
        # driver-resident sink view per retry — the exact unbounded
        # growth the FIFO bounds.
        _MEMORY_SINK_VIEWS.append((spark, name))
        try:
            q.processAllAvailable()
            _capture_last_run(q)
        finally:
            q.stop()
    # The memory sink keeps the result rows after stop(); the uniquely-named
    # temp view stays registered until evicted by the FIFO above (a
    # driver-side collect+createDataFrame round-trip here cost ~3s per
    # 100k rows, so the result stays lazy over the sink).
    while len(_MEMORY_SINK_VIEWS) > _MEMORY_SINK_KEEP:
        old_spark, old_name = _MEMORY_SINK_VIEWS.popleft()
        try:
            old_spark.catalog.dropTempView(old_name)
        except Exception:
            pass  # session already stopped; nothing to free
    return spark.table(name)


def run_stream_to_files(
    df: DataFrame,
    spark: SparkSession,
    out_dir: str,
    partition_by: str | None = None,
) -> DataFrame:
    """Drive a stateless streaming transform into a checkpointed parquet
    file sink (Trigger.AvailableNow) and return the materialized output.

    This is the production ETL topology: the file sink's commit manifest
    plus the checkpoint give end-to-end exactly-once — a re-run after a
    mid-batch crash never double-writes (the sink skips committed batch
    ids). Scratch dirs are wiped first so the entry is deterministic per
    invocation; on a real deployment the checkpoint persists instead.
    """
    import os
    import shutil

    chk_dir = out_dir + "_chk"
    for d in (out_dir, chk_dir):
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d, exist_ok=True)
    writer = (
        df.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", chk_dir)
        .outputMode("append")
        .trigger(availableNow=True)
    )
    if partition_by:
        writer = writer.partitionBy(partition_by)
    _clear_last_run()
    q = writer.start()
    q.awaitTermination()
    _capture_last_run(q)
    return spark.read.parquet(out_dir)
