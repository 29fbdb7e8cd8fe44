"""SparkSession factory tuned for the engine.

Defaults are scale-aware: AQE on (runtime re-plan + skew-join handling),
shuffle partitions sized to cores for local mode (a cluster deployment
overrides via ``extra_conf`` or ``spark-defaults``), Arrow enabled for every
pandas interchange, UTC session timezone so results compare bit-stable
against external engines (DuckDB oracle, parquet readers).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

def effective_cpus() -> int:
    """Resolved ``$SPARK_GRAFT_CPUS`` — validated ONCE, shared by the
    session factory and bench.py's result record (ADVICE r15: bench.py
    parsed the env var independently at result-print time, so a
    non-numeric value crashed AFTER the whole run completed and a
    mid-process env change could make the JSON's ``cpus`` disagree with
    the master the session actually ran on). Falls back to the host
    count when unset; raises immediately (before any work) on a
    non-numeric or non-positive value."""
    raw = os.environ.get("SPARK_GRAFT_CPUS")
    if raw:
        try:
            cpus = int(raw)
        except ValueError:
            raise ValueError(
                f"SPARK_GRAFT_CPUS must be an integer, got {raw!r}"
            ) from None
        if cpus < 1:
            raise ValueError(f"SPARK_GRAFT_CPUS must be >= 1, got {cpus}")
        return cpus
    return os.cpu_count() or 4


_DEFAULTS = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.parquet.filterPushdown": "true",
    # 128 MB input splits: keeps task count proportional to data, not files.
    "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
    "spark.ui.enabled": "false",
    # Older events fixtures stored TIMESTAMP(NANOS); Spark has no nanos type,
    # so read as long and convert in the catalog (DuckDB truncates ns->us the
    # same way).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Testdata timestamps are naive (isAdjustedToUTC=false) micros; read them
    # as UTC instants so event-time functions and pushdown work off the scan.
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"),
}


def get_spark(
    app_name: str = "xgboost_ray_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (or all cores) so the
    same entry points run in tests and in the driver harness; on a real
    cluster the caller passes its own master / relies on spark-submit.
    """
    cpus = effective_cpus()
    master = master or f"local[{cpus}]"
    builder = SparkSession.builder.master(master).appName(app_name)
    conf = dict(_DEFAULTS)
    conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions or cpus)
    if master.split("[")[0] == "local":
        # Python workers fork from the engine's daemon (worker_daemon.py),
        # which must import this package from the worker's cwd. A cluster
        # opts in by passing the same two keys through ``extra_conf``.
        conf["spark.python.daemon.module"] = "xgboost_ray_spark.worker_daemon"
        conf["spark.executorEnv.PYTHONPATH"] = os.path.dirname(
            os.path.dirname(os.path.abspath(__file__))
        )
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
