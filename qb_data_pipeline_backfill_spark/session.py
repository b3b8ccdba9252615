"""SparkSession factory tuned for both local testing and cluster scale.

The defaults here are chosen for the driver's local[32] harness but
every knob is the one you would also set on a 1000-executor cluster:
AQE on (runtime re-planning, skew-join splitting, partition
coalescing), UTC session timezone (oracle parity with DuckDB, and the
only sane choice for a multi-region lake), Arrow enabled for the few
Pandas-UDF paths, and shuffle partitions sized to the local core
count (on a real cluster you would leave AQE's coalescing to shrink
an intentionally-high initial number).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
# the directory holding this package, for the Python workers' PYTHONPATH
_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_spark(
    app_name: str = "qb-data-pipeline-backfill-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with scale-minded defaults.

    Parameters are overridable so tests can pin small settings and a
    cluster deployment can pass its own master / conf.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        # --- correctness-critical ---
        # DuckDB timestamps are UTC-naive; pin Spark to UTC so the
        # oracle comparison (and any cross-engine reader) agrees.
        .config("spark.sql.session.timeZone", "UTC")
        # --- adaptive execution: the 100 TB insurance policy ---
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # --- shuffle sizing ---
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        # Write timestamps as TIMESTAMP_MICROS, not legacy INT96:
        # INT96 columns carry NO parquet min/max statistics, which
        # blinds both the txn layer's zone maps (operators/txn.py
        # _file_stats) and any engine's row-group skipping on our
        # output. Micros is also what DuckDB/Arrow/Iceberg expect.
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        # The driver's events.parquet stores ts as TIMESTAMP(NANOS),
        # which vanilla Spark rejects; read it as long and convert in
        # tables.load_table (DuckDB truncates ns→us the same way).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Runtime join pruning (spark.sql.optimizer.runtime.bloomFilter
        # .enabled / runtimeFilter.semiJoinReduction.enabled) was tried
        # and REJECTED: on this query surface it re-planned one of the
        # self-join-heavy queries into a >5x slower shape (full gate
        # went from ~6 min to >30 min). On a real cluster with selective
        # dim-filtered fact joins, enable bloomFilter per-job after
        # measuring — not globally.
        # --- Arrow for the Pandas-UDF slow paths ---
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # --- Python workers ---
        # Workers fork from worker_daemon: pyspark.daemon minus the
        # per-task re-reads of pyspark.zip and the other zip archives
        # (about 0.2 s per task on CPython < 3.13). The package's parent
        # goes on the workers' PYTHONPATH, so they import the daemon
        # even when the driver found the package only through sys.path.
        .config(
            "spark.python.daemon.module",
            "qb_data_pipeline_backfill_spark.worker_daemon",
        )
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_PARENT)
        # Keep the UI off in the test harness; it costs startup time.
        .config("spark.ui.enabled", "false")
        # Broadcast threshold: default 10 MB is right for our dims
        # (region/nation/supplier are tiny even at sf large).
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
