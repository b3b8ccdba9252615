"""End-to-end backfill pipeline composition (op #27).

The reference expresses this as a Mage 2-block DAG — REST extract →
validate/dedup/idempotent-load — parameterized by a backfill window
(reference: scheduler_data/scheduler/pipelines/qb_customers_backfill/
metadata.yaml:1-33, runtime variables fecha_inicio/fecha_fin at
:56-58). Here the whole DAG is ONE lazy Spark plan: source scan →
window filter → envelope projection → validation → anti-join →
txn-table commit. Catalyst fuses extract/validate into the scan
stage; the only shuffles are the dedup and the idempotence anti-join,
and the sink's existing-key probe reads only the files committed for
the batch's extract-window date (op #40).

Also here: the CSV-over-HTTP template loader (op #24) feeding the
median-imputation transformer — the reference's example_pipeline
(metadata.yaml:1-26, load_titanic.py:12-19).
"""

from __future__ import annotations

import os
import tempfile
import urllib.request

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from qb_data_pipeline_backfill_spark.operators.impute import median_impute
from qb_data_pipeline_backfill_spark.operators.ingest import (
    to_envelope,
    validate_batch,
    window_filter,
)
from qb_data_pipeline_backfill_spark.operators.sink import write_idempotent


def run_backfill(
    spark: SparkSession,
    source: DataFrame,
    target_path: str,
    *,
    id_col: str,
    date_col: Column,
    window_start: str,
    window_end: str,
    entity_type: str,
    payload_cols: list[str] | None = None,
    order_cols: list[str] | None = None,
    ingested_at: Column | None = None,
    page_number_col: Column | None = None,
) -> dict[str, int]:
    """Source → window filter → envelope → validate → idempotent load.

    Returns the reference's own per-run metrics (logged by its
    exporter: "Total extracted / after filter / new records inserted",
    …/.logs/…/save_to_raw_customers_py.log). Re-running the same
    window inserts 0 rows. ``target_path`` is a txn table
    (``operators/txn.py``; read it with ``txn.read_table``): each
    window's new rows land in one atomic commit, so a crash lands
    nothing and two runs of one window land each Id once.

    Metrics come from ``DataFrame.observe`` accumulators riding the
    sink's single pass over the source — NOT separate ``count()`` jobs,
    which would re-scan the source (and for the REST source, re-fetch
    every page) per metric. That pass is the sink's staging write,
    which also observes the inserted count.
    """
    from pyspark.sql import Observation

    obs_extracted = Observation()
    obs_filtered = Observation()
    source = source.observe(obs_extracted, F.count(F.lit(1)).alias("n"))
    windowed = window_filter(source, date_col, window_start, window_end).observe(
        obs_filtered, F.count(F.lit(1)).alias("n")
    )
    n_inserted = _land(
        spark,
        windowed,
        target_path,
        id_col=id_col,
        order_cols=order_cols,
        payload_cols=payload_cols,
        entity_type=entity_type,
        window_start=window_start,
        window_end=window_end,
        ingested_at=ingested_at,
        page_number_col=page_number_col,
    )
    return {
        "extracted": obs_extracted.get["n"],
        "after_filter": obs_filtered.get["n"],
        "inserted": n_inserted,
    }


def _land(
    spark: SparkSession,
    rows: DataFrame,
    target_path: str,
    *,
    id_col: str,
    order_cols: list[str] | None = None,
    **envelope,
) -> int:
    """Validate → envelope → ``window_date`` → idempotent load of one
    window's rows; returns the rows inserted. The one landing step of
    ``run_backfill`` and ``streaming.stream_backfill``.

    Validation runs on the source shape (``order_cols`` are source
    columns), then the envelope projection; Catalyst fuses both into
    the scan stage around the single dedup shuffle. ``window_date`` is
    the EXTRACT-WINDOW date, not the load date: it is identical when
    the same window is re-run later, so the sink's zone-map-scoped
    probe always reads the files a rerun would collide with (op #40 —
    the Spark analog of the reference's time index).

    Every row carries the one ``window_date``, so it is handed to the
    sink as its ``values`` and the sink runs no partition-value
    collect. The value comes from the column's own expression, folded
    on a local relation (no Spark job), so the probe value equals the
    landed column by construction.
    """
    clean = validate_batch(rows, key=id_col, order_cols=order_cols)
    day = F.to_date(F.to_timestamp(F.lit(envelope["window_start"])))
    env = to_envelope(clean, id_col=id_col, **envelope).withColumn("window_date", day)
    return write_idempotent(
        spark,
        env,
        target_path,
        key="id",
        partition_col="window_date",
        values=[spark.sql("VALUES (0)").select(day).first()[0]],
    )


def load_csv_http(
    spark: SparkSession, url: str, cache_dir: str | None = None
) -> DataFrame:
    """CSV-over-HTTP scan (op #24; reference: load_titanic.py:12-19,
    ``pd.read_csv(url)``).

    Spark file sources read filesystems, not HTTP, so the bytes are
    landed once (driver-side, like the reference) and scanned with the
    parallel CSV reader. At scale the landing target would be object
    storage shared by the cluster; a local temp dir mirrors the
    reference's single-node template.
    """
    cache_dir = cache_dir or tempfile.mkdtemp(prefix="csv_http_")
    local = os.path.join(cache_dir, os.path.basename(url.split("?")[0]) or "data.csv")
    with urllib.request.urlopen(url, timeout=60) as resp, open(local, "wb") as f:
        f.write(resp.read())
    return spark.read.csv(local, header=True, inferSchema=True)


def run_template_pipeline(
    spark: SparkSession, url: str, cols: list[str], cache_dir: str | None = None
) -> DataFrame:
    """The reference's example_pipeline: CSV-over-HTTP load → column
    projection → upper-median imputation (ops #24-#26)."""
    return median_impute(load_csv_http(spark, url, cache_dir), cols)
