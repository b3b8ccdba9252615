"""Property tests for the envelope-ingestion core and idempotent sink.

These encode the reference's own verification invariants (SURVEY.md
§5): 0 duplicate keys after load, count == distinct count, null-id
rows dropped, and re-run idempotence (second identical run inserts 0).
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from qb_data_pipeline_backfill_spark.operators import txn
from qb_data_pipeline_backfill_spark.operators.impute import median_impute, upper_median
from qb_data_pipeline_backfill_spark.operators.ingest import (
    ENVELOPE_SCHEMA,
    to_envelope,
    validate_batch,
    window_filter,
)
from qb_data_pipeline_backfill_spark.operators.sink import new_rows_only, write_idempotent


@pytest.fixture()
def batch(spark):
    # ~FIXTURES.md §1: null ids, duplicate ids, plain rows
    rows = [
        ("1", "a", "2024-01-05"),
        ("1", "b", "2024-01-06"),  # duplicate id
        (None, "c", "2024-01-07"),  # null id
        ("2", "d", "2024-01-08"),
        ("3", "e", "2025-06-01"),  # outside window
    ]
    return spark.createDataFrame(rows, ["id", "val", "d"])


def test_validate_drops_nulls_and_dups(batch):
    out = validate_batch(batch, key="id", order_cols=["val"])
    got = {(r.id, r.val) for r in out.collect()}
    assert got == {("1", "a"), ("2", "d"), ("3", "e")}
    # invariant: count == distinct count, no null keys
    assert out.count() == out.select("id").distinct().count()
    assert out.filter(F.col("id").isNull()).count() == 0


def test_window_filter_inclusive(batch):
    out = window_filter(batch, F.col("d"), "2024-01-05", "2024-01-08")
    assert {r.id for r in out.collect()} == {"1", None, "2"}


def test_envelope_schema_and_payload(spark):
    df = spark.createDataFrame([(7, "x")], ["k", "v"])
    env = to_envelope(
        df,
        id_col="k",
        entity_type="thing",
        window_start="2024-01-01",
        window_end="2024-12-31",
        ingested_at=F.to_timestamp(F.lit("2025-01-01 00:00:00")),
    )
    assert [f.name for f in env.schema.fields] == [f.name for f in ENVELOPE_SCHEMA.fields]
    row = env.collect()[0]
    assert row.id == "7"
    assert row.payload == '{"v":"x"}'
    assert '"entity_type":"thing"' in row.request_payload
    assert row.page_size == 100


def _one_window(df):
    return df.withColumn("window_date", F.lit("2024-01-01"))


def test_write_idempotent_rerun_inserts_zero(spark, tmp_path, batch):
    target = str(tmp_path / "raw_things")
    clean = _one_window(validate_batch(batch, key="id", order_cols=["val"]))
    n1 = write_idempotent(spark, clean, target, key="id", partition_col="window_date")
    assert n1 == 3
    # reference invariant: second identical run inserts 0 rows
    n2 = write_idempotent(spark, clean, target, key="id", partition_col="window_date")
    assert n2 == 0
    loaded = txn.read_table(spark, target)
    assert loaded.count() == loaded.select("id").distinct().count() == 3


def test_write_idempotent_incremental(spark, tmp_path):
    target = str(tmp_path / "raw_inc")
    b1 = _one_window(spark.createDataFrame([("1", "a"), ("2", "b")], ["id", "v"]))
    b2 = _one_window(spark.createDataFrame([("2", "b"), ("3", "c")], ["id", "v"]))
    assert write_idempotent(spark, b1, target, partition_col="window_date") == 2
    # only "3" is new
    assert write_idempotent(spark, b2, target, partition_col="window_date") == 1
    assert {r.id for r in txn.read_table(spark, target).collect()} == {"1", "2", "3"}


def test_write_idempotent_keeps_caller_cache(spark, tmp_path):
    target = str(tmp_path / "raw_cached")
    b1 = _one_window(spark.createDataFrame([("1", "a")], ["id", "v"])).cache()
    b2 = _one_window(spark.createDataFrame([("1", "a"), ("2", "b")], ["id", "v"])).cache()
    # fresh target, then existing target: the caller's cache survives both
    assert write_idempotent(spark, b1, target, partition_col="window_date") == 1
    assert b1.is_cached
    assert write_idempotent(spark, b2, target, partition_col="window_date") == 1
    assert b2.is_cached
    b1.unpersist()
    b2.unpersist()


def test_write_idempotent_empty_first_window(spark, tmp_path):
    # an empty first batch leaves no readable data behind; the next
    # batch must still see a new target rather than fail its probe
    target = str(tmp_path / "raw_empty_first")
    rows = _one_window(spark.createDataFrame([("1", "a")], ["id", "v"]))
    assert write_idempotent(spark, rows.limit(0), target, partition_col="window_date") == 0
    assert write_idempotent(spark, rows, target, partition_col="window_date") == 1
    assert write_idempotent(spark, rows, target, partition_col="window_date") == 0
    # an empty batch on an existing table lands nothing
    assert write_idempotent(spark, rows.limit(0), target, partition_col="window_date") == 0
    assert txn.read_table(spark, target).count() == 1


def test_write_idempotent_replay_runs_five_jobs(spark, tmp_path):
    """A replay of a landed window runs five Spark jobs and inserts 0:
    the anti-join takes the probed keys as they are, with no dedup
    job in front of it."""
    import uuid

    sc = spark.sparkContext
    target = str(tmp_path / "raw_replay")
    rows = _one_window(
        spark.createDataFrame([(str(i), "a") for i in range(20)], ["id", "v"])
    )
    assert write_idempotent(spark, rows, target, partition_col="window_date") == 20
    group = uuid.uuid4().hex
    sc.setJobGroup(group, "job count")
    try:
        n = write_idempotent(spark, rows, target, partition_col="window_date")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert n == 0
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 5


def test_new_rows_only_anti_join(spark):
    batch = spark.createDataFrame([("1",), ("2",), ("3",)], ["id"])
    existing = spark.createDataFrame([("2",), ("2",)], ["id"])  # dup-safe
    assert {r.id for r in new_rows_only(batch, existing).collect()} == {"1", "3"}


# --- reference median semantics: sorted(vals)[n//2] -------------------------
def test_upper_median_even_count(spark):
    df = spark.createDataFrame([(1.0,), (2.0,), (3.0,), (4.0,)], ["x"])
    # sorted=[1,2,3,4], n//2=2 -> 3.0 (upper median, NOT interpolated 2.5)
    assert upper_median(df, "x") == 3.0


def test_upper_median_odd_count_with_nulls(spark):
    df = spark.createDataFrame([(5.0,), (None,), (1.0,), (3.0,)], ["x"])
    assert upper_median(df, "x") == 3.0


def test_median_impute_fills_nulls(spark):
    rows = [(1.0, 10.0), (None, 20.0), (3.0, None), (4.0, 40.0)]
    df = spark.createDataFrame(rows, ["Age", "Fare"])
    out = median_impute(df, ["Age", "Fare"]).collect()
    ages = sorted(r.Age for r in out)
    fares = sorted(r.Fare for r in out)
    # Age non-null sorted=[1,3,4], [3//2]=3.0 ; Fare [10,20,40], [3//2]=20.0
    assert ages == [1.0, 3.0, 3.0, 4.0]
    assert fares == [10.0, 20.0, 20.0, 40.0]


def test_approx_upper_medians_rank_error_bound(spark):
    """The sketch path must land within its guaranteed rank window of
    the exact upper median: |rank(approx) − (n//2 + 1)| ≤ n/accuracy
    (+1 for the upper-median offset vs the sketch's interpolated-rank
    target)."""
    from qb_data_pipeline_backfill_spark.operators.impute import (
        approx_upper_medians,
    )

    n, acc = 5000, 1000
    vals = [(float(i % 997),) for i in range(n)]  # repeated values too
    df = spark.createDataFrame(vals, ["x"])
    approx = approx_upper_medians(df, ["x"], accuracy=acc)["x"]
    svals = sorted(v for (v,) in vals)
    target = n // 2 + 1
    lo = svals.index(approx) + 1  # lowest rank of the value
    hi = len(svals) - svals[::-1].index(approx)  # highest rank
    slack = n // acc + 1
    assert lo - slack <= target <= hi + slack
    # exact path agrees with the reference semantics on the same data
    assert upper_median(df, "x") == svals[n // 2]


def test_median_impute_approx_variant_fills_all_nulls(spark):
    rows = [(float(i), float(i) if i % 7 else None) for i in range(1, 200)]
    df = spark.createDataFrame(rows, ["a", "b"])
    out = median_impute(df, ["a", "b"], exact=False)
    assert out.filter("a IS NULL OR b IS NULL").count() == 0
