"""Tests for end-to-end pipeline composition (op #27), partition-pruned
idempotent sink (op #40), CSV-over-HTTP template pipeline (ops #24-#26),
and the injectable JDBC sink (op #22)."""

from __future__ import annotations

import os
import re
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

import pytest

from pyspark.sql import functions as F

from qb_data_pipeline_backfill_spark.operators import txn
from qb_data_pipeline_backfill_spark.operators.sink import (
    existing_keys_probe,
    write_idempotent,
    write_jdbc_idempotent,
)
from qb_data_pipeline_backfill_spark.pipeline import (
    load_csv_http,
    run_backfill,
    run_template_pipeline,
)

def _as_of():
    return F.to_timestamp(F.lit("2025-01-01 00:00:00"))


@pytest.fixture()
def source(spark):
    rows = [
        (1, "a", "2024-01-05"),
        (2, "b", "2024-01-08"),
        (3, "c", "2024-02-20"),  # outside the January window
        (4, "d", "2024-01-30"),
    ]
    return spark.createDataFrame(rows, ["k", "v", "d"])


def _january(spark, source, target):
    return run_backfill(
        spark,
        source,
        target,
        id_col="k",
        date_col=F.col("d"),
        window_start="2024-01-01",
        window_end="2024-01-31",
        entity_type="things",
        order_cols=["v"],
        ingested_at=_as_of(),
    )


def test_run_backfill_end_to_end_and_rerun_inserts_zero(spark, tmp_path, source):
    target = str(tmp_path / "raw_things")
    m1 = _january(spark, source, target)
    assert m1 == {"extracted": 4, "after_filter": 3, "inserted": 3}
    # reference invariant: re-running the same window inserts 0
    m2 = _january(spark, source, target)
    assert m2["inserted"] == 0
    loaded = txn.read_table(spark, target)
    assert loaded.count() == loaded.select("id").distinct().count() == 3
    # landed with its extract-window date (op #40)
    assert loaded.select("window_date").distinct().collect()[0][0].isoformat() == "2024-01-01"


def test_run_backfill_second_window_appends(spark, tmp_path, source):
    target = str(tmp_path / "raw_things")
    _january(spark, source, target)
    m = run_backfill(
        spark,
        source,
        target,
        id_col="k",
        date_col=F.col("d"),
        window_start="2024-02-01",
        window_end="2024-02-28",
        entity_type="things",
        order_cols=["v"],
        ingested_at=_as_of(),
    )
    assert m["inserted"] == 1  # row 3 only
    assert txn.read_table(spark, target).count() == 4


def _stub_backfill(spark, srv, target, start, end, **kw):
    """``run_backfill`` of one window over the stub at 40 rows per
    page; ids 0-74 fall in January, 75-149 in February."""
    from qb_data_pipeline_backfill_spark.sources import stub_qbo as SQ
    from qb_data_pipeline_backfill_spark.sources.rest import read_qbo

    source = read_qbo(
        spark,
        base_url=srv.base_url,
        client_id=SQ.STUB_CLIENT_ID,
        client_secret=SQ.STUB_CLIENT_SECRET,
        refresh_token=SQ.STUB_REFRESH_TOKEN,
        page_pause_s="0.0",
        page_size="40",
    )
    return run_backfill(
        spark,
        source,
        target,
        id_col="id",
        date_col=F.when(F.col("id").cast("int") < 75, "2024-01-10").otherwise(
            "2024-02-10"
        ),
        window_start=start,
        window_end=end,
        entity_type="customers",
        ingested_at=_as_of(),
        **kw,
    )


def test_run_backfill_fetches_each_page_once_per_window(spark, tmp_path, sf_dir):
    """One pass over the REST source per window: landing a window on an
    existing target and replaying it each fetch every page once (150
    stub customers at 40 per page = 4 pages), not once per sink job."""
    from qb_data_pipeline_backfill_spark.sources import stub_qbo as SQ

    srv = SQ.StubQboServer(f"{sf_dir}/customer.parquet")
    target = str(tmp_path / "raw_customers")

    def land(start, end):
        return _stub_backfill(
            spark, srv, target, start, end, order_cols=["payload"]
        )

    try:
        land("2024-01-01", "2024-01-31")  # the target now exists
        before = srv.n_page_requests
        m = land("2024-02-01", "2024-02-29")
        assert m == {"extracted": 150, "after_filter": 75, "inserted": 75}
        assert srv.n_page_requests - before == 4
        before = srv.n_page_requests
        m = land("2024-02-01", "2024-02-29")  # replay
        assert m == {"extracted": 150, "after_filter": 75, "inserted": 0}
        assert srv.n_page_requests - before == 4
    finally:
        srv.close()
    assert txn.read_table(spark, target).count() == 150


def test_stub_window_lands_the_source_payload_and_pages(spark, tmp_path, sf_dir):
    """The raw table holds what the REST source row carries: the
    record's own JSON as ``payload`` (not wrapped a second time), and
    the source's page number and page size."""
    import json

    from qb_data_pipeline_backfill_spark.sources import stub_qbo as SQ

    srv = SQ.StubQboServer(f"{sf_dir}/customer.parquet")
    target = str(tmp_path / "raw_customers")
    try:
        _stub_backfill(spark, srv, target, "2024-01-01", "2024-12-31")
    finally:
        srv.close()
    landed = txn.read_table(spark, target).select(
        "id",
        "payload",
        "page_number",
        "page_size",
        F.get_json_object("payload", "$.DisplayName").alias("name"),
    )
    rows = landed.collect()
    assert len(rows) == len(srv.records) == 150
    by_id = {r["Id"]: (i, r) for i, r in enumerate(srv.records)}
    for row in rows:
        i, record = by_id[row["id"]]
        assert json.loads(row["payload"]) == record
        assert row["name"] is not None
        assert (row["page_number"], row["page_size"]) == (i // 40 + 1, 40)


def test_backfill_window_spark_jobs(spark, tmp_path, sf_dir):
    """Spark jobs per backfill window on the txn-table sink: the first
    window 2, a later landing on the existing target 5, its replay 6."""
    from qb_data_pipeline_backfill_spark.sources import stub_qbo as SQ

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    srv = SQ.StubQboServer(f"{sf_dir}/customer.parquet")
    target = str(tmp_path / "raw_customers")
    jobs = []
    try:
        for i, (start, end) in enumerate(
            [("2024-01-01", "2024-01-31"), ("2024-02-01", "2024-02-29")] * 2
        ):
            group = f"backfill-window-{i}-{tmp_path.name}"
            sc.setJobGroup(group, group)
            try:
                _stub_backfill(spark, srv, target, start, end)
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
            jobs.append(len(tracker.getJobIdsForGroup(group)))
    finally:
        srv.close()
    # January lands first, February lands on the existing target, then
    # both replay
    assert jobs == [2, 5, 6, 6]


def test_probe_is_partition_pruned(spark, tmp_path):
    target = str(tmp_path / "raw_pruned")
    b1 = spark.createDataFrame([("1", "2024-01-01")], ["id", "window_date"])
    b2 = spark.createDataFrame([("2", "2024-02-01")], ["id", "window_date"])
    write_idempotent(spark, b1, target, partition_col="window_date")
    write_idempotent(spark, b2, target, partition_col="window_date")
    probe = existing_keys_probe(
        spark, target, "id", "window_date", ["2024-02-01"]
    )
    # input_file_name() reflects the files ACTUALLY read: only those
    # committed for the probed window, chosen by its zone map.
    files = {
        r[0].rsplit("/", 1)[-1]
        for r in probe.select(F.input_file_name()).distinct().collect()
    }
    first = set(txn._read_manifest(target, 0)["files"])
    second = set(txn._read_manifest(target, 1)["files"]) - first
    assert files and files == second
    assert [r.id for r in probe.collect()] == ["2"]


def _window(spark, ids, day="2024-03-01"):
    return spark.createDataFrame(
        [(str(i), day) for i in ids], "id string, window_date string"
    )


@pytest.mark.parametrize("existing", [False, True], ids=["new", "existing"])
def test_two_writers_on_one_window_land_each_id_once(
    spark, tmp_path, monkeypatch, existing
):
    """A second writer of the same batch runs inside the first writer's
    publish: the first loses the compare-and-swap, re-probes the
    winner's snapshot and inserts nothing."""
    target = str(tmp_path / "raw_race")
    if existing:
        write_idempotent(
            spark, _window(spark, [0], "2024-02-01"), target,
            partition_col="window_date",
        )
    batch = _window(spark, range(1, 6))
    publish = txn._publish
    rival: list[int] = []

    def publish_after_rival(*args):
        monkeypatch.setattr(txn, "_publish", publish)
        rival.append(
            write_idempotent(spark, batch, target, partition_col="window_date")
        )
        return publish(*args)

    monkeypatch.setattr(txn, "_publish", publish_after_rival)
    first = write_idempotent(spark, batch, target, partition_col="window_date")
    assert rival == [5] and first == 0
    landed = txn.read_table(spark, target).filter("window_date = '2024-03-01'")
    assert landed.count() == landed.select("id").distinct().count() == 5


def test_crash_between_staging_and_publish_lands_nothing(
    spark, tmp_path, monkeypatch
):
    target = str(tmp_path / "raw_crash")
    write_idempotent(
        spark, _window(spark, [0], "2024-02-01"), target,
        partition_col="window_date",
    )
    batch = _window(spark, range(1, 4))

    def crash(*args):
        raise OSError("writer died before its publish")

    monkeypatch.setattr(txn, "_publish", crash)
    with pytest.raises(OSError, match="before its publish"):
        write_idempotent(spark, batch, target, partition_col="window_date")
    monkeypatch.undo()
    assert txn.current_version(target) == 0
    assert [r.id for r in txn.read_table(spark, target).collect()] == ["0"]
    assert os.listdir(os.path.join(target, "_staging")) == []
    # the replay lands every row of the window
    assert write_idempotent(spark, batch, target, partition_col="window_date") == 3
    assert txn.read_table(spark, target).count() == 4


def test_write_idempotent_refuses_untracked_parquet_target(spark, tmp_path):
    """A target landed as plain hive-partitioned parquet (no txn log)
    is refused: the probe cannot see its rows, so landing beside them
    would duplicate every Id."""
    target = str(tmp_path / "raw_legacy")
    batch = _window(spark, [1, 2])
    batch.write.partitionBy("window_date").parquet(target)
    with pytest.raises(ValueError, match=re.escape(target)):
        write_idempotent(spark, batch, target, partition_col="window_date")
    assert txn.current_version(target) == -1


def test_jdbc_idempotent_logic_with_injection(spark):
    batch = spark.createDataFrame([("1", "a"), ("2", "b"), ("3", "c")], ["id", "v"])
    existing = spark.createDataFrame([("2",)], ["id"])
    appended = []
    n = write_jdbc_idempotent(
        spark,
        batch,
        url="jdbc:postgresql://example/db",
        table="raw.qb_customers",
        _read_existing=lambda: existing,
        _append=lambda df: appended.extend(r["id"] for r in df.collect()),
    )
    assert n == 2
    assert sorted(appended) == ["1", "3"]


def test_jdbc_idempotent_against_real_derby(spark):
    """op #22 executed end-to-end against a REAL JDBC database — the
    embedded Derby that ships in Spark's jars (reference DDL uses
    VARCHAR(50) keys, mirrored via createTableColumnTypes)."""
    url = "jdbc:derby:memory:qbtest_real;create=true"
    props = {"driver": "org.apache.derby.iapi.jdbc.AutoloadedDriver"}
    # Uppercase identifiers: Spark's JDBC writer quotes column names at
    # CREATE, and Derby folds unquoted query identifiers to uppercase —
    # uppercase on both sides keeps the probe's unquoted SQL resolvable.
    seed = spark.createDataFrame([("1", "a"), ("2", "b")], ["ID", "V"])
    (
        seed.write.format("jdbc")
        .option("url", url)
        .option("dbtable", "RAW_T")
        .option("createTableColumnTypes", "ID VARCHAR(50), V VARCHAR(50)")
        .options(**props)
        .mode("overwrite")
        .save()
    )
    batch = spark.createDataFrame(
        [("2", "b"), ("3", "c"), ("4", "d")], ["ID", "V"]
    )
    n = write_jdbc_idempotent(
        spark, batch, url=url, table="RAW_T", key="ID", properties=props
    )
    assert n == 2  # "2" already present
    loaded = (
        spark.read.format("jdbc")
        .option("url", url)
        .option("dbtable", "RAW_T")
        .options(**props)
        .load()
    )
    assert {r["ID"] for r in loaded.collect()} == {"1", "2", "3", "4"}
    assert loaded.count() == loaded.select("ID").distinct().count() == 4
    # rerun inserts 0 — the reference's idempotence invariant, on JDBC
    assert (
        write_jdbc_idempotent(
            spark, batch, url=url, table="RAW_T", key="ID", properties=props
        )
        == 0
    )


def test_jdbc_rejects_malicious_identifiers(spark):
    batch = spark.createDataFrame([("1", "a")], ["id", "v"])
    with pytest.raises(ValueError, match="identifier"):
        write_jdbc_idempotent(
            spark, batch, url="jdbc:x", table="raw.t; DROP TABLE users--"
        )
    with pytest.raises(ValueError, match="identifier"):
        write_jdbc_idempotent(
            spark, batch, url="jdbc:x", table="raw.t", key="id) FROM secrets--"
        )


# --- CSV-over-HTTP template pipeline (ops #24-#26) -------------------------
CSV_BODY = b"""Age,Fare,Parch,Survived
22,7.25,0,0
,71.28,0,1
26,,0,1
35,53.1,0,1
"""


@pytest.fixture()
def csv_server():
    class Handler(BaseHTTPRequestHandler):
        def log_message(self, *a):
            pass

        def do_GET(self):
            self.send_response(200)
            self.send_header("Content-Type", "text/csv")
            self.send_header("Content-Length", str(len(CSV_BODY)))
            self.end_headers()
            self.wfile.write(CSV_BODY)

    httpd = ThreadingHTTPServer(("127.0.0.1", 0), Handler)
    t = threading.Thread(target=httpd.serve_forever, daemon=True)
    t.start()
    yield f"http://127.0.0.1:{httpd.server_address[1]}/titanic.csv"
    httpd.shutdown()
    httpd.server_close()


def test_load_csv_http_schema_inference(spark, tmp_path, csv_server):
    df = load_csv_http(spark, csv_server, cache_dir=str(tmp_path))
    assert df.columns == ["Age", "Fare", "Parch", "Survived"]
    assert df.count() == 4
    assert dict(df.dtypes)["Fare"] == "double"


def test_template_pipeline_imputes_upper_medians(spark, tmp_path, csv_server):
    out = run_template_pipeline(
        spark, csv_server, ["Age", "Fare", "Survived"], cache_dir=str(tmp_path)
    ).collect()
    ages = sorted(r["Age"] for r in out)
    fares = sorted(r["Fare"] for r in out)
    # Age non-null sorted [22,26,35] → [3//2]=26; Fare [7.25,53.1,71.28] → 53.1
    assert ages == [22, 26, 26, 35]
    assert fares == [7.25, 53.1, 53.1, 71.28]


def test_lakehouse_e2e_rest_to_txn_with_gdpr_and_cdf(spark, tmp_path):
    """Full lakehouse loop composing the round-5 surface: REST
    paginated extract → envelope → bloom-indexed txn table (replayed
    extract inserts zero) → merge-on-read GDPR delete (no file
    rewrite) → change data feed describing exactly the net deletes."""
    from qb_data_pipeline_backfill_spark.operators import txn
    from qb_data_pipeline_backfill_spark.operators.ingest import to_envelope
    from qb_data_pipeline_backfill_spark.sources import stub_qbo as SQ
    from qb_data_pipeline_backfill_spark.sources.rest import read_qbo

    srv = SQ.StubQboServer("/root/testdata/sf0.001/customer.parquet")
    try:
        opts = dict(
            base_url=srv.base_url,
            client_id=SQ.STUB_CLIENT_ID,
            client_secret=SQ.STUB_CLIENT_SECRET,
            refresh_token=SQ.STUB_REFRESH_TOKEN,
            page_pause_s="0.0",
            page_size="50",
        )
        extracted = read_qbo(spark, **opts)
        env = to_envelope(
            extracted,
            id_col="id",
            entity_type="customers",
            window_start="2024-01-01",
            window_end="2024-12-31",
            ingested_at=F.to_timestamp(F.lit("2025-01-01 00:00:00")),
        )
        path = str(tmp_path / "lake")
        txn.commit_append_with_bloom(
            spark, env, path, key="id", bloom_col="id"
        )
        n = txn.read_table(spark, path).count()
        assert n == 150
        # extractor replay (crash-retry): keyed append inserts zero
        txn.commit_append_with_bloom(
            spark, to_envelope(
                read_qbo(spark, **opts),
                id_col="id",
                entity_type="customers",
                window_start="2024-01-01",
                window_end="2024-12-31",
                ingested_at=F.to_timestamp(F.lit("2025-01-01 00:00:00")),
            ), path, key="id", bloom_col="id",
        )
        assert txn.read_table(spark, path).count() == 150
        # GDPR: forget two subjects without rewriting any data file
        files_before = set(txn._read_manifest(path, txn.current_version(path))["files"])
        forget = spark.createDataFrame([("17",), ("42",)], "id string")
        txn.commit_delete_mor(spark, forget, path, key="id")
        man = txn._read_manifest(path, txn.current_version(path))
        assert set(man["files"]) == files_before
        snap = txn.read_table(spark, path)
        assert snap.count() == 148
        # bloom point lookup honors the DV
        assert txn.read_table_point(spark, path, "17").count() == 0
        assert txn.read_table_point(spark, path, "43").count() == 1
        # CDF from the first populated version: exactly the two deletes
        feed = txn.table_changes(spark, path, 0, key="id")
        got = {(r["id"], r["_change_type"]) for r in feed.collect()}
        assert got == {("17", "delete"), ("42", "delete")}
    finally:
        srv.close()
