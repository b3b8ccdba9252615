"""Structured Streaming tests: the streaming plans must agree with
their batch twins on bounded input, and the custom stateful operator
must carry state across micro-batches."""

from __future__ import annotations

from pyspark.sql import functions as F

from qb_data_pipeline_backfill_spark.operators import txn
from qb_data_pipeline_backfill_spark.streaming import (
    events_stream,
    run_available_now,
    session_aggregates,
    stateful_user_counts,
    tumbling_counts,
)
from qb_data_pipeline_backfill_spark.tables import load_table

SF = "/root/testdata/sf0.001"


def _rowset(df):
    return {tuple(r) for r in df.collect()}


def test_streaming_source_is_streaming(spark):
    assert events_stream(spark, SF).isStreaming


def test_tumbling_matches_batch(spark):
    got = run_available_now(tumbling_counts(events_stream(spark, SF)))
    batch = (
        load_table(spark, SF, "events")
        .groupBy(
            F.date_trunc("hour", F.col("ts")).alias("window_start"), "event_type"
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum(F.col("value").cast("decimal(18,6)")), 2)
            .cast("double")
            .alias("sum_value"),
        )
    )
    assert _rowset(got) == _rowset(batch)


def test_enriched_rollup_matches_batch_join(spark):
    from qb_data_pipeline_backfill_spark.streaming import enriched_segment_rollup

    dim = load_table(spark, SF, "customer").select(
        F.col("c_custkey").alias("user_id"),
        F.col("c_mktsegment").alias("segment"),
    )
    got = run_available_now(
        enriched_segment_rollup(events_stream(spark, SF), dim)
    )
    batch = (
        load_table(spark, SF, "events")
        .join(dim, "user_id")
        .groupBy(
            F.date_trunc("hour", F.col("ts")).alias("window_start"), "segment"
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum(F.col("value").cast("decimal(18,6)")), 2)
            .cast("double")
            .alias("sum_value"),
        )
    )
    assert _rowset(got) == _rowset(batch)


def test_enriched_rollup_gates_dim_broadcast(spark):
    """A dimension above ``broadcast_max_rows`` must take the
    non-broadcast path (no forced ResolvedHint in the plan) and still
    produce the same rows — the broadcast hint is chosen, not forced,
    so a fact-scaled user dimension can't OOM executors at 100×."""
    from qb_data_pipeline_backfill_spark.streaming import enriched_segment_rollup

    dim = load_table(spark, SF, "customer").select(
        F.col("c_custkey").alias("user_id"),
        F.col("c_mktsegment").alias("segment"),
    )
    gated = enriched_segment_rollup(
        events_stream(spark, SF), dim, broadcast_max_rows=10
    )
    forced = enriched_segment_rollup(
        events_stream(spark, SF), dim, broadcast_max_rows=10**9
    )
    # The gated plan must not carry the broadcast hint; the permissive
    # one must (proving the gate, not Spark defaults, made the call).
    assert "broadcast" not in gated._jdf.queryExecution().logical().toString().lower()
    assert "broadcast" in forced._jdf.queryExecution().logical().toString().lower()
    assert _rowset(run_available_now(gated)) == _rowset(run_available_now(forced))


def test_session_window_matches_islands(spark):
    got = run_available_now(session_aggregates(events_stream(spark, SF)))
    # batch gaps-and-islands twin (same shape as plans/analytics.py)
    from pyspark.sql.window import Window

    e = load_table(spark, SF, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wc = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    batch = (
        e.withColumn(
            "new_s",
            F.when(
                F.col("ts") > F.lag("ts").over(w) + F.expr("INTERVAL 30 MINUTES"), 1
            )
            .when(F.lag("ts").over(w).isNull(), 1)
            .otherwise(0),
        )
        .withColumn("sid", F.sum("new_s").over(wc))
        .groupBy("user_id", "sid")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(F.col("value").cast("decimal(18,6)")), 2)
            .cast("double")
            .alias("sum_value"),
        )
        .drop("sid")
    )
    assert _rowset(got) == _rowset(batch)


def test_stateful_counts_match_batch_aggregate(spark):
    got = run_available_now(
        stateful_user_counts(events_stream(spark, SF)), output_mode="update"
    )
    batch = (
        load_table(spark, SF, "events")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
    )
    assert _rowset(got) == _rowset(batch)


def test_stream_backfill_is_idempotent(spark, tmp_path):
    """Streaming ingest into the txn-table idempotent sink: two
    micro-batches land disjoint keys; a RE-RUN of the same source (new
    checkpoint — a re-extraction, not a replay) inserts nothing."""
    from qb_data_pipeline_backfill_spark.streaming import stream_backfill

    src = str(tmp_path / "src")
    target = str(tmp_path / "raw_stream")
    rows = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], ["k", "v"]
    )
    rows.filter(F.col("k") <= 2).write.parquet(src + "/f1.parquet")
    rows.filter(F.col("k") == 3).write.parquet(src + "/f2.parquet")
    stream = (
        spark.readStream.schema(rows.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src + "/*")
    )

    def run(ckpt: str):
        q = stream_backfill(
            stream,
            target,
            id_col="k",
            entity_type="things",
            window_start="2024-01-01",
            window_end="2024-12-31",
            checkpoint_dir=str(tmp_path / ckpt),
        )
        q.awaitTermination()

    run("ckpt1")
    loaded = txn.read_table(spark, target)
    assert loaded.count() == loaded.select("id").distinct().count() == 3
    run("ckpt2")  # fresh checkpoint = full re-extraction
    loaded = txn.read_table(spark, target)
    assert loaded.count() == loaded.select("id").distinct().count() == 3



def test_stream_backfill_validates_each_micro_batch(spark, tmp_path):
    """A micro-batch goes through validate_batch like a batch window:
    duplicate and NULL Ids never land."""
    from qb_data_pipeline_backfill_spark.streaming import stream_backfill

    src = str(tmp_path / "src")
    target = str(tmp_path / "raw_stream")
    rows = spark.createDataFrame(
        [(1, "a"), (1, "b"), (None, "c")], "k int, v string"
    )
    rows.write.parquet(src + "/f1.parquet")
    stream = spark.readStream.schema(rows.schema).parquet(src + "/*")
    stream_backfill(
        stream,
        target,
        id_col="k",
        entity_type="things",
        window_start="2024-01-01",
        window_end="2024-12-31",
        checkpoint_dir=str(tmp_path / "ckpt"),
    ).awaitTermination()
    assert [r.id for r in txn.read_table(spark, target).collect()] == ["1"]

def test_stateful_state_carries_across_batches(spark, tmp_path):
    """Two micro-batches (maxFilesPerTrigger=1 over two files): the
    second batch's updates must include the first batch's counts."""
    src = str(tmp_path / "stream_src")
    e = load_table(spark, SF, "events").select("user_id", "value", "event_id")
    # split so (almost) every user appears in BOTH files — state from
    # batch 1 must be read back when batch 2 updates the same user
    e.filter(F.col("event_id") % 2 == 0).write.parquet(src + "/f1.parquet")
    e.filter(F.col("event_id") % 2 == 1).write.parquet(src + "/f2.parquet")
    stream = (
        spark.readStream.schema(e.drop("event_id").schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src + "/*")
    )
    got = run_available_now(stateful_user_counts(stream), output_mode="update")
    # update mode emits one running-total row per user per batch; the
    # count is monotone, so the max-n row per user is the final state.
    final = {}
    for r in got.collect():
        if r["user_id"] not in final or r["n_events"] > final[r["user_id"]][0]:
            final[r["user_id"]] = (r["n_events"], r["sum_value"])
    batch = {
        r["user_id"]: (r["n_events"], r["sum_value"])
        for r in load_table(spark, SF, "events")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .collect()
    }
    assert final == batch


def test_streaming_dedup_restores_exactly_once(spark, sf_dir):
    from qb_data_pipeline_backfill_spark.streaming import (
        dedup_exactly_once,
        events_stream,
        run_available_now,
    )

    s = events_stream(spark, sf_dir)
    doubled = s.unionByName(events_stream(spark, sf_dir))
    deduped = run_available_now(dedup_exactly_once(doubled), output_mode="append")
    n_orig = spark.read.parquet(f"{sf_dir}/events.parquet").count()
    assert deduped.count() == n_orig
    assert deduped.select("event_id").distinct().count() == n_orig


def test_stream_to_jdbc_idempotent_against_real_derby(spark, tmp_path):
    """op #22's streaming twin end-to-end against embedded Derby:
    micro-batches append through the idempotent sink, and a full source
    REPLAY with a fresh checkpoint (the at-least-once worst case —
    checkpoint lost, everything redelivered) inserts zero duplicates
    because the existing-key probe catches every key."""
    from qb_data_pipeline_backfill_spark.streaming import (
        stream_to_jdbc_idempotent,
    )

    url = "jdbc:derby:memory:qbtest_stream;create=true"
    props = {"driver": "org.apache.derby.iapi.jdbc.AutoloadedDriver"}
    seed = spark.createDataFrame([("1", "a"), ("2", "b")], ["ID", "V"])
    (
        seed.write.format("jdbc")
        .option("url", url)
        .option("dbtable", "RAW_S")
        .option("createTableColumnTypes", "ID VARCHAR(50), V VARCHAR(50)")
        .options(**props)
        .mode("overwrite")
        .save()
    )
    src = str(tmp_path / "src")
    spark.createDataFrame(
        [("2", "b"), ("3", "c"), ("4", "d")], ["ID", "V"]
    ).write.parquet(src)
    stream = spark.readStream.schema("ID string, V string").parquet(src)

    q = stream_to_jdbc_idempotent(
        stream, url, "RAW_S", key="ID",
        checkpoint_dir=str(tmp_path / "ckpt1"), properties=props,
    )
    q.awaitTermination()

    def load():
        return (
            spark.read.format("jdbc")
            .option("url", url)
            .option("dbtable", "RAW_S")
            .options(**props)
            .load()
        )

    got = load()
    assert {r["ID"] for r in got.collect()} == {"1", "2", "3", "4"}
    assert got.count() == got.select("ID").distinct().count() == 4

    # full replay, fresh checkpoint: the probe must absorb it all
    q2 = stream_to_jdbc_idempotent(
        stream, url, "RAW_S", key="ID",
        checkpoint_dir=str(tmp_path / "ckpt2"), properties=props,
    )
    q2.awaitTermination()
    assert load().count() == 4


def test_stream_minhash_dedup_rerun_is_exactly_once(spark, tmp_path):
    """A resumed-checkpoint replay is a no-op on both tables (the
    availableNow run already consumed the file; watermarks fence any
    foreachBatch retry). A FRESH checkpoint is deliberately a NEW
    writer whose appends apply — point it at fresh tables (operator
    docstring caveat), so that path is not exercised here."""
    import os

    from pyspark.sql import functions as F

    from qb_data_pipeline_backfill_spark.operators import dedup as D
    from qb_data_pipeline_backfill_spark.operators import txn
    from qb_data_pipeline_backfill_spark.streaming.jobs import (
        stream_minhash_dedup,
    )

    base = "alpha beta gamma delta epsilon zeta eta theta"
    docs = [(1, base), (2, base + " iota"), (3, "totally different words here")]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    src = str(tmp_path / "src")
    df.coalesce(1).write.parquet(src + "/b0.parquet")
    index_p, pairs_p = str(tmp_path / "idx"), str(tmp_path / "prs")
    ck = str(tmp_path / "ck")

    def run(ckdir):
        stream = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", "1")
            .parquet(src + "/*")
        )
        q = stream_minhash_dedup(
            stream, index_path=index_p, pairs_path=pairs_p,
            checkpoint_dir=ckdir,
        )
        q.awaitTermination()

    run(ck)
    pairs1 = {(r.doc_a, r.doc_b) for r in txn.read_table(spark, pairs_p).collect()}
    assert pairs1 == {(1, 2)}
    idx_v1 = txn.current_version(index_p)
    n_idx1 = txn.read_table(spark, index_p).count()

    # resumed checkpoint: availableNow already consumed the file — no-op
    run(ck)
    assert txn.current_version(index_p) == idx_v1
    assert txn.read_table(spark, index_p).count() == n_idx1
