"""Envelope-ingestion operators as oracle-backed queries.

These exercise the operators/ingest.py transforms end-to-end over the
synthetic tables: envelope projection with JSON payload serialization
(ops #12-#14, #18-#19), window filtering (op #11), and deterministic
validate+dedup (ops #15-#17). ``ingested_at`` is pinned to a literal
so the oracle hash is stable across runs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from qb_data_pipeline_backfill_spark.operators.ingest import (
    to_envelope,
    validate_batch,
    window_filter,
)
from qb_data_pipeline_backfill_spark.plans.registry import register
from qb_data_pipeline_backfill_spark.tables import load_table

_AS_OF = "2025-01-01 00:00:00"


# --- ops #11-#14, #18-#19: window-filter → envelope projection -------------
@register(
    "envelope_projection",
    oracle=f"""
    SELECT CAST(o_orderkey AS VARCHAR) AS id,
           CAST(to_json(struct_pack(
               o_orderkey := o_orderkey,
               o_custkey := o_custkey,
               o_orderstatus := o_orderstatus,
               o_orderpriority := o_orderpriority)) AS VARCHAR) AS payload,
           TIMESTAMP '{_AS_OF}' AS ingested_at_utc,
           TIMESTAMP '1996-01-01' AS extract_window_start_utc,
           TIMESTAMP '1996-12-31' AS extract_window_end_utc,
           CAST(o_orderkey // 100 + 1 AS INTEGER) AS page_number,
           CAST(100 AS INTEGER) AS page_size,
           CAST(to_json(struct_pack(
               entity_type := 'orders',
               fecha_inicio := '1996-01-01',
               fecha_fin := '1996-12-31',
               environment := 'production')) AS VARCHAR) AS request_payload
    FROM orders
    WHERE SUBSTRING(CAST(o_orderdate AS VARCHAR), 1, 10)
          BETWEEN '1996-01-01' AND '1996-12-31'
    """,
    doc="Backfill window filter + raw-envelope projection with JSON payload "
    "(ops #11-#14, #18-#19).",
)
def envelope_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    # Lexicographic ISO-string window compare, exactly like the
    # reference (extract_qb_customers_py.py:61-67).
    filtered = window_filter(
        o,
        F.substring(F.col("o_orderdate").cast("string"), 1, 10),
        "1996-01-01",
        "1996-12-31",
    )
    return to_envelope(
        filtered,
        id_col="o_orderkey",
        payload_cols=["o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"],
        entity_type="orders",
        window_start="1996-01-01",
        window_end="1996-12-31",
        ingested_at=F.to_timestamp(F.lit(_AS_OF)),
        page_number_col=(F.col("o_orderkey") / 100 + 1).cast("int"),
    )


# --- ops #15-#17 over an envelope: validate + deterministic dedup -----------
@register(
    "ingest_validate_dedup",
    oracle="""
    SELECT id, payload
    FROM (
        SELECT CAST(l_orderkey AS VARCHAR) || '-' || CAST(l_linenumber AS VARCHAR) AS id,
               CAST(to_json(struct_pack(
                   l_partkey := l_partkey,
                   l_suppkey := l_suppkey,
                   l_quantity := l_quantity)) AS VARCHAR) AS payload,
               ROW_NUMBER() OVER (
                   PARTITION BY CAST(l_orderkey AS VARCHAR) || '-' || CAST(l_linenumber AS VARCHAR)
                   ORDER BY l_partkey, l_suppkey, l_extendedprice
               ) AS rn
        FROM lineitem
        WHERE l_orderkey IS NOT NULL
    )
    WHERE rn = 1
    """,
    doc="Envelope validate: null-key drop + deterministic one-row-per-key dedup "
    "(ops #15-#17) on a table with real duplicate keys.",
)
def ingest_validate_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    env = li.select(
        F.concat_ws(
            "-", F.col("l_orderkey").cast("string"), F.col("l_linenumber").cast("string")
        ).alias("id"),
        F.to_json(F.struct("l_partkey", "l_suppkey", "l_quantity")).alias("payload"),
        "l_partkey",
        "l_suppkey",
        "l_extendedprice",
    ).filter(F.col("l_orderkey").isNotNull())
    deduped = validate_batch(
        env, key="id", order_cols=["l_partkey", "l_suppkey", "l_extendedprice"]
    )
    return deduped.select("id", "payload")


# --- op #26: median imputation value (reference's upper-median) -------------
# Reference: transformers/fill_in_missing_values.py:13-18 — median =
# sorted(non-null values)[n // 2], i.e. the UPPER median, then fillna.
@register(
    "upper_median_by_segment",
    oracle="""
    SELECT c_mktsegment, acctbal_upper_median
    FROM (
        SELECT c_mktsegment,
               c_acctbal AS acctbal_upper_median,
               ROW_NUMBER() OVER (
                   PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey
               ) AS rn,
               COUNT(*) OVER (PARTITION BY c_mktsegment) AS n
        FROM customer
        WHERE c_acctbal IS NOT NULL
    )
    WHERE rn = n // 2 + 1
    """,
    doc="Reference median semantics — sorted[n//2] upper median per group (op #26).",
)
def upper_median_by_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    c = load_table(spark, sf_dir, "customer").filter(F.col("c_acctbal").isNotNull())
    w = Window.partitionBy("c_mktsegment").orderBy("c_acctbal", "c_custkey")
    wn = Window.partitionBy("c_mktsegment")
    return (
        c.withColumn("rn", F.row_number().over(w))
        .withColumn("n", F.count(F.lit(1)).over(wn))
        .filter(F.col("rn") == F.floor(F.col("n") / 2) + 1)
        .select("c_mktsegment", F.col("c_acctbal").alias("acctbal_upper_median"))
    )
