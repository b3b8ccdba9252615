"""REST-source queries: the paginated QBO-style scan, oracle-checked.

The stub server (sources/stub_qbo.py) serves the sf_dir's own
``customer`` parquet through the QBO HTTP contract, so the REST scan
(``read_qbo``: OAuth and the COUNT plan on the driver, then one Spark
partition per group of pages, pagination, JSON payload) can be
hash-compared against DuckDB reading the same parquet directly. This
gives the REST front end (ops #1-#7) a full correctness gate, not just
a rows-only check.

``page_pause_s`` is 0 here (pacing against a local stub only burns
wall-clock); the pacing/429 code paths are exercised by
tests/test_rest_source.py with injected throttling.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from qb_data_pipeline_backfill_spark.plans.registry import register
from qb_data_pipeline_backfill_spark.sources import read_qbo
from qb_data_pipeline_backfill_spark.sources import stub_qbo as SQ


def _scan(spark: SparkSession, sf_dir: str, **extra) -> DataFrame:
    srv = SQ.shared_stub_server(f"{sf_dir}/customer.parquet")
    df = read_qbo(
        spark,
        base_url=srv.base_url,
        client_id=SQ.STUB_CLIENT_ID,
        client_secret=SQ.STUB_CLIENT_SECRET,
        refresh_token=SQ.STUB_REFRESH_TOKEN,
        entity="Customer",
        page_size="100",
        page_pause_s="0.0",
        pages_per_partition="8",
        **extra,
    )
    return df.select(
        "id",
        F.get_json_object("payload", "$.DisplayName").alias("display_name"),
        F.get_json_object("payload", "$.NationRef").cast("int").alias("nation_key"),
        F.get_json_object("payload", "$.Segment").alias("segment"),
        F.get_json_object("payload", "$.Balance").alias("balance"),
        "page_number",
        "page_size",
    )


@register(
    "rest_source_scan",
    oracle="""
    SELECT CAST(c_custkey AS VARCHAR) AS id,
           c_name AS display_name,
           CAST(c_nationkey AS INT) AS nation_key,
           c_mktsegment AS segment,
           printf('%.2f', c_acctbal) AS balance,
           CAST((ROW_NUMBER() OVER (ORDER BY c_custkey) - 1) // 100 + 1 AS INT) AS page_number,
           CAST(100 AS INT) AS page_size
    FROM customer
    """,
    doc="Full paginated REST scan (ops #1-#5): OAuth + COUNT-planned "
    "partition-per-page fetch + JSON payload extraction, hash-matched "
    "against the parquet the stub serves.",
)
def rest_source_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _scan(spark, sf_dir)


@register(
    "rest_source_filtered",
    oracle="""
    WITH filtered AS (
        SELECT * FROM customer WHERE CAST(c_custkey AS VARCHAR) >= '80'
    )
    SELECT CAST(c_custkey AS VARCHAR) AS id,
           c_name AS display_name,
           CAST(c_nationkey AS INT) AS nation_key,
           c_mktsegment AS segment,
           printf('%.2f', c_acctbal) AS balance,
           CAST((ROW_NUMBER() OVER (ORDER BY c_custkey) - 1) // 100 + 1 AS INT) AS page_number,
           CAST(100 AS INT) AS page_size
    FROM filtered
    """,
    doc="REST scan with a server-side WHERE (op #4 pushdown shape): the "
    "filter reaches the remote query, so count-planning and page numbers "
    "apply to the filtered row set (lexicographic string compare, like "
    "the reference's ISO-date windows).",
)
def rest_source_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _scan(spark, sf_dir, where="Id >= '80'")
