"""Tests for the QBO-style paginated REST DataSource (ops #1-#7):
page partitioning, pagination stop conditions, 429 retry, OAuth, filter
pushdown, and environment routing — all against the local stub server."""

from __future__ import annotations

import urllib.error

import pytest

from pyspark.sql import functions as F

from qb_data_pipeline_backfill_spark.sources import read_qbo, resolve_base_url
from qb_data_pipeline_backfill_spark.sources import stub_qbo as SQ
from qb_data_pipeline_backfill_spark.sources.rest import (
    PROD_BASE_URL,
    SANDBOX_BASE_URL,
)

PARQUET = "/root/testdata/sf0.001/customer.parquet"  # 150 rows


def _opts(srv, **extra):
    opts = dict(
        base_url=srv.base_url,
        client_id=SQ.STUB_CLIENT_ID,
        client_secret=SQ.STUB_CLIENT_SECRET,
        refresh_token=SQ.STUB_REFRESH_TOKEN,
        page_pause_s="0.0",
    )
    opts.update(extra)
    return opts


@pytest.fixture()
def srv():
    s = SQ.StubQboServer(PARQUET)
    yield s
    s.close()


@pytest.mark.parametrize("per_partition", [1, 3])
def test_partition_per_page_and_complete_scan(spark, srv, per_partition):
    df = read_qbo(
        spark,
        **_opts(srv, page_size="40", pages_per_partition=str(per_partition)),
    )
    # 150 rows / 40 per page → 4 pages, per_partition pages a partition
    assert df.rdd.getNumPartitions() == {1: 4, 3: 2}[per_partition]
    rows = df.collect()
    assert srv.n_page_requests == 4  # every page fetched exactly once
    assert len(rows) == 150
    assert {r["id"] for r in rows} == {str(i) for i in range(150)}
    # page numbering follows the server's c_custkey order
    by_id = {int(r["id"]): r for r in rows}
    assert by_id[0]["page_number"] == 1
    assert by_id[39]["page_number"] == 1
    assert by_id[40]["page_number"] == 2
    assert by_id[149]["page_number"] == 4
    assert all(r["page_size"] == 40 for r in rows)


def test_sequential_fallback_stops_on_short_page(spark, srv):
    srv.reject_count = True  # remote dialect without COUNT
    df = read_qbo(spark, **_opts(srv, page_size="40"))
    assert df.rdd.getNumPartitions() == 1  # serial pagination, one reader
    assert df.count() == 150
    # 4 pages fetched: 40+40+40+30 (short page ends the loop)
    assert srv.n_page_requests == 4


def test_429_sleep_and_retry(spark, srv):
    srv.fail_first_n = 3
    df = read_qbo(spark, **_opts(srv, page_size="100", retry_wait_s="0.01"))
    assert df.count() == 150  # all rows despite initial throttling
    assert srv.n_429_sent == 3


@pytest.mark.parametrize("status", [502, 503, 504, None], ids=str)
def test_transient_failures_retry(spark, srv, status):
    """Gateway errors and connections dropped before the reply (status
    None) retry inside the task."""
    srv.fail_first_n, srv.fail_status = 2, status
    df = read_qbo(spark, **_opts(srv, page_size="100"))
    assert df.count() == 150  # all rows despite the transient failures
    assert srv.n_429_sent == 2
    assert srv.n_page_requests == 2 + 2


def test_gateway_errors_past_max_retries_fail_loudly(spark, srv):
    srv.fail_first_n, srv.fail_status = 10, 503
    df = read_qbo(spark, **_opts(srv, page_size="100", max_retries="1"))
    with pytest.raises(Exception, match="503"):
        df.count()


def test_oauth_rejects_bad_credentials(spark, srv):
    # surfaces as urllib HTTPError or a PySpark wrapper depending on
    # where plan-time reader init happens — either way it must fail
    # with the 401 and fetch no data.
    with pytest.raises(Exception, match="401"):
        read_qbo(spark, **_opts(srv, client_secret="wrong")).count()
    assert srv.n_token_requests >= 1
    assert srv.n_page_requests == 0  # failed before any data fetch


def test_filter_pushdown_reaches_server(spark, srv):
    df = read_qbo(spark, **_opts(srv)).filter(F.col("id") == "42")
    rows = df.collect()
    assert [r["id"] for r in rows] == ["42"]
    # the pushed WHERE shrank the count probe to 1 row → 1 page → 1 request
    assert srv.n_page_requests == 1


@pytest.mark.parametrize("value", ["4'2", "x' OR Id > '"])
def test_quoted_filter_value_stays_residual(spark, srv, value):
    # a quote would break out of the remote query's string literal, so
    # the filter must stay in Spark instead of reaching the server
    df = read_qbo(spark, **_opts(srv)).filter(F.col("id") == value)
    assert df.collect() == []
    # no WHERE pushed → the full 2-page scan happened (a pushed WHERE
    # matching nothing plans a single page)
    assert srv.n_page_requests == 2


def test_unsupported_filter_is_residual_but_correct(spark, srv):
    df = read_qbo(spark, **_opts(srv)).filter(
        F.get_json_object("payload", "$.Segment") == "BUILDING"
    )
    rows = df.collect()
    assert len(rows) > 0
    assert all("BUILDING" in r["payload"] for r in rows)
    # not pushable → full 2-page scan happened
    assert srv.n_page_requests == 2


def test_where_option_renumbers_pages(spark, srv):
    df = read_qbo(spark, **_opts(srv, where="Id >= '99'", page_size="10"))
    rows = df.collect()
    # lexicographic: '99' and nothing else among 0..149 except '99'
    assert {r["id"] for r in rows} == {"99"}
    assert rows[0]["page_number"] == 1


def test_environment_routing():
    assert resolve_base_url("sandbox") == SANDBOX_BASE_URL
    assert resolve_base_url("SANDBOX") == SANDBOX_BASE_URL
    assert resolve_base_url("production") == PROD_BASE_URL
    assert resolve_base_url("anything-else") == PROD_BASE_URL
    assert resolve_base_url("sandbox", "http://127.0.0.1:1/") == "http://127.0.0.1:1"
