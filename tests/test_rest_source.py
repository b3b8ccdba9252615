"""Tests for the QBO-style paginated REST source (ops #1-#7): page
partitioning, pagination stop conditions, 429 retry, OAuth, the
server-side ``where`` filter, and environment routing — all against
the local stub server."""

from __future__ import annotations

import email.utils
import time
import urllib.error
from datetime import datetime, timedelta, timezone

import pyarrow as pa
import pytest

from pyspark.sql import functions as F

from qb_data_pipeline_backfill_spark.sources import read_qbo, resolve_base_url
from qb_data_pipeline_backfill_spark.sources import stub_qbo as SQ
from qb_data_pipeline_backfill_spark.sources.rest import (
    PROD_BASE_URL,
    SANDBOX_BASE_URL,
    _Page,
    _page_batches,
    _QboRestReader,
    _retry_after,
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


def test_no_count_partition_yields_one_arrow_batch_per_page(srv):
    """The scan's map function yields each fetched page as its own
    Arrow batch, so the no-COUNT partition, which pages until a short
    page, holds one page at a time."""
    srv.reject_count = True
    reader = _QboRestReader(_opts(srv, page_size="40"))
    pages = reader.partitions()
    assert pages == [_Page(1, None)]
    fetch = _page_batches(reader, pages)
    batches = list(fetch([pa.record_batch([pa.array([0])], names=["id"])]))
    assert [b.num_rows for b in batches] == [40, 40, 40, 30]
    assert [set(b.column("page_number").to_pylist()) for b in batches] == [
        {1}, {2}, {3}, {4}
    ]
    assert srv.n_page_requests == 4


def test_429_sleep_and_retry(spark, srv):
    srv.fail_first_n = 3
    df = read_qbo(spark, **_opts(srv, page_size="100", retry_wait_s="0.01"))
    assert df.count() == 150  # all rows despite initial throttling
    assert srv.n_429_sent == 3


def _http_date(delta: timedelta) -> str:
    return email.utils.format_datetime(
        datetime.now(timezone.utc) + delta, usegmt=True
    )


@pytest.mark.parametrize("form", ["seconds", "http-date"])
def test_429_retry_after_in_either_form(spark, srv, form):
    """``Retry-After`` as delay seconds or as an HTTP date (RFC 9110);
    a date in the past waits 0. Ignoring the header would wait
    ``retry_wait_s`` per throttled page."""
    srv.retry_after = {
        "seconds": "0",
        "http-date": _http_date(-timedelta(minutes=5)),
    }[form]
    srv.fail_first_n = 2
    df = read_qbo(spark, **_opts(srv, page_size="100", retry_wait_s="30"))
    t0 = time.monotonic()
    assert df.count() == 150
    assert time.monotonic() - t0 < 30
    assert srv.n_429_sent == 2


def test_retry_after_values():
    assert _retry_after("2", 9.0) == 2.0
    assert _retry_after("-3", 9.0) == 0.0
    assert _retry_after(_http_date(-timedelta(minutes=1)), 9.0) == 0.0
    assert 50 < _retry_after(_http_date(timedelta(minutes=1)), 9.0) <= 60
    # "-0000" parses to a naive datetime, which is UTC
    assert _retry_after("Wed, 21 Oct 2015 07:28:00 -0000", 9.0) == 0.0
    # missing or unparsable: the default wait
    for value in (None, "", "soon", "nan", "inf"):
        assert _retry_after(value, 9.0) == 9.0


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
    # the token exchange runs on the driver when read_qbo plans the
    # scan, so the 401 raises from read_qbo itself, before any fetch
    with pytest.raises(urllib.error.HTTPError, match="401"):
        read_qbo(spark, **_opts(srv, client_secret="wrong"))
    assert srv.n_token_requests == 1
    assert srv.n_page_requests == 0


def test_where_option_shrinks_count_and_pages(spark, srv):
    """The ``where`` option is the server's only filter: the COUNT plan
    and the page requests cover the matching records alone (15 pages
    of 10 unfiltered)."""
    want = {r["Id"] for r in srv.records if r["Id"] >= "80"}
    df = read_qbo(spark, **_opts(srv, where="Id >= '80'", page_size="10"))
    n_pages = -(-len(want) // 10)
    assert df.rdd.getNumPartitions() == n_pages < 15
    assert {r["id"] for r in df.collect()} == want
    assert srv.n_page_requests == n_pages


@pytest.mark.parametrize("value", ["42", "4'2", "x' OR Id > '"])
def test_spark_filter_on_id_stays_in_spark(spark, srv, value):
    """A Spark filter runs after the fetch, so a quoted value cannot
    reach the remote query: the full 2-page scan happens and Spark
    keeps the matching rows."""
    df = read_qbo(spark, **_opts(srv)).filter(F.col("id") == value)
    assert [r["id"] for r in df.collect()] == ([value] if value == "42" else [])
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
