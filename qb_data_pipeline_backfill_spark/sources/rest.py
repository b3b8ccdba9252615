"""QBO-style paginated REST source, planned on the driver.

Re-expresses the reference's entire ingestion front end (SURVEY.md §2A
ops #1-#7) Spark-natively:

- **Paginated scan** (op #1): the reference loops pages serially
  (reference: scheduler_data/scheduler/data_loaders/
  extract_qb_customers_py.py:31-59). Here ``read_qbo`` issues one
  ``SELECT COUNT(*)`` probe on the driver and plans **one Spark
  partition per group of pages**, so a 1000-executor cluster fetches
  pages concurrently (subject to per-task pacing) instead of serially
  on one driver. The scan is a ``mapInArrow`` over a ``range`` of
  partition indexes: no Python data-source planner runs for it.
- **OAuth2 refresh-token exchange** (op #2): qb_auth.py:4-26 —
  ``OAuth2TokenClient`` below, stdlib urllib only.
- **Environment routing** (op #3): sandbox vs production base URL
  (extract_qb_customers_py.py:21-24) — ``resolve_base_url``.
- **Entity query** (op #4) + **server-side filter**: the remote API
  accepts a SQL-ish query; the ``where`` option becomes its WHERE
  clause, so the COUNT plan and the pages cover only the filtered
  records — fixing the reference's known miss of filtering
  client-side after a full scan (SURVEY.md §4). Spark filters on the
  scan's columns run after the fetch.
- **Stop conditions** (op #5): every partition stops at an empty or
  short page; count-planned partitions also stop after their planned
  pages, and the no-count fallback is one partition that pages until
  the short page (extract_qb_customers_py.py:50-57).
- **Rate limiting + 429 retry** (op #6): 0.5 s pacing between page
  fetches and sleep-then-retry on HTTP 429 honoring ``Retry-After``
  in either of its forms, seconds or an HTTP date
  (extract_qb_items_py.py:44-69, README.md:95-97).
- **Error handling** (op #7): transient failures (HTTP 502, 503 and
  504, dropped connections) retry in the same loop with bounded
  backoff, honoring ``Retry-After``; past ``max_retries`` the task
  FAILS, and so does the job, loudly. Spark re-runs a failed task
  only up to ``spark.task.maxFailures``, which is 1 under
  ``local[N]``, so the retry must happen here. The reference instead
  swallowed the exception and returned partial data — a silent-loss
  bug deliberately not replicated.
"""

from __future__ import annotations

import email.utils
import http.client
import itertools
import json
import math
import time
import urllib.error
import urllib.parse
import urllib.request
from dataclasses import dataclass
from datetime import datetime, timezone

from pyspark.sql.types import (
    IntegerType,
    StringType,
    StructField,
    StructType,
)

PROD_BASE_URL = "https://quickbooks.api.intuit.com"
SANDBOX_BASE_URL = "https://sandbox-quickbooks.api.intuit.com"
OAUTH_TOKEN_PATH = "/oauth2/v1/tokens/bearer"
# HTTP statuses _query retries: throttled, and the transient gateway errors
_RETRIED = (429, 502, 503, 504)

SCHEMA = StructType(
    [
        StructField("id", StringType(), True),
        StructField("payload", StringType(), False),
        StructField("page_number", IntegerType(), False),
        StructField("page_size", IntegerType(), False),
    ]
)


def resolve_base_url(environment: str, override: str | None = None) -> str:
    """Environment-routed endpoint (op #3). ``override`` wins (tests /
    self-hosted gateways)."""
    if override:
        return override.rstrip("/")
    return (
        SANDBOX_BASE_URL if environment.lower() == "sandbox" else PROD_BASE_URL
    )


class OAuth2TokenClient:
    """OAuth2 refresh-token → bearer access token (op #2).

    Same wire contract as the reference's qb_auth.py:4-26: Basic-auth'd
    POST of ``grant_type=refresh_token``. Stdlib-only so executors need
    no extra packages.
    """

    def __init__(self, token_url: str, client_id: str, client_secret: str):
        self.token_url = token_url
        self.client_id = client_id
        self.client_secret = client_secret

    def access_token(self, refresh_token: str, timeout_s: float = 30.0) -> str:
        import base64

        body = urllib.parse.urlencode(
            {"grant_type": "refresh_token", "refresh_token": refresh_token}
        ).encode()
        basic = base64.b64encode(
            f"{self.client_id}:{self.client_secret}".encode()
        ).decode()
        req = urllib.request.Request(
            self.token_url,
            data=body,
            headers={
                "Authorization": f"Basic {basic}",
                "Content-Type": "application/x-www-form-urlencoded",
                "Accept": "application/json",
            },
            method="POST",
        )
        with urllib.request.urlopen(req, timeout=timeout_s) as resp:
            payload = json.loads(resp.read().decode())
        token = payload.get("access_token")
        if not token:
            raise ValueError("OAuth2 response contained no access_token")
        return token


def _retry_after(value: str | None, default: float) -> float:
    """Seconds to wait before a retry, from a ``Retry-After`` header in
    either RFC 9110 form: delay-seconds, or an HTTP date (a date in the
    past waits 0). A missing or unparsable value waits ``default``."""
    if not value:
        return default
    try:
        seconds = float(value)
    except ValueError:
        try:
            when = email.utils.parsedate_to_datetime(value)
        except (TypeError, ValueError):
            return default
        if when.tzinfo is None:  # "-0000": UTC, per RFC 5322
            when = when.replace(tzinfo=timezone.utc)
        seconds = (when - datetime.now(timezone.utc)).total_seconds()
    return max(seconds, 0.0) if math.isfinite(seconds) else default


@dataclass
class _Page:
    first: int  # 1-based first page
    n_pages: int | None = 1  # pages fetched serially; None: until a short page


class _QboRestReader:
    """The source's planner and page reader. Built on the driver by
    ``read_qbo``, which plans with ``partitions``; Spark tasks then run
    ``read`` on a pickled copy."""

    def __init__(self, options: dict):
        self.entity = options.get("entity", "Customer")
        self.environment = options.get("environment", "production")
        self.base_url = resolve_base_url(
            self.environment, options.get("base_url")
        )
        self.realm_id = options.get("realm_id", "stub-realm")
        self.page_size = int(options.get("page_size", "100"))
        self.page_pause_s = float(options.get("page_pause_s", "0.5"))
        self.retry_wait_s = float(options.get("retry_wait_s", "60"))
        self.max_retries = int(options.get("max_retries", "5"))
        # Pages grouped per input partition: amortizes per-task (and
        # Python-worker) overhead while keeping pages the pacing unit.
        self.pages_per_partition = int(options.get("pages_per_partition", "1"))
        self.where: str | None = options.get("where")
        client_id = options.get("client_id", "")
        client_secret = options.get("client_secret", "")
        refresh_token = options.get("refresh_token", "")
        # Token exchanged once on the driver, when read_qbo builds the
        # reader; tasks reuse the bearer (pickled with the reader). Long
        # jobs would refresh inside _query on 401 — out of scope here.
        self._token = OAuth2TokenClient(
            self.base_url + OAUTH_TOKEN_PATH, client_id, client_secret
        ).access_token(refresh_token)

    # --- HTTP (ops #4, #6, #7) --------------------------------------------
    def _query(self, select: str, **paging) -> dict:
        """Send one entity query (``SELECT {select} FROM entity`` plus
        the ``where`` option) — the only request this reader makes. HTTP
        429 sleeps for ``Retry-After`` (else ``retry_wait_s``) and
        retries (op #6); HTTP 502, 503 and 504 sleep for ``Retry-After``
        (else the bounded backoff) and retry, as a dropped connection
        does (op #7)."""
        query = f"SELECT {select} FROM {self.entity}"
        if self.where:
            query += f" WHERE {self.where}"
        params = {"query": query, **paging, "minorversion": "65"}
        qs = urllib.parse.urlencode({k: str(v) for k, v in params.items()})
        req = urllib.request.Request(
            f"{self.base_url}/v3/company/{self.realm_id}/query?{qs}",
            headers={
                "Authorization": f"Bearer {self._token}",
                "Accept": "application/json",
            },
        )
        attempts = 0
        while True:
            attempts += 1
            backoff = min(2.0 ** attempts * 0.1, self.retry_wait_s)
            try:
                with urllib.request.urlopen(req, timeout=30) as resp:
                    return json.loads(resp.read().decode())
            except urllib.error.HTTPError as e:
                if e.code not in _RETRIED or attempts > self.max_retries:
                    raise
                default = self.retry_wait_s if e.code == 429 else backoff
                time.sleep(_retry_after(e.headers.get("Retry-After"), default))
            except (OSError, http.client.HTTPException):
                # a dropped connection: URLError while sending, or
                # RemoteDisconnected / IncompleteRead / a reset while
                # reading the reply, which urllib does not wrap
                if attempts > self.max_retries:
                    raise
                time.sleep(backoff)

    # --- planning (ops #1, #5) -------------------------------------------
    def partitions(self):
        try:
            total = self._query("COUNT(*)")["QueryResponse"]["totalCount"]
        except (urllib.error.HTTPError, KeyError):
            # remote dialect lacks COUNT: one partition pages until short
            return [_Page(1, None)]
        n_pages = max((total + self.page_size - 1) // self.page_size, 1)
        step = max(self.pages_per_partition, 1)
        return [
            _Page(p, min(step, n_pages - p + 1)) for p in range(1, n_pages + 1, step)
        ]

    # --- execution --------------------------------------------------------
    def read(self, partition: _Page):
        """Fetch the partition's pages in order. The pause before every
        page, the first included, paces concurrent tasks. The loop ends
        after ``n_pages`` pages or at an empty or short page (op #5)."""
        pages = itertools.count(partition.first)
        for page in itertools.islice(pages, partition.n_pages):
            time.sleep(self.page_pause_s)
            records = self._query(
                "*",
                startPosition=(page - 1) * self.page_size + 1,
                maxResults=self.page_size,
            ).get("QueryResponse", {}).get(self.entity, [])
            for rec in records:
                yield (
                    str(rec.get("Id")) if rec.get("Id") is not None else None,
                    json.dumps(rec, separators=(",", ":"), sort_keys=True),
                    page,
                    self.page_size,
                )
            if len(records) < self.page_size:
                return


def read_qbo(spark, **options):
    """The lazy scan of a QBO-style entity, as a DataFrame of ``SCHEMA``.

    Options: entity, environment (sandbox|production), base_url
    (override), realm_id, client_id, client_secret, refresh_token,
    page_size, pages_per_partition, page_pause_s, retry_wait_s,
    max_retries, where (the remote query's WHERE clause, the only
    filter the server applies).

    The scan is planned here, on the driver: the token exchange and the
    COUNT probe run once per call, so bad credentials raise from this
    call. Each action on the result fetches the pages of that one plan;
    a caller that re-runs an action (a sink retrying a lost
    compare-and-swap) re-fetches the same pages, and a fresh COUNT
    needs a fresh call. The result is a ``mapInArrow`` over one
    ``range`` row per planned partition, which yields one Arrow batch
    per page, so a partition holds one page in memory at a time, even
    the no-COUNT partition that pages until a short page. No Python
    data-source planner runs, and the source needs no session conf.
    """
    reader = _QboRestReader({k: str(v) for k, v in options.items()})
    pages = reader.partitions()
    return spark.range(len(pages), numPartitions=len(pages)).mapInArrow(
        _page_batches(reader, pages), SCHEMA
    )


def _page_batches(reader: _QboRestReader, pages: list[_Page]):
    """The scan's ``mapInArrow`` function: for each partition index it
    receives, run ``reader.read`` over that planned ``_Page`` and yield
    one Arrow ``RecordBatch`` per fetched page."""

    def fetch(batches):
        import pyarrow as pa

        types = [pa.string(), pa.string(), pa.int32(), pa.int32()]
        for batch in batches:
            for i in batch.column(0).to_pylist():
                for _, rows in itertools.groupby(
                    reader.read(pages[i]), key=lambda row: row[2]
                ):
                    cols = zip(*rows)
                    yield pa.RecordBatch.from_arrays(
                        [pa.array(c, t) for c, t in zip(cols, types)],
                        names=SCHEMA.names,
                    )

    return fetch
