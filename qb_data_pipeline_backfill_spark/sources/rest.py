"""QBO-style paginated REST source as a Spark 4 Python DataSource.

Re-expresses the reference's entire ingestion front end (SURVEY.md §2A
ops #1-#7) Spark-natively:

- **Paginated scan** (op #1): the reference loops pages serially
  (reference: scheduler_data/scheduler/data_loaders/
  extract_qb_customers_py.py:31-59). Here the planner issues one
  ``SELECT COUNT(*)`` probe and emits **one input partition per page**,
  so a 1000-executor cluster fetches pages concurrently (subject to
  per-task pacing) instead of serially on one driver.
- **OAuth2 refresh-token exchange** (op #2): qb_auth.py:4-26 —
  ``OAuth2TokenClient`` below, stdlib urllib only.
- **Environment routing** (op #3): sandbox vs production base URL
  (extract_qb_customers_py.py:21-24) — ``resolve_base_url``.
- **Entity query** (op #4) + **filter pushdown**: the remote API
  accepts a SQL-ish query; supported Catalyst filters on ``id`` are
  translated into its WHERE clause (``pushFilters``) — fixing the
  reference's known miss of filtering client-side after a full scan
  (SURVEY.md §4).
- **Stop conditions** (op #5): every partition stops at an empty or
  short page; count-planned partitions also stop after their planned
  pages, and the no-count fallback is one partition that pages until
  the short page (extract_qb_customers_py.py:50-57).
- **Rate limiting + 429 retry** (op #6): 0.5 s pacing between page
  fetches and sleep-then-retry on HTTP 429 honoring ``Retry-After``
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

import http.client
import itertools
import json
import time
import urllib.error
import urllib.parse
import urllib.request
from dataclasses import dataclass

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    EqualTo,
    Filter,
    GreaterThan,
    GreaterThanOrEqual,
    InputPartition,
    LessThan,
    LessThanOrEqual,
)
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


@dataclass
class _Page(InputPartition):
    first: int  # 1-based first page
    n_pages: int | None = 1  # pages fetched serially; None: until a short page


class _QboRestReader(DataSourceReader):
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
        # Token exchanged once on the driver at plan time; executors
        # reuse the bearer (pickled with the reader). Long jobs would
        # refresh inside _query on 401 — out of scope here.
        self._token = OAuth2TokenClient(
            self.base_url + OAUTH_TOKEN_PATH, client_id, client_secret
        ).access_token(refresh_token)

    # --- pushdown (op #4) -------------------------------------------------
    def pushFilters(self, filters: list[Filter]):  # noqa: N802 (API name)
        """Translate one supported Catalyst filter on ``id`` into the
        remote query's WHERE clause; everything else stays in Spark.
        Spark never re-checks a pushed filter, so only string values that
        cannot leave the quoted literal (no quote or backslash) are pushed."""
        ops = {
            EqualTo: "=",
            GreaterThan: ">",
            GreaterThanOrEqual: ">=",
            LessThan: "<",
            LessThanOrEqual: "<=",
        }
        for f in filters:
            op = ops.get(type(f))
            if (
                op is not None
                and self.where is None
                and tuple(f.attribute) == ("id",)
                and isinstance(f.value, str)
                and not any(c in f.value for c in "'\\")
            ):
                self.where = f"Id {op} '{f.value}'"
                continue
            yield f  # unsupported → Spark evaluates it post-scan

    # --- HTTP (ops #4, #6, #7) --------------------------------------------
    def _query(self, select: str, **paging) -> dict:
        """Send one entity query (``SELECT {select} FROM entity`` plus
        the WHERE) — the only request this reader makes. HTTP 429 sleeps
        for ``Retry-After`` (else ``retry_wait_s``) and retries (op #6);
        HTTP 502, 503 and 504 sleep for ``Retry-After`` (else the bounded
        backoff) and retry, as a dropped connection does (op #7)."""
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
                time.sleep(float(e.headers.get("Retry-After") or default))
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


class QboRestDataSource(DataSource):
    """``spark.read.format("qbo_rest")`` — options:

    entity, environment (sandbox|production), base_url (override),
    realm_id, client_id, client_secret, refresh_token, page_size,
    pages_per_partition, page_pause_s, retry_wait_s, max_retries, where.
    """

    @classmethod
    def name(cls) -> str:
        return "qbo_rest"

    def schema(self) -> StructType:
        return SCHEMA

    def reader(self, schema: StructType) -> DataSourceReader:
        return _QboRestReader(dict(self.options))


def read_qbo(spark, **options):
    """Register the source (idempotent) and return the lazy scan.

    Works under any SparkSession: the pushdown conf is runtime-settable
    and pinned here rather than assuming our session factory built it.
    """
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(QboRestDataSource)
    reader = spark.read.format(QboRestDataSource.name())
    for k, v in options.items():
        reader = reader.option(k, str(v))
    return reader.load()
