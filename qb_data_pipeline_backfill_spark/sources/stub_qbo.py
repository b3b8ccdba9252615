"""Deterministic local stand-in for the QuickBooks Online API.

Serves the driver's synthetic ``customer`` parquet table through the
same HTTP surface the reference consumes (OAuth2 bearer-token exchange,
paginated ``/v3/company/{realm}/query`` with ``startPosition``/
``maxResults``, injected 429 or 5xx responses and dropped connections) so the REST source can be
exercised — and oracle-checked — without network access.

This is test/validation infrastructure, not engine code: the engine
only ever sees the HTTP contract.
"""

from __future__ import annotations

import base64
import json
import operator
import re
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, urlparse

STUB_CLIENT_ID = "stub-client"
STUB_CLIENT_SECRET = "stub-secret"
STUB_REFRESH_TOKEN = "stub-refresh"
STUB_ACCESS_TOKEN = "stub-access-token"

# ``SELECT *`` (a page) or ``SELECT COUNT(*)`` with one optional predicate
_QUERY_RE = re.compile(
    r"^SELECT (\*|COUNT\(\*\)) FROM (\w+)"
    r"(?: WHERE (\w+) (>=|<=|=|>|<) '([^']*)')?$"
)
_BASIC_AUTH = "Basic " + base64.b64encode(
    f"{STUB_CLIENT_ID}:{STUB_CLIENT_SECRET}".encode()
).decode()
_OPS = {
    "=": operator.eq, ">": operator.gt, "<": operator.lt,
    ">=": operator.ge, "<=": operator.le,
}


class _Handler(BaseHTTPRequestHandler):
    """Request handler base: silent, with one reply writer. A handler
    reaches its ``_StubServer`` as ``self.server.stub``."""

    def log_message(self, *a):  # silence
        pass

    def _reply(self, code: int, body: bytes, content_type: str, headers=None):
        self.send_response(code)
        self.send_header("Content-Type", content_type)
        for k, v in (headers or {}).items():
            self.send_header(k, v)
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)

    def _json(self, code: int, obj, headers=None):
        self._reply(code, json.dumps(obj).encode(), "application/json", headers)


class _StubServer:
    """A ``ThreadingHTTPServer`` on 127.0.0.1 (free port) serving
    ``handler`` from a daemon thread. Subclasses set their state before
    calling ``__init__``, which starts serving."""

    handler: type[_Handler]

    def __init__(self):
        self._lock = threading.Lock()
        self._httpd = ThreadingHTTPServer(("127.0.0.1", 0), self.handler)
        self._httpd.stub = self
        self.port = self._httpd.server_address[1]
        self.base_url = f"http://127.0.0.1:{self.port}"
        threading.Thread(target=self._httpd.serve_forever, daemon=True).start()

    def close(self):
        self._httpd.shutdown()
        self._httpd.server_close()


class _QboHandler(_Handler):
    def do_POST(self):
        if urlparse(self.path).path != "/oauth2/v1/tokens/bearer":
            return self._json(404, {"error": "not found"})
        length = int(self.headers.get("Content-Length", 0))
        form = parse_qs(self.rfile.read(length).decode())
        stub = self.server.stub
        with stub._lock:
            stub.n_token_requests += 1
        if self.headers.get("Authorization", "") != _BASIC_AUTH:
            return self._json(401, {"error": "invalid_client"})
        if form.get("grant_type") != ["refresh_token"] or form.get(
            "refresh_token"
        ) != [STUB_REFRESH_TOKEN]:
            return self._json(400, {"error": "invalid_grant"})
        return self._json(
            200, {"access_token": STUB_ACCESS_TOKEN, "expires_in": 3600}
        )

    def do_GET(self):
        stub = self.server.stub
        parsed = urlparse(self.path)
        if not re.match(r"^/v3/company/[^/]+/query$", parsed.path):
            return self._json(404, {"error": "not found"})
        if self.headers.get("Authorization") != f"Bearer {STUB_ACCESS_TOKEN}":
            return self._json(401, {"error": "unauthorized"})
        qs = parse_qs(parsed.query)
        query = qs.get("query", [""])[0]
        m = _QUERY_RE.match(query)
        if not m:
            return self._json(400, {"error": f"bad query: {query}"})
        select, entity, field, op, value = m.groups()
        if select != "*":
            if stub.reject_count:
                return self._json(400, {"error": "COUNT not supported"})
            recs = stub._filtered(field, op, value)
            return self._json(200, {"QueryResponse": {"totalCount": len(recs)}})
        with stub._lock:
            stub.n_page_requests += 1
            if stub.n_429_sent < stub.fail_first_n:
                stub.n_429_sent += 1
                if stub.fail_status is None:  # drop the connection unanswered
                    self.close_connection = True
                    return
                return self._json(
                    stub.fail_status,
                    {"error": "injected"},
                    {"Retry-After": stub.retry_after},
                )
        recs = stub._filtered(field, op, value)
        start = int(qs.get("startPosition", ["1"])[0])
        maxr = int(qs.get("maxResults", ["100"])[0])
        page = recs[start - 1 : start - 1 + maxr]
        reply = {entity: page, "startPosition": start, "maxResults": maxr}
        return self._json(200, {"QueryResponse": reply})


class StubQboServer(_StubServer):
    """Threaded HTTP server emulating the QBO query API over a
    customer parquet file. Rows are served in ``c_custkey`` order, so
    page contents are deterministic."""

    handler = _QboHandler

    def __init__(self, parquet_path: str, fail_first_n: int = 0):
        import duckdb

        rows = duckdb.sql(
            "SELECT c_custkey, c_name, c_nationkey, c_mktsegment, c_acctbal "
            f"FROM read_parquet('{parquet_path}') ORDER BY c_custkey"
        ).fetchall()
        # Entity payloads: string/int fields only (JSON float formatting
        # is engine-specific; money rides as a string like real QBO).
        self.records = [
            {
                "Id": str(k),
                "DisplayName": name,
                "NationRef": int(nation),
                "Segment": seg,
                "Balance": f"{bal:.2f}",
            }
            for k, name, nation, seg, bal in rows
        ]
        # the first ``fail_first_n`` page requests are answered with
        # ``fail_status`` and a ``Retry-After`` of ``retry_after`` (delay
        # seconds or an HTTP date), or dropped unanswered when the status
        # is None; ``n_429_sent`` counts them, whatever the status
        self.fail_first_n = fail_first_n
        self.fail_status = 429
        self.retry_after = "0"
        self.reject_count = False  # True: COUNT → HTTP 400 (no-COUNT dialect)
        self.n_429_sent = 0
        self.n_page_requests = 0
        self.n_token_requests = 0
        super().__init__()

    def _filtered(self, field, op, value):
        if not field:
            return self.records
        return [r for r in self.records if _OPS[op](str(r.get(field, "")), value)]


class _FileHandler(_Handler):
    def do_GET(self):
        stub = self.server.stub
        body = stub.files.get(urlparse(self.path).path)
        if body is None:
            return self._json(404, {"error": "not found"})
        self._reply(200, body, stub.content_type)


class StubFileServer(_StubServer):
    """Minimal HTTP server for byte payloads at fixed paths — the
    CSV-over-HTTP fixture (op #24). Like the QBO stub, this is test
    infrastructure: the engine only sees the HTTP contract."""

    handler = _FileHandler

    def __init__(self, files: dict[str, bytes], content_type: str = "text/csv"):
        self.files = dict(files)
        self.content_type = content_type
        super().__init__()


_SHARED: dict[tuple[str, str], _StubServer] = {}
_SHARED_LOCK = threading.Lock()


def _shared(key: tuple[str, str], make) -> _StubServer:
    with _SHARED_LOCK:
        if key not in _SHARED:
            _SHARED[key] = make()
        return _SHARED[key]


def shared_file_server(key: str, files: dict[str, bytes]) -> StubFileServer:
    """Process-wide file server per key (daemon thread, lives until
    process exit) — used by the registered csv_http_scan query."""
    return _shared(("file", key), lambda: StubFileServer(files))


def shared_stub_server(parquet_path: str) -> StubQboServer:
    """Process-wide stub server per parquet file (daemon thread — lives
    until process exit). Used by the registered rest_source queries so
    the server stays up while the driver lazily consumes the scan."""
    return _shared(("qbo", parquet_path), lambda: StubQboServer(parquet_path))


class _IngestHandler(_Handler):
    def do_POST(self):
        stub = self.server.stub
        if urlparse(self.path).path != "/v1/ingest":
            return self._json(404, {"error": "not found"})
        length = int(self.headers.get("Content-Length", 0))
        payload = json.loads(self.rfile.read(length).decode())
        created = 0
        with stub._lock:
            stub.n_requests += 1
            for rec in payload.get("records", []):
                key = str(rec[stub.id_field])
                if key not in stub.records:
                    created += 1
                stub.records[key] = rec
            total = len(stub.records)
        return self._json(200, {"created": created, "total": total})


class StubIngestServer(_StubServer):
    """HTTP ingest endpoint for the REST batch sink: POST /v1/ingest
    with ``{"records": [{...}, ...]}`` upserts by ``Id`` and reports
    how many were newly created — the server half of the sink's
    idempotency contract (replayed batches create 0)."""

    handler = _IngestHandler

    def __init__(self, id_field: str = "Id"):
        self.id_field = id_field
        self.records: dict[str, dict] = {}
        self.n_requests = 0
        super().__init__()
