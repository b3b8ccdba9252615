"""Deterministic local stand-in for the QuickBooks Online API.

Serves the driver's synthetic ``customer`` parquet table through the
same HTTP surface the reference consumes (OAuth2 bearer-token exchange,
paginated ``/v3/company/{realm}/query`` with ``startPosition``/
``maxResults``, 429 rate-limit responses) so the REST DataSource can be
exercised — and oracle-checked — without network access.

This is test/validation infrastructure, not engine code: the engine
only ever sees the HTTP contract.
"""

from __future__ import annotations

import base64
import json
import re
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, urlparse

STUB_CLIENT_ID = "stub-client"
STUB_CLIENT_SECRET = "stub-secret"
STUB_REFRESH_TOKEN = "stub-refresh"
STUB_ACCESS_TOKEN = "stub-access-token"

_WHERE_RE = re.compile(
    r"^SELECT \* FROM (\w+)(?: WHERE (\w+) (>=|<=|=|>|<) '([^']*)')?$"
)
_COUNT_RE = re.compile(r"^SELECT COUNT\(\*\) FROM (\w+)(?: WHERE (\w+) (>=|<=|=|>|<) '([^']*)')?$")


def _cmp(op: str, lhs: str, rhs: str) -> bool:
    return {
        "=": lhs == rhs,
        ">": lhs > rhs,
        "<": lhs < rhs,
        ">=": lhs >= rhs,
        "<=": lhs <= rhs,
    }[op]


class StubQboServer:
    """Threaded HTTP server emulating the QBO query API over a
    customer parquet file. Rows are served in ``c_custkey`` order, so
    page contents are deterministic."""

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
        self.fail_first_n = fail_first_n
        self.reject_count = False  # True: COUNT → HTTP 400 (no-COUNT dialect)
        self.n_429_sent = 0
        self.n_page_requests = 0
        self.n_token_requests = 0
        self._lock = threading.Lock()
        server_self = self

        class Handler(BaseHTTPRequestHandler):
            def log_message(self, *a):  # silence
                pass

            def _json(self, code: int, obj, headers=None):
                body = json.dumps(obj).encode()
                self.send_response(code)
                self.send_header("Content-Type", "application/json")
                for k, v in (headers or {}).items():
                    self.send_header(k, v)
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)

            def do_POST(self):
                if urlparse(self.path).path != "/oauth2/v1/tokens/bearer":
                    return self._json(404, {"error": "not found"})
                auth = self.headers.get("Authorization", "")
                expected = base64.b64encode(
                    f"{STUB_CLIENT_ID}:{STUB_CLIENT_SECRET}".encode()
                ).decode()
                length = int(self.headers.get("Content-Length", 0))
                form = parse_qs(self.rfile.read(length).decode())
                with server_self._lock:
                    server_self.n_token_requests += 1
                if auth != f"Basic {expected}":
                    return self._json(401, {"error": "invalid_client"})
                if form.get("grant_type") != ["refresh_token"] or form.get(
                    "refresh_token"
                ) != [STUB_REFRESH_TOKEN]:
                    return self._json(400, {"error": "invalid_grant"})
                return self._json(
                    200, {"access_token": STUB_ACCESS_TOKEN, "expires_in": 3600}
                )

            def do_GET(self):
                parsed = urlparse(self.path)
                if not re.match(r"^/v3/company/[^/]+/query$", parsed.path):
                    return self._json(404, {"error": "not found"})
                if self.headers.get("Authorization") != f"Bearer {STUB_ACCESS_TOKEN}":
                    return self._json(401, {"error": "unauthorized"})
                qs = parse_qs(parsed.query)
                query = qs.get("query", [""])[0]

                m = _COUNT_RE.match(query)
                if m and server_self.reject_count:
                    return self._json(400, {"error": "COUNT not supported"})
                if m:
                    recs = server_self._filtered(m.group(2), m.group(3), m.group(4))
                    return self._json(
                        200, {"QueryResponse": {"totalCount": len(recs)}}
                    )

                m = _WHERE_RE.match(query)
                if not m:
                    return self._json(400, {"error": f"bad query: {query}"})
                entity = m.group(1)
                with server_self._lock:
                    server_self.n_page_requests += 1
                    if server_self.n_429_sent < server_self.fail_first_n:
                        server_self.n_429_sent += 1
                        return self._json(
                            429, {"error": "throttled"}, {"Retry-After": "0"}
                        )
                recs = server_self._filtered(m.group(2), m.group(3), m.group(4))
                start = int(qs.get("startPosition", ["1"])[0])
                maxr = int(qs.get("maxResults", ["100"])[0])
                page = recs[start - 1 : start - 1 + maxr]
                return self._json(
                    200,
                    {
                        "QueryResponse": {
                            entity: page,
                            "startPosition": start,
                            "maxResults": maxr,
                        }
                    },
                )

        self._httpd = ThreadingHTTPServer(("127.0.0.1", 0), Handler)
        self.port = self._httpd.server_address[1]
        self.base_url = f"http://127.0.0.1:{self.port}"
        self._thread = threading.Thread(target=self._httpd.serve_forever, daemon=True)
        self._thread.start()

    def _filtered(self, field, op, value):
        if not field:
            return self.records
        return [
            r for r in self.records if _cmp(op, str(r.get(field, "")), value)
        ]

    def close(self):
        self._httpd.shutdown()
        self._httpd.server_close()


class StubFileServer:
    """Minimal HTTP server for byte payloads at fixed paths — the
    CSV-over-HTTP fixture (op #24). Like the QBO stub, this is test
    infrastructure: the engine only sees the HTTP contract."""

    def __init__(self, files: dict[str, bytes], content_type: str = "text/csv"):
        server_self = self

        class Handler(BaseHTTPRequestHandler):
            def log_message(self, *a):  # silence
                pass

            def do_GET(self):
                body = server_self.files.get(urlparse(self.path).path)
                if body is None:
                    self.send_response(404)
                    self.end_headers()
                    return
                self.send_response(200)
                self.send_header("Content-Type", content_type)
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)

        self.files = dict(files)
        self._httpd = ThreadingHTTPServer(("127.0.0.1", 0), Handler)
        self.port = self._httpd.server_address[1]
        self.base_url = f"http://127.0.0.1:{self.port}"
        self._thread = threading.Thread(target=self._httpd.serve_forever, daemon=True)
        self._thread.start()

    def close(self):
        self._httpd.shutdown()
        self._httpd.server_close()


_SERVERS: dict[str, StubQboServer] = {}
_FILE_SERVERS: dict[str, StubFileServer] = {}
_SERVERS_LOCK = threading.Lock()


def shared_file_server(key: str, files: dict[str, bytes]) -> StubFileServer:
    """Process-wide file server per key (daemon thread, lives until
    process exit) — used by the registered csv_http_scan query."""
    with _SERVERS_LOCK:
        srv = _FILE_SERVERS.get(key)
        if srv is None:
            srv = StubFileServer(files)
            _FILE_SERVERS[key] = srv
        return srv


def shared_stub_server(parquet_path: str) -> StubQboServer:
    """Process-wide stub server per parquet file (daemon thread — lives
    until process exit). Used by the registered rest_source queries so
    the server stays up while the driver lazily consumes the scan."""
    with _SERVERS_LOCK:
        srv = _SERVERS.get(parquet_path)
        if srv is None:
            srv = StubQboServer(parquet_path)
            _SERVERS[parquet_path] = srv
        return srv


class StubIngestServer:
    """HTTP ingest endpoint for the REST batch sink: POST /v1/ingest
    with ``{"records": [{...}, ...]}`` upserts by ``Id`` and reports
    how many were newly created — the server half of the sink's
    idempotency contract (replayed batches create 0)."""

    def __init__(self, id_field: str = "Id"):
        server_self = self
        self.records: dict[str, dict] = {}
        self.n_requests = 0
        self._lock = threading.Lock()

        class Handler(BaseHTTPRequestHandler):
            def log_message(self, *a):  # silence
                pass

            def do_POST(self):
                if urlparse(self.path).path != "/v1/ingest":
                    self.send_response(404)
                    self.end_headers()
                    return
                length = int(self.headers.get("Content-Length", 0))
                payload = json.loads(self.rfile.read(length).decode())
                created = 0
                with server_self._lock:
                    server_self.n_requests += 1
                    for rec in payload.get("records", []):
                        key = str(rec[id_field])
                        if key not in server_self.records:
                            created += 1
                        server_self.records[key] = rec
                body = json.dumps(
                    {"created": created, "total": len(server_self.records)}
                ).encode()
                self.send_response(200)
                self.send_header("Content-Type", "application/json")
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)

        self._httpd = ThreadingHTTPServer(("127.0.0.1", 0), Handler)
        self.port = self._httpd.server_address[1]
        self.base_url = f"http://127.0.0.1:{self.port}"
        self._thread = threading.Thread(target=self._httpd.serve_forever, daemon=True)
        self._thread.start()

    def close(self):
        self._httpd.shutdown()
        self._httpd.server_close()
