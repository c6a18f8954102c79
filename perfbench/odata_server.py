"""Loopback OData v4 server for the benchmark's OData pull.

Serves one entity set over HTTP on 127.0.0.1: ``$metadata`` (EDMX),
``<entity>/$count``, and ``$skip``/``$top`` pages pinned by
``$orderby=<key>``, behind Basic auth. The page grid a client is
expected to request is rendered to JSON bytes up front (``prerender``),
so serving a page is a dictionary lookup and a socket write; any other
window is rendered on demand. The server counts what it does —
requests, bytes sent, rows served, repeated requests and its own busy
time — so the benchmark can show the time measured is the client's, not
the server's.
"""

from __future__ import annotations

import base64
import http.server
import json
import threading
import time
import urllib.parse

import pyarrow as pa

_EDM = {
    pa.int64(): "Edm.Int64", pa.int32(): "Edm.Int32",
    pa.float64(): "Edm.Double", pa.string(): "Edm.String",
}


def _edm(t: pa.DataType) -> str:
    return "Edm.DateTimeOffset" if pa.types.is_timestamp(t) else _EDM[t]


def edmx(entities: dict[str, tuple[pa.Schema, list[str]]]) -> str:
    types = []
    for name, (schema, key) in entities.items():
        refs = "".join(f'<PropertyRef Name="{k}"/>' for k in key)
        props = "".join(
            f'<Property Name="{f.name}" Type="{_edm(f.type)}"/>'
            for f in schema)
        types.append(f'<EntityType Name="{name}"><Key>{refs}</Key>'
                     f"{props}</EntityType>")
    return (
        '<?xml version="1.0" encoding="utf-8"?>'
        '<edmx:Edmx xmlns:edmx="http://docs.oasis-open.org/odata/ns/edmx" '
        'Version="4.0"><edmx:DataServices>'
        '<Schema xmlns="http://docs.oasis-open.org/odata/ns/edm" '
        'Namespace="Bench.OData">' + "".join(types)
        + "</Schema></edmx:DataServices></edmx:Edmx>"
    )


def _fields(schema: pa.Schema, alias: str) -> str:
    """struct_pack fields; timestamps as ISO-8601 UTC text (OData JSON)."""
    return ", ".join(
        f"\"{f.name}\" := strftime({alias}.\"{f.name}\", '%Y-%m-%dT%H:%M:%SZ')"
        if pa.types.is_timestamp(f.type) else f'{alias}."{f.name}"'
        for f in schema)


def render_rows(path: str, key: str) -> list[str]:
    """One JSON object per row of the parquet file at ``path``, in
    ``key`` order, rendered by DuckDB (numbers print in shortest
    round-trip form)."""
    import duckdb
    import pyarrow.parquet as pq

    rel = "read_parquet('" + path.replace("'", "''") + "')"
    sql = (f"SELECT CAST(to_json(struct_pack("
           f"{_fields(pq.read_schema(path), 'p')})) AS VARCHAR) "
           f"FROM {rel} p ORDER BY p.\"{key}\"")
    with duckdb.connect() as con:
        con.execute("SET threads TO 4")
        return [r[0] for r in con.execute(sql).fetchall()]


class ODataServer:
    """Serves ``rows`` (JSON objects in ``key`` order) as the ``entity``
    entity set."""

    def __init__(self, entity: str, key: str, rows: list[str],
                 metadata: str, user: str, password: str):
        self.entity = entity
        self.key = key
        self.n_rows = len(rows)
        self.metadata = metadata.encode()
        self._auth = "Basic " + base64.b64encode(
            f"{user}:{password}".encode()).decode()
        self._rows = rows
        self._pages: dict[tuple[int, int], bytes] = {}
        self._lock = threading.Lock()
        self.reset_counters()
        self._httpd = http.server.ThreadingHTTPServer(
            ("127.0.0.1", 0), self._handler())
        self._httpd.daemon_threads = True
        self.uri = f"http://127.0.0.1:{self._httpd.server_port}"
        self._thread = threading.Thread(
            target=self._httpd.serve_forever, name="odata-server",
            daemon=True)
        self._thread.start()

    # -- rendering -----------------------------------------------------------

    def _render(self, skip: int, top: int) -> bytes:
        return ('{"value":[' + ",".join(self._rows[skip:skip + top])
                + "]}").encode()

    def prerender(self, page_size: int) -> int:
        """Render the ``$skip``/``$top`` grid a client paging by
        ``page_size`` requests; returns the bytes held."""
        for skip in range(0, self.n_rows, page_size):
            top = min(page_size, self.n_rows - skip)
            self._pages[(skip, top)] = self._render(skip, top)
        return sum(len(b) for b in self._pages.values())

    # -- counters ------------------------------------------------------------

    def reset_counters(self) -> None:
        with self._lock:
            self.requests = 0
            self.bytes_sent = 0
            self.rows_served = 0
            self.repeats = 0
            self.busy_s = 0.0
            self._seen: set[str] = set()

    def counters(self) -> dict:
        with self._lock:
            return {"requests": self.requests, "bytes": self.bytes_sent,
                    "rows": self.rows_served, "retries": self.repeats,
                    "busy_s": self.busy_s}

    # -- HTTP ----------------------------------------------------------------

    def _handler(self):
        srv = self

        class Handler(http.server.BaseHTTPRequestHandler):
            protocol_version = "HTTP/1.1"

            def log_message(self, *a):
                pass

            def _send(self, code: int, body: bytes, ctype: str) -> None:
                self.send_response(code)
                self.send_header("Content-Type", ctype)
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)

            def do_GET(self):
                t0 = time.perf_counter()
                code, body, ctype, rows = srv._route(
                    self.path, self.headers.get("Authorization"))
                self._send(code, body, ctype)
                with srv._lock:
                    srv.requests += 1
                    srv.bytes_sent += len(body)
                    srv.rows_served += rows
                    if self.path in srv._seen:
                        srv.repeats += 1
                    srv._seen.add(self.path)
                    srv.busy_s += time.perf_counter() - t0

        return Handler

    def _route(self, raw_path: str, auth: str | None):
        def err(code, msg):
            return code, json.dumps({"error": msg}).encode(), \
                "application/json", 0

        if auth != self._auth:
            return err(401, "unauthorized")
        parsed = urllib.parse.urlparse(raw_path)
        params = {}
        for pair in parsed.query.split("&") if parsed.query else []:
            k, _, v = pair.partition("=")
            params[urllib.parse.unquote(k)] = urllib.parse.unquote(v)
        path = parsed.path.rstrip("/")
        if path.endswith("/$metadata"):
            return 200, self.metadata, "application/xml", 0
        if path.endswith(f"/{self.entity}/$count"):
            if params:
                return err(400, "unsupported $count options")
            return 200, str(self.n_rows).encode(), "text/plain", 0
        if not path.endswith(f"/{self.entity}"):
            return err(404, f"no such resource {path}")
        unsupported = set(params) - {"$skip", "$top", "$orderby"}
        if unsupported:
            return err(400, f"unsupported options {sorted(unsupported)}")
        if params.get("$orderby") != self.key:
            return err(400, f"pages must be pinned by $orderby={self.key}")
        skip = int(params.get("$skip", 0))
        top = int(params.get("$top", self.n_rows - skip))
        body = self._pages.get((skip, top)) or self._render(skip, top)
        rows = max(0, min(top, self.n_rows - skip))
        return 200, body, "application/json", rows

    def close(self) -> None:
        self._httpd.shutdown()
        self._httpd.server_close()
        self._thread.join(timeout=10)
