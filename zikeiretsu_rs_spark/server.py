"""Remote execution boundary (S15): Arrow-over-HTTP query server.

The reference ships an Arrow Flight server/client pair
(zikeiretsu/src/tsdb/query/executor/interface/arrow_flight_server/mod.rs:28-106,
do_get_handler.rs:16-55): a client submits a dialect query string and
receives the result as a stream of Arrow RecordBatches. Flight is gRPC
framing around Arrow IPC; this container has no grpc stack, so the
rebuild frames the SAME payload — an Arrow IPC stream of the result —
over stdlib HTTP. The boundary semantics match the reference:

    POST /query   {"query": "...", "now_nanos": optional int}
      -> 200, application/vnd.apache.arrow.stream  (Arrow IPC bytes)
      -> 400, application/json {"error": ...}      (parse/plan errors)

In a production Spark deployment this seam is served by Spark Connect
(the driver exposes a gRPC endpoint; clients hold a remote
SparkSession) — the server below exists so the boundary is DEMONSTRATED
end-to-end in-repo: serialize a query, execute on the engine's driver,
stream Arrow back, deserialize client-side with zero Spark on the
client.
"""

from __future__ import annotations

import io
import json
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

import pyarrow as pa

from .engine import Engine

ARROW_CONTENT_TYPE = "application/vnd.apache.arrow.stream"


def _table_to_ipc_bytes(table: pa.Table) -> bytes:
    sink = io.BytesIO()
    with pa.ipc.new_stream(sink, table.schema) as writer:
        writer.write_table(table)
    return sink.getvalue()


class QueryHttpServer:
    """Serves an Engine over HTTP. One server per driver process —
    queries execute on the engine's SparkSession (exactly like the
    reference's Flight server executing on its single Zikeiretsu DB
    handle, arrow_flight_server/mod.rs:28-57)."""

    def __init__(self, engine: Engine, host: str = "127.0.0.1", port: int = 0):
        self.engine = engine
        outer = self

        class Handler(BaseHTTPRequestHandler):
            def log_message(self, *args):  # quiet test output
                pass

            def do_POST(self):
                if self.path != "/query":
                    self.send_error(404)
                    return
                try:
                    length = int(self.headers.get("Content-Length", "0"))
                    body = json.loads(self.rfile.read(length) or b"{}")
                    table, _ = outer.engine.execute_to_arrow(
                        body["query"], body.get("now_nanos")
                    )
                    payload = _table_to_ipc_bytes(table)
                except Exception as e:  # parse/plan/execution errors -> 400
                    msg = json.dumps({"error": f"{type(e).__name__}: {e}"}).encode()
                    self.send_response(400)
                    self.send_header("Content-Type", "application/json")
                    self.send_header("Content-Length", str(len(msg)))
                    self.end_headers()
                    self.wfile.write(msg)
                    return
                self.send_response(200)
                self.send_header("Content-Type", ARROW_CONTENT_TYPE)
                self.send_header("Content-Length", str(len(payload)))
                self.end_headers()
                self.wfile.write(payload)

        self._httpd = ThreadingHTTPServer((host, port), Handler)
        self._thread: threading.Thread | None = None

    @property
    def url(self) -> str:
        host, port = self._httpd.server_address[:2]
        return f"http://{host}:{port}"

    def start(self) -> "QueryHttpServer":
        self._thread = threading.Thread(
            target=self._httpd.serve_forever, daemon=True
        )
        self._thread.start()
        return self

    def stop(self) -> None:
        self._httpd.shutdown()
        self._httpd.server_close()
        if self._thread is not None:
            self._thread.join(timeout=5)


def execute_remote(url: str, query: str, now_nanos: int | None = None) -> pa.Table:
    """Client side of the boundary (reference flight client usage,
    do_get_handler.rs:16-55): submit the dialect query, decode the
    Arrow IPC stream. Stdlib HTTP + pyarrow only — no Spark on the
    client."""
    from urllib.error import HTTPError
    from urllib.request import Request, urlopen

    body = {"query": query}
    if now_nanos is not None:
        body["now_nanos"] = now_nanos
    req = Request(
        f"{url}/query",
        data=json.dumps(body).encode(),
        headers={"Content-Type": "application/json"},
        method="POST",
    )
    try:
        with urlopen(req) as resp:
            data = resp.read()
    except HTTPError as e:
        detail = json.loads(e.read() or b"{}").get("error", str(e))
        raise RuntimeError(f"remote query failed: {detail}") from e
    with pa.ipc.open_stream(io.BytesIO(data)) as reader:
        return reader.read_all()
