"""HTTP shell over the query API — the reference's Flask endpoint
(``audit_utils/http_endpoint.py``) rebuilt on the stdlib so it runs with
zero extra dependencies.

Route map (reference file:line in each handler below):

  GET /a/<table>              select-all ('*' = default table)      H1
  GET /c/<sql>                arbitrary SQL                         H2
  GET /c/<json_cdict>/EOE     per-field comparator filter           H9
  GET /cs/<sql>               arbitrary SELECT                      H3
  GET /r                      reset serving state                   H4
  GET /rst                    current batch counter                 H5
  GET /rv/<n>                 n most recent batches                 H6
  GET /dv/<i>                 batch by id                           H7
  GET /sr/<param>/<lo>:<hi>   range filter ('None' = unbounded)     H8

Differences from the reference, on purpose:
- one process: the server queries the same SparkSession the stream
  updates (the reference forked a second OS process linked by an mp.Queue
  and only ingested pending batches when a request arrived,
  http_endpoint.py:54-55 / main.py:275-282)
- threaded server: Spark sessions are thread-safe for reads; SQLite's
  ``check_same_thread=False`` hack (models.py:142) has no analog here
- errors return JSON {"error": ...} with a 4xx/5xx code instead of a
  Flask traceback page

The reference's URL convention (SQL in the path) is preserved for drop-in
parity — clients URL-encode; we unquote.
"""

from __future__ import annotations

import json
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import unquote

from . import api
from .serving import CommandRejected, EmptyStoreError, ServingStore


def _route(store: ServingStore, path: str, max_rows: int | None = None):
    """Resolve a request path to (status, payload).

    ``max_rows`` caps every collecting route (None = ``api.
    MAX_ROWS_DEFAULT``, ``-1`` = unlimited reference-compat mode); a
    capped payload comes back as :class:`api.TruncatedRows` and the
    handler signals it with an ``X-Truncated: true`` header, keeping the
    reference's bare list-of-rows body shape.
    """
    path = unquote(path).rstrip("/") or "/"
    if path == "/r":
        return 200, api.reset(store)
    if path == "/rst":
        return 200, api.rst(store)
    if path.startswith("/a/"):
        return 200, api.select_all(store, path[3:] or "*", max_rows)
    if path.startswith("/rv/"):
        return 200, api.recent_values(store, int(path[4:]), max_rows)
    if path.startswith("/dv/"):
        return 200, api.direct_value(store, int(path[4:]), max_rows)
    if path.startswith("/sr/"):
        param, _, rng = path[4:].partition("/")
        lo, _, hi = rng.partition(":")
        return 200, api.select_range(store, param, lo, hi, max_rows)
    if path.startswith("/cs/"):
        return 200, api.custom_sql(store, path[4:], max_rows)
    if path.startswith("/c/"):
        body = path[3:]
        if body.endswith("/EOE"):  # H9: JSON comparator dict
            return 200, api.custom_select(store, body[: -len("/EOE")], max_rows)
        return 200, api.custom_sql(store, body, max_rows)
    return 404, {"error": f"no route for {path}"}


def make_server(
    store: ServingStore,
    host: str = "127.0.0.1",
    port: int = 0,
    max_rows: int | None = None,
):
    """Build (not start) a ThreadingHTTPServer bound to the store.

    ``port=0`` picks a free port (server.server_address[1] has it) — the
    test/embedded mode. Call ``serve_forever()`` (or :func:`serve` for a
    background thread) to run. ``max_rows`` bounds every collecting
    route's driver-side materialization (see :func:`_route`).
    """

    class Handler(BaseHTTPRequestHandler):
        def do_GET(self):  # noqa: N802 (stdlib API)
            try:
                status, payload = _route(store, self.path, max_rows)
            except CommandRejected as exc:
                # query-only surface: mutating SQL is refused before it
                # executes (serving.reject_non_query); 403 = the route
                # exists, the statement kind is forbidden
                status, payload = 403, {"error": str(exc)}
            except EmptyStoreError:
                # empty store (e.g. right after /r): reads answer [],
                # matching the reference's freshly-reset table
                status, payload = 200, []
            except ValueError as exc:  # malformed path argument
                status, payload = 400, {"error": str(exc)}
            except Exception as exc:  # surface as JSON, not a stack page
                status, payload = 500, {"error": f"{type(exc).__name__}: {exc}"}
            body = json.dumps(payload, default=str).encode()
            self.send_response(status)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(body)))
            if getattr(payload, "truncated", False):
                self.send_header("X-Truncated", "true")
            self.end_headers()
            self.wfile.write(body)

        def log_message(self, *args):  # quiet by default
            pass

    return ThreadingHTTPServer((host, port), Handler)


def serve(
    store: ServingStore,
    host: str = "127.0.0.1",
    port: int = 0,
    max_rows: int | None = None,
):
    """Start the endpoint on a daemon thread; returns (server, thread).

    The Spark driver thread stays free for the streaming query — the
    composition the reference needed two processes and a queue for.
    """
    server = make_server(store, host, port, max_rows)
    thread = threading.Thread(target=server.serve_forever, daemon=True)
    thread.start()
    return server, thread
