"""Thin HTTP façade over the render/find library surface.

Reference: http/graphite.go — `/render?target=..&from=..&until=..&
maxDataPoints=..` and `/metrics/find?query=..`. The engine proper is
a library over a cluster (render.py builds the exact graphite-web
JSON payloads); this wrapper is presentation only: stdlib
http.server, no framework — every byte of a /render or /metrics/find
response body comes from render_json/find_json. Suitable for tests
and single-process serving; a production deployment would put the
same two calls behind any WSGI/ASGI front.

The server does hold state: the /pixel/ routes append to
``server.pixel_hits`` and ``server.agg_commands``, and nothing inside
the server drains those queues — callers read them (QUEUE_CAP bounds
them). Draining them into the ingest pipeline is ROADMAP item 3.
Malformed request arguments (a non-integer maxDataPoints, pixel
``?t=`` or POST Content-Length, a negative Content-Length) answer 400.
"""

from __future__ import annotations

import http.server
import json
import logging
import re
import threading
from urllib.parse import parse_qs, unquote, urlparse

from pyspark.sql import DataFrame

from .render import find_json, render_json

_LOG = logging.getLogger(__name__)

# Sscanf("%f")-shaped numeric prefix: optional sign, digits with
# optional fraction or bare fraction, optional exponent. Matching a
# PREFIX (not fullmatch) reproduces Go's "1.5x" -> 1.5; rejecting
# non-numeric leads reproduces its n=0 abort. Python-isms float()
# would take ("1_0", "inf", "nan") deliberately do NOT match.
_FLOAT_PREFIX = re.compile(r"[+-]?(?:\d+(?:\.\d*)?|\.\d+)(?:[eE][+-]?\d+)?")

# 1x1 transparent GIF — the literal bytes http/pixel.go serves; the
# response body is presentation, the datapoint is the payload.
_PIXEL_GIF = (
    b"GIF89a\x01\x00\x01\x00\x80\x00\x00\x00\x00\x00\x00\x00\x00!"
    b"\xf9\x04\x01\x00\x00\x00\x00,\x00\x00\x00\x00\x01\x00\x01\x00"
    b"\x00\x02\x01D\x00;"
)


# Bound on each pixel queue (server.pixel_hits, server.agg_commands).
# Nothing inside the server drains them, so a long-lived server would
# otherwise grow the driver heap without limit; a request whose items
# do not fit answers 503 and queues nothing.
QUEUE_CAP = 100_000

# /pixel/{add,addgauge,setgauge,append} → aggregator command kind
# (http/pixel.go:87-105; semantics in aggregator.go:217-220). Queued
# as (cmd, name, value, t); aggregator.pixel_agg_frame feeds them to
# the same statsd_flush path the socket sources use.
_AGG_ROUTES = {
    "/pixel/add": "add",
    "/pixel/addgauge": "addgauge",
    "/pixel/setgauge": "setgauge",
    "/pixel/append": "append",
}


class _BadRequest(ValueError):
    """A malformed request argument; the handler answers 400."""


def _int_arg(raw: str | None, what: str) -> int | None:
    """An integer request argument, None when absent or empty."""
    if not raw:
        return None
    try:
        return int(raw)
    except ValueError:
        raise _BadRequest(f"{what} must be an integer, got {raw!r}") from None


def _agg_items(cmd: str, q: dict, t: int) -> list:
    """Form pairs name=value → (cmd, name, value, t) commands.
    Sscanf("%f") semantics: a numeric PREFIX parses ("1.5x" -> 1.5),
    and the FIRST value with no numeric prefix aborts the whole loop
    (pixel.go:133-137 returns), dropping every remaining pair — not
    just the bad one."""
    items = []
    for name, vals in q.items():
        for v in vals:
            m = _FLOAT_PREFIX.match(v.lstrip())
            if not m:
                _LOG.warning(
                    "pixel %s: bad value %r=%r (rest dropped)", cmd, name, v
                )
                return items
            items.append((cmd, name, float(m.group(0)), t))
    return items


def _make_handler(catalog: DataFrame, now: int | None):
    class Handler(http.server.BaseHTTPRequestHandler):
        def log_message(self, fmt, *args):
            # route through logging (debug) instead of stderr so test
            # output stays quiet but nothing is silently dropped
            _LOG.debug(fmt, *args)

        def _reply(self, code: int, body: str, ctype="application/json"):
            data = body.encode("utf-8")
            self.send_response(code)
            self.send_header("Content-Type", ctype)
            self.send_header("Content-Length", str(len(data)))
            self.end_headers()
            self.wfile.write(data)

        def _send_pixel(self):
            self.send_response(200)
            self.send_header("Content-Type", "image/gif")
            self.send_header("Content-Length", str(len(_PIXEL_GIF)))
            self.end_headers()
            self.wfile.write(_PIXEL_GIF)

        def _enqueue(self, queue: list, items: list) -> bool:
            """Queue all of ``items``, or none and answer 503 when they
            would take ``queue`` past QUEUE_CAP."""
            if len(queue) + len(items) > QUEUE_CAP:
                self._reply(503, json.dumps(
                    {"error": f"pixel queue full ({QUEUE_CAP} items)"}
                ))
                return False
            queue.extend(items)
            return True

        def _handle_agg(self, cmd: str, q: dict):
            # http/pixel.go pixelAggHandler: each form pair queues one
            # command and the pixel goes back. The reference sends the
            # pixel first; queueing first lets a full queue answer 503.
            import time as _time

            t = now if now is not None else int(_time.time())
            if self._enqueue(self.server.agg_commands, _agg_items(cmd, q, t)):
                self._send_pixel()

        def do_POST(self):
            # the reference's ParseForm reads urlencoded POST bodies
            # for the pixel agg routes; everything else is GET-only
            u = urlparse(self.path)
            if u.path not in _AGG_ROUTES:
                self._reply(404, '{"error": "not found"}')
                return
            try:
                n = _int_arg(self.headers.get("Content-Length"), "Content-Length")
                if n is not None and n < 0:
                    # rfile.read(-1) would wait for EOF and stall the
                    # single-threaded server
                    raise _BadRequest("Content-Length must not be negative")
            except _BadRequest as e:
                self._reply(400, json.dumps({"error": str(e)}))
                return
            body = self.rfile.read(n or 0).decode("utf-8", "replace")
            self._handle_agg(_AGG_ROUTES[u.path], parse_qs(body))

        def do_GET(self):
            u = urlparse(self.path)
            q = parse_qs(u.query)
            try:
                if u.path == "/ping":
                    # daemon/http.go:45
                    self._reply(200, "OK\n", ctype="text/plain")
                elif u.path in ("/events/get_data", "/events/get_data/"):
                    # http/graphite.go:188-195 — annotations are
                    # stubbed to an empty list in the reference too
                    self._reply(200, "[]\n")
                elif u.path in _AGG_ROUTES:
                    self._handle_agg(_AGG_ROUTES[u.path], q)
                elif u.path == "/render":
                    targets = q.get("target", [])
                    if not targets:
                        self._reply(400, '{"error": "target required"}')
                        return
                    body = render_json(
                        catalog,
                        targets,
                        t_from=q.get("from", [None])[0],
                        t_to=q.get("until", [None])[0],
                        max_points=_int_arg(
                            q.get("maxDataPoints", [None])[0], "maxDataPoints"
                        ),
                        now=now,
                    )
                    self._reply(200, body)
                elif u.path == "/metrics/find":
                    query = q.get("query", [None])[0]
                    if not query:
                        self._reply(400, '{"error": "query required"}')
                        return
                    self._reply(200, find_json(catalog, query))
                elif u.path.startswith("/pixel/"):
                    # http/pixel.go: GET /pixel/<metric> records one
                    # count-1 datapoint for the dotted metric name and
                    # returns a 1x1 GIF. Timestamp = ?t= override, the
                    # server's pinned `now` (tests), or wall clock.
                    # Hits queue on the server; render.pixel_datapoints
                    # turns them into a SeriesFrame — ingestion proper
                    # is the streaming pipeline's job, not the socket's.
                    import time as _time

                    metric = unquote(u.path[len("/pixel/"):])
                    if not metric:
                        self._reply(400, '{"error": "metric required"}')
                        return
                    t = _int_arg(q.get("t", [None])[0], "t")
                    if t is None:
                        t = now if now is not None else int(_time.time())
                    if self._enqueue(self.server.pixel_hits, [(metric, t)]):
                        self._send_pixel()
                else:
                    self._reply(404, '{"error": "not found"}')
            except _BadRequest as e:
                self._reply(400, json.dumps({"error": str(e)}))
            except Exception as e:  # evaluation error → 500, not a hang
                _LOG.warning("request %s failed: %s", self.path, e)
                self._reply(500, json.dumps({"error": str(e)}))

    return Handler


def serve(
    catalog: DataFrame, host: str = "127.0.0.1", port: int = 0,
    now: int | None = None,
):
    """Start serving `catalog` over HTTP; returns the live server
    (``server.server_address`` has the bound port; call
    ``server.shutdown()`` to stop). ``now`` pins relative time specs
    ('-1h') for reproducible tests. Single-threaded HTTPServer on
    purpose: one SparkSession driver thread services queries; the
    cluster provides the parallelism, not the socket layer."""
    server = http.server.HTTPServer(
        (host, port), _make_handler(catalog, now)
    )
    server.pixel_hits = []  # (metric, t) hits recorded by /pixel/
    # (cmd, name, value, t) from /pixel/{add,addgauge,setgauge,append};
    # aggregator.pixel_agg_frame → statsd_flush turns them into series
    server.agg_commands = []
    t = threading.Thread(target=server.serve_forever, daemon=True)
    t.start()
    return server
