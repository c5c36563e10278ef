"""Mock JSON API for the sequence fan-out.

``GET /customers/<id>`` answers ``response_for(id)`` after a fixed
service time. At most ``max_handlers`` requests are served at once (a
bounded pool of handler slots); requests beyond that wait for a slot
and count as in flight while they wait. The server counts requests,
distinct keys, new TCP connections and the peak number of requests in
flight, and records when the first request of an interval arrived and
the last one was answered. ``GET /_stats`` returns those counters as
JSON and starts a new interval; it is not counted.
"""

from __future__ import annotations

import http.server
import json
import threading
import time


def response_for(key: int) -> dict:
    """The deterministic record the API returns for one customer key."""
    return {
        "customer_id": key,
        "score": round((key * 7919 % 10007) / 100.0, 2),
        "tier": ("gold", "silver", "bronze", "basic")[key % 4],
        "region_code": key % 25,
    }


class _Counters:
    def __init__(self) -> None:
        self.lock = threading.Lock()
        self.reset()

    def reset(self) -> None:
        self.data = {
            "requests": 0,
            "connections": 0,
            "max_inflight": 0,
            "first_start": None,
            "last_end": None,
        }
        self.keys: set[str] = set()
        self.inflight = 0


class _Handler(http.server.BaseHTTPRequestHandler):
    protocol_version = "HTTP/1.1"  # keep-alive is available to clients

    def setup(self) -> None:
        super().setup()
        c = self.server.counters
        with c.lock:
            c.data["connections"] += 1

    def do_GET(self) -> None:  # noqa: N802 - http.server API
        srv = self.server
        c = srv.counters
        if self.path.startswith("/_stats"):
            with c.lock:
                snap = dict(c.data, keys=len(c.keys))
                c.reset()
                # the stats request's own connection is not the client's
                snap["connections"] -= 1
            self._reply(200, json.dumps(snap).encode())
            return
        parts = self.path.strip("/").split("/")
        if len(parts) != 2 or parts[0] != "customers" or not parts[1].isdigit():
            self._reply(404, b'{"error": "not found"}')
            return
        with c.lock:
            c.data["requests"] += 1
            c.keys.add(parts[1])
            c.inflight += 1
            c.data["max_inflight"] = max(c.data["max_inflight"], c.inflight)
            if c.data["first_start"] is None:
                c.data["first_start"] = time.time()
        try:
            with srv.slots:
                time.sleep(srv.service_s)
                body = json.dumps(response_for(int(parts[1]))).encode()
            self._reply(200, body)
        finally:
            with c.lock:
                c.inflight -= 1
                c.data["last_end"] = time.time()

    def _reply(self, code: int, body: bytes) -> None:
        self.send_response(code)
        self.send_header("Content-Type", "application/json")
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)

    def log_message(self, *args) -> None:  # silence per-request logging
        pass


class MockApi:
    """A threaded server on 127.0.0.1; ``close`` stops it and joins
    its thread."""

    def __init__(self, service_s: float, max_handlers: int):
        self._srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), _Handler)
        self._srv.daemon_threads = True
        self._srv.counters = _Counters()
        self._srv.slots = threading.BoundedSemaphore(max_handlers)
        self._srv.service_s = service_s
        self._thread = threading.Thread(target=self._srv.serve_forever, daemon=True)

    @property
    def base_url(self) -> str:
        return f"http://127.0.0.1:{self._srv.server_address[1]}"

    def start(self) -> "MockApi":
        self._thread.start()
        return self

    def close(self) -> None:
        self._srv.shutdown()
        self._srv.server_close()
        self._thread.join(timeout=5)
