"""HTTP source client behaviour against a local recording server:
the pipelined per-record fan-out (in-flight depth, order, pairing,
one call per key, retries, start pacing) and retries of connections
dropped without a response."""

from __future__ import annotations

import collections
import http.server
import json
import sys
import threading
import time

import pytest

from small_etl_spark.sources.http import (
    FANOUT_DEPTH,
    HttpFetchError,
    _StartPacer,
    fetch_records,
    http_scan,
    parameterized_http_fanout,
)

FAILING_KEY = 13


class _Recorder(http.server.ThreadingHTTPServer):
    daemon_threads = True

    def __init__(self):
        super().__init__(("127.0.0.1", 0), _Handler)
        self.lock = threading.Lock()
        self.reset(service_s=0.0)

    def reset(self, service_s: float) -> None:
        self.service_s = service_s
        self.drop_next = 0
        self.counts: collections.Counter[str] = collections.Counter()
        self.arrivals: list[float] = []
        self.inflight = 0
        self.peak_inflight = 0

    @property
    def url(self) -> str:
        return f"http://127.0.0.1:{self.server_address[1]}"


class _Handler(http.server.BaseHTTPRequestHandler):
    protocol_version = "HTTP/1.1"

    def do_GET(self):  # noqa: N802 - http.server API
        srv = self.server
        with srv.lock:
            srv.arrivals.append(time.monotonic())
            srv.counts[self.path] += 1
            drop = srv.drop_next > 0
            if drop:
                srv.drop_next -= 1
            srv.inflight += 1
            srv.peak_inflight = max(srv.peak_inflight, srv.inflight)
        try:
            if drop:
                # close without sending a status line
                self.close_connection = True
                return
            time.sleep(srv.service_s)
            key = int(self.path.rsplit("/", 1)[1])
            if key == FAILING_KEY:
                self.send_error(500)
                return
            body = json.dumps({"key": key, "label": f"item{key}"}).encode()
            self.send_response(200)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)
        finally:
            with srv.lock:
                srv.inflight -= 1

    def log_message(self, *args):  # silence
        pass


@pytest.fixture(scope="module")
def api():
    srv = _Recorder()
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    yield srv
    srv.shutdown()
    srv.server_close()


def _one_partition(spark, keys):
    return spark.createDataFrame(
        [(k, f"row{k}") for k in keys], "key int, tag string"
    ).coalesce(1)


def test_fanout_keeps_depth_in_flight_order_and_pairing(spark, api):
    api.reset(service_s=0.05)
    keys = [7, 3, 11, 1, 9, 4, 12, 2, 8, 5]
    out = parameterized_http_fanout(
        _one_partition(spark, keys), f"{api.url}/items/{{key}}", rate_limit_ms=0
    ).collect()

    assert api.peak_inflight >= FANOUT_DEPTH >= 2
    sources = [json.loads(r.source_row) for r in out]
    assert [s["key"] for s in sources] == keys
    assert [s["tag"] for s in sources] == [f"row{k}" for k in keys]
    for r, src in zip(out, sources):
        assert json.loads(r.response) == {"key": src["key"], "label": f"item{src['key']}"}
    assert api.counts == {f"/items/{k}": 1 for k in keys}


def test_fanout_failing_key_raises_after_retries(spark, api):
    api.reset(service_s=0.0)
    keys = [1, 2, FAILING_KEY, 4, 5, 6, 7, 8]
    out = parameterized_http_fanout(
        _one_partition(spark, keys),
        f"{api.url}/items/{{key}}",
        rate_limit_ms=0,
        retry_attempts=2,
    )
    with pytest.raises(Exception, match="HttpFetchError"):
        out.collect()
    assert api.counts[f"/items/{FAILING_KEY}"] == 3


def test_fanout_rate_limit_spaces_request_starts(spark, api):
    api.reset(service_s=0.005)
    interval = 0.08
    keys = list(range(20, 28))
    rows = parameterized_http_fanout(
        _one_partition(spark, keys),
        f"{api.url}/items/{{key}}",
        rate_limit_ms=int(interval * 1000),
    ).collect()
    assert len(rows) == len(keys)
    arrivals = sorted(api.arrivals)
    gaps = [b - a for a, b in zip(arrivals, arrivals[1:])]
    # starts are spaced exactly on the client; the server sees each
    # arrival after a connect whose duration varies by a few ms
    jitter = 0.015
    assert min(gaps) >= interval - jitter, gaps
    assert arrivals[-1] - arrivals[0] >= (len(keys) - 1) * interval - jitter


def test_start_pacer_under_thread_contention():
    """More threads than cores share one pacer: a lost update of the
    next start slot would let starts coincide and finish early."""
    interval, threads, calls = 0.002, 16, 10
    pacer = _StartPacer(interval)
    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        start = time.monotonic()
        workers = [
            threading.Thread(target=lambda: [pacer.wait() for _ in range(calls)])
            for _ in range(threads)
        ]
        for w in workers:
            w.start()
        for w in workers:
            w.join(timeout=30)
        elapsed = time.monotonic() - start
    finally:
        sys.setswitchinterval(old)
    assert not any(w.is_alive() for w in workers)
    assert elapsed >= (threads * calls - 1) * interval


def test_fetch_records_retries_dropped_connection(api):
    api.reset(service_s=0.0)
    api.drop_next = 1
    assert fetch_records(f"{api.url}/items/5", retry_attempts=2) == [
        {"key": 5, "label": "item5"}
    ]
    assert api.counts["/items/5"] == 2


def test_dropped_connections_raise_fetch_error_and_fall_back(spark, api):
    api.reset(service_s=0.0)
    api.drop_next = 2
    with pytest.raises(HttpFetchError, match="RemoteDisconnected"):
        fetch_records(f"{api.url}/items/5", retry_attempts=1)
    assert api.counts["/items/5"] == 2

    api.drop_next = 2
    df = http_scan(
        spark,
        f"{api.url}/items/5",
        retry_attempts=1,
        on_failure="use_sample_data",
        sample_data=[{"key": 0, "label": "fallback"}],
    )
    assert [(r.key, r.label) for r in df.collect()] == [(0, "fallback")]
