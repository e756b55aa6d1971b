"""Health probe + app health — O14 (Environment.scala:66-98,
RuntimeService.scala:15-25, core reference.conf:39-42).

Healthy iff neither sink's last call raised and no batch has been in
flight longer than unhealthyLatency (2 min default). As in the
reference, the limit applies to work in flight, so an idle loader on a
quiet stream stays healthy."""

from __future__ import annotations

import http.server
import threading
from dataclasses import dataclass
from time import monotonic

# cumulative metrics of MetricsState.snapshot(); every other value is a gauge
_COUNTERS = frozenset({"count", "input_rows", "batches"})


@dataclass
class AppHealth:
    blob_sink_ok: bool = True
    bad_sink_ok: bool = True
    unhealthy_latency_seconds: float = 120.0
    _batch_started: float | None = None

    def batch_started(self) -> None:
        self._batch_started = monotonic()

    def batch_finished(self) -> None:
        self._batch_started = None

    def is_healthy(self) -> bool:
        if not (self.blob_sink_ok and self.bad_sink_ok):
            return False
        started = self._batch_started
        return started is None or monotonic() - started <= self.unhealthy_latency_seconds


class HealthProbe:
    """Tiny HTTP server: `/` or `/health` -> liveness (reference
    healthProbe.port 8000); `/metrics` -> Prometheus text exposition
    (reference wires a prometheus registry, core reference.conf:36)."""

    def __init__(
        self,
        health: AppHealth,
        port: int = 8000,
        metrics_snapshot=None,
    ):
        self.health = health
        self.port = port
        self.metrics_snapshot = metrics_snapshot  # () -> dict[str, number]
        self._server: http.server.HTTPServer | None = None
        self._thread: threading.Thread | None = None

    def start(self) -> int:
        health = self.health
        snapshot = self.metrics_snapshot

        class Handler(http.server.BaseHTTPRequestHandler):
            def do_GET(self):  # noqa: N802
                if self.path.rstrip("/") == "/metrics":
                    body = "".join(
                        f"# TYPE snowplow_loader_{k} {'counter' if k in _COUNTERS else 'gauge'}\n"
                        f"snowplow_loader_{k} {v}\n"
                        for k, v in (snapshot() if snapshot else {}).items()
                    ).encode()
                    self.send_response(200)
                    self.send_header("Content-Type", "text/plain; version=0.0.4")
                    self.end_headers()
                    self.wfile.write(body)
                    return
                ok = health.is_healthy()
                self.send_response(200 if ok else 503)
                self.end_headers()
                self.wfile.write(b"OK" if ok else b"UNHEALTHY")

            def log_message(self, *a):  # silence
                pass

        self._server = http.server.HTTPServer(("127.0.0.1", self.port), Handler)
        self.port = self._server.server_port
        self._thread = threading.Thread(target=self._server.serve_forever, daemon=True)
        self._thread.start()
        return self.port

    def stop(self) -> None:
        if self._server:
            self._server.shutdown()
            self._server = None
