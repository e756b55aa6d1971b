"""Metrics — O11 (Metrics.scala:24-49: counter `count`, timers
`latency_millis` / `e2e_latency_millis`, legacy gauge
`latency_collector_to_load`; periodic StatsD report core reference.conf:30-38).

Spark-side: a StreamingQueryListener captures per-batch progress (input rows,
batch duration) and merges the pipeline's action log (count + e2e latency
actions); an optional StatsD emitter ships them over UDP (plain-text StatsD
datagrams — no client lib needed)."""

from __future__ import annotations

import socket
import threading
from dataclasses import dataclass, field

from pyspark.sql.streaming import StreamingQueryListener

from snowplow_s3_loader_spark.streaming.actions import ActionLog


@dataclass
class MetricsState:
    count: int = 0
    e2e_latency_ms: int = 0
    batch_latency_ms: float = 0.0
    input_rows: int = 0
    batches: int = 0
    _absorbed: int = field(default=0, repr=False)  # action-log entries folded in
    _lock: threading.Lock = field(default_factory=threading.Lock, repr=False)

    def snapshot(self) -> dict:
        with self._lock:
            return {
                "count": self.count,
                "e2e_latency_millis": self.e2e_latency_ms,
                "latency_millis": self.batch_latency_ms,
                "input_rows": self.input_rows,
                "batches": self.batches,
            }

    def absorb_actions(self, log: ActionLog) -> None:
        """Fold in the actions appended to `log` since the last call, so a
        scrape or emit costs the new actions only, not the whole log."""
        with self._lock:
            new = log.actions[self._absorbed :]
            self._absorbed += len(new)
            for a in new:
                if a.kind == "AddedCountMetric":
                    self.count += a.detail[0]
                elif a.kind == "SetE2ELatencyMetric":
                    self.e2e_latency_ms = a.detail[0]


class LoaderQueryListener(StreamingQueryListener):
    """Captures micro-batch progress: numInputRows + batch duration."""

    def __init__(self, state: MetricsState):
        self.state = state

    def onQueryStarted(self, event):  # noqa: N802
        pass

    def onQueryProgress(self, event):  # noqa: N802
        p = event.progress
        with self.state._lock:
            self.state.input_rows += p.numInputRows
            self.state.batches += 1
            self.state.batch_latency_ms = p.batchDuration

    def onQueryTerminated(self, event):  # noqa: N802
        pass

    def onQueryIdle(self, event):  # noqa: N802
        pass


class StatsdEmitter:
    """Plain-UDP StatsD datagrams: '<prefix>.<name>:<value>|<type>'.

    StatsD `|c` counters are additive on the server, so `count` goes out as
    the delta since this emitter's previous emit, not the running total."""

    def __init__(self, host: str, port: int = 8125, prefix: str = "snowplow.blob.loader.spark"):
        self.addr = (host, port)
        self.prefix = prefix
        self.sock = socket.socket(socket.AF_INET, socket.SOCK_DGRAM)
        self._emitted_count = 0

    def emit(self, state: MetricsState) -> None:
        snap = state.snapshot()
        total = snap["count"]
        snap["count"] = total - self._emitted_count
        self._emitted_count = total
        for name, mtype in (
            ("count", "c"),
            ("e2e_latency_millis", "g"),
            ("latency_millis", "g"),
            ("latency_collector_to_load", "g"),  # legacy gauge (Metrics.scala:44)
        ):
            value = snap.get(name, snap["e2e_latency_millis"])
            self.sock.sendto(
                f"{self.prefix}.{name}:{value}|{mtype}".encode(), self.addr
            )


def periodic_report(
    state: MetricsState,
    emitter: StatsdEmitter,
    period_seconds: float,
    stop_event: threading.Event,
    actions: ActionLog | None = None,
) -> threading.Thread:
    """Reference's concurrent metrics.report loop (Run.scala:76). The
    pipeline's action log, when given, is absorbed before every emit, so
    the report does not depend on anything scraping /metrics."""

    def _loop():
        while not stop_event.wait(period_seconds):
            if actions is not None:
                state.absorb_actions(actions)
            emitter.emit(state)

    t = threading.Thread(target=_loop, daemon=True)
    t.start()
    return t
