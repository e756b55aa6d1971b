"""Metrics plumbing (O11): query listener captures micro-batch progress;
MetricsState absorbs action-log counts; StatsD emitter produces well-formed
datagrams on a real UDP socket."""

from __future__ import annotations

import socket
import time

from snowplow_s3_loader_spark.streaming.actions import ActionLog
from snowplow_s3_loader_spark.streaming.metrics import (
    LoaderQueryListener,
    MetricsState,
    StatsdEmitter,
)


def test_listener_captures_progress(spark, tmp_path):
    state = MetricsState()
    listener = LoaderQueryListener(state)
    spark.streams.addListener(listener)
    try:
        in_dir = tmp_path / "in"
        in_dir.mkdir()
        (in_dir / "a.csv").write_text("1,2\n3,4\n")
        q = (
            spark.readStream.schema("a int, b int")
            .csv(str(in_dir))
            .writeStream.format("noop")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(60)
        # listener events are delivered async
        for _ in range(50):
            if state.snapshot()["input_rows"] >= 2:
                break
            time.sleep(0.2)
        snap = state.snapshot()
        assert snap["input_rows"] >= 2
        assert snap["batches"] >= 1
        assert snap["latency_millis"] > 0
    finally:
        spark.streams.removeListener(listener)


def test_state_absorbs_action_log():
    """Absorbing is incremental: a second call over the same log adds
    nothing, and actions appended since the last call are picked up."""
    state = MetricsState()
    log = ActionLog()
    log.record("AddedCountMetric", 5)
    log.record("SetE2ELatencyMetric", 1200)
    log.record("AddedCountMetric", 3)
    state.absorb_actions(log)
    state.absorb_actions(log)
    snap = state.snapshot()
    assert snap["count"] == 8
    assert snap["e2e_latency_millis"] == 1200
    log.record("WroteFile", "f.gz", 10)
    log.record("AddedCountMetric", 4)
    log.record("SetE2ELatencyMetric", 800)
    state.absorb_actions(log)
    snap = state.snapshot()
    assert snap["count"] == 12
    assert snap["e2e_latency_millis"] == 800


def test_prometheus_exposition_types():
    """/metrics types the cumulative values as counters, the rest as gauges."""
    import urllib.request

    from snowplow_s3_loader_spark.streaming.health import AppHealth, HealthProbe

    state = MetricsState()
    probe = HealthProbe(AppHealth(), port=0, metrics_snapshot=state.snapshot)
    port = probe.start()
    try:
        body = urllib.request.urlopen(f"http://127.0.0.1:{port}/metrics").read().decode()
    finally:
        probe.stop()
    types = dict(
        line.split()[2:4] for line in body.splitlines() if line.startswith("# TYPE ")
    )
    assert types == {
        "snowplow_loader_count": "counter",
        "snowplow_loader_input_rows": "counter",
        "snowplow_loader_batches": "counter",
        "snowplow_loader_e2e_latency_millis": "gauge",
        "snowplow_loader_latency_millis": "gauge",
    }


def test_statsd_datagrams():
    recv = socket.socket(socket.AF_INET, socket.SOCK_DGRAM)
    recv.bind(("127.0.0.1", 0))
    recv.settimeout(5)
    port = recv.getsockname()[1]

    state = MetricsState()
    log = ActionLog()
    log.record("AddedCountMetric", 7)
    log.record("SetE2ELatencyMetric", 450)
    state.absorb_actions(log)

    emitter = StatsdEmitter("127.0.0.1", port, prefix="test.loader")
    emitter.emit(state)
    got = {recv.recvfrom(1024)[0].decode() for _ in range(4)}
    assert "test.loader.count:7|c" in got
    assert "test.loader.e2e_latency_millis:450|g" in got
    assert any(d.startswith("test.loader.latency_collector_to_load:") for d in got)
    recv.close()


def test_periodic_report_absorbs_actions_without_scrape():
    """The StatsD loop absorbs the action log itself (no /metrics scrape
    needed) and sends `count` as the delta since its previous emit."""
    import threading

    from snowplow_s3_loader_spark.streaming.metrics import periodic_report

    recv = socket.socket(socket.AF_INET, socket.SOCK_DGRAM)
    recv.bind(("127.0.0.1", 0))
    recv.settimeout(5)
    port = recv.getsockname()[1]

    log = ActionLog()
    log.record("AddedCountMetric", 5)
    log.record("AddedCountMetric", 4)
    stop = threading.Event()
    emitter = StatsdEmitter("127.0.0.1", port, prefix="t")
    thread = periodic_report(MetricsState(), emitter, 0.05, stop, actions=log)
    try:
        counts = []
        while len(counts) < 3:
            d = recv.recvfrom(1024)[0].decode()
            if d.startswith("t.count:"):
                counts.append(d)
    finally:
        stop.set()
        thread.join(5)
        recv.close()
    assert counts == ["t.count:9|c", "t.count:0|c", "t.count:0|c"]
