"""End-to-end loader pipeline tests — ports of the reference's 8 scenarios
(ProcessingSpec.scala:48-58) against the action-log harness
(MockEnvironment pattern): e1 enriched happy path, e2 SDJ grouping + bad
rows, e3 maxBytes rollover, e4 flush semantics, e5/e7 compressed envelopes,
e6 corrupt envelope, e8 mixed batch. zstd decodes for real through pyarrow's
bundled codec."""

from __future__ import annotations

import glob
import gzip
import json
import os
from datetime import datetime, timezone

import pytest

from snowplow_s3_loader_spark.config import from_dict
from snowplow_s3_loader_spark.operators.decompression import make_envelope
from snowplow_s3_loader_spark.streaming.actions import normalize_uuid
from snowplow_s3_loader_spark.streaming.pipeline import LoaderPipeline

NOW = datetime(2023, 12, 25, 15, 30, 45, tzinfo=timezone.utc)


def _cfg(tmp_path, purpose="ENRICHED_EVENTS", **over):
    raw = {
        "license": {"accept": "true"},
        "purpose": purpose,
        "input": {"kind": "file", "path": str(tmp_path / "in")},
        "output": {
            "good": {"path": str(tmp_path / "out")},
            "bad": {"kind": "file", "path": str(tmp_path / "bad")},
        },
    }
    for k, v in over.items():
        raw.setdefault(k, {}).update(v) if isinstance(v, dict) else raw.update({k: v})
    return from_dict(raw)


def _pipeline(spark, cfg):
    return LoaderPipeline(
        spark, cfg, now_fn=lambda: NOW, deterministic_uuids=True
    )


def _read_bad_envelopes(bad_dir):
    """Parse every bad-row line the distributed text sink wrote (part files,
    any name; skips _SUCCESS/.crc markers)."""
    rows = []
    for path in sorted(glob.glob(os.path.join(bad_dir, "**", "*"), recursive=True)):
        base = os.path.basename(path)
        if not os.path.isfile(path) or base.startswith(("_", ".")) or base.endswith(".crc"):
            continue
        with open(path) as f:
            rows += [json.loads(line) for line in f if line.strip()]
    return rows


def _payload_df(spark, payloads):
    return spark.createDataFrame([(bytearray(p),) for p in payloads], "payload binary")


def _lines_df(spark, lines):
    """Plain records, one line each, in the source shape (binary payload)."""
    return _payload_df(spark, [line.encode() for line in lines])


def _read_gz_files(base):
    out = {}
    for path in sorted(glob.glob(os.path.join(base, "**", "*.gz"), recursive=True)):
        with gzip.open(path, "rt") as f:
            out[os.path.relpath(path, base)] = f.read()
    return out


def _enriched(collector="2023-12-25 15:30:40", app="app1"):
    fields = [app, "web", "", collector] + [""] * 127
    return "\t".join(fields)


# ---- e1: enriched happy path -------------------------------------------------


def test_e1_enriched_happy_path(spark, tmp_path):
    cfg = _cfg(tmp_path)
    p = _pipeline(spark, cfg)
    lines = [_enriched(), _enriched(collector="2023-12-25 15:30:41")]
    p.run_batch(_lines_df(spark, lines))

    # action ordering: WroteFile* -> AddedCountMetric -> SetE2ELatency -> Checkpointed
    assert p.actions.kinds() == [
        "WroteFile",
        "AddedCountMetric",
        "SetE2ELatencyMetric",
        "Checkpointed",
    ]
    assert p.actions.of_kind("AddedCountMetric")[0].detail == (2,)
    # e2e latency = now - earliest collector_tstamp = 5s
    assert p.actions.of_kind("SetE2ELatencyMetric")[0].detail == (5000,)

    files = _read_gz_files(cfg.good.path)
    assert len(files) == 1
    [(path, content)] = files.items()
    # filename pattern <yyyy-MM-dd-HHmmss>-<uuid>.gz, UUID normalized
    assert normalize_uuid(path) == "2023-12-25-153045-xxxx.gz"
    # verbatim passthrough, newline-terminated including trailing newline
    assert sorted(content.splitlines()) == sorted(lines)
    assert content.endswith("\n")


# ---- e2: SDJ grouping + bad rows --------------------------------------------


def test_e2_sdj_grouping_and_bad_rows(spark, tmp_path):
    cfg = _cfg(tmp_path, purpose="SELF_DESCRIBING")
    p = _pipeline(spark, cfg)
    lines = [
        '{"schema": "iglu:com.example/event1/jsonschema/1-0-0", "data": {"a": 1}}',
        '{"schema": "iglu:com.example/event1/jsonschema/1-0-0", "data": {"a": 2}}',
        '{"schema": "iglu:com.example/event2/jsonschema/1-0-0", "data": {}}',
        '{"data": {"field": "value"}}',
    ]
    p.run_batch(_lines_df(spark, lines))

    files = _read_gz_files(cfg.good.path)
    # one file per schema key, under the default SDJ template {vendor}.{schema}
    assert len(files) == 2
    dirs = sorted(os.path.dirname(k) for k in files)
    assert dirs == ["com.example.event1", "com.example.event2"]
    ev1 = files[[k for k in files if "event1" in k][0]]
    assert sorted(ev1.splitlines()) == sorted(lines[:2])

    # bad row sent and logged after metrics
    kinds = p.actions.kinds()
    # SDJ purpose has no collector_tstamp -> no e2e latency metric action
    assert kinds.index("SentToBad") > kinds.index("AddedCountMetric")
    assert kinds[-1] == "Checkpointed"
    envelopes = _read_bad_envelopes(cfg.bad.path)
    assert len(envelopes) == 1
    envelope = envelopes[0]
    assert "badrows/generic_error/" in envelope["schema"]
    assert "Can't extract schema" in envelope["data"]["failure"]["errors"][0]


# ---- e3: maxBytes rollover ---------------------------------------------------


def test_e3_maxbytes_rollover(spark, tmp_path):
    cfg = _cfg(tmp_path, batching={"maxBytes": 400, "maxDelay": "1 minute"})
    p = _pipeline(spark, cfg)
    lines = [_enriched(app=f"app-{i:03d}") for i in range(50)]
    p.run_batch(_lines_df(spark, lines))

    files = _read_gz_files(cfg.good.path)
    assert len(files) > 1  # soft byte cap split the batch into multiple files
    all_lines = sorted(l for c in files.values() for l in c.splitlines())
    assert all_lines == sorted(lines)  # no loss, no duplication


# ---- e5/e7: compressed envelopes --------------------------------------------


def test_e5_gzip_envelope_expands(spark, tmp_path):
    cfg = _cfg(tmp_path)
    p = _pipeline(spark, cfg)
    recs = [_enriched().encode(), _enriched(collector="2023-12-25 15:30:41").encode()]
    p.run_batch(_payload_df(spark, [make_envelope(recs, "gzip")]))

    files = _read_gz_files(cfg.good.path)
    assert len(files) == 1
    content = next(iter(files.values()))
    assert sorted(content.splitlines()) == sorted(r.decode() for r in recs)
    assert p.actions.of_kind("AddedCountMetric")[0].detail == (2,)


def test_e8_mixed_plain_and_gzip(spark, tmp_path):
    cfg = _cfg(tmp_path)
    p = _pipeline(spark, cfg)
    plain = _enriched(app="plain")
    recs = [_enriched(app="z1").encode(), _enriched(app="z2").encode()]
    p.run_batch(_payload_df(spark, [plain.encode(), make_envelope(recs, "gzip")]))

    files = _read_gz_files(cfg.good.path)
    all_lines = sorted(l for c in files.values() for l in c.splitlines())
    assert all_lines == sorted([plain] + [r.decode() for r in recs])
    assert p.actions.of_kind("AddedCountMetric")[0].detail == (3,)


# ---- e6: corrupt envelope -> LoaderParsingError ------------------------------


def test_e6_corrupt_envelope_bad_row(spark, tmp_path):
    cfg = _cfg(tmp_path)
    p = _pipeline(spark, cfg)
    # declared record length 10 but only 3 bytes present
    # (ProcessingSpec.scala:273-285)
    corrupt = gzip.compress(b"\x01\x01" + b"\x00\x00\x00\x0a" + b"abc")
    p.run_batch(_payload_df(spark, [corrupt]))

    assert _read_gz_files(cfg.good.path) == {}  # zero events
    assert p.actions.of_kind("AddedCountMetric")[0].detail == (0,)
    (envelope,) = _read_bad_envelopes(cfg.bad.path)
    assert "badrows/loader_parsing_error/" in envelope["schema"]
    failure = envelope["data"]["failure"]
    assert failure["type"] == "RowDecodingError"
    assert "Cannot decompress record" in failure["errors"][0]["message"]
    assert p.actions.kinds()[-1] == "Checkpointed"


# ---- e4: streaming flush via trigger ----------------------------------------


def test_e4_streaming_flush(spark, tmp_path):
    cfg = _cfg(tmp_path)
    p = _pipeline(spark, cfg)
    in_dir = tmp_path / "in"
    in_dir.mkdir()
    (in_dir / "batch1.txt").write_text(_enriched() + "\n" + _enriched(app="app2") + "\n")

    from snowplow_s3_loader_spark.sources.streams import file_stream

    source = file_stream(spark, str(in_dir))
    query = (
        source.writeStream.foreachBatch(p.load_batch)
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    query.awaitTermination(120)

    files = _read_gz_files(cfg.good.path)
    assert len(files) == 1
    assert p.actions.of_kind("AddedCountMetric")[0].detail == (2,)
    assert p.actions.kinds()[-1] == "Checkpointed"

    # restart with same checkpoint: no reprocessing (offsets committed)
    p2 = _pipeline(spark, cfg)
    q2 = (
        file_stream(spark, str(in_dir))
        .writeStream.foreachBatch(p2.load_batch)
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q2.awaitTermination(120)
    assert p2.actions.of_kind("WroteFile") == []


@pytest.mark.parametrize("seconds, ms", [(0.5, 500), (1.5, 1500), (120, 120_000)])
def test_trigger_interval_keeps_fractional_max_delay(spark, seconds, ms):
    """maxDelay reaches the processing-time trigger in milliseconds, as
    Spark parses it: 0.5 s is not truncated to a zero-interval trigger."""
    from snowplow_s3_loader_spark.streaming.pipeline import trigger_interval

    trigger = spark._jvm.org.apache.spark.sql.streaming.Trigger.ProcessingTime(
        trigger_interval(seconds)
    )
    assert trigger.intervalMs() == ms


# ---- oversize payload guard --------------------------------------------------


def test_oversize_payload_dropped(spark, tmp_path):
    cfg = _cfg(tmp_path)
    cfg.decompression.max_bytes_single_payload = 50
    p = _pipeline(spark, cfg)
    big = make_envelope([b"x" * 100], "gzip")
    p.run_batch(_payload_df(spark, [big]))
    assert _read_gz_files(cfg.good.path) == {}
    (envelope,) = _read_bad_envelopes(cfg.bad.path)
    assert "badrows/loader_parsing_error/" in envelope["schema"]


# ---- streaming envelope ingestion (binaryFile source) ------------------------


def test_streaming_envelope_binary_source(spark, tmp_path):
    """e5 in streaming mode: gzip envelopes as whole binary files through the
    real writeStream pipeline."""
    from snowplow_s3_loader_spark.sources.streams import binary_file_stream

    cfg = _cfg(tmp_path)
    p = _pipeline(spark, cfg)
    in_dir = tmp_path / "bin_in"
    in_dir.mkdir()
    recs = [_enriched(app="s1").encode(), _enriched(app="s2").encode()]
    (in_dir / "env1.bin").write_bytes(make_envelope(recs, "gzip"))

    q = (
        binary_file_stream(spark, str(in_dir))
        .writeStream.foreachBatch(p.load_batch)
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt_bin"))
        .start()
    )
    q.awaitTermination(120)

    files = _read_gz_files(cfg.good.path)
    all_lines = sorted(l for c in files.values() for l in c.splitlines())
    assert all_lines == sorted(r.decode() for r in recs)
    assert p.actions.of_kind("AddedCountMetric")[0].detail == (2,)


# ---- e5/e6 zstd: envelope expansion + corruption -----------------------------


@pytest.mark.parametrize("codec", ["zstd", "zstd-stream"])
def test_e5_zstd_envelope_expands(spark, tmp_path, codec):
    """zstd envelope roundtrip matches the gzip golden (ProcessingSpec e5,
    ProcessingSpec.scala:163-256). Covers both one-shot frames (content-size
    header present) and streaming frames (header absent, zstd-jni style)."""
    cfg = _cfg(tmp_path)
    p = _pipeline(spark, cfg)
    recs = [_enriched().encode(), _enriched(collector="2023-12-25 15:30:41").encode()]
    p.run_batch(_payload_df(spark, [make_envelope(recs, codec)]))

    files = _read_gz_files(cfg.good.path)
    assert len(files) == 1
    content = next(iter(files.values()))
    assert sorted(content.splitlines()) == sorted(r.decode() for r in recs)
    assert p.actions.of_kind("AddedCountMetric")[0].detail == (2,)


def test_e6_corrupt_zstd_bad_row(spark, tmp_path):
    """A zstd-magic payload with garbage body surfaces as a
    LoaderParsingError-style bad row, not a crash."""
    from snowplow_s3_loader_spark.operators.decompression import ZSTD_MAGIC

    cfg = _cfg(tmp_path)
    p = _pipeline(spark, cfg)
    p.run_batch(_payload_df(spark, [ZSTD_MAGIC + b"garbage"]))
    assert _read_gz_files(cfg.good.path) == {}
    (envelope,) = _read_bad_envelopes(cfg.bad.path)
    assert "badrows/loader_parsing_error/" in envelope["schema"]
    assert "Cannot decompress record" in envelope["data"]["failure"]["errors"][0]["message"]


# ---- health ------------------------------------------------------------------


def test_health_probe(spark, tmp_path):
    import urllib.request

    from snowplow_s3_loader_spark.streaming.health import AppHealth, HealthProbe

    health = AppHealth()
    probe = HealthProbe(health, port=0)
    port = probe.start()
    try:
        assert urllib.request.urlopen(f"http://127.0.0.1:{port}/health").status == 200
        health.blob_sink_ok = False
        with pytest.raises(urllib.error.HTTPError) as exc:
            urllib.request.urlopen(f"http://127.0.0.1:{port}/health")
        assert exc.value.code == 503
    finally:
        probe.stop()


def test_health_blames_the_failing_sink_until_its_next_success(spark, tmp_path):
    """A failed bad-row send marks the bad sink unhealthy, not the blob
    sink, and the probe answers 503; the bad sink's next successful send
    brings it back to 200."""
    import urllib.error
    import urllib.request

    from snowplow_s3_loader_spark.sinks.bad_sink import FileBadSink
    from snowplow_s3_loader_spark.streaming.health import HealthProbe

    class FlakyBadSink(FileBadSink):
        fail = True

        def send_df(self, df, row_col="row"):
            if self.fail:
                raise OSError("bad sink down")
            return super().send_df(df, row_col)

    cfg = _cfg(tmp_path)
    sink = FlakyBadSink(str(tmp_path / "bad"))
    p = LoaderPipeline(spark, cfg, bad_sink=sink, now_fn=lambda: NOW)
    probe = HealthProbe(p.health, port=0)
    port = probe.start()

    def status():
        try:
            return urllib.request.urlopen(f"http://127.0.0.1:{port}/health").status
        except urllib.error.HTTPError as e:
            return e.code

    try:
        with pytest.raises(OSError, match="bad sink down"):
            p.run_batch(_lines_df(spark, [_enriched()]))
        assert p.actions.kinds()[0] == "WroteFile"  # the good write succeeded
        assert p.health.blob_sink_ok and not p.health.bad_sink_ok
        assert status() == 503
        sink.fail = False
        p.run_batch(_lines_df(spark, [_enriched(app="app2")]))
        assert p.health.blob_sink_ok and p.health.bad_sink_ok
        assert status() == 200
    finally:
        probe.stop()


def test_health_fails_on_batch_in_flight_past_unhealthy_latency(spark, tmp_path, monkeypatch):
    """unhealthyLatency bounds how long a batch may stay in flight: the
    probe answers 503 while one runs past it, and 200 once it finishes,
    however long the loader then idles."""
    import threading
    import urllib.error
    import urllib.request

    from snowplow_s3_loader_spark.sinks.bad_sink import FileBadSink
    from snowplow_s3_loader_spark.streaming import health as health_mod

    clock = [1000.0]
    monkeypatch.setattr(health_mod, "monotonic", lambda: clock[0])
    entered, release = threading.Event(), threading.Event()

    class BlockingBadSink(FileBadSink):
        def send_df(self, df, row_col="row"):
            entered.set()
            assert release.wait(120)
            return super().send_df(df, row_col)

    cfg = _cfg(tmp_path, monitoring={"healthProbe": {"unhealthyLatency": "30 seconds"}})
    p = LoaderPipeline(
        spark, cfg, bad_sink=BlockingBadSink(str(tmp_path / "bad")), now_fn=lambda: NOW
    )
    # what app.main does with the configured value
    p.health.unhealthy_latency_seconds = cfg.monitoring.health_probe.unhealthy_latency_seconds
    probe = health_mod.HealthProbe(p.health, port=0)
    port = probe.start()

    def status():
        try:
            return urllib.request.urlopen(f"http://127.0.0.1:{port}/health").status
        except urllib.error.HTTPError as e:
            return e.code

    batch = threading.Thread(target=p.run_batch, args=(_lines_df(spark, [_enriched()]),))
    batch.start()
    try:
        assert entered.wait(120)
        clock[0] += 29
        assert status() == 200  # in flight, within the limit
        clock[0] += 2
        assert status() == 503  # in flight past the limit
        release.set()
        batch.join(120)
        assert not batch.is_alive()
        assert p.actions.kinds()[-1] == "Checkpointed"
        assert status() == 200  # finished
        clock[0] += 3600
        assert status() == 200  # idle for an hour
    finally:
        release.set()
        probe.stop()


# ---- job census: the fixed per-batch cost -----------------------------------


def test_sdj_batch_with_salted_hot_partition_runs_at_most_6_jobs(spark, tmp_path, spark_jobs):
    """One SDJ batch whose hot partition is salted over several files, with
    bad rows: one sizing aggregate, the staged write, the bad-row send and a
    driver-side promotion add up to at most 6 Spark jobs."""
    cfg = _cfg(tmp_path, purpose="SELF_DESCRIBING", batching={"maxBytes": 2000})
    p = _pipeline(spark, cfg)
    hot = [
        f'{{"schema": "iglu:com.example/hot/jsonschema/1-0-0", "data": {{"n": {i}}}}}'
        for i in range(600)
    ]
    cold = ['{"schema": "iglu:com.example/cold/jsonschema/1-0-0", "data": {}}']
    bad = ['{"data": {}}', "not json"]
    _, jobs = spark_jobs(lambda: p.run_batch(_lines_df(spark, hot + cold + bad)))
    assert len(jobs) <= 6, jobs

    files = _read_gz_files(cfg.good.path)
    hot_files = [k for k in files if k.startswith("com.example.hot/")]
    assert len(hot_files) > 1  # the salted path ran
    assert sorted(l for c in files.values() for l in c.splitlines()) == sorted(hot + cold)
    assert p.actions.of_kind("SentToBad")[0].detail[0] == 2


def test_enriched_batch_runs_at_most_6_jobs(spark, tmp_path, spark_jobs):
    """An ENRICHED batch with no bad row still sends (an empty) bad-row
    frame, and the whole batch runs at most 6 Spark jobs."""
    cfg = _cfg(tmp_path)
    p = _pipeline(spark, cfg)
    lines = [_enriched(app=f"app-{i}") for i in range(20)]
    _, jobs = spark_jobs(lambda: p.run_batch(_lines_df(spark, lines)))
    assert len(jobs) <= 6, jobs
    assert p.actions.kinds() == [
        "WroteFile",
        "AddedCountMetric",
        "SetE2ELatencyMetric",
        "Checkpointed",
    ]
