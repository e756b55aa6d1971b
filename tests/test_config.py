"""Config golden tests (ConfigSpec.scala:42-87, AwsConfigSpec.scala:50-133)."""

from __future__ import annotations

import json

import pytest

from snowplow_s3_loader_spark.config import (
    ConfigError,
    MonitoringConfig,
    from_dict,
    load_config,
)
from snowplow_s3_loader_spark.dynamic_path import DEFAULT_SDJ_TEMPLATE


def _minimal(**over):
    raw = {
        "license": {"accept": "true"},
        "purpose": "ENRICHED_EVENTS",
        "input": {"streamName": "enriched"},
        "output": {
            "good": {"path": "s3://bucket/out"},
            "bad": {"streamName": "bad"},
        },
    }
    raw.update(over)
    return raw


def test_minimal_defaults():
    cfg = from_dict(_minimal())
    # defaulting ladder mirrors core reference.conf
    assert cfg.batching.max_bytes == 67_108_864
    assert cfg.batching.max_delay_seconds == 120.0
    assert cfg.decompression.max_bytes_in_batch == 5_242_880
    assert cfg.decompression.max_bytes_single_payload == 10_000_000
    assert cfg.bad.max_record_size == 1_000_000
    assert cfg.bad.record_limit == 500 and cfg.bad.byte_limit == 5_242_880
    assert cfg.monitoring.health_probe.port == 8000
    assert cfg.monitoring.health_probe.unhealthy_latency_seconds == 120.0
    assert cfg.input.kind == "kinesis"
    assert cfg.bad.kind == "kinesis"
    # the reference's parallelism and compression keys still decode, to
    # nothing: gzip is the only blob codec and Spark sizes its own tasks
    raw = _minimal(cpuParallelismFactor=1.5, uploadParallelismFactor=3)
    raw["output"]["good"]["compressionType"] = "gzip"
    assert from_dict(raw) == cfg


def test_pipeline_builds_the_configured_bad_sink(spark, tmp_path):
    from snowplow_s3_loader_spark.sinks.bad_sink import FileBadSink, KinesisBadSink
    from snowplow_s3_loader_spark.streaming.pipeline import LoaderPipeline

    raw = _minimal()
    raw["input"]["region"] = "eu-central-1"
    raw["output"]["bad"].update(recordLimit=200, byteLimit=1_000_000)
    sink = LoaderPipeline(spark, from_dict(raw)).bad_sink
    assert isinstance(sink, KinesisBadSink)
    assert (sink.stream_name, sink.region, sink.record_limit, sink.byte_limit) == (
        "bad", "eu-central-1", 200, 1_000_000
    )
    raw["output"]["bad"] = {"kind": "file", "path": str(tmp_path / "bad")}
    sink = LoaderPipeline(spark, from_dict(raw)).bad_sink
    assert sink == FileBadSink(str(tmp_path / "bad"))


def test_duration_parsing():
    cfg = from_dict(_minimal(batching={"maxBytes": 1000, "maxDelay": "1 minute"}))
    assert cfg.batching.max_delay_seconds == 60.0


def test_invalid_partitioning_rejected():
    raw = _minimal()
    raw["output"]["good"]["partitionFormat"] = "{vendor}/{schema}"
    with pytest.raises(ConfigError, match="Enriched events can only get partitioned"):
        from_dict(raw)


def test_sdj_default_partition_format():
    raw = _minimal(purpose="SELF_DESCRIBING")
    cfg = from_dict(raw)
    assert cfg.good.partition_format == DEFAULT_SDJ_TEMPLATE


def test_missing_good_path():
    raw = _minimal()
    raw["output"]["good"].pop("path")
    with pytest.raises(ConfigError, match="output.good.path"):
        from_dict(raw)


def test_load_json_file_and_env_override(tmp_path, monkeypatch):
    p = tmp_path / "config.json"
    p.write_text(json.dumps(_minimal()))
    monkeypatch.setenv("SNOWPLOW_BATCHING__MAXDELAY", "30 seconds")
    cfg = load_config(str(p))
    assert cfg.batching.max_delay_seconds == 30.0


def test_statsd_prefix_decoded_from_reference_key():
    raw = _minimal(
        monitoring={"metrics": {"statsd": {"hostname": "h", "prefix": "snowplow.s3loader"}}}
    )
    assert from_dict(raw).monitoring.statsd_prefix == "snowplow.s3loader"
    default = MonitoringConfig().statsd_prefix
    assert from_dict(_minimal()).monitoring.statsd_prefix == default


def test_at_timestamp_start_keeps_its_timestamp():
    from snowplow_s3_loader_spark.sources.kinesis_source import KinesisPollingReader
    from snowplow_s3_loader_spark.testing.fake_kinesis import FakeKinesisClient

    raw = _minimal()
    raw["input"]["initialPosition"] = {
        "type": "AT_TIMESTAMP",
        "timestamp": "2026-01-01T00:00:02+00:00",
    }
    inp = from_dict(raw).input
    assert inp.initial_position == "AT_TIMESTAMP"
    c = FakeKinesisClient("enriched")
    for i in range(4):
        c.put("shardId-0", f"r{i}".encode())  # arrivals epoch+1s .. epoch+4s
    # the option set kinesis_stream hands the reader
    r = KinesisPollingReader(
        {
            "streamName": inp.stream_name,
            "initialPosition": inp.initial_position,
            "maxRecords": str(inp.max_records),
            **{k: str(v) for k, v in inp.options.items()},
        }
    )
    r._client = c
    rows, _ = r.read(r.initialOffset())
    assert [row[0] for row in rows] == [b"r1", b"r2", b"r3"]
    # an explicit reader option wins over the nested timestamp
    raw["input"]["options"] = {"initialTimestamp": "2026-01-01T00:00:04+00:00"}
    assert from_dict(raw).input.options == {
        "initialTimestamp": "2026-01-01T00:00:04+00:00"
    }


def _app_config(tmp_path, accept: str) -> str:
    raw = _minimal(license={"accept": accept})
    raw["input"] = {"kind": "file", "path": str(tmp_path / "in")}
    raw["output"]["bad"] = {"kind": "file", "path": str(tmp_path / "bad")}
    p = tmp_path / f"config_{accept}.json"
    p.write_text(json.dumps(raw))
    return str(p)


class _SparkReached(Exception):
    pass


def test_app_refuses_to_start_without_license_acceptance(tmp_path, monkeypatch):
    from snowplow_s3_loader_spark import app

    def get_spark(**_kw):
        raise _SparkReached

    monkeypatch.setattr(app, "get_spark", get_spark)
    monkeypatch.delenv("SNOWPLOW_LICENSE__ACCEPT", raising=False)
    assert app.main(["--config", _app_config(tmp_path, "false")]) == 2
    with pytest.raises(_SparkReached):
        app.main(["--config", _app_config(tmp_path, "true")])
    # the env override accepts over a file that does not
    monkeypatch.setenv("SNOWPLOW_LICENSE__ACCEPT", "true")
    with pytest.raises(_SparkReached):
        app.main(["--config", _app_config(tmp_path, "false")])
