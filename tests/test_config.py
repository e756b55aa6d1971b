"""Config golden tests (ConfigSpec.scala:42-87, AwsConfigSpec.scala:50-133)."""

from __future__ import annotations

import json

import pytest

from snowplow_s3_loader_spark.config import ConfigError, from_dict, load_config
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
