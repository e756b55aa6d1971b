"""HOCON parser golden tests against the reference's ACTUAL config files
(config/config.aws.{minimal,reference}.hocon, modules/*/resources/
reference.conf, AwsConfigSpec.scala:50-133, Run.scala:35-65).

The reference ships HOCON as its only config format; these tests load the
reference's own files byte-for-byte through the bundled parser and through
load_config into LoaderConfig.
"""

from __future__ import annotations

import os

import pytest

from snowplow_s3_loader_spark import hocon
from snowplow_s3_loader_spark.config import load_config

REF = "/root/reference"
MINIMAL = f"{REF}/config/config.aws.minimal.hocon"
FULL = f"{REF}/config/config.aws.reference.hocon"
CORE_DEFAULTS = f"{REF}/modules/core/src/main/resources/reference.conf"
AWS_DEFAULTS = f"{REF}/modules/aws/src/main/resources/reference.conf"

needs_ref = pytest.mark.skipif(
    not os.path.exists(MINIMAL), reason="reference checkout not present"
)


# ---- raw parser goldens ----


@needs_ref
def test_parse_minimal_golden():
    got = hocon.load(MINIMAL)
    assert got == {
        "license": {"accept": True},
        "input": {"streamName": "snowplow-enriched"},
        "output": {
            "good": {"path": "s3://snowplow-enriched/"},
            "bad": {"streamName": "snowplow-bad"},
        },
        "purpose": "ENRICHED_EVENTS",
    }


@needs_ref
def test_parse_full_reference_golden():
    got = hocon.load(FULL, env={"HOSTNAME": "worker-1"})
    inp = got["input"]
    # comments stripped, nested objects, durations as strings, ${HOSTNAME}
    assert inp["streamName"] == "snowplow-sdjs"
    assert inp["initialPosition"] == {"type": "TRIM_HORIZON"}
    assert inp["retrievalMode"] == {
        "type": "Polling",
        "maxRecords": 750,
        "idleTimeBetweenReads": "1500 millis",
    }
    assert inp["workerIdentifier"] == "worker-1"
    assert inp["maxLeasesToStealAtOneTimeFactor"] == 2.0
    assert inp["debounceCheckpoints"] == "10 seconds"  # unquoted key
    good = got["output"]["good"]
    assert good["partitionFormat"] == (
        "{vendor}.{schema}/model={model}/date={yyyy}-{MM}-{dd}/time={HH}{mm}{ss}"
    )
    assert good["filenamePrefix"] == "pre-"
    bad = got["output"]["bad"]
    assert bad["recordLimit"] == 500 and bad["byteLimit"] == 5242880
    assert got["batching"] == {"maxBytes": 67108864, "maxDelay": "1 minute"}
    assert got["decompression"] == {
        "maxBytesInBatch": 5242880,
        "maxBytesSinglePayload": 10000000,
    }
    statsd = got["monitoring"]["metrics"]["statsd"]
    assert statsd["tags"] == {"env": "prod"}
    assert statsd["period"] == "1 minute"
    assert got["monitoring"]["sentry"]["dsn"] == "https://public@sentry.example.com/1"
    assert got["monitoring"]["healthProbe"]["unhealthyLatency"] == "2 minutes"


@needs_ref
def test_required_substitution_missing_raises():
    # ${HOSTNAME} with no env and no such path in the document must fail
    # loudly, naming the path (HOCON required-substitution semantics).
    with pytest.raises(hocon.HoconError, match="HOSTNAME"):
        hocon.load(FULL, env={})


def _core_stack(tmp_path):
    """core reference.conf references ${snowplow.defaults.*} provided by the
    wider typesafe-config stack; supply that layer and include the REAL file."""
    stack = tmp_path / "core_stack.conf"
    stack.write_text(
        'snowplow.defaults { statsd { "port": 8125 }, prometheus {}, sentry {} }\n'
        'include "core_reference.conf"\n'
    )
    (tmp_path / "core_reference.conf").write_text(open(CORE_DEFAULTS).read())
    return str(stack)


@needs_ref
def test_core_reference_conf_license_fallback(tmp_path):
    """core reference.conf: `accept: "false"` then `accept: ${?ACCEPT_...}` —
    env present overrides, env absent keeps the earlier value."""
    got = hocon.load(_core_stack(tmp_path), env={})
    assert got["license"]["accept"] == "false"
    assert got["batching"] == {"maxBytes": 67108864, "maxDelay": "2 minutes"}
    assert got["monitoring"]["metrics"]["statsd"]["prefix"] == "snowplow.blob.loader.aws"
    got2 = hocon.load(
        _core_stack(tmp_path), env={"ACCEPT_LIMITED_USE_LICENSE": "true"}
    )
    assert got2["license"]["accept"] is True


@needs_ref
def test_aws_reference_conf_defaults_merge(tmp_path):
    """aws reference.conf layers ${snowplow.defaults.*} under its own
    overrides (`input: ${snowplow.defaults.sources.kinesis}` then
    `input: {...}`) and self-references ${input.appName} — exercise the
    object-merge-over-substitution path with a synthetic defaults layer,
    exactly how the reference's typesafe-config stack resolves it."""
    stack = tmp_path / "stack.conf"
    stack.write_text(
        'snowplow.defaults.sources.kinesis { "maxRecords": 750, "leaseDuration": "10 seconds" }\n'
        'snowplow.defaults.sinks.kinesis { "recordLimit": 500 }\n'
        "include \"aws_reference.conf\"\n"
    )
    (tmp_path / "aws_reference.conf").write_text(open(AWS_DEFAULTS).read())
    got = hocon.load(str(stack), env={})
    # defaults layered under the override object
    assert got["input"]["maxRecords"] == 750
    assert got["input"]["appName"] == "snowplow-s3-loader"
    # nested self-substitution resolved through the merged tree
    assert got["input"]["kinesis"]["appName"] == "snowplow-s3-loader"
    assert got["output"]["bad"]["recordLimit"] == 500
    assert got["monitoring"]["metrics"]["statsd"]["prefix"] == "snowplow.s3loader"


@needs_ref
def test_unresolvable_defaults_raise_with_paths():
    with pytest.raises(hocon.HoconError, match="snowplow.defaults"):
        hocon.load(AWS_DEFAULTS, env={})


# ---- end-to-end: reference files through load_config ----


@needs_ref
def test_load_config_minimal_reference_file():
    cfg = load_config(MINIMAL)
    assert cfg.purpose == "ENRICHED_EVENTS"
    assert cfg.license_accept is True
    assert cfg.input.kind == "kinesis"
    assert cfg.input.stream_name == "snowplow-enriched"
    assert cfg.good.path == "s3://snowplow-enriched/"
    assert cfg.bad.kind == "kinesis" and cfg.bad.stream_name == "snowplow-bad"


@needs_ref
def test_load_config_full_reference_file(monkeypatch):
    monkeypatch.setenv("HOSTNAME", "worker-1")
    cfg = load_config(FULL)
    assert cfg.purpose == "SELF_DESCRIBING"
    assert cfg.input.stream_name == "snowplow-sdjs"
    assert cfg.input.app_name == "snowplow-s3-loader"
    assert cfg.input.initial_position == "TRIM_HORIZON"  # nested {type} form
    assert cfg.input.max_records == 750
    assert cfg.good.path == "s3://snowplow-events/"
    assert cfg.good.prefix == "pre-"  # reference key: filenamePrefix
    assert cfg.good.partition_format == (
        "{vendor}.{schema}/model={model}/date={yyyy}-{MM}-{dd}/time={HH}{mm}{ss}"
    )
    assert cfg.batching.max_bytes == 67108864
    assert cfg.batching.max_delay_seconds == 60.0  # "1 minute"
    assert cfg.bad.record_limit == 500 and cfg.bad.byte_limit == 5242880
    assert cfg.decompression.max_bytes_single_payload == 10_000_000
    assert cfg.monitoring.statsd_host == "127.0.0.1"
    assert cfg.monitoring.statsd_port == 8125
    assert cfg.monitoring.metrics_period_seconds == 60.0
    assert cfg.monitoring.health_probe.port == 8000
    assert cfg.monitoring.health_probe.unhealthy_latency_seconds == 120.0


@needs_ref
def test_load_config_core_test_resources():
    """The core module's own test hocons (ConfigSpec fixtures)."""
    ok = load_config(f"{REF}/modules/core/src/test/resources/default_partitioning_sdjs.hocon")
    assert ok.purpose == "SELF_DESCRIBING"
    assert ok.bad.max_record_size == 42
    from snowplow_s3_loader_spark.config import ConfigError

    with pytest.raises(ConfigError, match="partition"):
        load_config(f"{REF}/modules/core/src/test/resources/invalid_partitioning.hocon")


# ---- parser unit semantics (no reference files needed) ----


def test_duplicate_key_deep_merge():
    got = hocon.loads('a { x: 1 }\na { y: 2 }\na.x = 3\n')
    assert got == {"a": {"x": 3, "y": 2}}


def test_optional_substitution_omits_field():
    got = hocon.loads('a: { b: ${?NOPE} }\nc: 1', env={})
    assert got == {"a": {}, "c": 1}


def test_substitution_from_document_path():
    got = hocon.loads('base { name: "x" }\nref: ${base.name}', env={})
    assert got == {"base": {"name": "x"}, "ref": "x"}


def test_unquoted_string_value_runs_to_eol():
    got = hocon.loads("d: 1500 millis\ne: TRIM_HORIZON\n", env={})
    assert got == {"d": "1500 millis", "e": "TRIM_HORIZON"}


def test_env_bool_env_override_parsing(tmp_path, monkeypatch):
    """SNOWPLOW_LICENSE__ACCEPT=false must override a file that accepts the
    licence, and env-provided stream names must flip kind to kinesis
    despite the env layer lowercasing keys."""
    p = tmp_path / "c.json"
    p.write_text(
        '{"license":{"accept":"true"},"purpose":"ENRICHED_EVENTS",'
        '"input":{"path":"/tmp/in"},"output":{"good":{"path":"/tmp/out"},'
        '"bad":{"path":"/tmp/bad"}}}'
    )
    monkeypatch.setenv("SNOWPLOW_LICENSE__ACCEPT", "false")
    monkeypatch.setenv("SNOWPLOW_INPUT__STREAMNAME", "env-stream")
    cfg = load_config(str(p))
    assert cfg.license_accept is False
    assert cfg.input.kind == "kinesis"
    assert cfg.input.stream_name == "env-stream"
