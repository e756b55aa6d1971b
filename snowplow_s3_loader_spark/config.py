"""Typed config model + loading/validation — O16/O9 of the reference
(Config.scala:28-123, Run.scala:35-65, core reference.conf defaults).

Defaulting ladder mirrors the reference: built-in defaults (the reference's
reference.conf values) <- user config file (JSON, or HOCON via the bundled
parser in hocon.py) <- environment-variable overrides. Validation hooks run
at decode time, including the partition-format rule (Config.scala:122 ->
DynamicPath.validatePartitionFormat). The reference's cpuParallelismFactor,
uploadParallelismFactor and compressionType keys are accepted and ignored:
Spark sizes its own tasks and gzip is the only blob codec.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field
from typing import Any

from snowplow_s3_loader_spark.dynamic_path import validate_partition_format

PURPOSES = ("ENRICHED_EVENTS", "SELF_DESCRIBING")


class ConfigError(ValueError):
    pass


@dataclass
class InputConfig:
    """Source config (reference config.aws.reference.hocon:7-64)."""

    kind: str = "file"  # file | kinesis
    stream_name: str | None = None
    app_name: str = "snowplow-s3-loader-spark"
    initial_position: str = "TRIM_HORIZON"  # TRIM_HORIZON | LATEST | AT_TIMESTAMP
    path: str | None = None  # file source directory
    max_records: int = 750  # Polling retrieval maxRecords (hocon:32)
    region: str | None = None
    # python kinesis source: "module:callable" building the wire client
    # (None -> boto3); extra reader options passed through verbatim
    client_factory: str | None = None
    options: dict = field(default_factory=dict)


@dataclass
class GoodOutputConfig:
    """Blob output (reference Config.scala:55-60, S3Sink)."""

    path: str = ""
    prefix: str = ""
    partition_format: str | None = None


@dataclass
class BadOutputConfig:
    """Dead-letter stream output (reference Config.scala:63-67)."""

    kind: str = "file"  # file | kinesis
    stream_name: str | None = None
    path: str | None = None
    max_record_size: int = 1_000_000  # AwsConfigSpec.scala:115
    record_limit: int = 500  # PutRecords cap (hocon:96)
    byte_limit: int = 5_242_880  # PutRecords cap (hocon:99)


@dataclass
class BatchingConfig:
    """Size+time batch window (reference.conf:21-22)."""

    max_bytes: int = 67_108_864
    max_delay_seconds: float = 120.0


@dataclass
class DecompressionConfig:
    """Envelope decompression guards (reference.conf:27-28)."""

    max_bytes_in_batch: int = 5_242_880
    max_bytes_single_payload: int = 10_000_000


@dataclass
class HealthProbeConfig:
    port: int = 8000  # reference.conf:40
    unhealthy_latency_seconds: float = 120.0  # reference.conf:41


@dataclass
class MonitoringConfig:
    metrics_period_seconds: float = 60.0
    statsd_host: str | None = None
    statsd_port: int = 8125
    statsd_prefix: str = "snowplow.blob.loader.spark"
    health_probe: HealthProbeConfig = field(default_factory=HealthProbeConfig)


@dataclass
class LoaderConfig:
    purpose: str = "ENRICHED_EVENTS"
    input: InputConfig = field(default_factory=InputConfig)
    good: GoodOutputConfig = field(default_factory=GoodOutputConfig)
    bad: BadOutputConfig = field(default_factory=BadOutputConfig)
    batching: BatchingConfig = field(default_factory=BatchingConfig)
    decompression: DecompressionConfig = field(default_factory=DecompressionConfig)
    monitoring: MonitoringConfig = field(default_factory=MonitoringConfig)
    checkpoint_location: str | None = None
    license_accept: bool = False

    def validate(self) -> "LoaderConfig":
        if self.purpose not in PURPOSES:
            raise ConfigError(f"purpose must be one of {PURPOSES}, got {self.purpose!r}")
        resolved, err = validate_partition_format(self.purpose, self.good.partition_format)
        if err:
            raise ConfigError(err)
        self.good.partition_format = resolved
        if not self.good.path:
            raise ConfigError("output.good.path is required")
        if self.batching.max_bytes <= 0 or self.batching.max_delay_seconds <= 0:
            raise ConfigError("batching.maxBytes and maxDelay must be positive")
        return self


def _merge(base: dict, override: dict) -> dict:
    out = dict(base)
    for k, v in override.items():
        if isinstance(v, dict) and isinstance(out.get(k), dict):
            out[k] = _merge(out[k], v)
        else:
            out[k] = v
    return out


def _duration_seconds(v: Any) -> float:
    """Parse '2 minutes' / '90 seconds' / numeric-seconds durations
    (HOCON-style, as in reference.conf:22)."""
    if isinstance(v, (int, float)):
        return float(v)
    s = str(v).strip().lower()
    parts = s.split()
    if len(parts) == 2:
        n = float(parts[0])
        unit = parts[1].rstrip("s")
        mult = {"millisecond": 0.001, "milli": 0.001, "ms": 0.001, "second": 1,
                "sec": 1, "minute": 60, "min": 60, "hour": 3600, "day": 86400}.get(unit)
        if mult:
            return n * mult
    try:
        return float(s)
    except ValueError as e:
        raise ConfigError(f"cannot parse duration: {v!r}") from e


class _CI(dict):
    """Case-insensitive view over a config mapping, so env-var overrides
    (uppercased by the shell, lowered by our parser) still hit camelCase
    keys from the file layer."""

    def get(self, key, default=None):
        if super().__contains__(key):
            v = super().__getitem__(key)
        else:
            lowered = {k.lower(): v for k, v in self.items()}
            v = lowered.get(key.lower(), default)
        return _CI(v) if isinstance(v, dict) and not isinstance(v, _CI) else v

    def __contains__(self, key) -> bool:  # env layer lowercases keys
        return super().__contains__(key) or key.lower() in {
            k.lower() for k in self.keys()
        }


def _bool(v: Any) -> bool:
    """Parse booleans that may arrive as env-var strings ('false' is falsy)."""
    if isinstance(v, bool):
        return v
    return str(v).strip().lower() in ("true", "1", "yes", "on")


def from_dict(raw: dict) -> LoaderConfig:
    """Decode a raw (already merged) config mapping into LoaderConfig."""
    raw = _CI(raw)
    cfg = LoaderConfig()
    cfg.purpose = raw.get("purpose", cfg.purpose)
    cfg.license_accept = _bool(raw.get("license", {}).get("accept", cfg.license_accept))
    inp = raw.get("input", {})
    # reference hocon nests it: initialPosition { type = TRIM_HORIZON } —
    # accept both the nested object and a bare string
    init_pos = inp.get("initialPosition", cfg.input.initial_position)
    options = dict(inp.get("options", {}) or {})
    if isinstance(init_pos, dict):
        # AT_TIMESTAMP carries its cutoff in the same object; the reader
        # takes it as the initialTimestamp option
        if "timestamp" in init_pos and not any(
            k.lower() == "initialtimestamp" for k in options
        ):
            options["initialTimestamp"] = init_pos.get("timestamp")
        init_pos = init_pos.get("type", cfg.input.initial_position)
    cfg.input = InputConfig(
        kind=inp.get("kind", "kinesis" if "streamName" in inp else "file"),
        stream_name=inp.get("streamName"),
        app_name=inp.get("appName", cfg.input.app_name),
        initial_position=init_pos,
        path=inp.get("path"),
        max_records=int(inp.get("retrievalMode", {}).get("maxRecords", cfg.input.max_records)),
        region=inp.get("region"),
        client_factory=inp.get("clientFactory"),
        options=options,
    )
    good = raw.get("output", {}).get("good", {})
    cfg.good = GoodOutputConfig(
        path=good.get("path", ""),
        # the reference names it filenamePrefix (config.aws.reference.hocon:83);
        # accept our shorter alias too
        prefix=good.get("filenamePrefix", good.get("prefix", "")),
        partition_format=good.get("partitionFormat"),
    )
    bad = raw.get("output", {}).get("bad", {})
    cfg.bad = BadOutputConfig(
        kind=bad.get("kind", "kinesis" if "streamName" in bad else "file"),
        stream_name=bad.get("streamName"),
        path=bad.get("path"),
        max_record_size=int(bad.get("maxRecordSize", 1_000_000)),
        record_limit=int(bad.get("recordLimit", 500)),
        byte_limit=int(bad.get("byteLimit", 5_242_880)),
    )
    b = raw.get("batching", {})
    cfg.batching = BatchingConfig(
        max_bytes=int(b.get("maxBytes", 67_108_864)),
        max_delay_seconds=_duration_seconds(b.get("maxDelay", 120.0)),
    )
    d = raw.get("decompression", {})
    cfg.decompression = DecompressionConfig(
        max_bytes_in_batch=int(d.get("maxBytesInBatch", 5_242_880)),
        max_bytes_single_payload=int(d.get("maxBytesSinglePayload", 10_000_000)),
    )
    m = raw.get("monitoring", {})
    hp = m.get("healthProbe", {})
    statsd = m.get("metrics", {}).get("statsd", {})
    cfg.monitoring = MonitoringConfig(
        metrics_period_seconds=_duration_seconds(statsd.get("period", 60.0)),
        statsd_host=statsd.get("hostname"),
        statsd_port=int(statsd.get("port", 8125)),
        statsd_prefix=statsd.get("prefix", MonitoringConfig.statsd_prefix),
        health_probe=HealthProbeConfig(
            port=int(hp.get("port", 8000)),
            unhealthy_latency_seconds=_duration_seconds(hp.get("unhealthyLatency", 120.0)),
        ),
    )
    cfg.checkpoint_location = raw.get("checkpointLocation")
    return cfg.validate()


def load_config(path: str) -> LoaderConfig:
    """Load a config file (JSON or HOCON — the reference's only format,
    Run.scala:35-65 — via the bundled minimal parser in hocon.py), then
    apply env-var overrides of the form SNOWPLOW_<SECTION>__<KEY>."""
    with open(path) as f:
        text = f.read()
    raw: dict
    try:
        raw = json.loads(text)
    except json.JSONDecodeError:
        from snowplow_s3_loader_spark import hocon

        try:
            raw = hocon.load(path)
        except hocon.HoconError as e:
            raise ConfigError(f"config {path}: {e}") from e
    env_over: dict = {}
    for k, v in os.environ.items():
        if k.startswith("SNOWPLOW_"):
            keys = [p for p in k[len("SNOWPLOW_"):].lower().split("__") if p]
            node = env_over
            for kk in keys[:-1]:
                node = node.setdefault(kk, {})
            node[keys[-1]] = v
    raw = _merge(raw, env_over)
    return from_dict(raw)
