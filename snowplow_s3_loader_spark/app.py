"""CLI entry — the Run/LoaderApp port (Run.scala:35-80, LoaderApp.scala:29-47):
`--config <path>` -> typed config -> SparkSession -> source -> pipeline ->
health probe + metrics report, then awaitTermination.

Usage:
    python -m snowplow_s3_loader_spark.app --config config.json
"""

from __future__ import annotations

import argparse
import sys
import threading

from snowplow_s3_loader_spark.config import ConfigError, load_config
from snowplow_s3_loader_spark.session import get_spark
from snowplow_s3_loader_spark.sources.streams import file_stream, kinesis_stream
from snowplow_s3_loader_spark.streaming.health import HealthProbe
from snowplow_s3_loader_spark.streaming.metrics import (
    LoaderQueryListener,
    MetricsState,
    StatsdEmitter,
    periodic_report,
)
from snowplow_s3_loader_spark.streaming.pipeline import LoaderPipeline


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(prog="snowplow-s3-loader-spark")
    parser.add_argument("--config", required=True, help="path to JSON/HOCON config")
    args = parser.parse_args(argv)

    try:
        cfg = load_config(args.config)
    except ConfigError as e:
        print(f"config error: {e}", file=sys.stderr)
        return 2
    if not cfg.license_accept:
        # the reference refuses to start until the licence is accepted
        print(
            "config error: license.accept must be true to run the loader "
            "(or set SNOWPLOW_LICENSE__ACCEPT=true)",
            file=sys.stderr,
        )
        return 2

    # Sentry crash reporting (reference LoaderApp.scala:33-39), import-gated:
    # enabled only when the sdk is installed and SENTRY_DSN is set
    try:
        import os

        import sentry_sdk  # type: ignore

        if os.environ.get("SENTRY_DSN"):
            sentry_sdk.init(dsn=os.environ["SENTRY_DSN"])
    except ImportError:
        pass

    spark = get_spark(app_name=cfg.input.app_name)
    pipeline = LoaderPipeline(spark, cfg)
    pipeline.health.unhealthy_latency_seconds = (
        cfg.monitoring.health_probe.unhealthy_latency_seconds
    )

    state = MetricsState()
    spark.streams.addListener(LoaderQueryListener(state))

    def _snapshot():
        state.absorb_actions(pipeline.actions)
        return state.snapshot()

    probe = HealthProbe(
        pipeline.health, cfg.monitoring.health_probe.port, metrics_snapshot=_snapshot
    )
    probe.start()

    stop = threading.Event()
    if cfg.monitoring.statsd_host:
        emitter = StatsdEmitter(
            cfg.monitoring.statsd_host, cfg.monitoring.statsd_port, cfg.monitoring.statsd_prefix
        )
        periodic_report(
            state, emitter, cfg.monitoring.metrics_period_seconds, stop, pipeline.actions
        )

    if cfg.input.kind == "kinesis":
        source = kinesis_stream(spark, cfg.input)
    else:
        source = file_stream(spark, cfg.input.path or "")

    query = pipeline.run_stream(source)
    try:
        query.awaitTermination()
    finally:
        stop.set()
        probe.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
