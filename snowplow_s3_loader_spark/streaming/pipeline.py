"""The loader pipeline — reference Processing.scala:69-77 re-expressed as
Structured Streaming with one foreachBatch body carrying the reference's
side-effect ordering contract:

    good file writes -> count/latency metrics -> bad-row send -> checkpoint
    (ProcessingSpec.scala:69-77, 119-130; checkpoint happens when
    foreachBatch returns — Spark commits offsets after the batch's sinks
    complete, matching the reference's deferred-ack at-least-once model,
    Processing.scala:333-336)

Stage mapping (SURVEY.md SS2.1):
    O1  source + envelope decompression  -> sources/* + operators/decompression
    O2/O3 parse/classify                 -> operators/parse.classify
    O5  group by schema                  -> partition-path column + partitionBy write
    O6  size+time batching               -> trigger(processingTime=maxDelay) +
                                            byte-capped file rolling in the blob sink
    O7/O10 gzip blob write               -> sinks/blob.write_batch
    O8  dynamic paths                    -> dynamic_path + functions.paths
    O11 metrics                          -> streaming/metrics + action log
    O12 bad rows                         -> badrows + sinks/bad_sink
    O13 ack/checkpoint                   -> option("checkpointLocation", ...)

Every batch arrives as a binary `payload` column, the shape all sources
produce, and goes through the decompression stage: envelopes expand into
lines, plain records pass through unchanged.

Fixed per-batch cost is kept to the work itself: one sizing aggregate over
the cached classified rows yields the good count, the e2e-latency
timestamp and the per-partition (rows, bytes) the blob sink sizes its write
from; the blob sink promotes its files on the driver (no Spark job); and the
bad-row projection is built once per pipeline, reading the flush time from a
per-batch `__now` column. Each sink's health flag follows that sink's own
last call: false when it raised, true once it succeeds again.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from datetime import datetime, timezone
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from snowplow_s3_loader_spark import badrows
from snowplow_s3_loader_spark.config import LoaderConfig
from snowplow_s3_loader_spark.dynamic_path import get_partition
from snowplow_s3_loader_spark.functions.paths import partition_path
from snowplow_s3_loader_spark.igluschema import ATOMIC_SCHEMA
from snowplow_s3_loader_spark.operators.decompression import (
    DecompressionLimits,
    decompressed_stream,
)
from snowplow_s3_loader_spark.operators.parse import classify
from snowplow_s3_loader_spark.sinks.bad_sink import BadSink, FileBadSink, KinesisBadSink
from snowplow_s3_loader_spark.sinks.blob import write_batch
from snowplow_s3_loader_spark.streaming.actions import ActionLog
from snowplow_s3_loader_spark.streaming.health import AppHealth


@dataclass
class LoaderPipeline:
    spark: SparkSession
    config: LoaderConfig
    bad_sink: BadSink | None = None
    actions: ActionLog = field(default_factory=ActionLog)
    health: AppHealth = field(default_factory=lambda: AppHealth())
    now_fn: Callable[[], datetime] = lambda: datetime.now(timezone.utc)
    deterministic_uuids: bool = False

    def __post_init__(self) -> None:
        bad = self.config.bad
        if self.bad_sink is None and bad.kind == "kinesis":
            self.bad_sink = KinesisBadSink(
                bad.stream_name,
                region=self.config.input.region,
                record_limit=bad.record_limit,
                byte_limit=bad.byte_limit,
            )
        elif self.bad_sink is None:
            self.bad_sink = FileBadSink(bad.path or (self.config.good.path.rstrip("/") + "-bad"))
        self._bad_row = badrows.bad_row_column(bad.max_record_size)

    # ---------------- the foreachBatch body (O5..O13) ----------------

    def load_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        cfg = self.config
        now = self.now_fn()

        lines = decompressed_stream(
            batch_df,
            limits=DecompressionLimits(
                cfg.decompression.max_bytes_in_batch,
                cfg.decompression.max_bytes_single_payload,
            ),
        )

        # O8: resolve the partition template — schema tokens per row
        # (template stays literal for the atomic schema), time tokens from
        # the flush time; null on bad rows
        template = cfg.good.partition_format or ""
        if cfg.purpose == "ENRICHED_EVENTS":
            pp = F.lit(get_partition(template, ATOMIC_SCHEMA, now))
        else:
            pp = partition_path(
                template,
                F.col("schema_key"),
                F.lit(now.strftime("%Y-%m-%d %H:%M:%S")).cast("timestamp"),
            )
        is_good = F.col("bad_message").isNull() & F.col("decompress_error").isNull()
        classified = (
            classify(lines, cfg.purpose).withColumn("__partition", F.when(is_good, pp)).persist()
        )
        self.health.batch_started()
        try:
            # the batch's one sizing aggregate: the count metric, the
            # latency metric and the blob sink's byte cap and salt plan
            rows = (
                classified.groupBy(is_good, "__partition")
                .agg(
                    F.count("*"),
                    F.sum(F.octet_length("value")),
                    F.min("collector_tstamp"),
                )
                .collect()
            )
            sizes = {part: (n, n_bytes or 0) for good, part, n, n_bytes, _ in rows if good}
            earliest = min(
                (first for good, *_, first in rows if good and first is not None), default=None
            )
            n_good = sum(n for n, _ in sizes.values())

            # 1) good writes (O7/O10)
            if n_good:
                try:
                    result = write_batch(
                        classified.filter(is_good),
                        cfg.good.path,
                        "__partition",
                        sizes,
                        prefix=cfg.good.prefix,
                        max_bytes=cfg.batching.max_bytes,
                        now=now,
                        deterministic_uuids=self.deterministic_uuids,
                    )
                except Exception:
                    self.health.blob_sink_ok = False
                    raise
                self.health.blob_sink_ok = True
                for wf in result.files:
                    self.actions.record("WroteFile", wf.path, wf.n_bytes)

            # 2) metrics (O11): count, then e2e latency vs earliest tstamp
            self.actions.record("AddedCountMetric", n_good)
            if earliest is not None:
                if earliest.tzinfo is None:
                    earliest = earliest.replace(tzinfo=timezone.utc)
                latency_ms = int((now - earliest).total_seconds() * 1000)
                self.actions.record("SetE2ELatencyMetric", max(0, latency_ms))

            # 3) bad rows (O12), size-capped (BadRowsSerializer.scala:24-44).
            # Distributed emission (Processing.scala:315-331 parallel sink
            # pipe): rows leave from the executors; only (count, bytes) come
            # back to the driver — a poison batch where bad ≈ all rows never
            # materializes driver-side. `__now` is a real instant literal
            # (aware datetime): badrows renders it as ISO-8601 UTC with
            # millis under any session timezone.
            try:
                n_bad, bad_bytes = self.bad_sink.send_df(
                    classified.filter(~is_good)
                    .withColumn("__now", F.lit(now))
                    .select(self._bad_row)
                )
            except Exception:
                self.health.bad_sink_ok = False
                raise
            self.health.bad_sink_ok = True
            if n_bad:
                self.actions.record("SentToBad", n_bad, bad_bytes)

            # 4) checkpoint marker: foreachBatch returning = offsets commit
            self.actions.record("Checkpointed", batch_id)
        finally:
            self.health.batch_finished()
            classified.unpersist()

    # ---------------- entry points ----------------

    def run_batch(self, df: DataFrame) -> None:
        """Batch-mode slice (tests, backfills): one load_batch call on a
        frame with a binary `payload` column, the shape every source
        produces (plain records pass through decompression unchanged)."""
        self.load_batch(df, batch_id=0)

    def run_stream(self, source: DataFrame, checkpoint: str | None = None):
        """Streaming entry: trigger(processingTime=maxDelay) gives the
        reference's time-bound flush (O6); checkpointLocation gives O13."""
        from snowplow_s3_loader_spark.streaming.stateful import (
            enable_rocksdb_state_store,
        )

        # loader stages are stateless, but any stateful operator a user
        # composes upstream of this sink gets the scale-safe store
        enable_rocksdb_state_store(source.sparkSession)
        writer = (
            source.writeStream.foreachBatch(self.load_batch)
            .trigger(processingTime=trigger_interval(self.config.batching.max_delay_seconds))
            .outputMode("append")
        )
        ckpt = checkpoint or self.config.checkpoint_location
        if ckpt:
            writer = writer.option("checkpointLocation", ckpt)
        return writer.start()


def trigger_interval(max_delay_seconds: float) -> str:
    """maxDelay as a processing-time trigger interval, in milliseconds so a
    sub-second or fractional delay is kept rather than truncated."""
    return f"{round(max_delay_seconds * 1000)} milliseconds"
