"""Structured Streaming sources behind the loader's source abstraction
(reference: common-streams Kinesis factory, AwsApp.scala:19-23).

All sources normalize to a DataFrame with a binary `payload` column — the
reference's record unit (ByteBuffer, SURVEY.md SS1.1) — before the
decompression/classify stages.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from snowplow_s3_loader_spark.config import InputConfig


def file_stream(spark: SparkSession, path: str, max_files_per_trigger: int | None = None) -> DataFrame:
    """Line-file source: each line is one record (README.md:11-12 'new lines
    are used to separate records'). Test/local stand-in for Kinesis, same
    downstream contract."""
    reader = spark.readStream.format("text")
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    df = reader.load(path)
    return df.select(F.col("value").cast("binary").alias("payload"))


def binary_file_stream(spark: SparkSession, path: str, glob: str = "*.bin") -> DataFrame:
    """Whole-file binary source: one file = one source record (the envelope
    case — a single Kinesis record holding a zstd/gzip envelope maps to one
    .bin file here; the decompression stage then expands it, O1)."""
    df = (
        spark.readStream.format("binaryFile")
        .schema(
            "path string, modificationTime timestamp, length long, content binary"
        )
        .option("pathGlobFilter", glob)
        .load(path)
    )
    return df.select(F.col("content").alias("payload"))


def kinesis_stream(
    spark: SparkSession, cfg: InputConfig, client_factory: str | None = None
) -> DataFrame:
    """Kinesis source (option surface mirrors config.aws.reference.hocon:7-64).

    Reads through the built-in Python data source (`kinesis_py`,
    sources/kinesis_source.py): one driver-side polling reader over every
    shard, mirroring the reference's single-KCL-worker consumption model,
    with per-shard sequence-number offsets so recovery replays exactly the
    committed range; no connector jar needed. `client_factory`
    ("module:callable") injects the wire client; default is boto3
    (env-gated). `cfg.options` pass through verbatim as reader options
    (e.g. `initialTimestamp` for an AT_TIMESTAMP start)."""
    from snowplow_s3_loader_spark.sources.kinesis_source import (
        KinesisPythonDataSource,
    )

    spark.dataSource.register(KinesisPythonDataSource)
    reader = (
        spark.readStream.format("kinesis_py")
        .option("streamName", cfg.stream_name or "")
        .option("initialPosition", cfg.initial_position)
        .option("maxRecords", str(cfg.max_records))
    )
    if cfg.region:
        reader = reader.option("region", cfg.region)
    if client_factory or cfg.client_factory:
        reader = reader.option("clientFactory", client_factory or cfg.client_factory)
    for k, v in (cfg.options or {}).items():
        reader = reader.option(k, str(v))
    return reader.load().select(F.col("payload"))
