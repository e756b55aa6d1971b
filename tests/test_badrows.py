"""Bad-row envelope + size cap tests (BadRowsSerializer.scala:24-44,
FIXTURES.md F4), through `bad_row_column`, the serializer the pipeline
runs: payloads are decompressed and classified as in `load_batch`, and
every row that is not good is serialized."""

from __future__ import annotations

import base64
import datetime as dt
import gzip
import json

from pyspark.sql import functions as F

from snowplow_s3_loader_spark.badrows import (
    PROCESSOR_NAME,
    SCHEMA_GENERIC_ERROR,
    SCHEMA_LOADER_PARSING_ERROR,
    SCHEMA_SIZE_VIOLATION,
    SIZE_VIOLATION_EXPECTATION,
    bad_row_column,
)
from snowplow_s3_loader_spark.operators.decompression import decompressed_stream
from snowplow_s3_loader_spark.operators.parse import PURPOSE_SDJ, classify

NOW = dt.datetime(2023, 12, 25, 15, 30, 45, tzinfo=dt.timezone.utc)


def _bad_rows(spark, payloads, now=NOW, max_record_size=6_900_000):
    df = spark.createDataFrame([(bytearray(p),) for p in payloads], "payload binary")
    classified = classify(decompressed_stream(df), PURPOSE_SDJ)
    bad = classified.filter(
        F.col("bad_message").isNotNull() | F.col("decompress_error").isNotNull()
    )
    rows = bad.withColumn("__now", F.lit(now)).select(bad_row_column(max_record_size))
    return [json.loads(r["row"]) for r in rows.collect()]


def test_generic_error_envelope(spark):
    line = '{"data": {"field": "value"}}'
    (env,) = _bad_rows(spark, [line.encode()])
    assert env["schema"] == SCHEMA_GENERIC_ERROR
    data = env["data"]
    assert data["processor"]["artifact"] == PROCESSOR_NAME
    assert "Can't extract schema" in data["failure"]["errors"][0]
    assert data["failure"]["timestamp"] == "2023-12-25T15:30:45.000Z"
    assert base64.b64decode(data["payload"]).decode() == line


def test_loader_parsing_error_envelope(spark):
    """A corrupt envelope becomes a LoaderParsingError: RowDecodingError
    over the raw (not base64) payload (Processing.scala:156-165)."""
    # declared record length 10 but only 3 bytes present
    corrupt = gzip.compress(b"\x01\x01" + b"\x00\x00\x00\x0a" + b"abc")
    (env,) = _bad_rows(spark, [corrupt])
    assert env["schema"] == SCHEMA_LOADER_PARSING_ERROR
    data = env["data"]
    assert data["processor"]["artifact"] == PROCESSOR_NAME
    failure = data["failure"]
    assert failure["type"] == "RowDecodingError"
    [error] = failure["errors"]
    assert error["type"] == "UnhandledRowDecodingError"
    assert "Cannot decompress record" in error["message"]
    assert data["payload"] == corrupt.decode("utf-8", errors="replace")


def test_size_violation_trim(spark):
    line = json.dumps({"data": {"blob": "x" * 500}})  # serialized bad row > 100 B
    (env,) = _bad_rows(spark, [line.encode()], max_record_size=100)
    assert env["schema"] == SCHEMA_SIZE_VIOLATION
    data = env["data"]
    assert data["failure"]["maximumAllowedSizeBytes"] == 100
    # actualSizeBytes records the untrimmed serialization size
    # (BadRowsSerializer.scala:30-37)
    assert data["failure"]["actualSizeBytes"] > 100
    assert data["failure"]["expectation"] == SIZE_VIOLATION_EXPECTATION
    assert data["failure"]["timestamp"] == "2023-12-25T15:30:45.000Z"
    # payload trimmed to maxSize/10 chars (BadRowsSerializer.scala:33)
    assert len(data["payload"]) == 10


def test_timestamp_is_utc_instant_under_non_utc_session(spark):
    """ADVICE r2: the serialized failure.timestamp must name the real
    instant in UTC (circe Instant parity) even when the session timezone
    is not UTC."""
    instant = dt.datetime(2023, 12, 25, 15, 30, 45, 123000, tzinfo=dt.timezone.utc)
    prev = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "America/New_York")
        (env,) = _bad_rows(spark, [b'{"no":"schema"}'], now=instant)
        assert env["data"]["failure"]["timestamp"] == "2023-12-25T15:30:45.123Z"
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)
