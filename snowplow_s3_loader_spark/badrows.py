"""Bad-row envelope construction + size cap — O12 of the reference
(Processing.scala:189-204, 315-331; BadRowsSerializer.scala:24-44).

Envelopes follow the public Snowplow badrows self-describing-JSON contract
(the `compactByteArray` output of com.snowplowanalytics.snowplow.badrows):

    {"schema": "iglu:com.snowplowanalytics.snowplow.badrows/<type>/jsonschema/<ver>",
     "data": {"processor": {"artifact": ..., "version": ...},
              "failure": {...}, "payload": ...}}

so downstream bad-row consumers / recovery tooling can parse the dead-letter
output exactly as they parse the reference's.

Column-expression implementation: build the envelope struct with to_json,
then apply the size-violation rule — a serialized bad row whose byte length
is >= maxRecordSize is replaced by a SizeViolation wrapper (with the original
size recorded in actualSizeBytes) whose payload is trimmed to
maxRecordSize/10 characters (BadRowsSerializer.scala:24-44).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

PROCESSOR_NAME = "snowplow-s3-loader-spark"
PROCESSOR_VERSION = "0.1.0"

# Public iglu-central schema URIs emitted by the badrows library.
SCHEMA_GENERIC_ERROR = "iglu:com.snowplowanalytics.snowplow.badrows/generic_error/jsonschema/1-0-0"
SCHEMA_LOADER_PARSING_ERROR = (
    "iglu:com.snowplowanalytics.snowplow.badrows/loader_parsing_error/jsonschema/2-0-0"
)
SCHEMA_SIZE_VIOLATION = "iglu:com.snowplowanalytics.snowplow.badrows/size_violation/jsonschema/1-0-0"

# Failure.SizeViolation expectation string (BadRowsSerializer.scala:37).
SIZE_VIOLATION_EXPECTATION = "Bad row exceeds allowed max size"


def _processor() -> Column:
    # badrows Processor(artifact, version)
    return F.struct(
        F.lit(PROCESSOR_NAME).alias("artifact"),
        F.lit(PROCESSOR_VERSION).alias("version"),
    )


def _iso_instant(timestamp: Column) -> Column:
    """Instant-style rendering (circe encodes Instant as ISO-8601 UTC).

    The input is an instant (TIMESTAMP_LTZ); to_utc_timestamp(ts,
    current_timezone()) shifts it so the session-tz rendering equals the
    UTC wall clock, making the output correct under ANY session timezone
    (round 2 rendered session-local wall time with a literal 'Z' and
    dropped millis — wrong instant for non-UTC sessions, and coarser than
    the reference's circe Instant)."""
    return F.date_format(
        F.to_utc_timestamp(timestamp, F.current_timezone()),
        "yyyy-MM-dd'T'HH:mm:ss.SSS'Z'",
    )


def generic_error(value: Column, message: Column, timestamp: Column) -> Column:
    """BadRow.GenericError: processor, Failure.GenericFailure{timestamp,
    errors}, base64 raw payload (Processing.scala:189-204, which base64-encodes
    the buffer into Payload.RawPayload)."""
    return F.struct(
        F.lit(SCHEMA_GENERIC_ERROR).alias("schema"),
        F.struct(
            _processor().alias("processor"),
            F.struct(
                _iso_instant(timestamp).alias("timestamp"),
                F.array(message).alias("errors"),
            ).alias("failure"),
            F.base64(value.cast("binary")).alias("payload"),
        ).alias("data"),
    )


def loader_parsing_error(value: Column, message: Column, timestamp: Column) -> Column:
    """BadRow.LoaderParsingError — decompression failures wrapped as
    ParsingError.RowDecodingError(UnhandledRowDecodingError(msg)) over the raw
    (NOT base64) payload (Processing.scala:156-165)."""
    return F.struct(
        F.lit(SCHEMA_LOADER_PARSING_ERROR).alias("schema"),
        F.struct(
            _processor().alias("processor"),
            F.struct(
                F.lit("RowDecodingError").alias("type"),
                F.array(
                    F.struct(
                        F.lit("UnhandledRowDecodingError").alias("type"),
                        message.alias("message"),
                    )
                ).alias("errors"),
            ).alias("failure"),
            value.cast("string").alias("payload"),
        ).alias("data"),
    )


def serialize_with_max_size(bad_row: Column, timestamp: Column, max_record_size: int) -> Column:
    """Serialized bad row, size-capped (BadRowsSerializer.scala:24-44).

    If the JSON serialization is >= max_record_size bytes, emit a
    SizeViolation envelope instead, recording the original byte size in
    actualSizeBytes, with the original serialization trimmed to
    max_record_size/10 characters.
    """
    return cap_serialized_size(F.to_json(bad_row), timestamp, max_record_size)


def cap_serialized_size(serialized: Column, timestamp: Column, max_record_size: int) -> Column:
    """The size rule of serialize_with_max_size over an already-serialized
    bad row, so one capped column can pick between envelope types."""
    trimmed = F.substring(serialized, 1, max_record_size // 10)
    size_violation = F.to_json(
        F.struct(
            F.lit(SCHEMA_SIZE_VIOLATION).alias("schema"),
            F.struct(
                _processor().alias("processor"),
                F.struct(
                    _iso_instant(timestamp).alias("timestamp"),
                    F.lit(max_record_size).alias("maximumAllowedSizeBytes"),
                    F.octet_length(serialized).alias("actualSizeBytes"),
                    F.lit(SIZE_VIOLATION_EXPECTATION).alias("expectation"),
                ).alias("failure"),
                trimmed.alias("payload"),
            ).alias("data"),
        )
    )
    return F.when(
        F.octet_length(serialized) >= F.lit(max_record_size), size_violation
    ).otherwise(serialized)


def build_bad_rows(
    classified: DataFrame,
    timestamp: Column,
    max_record_size: int = 6_900_000,
    value_col: str = "value",
) -> DataFrame:
    """From classified rows (bad_message != NULL) to serialized bad-row lines.

    max_record_size default mirrors the reference's Kinesis output cap
    (config.aws.reference.hocon `output.bad.maxRecordSize` ~ 6900000).
    """
    bad = classified.filter(F.col("bad_message").isNotNull())
    envelope = generic_error(F.col(value_col), F.col("bad_message"), timestamp)
    return bad.select(
        serialize_with_max_size(envelope, timestamp, max_record_size).alias("bad_row_json")
    )
