"""Bad-row envelope construction + size cap — O12 of the reference
(Processing.scala:189-204, 315-331; BadRowsSerializer.scala:24-44).

Envelopes follow the public Snowplow badrows self-describing-JSON contract
(the `compactByteArray` output of com.snowplowanalytics.snowplow.badrows):

    {"schema": "iglu:com.snowplowanalytics.snowplow.badrows/<type>/jsonschema/<ver>",
     "data": {"processor": {"artifact": ..., "version": ...},
              "failure": {...}, "payload": ...}}

so downstream bad-row consumers / recovery tooling can parse the dead-letter
output exactly as they parse the reference's.

One column-expression serializer, `bad_row_column`, builds every bad row
the loader emits: the envelope struct (LoaderParsingError for
decompression failures, GenericError for parse failures) through to_json,
then the size-violation rule — a serialized bad row whose byte length is
>= maxRecordSize is replaced by a SizeViolation wrapper (with the original
size recorded in actualSizeBytes) whose payload is trimmed to
maxRecordSize/10 characters (BadRowsSerializer.scala:24-44).
"""

from __future__ import annotations

from pyspark.sql import Column
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


def _generic_error(value: Column, message: Column, timestamp: Column) -> Column:
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


def _loader_parsing_error(value: Column, message: Column, timestamp: Column) -> Column:
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


def bad_row_column(max_record_size: int) -> Column:
    """The serialized, size-capped bad row of one classified row:
    decompression failures as LoaderParsingError, parse failures as
    GenericError (Processing.scala:156-165, 189-204). Reads `value`,
    `decompress_error` and `bad_message`, and the flush time from the
    batch's `__now` column."""
    value, err, now = F.col("value"), F.col("decompress_error"), F.col("__now")
    serialized = F.when(
        err.isNotNull(), F.to_json(_loader_parsing_error(value, err, now))
    ).otherwise(F.to_json(_generic_error(value, F.col("bad_message"), now)))
    return _cap_serialized_size(serialized, now, max_record_size).alias("row")


def _cap_serialized_size(serialized: Column, timestamp: Column, max_record_size: int) -> Column:
    """The size rule of BadRowsSerializer.scala:24-44: a serialization of
    max_record_size bytes or more becomes a SizeViolation envelope that
    records the original byte size in actualSizeBytes and carries the
    original serialization trimmed to max_record_size/10 characters."""
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
