"""Parse/classify stage — O2 (enriched) and O3 (SDJ) of the reference
(Processing.scala:101-204), expressed as pure column transformations.

Input: a DataFrame with a `value: string` column (one record line each).
Output: same rows plus
    schema_key  struct<vendor,name,format,model,revision,addition> (NULL=bad)
    schema_uri  string (the raw iglu URI, or the atomic sentinel)
    collector_tstamp timestamp (enriched only; NULL when unparsable — the
                     reference silently ignores those, Processing.scala:152)
    bad_message string (NULL=good row; mirrors BadRow.GenericError messages)

The good/bad split is two cheap filters on `bad_message` — the Spark twin of
the reference's fold returning (events, parseFailures). The original `value`
is carried verbatim for the byte-identical passthrough contract
(ProcessingSpec.scala:71,98).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from snowplow_s3_loader_spark.functions.iglu import iglu_schema_key
from snowplow_s3_loader_spark.functions.timestamps import enriched_collector_tstamp
from snowplow_s3_loader_spark.igluschema import ATOMIC_SCHEMA, ATOMIC_SCHEMA_URI

PURPOSE_ENRICHED = "ENRICHED_EVENTS"
PURPOSE_SDJ = "SELF_DESCRIBING"

MSG_CANT_PARSE_JSON = "Can't parse JSON holding self-describing event"
MSG_CANT_EXTRACT_SCHEMA = "Can't extract schema from self-describing event: INVALID_DATA_PAYLOAD"


def classify(df: DataFrame, purpose: str, value_col: str = "value") -> DataFrame:
    """Classify raw lines per the configured purpose (Config.Purpose,
    reference Config.scala:70-74)."""
    if purpose == PURPOSE_ENRICHED:
        return _classify_enriched(df, value_col)
    if purpose == PURPOSE_SDJ:
        return _classify_sdj(df, value_col)
    raise ValueError(f"unknown purpose: {purpose!r}")


def _classify_enriched(df: DataFrame, value_col: str) -> DataFrame:
    """All enriched lines are 'good' and keyed under the atomic schema
    (package.scala:16, Processing.scala:106); only collector_tstamp is
    interpreted, errors ignored."""
    value = F.col(value_col)
    atomic = F.struct(
        F.lit(ATOMIC_SCHEMA.vendor).alias("vendor"),
        F.lit(ATOMIC_SCHEMA.name).alias("name"),
        F.lit(ATOMIC_SCHEMA.format).alias("format"),
        F.lit(ATOMIC_SCHEMA.model).alias("model"),
        F.lit(ATOMIC_SCHEMA.revision).alias("revision"),
        F.lit(ATOMIC_SCHEMA.addition).alias("addition"),
    )
    return (
        df.withColumn("schema_key", atomic)
        .withColumn("schema_uri", F.lit(ATOMIC_SCHEMA_URI))
        .withColumn("collector_tstamp", enriched_collector_tstamp(value))
        .withColumn("bad_message", F.lit(None).cast("string"))
    )


def _classify_sdj(df: DataFrame, value_col: str) -> DataFrame:
    """SDJ lines: JSON parse + iglu key extraction; failures carry the
    reference's two failure messages (Processing.scala:181-187).

    One try_parse_json feeds both the schema extraction (variant_get) and
    the bad-JSON test — Catalyst CSE evaluates the parse once per row
    (measured ~1.8x over get_json_object + separate validity parse)."""
    value = F.col(value_col)
    variant = F.try_parse_json(value)
    uri = F.try_variant_get(variant, "$.schema", "string")
    key = iglu_schema_key(uri)
    bad = (
        F.when(variant.isNull(), F.lit(MSG_CANT_PARSE_JSON))
        .when(key.isNull(), F.lit(MSG_CANT_EXTRACT_SCHEMA))
        .otherwise(F.lit(None).cast("string"))
    )
    return (
        df.withColumn("schema_key", key)
        .withColumn("schema_uri", uri)
        .withColumn("collector_tstamp", F.lit(None).cast("timestamp"))
        .withColumn("bad_message", bad)
    )
