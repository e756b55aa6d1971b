"""Parse/classify tests — ports of the reference's parse semantics
(ProcessingSpec e1/e2 input handling; FIXTURES.md F1/F2)."""

from __future__ import annotations

from datetime import datetime

import pytest
from pyspark.sql import functions as F

from snowplow_s3_loader_spark.igluschema import ATOMIC_SCHEMA_URI, SchemaKey
from snowplow_s3_loader_spark.operators.parse import (
    MSG_CANT_EXTRACT_SCHEMA,
    MSG_CANT_PARSE_JSON,
    PURPOSE_ENRICHED,
    PURPOSE_SDJ,
    classify,
)


def _enriched_line(collector_tstamp: str, n_fields: int = 131) -> str:
    fields = ["test-app", "web", "", collector_tstamp] + [""] * (n_fields - 4)
    fields[5] = "page_view"
    return "\t".join(fields)


def test_enriched_happy_path(spark):
    line = _enriched_line("2023-12-25 15:30:45")
    df = classify(spark.createDataFrame([(line,)], "value string"), PURPOSE_ENRICHED)
    row = df.first()
    assert row["value"] == line  # byte-identical passthrough
    assert row["schema_uri"] == ATOMIC_SCHEMA_URI
    assert row["bad_message"] is None
    assert row["collector_tstamp"] == datetime(2023, 12, 25, 15, 30, 45)


@pytest.mark.parametrize(
    "line",
    [
        "only\tthree\tfields",  # <4 tab fields: tstamp None, line still good
        _enriched_line("not-a-timestamp"),  # unparsable: ignored
        "",  # empty line
    ],
)
def test_enriched_lenient_timestamp(spark, line):
    df = classify(spark.createDataFrame([(line,)], "value string"), PURPOSE_ENRICHED)
    row = df.first()
    assert row["bad_message"] is None  # enriched lines never become bad rows
    assert row["collector_tstamp"] is None


def test_sdj_grouping_and_bad_rows(spark):
    lines = [
        '{"schema": "iglu:com.example/event1/jsonschema/1-0-0", "data": {"a": 1}}',
        '{"schema": "iglu:com.example/event2/jsonschema/2-1-3", "data": {}}',
        '{"data": {"field": "value"}}',  # missing schema
        '{"schema": "iglu:com.example/trunc',  # malformed JSON
        '{"schema": "not-iglu", "data": {}}',  # malformed iglu URI
    ]
    df = classify(spark.createDataFrame([(l,) for l in lines], "value string"), PURPOSE_SDJ)
    good = df.filter(F.col("bad_message").isNull()).orderBy("value").collect()
    bad_df = df.filter(F.col("bad_message").isNotNull())
    bad = {r["value"]: r["bad_message"] for r in bad_df.collect()}

    assert len(good) == 2
    k1 = good[0]["schema_key"]
    assert (k1["vendor"], k1["name"], k1["format"], k1["model"], k1["revision"], k1["addition"]) == (
        "com.example", "event1", "jsonschema", 1, 0, 0,
    )
    k2 = good[1]["schema_key"]
    assert (k2["model"], k2["revision"], k2["addition"]) == (2, 1, 3)

    assert bad[lines[2]] == MSG_CANT_EXTRACT_SCHEMA
    assert bad[lines[3]] == MSG_CANT_PARSE_JSON
    assert bad[lines[4]] == MSG_CANT_EXTRACT_SCHEMA


def test_sdj_data_passthrough(spark):
    line = '{"schema": "iglu:com.example/e/jsonschema/1-0-0", "data": {"nested": {"x": [1, 2]}}}'
    df = classify(spark.createDataFrame([(line,)], "value string"), PURPOSE_SDJ)
    assert df.filter(F.col("bad_message").isNull()).first()["value"] == line


def test_schema_key_parse_roundtrip():
    key = SchemaKey.parse("iglu:com.example/event1/jsonschema/1-0-0")
    assert key == SchemaKey("com.example", "event1", "jsonschema", 1, 0, 0)
    assert key.to_uri() == "iglu:com.example/event1/jsonschema/1-0-0"
    assert SchemaKey.parse("iglu:bad") is None
    assert SchemaKey.parse("iglu:v/n/f/0-0-0") is None  # model must be >= 1
