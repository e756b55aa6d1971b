"""Streaming operator surface beyond the loader (SURVEY.md SS2.3 rows:
watermark/late data, tumbling + session windows, streaming dedup). The
reference has none of these (processing-time batching only); the engine
exposes the stock Structured Streaming operators — verified here end-to-end
with file-stream input and availableNow triggers."""

from __future__ import annotations

from datetime import datetime

import pytest
from pyspark.sql import functions as F


def _write_events(dirpath, rows):
    dirpath.mkdir(parents=True, exist_ok=True)
    lines = [f"{ts},{user},{val}" for ts, user, val in rows]
    (dirpath / "part1.csv").write_text("\n".join(lines) + "\n")


def _stream(spark, dirpath):
    return (
        spark.readStream.schema("ts timestamp, user_id int, val int")
        .option("header", False)
        .csv(str(dirpath))
    )


def _run(df, tmp_path, name, output_mode):
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .option("checkpointLocation", str(tmp_path / f"ckpt_{name}"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return q


def test_tumbling_window_with_watermark(spark, tmp_path):
    _write_events(
        tmp_path / "in",
        [
            ("2024-01-01 10:00:10", 1, 5),
            ("2024-01-01 10:00:50", 1, 7),
            ("2024-01-01 10:01:10", 2, 1),
            ("2024-01-01 09:00:00", 3, 9),  # very late event, before watermark
        ],
    )
    agg = (
        _stream(spark, tmp_path / "in")
        .withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 minute").alias("w"))
        .agg(F.sum("val").alias("total"))
        .select(F.col("w.start").alias("start"), "total")
    )
    _run(agg, tmp_path, "tumbling", "complete")
    rows = {
        r["start"]: r["total"]
        for r in spark.sql("SELECT * FROM tumbling").collect()
    }
    # complete mode: all window state emits regardless of watermark (append
    # would hold unclosed windows past the single availableNow batch)
    assert rows[datetime(2024, 1, 1, 10, 0)] == 12
    assert rows[datetime(2024, 1, 1, 10, 1)] == 1
    assert rows[datetime(2024, 1, 1, 9, 0)] == 9


def test_session_window_stream(spark, tmp_path):
    _write_events(
        tmp_path / "in2",
        [
            ("2024-01-01 10:00:00", 1, 1),
            ("2024-01-01 10:03:00", 1, 1),  # within 5-min gap: same session
            ("2024-01-01 10:20:00", 1, 1),  # new session
            ("2024-01-01 10:00:00", 2, 1),
        ],
    )
    agg = (
        _stream(spark, tmp_path / "in2")
        .withWatermark("ts", "1 hour")
        .groupBy("user_id", F.session_window("ts", "5 minutes").alias("sw"))
        .agg(F.count("*").alias("n"))
        .select("user_id", F.col("sw.start").alias("start"), "n")
    )
    _run(agg, tmp_path, "sessions", "complete")
    got = {
        (r["user_id"], r["start"]): r["n"]
        for r in spark.sql("SELECT * FROM sessions").collect()
    }
    assert got[(1, datetime(2024, 1, 1, 10, 0))] == 2
    assert got[(1, datetime(2024, 1, 1, 10, 20))] == 1
    assert got[(2, datetime(2024, 1, 1, 10, 0))] == 1


def test_streaming_dedup_with_watermark(spark, tmp_path):
    _write_events(
        tmp_path / "in3",
        [
            ("2024-01-01 10:00:00", 1, 42),
            ("2024-01-01 10:00:00", 1, 42),  # exact duplicate record
            ("2024-01-01 10:05:00", 2, 7),
        ],
    )
    dedup = (
        _stream(spark, tmp_path / "in3")
        .withWatermark("ts", "30 minutes")
        .dropDuplicates(["user_id", "ts"])
    )
    _run(dedup, tmp_path, "deduped", "append")
    assert spark.sql("SELECT count(*) AS n FROM deduped").first()["n"] == 2


def test_engine_sql_facade(spark, sf_dir):
    from snowplow_s3_loader_spark.engine import Engine
    from snowplow_s3_loader_spark.operators.parse import classify

    eng = Engine.at(spark, sf_dir)
    out = eng.sql(
        "SELECT l_returnflag, count(*) AS n FROM lineitem GROUP BY 1 ORDER BY 1"
    ).collect()
    assert [r["l_returnflag"] for r in out] == ["A", "N", "R"]
    assert eng.table("events").count() > 0
    lines = spark.createDataFrame(
        [('{"schema": "iglu:com.example/e/jsonschema/1-0-0", "data": {}}',)], "value string"
    )
    assert (
        classify(lines, "SELF_DESCRIBING").first()["schema_key"]["vendor"]
        == "com.example"
    )


def test_curation_operators_compose_on_documents(spark, sf_dir):
    """The curation operators run end to end on the documents table."""
    from pyspark.sql import functions as F

    from snowplow_s3_loader_spark.operators.dedup import token_jaccard_pairs
    from snowplow_s3_loader_spark.operators.graph import (
        connected_components,
        dedup_keep_canonical,
    )
    from snowplow_s3_loader_spark.operators.hygiene import (
        ngram_contamination,
        redaction_report,
        remove_repeated_spans,
    )
    from snowplow_s3_loader_spark.operators.lm import bigram_lm_scores
    from snowplow_s3_loader_spark.operators.sampling import (
        deterministic_split,
        temperature_resample,
    )
    from snowplow_s3_loader_spark.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    assert ngram_contamination(docs, bench, "doc_id", "text", n=5).columns == [
        "id", "n_shared_ngrams", "contaminated"
    ]
    assert "redacted" in redaction_report(docs, "doc_id", "text").columns
    assert remove_repeated_spans(docs, "doc_id", "text", k=8).columns == [
        "id", "n_dup_spans", "n_tokens_removed", "cleaned_text"
    ]
    assert "lm_cross_entropy" in bigram_lm_scores(docs, "doc_id", "text").columns
    split = deterministic_split(docs, "doc_id", {"train": 0.9, "val": 0.1})
    assert {r["split"] for r in split.select("split").distinct().collect()} <= {"train", "val"}
    kept = temperature_resample(docs, "doc_id", "lang")
    assert 0 < kept.count() < docs.count()
    pairs = token_jaccard_pairs(
        docs.withColumn("blk", F.col("lang")), "doc_id", "text", ["blk"], 0.8
    )
    comps = connected_components(pairs)
    assert set(comps.columns) == {"node", "component"}
    assert dedup_keep_canonical(docs, pairs, "doc_id").count() <= docs.count()


def test_stream_stream_interval_join_matches_batch(spark, tmp_path):
    """Stream-stream inner join with watermarks and a time-range
    condition (the attribution-style enrichment: each click joins the
    same user's views from the preceding 10 minutes) must equal the
    identical batch join — closing the one §2.3 streaming row without
    an e2e check."""
    def ts(m):
        return f"2024-03-01 12:{m:02d}:00"

    views = [(ts(0), 1, 10), (ts(2), 1, 11), (ts(30), 1, 12), (ts(1), 2, 20)]
    clicks = [(ts(5), 1, 100), (ts(40), 1, 101), (ts(3), 2, 200), (ts(59), 3, 300)]
    vdir, cdir = tmp_path / "views", tmp_path / "clicks"
    _write_events(vdir, views)
    _write_events(cdir, clicks)

    def build(vdf, cdf):
        v = vdf.select(
            F.col("ts").alias("v_ts"), F.col("user_id").alias("v_user"),
            F.col("val").alias("v_val"),
        )
        c = cdf.select(
            F.col("ts").alias("c_ts"), F.col("user_id").alias("c_user"),
            F.col("val").alias("c_val"),
        )
        return v.join(
            c,
            (F.col("v_user") == F.col("c_user"))
            & (F.col("c_ts") >= F.col("v_ts"))
            & (F.col("c_ts") <= F.col("v_ts") + F.expr("INTERVAL 10 MINUTES")),
        )

    sj = build(
        _stream(spark, vdir).withWatermark("ts", "1 hour"),
        _stream(spark, cdir).withWatermark("ts", "1 hour"),
    )
    _run(sj, tmp_path, "ssjoin", "append")
    got = {
        (r["v_user"], r["v_val"], r["c_val"])
        for r in spark.sql("select * from ssjoin").collect()
    }
    batch = build(
        spark.createDataFrame(
            [(datetime.fromisoformat(a), b, c) for a, b, c in views],
            "ts timestamp, user_id int, val int",
        ),
        spark.createDataFrame(
            [(datetime.fromisoformat(a), b, c) for a, b, c in clicks],
            "ts timestamp, user_id int, val int",
        ),
    )
    want = {(r["v_user"], r["v_val"], r["c_val"]) for r in batch.collect()}
    assert got == want
    # the time bound genuinely filters: user 1's 12:40 click joins only
    # the 12:30 view, and user 3 (no views) joins nothing
    assert (1, 12, 101) in want and (1, 10, 101) not in want
    assert not any(u == 3 for u, _, _ in want)
