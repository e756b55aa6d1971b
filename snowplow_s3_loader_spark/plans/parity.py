"""Driver-visible batch-vs-streaming parity checks (round 7, VERDICT r6 #5).

The stateful streaming operators — streaming_funnel,
streaming_heavy_hitters, and the incremental ComponentMap — were
verified by pytest only; the driver's correctness artifact never saw
them. This module runs each streaming operator AND its batch twin over
the SAME static frame inside one driver query and emits per-key match
bits (`is_match`); the q74 oracle emits literal 1s over the
SQL-enumerable key set, so any batch/streaming divergence (or a missing
or extra key) flips a bit or the row count and fails the hash — the
same falsifiable-audit pattern as q37/q48/q75.

Checks:
- ``streaming_funnel``: per-user (stage, t1..t3) equality between the
  streaming funnel folded over three time-ordered micro-batches and the
  batch funnel on the union — the operator's documented exactness case.
- ``streaming_heavy``: for each exact top-15 token above the global MG
  guarantee threshold, the sharded streaming sketch must contain it
  with an estimate inside [true - n_shard/(cap+1), true].
- ``component_map``: the incremental map after folding the pair graph
  in two hash-split batches must be row-identical to batch connected
  components on the full pair set.
- ``stream_interval_join`` (round 8, VERDICT r7 #6): the watermarked
  stream-stream inner join with a time-range condition (each click
  joined to the same user's views from the preceding 4 hours, both
  sides replayed as hash-split micro-batches so matches genuinely
  cross batch boundaries) must produce exactly the batch join's
  (view, click) pair set — inner-join results emit on match regardless
  of the watermark, so the comparison is exact, and the oracle
  enumerates the true pair set in SQL so a divergence in EITHER
  direction flips a bit or the row count.

All comparisons resolve driver-side into one small materialized frame
(key sets: funnel users / 15 tokens / pair-graph nodes — bounded well
under 10k rows at bench SFs), temp stream/checkpoint dirs are removed,
and every operator-internal checkpoint is released before returning —
the composite consumes plain literal rows.
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from snowplow_s3_loader_spark.tables import load_table

_STEPS = ["view", "click", "purchase"]
_N_SHARDS = 16
_CAPACITY = 256


def _write_stream_files(slices: list, tmp: str) -> str:
    """Write each slice as ONE parquet file into a stream-input dir with
    strictly increasing mtimes, so FileStreamSource (which orders by
    modification time) replays them as ordered micro-batches under
    maxFilesPerTrigger=1."""
    in_dir = os.path.join(tmp, "in")
    os.makedirs(in_dir, exist_ok=True)
    for i, sl in enumerate(slices):
        stage = os.path.join(tmp, f"w{i}")
        sl.coalesce(1).write.mode("overwrite").parquet(stage)
        part = next(
            p for p in os.listdir(stage) if p.startswith("part-") and p.endswith(".parquet")
        )
        dst = os.path.join(in_dir, f"b{i}.parquet")
        shutil.copyfile(os.path.join(stage, part), dst)
        os.utime(dst, (1_700_000_000 + i * 10, 1_700_000_000 + i * 10))
    return in_dir


def _run_stream(src_df: DataFrame, tmp: str, foreach_batch) -> None:
    q = (
        src_df.writeStream.foreachBatch(foreach_batch)
        .outputMode("update")
        .option("checkpointLocation", os.path.join(tmp, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    # awaitTermination returns False on timeout WITHOUT raising — a slow
    # stream must surface as a harness error, not as partial-state parity
    # bits that masquerade as a batch/streaming divergence
    if not q.awaitTermination(600):
        q.stop()
        raise RuntimeError("parity stream did not drain within 600s")


def _funnel_parity(spark: SparkSession, sf_dir: str) -> list:
    from snowplow_s3_loader_spark.operators.behavior import funnel_steps
    from snowplow_s3_loader_spark.streaming.stateful import streaming_funnel

    ev = load_table(spark, sf_dir, "events").select("user_id", "ts", "event_type")
    # three time-ordered arrival slices split at exact event-time
    # tertiles: per-user arrival stays time-ordered ACROSS batches, the
    # operator's documented batch-equality case
    [row] = ev.select(
        F.expr(
            "percentile(unix_micros(cast(ts as timestamp)), array(0.34, 0.67))"
        ).alias("c")
    ).collect()
    c1, c2 = int(row["c"][0]), int(row["c"][1])
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    slices = [
        ev.where(us <= c1),
        ev.where((us > c1) & (us <= c2)),
        ev.where(us > c2),
    ]
    tmp = tempfile.mkdtemp(prefix="parity_funnel_")
    try:
        in_dir = _write_stream_files(slices, tmp)
        src = (
            spark.readStream.schema("user_id bigint, ts timestamp_ntz, event_type string")
            .option("maxFilesPerTrigger", "1")
            .parquet(in_dir)
        )
        final: dict = {}

        def _fb(df, bid):
            for r in df.collect():  # update mode: later batches overwrite
                final[r["user_id"]] = (r["stage"], r["t1"], r["t2"], r["t3"])

        _run_stream(
            streaming_funnel(src, "user_id", "ts", "event_type", _STEPS), tmp, _fb
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    batch = {
        r["user_id"]: (r["stage"], r["t1"], r["t2"], r["t3"])
        for r in funnel_steps(ev, "user_id", "ts", "event_type", _STEPS).collect()
    }
    return [
        ("streaming_funnel", str(k), int(batch.get(k) == final.get(k)))
        for k in sorted(set(batch) | set(final))
    ]


def _heavy_parity(spark: SparkSession, sf_dir: str) -> list:
    from snowplow_s3_loader_spark.operators.sketches import tokens
    from snowplow_s3_loader_spark.streaming.stateful import streaming_heavy_hitters

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    tmp = tempfile.mkdtemp(prefix="parity_heavy_")
    latest: dict = {}
    try:
        # MG bounds hold under ANY arrival order, so no mtime choreography
        # is needed — three hash-split files, one micro-batch each
        slices = [docs.where(F.pmod(F.xxhash64("doc_id"), 3) == i) for i in range(3)]
        in_dir = _write_stream_files(slices, tmp)
        src = (
            spark.readStream.schema("doc_id bigint, text string")
            .option("maxFilesPerTrigger", "1")
            .parquet(in_dir)
        )
        toks = src.select(F.explode(tokens(F.col("text"))).alias("tok"))

        def _fb(df, bid):
            batch_shards: dict = {}
            for r in df.collect():  # each emission is the shard's FULL summary
                batch_shards.setdefault(r["shard"], {})[r["token"]] = r["est_count"]
            latest.update(batch_shards)

        _run_stream(
            streaming_heavy_hitters(
                toks, n_shards=_N_SHARDS, capacity=_CAPACITY, tok_col="tok"
            ),
            tmp,
            _fb,
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    # exact audit side: shard assignment computed IN SPARK so the hash
    # matches the operator's pmod(xxhash64) exactly
    exact = (
        docs.select(F.explode(tokens(F.col("text"))).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("n"))
        .withColumn("shard", F.pmod(F.xxhash64("tok"), F.lit(_N_SHARDS)).cast("int"))
    )
    shard_tot = {
        r["shard"]: r["t"]
        for r in exact.groupBy("shard").agg(F.sum("n").alias("t")).collect()
    }
    n_total = sum(shard_tot.values())
    top = (
        exact.orderBy(F.desc("n"), "tok")
        .limit(15)
        .where(F.col("n") > F.lit(n_total // (_CAPACITY + 1)))
        .collect()
    )
    rows = []
    for r in top:
        err = shard_tot[r["shard"]] // (_CAPACITY + 1)
        est = latest.get(r["shard"], {}).get(r["tok"])
        ok = est is not None and est <= r["n"] <= est + err
        rows.append(("streaming_heavy", r["tok"], int(ok)))
    return sorted(rows)


def _component_map_parity(spark: SparkSession, sf_dir: str) -> list:
    from snowplow_s3_loader_spark.materialize import release_materialized
    from snowplow_s3_loader_spark.operators.graph import (
        ComponentMap,
        connected_components,
    )

    from snowplow_s3_loader_spark.plans.queries import supplier_pairs

    pairs = supplier_pairs(spark, sf_dir)
    split = F.pmod(F.xxhash64("id_a", "id_b"), F.lit(2))
    m = ComponentMap()
    m.update(pairs.where(split == 0))
    final_map = m.update(pairs.where(split == 1))
    inc = {r["node"]: r["component"] for r in final_map.collect()}
    full_cc = connected_components(pairs)
    full = {r["node"]: r["component"] for r in full_cc.collect()}
    release_materialized(full_cc)
    release_materialized(final_map)
    return [
        ("component_map", str(k), int(inc.get(k) == full.get(k)))
        for k in sorted(set(inc) | set(full))
    ]


def _interval_join_parity(spark: SparkSession, sf_dir: str) -> list:
    """Stream-stream interval join vs its batch twin (round-7's pytest
    e2e — tests/test_streaming_windows.py — promoted to a driver-visible
    audit). Both event slices stream from two hash-split parquet files
    under maxFilesPerTrigger=1, so roughly half the matches pair rows
    from DIFFERENT micro-batches and exercise the buffered-state path;
    the watermark out-spans the data (inner joins emit on match — the
    watermark only bounds state, and the slice is audit-sized)."""
    # watermarks demand TIMESTAMP (not NTZ); the session tz is UTC
    # (tune_session), so the cast is the same stable bijection the
    # funnel battery rides and both twins apply it identically
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", F.col("ts").cast("timestamp").alias("ts"),
        "user_id", "event_type",
    )
    views = ev.where(F.col("event_type") == "view").drop("event_type")
    clicks = ev.where(F.col("event_type") == "click").drop("event_type")

    v_b = views.select(
        F.col("event_id").alias("v_id"), F.col("ts").alias("v_ts"),
        F.col("user_id").alias("user_id"),
    )
    c_b = clicks.select(
        F.col("event_id").alias("c_id"), F.col("ts").alias("c_ts"),
        F.col("user_id").alias("c_user"),
    )
    batch = {
        (r["v_id"], r["c_id"])
        for r in v_b.join(
            c_b,
            (F.col("user_id") == F.col("c_user"))
            & (F.col("c_ts") >= F.col("v_ts"))
            & (F.col("c_ts") <= F.col("v_ts") + F.expr("INTERVAL 4 HOURS")),
        ).select("v_id", "c_id").collect()
    }

    tmp = tempfile.mkdtemp(prefix="parity_ssjoin_")
    got: set = set()
    try:
        v_dir = _write_stream_files(
            [views.where(F.pmod(F.xxhash64("event_id"), 2) == i) for i in range(2)],
            os.path.join(tmp, "v"),
        )
        c_dir = _write_stream_files(
            [clicks.where(F.pmod(F.xxhash64("event_id"), 2) == i) for i in range(2)],
            os.path.join(tmp, "c"),
        )
        schema = "event_id bigint, ts timestamp, user_id bigint"

        def rd(d):
            return (
                spark.readStream.schema(schema)
                .option("maxFilesPerTrigger", "1")
                .parquet(d)
            )

        sv = rd(v_dir).withWatermark("ts", "60 days").select(
            F.col("event_id").alias("v_id"), F.col("ts").alias("v_ts"),
            F.col("user_id"),
        )
        sc = rd(c_dir).withWatermark("ts", "60 days").select(
            F.col("event_id").alias("c_id"), F.col("ts").alias("c_ts"),
            F.col("user_id").alias("c_user"),
        )
        sj = sv.join(
            sc,
            (F.col("user_id") == F.col("c_user"))
            & (F.col("c_ts") >= F.col("v_ts"))
            & (F.col("c_ts") <= F.col("v_ts") + F.expr("INTERVAL 4 HOURS")),
        ).select("v_id", "c_id")

        def _fb(df, bid):
            for r in df.collect():
                got.add((r["v_id"], r["c_id"]))

        q = (
            sj.writeStream.foreachBatch(_fb)
            .outputMode("append")
            .option("checkpointLocation", os.path.join(tmp, "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        if not q.awaitTermination(600):
            q.stop()
            raise RuntimeError("interval-join parity stream did not drain within 600s")
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return [
        ("stream_interval_join", f"{v}@{c}", int((v, c) in batch and (v, c) in got))
        for (v, c) in sorted(batch | got)
    ]


def _cusum_parity(spark: SparkSession, sf_dir: str) -> list:
    """Streaming CUSUM vs the batch closed form (round 8): per event
    type, the final (s_hi, s_lo) statistic and the cumulative alarm
    count after folding three seq-ordered micro-batches must equal the
    batch operator's last row + alarm count on the union — the
    operator's documented exactness case. seq is a per-type row_number
    over (ts, event_id), so the order is total and identical for both
    twins and the tertile split keeps per-key arrival ordered."""
    from pyspark.sql.window import Window

    from snowplow_s3_loader_spark.operators.timeseries import cusum_alarms
    from snowplow_s3_loader_spark.streaming.stateful import streaming_cusum

    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    ev = (
        load_table(spark, sf_dir, "events")
        .select(
            "event_type",
            "event_id",
            "ts",
            F.round(F.col("value") * 100).cast("long").alias("cents"),
        )
        .withColumn("seq", F.row_number().over(w).cast("long"))
        .select("event_type", "seq", "cents")
    )
    [row] = ev.select(
        F.expr("percentile(seq, array(0.34, 0.67))").alias("c")
    ).collect()
    c1, c2 = int(row["c"][0]), int(row["c"][1])
    slices = [
        ev.where(F.col("seq") <= c1),
        ev.where((F.col("seq") > c1) & (F.col("seq") <= c2)),
        ev.where(F.col("seq") > c2),
    ]
    tmp = tempfile.mkdtemp(prefix="parity_cusum_")
    final: dict = {}
    try:
        in_dir = _write_stream_files(slices, tmp)
        src = (
            spark.readStream.schema("event_type string, seq bigint, cents bigint")
            .option("maxFilesPerTrigger", "1")
            .parquet(in_dir)
        )

        def _fb(df, bid):
            for r in df.collect():  # update mode: later batches overwrite
                final[r["event_type"]] = (
                    r["s_hi"], r["s_lo"], r["n_alarms"], r["n_seen"]
                )

        _run_stream(
            streaming_cusum(
                src, "event_type", "seq", "cents",
                target=5000, slack=1000, threshold=50_000,
            ),
            tmp,
            _fb,
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    scored = cusum_alarms(
        ev, "event_type", ["seq"], "cents",
        target=5000, slack=1000, threshold=50_000,
    )
    last = {
        r["event_type"]: (r["s_hi"], r["s_lo"])
        for r in scored.withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("event_type").orderBy(F.col("seq").desc())
            ),
        )
        .where("rn = 1")
        .collect()
    }
    counts = {
        r["event_type"]: (r["n_alarms"], r["n"])
        for r in scored.groupBy("event_type")
        .agg(
            F.sum(F.col("alarm").cast("long")).alias("n_alarms"),
            F.count("*").alias("n"),
        )
        .collect()
    }
    batch = {
        k: (last[k][0], last[k][1], counts[k][0], counts[k][1]) for k in last
    }
    return [
        ("streaming_cusum", str(k), int(batch.get(k) == final.get(k)))
        for k in sorted(set(batch) | set(final))
    ]


def _trailing_parity(spark: SparkSession, sf_dir: str) -> list:
    """Streaming bitmap trailing-distinct vs the batch word-frame
    operator (round 8): the events stream replays as three hash-split
    micro-batches (so a day's 7-day window genuinely accumulates across
    batches and the bit_or state merge is exercised), and the final
    per-day rolling 7-day distinct-user count must equal
    bitmap.bitmap_trailing_distinct on the union, for EVERY observed
    day."""
    from snowplow_s3_loader_spark.operators.bitmap import (
        bitmap_trailing_distinct,
    )
    from snowplow_s3_loader_spark.streaming.stateful import (
        streaming_trailing_distinct,
    )

    ev = load_table(spark, sf_dir, "events").select(
        F.datediff(F.to_date("ts"), F.to_date(F.lit("2024-01-01")))
        .cast("long")
        .alias("day"),
        F.col("user_id").alias("uid"),
        "event_id",
    )
    slices = [
        ev.where(F.col("event_id") % 3 == p).select("day", "uid")
        for p in range(3)
    ]
    tmp = tempfile.mkdtemp(prefix="parity_trailing_")
    final: dict = {}
    try:
        in_dir = _write_stream_files(slices, tmp)
        src = (
            spark.readStream.schema("day bigint, uid bigint")
            .option("maxFilesPerTrigger", "1")
            .parquet(in_dir)
        )

        def _fb(df, bid):
            for r in df.collect():  # update mode: later batches overwrite
                final[r["day"]] = r["n_trailing"]

        _run_stream(
            streaming_trailing_distinct(src, "day", "uid", window_days=7),
            tmp,
            _fb,
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    batch = {
        r["day"]: r["n_trailing"]
        for r in bitmap_trailing_distinct(
            ev.select("day", "uid"), "day", "uid", 7
        ).collect()
    }
    # streaming legitimately also carries fan-out days past the observed
    # set; parity is over the batch operator's observed-day domain
    return [
        ("streaming_trailing", str(d), int(final.get(d) == n))
        for d, n in sorted(batch.items())
    ]


def _session_window_parity(spark: SparkSession, sf_dir: str) -> list:
    """Native Structured Streaming session windows vs the engine's
    batch gap sessionization (round 8, the seventh family). Spark's
    session_window merges an event landing EXACTLY at the gap boundary
    (verified empirically: break iff diff > gap), which is the same
    boundary rule as q38's `timestampdiff > gap` — so the session SETS
    must match exactly. The slice streams as exact event-time tertiles
    (sessions genuinely span micro-batches) plus two far-future
    single-event sentinel batches whose only job is to advance the
    watermark so every real session finalizes under append mode; the
    sentinels' own sessions never finalize and the collector filters
    their users out. Keys are (user, session-start micros); the bit
    also requires (last ts, event count) equality."""
    gap = "30 minutes"
    ev = load_table(spark, sf_dir, "events").where(
        (F.col("user_id") % 5 == 0) & F.col("user_id").isNotNull()
    ).select(
        "user_id", F.col("ts").cast("timestamp").alias("ts"), "event_id"
    )
    # batch twin: the q38 formulation (break iff diff > gap)
    from pyspark.sql.window import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wrun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    gap_break = F.col("__prev").isNull() | (
        F.expr("timestampdiff(MICROSECOND, __prev, ts)") > 1_800_000_000
    )
    batch_sessions = (
        ev.withColumn("__prev", F.lag("ts").over(w))
        .withColumn("__new", gap_break.cast("int"))
        .withColumn("__sid", F.sum("__new").over(wrun))
        .groupBy("user_id", "__sid")
        .agg(
            F.unix_micros(F.min("ts")).alias("start_us"),
            F.unix_micros(F.max("ts")).alias("last_us"),
            F.count("*").alias("n"),
        )
    )
    batch = {
        (r["user_id"], r["start_us"]): (r["last_us"], r["n"])
        for r in batch_sessions.collect()
    }

    [row] = ev.select(
        F.expr("percentile(unix_micros(ts), array(0.34, 0.67))").alias("c")
    ).collect()
    c1, c2 = int(row["c"][0]), int(row["c"][1])
    us = F.unix_micros(F.col("ts"))
    sent = spark.createDataFrame(
        [(-1, "2100-01-01 00:00:00", -1), (-2, "2101-01-01 00:00:00", -2)],
        "user_id long, ts_s string, event_id long",
    ).select("user_id", F.col("ts_s").cast("timestamp").alias("ts"), "event_id")
    slices = [
        ev.where(us <= c1),
        ev.where((us > c1) & (us <= c2)),
        ev.where(us > c2),
        sent.where(F.col("user_id") == -1),
        sent.where(F.col("user_id") == -2),
    ]
    got: dict = {}
    tmp = tempfile.mkdtemp(prefix="parity_sesswin_")
    try:
        in_dir = _write_stream_files(slices, tmp)
        src = (
            spark.readStream.schema("user_id bigint, ts timestamp, event_id bigint")
            .option("maxFilesPerTrigger", "1")
            .parquet(in_dir)
        )
        sess = (
            src.withWatermark("ts", "1 minute")
            .groupBy("user_id", F.session_window("ts", gap))
            .agg(
                F.unix_micros(F.min("ts")).alias("start_us"),
                F.unix_micros(F.max("ts")).alias("last_us"),
                F.count("*").alias("n"),
            )
            .select("user_id", "start_us", "last_us", "n")
        )

        def _fb(df, bid):
            for r in df.collect():  # append mode: finalized sessions only
                if r["user_id"] >= 0:
                    got[(r["user_id"], r["start_us"])] = (r["last_us"], r["n"])

        q = (
            sess.writeStream.foreachBatch(_fb)
            .outputMode("append")
            .option("checkpointLocation", os.path.join(tmp, "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        if not q.awaitTermination(600):
            q.stop()
            raise RuntimeError(
                "session-window parity stream did not drain within 600s"
            )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return [
        (
            "session_window",
            f"{u}@{s}",
            int(batch.get((u, s)) == got.get((u, s))),
        )
        for (u, s) in sorted(set(batch) | set(got))
    ]


def _ohlc_parity(spark: SparkSession, sf_dir: str) -> list:
    """Streaming OHLC/TWAP vs the batch bars (round 9, q141 twin): per
    (event_type, hour bucket), all eight output fields after folding
    three seq-ordered micro-batches must equal the batch operator's row
    on the union — the documented log-shipping exactness case. seq is a
    per-type row_number over (ts, event_id), so per-(key, bucket)
    arrival stays (ts, tiebreak)-ordered across the tertile split."""
    from pyspark.sql.window import Window

    from snowplow_s3_loader_spark.operators.timeseries import ohlc_bars
    from snowplow_s3_loader_spark.streaming.stateful import streaming_ohlc

    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    ev = (
        load_table(spark, sf_dir, "events")
        .select(
            "event_type",
            "event_id",
            "ts",
            (F.round(F.col("value") * 100).cast("long") - 2500).alias("cents"),
        )
        .withColumn("seq", F.row_number().over(w).cast("long"))
    )
    [row] = ev.select(
        F.expr("percentile(seq, array(0.34, 0.67))").alias("c")
    ).collect()
    c1, c2 = int(row["c"][0]), int(row["c"][1])
    cols = ["event_type", "event_id", "ts", "cents"]
    slices = [
        ev.where(F.col("seq") <= c1).select(cols),
        ev.where((F.col("seq") > c1) & (F.col("seq") <= c2)).select(cols),
        ev.where(F.col("seq") > c2).select(cols),
    ]
    tmp = tempfile.mkdtemp(prefix="parity_ohlc_")
    final: dict = {}
    fields = [
        "open_cents", "high_cents", "low_cents", "close_cents",
        "n_ticks", "twap_num", "twap_den", "twap_cents",
    ]
    try:
        in_dir = _write_stream_files(slices, tmp)
        src = (
            spark.readStream.schema(
                "event_type string, event_id bigint, ts timestamp_ntz, cents bigint"
            )
            .option("maxFilesPerTrigger", "1")
            .parquet(in_dir)
            .withColumn("bucket", F.date_trunc("hour", F.col("ts")))
        )

        def _fb(df, bid):
            for r in df.collect():  # update mode: later batches overwrite
                final[(r["event_type"], r["bucket"])] = tuple(
                    r[f] for f in fields
                )

        _run_stream(
            streaming_ohlc(
                src, "event_type", "bucket", "ts", "event_id", "cents",
                span_us=3_600_000_000,
            ),
            tmp,
            _fb,
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    batch = {
        (r["event_type"], r["bucket"]): tuple(r[f] for f in fields)
        for r in ohlc_bars(
            ev, ["event_type"], "ts", "cents", "event_id", "hour"
        ).collect()
    }
    return [
        (
            "streaming_ohlc",
            f"{k}@{b}",
            int(batch.get((k, b)) == final.get((k, b))),
        )
        for (k, b) in sorted(set(batch) | set(final))
    ]


def _url_dedup_parity(spark: SparkSession, sf_dir: str) -> list:
    """Streaming first-seen URL dedup vs the batch url_dedup (round 10,
    q143 twin — the NINTH parity family): the q143 messy-URL corpus
    split into three micro-batches by doc_id % 3 — deliberately NOT
    arrival-ordered, because both state folds (count, min-id) are
    commutative+associative so the operator carries no ordering
    contract — must drain to the batch operator's exact
    (canonical_url, n_dups, keep_id) rows."""
    from snowplow_s3_loader_spark.operators.urls import url_dedup
    from snowplow_s3_loader_spark.plans.queries import messy_url_docs
    from snowplow_s3_loader_spark.streaming.stateful import (
        streaming_url_dedup,
    )

    docs = messy_url_docs(load_table(spark, sf_dir, "documents")).select(
        "doc_id", "url"
    )
    slices = [docs.where(F.col("doc_id") % 3 == i) for i in range(3)]
    tmp = tempfile.mkdtemp(prefix="parity_urldedup_")
    final: dict = {}
    try:
        in_dir = _write_stream_files(slices, tmp)
        src = (
            spark.readStream.schema("doc_id bigint, url string")
            .option("maxFilesPerTrigger", "1")
            .parquet(in_dir)
        )

        def _fb(df, bid):
            for r in df.collect():  # update mode: later batches overwrite
                final[r["canonical_url"]] = (r["n_dups"], r["keep_id"])

        _run_stream(streaming_url_dedup(src, "url", "doc_id"), tmp, _fb)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    batch = {
        r["canonical_url"]: (r["n_dups"], r["keep_id"])
        for r in url_dedup(docs, "url", "doc_id").collect()
    }
    return [
        (
            "streaming_urldedup",
            u,
            int(batch.get(u) == final.get(u)),
        )
        for u in sorted(set(batch) | set(final))
    ]


def _inc_minhash_parity(spark: SparkSession, sf_dir: str) -> list:
    """Streaming incremental MinHash gate vs the in-memory batch gate
    (round 11 — the TENTH parity family): q150's corpus split (history
    = doc_id % 3 != 0 seeded as epoch 0 of a persisted epoch'd band
    store; the new snapshot — evens keep their text, odds replay
    doc_id-1's — arrives as THREE micro-batches by (doc_id/3) % 3).
    The streaming side is foreachBatch over
    incremental_minhash_filter_store (pruned epoch'd parquet store,
    survivor folds per batch); the reference replays the SAME batch
    sequence through the IN-MEMORY gate with checkpointed store unions
    — two genuinely different store implementations that must agree on
    every (id, n_hit_bands, is_dup), including cross-batch fold hits
    (a later batch replaying an earlier batch's survivor text)."""
    from snowplow_s3_loader_spark.materialize import (
        checkpoint_nostats,
        release_materialized,
    )
    from snowplow_s3_loader_spark.operators.dedup import (
        incremental_minhash_filter,
        minhash_bands,
        write_band_store,
    )
    from snowplow_s3_loader_spark.streaming.stateful import (
        streaming_incremental_minhash,
    )

    docs = load_table(spark, sf_dir, "documents")
    d = F.col("doc_id")
    history = docs.where(d % 3 != 0).select("doc_id", "text")
    prev = docs.select((d + 1).alias("doc_id"), F.col("text").alias("__prev"))
    new_docs = (
        docs.where(d % 3 == 0)
        .join(prev, "doc_id", "left")
        .select(
            "doc_id",
            F.when((d % 2 == 1) & F.col("__prev").isNotNull(), F.col("__prev"))
            .otherwise(F.col("text"))
            .alias("text"),
        )
    )
    slices = [
        new_docs.where((d / 3).cast("long") % 3 == i) for i in range(3)
    ]
    tmp = tempfile.mkdtemp(prefix="parity_incminhash_")
    store_dir = os.path.join(tmp, "store")
    got: dict = {}
    try:
        write_band_store(
            minhash_bands(history, "doc_id", "text"),
            store_dir,
            n_buckets=16,
            epoch=0,
        )
        in_dir = _write_stream_files(slices, tmp)
        src = (
            spark.readStream.schema("doc_id bigint, text string")
            .option("maxFilesPerTrigger", "1")
            .parquet(in_dir)
        )

        def _collect(res):
            for r in res.collect():
                got[r["id"]] = (r["n_hit_bands"], r["is_dup"])
            release_materialized(res)

        q = (
            src.writeStream.foreachBatch(
                streaming_incremental_minhash(
                    store_dir, "doc_id", "text", n_buckets=16,
                    on_result=_collect,
                )
            )
            .option("checkpointLocation", os.path.join(tmp, "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        if not q.awaitTermination(600):
            q.stop()
            raise RuntimeError("incdedup parity stream did not drain in 600s")
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    # in-memory reference: the same batch sequence through the
    # in-memory gate, store growing by checkpointed survivor unions
    want: dict = {}
    mem_store = checkpoint_nostats(
        minhash_bands(history, "doc_id", "text").select(
            "band_id", "band_hash"
        )
    )
    for sl in slices:
        res = incremental_minhash_filter(sl, mem_store, "doc_id", "text")
        rows = res.collect()
        for r in rows:
            want[r["id"]] = (r["n_hit_bands"], r["is_dup"])
        survivors = sl.join(
            spark.createDataFrame(
                [(r["id"],) for r in rows if r["is_dup"] == 0],
                "doc_id bigint",
            ),
            "doc_id",
            "left_semi",
        )
        nxt = checkpoint_nostats(
            mem_store.unionByName(
                minhash_bands(survivors, "doc_id", "text").select(
                    "band_id", "band_hash"
                )
            )
        )
        release_materialized(mem_store)
        mem_store = nxt
    release_materialized(mem_store)
    return [
        (
            "streaming_incdedup",
            str(i),
            int(want.get(i) == got.get(i)),
        )
        for i in sorted(set(want) | set(got))
    ]


def _psi_parity(spark: SparkSession, sf_dir: str) -> list:
    """Streaming PSI drift monitor vs batch psi_bins (round 11 — the
    ELEVENTH parity family, q151's twin): the q151 snapshots (even ids
    = frozen reference, odd ids with the +700 purchase shift = current)
    with the CURRENT side split into three micro-batches by event_id
    residue — deliberately NOT arrival-ordered; the per-bin count fold
    is commutative — drained through streaming_psi_counts over the
    frozen psi_reference edges, assembled via psi_assemble, and
    compared bit-for-bit against batch psi_bins on every
    (bin, upper_edge, n_ref, n_cur, psi_micro) row."""
    from snowplow_s3_loader_spark.operators.profile import (
        psi_assemble,
        psi_bins,
        psi_reference,
    )
    from snowplow_s3_loader_spark.streaming.stateful import (
        streaming_psi_counts,
    )

    ev = load_table(spark, sf_dir, "events").select(
        F.round(F.col("value") * 100).cast("long").alias("cents"),
        "event_id",
        (F.col("event_type") == "purchase").alias("__p"),
    )
    ref = ev.where(F.col("event_id") % 2 == 0)
    cur = ev.where(F.col("event_id") % 2 == 1).select(
        (F.col("cents") + F.when(F.col("__p"), 700).otherwise(0)).alias(
            "cents"
        ),
        "event_id",
    )
    edges, ref_counts = psi_reference(ref, "cents", k=10, tie_cols=["event_id"])
    slices = [
        cur.where(F.expr("(event_id div 2) % 3") == i) for i in range(3)
    ]
    tmp = tempfile.mkdtemp(prefix="parity_psi_")
    counts: dict = {}
    try:
        in_dir = _write_stream_files(slices, tmp)
        src = (
            spark.readStream.schema("cents bigint, event_id bigint")
            .option("maxFilesPerTrigger", "1")
            .parquet(in_dir)
        )

        def _fb(df, bid):
            for r in df.collect():  # update mode: later batches overwrite
                counts[r["bin"]] = r["n_cur"]

        _run_stream(streaming_psi_counts(src, "cents", edges), tmp, _fb)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    drained = {
        r["bin"]: tuple(r)
        for r in psi_assemble(
            spark, edges, ref_counts, counts, "bigint"
        ).collect()
    }
    batch = {
        r["bin"]: tuple(r)
        for r in psi_bins(
            ref, cur, "cents", k=10, tie_cols=["event_id"]
        ).collect()
    }
    return [
        (
            "streaming_psi",
            str(b),
            int(batch.get(b) == drained.get(b)),
        )
        for b in sorted(set(batch) | set(drained))
    ]


def _cms_parity(spark: SparkSession, sf_dir: str) -> list:
    """Streaming CMS maintenance vs batch cms_build (round 11 — the
    TWELFTH parity family): the documents token stream hash-split into
    three micro-batches (deliberately NOT arrival-ordered; the per-cell
    count fold is commutative), drained through streaming_cms and
    compared CELL FOR CELL against the batch sketch of the full
    corpus — one parity bit per depth row, each bit covering that
    row's entire counter vector (a single divergent cell, missing
    cell, or phantom cell flips its row's bit)."""
    from snowplow_s3_loader_spark.operators.sketches import cms_build, tokens
    from snowplow_s3_loader_spark.streaming.stateful import streaming_cms

    width, depth = 2048, 4
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    tmp = tempfile.mkdtemp(prefix="parity_cms_")
    drained: dict = {}
    try:
        slices = [
            docs.where(F.pmod(F.xxhash64("doc_id"), 3) == i) for i in range(3)
        ]
        in_dir = _write_stream_files(slices, tmp)
        src = (
            spark.readStream.schema("doc_id bigint, text string")
            .option("maxFilesPerTrigger", "1")
            .parquet(in_dir)
        )
        toks = src.select(F.explode(tokens(F.col("text"))).alias("tok"))

        def _fb(df, bid):
            for r in df.collect():  # update mode: later batches overwrite
                drained[(r["row"], r["cell"])] = r["n"]

        _run_stream(
            streaming_cms(toks, tok_col="tok", width=width, depth=depth),
            tmp,
            _fb,
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    batch = {
        (r["row"], r["cell"]): r["n"]
        for r in cms_build(
            docs.select(F.explode(tokens(F.col("text"))).alias("tok")),
            "tok",
            width=width,
            depth=depth,
        ).collect()
    }
    rows = []
    for d in range(depth):
        b = {c: n for (r, c), n in batch.items() if r == d}
        s = {c: n for (r, c), n in drained.items() if r == d}
        rows.append(("streaming_cms", str(d), int(b == s and len(b) > 0)))
    return rows


def _calibration_parity(spark: SparkSession, sf_dir: str) -> list:
    """Streaming reliability monitor vs batch calibration_bins (round
    11 — the THIRTEENTH parity family, q156's twin): the q156 squashed
    score/label frame split into three micro-batches by a hash of the
    score (deliberately NOT arrival-ordered; all three per-bin folds
    are additions), drained through streaming_calibration_counts,
    assembled with the batch operator's exact integer rules
    driver-side, and compared bit-for-bit on every
    (bin, n, n_pos, avg, frac, gap, ece) row."""
    from snowplow_s3_loader_spark.operators.profile import calibration_bins
    from snowplow_s3_loader_spark.operators.text import hashed_linear_score
    from snowplow_s3_loader_spark.streaming.stateful import (
        streaming_calibration_counts,
    )

    docs = load_table(spark, sf_dir, "documents")
    score, _ = hashed_linear_score(F.col("text"), dim=4096, seed=0)
    base = docs.select(
        score.alias("__s"), (F.col("lang") == "en").cast("long").alias("y")
    )
    squashed = base.select(
        F.least(
            F.greatest(
                F.lit(500_000)
                + F.when(F.col("__s") >= 0, F.expr("__s div 24")).otherwise(
                    -F.expr("(-__s) div 24")
                ),
                F.lit(0).cast("long"),
            ),
            F.lit(1_000_000).cast("long"),
        ).alias("p_micro"),
        "y",
    )
    k = 10
    slices = [
        squashed.where(F.pmod(F.xxhash64("p_micro"), 3) == i)
        for i in range(3)
    ]
    tmp = tempfile.mkdtemp(prefix="parity_calib_")
    counts: dict = {}
    try:
        in_dir = _write_stream_files(slices, tmp)
        src = (
            spark.readStream.schema("p_micro bigint, y bigint")
            .option("maxFilesPerTrigger", "1")
            .parquet(in_dir)
        )

        def _fb(df, bid):
            for r in df.collect():  # update mode: later batches overwrite
                counts[r["bin"]] = (r["n"], r["n_pos"], r["sum_score"])

        _run_stream(
            streaming_calibration_counts(src, "p_micro", "y", k=k), tmp, _fb
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    # assemble with the batch operator's exact integer rules
    ece = sum(
        n * abs(ss // n - npos * 1_000_000 // n)
        for n, npos, ss in counts.values()
        if n > 0
    )
    drained = {}
    for b in range(k):
        n, npos, ss = counts.get(b, (0, 0, 0))
        if n > 0:
            avg = ss // n
            frac = npos * 1_000_000 // n
            drained[b] = (b, n, npos, avg, frac, abs(avg - frac), ece)
        else:
            drained[b] = (b, 0, 0, None, None, None, ece)
    batch = {
        r["bin"]: tuple(r)
        for r in calibration_bins(squashed, "p_micro", "y", k=k).collect()
    }
    return [
        (
            "streaming_calib",
            str(b),
            int(batch.get(b) == drained.get(b)),
        )
        for b in range(k)
    ]


def streaming_parity_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(check_name, key, is_match) for all the parity families, fully
    materialized driver-side (literal rows — no lingering plan or
    checkpoint references). The streaming checks run CONCURRENTLY
    (independent sources/sinks/checkpoints; Spark job submission is
    thread-safe) so the audit pays one streaming-query startup of wall
    time, not nine."""
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=13) as ex:
        fut_funnel = ex.submit(_funnel_parity, spark, sf_dir)
        fut_heavy = ex.submit(_heavy_parity, spark, sf_dir)
        fut_ssj = ex.submit(_interval_join_parity, spark, sf_dir)
        fut_cusum = ex.submit(_cusum_parity, spark, sf_dir)
        fut_trail = ex.submit(_trailing_parity, spark, sf_dir)
        fut_sess = ex.submit(_session_window_parity, spark, sf_dir)
        fut_ohlc = ex.submit(_ohlc_parity, spark, sf_dir)
        fut_url = ex.submit(_url_dedup_parity, spark, sf_dir)
        fut_inc = ex.submit(_inc_minhash_parity, spark, sf_dir)
        fut_psi = ex.submit(_psi_parity, spark, sf_dir)
        fut_cms = ex.submit(_cms_parity, spark, sf_dir)
        fut_calib = ex.submit(_calibration_parity, spark, sf_dir)
        cm_rows = _component_map_parity(spark, sf_dir)
        rows = (
            fut_funnel.result()
            + fut_heavy.result()
            + fut_ssj.result()
            + fut_cusum.result()
            + fut_trail.result()
            + fut_sess.result()
            + fut_ohlc.result()
            + fut_url.result()
            + fut_inc.result()
            + fut_psi.result()
            + fut_cms.result()
            + fut_calib.result()
            + cm_rows
        )
    return spark.createDataFrame(rows, "check_name string, key string, is_match int")
