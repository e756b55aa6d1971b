"""Custom keyed stateful operator (applyInPandasWithState): running per-user
totals carried across micro-batches with bounded, timeout-evicted state."""

from __future__ import annotations


def _write(dirpath, name, rows):
    dirpath.mkdir(parents=True, exist_ok=True)
    (dirpath / name).write_text("\n".join(f"{u},{v}" for u, v in rows) + "\n")


def _run_collect(spark, in_dir, ckpt):
    from snowplow_s3_loader_spark.streaming.stateful import running_user_counts

    src = spark.readStream.schema("user_id int, val int").csv(str(in_dir))
    collected: list = []

    def sink(batch_df, batch_id):
        collected.extend(batch_df.collect())

    q = (
        running_user_counts(src)
        .writeStream.foreachBatch(sink)
        .outputMode("update")
        .option("checkpointLocation", str(ckpt))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    # last emission per user wins (update mode)
    return {r["user_id"]: (r["n_events"], r["total_val"]) for r in collected}


def test_running_user_counts_across_batches(spark, tmp_path):
    in_dir = tmp_path / "in"
    ckpt = tmp_path / "ckpt"
    _write(in_dir, "b1.csv", [(1, 10), (1, 5), (2, 3)])
    got = _run_collect(spark, in_dir, ckpt)
    assert got == {1: (2, 15), 2: (1, 3)}

    # restart over the same checkpoint with a new file: keyed state persists
    _write(in_dir, "b2.csv", [(1, 100), (3, 1)])
    got2 = _run_collect(spark, in_dir, ckpt)
    assert got2[1] == (3, 115)  # accumulated across the restart
    assert got2[3] == (1, 1)
    assert 2 not in got2  # user 2 not in the new batch -> no re-emission


def test_rocksdb_state_bounded_with_timeout_eviction(spark, tmp_path):
    """VERDICT r2 item 9: RocksDB state store provider active (conf-gated
    default) and keyed state stays BOUNDED — processing-time timeouts evict
    idle keys, so a key replay doesn't grow state monotonically."""
    import time

    from snowplow_s3_loader_spark.streaming.stateful import (
        ROCKSDB_PROVIDER,
        enable_rocksdb_state_store,
        running_user_counts,
    )

    key = "spark.sql.streaming.stateStore.providerClass"
    prev = spark.conf.get(key, None)
    if prev is not None:
        spark.conf.unset(key)
    try:
        assert enable_rocksdb_state_store(spark)
        assert spark.conf.get(key) == ROCKSDB_PROVIDER
        # a user-pinned provider is respected (conf-gated)
        spark.conf.set(key, "com.example.CustomProvider")
        assert not enable_rocksdb_state_store(spark)
        spark.conf.set(key, ROCKSDB_PROVIDER)

        in_dir = tmp_path / "rocks_in"
        _write(in_dir, "b1.csv", [(u, 1) for u in range(10_000)])
        q = (
            running_user_counts(
                spark.readStream.schema("user_id int, val int").csv(str(in_dir)),
                timeout_ms=1500,
            )
            .writeStream.foreachBatch(lambda df, bid: df.count())
            .outputMode("update")
            .option("checkpointLocation", str(tmp_path / "rocks_ckpt"))
            .trigger(processingTime="1 second")
            .start()
        )

        def state_rows():
            p = q.lastProgress
            if not p or not p.get("stateOperators"):
                return None
            return p["stateOperators"][0]["numRowsTotal"]

        try:
            t0 = time.monotonic()
            while time.monotonic() - t0 < 90 and (state_rows() or 0) < 10_000:
                time.sleep(0.5)
            assert state_rows() == 10_000, q.lastProgress
            # all keys idle past the timeout: later batches must EVICT them
            time.sleep(2.0)
            _write(in_dir, "b2.csv", [(1, 1)])
            t0 = time.monotonic()
            while time.monotonic() - t0 < 90 and (state_rows() or 10_000) > 10:
                time.sleep(0.5)
            assert (state_rows() or 10_000) <= 10, q.lastProgress
        finally:
            q.stop()
            q.awaitTermination(30)
    finally:
        if prev is not None:
            spark.conf.set(key, prev)
        else:
            spark.conf.unset(key)


def test_streaming_near_dup_filter(spark, tmp_path):
    """Streaming SimHash near-dup filter: a second-batch document nearly
    identical to a first-batch document is flagged; distinct documents
    survive; decisions persist across micro-batches via band state."""
    import json

    from pyspark.sql import functions as F

    from snowplow_s3_loader_spark.streaming.stateful import (
        near_dup_keep_filter,
        streaming_near_dup_votes,
    )

    # 60 distinct tokens: one-token perturbation moves the simhash by
    # ~1 bit (votes have wide margins); a 10-token doc would scatter it
    base = " ".join(f"word{i}" for i in range(60))
    near = " ".join(f"word{i}" for i in range(59)) + " zzz"   # d(base,near)=1
    distinct = " ".join(f"other{i}" for i in range(60))        # d=36

    in_dir = tmp_path / "in"
    in_dir.mkdir()
    with open(in_dir / "b1.json", "w") as f:
        f.write(json.dumps({"doc_id": 1, "text": base}) + "\n")
        f.write(json.dumps({"doc_id": 2, "text": distinct}) + "\n")

    decisions: dict[int, bool] = {}

    def sink(batch_df, batch_id):
        for r in near_dup_keep_filter(batch_df).collect():
            decisions[r["id"]] = r["keep"]

    src = spark.readStream.schema("doc_id long, text string").json(str(in_dir))
    votes = streaming_near_dup_votes(src, "doc_id", "text", max_hamming=3)

    def run():
        q = (
            votes.writeStream.foreachBatch(sink)
            .outputMode("update")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)

    run()
    assert decisions == {1: True, 2: True}  # batch 1: both novel

    with open(in_dir / "b2.json", "w") as f:
        f.write(json.dumps({"doc_id": 3, "text": near}) + "\n")      # near-dup of 1
        f.write(json.dumps({"doc_id": 4, "text": base}) + "\n")      # exact dup of 1
        f.write(json.dumps({"doc_id": 5, "text": distinct + " extra tail words"}) + "\n")
    run()
    assert decisions[3] is False   # near-duplicate caught across batches
    assert decisions[4] is False   # exact duplicate caught
    assert decisions[5] is True    # still far from everything kept

    # sanity: the simhash distance justifies the expectations above
    from snowplow_s3_loader_spark.operators.dedup import hamming60, simhash60_fast

    df = spark.createDataFrame(
        [(1, base), (3, near), (2, distinct)], "doc_id long, text string"
    )
    sh = {r["id"]: r["simhash"] for r in simhash60_fast(df, "doc_id", "text").collect()}
    d13 = bin(sh[1] ^ sh[3]).count("1")
    d12 = bin(sh[1] ^ sh[2]).count("1")
    assert d13 <= 3 < d12


def _write_tokens(dirpath, name, tokens):
    dirpath.mkdir(parents=True, exist_ok=True)
    (dirpath / name).write_text("\n".join(tokens) + "\n")


def _run_hh(spark, in_dir, ckpt, n_shards, capacity):
    from snowplow_s3_loader_spark.streaming.stateful import streaming_heavy_hitters

    src = spark.readStream.schema("tok string").csv(str(in_dir))
    collected: list[tuple[int, dict]] = []

    def sink(batch_df, batch_id):
        rows = batch_df.collect()
        per_shard: dict = {}
        for r in rows:
            per_shard.setdefault(r["shard"], {})[r["token"]] = r["est_count"]
        collected.append((batch_id, per_shard))

    q = (
        streaming_heavy_hitters(src, n_shards=n_shards, capacity=capacity)
        .writeStream.foreachBatch(sink)
        .outputMode("update")
        .option("checkpointLocation", str(ckpt))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    # the per-shard state bound is the operator's weak-scaling contract
    # (round 14, VERDICT r13 item 7): every emission IS the shard's live
    # Misra-Gries summary, so its row count must never exceed capacity —
    # at ANY batch, not just the final one
    for _bid, per_shard in collected:
        for shard, summary in per_shard.items():
            assert len(summary) <= capacity, (shard, len(summary), capacity)
    # latest emission per shard wins (update mode)
    latest: dict = {}
    for _bid, per_shard in sorted(collected):
        latest.update(per_shard)
    return latest


def test_streaming_heavy_hitters_bounds_across_batches(spark, tmp_path):
    """Sharded MG state folded across micro-batches (and a restart) must
    satisfy the per-shard MG guarantee over the UNION of all batches:
    est <= true <= est + n_shard/(capacity+1), and every token heavier
    than its shard's bound is present."""
    from collections import Counter

    from pyspark.sql import functions as F

    n_shards, capacity = 4, 8
    b1 = ["alpha"] * 40 + ["beta"] * 25 + [f"x{i}" for i in range(30)]
    b2 = ["alpha"] * 20 + ["gamma"] * 30 + [f"y{i}" for i in range(30)]

    in_dir, ckpt = tmp_path / "in", tmp_path / "ckpt"
    _write_tokens(in_dir, "b1.csv", b1)
    _run_hh(spark, in_dir, ckpt, n_shards, capacity)
    # second file + restart over the same checkpoint: state persists
    _write_tokens(in_dir, "b2.csv", b2)
    latest = _run_hh(spark, in_dir, ckpt, n_shards, capacity)

    truth = Counter(b1) + Counter(b2)
    # shard assignment must match the operator's (xxhash64 pmod)
    shard_of = {
        r["tok"]: r["shard"]
        for r in spark.createDataFrame([(t,) for t in truth], "tok string")
        .select(
            "tok", F.pmod(F.xxhash64("tok"), F.lit(n_shards)).cast("int").alias("shard")
        )
        .collect()
    }
    shard_mass = Counter()
    for t, c in truth.items():
        shard_mass[shard_of[t]] += c

    for tok, true_c in truth.items():
        s = shard_of[tok]
        err = shard_mass[s] // (capacity + 1)
        est = latest.get(s, {}).get(tok)
        if true_c > err:
            assert est is not None, (tok, true_c, err)
        if est is not None:
            assert est <= true_c, (tok, est, true_c)
            assert est >= true_c - err, (tok, est, true_c, err)


def test_streaming_funnel_matches_batch_on_ordered_stream(spark, tmp_path):
    """streaming_funnel over time-ordered micro-batches must equal the
    batch funnel on the union of all events (the documented exactness
    case), including users whose conversion spans batches."""
    import random
    from datetime import datetime, timedelta

    from snowplow_s3_loader_spark.operators.behavior import funnel_steps
    from snowplow_s3_loader_spark.streaming.stateful import streaming_funnel

    rnd = random.Random(17)
    t0 = datetime(2024, 1, 1)
    steps = ["view", "click", "purchase"]
    rows = []
    for i in range(400):
        rows.append(
            (
                rnd.randrange(25),
                t0 + timedelta(seconds=i * 13 + rnd.randrange(5)),
                rnd.choice(steps + ["noise"]),
            )
        )
    rows.sort(key=lambda r: r[1])  # event-time-ordered arrival
    thirds = [rows[:150], rows[150:300], rows[300:]]
    in_dir = tmp_path / "funnel_in"
    in_dir.mkdir(parents=True)
    for i, chunk in enumerate(thirds):
        (in_dir / f"b{i}.csv").write_text(
            "\n".join(f"{u},{ts.isoformat()},{ty}" for u, ts, ty in chunk) + "\n"
        )

    src = spark.readStream.schema(
        "user_id int, ts timestamp_ntz, event_type string"
    ).csv(str(in_dir))
    collected: list = []
    q = (
        streaming_funnel(src, "user_id", "ts", "event_type", steps)
        .writeStream.foreachBatch(lambda df, bid: collected.extend(df.collect()))
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "funnel_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    # update mode: the last emission per user is the final state
    got = {}
    for r in collected:
        got[r["user_id"]] = (r["stage"], r["t1"], r["t2"], r["t3"])

    batch_df = spark.createDataFrame(
        rows, "user_id int, ts timestamp_ntz, event_type string"
    )
    want = {
        r["user_id"]: (r["stage"], r["t1"], r["t2"], r["t3"])
        for r in funnel_steps(batch_df, "user_id", "ts", "event_type", steps).collect()
    }
    assert got == want
    assert any(v[0] == 3 for v in want.values())  # non-trivial conversions


def test_streaming_funnel_retro_event_improves_without_invalidating(spark, tmp_path):
    """A retroactive earlier step-1 event (arriving in a LATER batch)
    lowers t1 and leaves the already-established downstream chain valid
    — the documented bounded-state behavior."""
    from datetime import datetime

    from snowplow_s3_loader_spark.streaming.stateful import streaming_funnel

    t = lambda s: datetime.fromisoformat(s)
    b1 = [(1, t("2024-01-01T10:00"), "view"), (1, t("2024-01-01T11:00"), "click")]
    b2 = [(1, t("2024-01-01T09:00"), "view")]  # retroactive earlier view
    in_dir = tmp_path / "retro_in"
    in_dir.mkdir(parents=True)
    for i, chunk in enumerate((b1, b2)):
        (in_dir / f"b{i}.csv").write_text(
            "\n".join(f"{u},{ts.isoformat()},{ty}" for u, ts, ty in chunk) + "\n"
        )
    src = spark.readStream.schema(
        "user_id int, ts timestamp_ntz, event_type string"
    ).csv(str(in_dir))
    collected: list = []
    q = (
        streaming_funnel(src, "user_id", "ts", "event_type", ["view", "click"])
        .writeStream.foreachBatch(lambda df, bid: collected.extend(df.collect()))
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "retro_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    final = collected[-1]
    assert final["t1"] == t("2024-01-01T09:00")  # improved retroactively
    assert final["t2"] == t("2024-01-01T11:00")  # chain stays valid
    assert final["stage"] == 2


def test_streaming_parity_rows_all_match(spark, sf_dir):
    """The driver-visible batch-vs-streaming parity audit (folded into
    q74_scale_battery) must emit is_match=1 for every key in all
    THIRTEEN families (session_window and streaming_ohlc landed rounds
    8/9; streaming_urldedup round 10; streaming_incdedup,
    streaming_psi, streaming_cms and streaming_calib round 11) — a
    falsifiable audit is only useful
    if its green state is pinned here and its red states are reachable
    (each family's divergence behavior is covered by the
    operator-level differential tests above)."""
    from snowplow_s3_loader_spark.plans.parity import streaming_parity_rows

    rows = streaming_parity_rows(spark, sf_dir).collect()
    by_check: dict = {}
    for r in rows:
        by_check.setdefault(r["check_name"], []).append(r["is_match"])
    assert set(by_check) == {
        "streaming_funnel",
        "streaming_heavy",
        "component_map",
        "stream_interval_join",
        "streaming_cusum",
        "streaming_trailing",
        "session_window",
        "streaming_ohlc",
        "streaming_urldedup",
        "streaming_incdedup",
        "streaming_psi",
        "streaming_cms",
        "streaming_calib",
    }, by_check
    for name, bits in by_check.items():
        assert bits and all(b == 1 for b in bits), (name, bits)


def test_streaming_cusum_matches_batch_on_ordered_stream(spark, tmp_path):
    """streaming_cusum over seq-ordered micro-batches must equal the
    batch closed form on the union: final statistic per key AND the
    cumulative alarm count (the documented exactness case), including
    drifts that cross batch boundaries."""
    import random

    from snowplow_s3_loader_spark.operators.timeseries import cusum_alarms
    from snowplow_s3_loader_spark.streaming.stateful import streaming_cusum

    rnd = random.Random(23)
    rows = []
    for k in ("a", "b", "c"):
        base = 100
        for i in range(120):
            if k == "a" and i >= 60:
                base = 140  # upward drift crossing the 2nd/3rd batch
            if k == "b" and i >= 90:
                base = 55   # late downward drift
            rows.append((k, i, base + rnd.randrange(-8, 9)))
    thirds = [rows[0::3], rows[1::3], rows[2::3]]  # interleave by seq? no:
    # seq-ordered arrival: batch n carries the n-th time slice per key
    ordered = sorted(rows, key=lambda r: r[1])
    thirds = [ordered[:120], ordered[120:240], ordered[240:]]
    in_dir = tmp_path / "cusum_in"
    in_dir.mkdir(parents=True)
    import os
    import time as _time

    base_t = _time.time() - 100
    for i, chunk in enumerate(thirds):
        p = in_dir / f"b{i}.csv"
        p.write_text("\n".join(f"{k},{s},{v}" for k, s, v in chunk) + "\n")
        # the file source orders micro-batches by mtime: pin it so batch
        # i really arrives i-th (the plans/parity.py discipline)
        os.utime(p, (base_t + i * 10, base_t + i * 10))

    src = spark.readStream.schema("k string, seq long, x long").option(
        "maxFilesPerTrigger", 1
    ).csv(str(in_dir))
    collected: list = []
    q = (
        streaming_cusum(src, "k", "seq", "x", target=100, slack=5, threshold=120)
        .writeStream.foreachBatch(lambda df, bid: collected.extend(df.collect()))
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "cusum_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {}
    for r in collected:  # update mode: last emission per key is final
        got[r["k"]] = (r["s_hi"], r["s_lo"], r["n_alarms"], r["n_seen"])

    batch_df = spark.createDataFrame(rows, "k string, seq long, x long")
    scored = cusum_alarms(
        batch_df, "k", ["seq"], "x", target=100, slack=5, threshold=120
    )
    import pyspark.sql.functions as SF

    finals = {
        r["k"]: (r["s_hi"], r["s_lo"])
        for r in scored.where(SF.col("seq") == 119).collect()
    }
    alarms = {
        r["k"]: r["n"]
        for r in scored.where("alarm").groupBy("k").agg(SF.count("*").alias("n")).collect()
    }
    want = {
        k: (finals[k][0], finals[k][1], alarms.get(k, 0), 120) for k in finals
    }
    assert got == want
    assert want["a"][2] > 0 and want["b"][2] > 0  # both drifts fired


def test_streaming_trailing_distinct_matches_batch(spark, tmp_path):
    """streaming_trailing_distinct folded over three micro-batches must
    equal the batch bitmap operator on the union for every observed
    day — including windows whose contributing days arrive in
    DIFFERENT batches (bit_or merge across batches)."""
    import os
    import random
    import time as _time

    from snowplow_s3_loader_spark.operators.bitmap import (
        bitmap_trailing_distinct,
    )
    from snowplow_s3_loader_spark.streaming.stateful import (
        streaming_trailing_distinct,
    )

    rnd = random.Random(31)
    rows = [
        (rnd.choice([1, 2, 3, 8, 9, 15]), rnd.randrange(0, 300))
        for _ in range(600)
    ]
    thirds = [rows[:200], rows[200:400], rows[400:]]
    in_dir = tmp_path / "trail_in"
    in_dir.mkdir(parents=True)
    base_t = _time.time() - 100
    for i, chunk in enumerate(thirds):
        p = in_dir / f"b{i}.csv"
        p.write_text("\n".join(f"{d},{u}" for d, u in chunk) + "\n")
        os.utime(p, (base_t + i * 10, base_t + i * 10))

    src = spark.readStream.schema("day long, uid long").option(
        "maxFilesPerTrigger", 1
    ).csv(str(in_dir))
    collected: list = []
    q = (
        streaming_trailing_distinct(src, "day", "uid", window_days=7)
        .writeStream.foreachBatch(
            lambda df, bid: collected.extend(df.collect())
        )
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "trail_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    final = {}
    for r in collected:  # update mode: last emission per day wins
        final[r["day"]] = r["n_trailing"]

    batch_df = spark.createDataFrame(rows, "day long, uid long")
    want = {
        r["day"]: r["n_trailing"]
        for r in bitmap_trailing_distinct(
            batch_df, "day", "uid", 7
        ).collect()
    }
    # brute-force belt-and-braces
    for d in {dd for dd, _ in rows}:
        assert want[d] == len({u for dd, u in rows if d - 6 <= dd <= d})
    # every observed day must match; streaming legitimately also holds
    # fan-out days past the observed set
    for d, n in want.items():
        assert final[d] == n, d


def test_session_window_gap_boundary_matches_batch_rule(spark):
    """Pins the boundary rule the session_window parity family depends
    on: Spark's session_window MERGES an event landing exactly at the
    gap boundary (break iff diff > gap) — the same rule as the q38
    batch twin's `timestampdiff > gap`. If a Spark upgrade changed this
    to a half-open window, this test fails before the parity audit."""
    import datetime

    from pyspark.sql import functions as F

    base = datetime.datetime(2024, 1, 1, 12, 0, 0)

    def t(s):
        return base + datetime.timedelta(seconds=s)

    rows = [
        (1, t(0)), (1, t(1800)),   # exactly gap apart: ONE session
        (2, t(0)), (2, t(1801)),   # over the gap: TWO sessions
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp")
    out = (
        df.groupBy("user_id", F.session_window("ts", "30 minutes"))
        .agg(F.count("*").alias("n"))
    )
    got = {(r["user_id"], r["n"]) for r in out.collect()}
    assert got == {(1, 2), (2, 1)}, got


def test_streaming_ohlc_matches_batch_on_ordered_stream(spark, tmp_path):
    """streaming_ohlc over (ts, tiebreak)-ordered micro-batches must
    equal ohlc_bars on the union for every (key, bucket) — all eight
    fields, including TWAP whose tick-holding intervals cross batch
    boundaries (the recursion carries last_ts/last_c) and bars whose
    ticks span all three batches."""
    import datetime as dt
    import os
    import time as _time

    import pyspark.sql.functions as SF

    from snowplow_s3_loader_spark.operators.timeseries import ohlc_bars
    from snowplow_s3_loader_spark.streaming.stateful import streaming_ohlc

    t0 = dt.datetime(2024, 3, 1, 9, 0, 0)
    rows = []
    for k in ("x", "y"):
        for i in range(90):
            # ~3 ticks/minute over 2 hours -> two bars per key; negative
            # cents exercise the truncating-division sign path
            ts = t0 + dt.timedelta(minutes=i * 80 / 60.0)
            shift = 350 if k == "x" else 150  # key x's bars go net-negative
            rows.append((k, ts, i, (i * 37) % 400 - shift))
    rows.sort(key=lambda r: (r[1], r[2]))
    df_all = spark.createDataFrame(
        rows, "k string, ts timestamp_ntz, tb long, cents long"
    )
    thirds = [rows[:60], rows[60:120], rows[120:]]
    in_dir = tmp_path / "ohlc_in"
    in_dir.mkdir(parents=True)
    base_t = _time.time() - 100
    for i, chunk in enumerate(thirds):
        stage = tmp_path / f"w{i}"
        spark.createDataFrame(
            chunk, "k string, ts timestamp_ntz, tb long, cents long"
        ).coalesce(1).write.mode("overwrite").parquet(str(stage))
        part = next(
            f for f in os.listdir(stage)
            if f.startswith("part-") and f.endswith(".parquet")
        )
        dst = in_dir / f"b{i}.parquet"
        (stage / part).rename(dst)
        os.utime(dst, (base_t + i * 10, base_t + i * 10))

    src = (
        spark.readStream.schema(
            "k string, ts timestamp_ntz, tb long, cents long"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(str(in_dir))
        .withColumn("bucket", SF.date_trunc("hour", SF.col("ts")))
    )
    fields = [
        "open_cents", "high_cents", "low_cents", "close_cents",
        "n_ticks", "twap_num", "twap_den", "twap_cents",
    ]
    got: dict = {}

    def _fb(df, bid):
        for r in df.collect():
            got[(r["k"], r["bucket"])] = tuple(r[f] for f in fields)

    q = (
        streaming_ohlc(src, "k", "bucket", "ts", "tb", "cents", 3_600_000_000)
        .writeStream.foreachBatch(_fb)
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ohlc_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(300)

    want = {
        (r["k"], r["bucket"]): tuple(r[f] for f in fields)
        for r in ohlc_bars(df_all, ["k"], "ts", "cents", "tb", "hour").collect()
    }
    assert got == want
    assert len(want) == 4  # two bars per key
    assert any(v[7] < 0 for v in want.values())  # negative TWAP exercised


def test_streaming_url_dedup_matches_batch_any_order(spark, tmp_path):
    """streaming_url_dedup folded over arbitrarily-split micro-batches
    must equal batch url_dedup on the union — both state folds (count,
    min-id) are commutative+associative, so the split deliberately
    interleaves ids (doc_id % 3), not arrival order. Messy URLs
    exercise the canonicalization collapse inside the stream."""
    import os
    import time as _time

    import pyspark.sql.functions as SF

    from snowplow_s3_loader_spark.operators.urls import url_dedup
    from snowplow_s3_loader_spark.streaming.stateful import streaming_url_dedup

    rows = []
    for i in range(1, 121):
        host = f"Site{i % 5}.com"
        www = "WWW." if i % 4 == 0 else ""
        frag = "#x" if i % 3 == 0 else ""
        rows.append((i, f"https://{www}{host}/p/{i % 20}?b=2&a=1{frag}"))
    rows.append((200, "garbage"))  # no canonical form: dropped both sides
    df_all = spark.createDataFrame(rows, "doc_id long, url string")

    in_dir = tmp_path / "url_in"
    in_dir.mkdir(parents=True)
    base_t = _time.time() - 100
    for i in range(3):
        chunk = df_all.where(SF.col("doc_id") % 3 == i)
        stage = tmp_path / f"w{i}"
        chunk.coalesce(1).write.mode("overwrite").parquet(str(stage))
        part = next(
            f for f in os.listdir(stage)
            if f.startswith("part-") and f.endswith(".parquet")
        )
        dst = in_dir / f"b{i}.parquet"
        (stage / part).rename(dst)
        os.utime(dst, (base_t + i * 10, base_t + i * 10))

    src = (
        spark.readStream.schema("doc_id long, url string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(in_dir))
    )
    got: dict = {}

    def _fb(df, bid):
        for r in df.collect():
            got[r["canonical_url"]] = (r["n_dups"], r["keep_id"])

    q = (
        streaming_url_dedup(src, "url", "doc_id")
        .writeStream.foreachBatch(_fb)
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "url_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(300)

    want = {
        r["canonical_url"]: (r["n_dups"], r["keep_id"])
        for r in url_dedup(df_all, "url", "doc_id").collect()
    }
    assert got == want
    # host = i%5 and path = i%20 are correlated (5 | 20), so exactly 20
    # distinct canonical forms survive; the junk row is dropped
    assert len(want) == 20
    assert max(v[0] for v in want.values()) >= 2  # real collapses happened


def test_streaming_url_dedup_string_ids(spark, tmp_path):
    """keep_id carries the id column's OWN type — string doc ids must
    flow through the state fold and drain to the batch operator's rows
    (the round-10 twin hard-coded LongType and int()-coerced the min,
    silently narrowing the contract to integer ids)."""
    import os
    import time as _time

    import pyspark.sql.functions as SF

    from snowplow_s3_loader_spark.operators.urls import url_dedup
    from snowplow_s3_loader_spark.streaming.stateful import streaming_url_dedup

    rows = [
        (f"doc-{i:03d}", f"https://site{i % 3}.com/p/{i % 6}?a=1")
        for i in range(1, 37)
    ]
    df_all = spark.createDataFrame(rows, "doc_id string, url string")

    in_dir = tmp_path / "surl_in"
    in_dir.mkdir(parents=True)
    base_t = _time.time() - 100
    for i in range(2):
        chunk = df_all.where(SF.abs(SF.hash("doc_id")) % 2 == i)
        stage = tmp_path / f"sw{i}"
        chunk.coalesce(1).write.mode("overwrite").parquet(str(stage))
        part = next(
            f for f in os.listdir(stage)
            if f.startswith("part-") and f.endswith(".parquet")
        )
        dst = in_dir / f"b{i}.parquet"
        (stage / part).rename(dst)
        os.utime(dst, (base_t + i * 10, base_t + i * 10))

    src = (
        spark.readStream.schema("doc_id string, url string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(in_dir))
    )
    got: dict = {}

    def _fb(df, bid):
        for r in df.collect():
            got[r["canonical_url"]] = (r["n_dups"], r["keep_id"])

    q = (
        streaming_url_dedup(src, "url", "doc_id")
        .writeStream.foreachBatch(_fb)
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "surl_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(300)

    want = {
        r["canonical_url"]: (r["n_dups"], r["keep_id"])
        for r in url_dedup(df_all, "url", "doc_id").collect()
    }
    assert got == want
    assert all(isinstance(v[1], str) for v in want.values())


def test_streaming_cms_matches_batch_cell_for_cell(spark, tmp_path):
    """streaming_cms drained over three UNORDERED micro-batches must
    equal cms_build on the union cell for cell — including cells whose
    counts accumulate across batches (a token split across all three
    slices) — and a brute-force per-token audit must show every
    drained estimate >= the true count (the CMS one-sided guarantee
    survives the streaming fold)."""
    import os
    import random
    import time as _time

    from snowplow_s3_loader_spark.operators.sketches import (
        cms_build,
        cms_query,
    )
    from snowplow_s3_loader_spark.streaming.stateful import streaming_cms

    rnd = random.Random(47)
    vocab = [f"tok{i}" for i in range(60)]
    rows = [rnd.choice(vocab) for _ in range(900)]
    # deliberately UNORDERED slices: round-robin so most tokens span all
    # three batches and the per-cell fold must genuinely accumulate
    thirds = [rows[0::3], rows[1::3], rows[2::3]]
    in_dir = tmp_path / "cms_in"
    in_dir.mkdir(parents=True)
    base_t = _time.time() - 100
    for i, chunk in enumerate(thirds):
        p = in_dir / f"b{i}.csv"
        p.write_text("\n".join(chunk) + "\n")
        os.utime(p, (base_t + i * 10, base_t + i * 10))

    width, depth = 128, 3
    src = spark.readStream.schema("tok string").option(
        "maxFilesPerTrigger", 1
    ).csv(str(in_dir))
    drained: dict = {}
    q = (
        streaming_cms(src, tok_col="tok", width=width, depth=depth)
        .writeStream.foreachBatch(
            lambda df, bid: drained.update(
                {(r["row"], r["cell"]): r["n"] for r in df.collect()}
            )
        )
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "cms_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)

    batch_df = spark.createDataFrame([(t,) for t in rows], "tok string")
    want = {
        (r["row"], r["cell"]): r["n"]
        for r in cms_build(batch_df, "tok", width=width, depth=depth).collect()
    }
    assert drained == want
    # the drained frame IS a sketch frame: point estimates must satisfy
    # true <= est for every token (one-sided CMS guarantee)
    sketch = spark.createDataFrame(
        [(r, c, n) for (r, c), n in drained.items()], "row int, cell long, n long"
    )
    qtoks = spark.createDataFrame([(t,) for t in set(rows)], "tok string")
    ests = {
        r["token"]: r["est_n"]
        for r in cms_query(sketch, qtoks, "tok", width=width, depth=depth).collect()
    }
    from collections import Counter

    true = Counter(rows)
    for t, n in true.items():
        assert ests[t] >= n, (t, ests[t], n)
