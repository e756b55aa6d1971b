"""`enriched_stream`: an ENRICHED_EVENTS backlog drained through the real
streaming path, where fixed per-batch cost dominates.

The backlog is seeded into the package's fake Kinesis across several shards
during set-up; `kinesis_stream` feeds `LoaderPipeline.run_stream` with a
checkpoint location and the default `maxRecords`, so every micro-batch
holds shards x maxRecords lines. The backlog is deep enough that the stream
cannot catch up within the timed window unless batches get several times
faster, and a batch short of a full backlog slice fails the run.

The window ends at the first trigger after `--seconds`: that batch raises
before it touches any output, which terminates the query with nothing
half-written, so every committed batch can be checked exactly once.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import sys
import time
from statistics import median

from perfbench import gen
from perfbench.harness import (
    Batch,
    Result,
    RssProbe,
    Tracer,
    fmt_times,
    install_spans,
    job_census,
    layer_metrics,
    percentile,
    read_gz_tree,
    stage_metrics,
    staging_left,
    start_session,
)

STOP_MARK = "perfbench: timed window over"
FAKE_KINESIS = "snowplow_s3_loader_spark.testing.fake_kinesis:factory"


def _progress_rows(query) -> list[dict]:
    return [json.loads(p.json) for p in query.recentProgress]


def _start_ts(progress: dict) -> float:
    return dt.datetime.fromisoformat(progress["timestamp"].replace("Z", "+00:00")).timestamp()


def run(seed: int, seconds: float, trace: bool, work: str, cores: int, p: dict) -> Result:
    from pyspark.errors import StreamingQueryException

    from snowplow_s3_loader_spark.config import LoaderConfig
    from snowplow_s3_loader_spark.sources.streams import kinesis_stream
    from snowplow_s3_loader_spark.streaming.pipeline import LoaderPipeline

    t_setup = time.perf_counter()
    spark = start_session(work, cores)
    session_s = time.perf_counter() - t_setup

    # set-up: the whole backlog, from the seed
    t0 = time.perf_counter()
    warmup, batch_lines = p["warmup_batches"], p["shards"] * p["max_records"]
    depth = warmup + int(seconds / p["min_batch_s"]) + 2
    backlog = gen.enriched_backlog(seed, p["shards"], depth * p["max_records"])
    seed_file = os.path.join(work, "kinesis-seed.json")
    gen.write_kinesis_seed(seed_file, "perfbench", backlog)
    gen_s = time.perf_counter() - t0

    cfg = LoaderConfig(purpose="ENRICHED_EVENTS")
    cfg.good.path = os.path.join(work, "good")
    cfg.bad.path = os.path.join(work, "bad")
    cfg.batching.max_delay_seconds = p["max_delay_s"]
    cfg.input.kind = "kinesis"
    cfg.input.stream_name = "perfbench"
    cfg.input.max_records = p["max_records"]
    cfg.input.client_factory = FAKE_KINESIS
    # 4 shards get the polling reader either way; naming it skips
    # the shard-count probe, which would load the seed file once more
    cfg.input.options = {"seedFile": seed_file, "readerMode": "polling"}
    pipeline = LoaderPipeline(spark, cfg.validate())
    tracer = Tracer()
    if trace:
        install_spans(tracer, pipeline)
    rss = RssProbe()

    batches: dict[int, Batch] = {}
    state = {"deadline": None, "window_start": None, "stop": False, "attempted": 0}
    inner = pipeline.load_batch
    log = pipeline.actions.actions

    def accounted(df, bid: int) -> None:
        if state["stop"]:
            raise RuntimeError(STOP_MARK)
        state["attempted"] += 1
        b = Batch(bid, traced=trace and bid >= warmup and bid % 2 == 0)
        tracer.batch, tracer.enabled = bid, b.traced
        if trace:
            spark.sparkContext.setJobGroup(f"batch-{bid}", f"batch-{bid}")
        before = len(log)
        t_b = time.perf_counter()
        try:
            inner(df, bid)
        except Exception:
            b.ok = False
            raise
        finally:
            b.seconds = time.perf_counter() - t_b
            tracer.enabled = False
            b.account(log[before:])
            if trace:
                b.census = job_census(spark, f"batch-{bid}")
            batches[bid] = b
            rss.sample()
        now = time.perf_counter()
        if bid == warmup - 1:
            state["window_start"], state["deadline"] = now, now + seconds
        elif state["deadline"] is not None and now >= state["deadline"]:
            state["stop"] = True

    pipeline.load_batch = accounted
    source = kinesis_stream(spark, cfg.input)
    checkpoint = os.path.join(work, "checkpoint")
    t_stream = time.perf_counter()
    hard_stop = t_stream + seconds + p["stall_s"]
    progress: list[dict] = []
    res = Result()
    while True:
        query = pipeline.run_stream(source, checkpoint=checkpoint)
        try:
            while query.isActive and time.perf_counter() < hard_stop:
                query.awaitTermination(1)
        except StreamingQueryException:
            pass
        if query.isActive:
            query.stop()
            res.errors.append(f"stream still running {p['stall_s']} s after the window")
        progress.extend(_progress_rows(query))
        exc = query.exception()
        if exc is None or STOP_MARK in str(exc):
            break
        res.failed += 1
        print(f"stream failed, restarting from the checkpoint: {exc}", file=sys.stderr)
        if state["stop"] or time.perf_counter() >= hard_stop:
            break
    res.attempted = state["attempted"]

    by_id = {pr["batchId"]: pr for pr in progress}
    ok = sorted((b for b in batches.values() if b.ok), key=lambda b: b.id)
    _check(res, ok, by_id, backlog, batch_lines, cfg.good.path, checkpoint)
    timed = [b for b in ok if b.id >= warmup and b.id in by_id]
    if not timed or state["window_start"] is None:
        res.errors.append("no timed batch completed")
        return res

    trig = [by_id[b.id]["durationMs"]["triggerExecution"] / 1000 for b in timed]
    warm = [by_id[i]["durationMs"]["triggerExecution"] / 1000 for i in range(warmup) if i in by_id]
    res.notes.append(
        f"set-up: session {session_s:.2f} s, backlog {gen_s:.2f} s, "
        f"warm-up triggers {fmt_times(warm)}"
    )
    res.notes.append(f"timed triggers {fmt_times(trig)}")
    first, last = by_id[timed[0].id], by_id[timed[-1].id]
    window = _start_ts(last) + trig[-1] - _start_ts(first)
    setup_s = session_s + gen_s + state["window_start"] - t_stream
    res.add("setup_s", setup_s, 1)
    res.add("lines_per_s", sum(by_id[b.id]["numInputRows"] for b in timed) / window, len(timed))
    res.add("batch_s.p50", percentile(trig, 0.5), len(timed))
    res.add("batch_s.p75", percentile(trig, 0.75), len(timed))
    res.add(
        "out_bytes_per_line", sum(b.out_bytes for b in timed) / sum(b.good for b in timed), len(timed)
    )
    res.add("files_per_batch", median([b.files for b in timed]), len(timed))
    res.add("peak_rss_mb", rss.peak_mb, len(batches))
    if trace:
        _per_layer(res, spark, tracer, timed, by_id, trig, window, backlog, p)
        tracer.dump(os.path.join(os.path.dirname(work), f"spans-enriched_stream-{seed}.jsonl"))
    return res


def _check(res, ok, by_id, backlog, batch_lines, good, checkpoint) -> None:
    """Counts per batch, then every consumed backlog line in the .gz output
    exactly once, as a gap-free prefix of its shard up to the committed
    offsets."""
    for b in ok:
        rows = by_id.get(b.id, {}).get("numInputRows")
        if rows is not None and b.good != rows:
            res.errors.append(f"batch {b.id}: AddedCountMetric {b.good}, input rows {rows}")
        if b.bad:
            res.errors.append(f"batch {b.id}: {b.bad} enriched lines sent to bad rows")
        if rows is not None and rows != batch_lines:
            res.errors.append(f"batch {b.id}: {rows} rows, backlog drained; deepen it")
    seen: dict[int, set[int]] = {s: set() for s in range(len(backlog))}
    n_lines = 0
    for _, line in read_gz_tree(good):
        n_lines += 1
        shard, idx = gen.parse_event_id(line.split("\t")[gen.EVENT_ID_INDEX])
        if backlog[shard][idx] != line:
            res.errors.append(f"shard {shard} line {idx} altered")
            return
        seen[shard].add(idx)
    if n_lines != sum(len(s) for s in seen.values()):
        res.errors.append(f"{n_lines - sum(len(s) for s in seen.values())} duplicate lines")
    if n_lines != sum(b.good for b in ok):
        res.errors.append(f"{n_lines} lines in .gz files, {sum(b.good for b in ok)} counted")
    committed = _committed_offsets(checkpoint)
    for shard, idxs in seen.items():
        want = committed.get(gen.shard_name(shard), 0)
        if idxs != set(range(want)):
            res.errors.append(f"shard {shard}: {len(idxs)} lines written, {want} committed")
    if staging_left(good):
        res.errors.append(f"staging left under {good}")


def _committed_offsets(checkpoint: str) -> dict[str, int]:
    """Per shard, the record count up to the last committed batch's end
    offset (the fake's sequence numbers count records from 1)."""
    commits = [int(n) for n in os.listdir(os.path.join(checkpoint, "commits")) if n.isdigit()]
    if not commits:
        return {}
    with open(os.path.join(checkpoint, "offsets", str(max(commits)))) as f:
        offset = json.loads(f.read().splitlines()[-1])
    return {s: int(seq) if seq.isdigit() else 0 for s, seq in offset["shards"].items()}


def _per_layer(res, spark, tracer, timed, by_id, trig, window, backlog, p) -> None:
    dur = [by_id[b.id]["durationMs"] for b in timed]
    n = len(timed)
    layer_metrics(res, tracer, timed, {b.id: t for b, t in zip(timed, trig)})
    res.add("streaming.pipeline.add_batch_ms", median([d["addBatch"] for d in dur]), n)
    res.add(
        "streaming.pipeline.offset_log_ms",
        median([d["walCommit"] + d["commitOffsets"] for d in dur]),
        n,
    )
    res.add("streaming.pipeline.trigger_idle_share", 1 - sum(trig) / window, n)
    res.add("streaming.pipeline.batch_s_local1", 0.0, 0)  # measured on sdj_envelopes
    res.add(
        "sources.kinesis_source.read_ms",
        median([d.get("latestOffset", 0) + d.get("getBatch", 0) for d in dur]),
        n,
    )
    res.add(
        "sources.kinesis_source.rows_per_batch",
        median([by_id[b.id]["numInputRows"] for b in timed]),
        n,
    )
    # the isolated stages on one micro-batch worth of records
    records = [line.encode() for shard in backlog for line in shard[: p["max_records"]]]
    df = spark.createDataFrame([(r,) for r in records], "payload binary")
    df = df.repartition(p["shards"]).cache()
    stage_metrics(res, df, "ENRICHED_EVENTS", p["isolation_reps"])
    df.unpersist()
