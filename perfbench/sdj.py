"""`sdj_envelopes`: a bulk SELF_DESCRIBING load, 13 times the lines per batch
of `enriched_stream`, so per-row work (decompression, parse, the fan-out
write, bad rows) carries a far larger share of each batch.

Each batch is one `LoaderPipeline.load_batch` call on a parquet file of
compressed envelopes written during set-up. Batches run back to back (one
closed-loop client); the first `warmup_batches` are discarded.
"""

from __future__ import annotations

import os
import re
import shutil
import sys
import time
import traceback
from collections import Counter
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

_SCHEMA_RE = re.compile(r'"schema":"iglu:([^/]+)/([^/]+)/jsonschema/(\d+)-')


def _pipeline(spark, work: str, p: dict):
    from snowplow_s3_loader_spark.config import LoaderConfig
    from snowplow_s3_loader_spark.streaming.pipeline import LoaderPipeline

    cfg = LoaderConfig(purpose="SELF_DESCRIBING")
    cfg.good.path = os.path.join(work, "good")
    cfg.bad.path = os.path.join(work, "bad")
    cfg.good.partition_format = gen.PARTITION_FORMAT
    cfg.batching.max_bytes = p["max_bytes"]
    return LoaderPipeline(spark, cfg.validate())


class _Runner:
    """Runs batches on the generated inputs and checks each one's counts."""

    def __init__(self, spark, pipeline, inputs, errors: list[str], census: bool):
        self.spark, self.pipeline, self.inputs = spark, pipeline, inputs
        self.errors, self.census = errors, census
        self.batches: list[Batch] = []

    def run(self, bid: int, tracer: Tracer | None = None) -> Batch:
        df, expect = self.inputs[bid % len(self.inputs)]
        cfg = self.pipeline.config
        for d in (cfg.good.path, cfg.bad.path):  # keep only this batch's output
            shutil.rmtree(d, ignore_errors=True)
        b = Batch(bid, traced=tracer is not None and tracer.enabled)
        if tracer is not None:
            tracer.batch = bid
        if self.census:
            self.spark.sparkContext.setJobGroup(f"batch-{bid}", f"batch-{bid}")
        log = self.pipeline.actions.actions
        before = len(log)
        t0 = time.perf_counter()
        try:
            self.pipeline.load_batch(df, bid)
        except Exception:  # noqa: BLE001 - a failed batch is counted, the run goes on
            b.ok = False
            traceback.print_exc(file=sys.stderr)
        b.seconds = time.perf_counter() - t0
        b.account(log[before:])
        if self.census:
            b.census = job_census(self.spark, f"batch-{bid}")
        if b.ok and (b.good, b.bad) != (len(expect.good_lines), expect.n_bad):
            self.errors.append(
                f"batch {bid}: counted good/bad {b.good}/{b.bad}, "
                f"generated {len(expect.good_lines)}/{expect.n_bad}"
            )
        self.batches.append(b)
        return b

    def check_output(self, bid: int) -> None:
        """The batch's .gz files hold exactly its good lines, each under its
        schema's partition, and no staging directory is left behind."""
        _, expect = self.inputs[bid % len(self.inputs)]
        good = self.pipeline.config.good.path
        rows = read_gz_tree(good)
        if Counter(line for _, line in rows) != Counter(expect.good_lines):
            self.errors.append(f"batch {bid}: .gz lines differ from the generated good lines")
        for rel, line in rows:
            vendor, name, model = _SCHEMA_RE.search(line).groups()
            if not rel.startswith(f"{vendor}.{name}/model={model}/date="):
                self.errors.append(f"batch {bid}: line of {vendor}/{name} written under {rel}")
                break
        if staging_left(good):
            self.errors.append(f"batch {bid}: staging left under {good}")


def run(seed: int, seconds: float, trace: bool, work: str, cores: int, p: dict) -> Result:
    t_setup = time.perf_counter()
    spark = start_session(work, cores)
    session_s = time.perf_counter() - t_setup

    # set-up: generate every input from the seed, timing each one
    inputs, gen_s = [], []
    for i in range(p["inputs"]):
        t0 = time.perf_counter()
        batch = gen.sdj_batch(seed, i, p["lines_per_batch"])
        path = os.path.join(work, f"input-{i}")
        gen.write_envelopes(path, batch.envelopes, p["files_per_input"])
        gen_s.append(time.perf_counter() - t0)
        inputs.append((spark.read.parquet(path), batch))

    t0 = time.perf_counter()
    res = Result()
    pipeline = _pipeline(spark, work, p)
    tracer = Tracer()
    if trace:
        install_spans(tracer, pipeline)
    runner = _Runner(spark, pipeline, inputs, res.errors, census=trace)
    rss = RssProbe()
    for bid in range(p["warmup_batches"]):
        runner.run(bid)
    setup_s = session_s + len(gen_s) * median(gen_s) + time.perf_counter() - t0
    res.notes.append(
        f"set-up: session {session_s:.2f} s, inputs {fmt_times(gen_s)}, "
        f"warm-up batches {fmt_times([b.seconds for b in runner.batches])}"
    )

    # timed window: closed loop, one batch after another
    timed: list[Batch] = []
    deadline = time.perf_counter() + seconds
    bid = p["warmup_batches"]
    while time.perf_counter() < deadline:
        tracer.enabled = trace and bid % 2 == 0  # traced and untraced batches alternate
        timed.append(runner.run(bid, tracer))
        rss.sample()
        bid += 1
    tracer.enabled = False

    res.attempted = len(runner.batches)
    res.failed = sum(not b.ok for b in runner.batches)
    ok = [b for b in timed if b.ok]
    if not ok:
        res.errors.append("no timed batch completed")
        return res
    runner.check_output(ok[-1].id)
    secs = [b.seconds for b in ok]
    res.notes.append(f"timed batches {fmt_times(secs)}")
    res.add("setup_s", setup_s, 1)
    res.add("lines_per_s", sum(b.lines for b in ok) / sum(secs), len(ok))
    res.add("batch_s.p50", percentile(secs, 0.5), len(ok))
    res.add("batch_s.p75", percentile(secs, 0.75), len(ok))
    res.add("out_bytes_per_line", sum(b.out_bytes for b in ok) / sum(b.good for b in ok), len(ok))
    res.add("files_per_batch", median([b.files for b in ok]), len(ok))
    res.add("peak_rss_mb", rss.peak_mb, len(timed))

    if trace:
        layer_metrics(res, tracer, ok, {b.id: b.seconds for b in ok})
        stage_metrics(res, inputs[0][0], "SELF_DESCRIBING", p["isolation_reps"])
        for name in ("add_batch_ms", "offset_log_ms", "trigger_idle_share"):
            res.add(f"streaming.pipeline.{name}", 0.0, 0)  # no stream in this workload
        res.add("sources.kinesis_source.read_ms", 0.0, 0)
        res.add("sources.kinesis_source.rows_per_batch", 0.0, 0)
        tracer.dump(os.path.join(os.path.dirname(work), f"spans-sdj_envelopes-{seed}.jsonl"))
        res.add("streaming.pipeline.batch_s_local1", *_local1(spark, work, inputs, p, res.errors))
    return res


def _local1(spark, work: str, inputs, p: dict, errors: list[str]) -> tuple[float, int]:
    """The single-threaded baseline: the same batches in a local[1] session,
    after one warm-up batch. Returns (median batch seconds, batches)."""
    spark.stop()
    spark1 = start_session(work, 1)
    inputs1 = [
        (spark1.read.parquet(os.path.join(work, f"input-{i}")), expect)
        for i, (_, expect) in enumerate(inputs)
    ]
    runner = _Runner(spark1, _pipeline(spark1, work, p), inputs1, errors, census=False)
    batches = [runner.run(i) for i in range(1 + p["local1_batches"])][1:]
    return median([b.seconds for b in batches]), len(batches)
