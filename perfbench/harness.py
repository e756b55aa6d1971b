"""Session lifetime, process accounting, statistics and the span recorder
shared by the benchmark's workloads.

Everything here observes the program from outside: spans wrap the public
functions the loader calls, and counts come from Spark's status tracker and
streaming progress, never from instrumentation inside the package.
"""

from __future__ import annotations

import os
import subprocess
import time
from collections.abc import Callable
from dataclasses import dataclass, field
from statistics import median
from typing import Any

# --------------------------------------------------------------------------
# statistics
# --------------------------------------------------------------------------


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile, q in [0, 1]."""
    v = sorted(values)
    if not v:
        raise ValueError("no samples")
    pos = q * (len(v) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (pos - lo)


# --------------------------------------------------------------------------
# Spark session and processes
# --------------------------------------------------------------------------


def start_session(work: str, cores: int):
    """The program's own session factory, with the Spark UI and the console
    progress bar off and every scratch file kept under `work`."""
    from snowplow_s3_loader_spark.session import get_spark

    local = os.path.join(work, "spark-local")
    os.makedirs(local, exist_ok=True)
    spark = get_spark(
        app_name="perfbench",
        master=f"local[{cores}]",
        shuffle_partitions=cores,
        extra_conf={
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": local,
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={local} -XX:-UsePerfData",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        for k in kids.get(todo.pop(), []):
            out.append(k)
            todo.append(k)
    return out


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssProbe:
    """Peak resident memory of the JVM plus its Python workers: the sum of
    each process's high-water mark, sampled after every batch so a worker
    that exits between samples still counts."""

    def __init__(self) -> None:
        from pyspark import SparkContext

        self.jvm = SparkContext._gateway.proc.pid
        self.peak_mb = 0.0

    def sample(self) -> None:
        pids = [self.jvm] + descendants(self.jvm)
        self.peak_mb = max(self.peak_mb, sum(_hwm_kb(p) for p in pids) / 1024)


def stop_session() -> None:
    """Stop the active Spark session, end the JVM and wait until it and
    every process under it has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = gateway.proc
    pids = [proc.pid] + descendants(proc.pid)
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    proc.stdin.close()  # the JVM exits when its stdin closes
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=30)
    deadline = time.monotonic() + 30
    for pid in pids:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            try:
                os.waitpid(pid, os.WNOHANG)
            except ChildProcessError:
                pass
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, 9)
                os.waitpid(pid, 0)
            except (ProcessLookupError, ChildProcessError):
                pass


def job_census(spark, group: str) -> tuple[int, int, int]:
    """(jobs, stages, tasks) that ran under a job group."""
    st = spark.sparkContext.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stages = tasks = 0
    for j in jobs:
        info = st.getJobInfo(j)
        for s in info.stageIds if info else []:
            stages += 1
            sinfo = st.getStageInfo(s)
            tasks += sinfo.numTasks if sinfo else 0
    return len(jobs), stages, tasks


# --------------------------------------------------------------------------
# spans
# --------------------------------------------------------------------------


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    batch: int | None


@dataclass
class Tracer:
    """In-memory span recorder. Wrapped calls push a span on entry and
    close it on exit; nesting gives each span its parent. `enabled` turns
    recording off without unwrapping, for the untraced half of a run."""

    spans: list[Span] = field(default_factory=list)
    enabled: bool = False
    batch: int | None = None
    _stack: list[int] = field(default_factory=list)

    def wrap(self, name: str, fn: Callable) -> Callable:
        def traced(*args: Any, **kwargs: Any) -> Any:
            if not self.enabled:
                return fn(*args, **kwargs)
            parent = self._stack[-1] if self._stack else None
            self.spans.append(Span(name, time.perf_counter(), 0.0, parent, self.batch))
            idx = len(self.spans) - 1
            self._stack.append(idx)
            try:
                return fn(*args, **kwargs)
            finally:
                self._stack.pop()
                self.spans[idx].end = time.perf_counter()

        return traced

    def durations(self, name: str) -> dict[int | None, float]:
        """Total duration of the named spans per batch."""
        out: dict[int | None, float] = {}
        for s in self.spans:
            if s.name == name:
                out[s.batch] = out.get(s.batch, 0.0) + s.end - s.start
        return out

    def self_times(self, name: str) -> dict[int | None, float]:
        """Per batch: the named spans' duration minus their children's."""
        out = self.durations(name)
        for s in self.spans:
            if s.parent is not None and self.spans[s.parent].name == name:
                out[s.batch] -= s.end - s.start
        return out

    def dump(self, path: str) -> None:
        import json

        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s.__dict__) + "\n")


# --------------------------------------------------------------------------
# results
# --------------------------------------------------------------------------


@dataclass
class Result:
    """What a workload measured: metric values with their sample counts,
    batches attempted and failed, and every failed correctness check."""

    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)
    values: dict[str, float] = field(default_factory=dict)
    samples: dict[str, int] = field(default_factory=dict)
    notes: list[str] = field(default_factory=list)

    def add(self, name: str, value: float, samples: int) -> None:
        self.values[name] = float(value)
        self.samples[name] = samples


# --------------------------------------------------------------------------
# per-batch accounting and output read-back
# --------------------------------------------------------------------------


@dataclass
class Batch:
    """One load_batch call as the benchmark saw it."""

    id: int
    seconds: float = 0.0
    ok: bool = True
    traced: bool = False
    good: int = 0  # AddedCountMetric
    bad: int = 0  # SentToBad rows
    files: int = 0  # WroteFile actions
    out_bytes: int = 0
    census: tuple[int, int, int] = (0, 0, 0)  # jobs, stages, tasks

    @property
    def lines(self) -> int:
        return self.good + self.bad

    def account(self, actions: list) -> None:
        """Fold the action-log entries this batch appended."""
        for a in actions:
            if a.kind == "AddedCountMetric":
                self.good += a.detail[0]
            elif a.kind == "SentToBad":
                self.bad += a.detail[0]
            elif a.kind == "WroteFile":
                self.files += 1
                self.out_bytes += a.detail[1]


def read_gz_tree(root: str) -> list[tuple[str, str]]:
    """(directory relative to root, line) for every line of every .gz file
    under root."""
    import gzip

    out = []
    for d, _, files in os.walk(root):
        rel = os.path.relpath(d, root)
        for name in files:
            if name.endswith(".gz"):
                with gzip.open(os.path.join(d, name), "rt", encoding="utf-8") as f:
                    out.extend((rel, line) for line in f.read().splitlines())
    return out


def staging_left(root: str) -> list[str]:
    return [d for d, _, _ in os.walk(root) if os.path.basename(d).startswith("_staging_")]


def fmt_times(values: list[float]) -> str:
    return " ".join(f"{v:.2f}" for v in values) + " s"


# --------------------------------------------------------------------------
# per-layer metrics shared by the workloads
# --------------------------------------------------------------------------


def install_spans(tracer: Tracer, pipeline) -> None:
    """Spans around the calls into each layer, from outside the package:
    the pipeline's batch body, its blob write, the blob sink's promotion and
    the pipeline's bad-row send."""
    import snowplow_s3_loader_spark.sinks.blob as blob
    import snowplow_s3_loader_spark.streaming.pipeline as pipeline_mod

    pipeline_mod.write_batch = tracer.wrap("write_batch", pipeline_mod.write_batch)
    blob.promote_staging = tracer.wrap("promote_staging", blob.promote_staging)
    pipeline.bad_sink.send_df = tracer.wrap("send_df", pipeline.bad_sink.send_df)
    pipeline.load_batch = tracer.wrap("load_batch", pipeline.load_batch)


def layer_metrics(res: Result, tracer: Tracer, batches: list[Batch], batch_s: dict) -> None:
    """Job census, span times and sink counts over the timed batches;
    `batch_s` maps batch id to the batch time the end-to-end metrics use."""
    traced = [b for b in batches if b.traced]
    plain = [b for b in batches if not b.traced]
    n, n_all = len(traced), len(batches)

    def per_batch(by_batch: dict) -> float:
        return median([by_batch[b.id] for b in traced])

    jobs, stages, tasks = zip(*(b.census for b in batches))
    res.add("streaming.pipeline.jobs_per_batch", median(jobs), n_all)
    res.add("streaming.pipeline.stages_per_batch", median(stages), n_all)
    res.add("streaming.pipeline.tasks_per_batch", median(tasks), n_all)
    res.add("streaming.pipeline.self_s", per_batch(tracer.self_times("load_batch")), n)
    write = tracer.durations("write_batch")
    promote = tracer.durations("promote_staging")
    res.add("sinks.blob.write_batch_s", per_batch(write), n)
    res.add("sinks.blob.promote_staging_s", per_batch(promote), n)
    res.add("sinks.blob.stage_s", median([write[b.id] - promote[b.id] for b in traced]), n)
    res.add("sinks.blob.bytes_per_batch", median([b.out_bytes for b in batches]), n_all)
    res.add("sinks.bad_sink.send_df_s", per_batch(tracer.durations("send_df")), n)
    res.add("sinks.bad_sink.rows_per_batch", median([b.bad for b in batches]), n_all)
    res.add(
        "operators.parse.bad_share",
        sum(b.bad for b in batches) / sum(b.lines for b in batches),
        n_all,
    )
    res.add(
        "trace.overhead_share",
        median([batch_s[b.id] for b in traced]) / median([batch_s[b.id] for b in plain]) - 1,
        n_all,
    )


def stage_metrics(res: Result, df, purpose: str, reps: int) -> None:
    """Decompression alone, and decompression + classify, on one batch of
    input records into the noop sink; classify_s is the difference."""
    from pyspark.sql import functions as F

    from snowplow_s3_loader_spark.operators.decompression import decompressed_stream
    from snowplow_s3_loader_spark.operators.parse import classify

    def timed(frame) -> float:
        t0 = time.perf_counter()
        frame.write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    dec, cls = [], []
    for _ in range(reps):
        dec.append(timed(decompressed_stream(df)))
        cls.append(timed(classify(decompressed_stream(df), purpose)))
    row = decompressed_stream(df).agg(
        F.count("*").alias("n"), F.count("decompress_error").alias("failed")
    ).first()
    res.add("operators.decompression.stage_s", median(dec), reps)
    res.add("operators.decompression.lines_per_envelope", row["n"] / df.count(), 1)
    res.add("operators.decompression.failed_envelopes", row["failed"], 1)
    res.add("operators.parse.classify_s", median(cls) - median(dec), reps)

