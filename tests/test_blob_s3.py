"""Blob-sink S3 rename branch: server-side CopyObject + DeleteObject per
file (the reference's one-PutObject-per-file uploader shape,
Processing.scala:287-289), with the wire client injected."""

from __future__ import annotations

import pytest

from snowplow_s3_loader_spark.sinks.blob import _move_one, _parse_s3_uri


class FakeS3:
    def __init__(self):
        self.objects = {}
        self.calls = []

    def copy_object(self, Bucket, Key, CopySource):
        self.calls.append("copy")
        src = (CopySource["Bucket"], CopySource["Key"])
        if src not in self.objects:
            raise KeyError(src)
        self.objects[(Bucket, Key)] = self.objects[src]

    def head_object(self, Bucket, Key):
        self.calls.append("head")
        return {"ContentLength": len(self.objects[(Bucket, Key)])}

    def delete_object(self, Bucket, Key):
        self.calls.append("delete")
        del self.objects[(Bucket, Key)]


def test_parse_s3_uri():
    assert _parse_s3_uri("s3://bucket/a/b/c.gz") == ("bucket", "a/b/c.gz")
    assert _parse_s3_uri("s3a://b2/x.gz") == ("b2", "x.gz")


def test_move_one_s3_copy_delete():
    s3 = FakeS3()
    s3.objects[("bkt", "_staging_ab/__pp=v.e1/part-0.gz")] = b"x" * 42
    dst, n = _move_one(
        ("s3://bkt/_staging_ab/__pp=v.e1/part-0.gz", "s3://bkt/v.e1/2023-01-01-000000-0000.gz"),
        s3_client=s3,
    )
    assert dst == "s3://bkt/v.e1/2023-01-01-000000-0000.gz"
    assert n == 42
    assert ("bkt", "v.e1/2023-01-01-000000-0000.gz") in s3.objects
    assert ("bkt", "_staging_ab/__pp=v.e1/part-0.gz") not in s3.objects
    assert s3.calls == ["copy", "head", "delete"]


def test_move_one_local_still_moves(tmp_path):
    src = tmp_path / "stage" / "f.gz"
    src.parent.mkdir()
    src.write_bytes(b"data")
    dst = tmp_path / "out" / "final.gz"
    got, n = _move_one((str(src), str(dst)))
    assert got == str(dst) and n == 4
    assert dst.exists() and not src.exists()


# ---- round-3: remote staging listing (the os.walk data-stranding fix) ----

import gzip
import os

from snowplow_s3_loader_spark.sinks.blob import (
    build_rename_jobs,
    promote_staging,
    write_batch,
)
from snowplow_s3_loader_spark.testing.fake_s3 import FakeS3Client


def _sizes(df, partition_col="pp"):
    """The per-partition (rows, value bytes) the pipeline's stats collect
    hands write_batch."""
    from pyspark.sql import functions as F

    rows = df.groupBy(partition_col).agg(F.count("*"), F.sum(F.octet_length("value")))
    return {pp: (n, b or 0) for pp, n, b in rows.collect()}


def test_build_rename_jobs_s3_uris():
    staged = [
        "s3://bkt/out/_staging_ab/__pp=com.example.event1%2Fmodel%3D1/part-00001.gz",
        "s3://bkt/out/_staging_ab/__pp=com.example.event1%2Fmodel%3D1/part-00000.gz",
        "s3://bkt/out/_staging_ab/__pp=__HIVE_DEFAULT_PARTITION__/part-00000.gz",
    ]
    from datetime import datetime, timezone

    now = datetime(2026, 1, 2, 3, 4, 5, tzinfo=timezone.utc)
    jobs = build_rename_jobs(
        staged, "s3://bkt/out/_staging_ab", "s3://bkt/out",
        now=now, deterministic_uuids=True,
    )
    assert jobs == [
        # empty partition (hive default) first, then sorted partition dirs,
        # files numbered in sorted part order
        ("s3://bkt/out/_staging_ab/__pp=__HIVE_DEFAULT_PARTITION__/part-00000.gz",
         "s3://bkt/out/2026-01-02-030405-0000.gz"),
        ("s3://bkt/out/_staging_ab/__pp=com.example.event1%2Fmodel%3D1/part-00000.gz",
         "s3://bkt/out/com.example.event1/model=1/2026-01-02-030405-0000.gz"),
        ("s3://bkt/out/_staging_ab/__pp=com.example.event1%2Fmodel%3D1/part-00001.gz",
         "s3://bkt/out/com.example.event1/model=1/2026-01-02-030405-0001.gz"),
    ]


def test_write_batch_end_to_end_over_file_uri(spark, tmp_path):
    """Drives the full write through the HADOOP FileSystem branch (file://
    scheme): distributed gzip write -> JVM listing -> driver-side renames ->
    staging cleanup. This is the exact code path an s3a:// deployment
    takes, modulo scheme."""
    base = "file://" + str(tmp_path / "out")
    df = spark.createDataFrame(
        [("line-a1", "com.example/event1"), ("line-a2", "com.example/event1"),
         ("line-b1", "com.example/event2")],
        "value string, pp string",
    )
    res = write_batch(df, base, "pp", _sizes(df), deterministic_uuids=True)
    assert len(res.files) == 2
    paths = [f.path for f in res.files]
    # _move_one normalizes file:// dsts to plain local paths
    assert all(str(tmp_path / "out") in p for p in paths)
    out_root = tmp_path / "out"
    on_disk = sorted(
        os.path.relpath(os.path.join(r, f), out_root)
        for r, _d, fs in os.walk(out_root) for f in fs
    )
    assert [os.path.dirname(p) for p in on_disk] == [
        "com.example/event1", "com.example/event2"
    ]
    # no staging leftovers (Hadoop-FS cleanup ran)
    assert not [p for p in on_disk if "_staging" in p]
    content = sorted(
        ln
        for r, _d, fs in os.walk(out_root)
        for f in fs
        for ln in gzip.open(os.path.join(r, f), "rt").read().splitlines()
    )
    assert content == ["line-a1", "line-a2", "line-b1"]


def test_promote_staging_s3_end_to_end_renames_every_file(spark, tmp_path):
    """ADVICE r2 medium: with an s3:// base path every staged object must
    be renamed into place (round 2 built zero jobs and stranded the
    batch). Store is the file-backed fake; the rename tasks run on
    executors and build their own client from client_factory."""
    root = str(tmp_path / "s3root")
    store = FakeS3Client(root)
    staged_keys = [
        "out/_staging_ab/__pp=com.example.event1/part-00000.gz",
        "out/_staging_ab/__pp=com.example.event1/part-00001.gz",
        "out/_staging_ab/__pp=com.example.event2/part-00000.gz",
    ]
    for k in staged_keys:
        store.put_object(Bucket="bkt", Key=k, Body=gzip.compress(k.encode()))

    def list_fn(staging):
        bucket, prefix = "bkt", "out/_staging_ab"
        return [f"s3://bkt/{k}" for k in store.list_keys(bucket, prefix) if k.endswith(".gz")]

    cleaned = []
    res = promote_staging(
        spark,
        "s3://bkt/out/_staging_ab",
        "s3://bkt/out",
        deterministic_uuids=True,
        list_fn=list_fn,
        cleanup_fn=cleaned.append,
        client_factory="snowplow_s3_loader_spark.testing.fake_s3:factory:" + root,
    )
    assert len(res.files) == 3  # every staged file renamed — none stranded
    final_keys = store.list_keys("bkt", "out/")
    assert not [k for k in final_keys if "_staging" in k]
    assert sorted(os.path.dirname(k) for k in final_keys) == [
        "out/com.example.event1", "out/com.example.event1", "out/com.example.event2"
    ]
    assert all(f.path.startswith("s3://bkt/out/com.example.event") for f in res.files)
    assert all(f.n_bytes > 0 for f in res.files)
    assert cleaned == ["s3://bkt/out/_staging_ab"]


def test_write_batch_hot_partition_salted_no_fragmentation(spark, tmp_path):
    """A partition needing k output files is spread over ~k write tasks
    (the salted shuffle) while producing ~k files — parallelism without
    fragmentation — and cold partitions keep exactly one file."""
    base = str(tmp_path / "hot")
    hot = [(f"hot-line-{i:05d}", "com.example/hot") for i in range(400)]
    cold = [(f"cold-{i}", "com.example/cold") for i in range(3)]
    df = spark.createDataFrame(hot + cold, "value string, pp string")
    # avg line ~18 bytes; pick max_bytes so the hot partition needs ~4 files
    avg = 18.0
    from snowplow_s3_loader_spark.sinks.blob import GZIP_RATIO_ESTIMATE

    per_file = 100
    max_bytes = int(per_file * avg * GZIP_RATIO_ESTIMATE)
    res = write_batch(df, base, "pp", _sizes(df), max_bytes=max_bytes, deterministic_uuids=True)

    by_dir: dict = {}
    for f in res.files:
        by_dir.setdefault(os.path.dirname(f.path), []).append(f.path)
    hot_files = by_dir[os.path.join(base, "com.example/hot")]
    cold_files = by_dir[os.path.join(base, "com.example/cold")]
    assert len(cold_files) == 1
    # ceil(400/100)=4 salt buckets; xxhash spread may tilt a bucket over
    # the per-file cap (maxRecordsPerFile then splits it) — bounded either
    # side, never 1 (serial) and never fragmented into tiny shards
    assert 3 <= len(hot_files) <= 8
    # roundtrip: every line lands exactly once
    lines = sorted(
        ln
        for fs in by_dir.values()
        for p in fs
        for ln in gzip.open(p, "rt").read().splitlines()
    )
    assert lines == sorted(v for v, _ in hot + cold)


def test_write_batch_salt_modulus_and_task_spread(spark, tmp_path):
    """Plan gate for the hot-partition salted shuffle (round-4 VERDICT
    item 6): a batch whose hot partition needs k output files must write
    it with AT MOST k tasks (salt modulus == k — the per-(pp,salt) group
    count bounds the writing tasks) and MORE than one (the unsalted
    funnel would serialize the whole partition through a single task).
    Observed through the staged part files' task ids, captured via the
    list_fn seam before promotion renames them."""
    base = str(tmp_path / "spread")
    hot = [(f"hot-line-{i:05d}", "hotp") for i in range(1000)]
    cold = [(f"cold-{i}", "coldp") for i in range(5)]
    df = spark.createDataFrame(hot + cold, "value string, pp string")
    avg = float(sum(len(v) for v, _ in hot + cold)) / len(hot + cold)
    from snowplow_s3_loader_spark.sinks.blob import GZIP_RATIO_ESTIMATE

    max_bytes = int(100 * max(1.0, avg * GZIP_RATIO_ESTIMATE))
    cap = max(1, int(max_bytes / max(1.0, avg * GZIP_RATIO_ESTIMATE)))
    k = -(-1000 // cap)  # expected salt modulus for the hot partition

    captured: dict = {}

    def list_local(staging):
        paths = []
        for root, _dirs, files in os.walk(staging):
            paths.extend(
                os.path.join(root, fn) for fn in files if fn.endswith(".gz")
            )
        captured["staged"] = sorted(paths)
        return captured["staged"]

    res = write_batch(
        df, base, "pp", _sizes(df), max_bytes=max_bytes, deterministic_uuids=True,
        list_fn=list_local,
    )

    def task_id(path):  # part-00017-<uuid>...txt.gz -> 17
        return int(os.path.basename(path).split("-")[1])

    hot_staged = [p for p in captured["staged"] if "__pp=hotp" in p]
    cold_staged = [p for p in captured["staged"] if "__pp=coldp" in p]
    assert len(cold_staged) == 1
    # k files expected; uneven xxhash spread may push a bucket past the
    # per-file cap (maxRecordsPerFile splits it) — small slack, never 1
    assert k <= len(hot_staged) <= k + 4, (k, hot_staged)
    hot_tasks = {task_id(p) for p in hot_staged}
    # modulus gate: at most k distinct (pp,salt) groups exist, so at most
    # k tasks may write the hot partition; a funnel regression gives 1,
    # an unbounded salt would exceed k
    assert 2 <= len(hot_tasks) <= k, sorted(hot_tasks)
    # and the promoted result still carries every line exactly once
    lines = sorted(
        ln
        for f in res.files
        for ln in gzip.open(f.path, "rt").read().splitlines()
    )
    assert lines == sorted(v for v, _ in hot + cold)


def test_write_batch_with_sizes_runs_no_sizing_job(spark, tmp_path, spark_jobs):
    """write_batch sizes its write from the caller's per-partition (rows,
    bytes), which the pipeline folds into its stats collect: the sink runs
    no sizing job of its own."""
    df = spark.createDataFrame(
        [("a", "p1"), ("b", "p1"), ("c", "p2")], "value string, pp string"
    )
    res, jobs = spark_jobs(
        lambda: write_batch(
            df, str(tmp_path / "out"), "pp", {"p1": (2, 2), "p2": (1, 1)},
            deterministic_uuids=True,
        )
    )
    collects = [n for stages in jobs for n in stages if n.startswith("collect at")]
    assert jobs and not collects, jobs
    dirs = {os.path.dirname(f.path) for f in res.files}
    assert len(res.files) == 2 and len(dirs) == 2


def test_write_batch_partition_with_tilde_keeps_its_directory(spark, tmp_path):
    """A partition path survives the staged write through partitionBy's own
    escaping: '~' is an ordinary character and '/' still nests, so
    'a~b/c' lands in a~b/c/, as a plain partitionBy would name it."""
    base = str(tmp_path / "out")
    df = spark.createDataFrame(
        [("l1", "a~b/c"), ("l2", "a~b/c"), ("l3", "v.e/model=1")], "value string, pp string"
    )
    res = write_batch(df, base, "pp", _sizes(df), deterministic_uuids=True)
    by_dir = {}
    for f in res.files:
        lines = gzip.open(f.path, "rt").read().splitlines()
        by_dir.setdefault(os.path.relpath(os.path.dirname(f.path), base), []).extend(lines)
    assert {d: sorted(v) for d, v in by_dir.items()} == {
        "a~b/c": ["l1", "l2"],
        "v.e/model=1": ["l3"],
    }


def test_promote_staging_runs_no_spark_job(spark, tmp_path, spark_jobs):
    """The renames run on a driver thread pool: promotion starts no Spark
    job, and every staged file lands in the reference layout."""
    staging = tmp_path / "out" / "_staging_ab"
    for part in ("__pp=p1/part-00000.gz", "__pp=p1/part-00001.gz", "__pp=p2/part-00000.gz"):
        (staging / part).parent.mkdir(parents=True, exist_ok=True)
        (staging / part).write_bytes(gzip.compress(part.encode()))
    out = str(tmp_path / "out")
    res, jobs = spark_jobs(
        lambda: promote_staging(spark, str(staging), out, deterministic_uuids=True)
    )
    assert jobs == []
    paths = [os.path.relpath(f.path, out) for f in res.files]
    assert [os.path.dirname(p) for p in paths] == ["p1", "p1", "p2"]
    assert all(f.n_bytes > 0 for f in res.files)
    assert not staging.exists()
