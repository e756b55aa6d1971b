"""Blob sink — O8/O10 of the reference (DynamicPath.scala:54-108,
S3Sink.scala:29-58, writeToStorage Processing.scala:281-300).

Writes one flushed batch as gzip-compressed newline-terminated text objects,
one-or-more files per schema partition, at template-resolved paths with
reference-style filenames `<prefix><yyyy-MM-dd-HHmmss>-<uuid>.gz`.

Spark-first design: a single distributed write job (partitionBy on the
resolved partition string, gzip codec on the text sink, maxRecordsPerFile
for the byte-cap soft limit), then a DRIVER-SIDE rename pass to the
reference's layout: the driver lists the staged files and runs the moves on
a thread pool sharing one S3 client — the reference's in-process parallel
one-PutObject-per-file uploaders (Processing.scala:287-289), and what
Hadoop's own commitJob does. On S3 a rename is a server-side CopyObject, so
no data passes through the driver, and no Spark job is paid for it.

The byte cap mirrors the reference's *soft* maxBytes semantics
(Processing.scala:249 checks after exceeding; config comment calls it a soft
limit): we translate maxBytes to a record-count cap using the batch's
average compressed-line estimate rather than tracking exact compressed bytes.
Both that estimate and the hot-partition salt plan come from the caller's
per-partition (rows, bytes) sizes, which the pipeline takes from its own
stats collect; the sink runs no sizing job of its own.
"""

from __future__ import annotations

import os
import shutil
import uuid as uuid_mod
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field
from datetime import datetime, timezone
from functools import partial
from urllib.parse import unquote

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from snowplow_s3_loader_spark.dynamic_path import get_filename, normalize_path

# partition column name used during the staged write; partitionBy escapes
# the '/' of a template path as %2F, so the whole path stays one directory
_PP = "__pp"

# assumed gzip ratio for translating maxBytes (compressed) into a row-count
# soft cap; the reference itself sizes buffers with similar heuristics
# (Environment.scala:122-130)
GZIP_RATIO_ESTIMATE = 0.4


@dataclass
class WrittenFile:
    path: str
    n_bytes: int


@dataclass
class BlobWriteResult:
    files: list[WrittenFile] = field(default_factory=list)


def _parse_s3_uri(uri: str) -> tuple[str, str]:
    from urllib.parse import urlparse

    p = urlparse(uri)
    return p.netloc, p.path.lstrip("/")


def _strip_file_scheme(p: str) -> str:
    """file:///tmp/x and file:/tmp/x -> /tmp/x (Hadoop emits either form)."""
    if p.startswith("file://"):
        return "/" + p[len("file://") :].lstrip("/")
    if p.startswith("file:/"):
        return p[len("file:") :]
    return p


def _s3_client(client_factory: str | None = None):
    """The S3 client for one promotion: `client_factory` ("module:callable"
    or "module:callable:arg") builds an injected fake, the default is boto3
    (env-gated). boto3 clients are thread-safe, so one is shared by every
    rename of the batch."""
    if client_factory:
        import importlib

        mod_name, _, rest = client_factory.partition(":")
        attr, _, arg = rest.partition(":")
        fn = getattr(importlib.import_module(mod_name), attr)
        return fn(arg) if arg else fn()
    try:
        import boto3  # optional — not in the base image
    except ImportError as e:  # pragma: no cover - env gate
        raise NotImplementedError(
            "s3 blob rename requires boto3 (or run with a local "
            "output path / keep part-file names)"
        ) from e
    return boto3.client("s3")


def _is_s3(path: str) -> bool:
    return path.startswith(("s3://", "s3a://"))


def _move_one(job: tuple[str, str], s3_client: object | None = None) -> tuple[str, int]:
    """Rename one staged file.

    Local paths (including file:// URIs): an actual filesystem move
    (exist_ok makes the mkdir race-safe across concurrent renames).
    s3://-style paths: S3 has no rename, so server-side CopyObject +
    DeleteObject — one API call pair per file, exactly the reference's
    one-PutObject-per-file uploader shape (Processing.scala:287-289).
    `s3_client` is injectable; default is a fresh boto3 client."""
    src, dst = job
    if _is_s3(dst):
        if s3_client is None:
            s3_client = _s3_client()
        src_b, src_k = _parse_s3_uri(src)
        dst_b, dst_k = _parse_s3_uri(dst)
        s3_client.copy_object(
            Bucket=dst_b, Key=dst_k, CopySource={"Bucket": src_b, "Key": src_k}
        )
        head = s3_client.head_object(Bucket=dst_b, Key=dst_k)
        s3_client.delete_object(Bucket=src_b, Key=src_k)
        return dst, int(head["ContentLength"])
    src, dst = _strip_file_scheme(src), _strip_file_scheme(dst)
    os.makedirs(os.path.dirname(dst), exist_ok=True)
    shutil.move(src, dst)
    return dst, os.path.getsize(dst)


def _list_staging(spark, staging: str) -> tuple[list[str], str]:
    """List every .gz part file under the staging dir; returns (paths,
    qualified_staging_prefix).

    Plain local paths use os.walk; any URI (file://, hdfs://, s3a://, ...)
    goes through the JVM Hadoop FileSystem API — the same filesystem that
    just served the distributed write, so if the write landed, the listing
    is available too. (Round-2 bug: os.walk on an s3:// staging dir
    returned nothing, built zero rename jobs, and silently stranded the
    batch in staging — S3Sink.scala:29-58 is the reference's production
    path, so the remote listing must be first-class.)"""
    if "://" not in staging:
        out = []
        for root, _dirs, files in os.walk(staging):
            out.extend(os.path.join(root, f) for f in files if f.endswith(".gz"))
        return out, staging
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(staging)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(jpath):
        return [], staging
    qualified = str(fs.makeQualified(jpath).toString())
    paths: list[str] = []
    it = fs.listFiles(jpath, True)
    while it.hasNext():
        p = str(it.next().getPath().toString())
        if p.endswith(".gz"):
            paths.append(p)
    return paths, qualified


def _cleanup_staging(spark, staging: str) -> None:
    if "://" not in staging:
        shutil.rmtree(staging, ignore_errors=True)
        return
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(staging)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    fs.delete(jpath, True)


def build_rename_jobs(
    staged_files: list[str],
    staging_prefix: str,
    base_dir: str,
    prefix: str = "",
    now: datetime | None = None,
    deterministic_uuids: bool = False,
) -> list[tuple[str, str]]:
    """Map staged part files to their final reference-layout names.

    Pure string work (scheme-agnostic, works identically for local and
    s3:// paths): strip the staging prefix, decode the __pp= partition
    segment back into the template path (partitionBy's own escaping, e.g.
    '/' as %2F), and number/uuid the files per partition in sorted order."""
    now = now or datetime.now(timezone.utc)
    by_partition: dict[str, list[str]] = {}
    for src in staged_files:
        rel = src[len(staging_prefix) :].lstrip("/")
        segs = rel.split("/")
        partition = ""
        if segs and segs[0].startswith(_PP + "="):
            partition = unquote(segs[0][len(_PP) + 1 :])
        if partition == "__HIVE_DEFAULT_PARTITION__":
            partition = ""
        by_partition.setdefault(partition, []).append(src)
    jobs: list[tuple[str, str]] = []
    for partition, srcs in sorted(by_partition.items()):
        target_dir = normalize_path(
            base_dir + "/" + partition if partition else base_dir
        )
        for i, src in enumerate(sorted(srcs)):
            uid = f"{i:04d}" if deterministic_uuids else str(uuid_mod.uuid4())
            jobs.append((src, target_dir.rstrip("/") + "/" + get_filename(prefix, now, uid)))
    return jobs


def promote_staging(
    spark,
    staging: str,
    base_dir: str,
    prefix: str = "",
    now: datetime | None = None,
    deterministic_uuids: bool = False,
    list_fn=None,
    cleanup_fn=None,
    client_factory: str | None = None,
) -> BlobWriteResult:
    """List the staged write, rename every part file into the reference
    layout, then drop the staging dir. The renames run on a driver thread
    pool as wide as the session's default parallelism (capped at the file
    count) and share one S3 client — no Spark job. `list_fn` /
    `cleanup_fn` / `client_factory` are injection seams for store fakes."""
    if list_fn is not None:
        staged, qualified = list_fn(staging), staging
    else:
        staged, qualified = _list_staging(spark, staging)
    jobs = build_rename_jobs(
        staged, qualified, base_dir, prefix, now, deterministic_uuids
    )
    result = BlobWriteResult()
    if jobs:
        client = _s3_client(client_factory) if any(_is_s3(d) for _, d in jobs) else None
        width = min(len(jobs), spark.sparkContext.defaultParallelism)
        with ThreadPoolExecutor(width) as pool:
            moved = list(pool.map(partial(_move_one, s3_client=client), jobs))
        result.files = [WrittenFile(path=p, n_bytes=b) for p, b in moved]
    if cleanup_fn is not None:
        cleanup_fn(staging)
    else:
        _cleanup_staging(spark, staging)
    result.files.sort(key=lambda f: f.path)
    return result


def write_batch(
    df: DataFrame,
    base_dir: str,
    partition_col: str,
    sizes: dict[str | None, tuple[int, int]],
    value_col: str = "value",
    prefix: str = "",
    max_bytes: int = 67_108_864,
    now: datetime | None = None,
    deterministic_uuids: bool = False,
    list_fn=None,
    cleanup_fn=None,
    client_factory: str | None = None,
) -> BlobWriteResult:
    """Write one batch: rows carry their resolved partition path in
    `partition_col` ('' for unpartitioned). Returns the written files.

    `sizes` maps each partition value to its (rows, value bytes), as the
    pipeline's stats collect gives them. They decide everything before the
    write: the byte cap's row estimate and which hot partitions get salted,
    so the write pays no sizing job.
    """
    now = now or datetime.now(timezone.utc)
    staging = base_dir.rstrip("/") + "/_staging_" + uuid_mod.uuid4().hex[:8]

    staged = df.select(
        F.col(value_col).alias("value"),
        F.coalesce(F.col(partition_col), F.lit("")).alias(_PP),
    )

    # keyed like the staged column: None -> ''
    part_counts: dict[str, int] = {}
    n_bytes = 0
    for pp, (n, b) in sizes.items():
        part_counts[pp or ""] = part_counts.get(pp or "", 0) + n
        n_bytes += b
    row_count = sum(part_counts.values())
    if not row_count:
        return BlobWriteResult()
    # soft byte cap -> row cap from the batch's average line size estimate
    avg_compressed = max(1.0, n_bytes / row_count * GZIP_RATIO_ESTIMATE)
    max_records_per_file = max(1, int(max_bytes / avg_compressed))

    # Hot-partition salting: repartition(pp) alone funnels EVERY row of a
    # hot schema partition through one task, which then gzips the whole
    # partition serially (maxRecordsPerFile splits the files, not the
    # work). When any partition needs more than one output file, spread it
    # over exactly that many tasks — salt modulus == needed file count, so
    # the hot partition parallelizes with ZERO extra files, and cold
    # partitions (salt 1) keep one file.
    shuffle_keys = [F.col(_PP)]
    n_write_tasks: int | None = None
    salts = {
        pp: -(-n // max_records_per_file)  # ceil
        for pp, n in part_counts.items()
        if n > max_records_per_file
    }
    if salts:
        modulus = F.coalesce(
            F.element_at(
                F.create_map(*[F.lit(x) for pp_n in salts.items() for x in pp_n]),
                F.col(_PP),
            ),
            F.lit(1),
        )
        shuffle_keys.append(
            F.pmod(F.xxhash64(F.col("value")), modulus).alias("__salt")
        )
        # pin the shuffle width EXPLICITLY when salting: a plain
        # repartition(cols) is AQE-coalescible, and on a small batch
        # AQE merges the salted groups back into ONE task — exactly
        # the serial-gzip funnel the salt exists to break (caught by
        # the round-5 task-spread plan gate). The session width is
        # the right pin: the salted groups hash across it (a hot
        # partition's k groups land on <= min(k, width) tasks), and
        # it matches the un-coalesced width the write used before —
        # pinning to the total FILE estimate instead was measurably
        # slower at sf0.1 (hundreds of under-filled write tasks).
        spark = staged.sparkSession
        try:
            n_write_tasks = int(spark.conf.get("spark.sql.shuffle.partitions"))
        except (TypeError, ValueError):
            n_write_tasks = spark.sparkContext.defaultParallelism

    writer = (
        staged.repartition(n_write_tasks, *shuffle_keys)
        if n_write_tasks
        else staged.repartition(*shuffle_keys)
    )
    (
        writer.write.partitionBy(_PP)
        .option("compression", "gzip")
        .option("maxRecordsPerFile", max_records_per_file)
        .mode("overwrite")
        .text(staging)
    )

    # List the staging dir (scheme-aware: os.walk locally, Hadoop FS for
    # any URI — the round-2 os.walk-only listing silently stranded s3://
    # batches), build the rename jobs, run the moves on the driver.
    return promote_staging(
        df.sparkSession,
        staging,
        base_dir,
        prefix=prefix,
        now=now,
        deterministic_uuids=deterministic_uuids,
        list_fn=list_fn,
        cleanup_fn=cleanup_fn,
        client_factory=client_factory,
    )
