"""Materialization: stats-truncating localCheckpoints and their release.

Every operator that cuts lineage (iterative graph loops, multi-consumer
fan-out, incremental state) goes through `checkpoint_nostats`, and
batteries free the blocks with `release_materialized` or
`sweep_checkpoint_blocks`. The package's private-JVM use for
materialization lives here. Each private step of `checkpoint_nostats` is
a small module-level function, and a failure in any of them degrades to
a public-API fallback that warns once per process.
"""

from __future__ import annotations

import re
import warnings

from pyspark.sql import DataFrame, SparkSession


def release_materialized(df: DataFrame) -> None:
    """Drop the localCheckpoint blocks behind a materialized result (the
    frame is dead afterwards — its lineage was truncated). pyspark's GC
    never releases them (the py4j-held Dataset pins the RDD), so batteries
    that run many operators in one session call this between queries.
    Works on plain localCheckpoint frames and on checkpoint_nostats
    frames alike — in both shapes analyzed().rdd() IS the persisted RDD."""
    try:
        df._jdf.queryExecution().analyzed().rdd().unpersist(False)
    except Exception:
        pass  # not a checkpointed frame / already released


def sweep_checkpoint_blocks(spark: SparkSession) -> None:
    """Drop EVERY localCheckpoint block in the session; `.cache()`d tables
    stay. Benchmarks call it between queries so the checkpoints one query's
    materializing operators leave behind never tax the next (uncollected
    residue once made a 1x run slower than its 10x twin). Any frame still
    reading a swept checkpoint is dead afterwards."""
    lst = spark.sparkContext._jsc.sc().getPersistentRDDs().toList()
    for i in range(lst.size()):
        rdd = lst.apply(i)._2()
        if "localCheckpoint" in rdd.toString():
            rdd.unpersist(False)


def checkpoint_nostats(
    df: DataFrame,
    n_parts: int | None = None,
    partition_cols: list[str] | None = None,
    trust_partitioning: bool = False,
) -> DataFrame:
    """`checkpoint_nostats_counted` without the row count."""
    return checkpoint_nostats_counted(df, n_parts, partition_cols, trust_partitioning)[0]


def checkpoint_nostats_counted(
    df: DataFrame,
    n_parts: int | None = None,
    partition_cols: list[str] | None = None,
    trust_partitioning: bool = False,
) -> tuple[DataFrame, int]:
    """Materialize ``df`` as a localCheckpoint that does NOT inherit the
    parent plan's statistics — REQUIRED for iterative algorithms — and
    (optionally) ADVERTISES a hash partitioning so downstream joins
    co-partition. Returns the frame and its row count.

    One action: the checkpoint is taken lazily and its RDD is counted
    once, which both fills the blocks and yields the count (the same job
    an eager localCheckpoint runs internally and discards the value of).

    Stats: Dataset.localCheckpoint keeps the origin plan's stats on the
    new LogicalRDD. Catalyst's size-only estimator MULTIPLIES children's
    sizeInBytes at a join, so in a loop (or across incremental-state
    generations) where each round joins frames built from the previous
    round's checkpoint, sizeInBytes compounds: measured bit-lengths
    double per generation (125 -> 249 -> ... -> 15873 bits in 8 rounds),
    and within ~5 ComponentMap updates stats become million-bit
    BigIntegers — planning then burns MINUTES inside
    BigInteger.multiply (jstack: SizeInBytesOnlyStatsPlanVisitor ->
    multiplyToomCook3), which is how the round-5 soak found per-batch
    time exploding 3s -> 90s -> wedged at batch 5. The rebuilt leaf
    reports the constant 63-bit defaultSizeInBytes, keeping stats O(1)
    forever.

    Partitioning: a checkpointed LogicalRDD otherwise reports
    UnknownPartitioning, so every later join RE-SHUFFLES the frame even
    when the data is already laid out on the join key — O(rounds x |E|)
    redundant shuffle in an iterative loop. With ``partition_cols``, the
    helper repartitions to ``n_parts`` on those columns IMMEDIATELY
    before the checkpoint (so the persisted blocks are guaranteed to
    have exactly that layout) and rebuilds the LogicalRDD with the
    matching HashPartitioning — joins keyed on those columns at the same
    width then plan with ZERO Exchange. ``trust_partitioning=True``
    skips the repartition when the caller KNOWS the input plan already
    ends in that exact layout (e.g. a join that preserved it); a wrong
    claim produces wrong join results, so the trust path VERIFIES the
    claim against the executed plan's final (post-AQE)
    outputPartitioning and raises AssertionError on mismatch — a cheap
    plan-only check that turns a planner-invariant drift (a Spark bump
    changing SMJ/BHJ layout preservation, AQE coalescing a
    REPARTITION_BY_NUM) into a loud failure instead of wrong results.

    The rebuilt frame reads the SAME persisted blocks;
    release_materialized frees them unchanged. Private-API fallbacks,
    each warned ONCE per process so a Spark upgrade that disengages a
    step is visible: a separate DataFrame count, an unpartitioned
    rebase, then the plain checkpoint."""
    if partition_cols and not trust_partitioning:
        df = df.repartition(n_parts, *partition_cols)
    ckpt = df.localCheckpoint(eager=False)
    try:
        rdd = _checkpoint_rdd(ckpt)
    except Exception:
        _warn_ckpt_fallback(
            "counted checkpoint could not reach the materialized RDD; "
            "counting with a separate job (checkpoint + count, the "
            "pre-round-14 shape)"
        )
        n_rows = ckpt.count()
    else:
        # a failing job (e.g. a raise_error guard in the plan) propagates
        # here, as it does from an eager localCheckpoint
        n_rows = int(rdd.count())
    if partition_cols and trust_partitioning:
        try:
            _assert_trusted_layout(df, partition_cols, int(n_parts))
        except AssertionError:
            # don't leak the just-materialized blocks on a failed claim —
            # pyspark's GC never frees them
            release_materialized(ckpt)
            raise
    try:
        return _rebuild_logical_rdd(ckpt, partition_cols, n_parts), n_rows
    except Exception:
        _warn_ckpt_fallback(
            "LogicalRDD rebuild with advertised partitioning failed; "
            "falling back to an unpartitioned rebase (downstream joins "
            "will re-shuffle checkpointed frames)"
        )
    try:
        return _rebase_unpartitioned(ckpt), n_rows
    except Exception:
        # last resort: correct, just stats-inheriting (slow only for very
        # long iterative runs)
        _warn_ckpt_fallback(
            "checkpoint rebase failed entirely; returning the plain "
            "localCheckpoint (stats-inheriting — iterative loops may slow "
            "down over many rounds)"
        )
        return ckpt, n_rows


def _checkpoint_rdd(ckpt: DataFrame):
    """The checkpoint's own JVM RDD; counting it fills the blocks."""
    return ckpt._jdf.queryExecution().analyzed().rdd()


def _rebuild_logical_rdd(
    ckpt: DataFrame, partition_cols: list[str] | None, n_parts: int | None
) -> DataFrame:
    """A fresh LogicalRDD over the checkpoint's RDD: default stats, and a
    HashPartitioning on ``partition_cols`` x ``n_parts`` when given."""
    sp = ckpt.sparkSession
    jvm = sp._jvm
    lrdd = ckpt._jdf.queryExecution().analyzed()
    out = lrdd.output()
    rdd = lrdd.rdd()
    if partition_cols:
        attrs = {}
        it = out.iterator()
        while it.hasNext():
            a = it.next()
            attrs[a.name()] = a
        exprs = jvm.PythonUtils.toSeq([attrs[c] for c in partition_cols])
        part = jvm.org.apache.spark.sql.catalyst.plans.physical.HashPartitioning(
            exprs, int(n_parts)
        )
    else:
        part = jvm.org.apache.spark.sql.catalyst.plans.physical.UnknownPartitioning(0)
    none = jvm.scala.Option.empty()
    newplan = jvm.org.apache.spark.sql.execution.LogicalRDD(
        out, rdd, part, jvm.PythonUtils.toSeq([]), False, none,
        sp._jsparkSession, none, none,
    )
    return DataFrame(
        jvm.org.apache.spark.sql.classic.Dataset.ofRows(sp._jsparkSession, newplan), sp
    )


def _rebase_unpartitioned(ckpt: DataFrame) -> DataFrame:
    """Older private-API shape: rebase the checkpoint's RDD without
    advertising a partitioning."""
    sp = ckpt.sparkSession
    j = ckpt._jdf
    jrdd = j.queryExecution().analyzed().rdd()
    return DataFrame(sp._jsparkSession.internalCreateDataFrame(jrdd, j.schema(), False), sp)


_CKPT_FALLBACK_WARNED: set = set()


def _warn_ckpt_fallback(msg: str) -> None:
    """Warn ONCE per distinct fallback message per process — a Spark bump
    that degrades checkpoint_nostats to UnknownPartitioning or
    stats-inheriting checkpoints must be visible, not silent (round-5
    ADVICE item)."""
    if msg not in _CKPT_FALLBACK_WARNED:
        _CKPT_FALLBACK_WARNED.add(msg)
        warnings.warn(f"checkpoint_nostats: {msg}", RuntimeWarning, stacklevel=3)


def _final_partitioning(df: DataFrame) -> tuple[str, int]:
    """The executed plan's final (post-AQE) outputPartitioning, as its
    description and partition count."""
    ep = df._jdf.queryExecution().executedPlan()
    if ep.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
        ep = ep.finalPhysicalPlan()
    op = ep.outputPartitioning()
    return op.toString(), op.numPartitions()


def _assert_trusted_layout(df: DataFrame, partition_cols: list[str], n_parts: int) -> None:
    """Plan-only verification of a ``trust_partitioning=True`` claim: the
    executed plan's FINAL (post-AQE) outputPartitioning must be a hash
    partitioning on ``partition_cols`` at exactly ``n_parts`` partitions
    (a PartitioningCollection containing it also qualifies — join outputs
    report one). Runs after the checkpoint's count so AQE has finalized
    the plan; raises AssertionError on mismatch because a wrong trust
    claim produces WRONG JOIN RESULTS downstream, not just a slow plan.
    If the plan APIs themselves are unavailable (private-API drift),
    warns once and lets the call proceed — the claim is then unverified,
    exactly the condition the warning surfaces."""
    try:
        desc, n = _final_partitioning(df)
    except Exception:
        _warn_ckpt_fallback(
            "trust_partitioning claim could not be verified (plan "
            "introspection API unavailable) — layout is UNCHECKED"
        )
        return

    # EXACT match required: parse every hashpartitioning(...) group in the
    # description (a join output may report a PartitioningCollection of
    # several) and accept only one whose expression list is precisely the
    # claimed columns, as bare attribute refs (`name#exprId`), in order,
    # at the claimed width. A substring check would bless supersets —
    # claim hash(s) against an actual hash(s, d) layout — or
    # expression-wrapped columns (hash(lower(k))), either of which still
    # produces wrong co-partitioned join results downstream.
    def _group_matches(args: str) -> bool:
        parts = [a.strip() for a in args.split(",")]
        if len(parts) != len(partition_cols) + 1:
            return False
        if not parts[-1].isdigit() or int(parts[-1]) != n_parts:
            return False
        for claimed, actual in zip(partition_cols, parts[:-1]):
            if not re.fullmatch(rf"{re.escape(claimed)}#\d+L?", actual):
                return False
        return True

    ok = n == n_parts and any(
        _group_matches(m)
        for m in re.findall(r"hashpartitioning\(([^()]*)\)", desc)
    )
    # a provably-EMPTY final plan satisfies any layout claim vacuously
    # (every one of its zero rows is in the right partition): AQE's
    # PropagateEmptyRelation collapses an empty-input subtree to an
    # empty local relation reporting UnknownPartitioning(0) — e.g. a
    # k-core peel that prunes the whole graph. Zero partitions can hold
    # no rows, so n == 0 is the demonstrably-empty condition.
    if not ok and n == 0:
        return
    if not ok:
        raise AssertionError(
            "checkpoint_nostats(trust_partitioning=True): executed plan's "
            f"outputPartitioning {desc!r} (numPartitions={n}) does not match "
            f"the claimed hashpartitioning on {partition_cols} x {n_parts} — "
            "the caller's layout claim is wrong (planner invariant drift?); "
            "remove trust_partitioning to force an explicit repartition"
        )
