"""Round-14 optimization gates.

1. checkpoint_nostats_counted: the row count must come from the
   checkpoint's OWN materializing action (one job, not checkpoint +
   count = two-to-three), while keeping every contract of the plain
   helper — advertised layout, trust verification, releasable blocks.
2. connected_components' convergence flag: the per-round __chg column
   never escapes the operator and the changed-count predicate agrees
   with a recomputed new-vs-old join.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from snowplow_s3_loader_spark.materialize import (
    checkpoint_nostats,
    checkpoint_nostats_counted,
    release_materialized,
)


def _jobs_run(spark, fn):
    """Run fn inside a dedicated job group; return its job count."""
    sc = spark.sparkContext
    group = f"r14_{id(fn)}"
    sc.setJobGroup(group, "r14 job-count probe")
    try:
        out = fn()
    finally:
        sc.setJobGroup(None, None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


class TestCountedCheckpoint:
    def test_count_matches_and_layout_advertised(self, spark):
        df = spark.range(5000).selectExpr("id % 13 as k", "id as v")
        f, n = checkpoint_nostats_counted(df, 4, ["k"])
        try:
            assert n == 5000
            assert f.count() == 5000
            # the advertised layout makes a same-key groupBy plan
            # zero-Exchange, exactly like the uncounted helper
            plan = (
                f.groupBy("k").agg(F.sum("v"))._jdf.queryExecution()
                .executedPlan().toString()
            )
            assert "Exchange" not in plan.split("Initial Plan")[0], plan
        finally:
            release_materialized(f)

    def test_trust_partitioning_still_verified(self, spark):
        df = spark.range(1000).selectExpr("id % 7 as k", "id as v")
        base = checkpoint_nostats(df, 4, ["k"])
        try:
            f, n = checkpoint_nostats_counted(
                base.select("k", "v"), 4, ["k"], trust_partitioning=True
            )
            assert n == 1000
            release_materialized(f)
            # a WRONG trust claim must still raise, not return garbage
            with pytest.raises(AssertionError):
                checkpoint_nostats_counted(
                    base.repartition(4, "v"), 4, ["k"], trust_partitioning=True
                )
        finally:
            release_materialized(base)

    def test_single_action_not_checkpoint_plus_count(self, spark):
        """The fused count must cost exactly the checkpoint's own job;
        the old shape (checkpoint, then a DataFrame count) pays at
        least one more. Non-vacuity: the two probes run the same plan
        and the assertion fails on the pre-round-14 shape."""
        df = spark.range(20000).selectExpr("id % 11 as k", "id as v")

        def fused():
            f, n = checkpoint_nostats_counted(df, 4, ["k"])
            return f, n

        (f1, n1), jobs_fused = _jobs_run(spark, fused)

        def legacy():
            f = checkpoint_nostats(df, 4, ["k"])
            return f, f.count()

        (f2, n2), jobs_legacy = _jobs_run(spark, legacy)
        try:
            assert n1 == n2 == 20000
            assert jobs_fused < jobs_legacy, (jobs_fused, jobs_legacy)
        finally:
            release_materialized(f1)
            release_materialized(f2)

    def test_blocks_released(self, spark):
        jsc = spark.sparkContext._jsc.sc()

        def ckpt_ids():
            lst = jsc.getPersistentRDDs().toList()
            return {
                lst.apply(i)._1()
                for i in range(lst.size())
                if "localCheckpoint" in lst.apply(i)._2().toString()
            }

        before = ckpt_ids()
        f, _ = checkpoint_nostats_counted(spark.range(100).selectExpr("id as k"))
        assert ckpt_ids() - before, "counted checkpoint persisted no block"
        release_materialized(f)
        assert ckpt_ids() <= before, "counted checkpoint block not released"


class TestCcConvergenceFlag:
    def test_chg_column_never_escapes(self, spark):
        from snowplow_s3_loader_spark.operators.graph import connected_components

        pairs = spark.createDataFrame(
            [(i, i + 1) for i in range(50)] + [(200, 201)],
            "id_a long, id_b long",
        )
        # force the distributed loop (driver_threshold=0)
        out = connected_components(pairs, driver_threshold=0)
        try:
            assert out.columns == ["node", "component"]
            rows = {r["node"]: r["component"] for r in out.collect()}
            # one chain 0..50 -> component 0; the (200, 201) pair -> 200
            assert rows[50] == 0 and rows[201] == 200
        finally:
            release_materialized(out)
