from __future__ import annotations

import pytest

from snowplow_s3_loader_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    spark = get_spark(
        app_name="tests",
        master="local[4]",
        shuffle_partitions=4,
        extra_conf={"spark.ui.enabled": "false", "spark.sql.warehouse.dir": "/tmp/spark-warehouse"},
    )
    yield spark


@pytest.fixture(scope="session")
def sf_dir():
    return "/root/testdata/sf0.001"


@pytest.fixture()
def spark_jobs(spark):
    """`spark_jobs(fn)` runs fn under a fresh job group and returns fn's
    result with the Spark jobs it started, one list of stage names per job
    — a job census that host noise cannot fake."""
    import uuid

    sc = spark.sparkContext

    def run(fn):
        group = "census-" + uuid.uuid4().hex
        sc.setJobGroup(group, group)
        try:
            result = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        # job events reach the status store through the async listener bus
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        st = sc.statusTracker()

        def stage_name(stage_id):
            # once the session holds more than spark.ui.retainedStages, the
            # status store evicts skipped stages first, asynchronously, so
            # a stage of a job that just ran can already be gone
            info = st.getStageInfo(stage_id)
            return info.name if info is not None else f"<stage {stage_id} evicted>"

        return result, [
            [stage_name(s) for s in st.getJobInfo(j).stageIds]
            for j in sorted(st.getJobIdsForGroup(group))
        ]

    return run
