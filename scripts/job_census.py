"""Per-query Spark JOB/STAGE census under the noop sink (guide §1.5).

The graph-loop family's remaining cost is a fixed per-round JOB floor
(checkpoint + convergence count + broadcast build), not shuffle bytes —
invisible in a plan dump, visible in the scheduler. This script runs
each named query bench-style (same session conf, same noop-sink action,
localCheckpoint sweep between queries) inside a dedicated job GROUP and
records, per query: the number of jobs, the number of stages, and total
task count, via the public SparkStatusTracker API.

Usage: python scripts/job_census.py [--out PATH] q99 q102 q106 ...
Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1), SPARK_GRAFT_CPUS.
Prints one JSON line per query plus a final summary line; --out also
writes the records as a JSON array (the committable artifact).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))


def main() -> None:
    args = sys.argv[1:]
    out_path = None
    if "--out" in args:
        i = args.index("--out")
        out_path = args[i + 1]
        del args[i : i + 2]
    if not args:
        raise SystemExit("usage: job_census.py [--out PATH] <query-prefix> ...")

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")

    from snowplow_s3_loader_spark.session import get_spark

    spark = get_spark(
        app_name="job_census",
        master=f"local[{cpus}]",
        shuffle_partitions=int(cpus),
        extra_conf={"spark.ui.enabled": "false"},
    )
    from snowplow_s3_loader_spark.materialize import sweep_checkpoint_blocks
    from snowplow_s3_loader_spark.plans.queries import QUERIES

    names = []
    for prefix in args:
        matches = [q for q in sorted(QUERIES) if q.startswith(prefix)]
        if not matches:
            raise SystemExit(f"no query matches prefix {prefix!r}")
        names.extend(matches)

    sc = spark.sparkContext
    tracker = sc.statusTracker()

    # warm the session the bench's way so the census is not dominated by
    # one-time JVM/Python-worker startup jobs
    for warm in ("q03_broadcast_join", "q49_grouped_percentiles", "q83_pagerank"):
        QUERIES[warm](spark, sf_dir).write.mode("overwrite").format("noop").save()
    sweep_checkpoint_blocks(spark)

    records = []
    for name in names:
        group = f"census_{name}"
        sc.setJobGroup(group, name)
        t0 = time.perf_counter()
        QUERIES[name](spark, sf_dir).write.mode("overwrite").format("noop").save()
        dt = time.perf_counter() - t0
        sc.setJobGroup(None, None)
        job_ids = sorted(tracker.getJobIdsForGroup(group))
        n_stages = 0
        n_tasks = 0
        for jid in job_ids:
            info = tracker.getJobInfo(jid)
            if info is None:
                continue
            for sid in info.stageIds:
                si = tracker.getStageInfo(sid)
                if si is not None and si.numTasks > 0 and si.numCompletedTasks > 0:
                    n_stages += 1
                    n_tasks += si.numCompletedTasks
        rec = {
            "query": name,
            "jobs": len(job_ids),
            "stages_completed": n_stages,
            "tasks_completed": n_tasks,
            "wall_sec": round(dt, 3),
        }
        records.append(rec)
        print(json.dumps(rec))
        sweep_checkpoint_blocks(spark)

    from snowplow_s3_loader_spark.tables import clear_table_cache

    clear_table_cache()
    print(
        json.dumps(
            {
                "summary": {
                    "total_jobs": sum(r["jobs"] for r in records),
                    "total_wall_sec": round(sum(r["wall_sec"] for r in records), 3),
                    "n_queries": len(records),
                }
            }
        )
    )
    if out_path:
        with open(out_path, "w") as f:
            json.dump(records, f, indent=1)
            f.write("\n")
    spark.stop()


if __name__ == "__main__":
    main()
