"""Isolated per-query bench (the n>=4 attribution protocol).

When the driver's full-battery bench shows a per-query drift vs the
previous round, the established adjudication is: run ONLY the suspect
queries, bench-style (same session conf, same warmups, localCheckpoint
sweep between attempts), n>=4 attempts, and compare the isolated MINIMUM
against both rounds' driver readings. A minimum at-or-below the older
reading with an unchanged plan = battery-position / host noise; a
minimum tracking the newer (higher) reading = a real plan or code
regression to bisect.

Usage: python scripts/isolated_bench.py [--attempts N] q93 q83 ...
Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1), SPARK_GRAFT_CPUS.
Prints one JSON line per query: {"query": ..., "samples": [...], "min": ...}.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))


def main() -> None:
    args = sys.argv[1:]
    attempts = 4
    if "--attempts" in args:
        i = args.index("--attempts")
        attempts = int(args[i + 1])
        del args[i : i + 2]
    if not args:
        raise SystemExit("usage: isolated_bench.py [--attempts N] <query-prefix> ...")

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")

    from snowplow_s3_loader_spark.session import get_spark

    spark = get_spark(
        app_name="isolated_bench",
        master=f"local[{cpus}]",
        shuffle_partitions=int(cpus),
        extra_conf={"spark.ui.enabled": "false"},
    )
    from snowplow_s3_loader_spark.materialize import sweep_checkpoint_blocks
    from snowplow_s3_loader_spark.plans.queries import QUERIES

    names = []
    for a in args:
        hits = [n for n in sorted(QUERIES) if n.startswith(a)]
        if not hits:
            raise SystemExit(f"no query matches prefix {a!r}")
        names.extend(hits)

    # same warmups as bench.py: JVM/codegen + Python/Arrow worker pool
    for warm in ("q03_broadcast_join", "q49_grouped_percentiles"):
        QUERIES[warm](spark, sf_dir).write.mode("overwrite").format("noop").save()

    for name in names:
        samples = []
        for _ in range(attempts):
            t0 = time.perf_counter()
            QUERIES[name](spark, sf_dir).write.mode("overwrite").format("noop").save()
            samples.append(round(time.perf_counter() - t0, 3))
            sweep_checkpoint_blocks(spark)
        print(json.dumps({"query": name, "samples": samples, "min": min(samples)}))
        sys.stdout.flush()

    from snowplow_s3_loader_spark.tables import clear_table_cache

    clear_table_cache()
    spark.stop()


if __name__ == "__main__":
    main()
