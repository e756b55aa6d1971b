"""Round-12 observability readouts, end to end on the synthetic tables:

1. WHERE did the level shift? — offline CUSUM changepoint location per
   event-type cents series (the retrospective companion to the online
   CUSUM alarms);
2. WHEN was it bursty, exactly? — plot-ready Kleinberg burst windows
   per user bucket, plus the multi-state hierarchy (how deep the burst
   ladder goes);
3. is the money column ORGANIC? — Benford first-digit audit of order
   totals per priority;
4. does one column LEAK another? — categorical mutual information
   between lineitem return flag and line status;
5. can the classifier's scores be TRUSTED at a threshold? — isotonic
   recalibration of the reliability diagram (monotone PAV fit).

Run: python examples/observability_readouts.py [sf_dir]
"""

from __future__ import annotations

import sys

from pyspark.sql import functions as F

from snowplow_s3_loader_spark.engine import Engine
from snowplow_s3_loader_spark.operators.profile import (
    benford_profile,
    isotonic_calibration,
    mutual_information,
)
from snowplow_s3_loader_spark.operators.text import hashed_linear_score
from snowplow_s3_loader_spark.operators.timeseries import (
    cusum_changepoint,
    kleinberg_burst_intervals,
    kleinberg_bursts_multi,
)
from snowplow_s3_loader_spark.session import get_spark


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = get_spark(app_name="observability-readouts")
    eng = Engine.at(spark, sf_dir)
    ev = eng.table("events").where(F.col("user_id").isNotNull())

    # 1) changepoint: the single best mean-shift split per series
    series = ev.select(
        "event_type", "ts", "event_id",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    print("== changepoint location per event type ==")
    cusum_changepoint(series, "event_type", ["ts", "event_id"],
                      "cents").show(truncate=False)

    # 2) burst windows + hierarchy on the per-user-bucket streams
    keyed = ev.select(
        (F.col("user_id") % 40).alias("ukey"), "ts", "event_id"
    )
    print("== burst windows (first 10) ==")
    kleinberg_burst_intervals(keyed, "ukey", "ts", "event_id",
                              gamma_micro=300_000).show(10, truncate=False)
    print("== burst hierarchy (how deep) ==")
    kleinberg_bursts_multi(keyed, "ukey", "ts", "event_id", n_states=3,
                           gamma_micro=300_000).show(10)

    # 3) Benford audit of order totals
    orders = eng.table("orders").select(
        F.col("o_orderpriority").alias("priority"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    print("== Benford first-digit deviations ==")
    benford_profile(orders, ["priority"], "cents").where(
        F.col("priority") == "1-URGENT"
    ).show()

    # 4) mutual information: does return flag pin down line status?
    print("== mutual information (micro-nats) ==")
    mutual_information(
        eng.table("lineitem"), "l_returnflag", "l_linestatus"
    ).show()

    # 5) isotonic recalibration of the quality classifier's diagram
    docs = eng.table("documents")
    score, label = hashed_linear_score(F.col("text"))
    scored = docs.select(F.col("doc_id").alias("id"), score, label)
    squashed = scored.join(
        docs.select("doc_id", "lang"), scored["id"] == F.col("doc_id")
    ).select(
        F.least(
            F.greatest(
                F.lit(500_000)
                + F.when(
                    F.col("score_micro") >= 0,
                    F.expr("score_micro div 24"),
                ).otherwise(-F.expr("(-score_micro) div 24")),
                F.lit(0).cast("long"),
            ),
            F.lit(1_000_000).cast("long"),
        ).alias("p_micro"),
        (F.col("lang") == "en").cast("long").alias("y"),
    )
    print("== isotonic recalibration (monotone fit) ==")
    isotonic_calibration(squashed, "p_micro", "y", k=10).show()

    spark.stop()


if __name__ == "__main__":
    main()
