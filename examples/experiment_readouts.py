"""Round-11 analytics readouts, end to end on the synthetic tables:

1. score the corpus with the hashed-linear quality model and CHECK THE
   SCORES before trusting them — reliability-diagram calibration bins
   (is a 0.8-bin really ~80% positive?);
2. cut the scored corpus to a declared token budget (the greedy
   best-first prefix — the unique minimal budget-covering set);
3. read out an A/B experiment on the event stream with the
   two-proportion z-test (variant = user parity);
4. churn curves per cohort via Kaplan-Meier with right-censoring;
5. burst structure per event type via Kleinberg's two-state optimal
   segmentation.

Run: python examples/experiment_readouts.py [sf_dir]
"""

from __future__ import annotations

import sys

from pyspark.sql import functions as F

from snowplow_s3_loader_spark.engine import Engine
from snowplow_s3_loader_spark.operators.profile import (
    calibration_bins,
    survival_curve,
    two_proportion_z,
)
from snowplow_s3_loader_spark.operators.sampling import quality_budget_select
from snowplow_s3_loader_spark.operators.text import hashed_linear_score, token_count
from snowplow_s3_loader_spark.operators.timeseries import kleinberg_bursts
from snowplow_s3_loader_spark.session import get_spark


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = get_spark(app_name="experiment-readouts")
    eng = Engine.at(spark, sf_dir)
    docs = eng.table("documents")
    ev = eng.table("events").where(F.col("user_id").isNotNull())

    # 1) calibration: squash the raw score into a micro-probability and
    # bin it against the independent lang='en' ground truth
    score, label = hashed_linear_score(F.col("text"))
    scored = docs.select(F.col("doc_id").alias("id"), score, label)
    squashed = (
        scored.join(docs.select("doc_id", "lang"), scored["id"] == F.col("doc_id"))
        .select(
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
    )
    cal = calibration_bins(squashed, "p_micro", "y", k=10).collect()
    ece = cal[0]["ece_num"] / max(1, sum(r["n"] for r in cal)) / 1e6

    # 2) budget cut: keep the best-scored documents to a 12k-token budget
    base = docs.select(
        "doc_id",
        token_count(F.col("text")).cast("long").alias("n_tok"),
    ).join(scored.withColumnRenamed("id", "doc_id"), "doc_id")
    cut = quality_budget_select(base, "doc_id", "score_micro", "n_tok", 12_000)
    kept = cut.where("kept").agg(
        F.count("*").alias("docs"), F.sum("n_tokens").alias("toks")
    ).collect()[0]

    # 3) A/B: does the even-user arm convert (>= 1 purchase) more often?
    users = ev.select("user_id").distinct()
    conv = (
        ev.where(F.col("event_type") == "purchase")
        .select("user_id")
        .distinct()
        .withColumn("__c", F.lit(1))
    )
    ab_in = users.join(conv, "user_id", "left").select(
        (F.col("user_id") % 2 == 0).alias("variant"),
        F.coalesce("__c", F.lit(0)).alias("success"),
    )
    ab = two_proportion_z(ab_in, "variant", "success", True, False).collect()[0]

    # 4) churn curves per cohort (event = made a purchase, censored at
    # last activity otherwise)
    per_user = ev.groupBy("user_id").agg(
        F.min("ts").alias("f"),
        F.max("ts").alias("l"),
        F.max(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias(
            "lp"
        ),
    )
    subjects = per_user.select(
        (F.col("user_id") % 3).alias("cohort"),
        F.when(
            F.col("lp").isNotNull(),
            F.datediff(F.to_date("lp"), F.to_date("f")),
        )
        .otherwise(F.datediff(F.to_date("l"), F.to_date("f")))
        .cast("long")
        .alias("dur"),
        F.col("lp").isNotNull().cast("int").alias("event"),
    )
    km = survival_curve(subjects, "cohort", "dur", "event")
    km_tail = km.groupBy("group").agg(
        F.max("t").alias("horizon"),
        F.min("cum_ln_micro").alias("final_ln_micro"),
    ).orderBy("group").collect()

    # 5) bursts per event type (4x thinned stream keeps the oracle-fast
    # shape; thinning preserves the rate ratio)
    bursts = kleinberg_bursts(
        ev.where(F.col("event_id") % 4 == 0), "event_type", "ts", "event_id"
    ).collect()

    print(f"calibration ECE            : {ece:.4f}")
    print(
        "worst bin gap              : "
        f"{max((r['gap_micro'] or 0) for r in cal) / 1e6:.4f}"
    )
    print(f"budget cut                 : {kept['docs']} docs / {kept['toks']} tokens kept")
    print(
        "A/B purchase conversion    : "
        f"A {ab['x_a']}/{ab['n_a']} vs B {ab['x_b']}/{ab['n_b']} "
        f"(z_micro={ab['z_micro']})"
    )
    for r in km_tail:
        import math

        s = (
            math.exp(r["final_ln_micro"] / 1e6)
            if r["final_ln_micro"] is not None
            else 0.0
        )
        print(
            f"cohort {r['group']} survival        : S({r['horizon']}d) ~ {s:.3f}"
        )
    for r in bursts:
        print(
            f"bursts[{r['key']:<9}]         : {r['n_bursts']} bursts, "
            f"{r['n_burst_gaps']}/{r['n_gaps']} gaps bursty, "
            f"longest {r['max_burst_gaps']}"
        )
    spark.stop()


if __name__ == "__main__":
    main()
