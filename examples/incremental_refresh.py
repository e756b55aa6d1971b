"""Worked example: INCREMENTAL corpus refresh — the nightly-delta
workflow where a crawl/CDC feed updates a 100 TB corpus without any
full rescan. Every stage is delta-proportional:

  1. CDC merge: apply the night's changelog (upserts + takedowns) to the
     document snapshot — one window over the changelog, one anti join;
     the snapshot never shuffles (operators.cdc).
  2. Quality gate the NEW/CHANGED docs only with the Gopher rule battery
     (operators.text.gopher_quality_flags — per-row JVM expressions).
  3. Update per-(lang, source) corpus statistics from the delta via
     one-shuffle aggregate-state maintenance (operators.incremental) —
     the corpus-sized recompute this replaces is the win.
  4. Fold the delta's near-dup pairs into the standing cluster map
     incrementally (operators.graph.ComponentMap).

Run:  PYTHONPATH=. python examples/incremental_refresh.py [sf_dir]
"""

from __future__ import annotations

import sys

from pyspark.sql import functions as F

from snowplow_s3_loader_spark.materialize import release_materialized
from snowplow_s3_loader_spark.operators import cdc, incremental
from snowplow_s3_loader_spark.operators.dedup import token_jaccard_pairs
from snowplow_s3_loader_spark.operators.graph import ComponentMap
from snowplow_s3_loader_spark.operators.text import gopher_quality_flags, token_count
from snowplow_s3_loader_spark.session import get_spark
from snowplow_s3_loader_spark.tables import load_table


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark(app_name="incremental-refresh")
    docs = load_table(spark, sf_dir, "documents")

    # Split the corpus into "yesterday's snapshot" and a synthetic
    # changelog: every 10th doc is re-crawled (upsert with a marker
    # prefix), every 100th is a takedown (delete).
    snapshot = docs.filter(F.col("doc_id") % 10 != 0)
    delta_docs = docs.filter(F.col("doc_id") % 10 == 0)
    changes = delta_docs.select(
        "doc_id",
        F.concat(F.lit("recrawl "), "text").alias("text"),
        "lang",
        "source",
        (F.length("text") + F.lit(8)).alias("n_chars"),
        F.col("doc_id").alias("seq"),
        F.when(F.col("doc_id") % 100 == 0, "D").otherwise("U").alias("op"),
    )

    # 1) CDC merge — snapshot side never shuffles
    refreshed = cdc.apply_changelog(
        snapshot, changes, ["doc_id"], "seq", broadcast_changes=True
    )
    print(f"snapshot {snapshot.count()} -> refreshed {refreshed.count()}")

    # 2) Gopher-gate only the changed docs
    gated = (
        changes.where(F.col("op") != "D")
        .withColumn("g", gopher_quality_flags(F.col("text")))
        .select("doc_id", "lang", "g.pass_all")
    )
    print(f"delta quality pass rate: {gated.agg(F.avg(F.col('pass_all').cast('double'))).first()[0]:.2f}")

    # 3) incremental per-(lang, source) token statistics — ONE shuffle,
    # no corpus rescan
    with_tokens = lambda df: df.select(
        "lang", "source", token_count(F.col("text")).alias("n_tokens")
    )
    state = incremental.agg_state(
        with_tokens(snapshot), ["lang", "source"], ("n_tokens",), (), ("n_tokens",)
    )
    state = incremental.update_agg_state(
        state,
        with_tokens(changes.where(F.col("op") != "D")),
        ["lang", "source"],
        ("n_tokens",),
        (),
        ("n_tokens",),
    )
    state.orderBy("lang", "source").show(8, truncate=False)

    # 4) fold the delta's near-dup pairs into the standing cluster map
    cm = ComponentMap()
    base_pairs = token_jaccard_pairs(
        snapshot.filter(F.col("doc_id") % 3 == 0), "doc_id", "text", ["lang"], 0.8
    )
    cm.update(base_pairs)
    delta_pairs = token_jaccard_pairs(
        delta_docs.filter(F.col("doc_id") % 3 == 0), "doc_id", "text", ["lang"], 0.8
    )
    remap = cm.update(delta_pairs)
    n_clusters = cm.components().select("component").distinct().count()
    print(f"cluster map now tracks {n_clusters} clusters (delta remapped {remap.count()})")
    release_materialized(remap)
    cm.release()
    spark.stop()


if __name__ == "__main__":
    main()
