"""Worked example: SNAPSHOT-over-snapshot operations — the always-on
maintenance loop a production corpus runs between full curation passes.

  1. incremental near-dup gate: a new crawl snapshot probed against the
     PERSISTED MinHash band store (history never re-banded; one
     membership semi join) — survivors' bands fold into the store
  2. drift monitoring: PSI between the previous and current snapshot's
     length distribution (equi-depth edges from the reference, exact
     per-bin counts, quantized PSI terms)
  3. distribution profile deltas: per-source counts then vs now
  4. the dataloader hand-off for the accepted snapshot: token-balanced
     deterministic shards

Run:  PYTHONPATH=. python examples/snapshot_operations.py [sf_dir]
"""

from __future__ import annotations

import sys

from pyspark.sql import functions as F

from snowplow_s3_loader_spark.materialize import (
    checkpoint_nostats,
    release_materialized,
)
from snowplow_s3_loader_spark.operators.dedup import (
    incremental_minhash_filter,
    minhash_bands,
)
from snowplow_s3_loader_spark.operators.layout import token_shards
from snowplow_s3_loader_spark.operators.profile import (
    ks_statistic,
    psi_bins,
)
from snowplow_s3_loader_spark.operators.text import token_count
from snowplow_s3_loader_spark.session import get_spark
from snowplow_s3_loader_spark.tables import load_table


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark(app_name="snapshot-operations")
    docs = load_table(spark, sf_dir, "documents")

    # two deterministic "snapshots": history vs this week's crawl (the
    # crawl replays some history text, as real crawls do)
    d = F.col("doc_id")
    history = docs.where(d % 3 != 0)
    prev = docs.select((d + 1).alias("doc_id"), F.col("text").alias("pt"))
    crawl = (
        docs.where(d % 3 == 0)
        .join(prev, "doc_id", "left")
        .select(
            "doc_id",
            F.when((d % 2 == 1) & F.col("pt").isNotNull(), F.col("pt"))
            .otherwise(F.col("text"))
            .alias("text"),
            F.col("source"),
        )
    )

    # 1) the persisted store: advertised (band_id, band_hash) layout so
    # every probe's semi join plans with zero Exchange on the store side
    n_parts = spark.sparkContext.defaultParallelism
    store = checkpoint_nostats(
        minhash_bands(history, "doc_id", "text").select(
            "band_id", "band_hash"
        ),
        n_parts=n_parts,
        partition_cols=["band_id", "band_hash"],
    )
    gate = incremental_minhash_filter(crawl, store, "doc_id", "text")
    # operating point: this synthetic corpus is template-heavy, so ANY
    # band collision fires on almost everything; require ALL four bands
    # (the high-precision end — near-certain duplicates) and keep the
    # partial hits as candidates a production pass would verify with
    # exact Jaccard
    n_dup = gate.where(F.col("n_hit_bands") >= 4).count()
    # survivors feed the store update, PSI, the mix report and the
    # shards — materialize once so releasing the superseded store below
    # cannot invalidate their lineage
    survivors = checkpoint_nostats(
        crawl.join(
            gate.where(F.col("n_hit_bands") < 4).select(
                F.col("id").alias("doc_id")
            ),
            "doc_id",
            "left_semi",
        )
    )
    n_kept = survivors.count()
    new_store = checkpoint_nostats(
        store.unionByName(
            minhash_bands(survivors, "doc_id", "text").select(
                "band_id", "band_hash"
            )
        ),
        n_parts=n_parts,
        partition_cols=["band_id", "band_hash"],
    )
    release_materialized(store)

    # 2) drift: does this week's length distribution still look like
    # history's? (PSI < 0.1 stable, 0.1-0.25 shifting, > 0.25 drifted)
    ref = history.select(token_count(F.col("text")).alias("v"), "doc_id")
    cur = survivors.select(token_count(F.col("text")).alias("v"), "doc_id")
    psi = psi_bins(ref, cur, "v", k=10, tie_cols=["doc_id"])
    headline = (
        psi.agg(F.sum(F.col("psi_micro").cast("double") / 1e6)).first()[0]
    ) or 0.0

    # 2b) the bin-free companion: two-sample KS on the same axis —
    # catches shape drift inside a bin PSI's k=10 grid blurs. Exact
    # integer sup-distance; ks_micro/1e6 in [0, 1].
    ks = ks_statistic(
        ref.select("v"), cur.select("v"), "v"
    ).collect()[0]

    # 3) per-source mix deltas (the other standard drift axis)
    mix = (
        history.groupBy("source").agg(F.count("*").alias("then"))
        .join(
            survivors.groupBy("source").agg(F.count("*").alias("now")),
            "source",
            "full",
        )
        .fillna(0)
        .orderBy("source")
    )

    # 4) hand the accepted snapshot to the dataloader: token-balanced
    # deterministic shards
    shards = token_shards(
        survivors.select("doc_id", token_count(F.col("text")).alias("w")),
        "doc_id",
        "w",
        8,
    )
    shard_tok = {
        r["shard"]: r["t"]
        for r in shards.groupBy("shard").agg(F.sum("w").alias("t")).collect()
    }

    print(f"crawl size                 : {crawl.count()}")
    print(f"flagged as near-dup        : {n_dup}")
    print(f"survivors folded to store  : {n_kept}")
    print(f"PSI (token-length drift)   : {headline:.4f}")
    print(f"KS  (token-length drift)   : {ks.ks_micro / 1e6:.4f}")
    print(f"source mix (then -> now)   : {[(r['source'], r['then'], r['now']) for r in mix.collect()[:5]]}")
    print(f"shard token masses         : {shard_tok}")
    release_materialized(new_store)
    spark.stop()


if __name__ == "__main__":
    main()
