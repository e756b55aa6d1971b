"""Worked example: ENTITY RESOLUTION — deduplicate a noisy keyed
catalog and audit what a re-ingest actually changed. The classic
record-linkage workflow, each stage in its scale-safe shape:

  1. Candidate pairs within edit distance 1 of each other's names via
     the deletion-neighborhood blocked fuzzy join (operators.linkage) —
     an equi-join on <=1-deletion variants, never all-pairs — then
     tightened with an attribute constraint (same nation). The
     constraint is what keeps transitive closure honest: on sequential
     ids, name-only ED<=1 chains 0001~0002~0003 merge EVERYTHING into
     one entity (measured: 1500 records -> 1 entity without it).
  2. Cluster the match pairs into entities with connected components
     (operators.graph) — each entity takes its minimum id as the
     canonical key.
  3. Pick a canonical record per entity (lowest id wins) and build the
     resolved snapshot.
  4. Diff the resolved snapshot against the raw one (operators.cdc
     snapshot_diff): every non-canonical record shows up 'removed',
     giving the audit trail a takedown/merge pipeline needs.
  5. Profile the blast radius: how far does each entity sit from the
     canonical record graph-wise (operators.graph.bfs_distances over
     the match graph, seeded with the canonical ids).

Run:  PYTHONPATH=. python examples/entity_resolution.py [sf_dir]
"""

from __future__ import annotations

import sys

from pyspark.sql import functions as F

from snowplow_s3_loader_spark.materialize import release_materialized
from snowplow_s3_loader_spark.operators.cdc import snapshot_diff
from snowplow_s3_loader_spark.operators.graph import bfs_distances, connected_components
from snowplow_s3_loader_spark.operators.linkage import edit_distance_self_join
from snowplow_s3_loader_spark.session import get_spark
from snowplow_s3_loader_spark.tables import load_table


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark(app_name="entity-resolution")
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_nationkey", "c_acctbal"
    )

    # 1. blocked fuzzy match on the name column + attribute constraint
    nat = cust.select("c_custkey", "c_nationkey")
    pairs = (
        edit_distance_self_join(cust, "c_custkey", "c_name", tau=1)
        .join(nat.toDF("id_a", "nat_a"), "id_a")
        .join(nat.toDF("id_b", "nat_b"), "id_b")
        .where(F.col("nat_a") == F.col("nat_b"))
        .select("id_a", "id_b", "distance")
    )
    n_pairs = pairs.count()

    # 2. entities = connected components of the match graph
    comp = connected_components(pairs, "id_a", "id_b")
    n_entities = comp.select("component").distinct().count()

    # 3. canonical record per entity: the minimum member id
    resolved = (
        cust.join(
            comp.select(F.col("node").alias("c_custkey"), "component"),
            "c_custkey",
            "left",
        )
        .withColumn("entity", F.coalesce("component", F.col("c_custkey")))
        .where(F.col("c_custkey") == F.col("entity"))
        .drop("component", "entity")
    )

    # 4. audit: what did resolution remove?
    diff = snapshot_diff(cust, resolved, ["c_custkey"])
    removed = diff.where(F.col("change_type") == "removed").count()

    # 5. hop distance of every member from its canonical record
    seeds = comp.select(F.col("component").alias("node")).distinct()
    sym = pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst")).unionByName(
        pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst"))
    )
    dists = bfs_distances(sym, seeds, max_depth=6)
    spread = dists.groupBy("dist").count().orderBy("dist").collect()
    release_materialized(dists)
    release_materialized(comp)

    print(f"records:            {cust.count()}")
    print(f"match pairs (ed<=1): {n_pairs}")
    print(f"entities w/ dups:    {n_entities}")
    print(f"records removed:     {removed}")
    for r in spread:
        print(f"  members at hop {r['dist']}: {r['count']}")


if __name__ == "__main__":
    main()
