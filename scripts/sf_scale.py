#!/usr/bin/env python
"""Strong 10x scale spot-run for the heaviest operators (round-5 VERDICT
item 1): synthesize an sf1-equivalent dataset (10x sf0.1) for the tables
the five heaviest queries touch, run each query at both scales, and print
one JSON line per query with the wall-time ratio and the implied scaling
exponent  alpha = log(t_big/t_small) / log(10)  (alpha ~ 1 -> linear,
alpha >> 1 -> super-linear: a plan that will not survive 100x).

Replicas are INDEPENDENT sub-corpora, the weak-scaling-correct shape:
  - documents: replica k > 0 rewrites every token with a `_rk` suffix, so
    vocabularies are disjoint and near-dup structure replicates instead of
    densifying (identical replicas would put every doc in a 10-clique —
    an OUTPUT blowup, not an engine property).
  - embeddings: replica k applies a seeded permutation of the vector
    dimensions — norms and within-replica geometry are preserved exactly,
    cross-replica cosines decorrelate.
  - events: id-offset copies with the SAME timestamps: 10x volume in the
    same time window, which is how a loader actually scales (hot
    partitions get hotter — exactly what q22's salted write must absorb).

Usage:
  python scripts/sf_scale.py build [--factor 10] [--out DIR]
  python scripts/sf_scale.py run   [--out DIR] [query ...]
(default queries: q22 q24 q65 q71 q48 + the scale-knob variants)
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

SRC = "/root/testdata/sf0.1"
DEFAULT_OUT = os.path.join(os.path.dirname(__file__), "..", ".scale_data", "sf1")
ID_STRIDE = 1_000_000_000

HEAVY = ["q22_loader_roundtrip", "q24_token_jaccard", "q65_dedup_clusters",
         "q71_semantic_dedup", "q48_ann_ivf"]


def build(out_dir: str, factor: int = 10) -> None:
    import numpy as np
    import duckdb

    os.makedirs(out_dir, exist_ok=True)
    con = duckdb.connect()

    # events: id-offset replicas, timestamps unchanged
    con.execute(
        f"""
        COPY (
          SELECT event_id + CAST(r AS BIGINT) * {ID_STRIDE} AS event_id, ts,
                 user_id + CAST(r AS BIGINT) * {ID_STRIDE} AS user_id, event_type, value, props
          FROM '{SRC}/events.parquet', range({factor}) t(r)
        ) TO '{out_dir}/events.parquet' (FORMAT PARQUET)
        """
    )

    # documents: replica 0 verbatim; k>0 suffixes every token -> disjoint
    # vocabularies, replicated (not densified) near-dup structure
    con.execute(
        f"""
        COPY (
          SELECT doc_id + CAST(r AS BIGINT) * {ID_STRIDE} AS doc_id,
                 CASE WHEN r = 0 THEN text
                      ELSE regexp_replace(text, '(\\S+)', '\\1_r' || r, 'g')
                 END AS text,
                 lang, source,
                 CASE WHEN r = 0 THEN n_chars
                      ELSE length(regexp_replace(text, '(\\S+)', '\\1_r' || r, 'g'))
                 END AS n_chars
          FROM '{SRC}/documents.parquet', range({factor}) t(r)
        ) TO '{out_dir}/documents.parquet' (FORMAT PARQUET)
        """
    )

    # embeddings: replica k permutes the vector dims (seeded); norms and
    # within-replica geometry exact, cross-replica cosines decorrelated
    dim = len(
        con.execute(f"SELECT embedding FROM '{SRC}/embeddings.parquet' LIMIT 1").fetchone()[0]
    )
    rng = np.random.default_rng(7)
    perms = [(k, (np.arange(dim) + 1).tolist() if k == 0
              else (rng.permutation(dim) + 1).tolist())  # 1-based for list_select
             for k in range(factor)]
    con.execute("CREATE TABLE perms (r INTEGER, perm INTEGER[])")
    con.executemany("INSERT INTO perms VALUES (?, ?)", perms)
    con.execute(
        f"""
        COPY (
          SELECT vec_id + CAST(r AS BIGINT) * {ID_STRIDE} AS vec_id,
                 list_select(embedding, perm) AS embedding,
                 label
          FROM '{SRC}/embeddings.parquet', perms
        ) TO '{out_dir}/embeddings.parquet' (FORMAT PARQUET)
        """
    )
    with open(os.path.join(out_dir, "manifest.json"), "w") as f:
        json.dump({"factor": factor, "src": SRC}, f)
    for t in ("events", "documents", "embeddings"):
        n = con.execute(f"SELECT count(*) FROM '{out_dir}/{t}.parquet'").fetchone()[0]
        print(f"built {t}: {n} rows", flush=True)


def _knob_variants(factor: int = 10):
    """Scale-knob variants: the operating points a scaled corpus should
    run at (documented knobs, not code changes). The SemDeDup cell count
    scales WITH the corpus (8 per sf0.1-equivalent), holding per-cell
    work constant — the knob's design contract."""
    from pyspark.sql import functions as F

    from snowplow_s3_loader_spark.operators import similarity
    from snowplow_s3_loader_spark.materialize import release_materialized
    from snowplow_s3_loader_spark.tables import load_table

    def q71_scaled_clusters(spark, sf_dir, n_clusters):
        emb = load_table(spark, sf_dir, "embeddings")
        res = similarity.semantic_dedup(
            emb, n_clusters=n_clusters, threshold=0.35, seed=7
        )
        n = res.count()
        release_materialized(res)
        return n

    def q48_fixed_queries(spark, sf_dir):
        # recall audit at a FIXED query budget (the audit is q x N by
        # design; holding q constant isolates the corpus-scan scaling).
        # The predicate pins the SAME 20 base-replica vectors at every
        # factor (replica ids start at ID_STRIDE, so vec_id < 2000
        # excludes them).
        emb = load_table(spark, sf_dir, "embeddings")
        pred = (F.col("vec_id") % 100 == 0) & (F.col("vec_id") < 2000)
        return similarity.ivf_recall_topk(
            emb, pred, k=5, n_centroids=8, n_probe=4, seed=7, max_queries=20
        ).count()

    return {
        "q71_nclusters_knob": lambda spark, sf, scaled: q71_scaled_clusters(
            spark, sf, 8 * factor if scaled else 8
        ),
        "q48_fixed_queries": lambda spark, sf, scaled: q48_fixed_queries(spark, sf),
    }


def run(out_dir: str, names: list[str], factor: int = 10) -> None:
    import math

    from snowplow_s3_loader_spark.materialize import sweep_checkpoint_blocks
    from snowplow_s3_loader_spark.plans import queries as Q
    from snowplow_s3_loader_spark.session import get_spark
    from snowplow_s3_loader_spark.tables import clear_table_cache

    spark = get_spark(app_name="sf-scale", extra_conf={"spark.ui.enabled": "false"})
    variants = _knob_variants(factor)

    def timed(fn) -> float:
        t0 = time.perf_counter()
        fn()
        t = time.perf_counter() - t0
        sweep_checkpoint_blocks(spark)
        return t

    for name in names:
        times = {}
        for sf_dir, scaled in ((SRC, False), (out_dir, True)):
            clear_table_cache()
            if name in variants:
                fn = lambda: variants[name](spark, sf_dir, scaled)
            else:
                fn = lambda: Q.QUERIES[name](spark, sf_dir).collect()
            timed(fn)  # warm once: JIT/codegen/cache effects out of the ratio
            times["big" if scaled else "small"] = round(
                min(timed(fn) for _ in range(2)), 2
            )
        ratio = times["big"] / max(times["small"], 1e-9)
        print(
            json.dumps(
                {
                    "query": name,
                    "sec_sf0.1": times["small"],
                    "sec_sf1": times["big"],
                    "ratio": round(ratio, 2),
                    "alpha": round(math.log(max(ratio, 1e-9)) / math.log(factor), 2),
                    "factor": factor,
                }
            ),
            flush=True,
        )


def main() -> None:
    args = sys.argv[1:]
    cmd = args.pop(0) if args else "run"
    out = DEFAULT_OUT
    factor = 10
    if "--out" in args:
        i = args.index("--out")
        out = args[i + 1]
        del args[i : i + 2]
    if "--factor" in args:
        i = args.index("--factor")
        factor = int(args[i + 1])
        del args[i : i + 2]
    out = os.path.abspath(out)
    if cmd == "build":
        build(out, factor)
    elif cmd == "run":
        # the exponent denominator must match what the dataset was BUILT
        # with — read the build manifest unless --factor was given
        if "--factor" not in sys.argv:
            mpath = os.path.join(out, "manifest.json")
            if os.path.exists(mpath):
                with open(mpath) as f:
                    factor = int(json.load(f)["factor"])
        names = args or (HEAVY + list(_knob_variants()))
        run(out, names, factor)
    else:
        raise SystemExit(f"unknown command {cmd!r}")


if __name__ == "__main__":
    main()
