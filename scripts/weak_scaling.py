#!/usr/bin/env python
"""Weak-scaling spot checks for the scale-critical operators: run the same
operator at 1x and 10x synthetic input and print one JSON line per case.
Sub-linear (or ~linear) growth in wall time is the pass signal — quadratic
blowups (pair-space explosions, unpartitioned funnels) show up immediately.

Usage: python scripts/weak_scaling.py [components|jaccard|all]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

from pyspark.sql import functions as F


def _spark():
    from snowplow_s3_loader_spark.session import get_spark

    return get_spark(app_name="weak-scaling", extra_conf={"spark.ui.enabled": "false"})


def components_case(spark, n_clusters: int) -> dict:
    """Chains of 4 nodes per cluster (diameter 3: several propagation
    rounds needed), n_clusters of them."""
    from snowplow_s3_loader_spark.operators.graph import connected_components

    ids = spark.range(n_clusters * 4)
    pairs = ids.select(
        F.col("id").alias("id_a"), (F.col("id") + 1).alias("id_b")
    ).where(F.col("id") % 4 != 3)
    t0 = time.perf_counter()
    comps = connected_components(pairs)
    n_nodes = comps.count()
    n_comp = comps.select("component").distinct().count()
    dt = time.perf_counter() - t0
    assert n_nodes == 4 * n_clusters and n_comp == n_clusters, (n_nodes, n_comp)
    return {"case": "components", "clusters": n_clusters, "sec": round(dt, 2)}


def jaccard_case(spark, n_docs: int) -> dict:
    """Realistic near-dup structure: clusters of 4 replica documents with
    (mostly) cluster-private vocabulary plus a handful of globally shared
    stopword-like tokens — pair count grows LINEARLY with the corpus (6
    pairs per cluster), so wall time should too. (An all-similar corpus is
    inherently quadratic in its OUTPUT and not a weak-scaling case.)"""
    from snowplow_s3_loader_spark.operators.dedup import token_jaccard_pairs

    cluster = F.floor(F.col("id") / 4)
    docs = spark.range(n_docs).select(
        F.col("id").alias("doc_id"),
        F.lit("b").alias("blk"),
        F.concat_ws(
            " ",
            # 5 global high-frequency tokens: the PPJoin prefix filter must
            # keep these out of the posting lists or the join blows up
            *[F.lit(f"the{i}") for i in range(5)],
            # 25 cluster-private tokens -> within-cluster J = 1.0
            *[
                F.concat(F.lit("w"), (cluster * 25 + i).cast("string"))
                for i in range(25)
            ],
        ).alias("text"),
    )
    t0 = time.perf_counter()
    n_pairs = token_jaccard_pairs(docs, "doc_id", "text", ["blk"], threshold=0.8).count()
    dt = time.perf_counter() - t0
    assert n_pairs == (n_docs // 4) * 6, n_pairs
    return {"case": "jaccard", "docs": n_docs, "pairs": n_pairs, "sec": round(dt, 2)}


def _topk_sets(df) -> dict:
    """query_id -> frozenset of neighbor ids (driver-side: k x |queries|
    rows — a measurement artifact, not a pipeline step)."""
    out: dict = {}
    for r in df.collect():
        out.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    return out


def recall_case(spark, sf_dir: str) -> list[dict]:
    """recall@k of the approximate ANN paths vs brute force on the real
    embeddings table (deterministic: seeded planes/centroids, fixed query
    set). The quality signal VERDICT r3 asked for: SRP at 4/6/8 planes,
    IVF at n_probe 1/2/4 over 8 centroids — the table STATUS.md cites for
    the shipped defaults."""
    from snowplow_s3_loader_spark.operators.similarity import (
        ann_topk_ivf,
        ann_topk_srp,
        brute_force_topk,
    )
    from snowplow_s3_loader_spark.tables import load_table

    k = 5
    emb = load_table(spark, sf_dir, "embeddings")
    pred = F.col("vec_id") % 100 == 0
    truth = _topk_sets(brute_force_topk(emb, pred, k=k))
    n_q = len(truth)
    results = []

    def _recall(approx_df) -> float:
        approx = _topk_sets(approx_df)
        hit = sum(len(truth[q] & approx.get(q, set())) for q in truth)
        return round(hit / (n_q * k), 3)

    # single-table code-length sweep, then the two multi-table trades:
    # longer codes + many tables (weak on this data: neighbor cosines are
    # modest, p^8 is tiny) vs the classic short-code many-table tuning
    # (4 planes x 8 tables -> recall 0.82 at sf0.1, beats IVF n_probe=4)
    for n_planes, n_tables in ((4, 1), (6, 1), (8, 1), (8, 8), (4, 4), (4, 8)):
        t0 = time.perf_counter()
        r = _recall(
            ann_topk_srp(emb, pred, k=k, n_planes=n_planes, n_tables=n_tables)
        )
        results.append(
            {
                "case": "recall_srp", "sf_dir": sf_dir, "n_queries": n_q,
                "n_planes": n_planes, "n_tables": n_tables, "recall_at_5": r,
                "sec": round(time.perf_counter() - t0, 2),
            }
        )
    for n_probe in (1, 2, 4):
        t0 = time.perf_counter()
        r = _recall(
            ann_topk_ivf(
                emb, pred, k=k, n_centroids=8, n_probe=n_probe, train=True, seed=7
            )
        )
        results.append(
            {
                "case": "recall_ivf", "sf_dir": sf_dir, "n_queries": n_q,
                "n_centroids": 8, "n_probe": n_probe, "recall_at_5": r,
                "sec": round(time.perf_counter() - t0, 2),
            }
        )
    return results


def retrieval_case(spark, n_docs: int) -> list[dict]:
    """BM25 + TF-IDF at 1x/10x synthetic corpora (VERDICT r3 #7).

    Synthetic docs: ~60 tokens each from a zipf-ish vocabulary (shared
    head words + per-doc tail), so tf/df shapes resemble text. Beyond
    wall time this records two plan facts from the EXECUTED (AQE-final)
    plan: (a) BM25's term IN-filter sits below the tf aggregation, so
    the (doc, term) relation never materializes for non-query terms at
    any scale; (b) which physical strategy AQE picked for the tf x df
    join — broadcast expected while the vocabulary is small, the metric
    to watch when it isn't."""
    from snowplow_s3_loader_spark.operators.retrieval import (
        bm25_topk,
        tf_idf_top_terms,
    )

    docs = spark.range(n_docs).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(
            " ",
            # 10 corpus-wide head words (stopword-ish df ~ N)
            *[F.lit(f"the{i}") for i in range(10)],
            # 40 mid-frequency words cycling a 1000-word vocabulary
            *[
                F.concat(F.lit("w"), ((F.col("id") * 7 + i * 13) % 1000).cast("string"))
                for i in range(40)
            ],
            # 10 doc-private tail words
            *[
                F.concat(F.lit("t"), (F.col("id") * 10 + i).cast("string"))
                for i in range(10)
            ],
        ).alias("text"),
    )

    out = []
    t0 = time.perf_counter()
    bm = bm25_topk(docs, "doc_id", "text", ["w7", "w42", "the3"], k=10)
    n_bm = bm.count()
    bm_sec = round(time.perf_counter() - t0, 2)
    executed = bm._jdf.queryExecution().executedPlan().toString()
    assert "the3,w7,w42" in executed.replace("w7,w42,the3", "the3,w7,w42") or "IN (" in executed, (
        "BM25 term filter missing from executed plan"
    )
    # the IN-filter must appear in a Filter ABOVE the explode/generate but
    # BELOW any HashAggregate in the plan tree (string order: aggregates
    # print above their children)
    agg_pos = executed.find("HashAggregate")
    filt_pos = executed.find("exists")  # IN-list compiles to: filter exists/in
    if filt_pos == -1:
        filt_pos = executed.find(" IN (")
    assert agg_pos != -1 and filt_pos > agg_pos, "term filter not below aggregation"
    out.append(
        {"case": "bm25", "docs": n_docs, "rows": n_bm, "sec": bm_sec,
         "df_join": "broadcast" if "BroadcastHashJoin" in executed else "sortmerge"}
    )

    t0 = time.perf_counter()
    ti = tf_idf_top_terms(docs, "doc_id", "text", k=3)
    n_ti = ti.count()
    ti_sec = round(time.perf_counter() - t0, 2)
    ti_plan = ti._jdf.queryExecution().executedPlan().toString()
    out.append(
        {"case": "tfidf", "docs": n_docs, "rows": n_ti, "sec": ti_sec,
         "df_join": "broadcast" if "BroadcastHashJoin" in ti_plan else "sortmerge"}
    )
    return out


def spans_case(spark, n_docs: int) -> dict:
    """remove_repeated_spans at 1x/10x: clusters of 4 docs sharing one
    8-gram run (the duplicated span) inside otherwise doc-private text —
    span count grows linearly with docs, so wall time should too (the
    gram-count shuffle is the scale stage)."""
    from snowplow_s3_loader_spark.operators.hygiene import remove_repeated_spans

    cluster = F.floor(F.col("id") / 4)
    docs = spark.range(n_docs).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(
            " ",
            *[F.concat(F.lit("u"), (F.col("id") * 20 + i).cast("string")) for i in range(6)],
            # shared 8-token run per cluster -> one duplicated span per doc
            *[F.concat(F.lit("s"), (cluster * 8 + i).cast("string")) for i in range(8)],
            *[F.concat(F.lit("v"), (F.col("id") * 20 + 10 + i).cast("string")) for i in range(6)],
        ).alias("text"),
    )
    t0 = time.perf_counter()
    out = remove_repeated_spans(docs, "doc_id", "text", k=8)
    agg = out.agg(
        F.count("*").alias("n"),
        F.sum(F.col("n_dup_spans")).alias("spans"),
        F.sum("n_tokens_removed").alias("removed"),
    ).first()
    dt = time.perf_counter() - t0
    assert agg["n"] == n_docs
    assert agg["spans"] == n_docs and agg["removed"] == 8 * n_docs, dict(agg.asDict())
    return {"case": "repeated_spans", "docs": n_docs, "sec": round(dt, 2)}


def incremental_cc_case(spark, n_clusters: int) -> dict:
    """ComponentMap's reason to exist, measured: after seeding a map with
    n_clusters 4-node chains, folding in a SMALL delta (100 pairs, some
    merging adjacent clusters) must cost far less than recomputing the
    batch operator over the full union — the delta projects into
    component space and only affected components re-converge."""
    from snowplow_s3_loader_spark.operators.graph import (
        ComponentMap,
        connected_components,
    )

    ids = spark.range(n_clusters * 4)
    base = ids.select(
        F.col("id").alias("id_a"), (F.col("id") + 1).alias("id_b")
    ).where(F.col("id") % 4 != 3)
    delta = spark.range(100).select(
        (F.col("id") * 8 + 3).alias("id_a"), (F.col("id") * 8 + 4).alias("id_b")
    )

    m = ComponentMap()
    m.update(base)
    t0 = time.perf_counter()
    m.update(delta)
    t_inc = time.perf_counter() - t0
    n_inc = m.components().select("component").distinct().count()
    m.release()

    t0 = time.perf_counter()
    full = connected_components(base.union(delta))
    n_full = full.select("component").distinct().count()
    t_full = time.perf_counter() - t0
    from snowplow_s3_loader_spark.materialize import release_materialized

    release_materialized(full)
    assert n_inc == n_full == n_clusters - 100, (n_inc, n_full)
    return {
        "case": "incremental_cc", "clusters": n_clusters,
        "delta_pairs": 100, "sec_incremental": round(t_inc, 2),
        "sec_full_recompute": round(t_full, 2),
    }


def streaming_neardup_case(spark, n_docs: int = 1500, seed: int = 11) -> list[dict]:
    """Recall of the streaming SimHash band filter vs the exact greedy
    truth (round-4 VERDICT item 4): a seeded corpus with ~40% planted
    near-duplicates (1-3 token edits of an earlier doc) streams through
    streaming_near_dup_votes in 5 micro-batches for each (band_bits,
    max_hamming) config; ground truth flags doc i iff its simhash is
    within max_hamming of ANY earlier doc's (the liberal first-seen
    semantics the filter's docstring promises). Reports recall =
    |flagged_stream & flagged_truth| / |flagged_truth|."""
    import random
    import shutil
    import tempfile

    from snowplow_s3_loader_spark.operators.dedup import simhash60_fast
    from snowplow_s3_loader_spark.streaming.stateful import (
        near_dup_keep_filter,
        streaming_near_dup_votes,
    )

    rng = random.Random(seed)
    vocab = [f"w{i}" for i in range(5000)]
    docs: list[tuple[int, str]] = []
    for i in range(n_docs):
        if i > 0 and rng.random() < 0.4:
            base = docs[rng.randrange(len(docs))][1].split()
            for _ in range(rng.randint(1, 3)):
                base[rng.randrange(len(base))] = rng.choice(vocab)
            docs.append((i, " ".join(base)))
        else:
            docs.append((i, " ".join(rng.choice(vocab) for _ in range(80))))

    batch_df = spark.createDataFrame(docs, "doc_id long, text string")
    hashes = {
        r["id"]: r["simhash"]
        for r in simhash60_fast(batch_df, "doc_id", "text").collect()
    }
    ordered = [hashes[i] for i in range(n_docs)]

    def truth_flagged(max_hamming: int) -> set[int]:
        out = set()
        for i in range(1, n_docs):
            hi = ordered[i]
            if any(bin(hi ^ ordered[j]).count("1") <= max_hamming for j in range(i)):
                out.add(i)
        return out

    workdir = tempfile.mkdtemp(prefix="neardup_recall_")
    src = os.path.join(workdir, "in")
    os.makedirs(src)
    per_batch = (n_docs + 4) // 5
    for b in range(5):
        with open(os.path.join(src, f"b{b:02d}.json"), "w") as f:
            for i, text in docs[b * per_batch : (b + 1) * per_batch]:
                f.write(json.dumps({"doc_id": i, "text": text}) + "\n")

    results = []
    try:
        for band_bits in (20, 15, 12, 10):
            for max_hamming in (2, 3):
                flagged: set[int] = set()

                def _collect(batch, _bid, flagged=flagged):
                    flagged.update(
                        r["id"]
                        for r in near_dup_keep_filter(batch).where(~F.col("keep")).collect()
                    )

                stream = (
                    spark.readStream.schema("doc_id long, text string")
                    .option("maxFilesPerTrigger", 1)
                    .json(src)
                )
                votes = streaming_near_dup_votes(
                    stream, "doc_id", "text",
                    max_hamming=max_hamming, band_bits=band_bits,
                )
                q = (
                    votes.writeStream.outputMode("update")
                    .foreachBatch(_collect)
                    .option(
                        "checkpointLocation",
                        os.path.join(workdir, f"ckpt_{band_bits}_{max_hamming}"),
                    )
                    .trigger(availableNow=True)
                    .start()
                )
                q.awaitTermination(600)
                truth = truth_flagged(max_hamming)
                recall = len(flagged & truth) / len(truth) if truth else 1.0
                results.append(
                    {
                        "case": "streaming_neardup",
                        "band_bits": band_bits,
                        "n_bands": 60 // band_bits,
                        "max_hamming": max_hamming,
                        "n_docs": n_docs,
                        "truth_flagged": len(truth),
                        "stream_flagged": len(flagged),
                        "recall": round(recall, 3),
                    }
                )
    finally:
        shutil.rmtree(workdir, ignore_errors=True)
    return results


def chunking_case(spark, n_docs: int) -> dict:
    """Overlapping-window chunking (round-5 VERDICT item 6): synthetic
    corpus of mixed-length docs (20..420 tokens in a fixed cycle so the
    length MIX, not just the count, is scale-invariant). The operator is
    pure JVM (tokenize once, explode stride starts, slice) — wall time
    and output rows must both grow ~linearly with the corpus; the
    ~window/stride output multiplier is the documented storage trade,
    verified here against the closed-form expected chunk count."""
    from snowplow_s3_loader_spark.operators.text import chunk_documents

    window, overlap = 64, 16
    stride = window - overlap
    n_toks = (F.col("id") % 21).cast("int") * 20 + 20  # 20,40,...,420 cycle
    docs = spark.range(n_docs).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(
            " ",
            F.transform(
                F.sequence(F.lit(1), n_toks),
                lambda i: F.concat(F.lit("t"), ((F.col("id") * 7 + i) % 997).cast("string")),
            ),
        ).alias("text"),
    )
    expected = sum(
        1 + max(0, -(-((((i % 21) * 20 + 20) - window)) // stride))
        for i in range(n_docs)
    )
    chunked = chunk_documents(docs, "doc_id", "text", window=window, overlap=overlap)
    chunked.count()  # warm: codegen/scheduler startup out of the 1x number
    t0 = time.perf_counter()
    n_chunks = chunked.count()
    dt = time.perf_counter() - t0
    assert n_chunks == expected, (n_chunks, expected)
    return {"case": "chunking", "docs": n_docs, "chunks": n_chunks, "sec": round(dt, 2)}


def bloom_case(spark, n_big: int) -> dict:
    """Blocked-bloom prefiltered semi join (round-6): n_big probe rows vs
    a 1% key side, broadcast disabled so the exact join is an SMJ both
    ways (the big-big case the operator exists for). Reports bloom wall,
    plain-semi wall, and the probe-side reduction the bloom achieved;
    wall must grow ~linearly with n_big."""
    from snowplow_s3_loader_spark.operators.bloom import (
        bloom_build,
        bloom_might_contain,
        bloom_prefilter_semi_join,
    )

    big = spark.range(n_big).select(
        (F.xxhash64("id") % 1_000_003).alias("k"), F.col("id").alias("payload")
    )
    keys = (
        spark.range(n_big // 100)
        .select((F.xxhash64(F.col("id") + 7) % 1_000_003).alias("k"))
        .distinct()
    )
    n_keys = keys.count()
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        res = bloom_prefilter_semi_join(big, keys, "k", n_keys=n_keys)
        res.count()  # warm
        t0 = time.perf_counter()
        n_match = res.count()
        bloom_s = time.perf_counter() - t0
        plain = big.join(keys, "k", "left_semi")
        plain.count()
        t0 = time.perf_counter()
        n_plain = plain.count()
        plain_s = time.perf_counter() - t0
        assert n_match == n_plain, (n_match, n_plain)
        n_blocks = max(64, -(-n_keys * 16 // 64))
        filt = bloom_build(keys, "k", n_blocks)
        n_pre = bloom_might_contain(big, "k", filt, n_blocks).count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    return {
        "case": "bloom",
        "big": n_big,
        "keys": n_keys,
        "matched": n_match,
        "prefilter_kept_frac": round(n_pre / n_big, 4),
        "bloom_sec": round(bloom_s, 2),
        "plain_semi_sec": round(plain_s, 2),
    }


def heavy_hitters_case(spark, n_docs: int) -> dict:
    """Misra-Gries heavy hitters (round-6): zipf-ish corpus (token j of
    doc i appears ~40/j times, vocabulary grows with the corpus via a
    per-doc suffix so the open-vocabulary pressure is realistic).
    Summary rows stay bounded by capacity x partitions regardless of
    vocabulary; wall must grow ~linearly with tokens."""
    from snowplow_s3_loader_spark.operators.sketches import (
        heavy_hitter_audit,
        mg_token_summary,
    )

    head = " ".join(f"t{j}" for j in range(1, 30) for _ in range(30 // j))
    docs = spark.range(n_docs).select(
        F.col("id").alias("doc_id"),
        F.concat(
            F.lit(head + " "), F.lit("rare"), F.col("id").cast("string")
        ).alias("text"),
    )
    summary = mg_token_summary(docs, "text", capacity=256)
    summary.count()  # warm
    t0 = time.perf_counter()
    n_rows = summary.count()
    dt = time.perf_counter() - t0
    audit = heavy_hitter_audit(docs, "text", capacity=256, k=10).collect()
    ok = all(r["found"] == 1 and r["bound_ok"] == 1 for r in audit)
    return {
        "case": "heavy_hitters",
        "docs": n_docs,
        "summary_rows": n_rows,
        "audit_ok": ok,
        "sec": round(dt, 2),
    }


def zorder_case(spark, n_rows: int) -> dict:
    """Z-order layout rewrite (round-6): time the full
    repartitionByRange+sort rewrite and record the measured worst-column
    skipping range at both scales — the layout quality must be
    scale-invariant while wall grows ~linearly."""
    from snowplow_s3_loader_spark.operators.layout import (
        skipping_effectiveness,
        zorder_repartition,
    )

    df = spark.range(n_rows).select(
        (F.xxhash64("id") % 1024).alias("x"),
        (F.xxhash64(F.col("id") + 3) % 1024).alias("y"),
    )
    specs = [(F.col("x"), 1024), (F.col("y"), 1024)]
    z = zorder_repartition(df, specs, 32)
    z.count()  # warm
    t0 = time.perf_counter()
    z.count()
    dt = time.perf_counter() - t0
    eff = skipping_effectiveness(df, specs, 32)
    return {
        "case": "zorder",
        "rows": n_rows,
        "worst_col_z": round(max(eff["zorder"]), 4),
        "worst_col_linear": round(max(eff["linear"]), 4),
        "sec": round(dt, 2),
    }


def pagerank_case(spark, n_edges: int) -> dict:
    """Exact-integer PageRank (round-6): synthetic directed graph with
    n_edges hashed edges over n_edges/10 nodes (avg degree ~10, hash-skewed
    like real link graphs). Reports wall for 3 iterations; per-iteration
    work is one co-partitioned join + one keyed agg, so wall must grow
    ~linearly with |E|. Mass invariant checked (floor-rounded total never
    exceeds the scale constant).
    """
    from snowplow_s3_loader_spark.materialize import release_materialized
    from snowplow_s3_loader_spark.operators.graph import pagerank

    n_nodes = max(100, n_edges // 10)
    edges = spark.range(n_edges).select(
        (F.abs(F.xxhash64("id")) % n_nodes).alias("src"),
        (F.abs(F.xxhash64(F.col("id") + 7)) % n_nodes).alias("dst"),
    )
    warm = pagerank(edges, iterations=1)
    warm.count()
    release_materialized(warm)
    t0 = time.perf_counter()
    pr = pagerank(edges, iterations=3)
    total = pr.agg(F.sum("rank_micro").alias("s")).collect()[0]["s"]
    wall = time.perf_counter() - t0
    n_out = pr.count()
    release_materialized(pr)
    assert total <= 10**12, total
    return {
        "case": "pagerank",
        "edges": n_edges,
        "nodes": n_out,
        "total_rank_frac": round(total / 10**12, 4),
        "sec_3_iters": round(wall, 2),
    }




def bpe_case(spark, n_docs: int) -> dict:
    """Distributed BPE training (round-7): corpus with a vocabulary that
    GROWS with the doc count (per-doc suffixed words on top of a common
    zipf head — Heaps-law pressure), 6 merges. The corpus is reduced to
    (word, freq) in one pass; training rounds then cost
    O(|vocab|)/round, so wall must grow sublinearly with docs (the
    corpus pass) plus ~linearly with the VOCABULARY (the rounds)."""
    from snowplow_s3_loader_spark.operators.bpe import bpe_train
    from snowplow_s3_loader_spark.materialize import release_materialized

    head = " ".join(f"tok{j}" for j in range(1, 20) for _ in range(20 // j))
    docs = spark.range(n_docs).select(
        F.col("id").alias("doc_id"),
        F.concat(
            F.lit(head + " uniq"), F.col("id").cast("string")
        ).alias("text"),
    )
    docs.count()  # warm the range
    t0 = time.perf_counter()
    merges, vocab = bpe_train(docs, "text", 6)
    n_vocab = vocab.count()
    dt = time.perf_counter() - t0
    release_materialized(vocab)
    return {
        "case": "bpe_train",
        "docs": n_docs,
        "vocab": n_vocab,
        "n_merges": len(merges),
        "sec": round(dt, 2),
    }


def walks_case(spark, n_edges: int) -> dict:
    """Deterministic random walks (round-7): 3 steps from every node of
    the hashed graph (~|E|/10 nodes, degree ~10). Per step the frontier
    is |V| rows and candidates are bounded by |E|; wall must grow
    ~linearly with |E|."""
    from snowplow_s3_loader_spark.operators.graph import random_walks

    n_nodes = max(100, n_edges // 10)
    edges = spark.range(n_edges).select(
        (F.abs(F.xxhash64("id")) % n_nodes).alias("src"),
        (F.abs(F.xxhash64(F.col("id") + 7)) % n_nodes).alias("dst"),
    )
    w = random_walks(edges, walk_length=3, seed=1)
    w.count()  # warm
    t0 = time.perf_counter()
    n_rows = random_walks(edges, walk_length=3, seed=1).count()
    dt = time.perf_counter() - t0
    return {
        "case": "random_walks",
        "edges": n_edges,
        "rows": n_rows,
        "sec": round(dt, 2),
    }


def triangle_fallback_case(spark, n_edges: int) -> dict:
    """Triangle counting with the broadcast path DISABLED (round-7): the
    two-sided shuffle closure join is the 100 TB path; it must scale the
    same way the broadcast path does (degree orientation still bounds
    wedges at O(|E|^1.5), planted 2% hub)."""
    from snowplow_s3_loader_spark.materialize import release_materialized
    from snowplow_s3_loader_spark.operators.graph import triangle_count

    n_nodes = max(100, n_edges // 10)
    hub_every = 50  # ~2% of edges touch the hub
    edges = spark.range(n_edges).select(
        F.when(F.col("id") % hub_every == 0, F.lit(0))
        .otherwise(F.abs(F.xxhash64("id")) % n_nodes)
        .alias("id_a"),
        (F.abs(F.xxhash64(F.col("id") + 7)) % n_nodes).alias("id_b"),
    )
    warm = triangle_count(edges, broadcast_threshold=0)
    warm.count()
    release_materialized(warm)
    t0 = time.perf_counter()
    res = triangle_count(edges, broadcast_threshold=0)
    total = res.select(F.max("total_triangles")).collect()[0][0]
    dt = time.perf_counter() - t0
    release_materialized(res)
    return {
        "case": "triangle_fallback",
        "edges": n_edges,
        "triangles": int(total or 0),
        "sec": round(dt, 2),
    }


def hits_case(spark, n_edges: int) -> dict:
    """Exact-integer HITS (round-7): 2 rounds on the hashed graph
    (~|E|/10 nodes). Per half-round work is one co-partitioned join +
    one keyed agg + a 1-row max; wall must grow ~linearly with |E|."""
    from snowplow_s3_loader_spark.materialize import release_materialized
    from snowplow_s3_loader_spark.operators.graph import hits

    n_nodes = max(100, n_edges // 10)
    edges = spark.range(n_edges).select(
        (F.abs(F.xxhash64("id")) % n_nodes).alias("src"),
        (F.abs(F.xxhash64(F.col("id") + 7)) % n_nodes).alias("dst"),
    )
    warm = hits(edges, iterations=1)
    warm.count()
    release_materialized(warm)
    t0 = time.perf_counter()
    out = hits(edges, iterations=2)
    n_rows = out.count()
    dt = time.perf_counter() - t0
    release_materialized(out)
    return {"case": "hits", "edges": n_edges, "nodes": n_rows, "sec": round(dt, 2)}


def hits_soak_case(spark, n_edges: int) -> dict:
    """Deep-iteration HITS soak (round-8, VERDICT r7 #2): the q103 query
    runs 2 iterations, which exercises exactly one checkpoint interval —
    the lazy round-chaining path (broadcast max-normalizers instead of
    per-half-round driver collects, persisted raw frames dropped at each
    checkpoint) went unexercised at depth. Runs 8, 16 and 24 iterations
    (4, 8 and 12 checkpoint intervals at checkpoint_interval=2) on the
    weak-scaling graph and asserts the same envelope as pagerank_soak:
    - marginal per-iteration cost of iterations 17-24 <= 1.5x that of
      iterations 9-16 (block accumulation or plan compounding would make
      later intervals dearer);
    - persistent-RDD block count after each run + release is IDENTICAL
      regardless of depth (every interval unpersists its raw frames and
      releases its predecessor checkpoints);
    - scores stay inside the micro-unit envelope (max-normalization
      bounds every score by `scale`)."""
    from snowplow_s3_loader_spark.materialize import release_materialized
    from snowplow_s3_loader_spark.operators.graph import hits

    n_nodes = max(100, n_edges // 10)
    edges = spark.range(n_edges).select(
        (F.abs(F.xxhash64("id")) % n_nodes).alias("src"),
        (F.abs(F.xxhash64(F.col("id") + 7)) % n_nodes).alias("dst"),
    )

    def n_blocks() -> int:
        lst = spark.sparkContext._jsc.sc().getPersistentRDDs().toList()
        return lst.size()

    warm = hits(edges, iterations=1)
    warm.count()
    release_materialized(warm)
    walls: dict[int, float] = {}
    blocks: dict[int, int] = {}
    for iters in (8, 16, 24):
        t0 = time.perf_counter()
        ht = hits(edges, iterations=iters)
        mx = ht.agg(
            F.max("hub_micro").alias("h"), F.max("auth_micro").alias("a")
        ).collect()[0]
        walls[iters] = time.perf_counter() - t0
        blocks[iters] = n_blocks()
        assert 0 < mx["h"] <= 10**6 and 0 < mx["a"] <= 10**6, (iters, dict(mx.asDict()))
        release_materialized(ht)
    marg_9_16 = (walls[16] - walls[8]) / 8
    marg_17_24 = (walls[24] - walls[16]) / 8
    assert blocks[8] == blocks[16] == blocks[24], blocks
    assert marg_17_24 <= 1.5 * max(marg_9_16, 0.2), (marg_9_16, marg_17_24)
    return {
        "case": "hits_soak",
        "edges": n_edges,
        "sec_8": round(walls[8], 2),
        "sec_16": round(walls[16], 2),
        "sec_24": round(walls[24], 2),
        "sec_per_iter_9_16": round(marg_9_16, 3),
        "sec_per_iter_17_24": round(marg_17_24, 3),
        "blocks_after_run": blocks[24],
    }


def kcore_case(spark, n_edges: int) -> dict:
    """k-core peeling (round-7): hashed graph with a degree mix (avg ~10)
    peeled at k=12 — several rounds of real shrinkage. Per-round work is
    bounded by the SURVIVING |E|; wall must grow ~linearly with |E|."""
    from snowplow_s3_loader_spark.materialize import release_materialized
    from snowplow_s3_loader_spark.operators.graph import k_core

    n_nodes = max(100, n_edges // 10)
    edges = spark.range(n_edges).select(
        (F.abs(F.xxhash64("id")) % n_nodes).alias("id_a"),
        (F.abs(F.xxhash64(F.col("id") + 7)) % n_nodes).alias("id_b"),
    )
    warm = k_core(edges, 12)
    warm.count()
    release_materialized(warm)
    t0 = time.perf_counter()
    out = k_core(edges, 12)
    n_core = out.count()
    dt = time.perf_counter() - t0
    release_materialized(out)
    return {"case": "k_core", "edges": n_edges, "core_nodes": n_core, "sec": round(dt, 2)}


def pagerank_soak_case(spark, n_edges: int) -> dict:
    """Deep-iteration PageRank soak (round-7, VERDICT r6 #3): production
    link-graph scoring runs 10-30 power iterations, but the bench query
    runs 3 — which NEVER crosses a checkpoint_interval=4 boundary, so
    the lazy round-chaining + per-interval checkpoint/release path
    (graph.py) went unexercised at depth. This case runs 8, 16 and 24
    iterations (2, 4 and 6 checkpoint intervals) on the weak-scaling
    graph and asserts:
    - wall per iteration stays FLAT: the marginal per-iteration cost of
      iterations 17-24 must be <= 1.5x that of iterations 9-16 (stats
      compounding or block accumulation would make later rounds dearer);
    - the persistent-RDD block count after each run is IDENTICAL
      regardless of depth (every interval releases its predecessor);
    - deeper runs remain mass-sane (floor-rounded total <= scale).
    """
    from snowplow_s3_loader_spark.materialize import release_materialized
    from snowplow_s3_loader_spark.operators.graph import pagerank

    n_nodes = max(100, n_edges // 10)
    edges = spark.range(n_edges).select(
        (F.abs(F.xxhash64("id")) % n_nodes).alias("src"),
        (F.abs(F.xxhash64(F.col("id") + 7)) % n_nodes).alias("dst"),
    )

    def n_blocks() -> int:
        lst = spark.sparkContext._jsc.sc().getPersistentRDDs().toList()
        return lst.size()

    warm = pagerank(edges, iterations=1)
    warm.count()
    release_materialized(warm)
    walls: dict[int, float] = {}
    blocks: dict[int, int] = {}
    for iters in (8, 16, 24):
        t0 = time.perf_counter()
        pr = pagerank(edges, iterations=iters)
        total = pr.agg(F.sum("rank_micro").alias("s")).collect()[0]["s"]
        walls[iters] = time.perf_counter() - t0
        blocks[iters] = n_blocks()
        assert total <= 10**12, (iters, total)
        release_materialized(pr)
    marg_9_16 = (walls[16] - walls[8]) / 8
    marg_17_24 = (walls[24] - walls[16]) / 8
    assert blocks[8] == blocks[16] == blocks[24], blocks
    # flat per-round: later intervals must not get dearer (1.5x allows
    # local-mode timing noise on a ~1-2 s/round signal)
    assert marg_17_24 <= 1.5 * max(marg_9_16, 0.2), (marg_9_16, marg_17_24)
    return {
        "case": "pagerank_soak",
        "edges": n_edges,
        "sec_8": round(walls[8], 2),
        "sec_16": round(walls[16], 2),
        "sec_24": round(walls[24], 2),
        "sec_per_iter_9_16": round(marg_9_16, 3),
        "sec_per_iter_17_24": round(marg_17_24, 3),
        "blocks_after_run": blocks[24],
    }


def interval_case(spark, n_left: int) -> dict:
    """Grid-bucketed interval-overlap join (round-6): n_left sessions vs
    n_left/10 windows over a timeline that GROWS with the data (30 days
    per 1M sessions — the weak-scaling-correct shape: constant density,
    so matches grow linearly; a fixed domain would make the OUTPUT
    quadratic and measure result size, not the engine). Wall must grow
    ~linearly with the interval count."""
    from snowplow_s3_loader_spark.operators.joins import interval_overlap_join

    domain = n_left * 2_592_000  # 30 days per 1M intervals, in micros
    left = spark.range(n_left).select(
        F.col("id").alias("id_l"),
        (F.abs(F.xxhash64("id")) % domain).alias("l_start"),
    ).withColumn("l_end", F.col("l_start") + 600_000_000)  # 10 min
    right = spark.range(n_left // 10).select(
        F.col("id").alias("id_r"),
        (F.abs(F.xxhash64(F.col("id") + 3)) % domain).alias("r_start"),
    ).withColumn("r_end", F.col("r_start") + 1_800_000_000)  # 30 min
    res = interval_overlap_join(
        left, right, ("l_start", "l_end"), ("r_start", "r_end"), 3_600_000_000
    )
    res.count()  # warm
    t0 = time.perf_counter()
    n = res.count()
    return {
        "case": "interval",
        "left": n_left,
        "right": n_left // 10,
        "matched": n,
        "sec": round(time.perf_counter() - t0, 2),
    }


def triangle_case(spark, n_edges: int) -> dict:
    """Degree-oriented triangle counting (round-6): hashed graph with a
    planted hub (one node on 2% of edges) — the degree orientation must
    keep the hub from exploding the wedge count, so wall grows
    ~|E|^1.5 / uniform-degree-bounded, not deg_hub^2."""
    from snowplow_s3_loader_spark.operators.graph import triangle_count

    n_nodes = n_edges // 10
    base = spark.range(n_edges).select(
        (F.abs(F.xxhash64("id")) % n_nodes).alias("id_a"),
        (F.abs(F.xxhash64(F.col("id") + 7)) % n_nodes).alias("id_b"),
    )
    hub = spark.range(n_edges // 50).select(
        F.lit(0).cast("long").alias("id_a"),
        (F.abs(F.xxhash64(F.col("id") + 13)) % n_nodes).alias("id_b"),
    )
    edges = base.union(hub)
    res = triangle_count(edges)
    res.count()  # warm
    t0 = time.perf_counter()
    total = res.select(F.max("total_triangles")).collect()[0][0]
    return {
        "case": "triangle",
        "edges": n_edges,
        "triangles": int(total or 0),
        "sec": round(time.perf_counter() - t0, 2),
    }


def fuzzy_case(spark, n_strings: int) -> dict:
    """Edit-distance self-join (round-8) on the ADVERSARIAL shape for
    segment blocking: sequential ids behind a constant prefix
    ("user-00001234"), where every PassJoin prefix segment is one hot
    key. The deletion-neighborhood path (tau=1) must keep candidates
    proportional to true near-pairs, so wall grows ~linearly with the
    corpus."""
    from snowplow_s3_loader_spark.operators.linkage import edit_distance_self_join

    df = spark.range(n_strings).select(
        F.col("id"),
        F.concat(F.lit("user-"), F.lpad(F.col("id").cast("string"), 8, "0")).alias(
            "name"
        ),
    )
    edit_distance_self_join(df, "id", "name", tau=1).count()  # warm
    t0 = time.perf_counter()
    n_pairs = edit_distance_self_join(df, "id", "name", tau=1).count()
    dt = time.perf_counter() - t0
    return {
        "case": "fuzzy_join",
        "strings": n_strings,
        "pairs": n_pairs,
        "sec": round(dt, 2),
    }


def bfs_case(spark, n_edges: int) -> dict:
    """Multi-source BFS (round-8) over the hashed graph (~|E|/10 nodes,
    degree ~10), seeds = every 1000th node, depth 4: adjacency is
    checkpointed once, per-round traffic is frontier-sized, so wall
    must grow ~linearly with |E|."""
    from snowplow_s3_loader_spark.materialize import release_materialized
    from snowplow_s3_loader_spark.operators.graph import bfs_distances

    n_nodes = max(100, n_edges // 10)
    edges = spark.range(n_edges).select(
        (F.abs(F.xxhash64("id")) % n_nodes).alias("src"),
        (F.abs(F.xxhash64(F.col("id") + 7)) % n_nodes).alias("dst"),
    )
    seeds = spark.range(0, n_nodes, 1000).select(F.col("id").alias("node"))
    w = bfs_distances(edges, seeds, max_depth=4)
    w.count()  # warm
    release_materialized(w)
    t0 = time.perf_counter()
    res = bfs_distances(edges, seeds, max_depth=4)
    n_rows = res.count()
    dt = time.perf_counter() - t0
    release_materialized(res)
    return {
        "case": "bfs_distances",
        "edges": n_edges,
        "reached": n_rows,
        "sec": round(dt, 2),
    }


def lpa_case(spark, n_edges: int) -> dict:
    """Label propagation (round-8), DISTRIBUTED path forced
    (driver_threshold=0): 2 deterministic rounds on the hashed graph.
    Per round one co-partitioned join + one keyed count + one arg-max
    window — wall must grow ~linearly with |E|."""
    from snowplow_s3_loader_spark.materialize import release_materialized
    from snowplow_s3_loader_spark.operators.graph import label_propagation

    n_nodes = max(100, n_edges // 10)
    edges = spark.range(n_edges).select(
        (F.abs(F.xxhash64("id")) % n_nodes).alias("id_a"),
        (F.abs(F.xxhash64(F.col("id") + 7)) % n_nodes).alias("id_b"),
    )
    r = label_propagation(edges, iterations=2, driver_threshold=0)
    r.count()  # warm
    release_materialized(r)
    t0 = time.perf_counter()
    res = label_propagation(edges, iterations=2, driver_threshold=0)
    n_comm = res.select("label").distinct().count()
    dt = time.perf_counter() - t0
    release_materialized(res)
    return {
        "case": "label_propagation",
        "edges": n_edges,
        "communities": n_comm,
        "sec": round(dt, 2),
    }


def bitmap_case(spark, n_rows: int) -> dict:
    """Exact bitmap distinct counting (round-8): n_rows events over a
    1M-id domain across 8 groups. The shuffle carries at most
    groups x domain/64 bit_or-combined words regardless of n_rows, so
    wall must grow ~linearly with the scan and the reported word count
    must stay FLAT as rows grow 10x (the bounded-exchange claim)."""
    from snowplow_s3_loader_spark.operators import bitmap

    domain = 1_000_000
    ev = spark.range(n_rows).select(
        (F.abs(F.xxhash64("id")) % 8).cast("string").alias("g"),
        (F.abs(F.xxhash64(F.col("id") + 3)) % domain).alias("uid"),
    )
    ev.count()
    t0 = time.perf_counter()
    bm = bitmap.bitmap_agg(ev, ["g"], "uid")
    n_words = bm.count()
    card = bitmap.bitmap_cardinality(bm, ["g"]).agg(F.sum("n_distinct")).collect()[0][0]
    dt = time.perf_counter() - t0
    return {
        "case": "bitmap_distinct",
        "rows": n_rows,
        "words": n_words,
        "distinct_total": card,
        "sec": round(dt, 2),
    }


def skyline_case(spark, n_rows: int) -> dict:
    """2-D Pareto frontier (round-8): n_rows correlated points (price
    vs day). Work is one distinct-x reduce + parallel per-bucket
    windows; wall must track the scan ~linearly, never quadratically
    (no dominance self-join exists in the plan)."""
    from snowplow_s3_loader_spark.operators.frontier import pareto_frontier_2d

    pts = spark.range(n_rows).select(
        (F.abs(F.xxhash64("id")) % 3650).alias("x"),
        (F.abs(F.xxhash64(F.col("id") + 11)) % 10_000_000).alias("y"),
    )
    pts.count()
    t0 = time.perf_counter()
    n_frontier = pareto_frontier_2d(pts, "x", "y").count()
    dt = time.perf_counter() - t0
    return {
        "case": "skyline",
        "rows": n_rows,
        "frontier": n_frontier,
        "sec": round(dt, 2),
    }


def itemsim_case(spark, n_rows: int) -> dict:
    """Item-item similarity (round-8): n_rows basket lines over
    n_rows/5 baskets and a 10k-item zipf-ish catalog. The apriori prune
    plus ordered pair join keeps candidate pairs bounded by
    sum-of-squared-basket-sizes; wall must track that pair volume, not
    baskets^2."""
    from snowplow_s3_loader_spark.operators.behavior import item_similarity_topk

    n_baskets = max(100, n_rows // 5)
    rows = spark.range(n_rows).select(
        (F.abs(F.xxhash64("id")) % n_baskets).alias("b"),
        (F.abs(F.xxhash64(F.col("id") + 5)) % 10_000).alias("i"),
    )
    rows.count()
    t0 = time.perf_counter()
    out = item_similarity_topk(rows, "b", "i", min_support=2, k=10)
    n_out = out.count()
    dt = time.perf_counter() - t0
    return {
        "case": "item_similarity",
        "rows": n_rows,
        "topk_rows": n_out,
        "sec": round(dt, 2),
    }


def cusum_case(spark, n_rows: int) -> dict:
    """CUSUM drift detection (round-8): n_rows observations across 64
    series. One hash exchange + one sort carry both stacked windows;
    wall must grow ~linearly with rows (O(1) per-row state)."""
    from snowplow_s3_loader_spark.operators.timeseries import cusum_alarms

    obs = spark.range(n_rows).select(
        (F.abs(F.xxhash64("id")) % 64).cast("string").alias("g"),
        F.col("id").alias("seq"),
        (F.abs(F.xxhash64(F.col("id") + 13)) % 200).alias("x"),
    )
    obs.count()
    t0 = time.perf_counter()
    n_alarms = (
        cusum_alarms(obs, "g", ["seq"], "x", target=100, slack=10, threshold=5000)
        .where("alarm")
        .count()
    )
    dt = time.perf_counter() - t0
    return {
        "case": "cusum",
        "rows": n_rows,
        "alarms": n_alarms,
        "sec": round(dt, 2),
    }


def kmeans_case(spark, n_rows: int) -> dict:
    """Exact-integer Lloyd (round-8): n_rows 16-dim vectors, k=8, two
    update rounds. Per iteration: one scan of the checkpointed corpus +
    one (cid, dim)-keyed reduction to k*d rows; wall must grow
    ~linearly with the corpus and the collected model stays k*d."""
    from snowplow_s3_loader_spark.operators.clustering import kmeans

    vecs = spark.range(n_rows).select(
        F.col("id"),
        F.array(
            *[
                ((F.abs(F.xxhash64(F.col("id") + d)) % 2000) / 1000.0 - 1.0)
                for d in range(16)
            ]
        ).alias("v"),
    )
    vecs.count()
    t0 = time.perf_counter()
    assigned, cents = kmeans(vecs, "id", "v", k=8, n_iter=2, scale=1000)
    n_assigned = assigned.count()
    dt = time.perf_counter() - t0
    assert n_assigned == n_rows and len(cents) == 8
    return {"case": "kmeans", "rows": n_rows, "sec": round(dt, 2)}


def line_dedup_case(spark, n_docs: int) -> dict:
    """Line-level boilerplate removal (round-8): n_docs documents of 8
    lines each — 3 universal boilerplate lines + 5 unique. Work is one
    explode, one line-keyed count-distinct, one per-doc reassembly;
    wall must track the corpus linearly (no pair space exists)."""
    from snowplow_s3_loader_spark.operators.hygiene import (
        strip_boilerplate_lines,
    )

    docs = spark.range(n_docs).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(
            "\n",
            F.lit("header: example site"),
            F.concat(F.lit("u1 "), F.col("id").cast("string")),
            F.lit("nav: home about contact"),
            F.concat(F.lit("u2 "), F.md5(F.col("id").cast("string"))),
            F.concat(F.lit("u3 "), F.md5((F.col("id") + 1).cast("string"))),
            F.concat(F.lit("u4 "), F.md5((F.col("id") + 2).cast("string"))),
            F.concat(F.lit("u5 "), F.md5((F.col("id") + 3).cast("string"))),
            F.lit("footer: (c) example"),
        ).alias("text"),
    )
    docs.count()
    t0 = time.perf_counter()
    out = strip_boilerplate_lines(docs, "doc_id", "text", max_doc_freq=5)
    n_docs_out, n_removed = out.agg(
        F.count("*"), F.sum("n_removed")
    ).collect()[0]
    dt = time.perf_counter() - t0
    assert n_docs_out == n_docs and n_removed == 3 * n_docs
    return {"case": "line_dedup", "docs": n_docs, "sec": round(dt, 2)}


def trailing_case(spark, n_rows: int) -> dict:
    """Bitmap trailing distinct (round-8): n_rows events over 365 days
    and a 1M-user domain, 7-day window. The stream reduces once to
    (day, word) bitmaps; the fan-out is bounded by 7x that reduced
    frame REGARDLESS of row count — wall tracks the scan, and the
    reduced word count stays flat as rows grow 10x."""
    from snowplow_s3_loader_spark.operators.bitmap import (
        bitmap_trailing_distinct,
    )

    ev = spark.range(n_rows).select(
        (F.abs(F.xxhash64("id")) % 365).alias("day"),
        (F.abs(F.xxhash64(F.col("id") + 7)) % 1_000_000).alias("uid"),
    )
    ev.count()
    t0 = time.perf_counter()
    out = bitmap_trailing_distinct(ev, "day", "uid", 7)
    n_days = out.count()
    dt = time.perf_counter() - t0
    assert n_days == 365
    return {"case": "trailing_distinct", "rows": n_rows, "sec": round(dt, 2)}


def linkpred_case(spark, n_edges: int) -> dict:
    """Link prediction (round-8 q135): hashed graph with avg degree ~10
    plus a planted 2% hub — candidate volume is sum(deg_w^2), so without
    the wedge-degree cutoff the hub alone contributes (0.02|V|)^2 pairs.
    The case runs WITH the cutoff (the documented 100 TB knob) and
    reports wall + candidate pairs; wall must track the bounded wedge
    volume, not |V|^2."""
    from snowplow_s3_loader_spark.materialize import release_materialized
    from snowplow_s3_loader_spark.operators.graph import link_prediction

    n_nodes = max(100, n_edges // 10)
    hub = n_nodes // 50 if n_nodes >= 50 else 1
    edges = spark.range(n_edges).select(
        (F.abs(F.xxhash64("id")) % n_nodes).alias("id_a"),
        F.when(
            F.col("id") % 50 == 0, F.abs(F.xxhash64(F.col("id") + 3)) % hub
        ).otherwise(F.abs(F.xxhash64(F.col("id") + 7)) % n_nodes).alias("id_b"),
    )
    warm = link_prediction(edges, min_common=2, max_wedge_degree=64)
    warm.count()
    release_materialized(warm)
    t0 = time.perf_counter()
    out = link_prediction(edges, min_common=2, max_wedge_degree=64)
    n_pairs = out.count()
    dt = time.perf_counter() - t0
    release_materialized(out)
    return {
        "case": "link_prediction", "edges": n_edges,
        "candidate_pairs": n_pairs, "sec": round(dt, 2),
    }


def ohlc_case(spark, n_rows: int) -> dict:
    """OHLC/TWAP bars (round-9 q141): n_rows ticks spread over 8 keys x
    a year of hourly bars. The operator is one keyed window sort + one
    partial+final aggregation — wall must track the scan/sort of the
    tick stream (n log n within bars), with NO join and no second sort;
    output stays fixed at keys x hours regardless of row count."""
    from snowplow_s3_loader_spark.operators.timeseries import ohlc_bars

    year_us = 365 * 86_400_000_000
    ev = spark.range(n_rows).select(
        (F.abs(F.xxhash64("id")) % 8).cast("string").alias("k"),
        F.timestamp_micros(
            F.lit(1_704_067_200_000_000)
            + F.abs(F.xxhash64(F.col("id") + 3)) % year_us
        ).cast("timestamp_ntz").alias("ts"),
        (F.abs(F.xxhash64(F.col("id") + 7)) % 20_000 - 10_000).alias("cents"),
        F.col("id").alias("tb"),
    )
    ev.count()
    t0 = time.perf_counter()
    out = ohlc_bars(ev, ["k"], "ts", "cents", "tb", "hour")
    n_bars = out.count()
    dt = time.perf_counter() - t0
    assert n_bars <= 8 * 366 * 24, n_bars
    return {"case": "ohlc_bars", "rows": n_rows, "bars": n_bars, "sec": round(dt, 2)}


def unigram_case(spark, n_words: int) -> dict:
    """Unigram-LM training (round-9 q142): n_words distinct hex words
    (len <= 16) with hashed frequencies, one EM iteration. The e-step
    is corpus-parallel Viterbi over the words frame with the capped
    vocab closure-shipped; the m-step shuffle is vocab-bounded — wall
    must track the word scan, never vocab x corpus."""
    from snowplow_s3_loader_spark.operators.unigram import unigram_train

    words = spark.range(n_words).select(
        F.lower(F.hex(F.abs(F.xxhash64("id")))).alias("word"),
        (F.abs(F.xxhash64(F.col("id") + 3)) % 50 + 1).alias("freq"),
    ).groupBy("word").agg(F.max("freq").alias("freq"))
    words.count()
    t0 = time.perf_counter()
    out = unigram_train(words, max_piece_len=4, min_count=5,
                        vocab_cap=4096, n_iter=1)
    n_pieces = out.count()
    dt = time.perf_counter() - t0
    assert n_pieces >= 16, n_pieces
    return {"case": "unigram_lm", "words": n_words,
            "pieces": n_pieces, "sec": round(dt, 2)}


def urldedup_case(spark, n_rows: int) -> dict:
    """URL dedup + domain cap (round-9 q143): n_rows messy URLs over
    n/5 distinct canonical forms across 1000 domains. Codegen'd
    canonicalization + one keyed agg + one domain window — wall must
    track the scan; the window runs on the REDUCED url frame."""
    from snowplow_s3_loader_spark.operators.urls import domain_cap, url_dedup

    base = (F.abs(F.xxhash64("id")) % (n_rows // 5)).cast("string")
    docs = spark.range(n_rows).select(
        F.col("id").alias("doc_id"),
        F.concat(
            F.when(F.col("id") % 2 == 0, "https").otherwise("HTTPS"),
            F.lit("://"),
            F.when(F.col("id") % 3 == 0, "www.").otherwise(""),
            F.lit("host"), (F.abs(F.xxhash64("id")) % 1000).cast("string"),
            F.lit(".com/p/"), base,
            F.when(F.col("id") % 5 == 0, "/?utm_source=x&a=1").otherwise("?a=1"),
        ).alias("url"),
    )
    docs.count()
    t0 = time.perf_counter()
    out = domain_cap(url_dedup(docs, "url", "doc_id"), 100)
    n_urls = out.count()
    dt = time.perf_counter() - t0
    assert n_urls <= n_rows // 5 + 1000, n_urls
    return {"case": "url_dedup", "rows": n_rows, "urls": n_urls, "sec": round(dt, 2)}


def streaming_ohlc_case(spark, n_ticks: int) -> dict:
    """Streaming OHLC state-store behavior at 10x ticks (round-9): 8
    keys x 30 days of hourly bars (~5.8k live state rows REGARDLESS of
    tick count), three mtime-ordered micro-batches through
    applyInPandasWithState. Wall must track the tick scan; the state
    row count is pinned flat by construction."""
    import os
    import shutil
    import tempfile

    from snowplow_s3_loader_spark.streaming.stateful import streaming_ohlc

    month_us = 30 * 86_400_000_000
    ev = spark.range(n_ticks).select(
        (F.abs(F.xxhash64("id")) % 8).cast("string").alias("k"),
        F.timestamp_micros(
            F.lit(1_704_067_200_000_000)
            + F.abs(F.xxhash64(F.col("id") + 3)) % month_us
        ).cast("timestamp_ntz").alias("ts"),
        F.col("id").alias("tb"),
        (F.abs(F.xxhash64(F.col("id") + 7)) % 20_000 - 10_000).alias("cents"),
    )
    # per-key (ts, tb)-ordered arrival: slice the seq order into thirds
    from pyspark.sql.window import Window as W

    ev = ev.withColumn(
        "seq", F.row_number().over(W.partitionBy("k").orderBy("ts", "tb"))
    )
    [row] = ev.select(F.expr("percentile(seq, array(0.34, 0.67))").alias("c")).collect()
    c1, c2 = int(row["c"][0]), int(row["c"][1])
    cols = ["k", "ts", "tb", "cents"]
    slices = [
        ev.where(F.col("seq") <= c1).select(cols),
        ev.where((F.col("seq") > c1) & (F.col("seq") <= c2)).select(cols),
        ev.where(F.col("seq") > c2).select(cols),
    ]
    tmp = tempfile.mkdtemp(prefix="ws_sohlc_")
    try:
        in_dir = os.path.join(tmp, "in")
        os.makedirs(in_dir)
        for i, sl in enumerate(slices):
            stage = os.path.join(tmp, f"w{i}")
            sl.coalesce(4).write.mode("overwrite").parquet(stage)
            dst = os.path.join(in_dir, f"b{i}")
            shutil.move(stage, dst)
            os.utime(dst, (1_700_000_000 + i * 10, 1_700_000_000 + i * 10))
            for f in os.listdir(dst):
                os.utime(os.path.join(dst, f),
                         (1_700_000_000 + i * 10, 1_700_000_000 + i * 10))
        src = (
            spark.readStream.schema(
                "k string, ts timestamp_ntz, tb long, cents long"
            )
            .option("maxFilesPerTrigger", "4")
            .parquet(os.path.join(in_dir, "*"))
            .withColumn("bucket", F.date_trunc("hour", F.col("ts")))
        )
        seen: set = set()
        t0 = time.perf_counter()
        q = (
            streaming_ohlc(src, "k", "bucket", "ts", "tb", "cents",
                           3_600_000_000)
            .writeStream.foreachBatch(
                lambda df, bid: seen.update(
                    (r["k"], r["bucket"]) for r in df.collect()
                )
            )
            .outputMode("update")
            .option("checkpointLocation", os.path.join(tmp, "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(600)
        dt = time.perf_counter() - t0
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    assert len(seen) <= 8 * 31 * 24, len(seen)
    return {"case": "streaming_ohlc", "ticks": n_ticks,
            "bars": len(seen), "sec": round(dt, 2)}


def unigram_soak_case(spark, n_words: int, n_iter: int) -> dict:
    """EM-iteration soak (round-9 q142): per-iteration marginal cost
    must stay flat — each round is one corpus-parallel Viterbi pass +
    one vocab-sized m-step + one bounded driver collect; nothing
    accumulates across iterations (checkpoints released by size
    boundedness, lineage reset per round)."""
    from snowplow_s3_loader_spark.operators.unigram import unigram_train

    words = spark.range(n_words).select(
        F.lower(F.hex(F.abs(F.xxhash64("id")))).alias("word"),
        (F.abs(F.xxhash64(F.col("id") + 3)) % 50 + 1).alias("freq"),
    ).groupBy("word").agg(F.max("freq").alias("freq"))
    words.count()
    t0 = time.perf_counter()
    n_pieces = unigram_train(
        words, max_piece_len=4, min_count=5, vocab_cap=4096, n_iter=n_iter
    ).count()
    dt = time.perf_counter() - t0
    return {"case": "unigram_soak", "words": n_words, "iters": n_iter,
            "pieces": n_pieces, "sec": round(dt, 2)}


def skewed_domain_case(spark, n_rows: int) -> dict:
    """Skew-proofed domain cap (round-10, VERDICT r9 #2): ONE mega-domain
    holds ~50% of all canonical URLs (the wiki/blog-host reality of web
    corpora), the rest spread over 1000 small hosts. The two-phase rank
    (md5-prefix salt buckets -> local rank + offsets) must keep wall
    ~linear in rows with no single-task sort cliff; the uniform q143
    corpus (14 hosts) never exercised this shape. Correctness cross-check:
    per-domain kept counts == min(cap, n_domain) on both tiers."""
    from snowplow_s3_loader_spark.operators.urls import domain_cap

    half = F.col("id") % 2 == 0
    deduped = spark.range(n_rows).select(
        F.concat(
            F.lit("https://"),
            F.when(half, F.lit("mega.com")).otherwise(
                F.concat(
                    F.lit("s"),
                    (F.abs(F.xxhash64("id")) % 1000).cast("string"),
                    F.lit(".com"),
                )
            ),
            F.lit("/p/"),
            F.col("id").cast("string"),
        ).alias("canonical_url"),
        F.when(half, F.lit("mega.com"))
        .otherwise(
            F.concat(
                F.lit("s"),
                (F.abs(F.xxhash64("id")) % 1000).cast("string"),
                F.lit(".com"),
            )
        )
        .alias("domain"),
        F.lit(1).cast("long").alias("n_dups"),
        F.col("id").alias("keep_id"),
    )
    deduped.count()
    t0 = time.perf_counter()
    out = domain_cap(deduped, 100)
    kept = out.groupBy("domain").agg(
        F.sum("kept").alias("k"), F.count("*").alias("n")
    )
    bad = kept.where(
        F.col("k") != F.least(F.lit(100), F.col("n"))
    ).count()
    dt = time.perf_counter() - t0
    assert bad == 0, bad
    mega = kept.where(F.col("domain") == "mega.com").first()
    return {
        "case": "skewed_domain_cap", "rows": n_rows,
        "mega_domain_urls": mega["n"], "mega_kept": mega["k"],
        "sec": round(dt, 2),
    }


def encode_ab_case(spark, n_docs: int) -> dict:
    """Unigram-encode granularity A/B (round-10, VERDICT r9 #7): the
    default re-segments every word occurrence (explode -> mapInPandas ->
    one doc agg, join-free); dedup_words=True dedups to distinct words,
    segments each once, and joins the lengths back — one corpus
    exchange bought with less Python DP. A high-repetition corpus
    (~100 words/doc from a 10k vocabulary) is the join variant's BEST
    case; the measured pair documents the tradeoff (the local in-process
    shuffle understates a cluster's network exchange, so the join win
    here does not flip the 100 TB default). Outputs asserted identical."""
    from snowplow_s3_loader_spark.operators.unigram import unigram_encode

    scores = {}
    for a in "abcdefghij":
        scores[a] = -3_000_000
        for b in "abcdefghij":
            scores[a + b] = -5_500_000
            scores[a + b + a] = -8_000_000
    docs = spark.range(n_docs).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(
            " ",
            *[
                # 4-char words from a 10^4-word space: heavy repetition
                F.concat(
                    *[
                        F.substring(
                            F.lit("abcdefghij"),
                            (
                                F.abs(F.xxhash64(F.col("id") * 100 + i * 7 + j))
                                % 10
                                + 1
                            ).cast("int"),
                            1,
                        )
                        for j in range(4)
                    ]
                )
                for i in range(100)
            ],
        ).alias("text"),
    )
    docs.count()

    t0 = time.perf_counter()
    shipped = unigram_encode(docs, "doc_id", "text", scores, 4)
    n_shipped = shipped.count()
    t_shipped = time.perf_counter() - t0

    t0 = time.perf_counter()
    joined = unigram_encode(docs, "doc_id", "text", scores, 4, dedup_words=True)
    n_joined = joined.count()
    t_joined = time.perf_counter() - t0
    assert n_shipped == n_joined == n_docs
    diff = shipped.exceptAll(joined).count()
    assert diff == 0, diff
    return {
        "case": "unigram_encode_ab", "docs": n_docs,
        "sec_recompute": round(t_shipped, 2),
        "sec_dedup_join": round(t_joined, 2),
    }


def dsir_case(spark, n_docs: int) -> dict:
    """DSIR weighting (round-10 q146): n_docs docs of ~40 words from a
    zipf-ish vocabulary, 10% marked target. The feature frame is one
    explode; both models are bucket-bounded (4096) broadcasts; scoring
    is one broadcast join + one doc agg — wall must track the token
    scan ~linearly, never vocab x corpus."""
    from snowplow_s3_loader_spark.operators.dsir import dsir_weights

    docs = spark.range(n_docs).select(
        F.col("id").alias("doc_id"),
        (F.col("id") % 10 == 0).alias("t"),
        F.concat_ws(
            " ",
            *[F.lit(f"the{i}") for i in range(5)],
            *[
                F.concat(
                    F.lit("w"),
                    ((F.col("id") * 7 + i * 13) % 2000).cast("string"),
                )
                for i in range(35)
            ],
        ).alias("text"),
    )
    docs.count()
    t0 = time.perf_counter()
    out = dsir_weights(docs, "doc_id", "text", F.col("t"), n_buckets=4096)
    # consume the SCORES, not just row count — a bare count() lets
    # Catalyst prune the weight columns (and on the mlewis twin even
    # eliminate the scoring join entirely), timing an empty plan
    row = out.agg(
        F.count("*").alias("n"), F.sum("weight_micro").alias("s")
    ).collect()[0]
    dt = time.perf_counter() - t0
    assert row["n"] == n_docs and row["s"] is not None
    return {"case": "dsir", "docs": n_docs, "sec": round(dt, 2)}


def mlewis_case(spark, n_docs: int) -> dict:
    """Moore-Lewis CE-difference scoring (round-10 q148): the zipf-ish
    retrieval corpus with 10% target docs. The bigram stream explodes
    once; all four count tables are vocabulary-sized — wall must track
    the token scan ~linearly."""
    from snowplow_s3_loader_spark.operators.lm import moore_lewis_scores

    docs = spark.range(n_docs).select(
        F.col("id").alias("doc_id"),
        (F.col("id") % 10 == 0).alias("t"),
        F.concat_ws(
            " ",
            *[F.lit(f"the{i}") for i in range(5)],
            *[
                F.concat(
                    F.lit("w"),
                    ((F.col("id") * 7 + i * 13) % 2000).cast("string"),
                )
                for i in range(35)
            ],
        ).alias("text"),
    )
    docs.count()
    t0 = time.perf_counter()
    row = (
        moore_lewis_scores(docs, "doc_id", "text", F.col("t"))
        .agg(F.count("*").alias("n"), F.sum("ml_micronats").alias("s"))
        .collect()[0]
    )
    dt = time.perf_counter() - t0
    assert row["n"] == n_docs and row["s"] is not None
    return {"case": "moore_lewis", "docs": n_docs, "sec": round(dt, 2)}


def novelty_case(spark, n_docs: int) -> dict:
    """n-gram novelty (round-10 q149): clusters of 4 near-identical docs
    (3 stale per cluster) plus doc-private tails — the gram-keyed owner
    join is vocabulary-sized, so wall must track the token scan
    ~linearly and the planted stale docs must score ~0."""
    from snowplow_s3_loader_spark.operators.text import ngram_novelty

    cluster = F.floor(F.col("id") / 4)
    docs = spark.range(n_docs).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(
            " ",
            *[
                F.concat(F.lit("s"), (cluster * 12 + i).cast("string"))
                for i in range(12)
            ],
        ).alias("text"),
    )
    docs.count()
    t0 = time.perf_counter()
    out = ngram_novelty(docs, "doc_id", "text", 3)
    agg = out.agg(
        F.count("*").alias("n"),
        F.sum((F.col("novelty_micro") == 0).cast("long")).alias("stale"),
    ).first()
    dt = time.perf_counter() - t0
    assert agg["n"] == n_docs
    # 3 of every 4 docs share their cluster's grams with the owner
    assert agg["stale"] == (n_docs // 4) * 3, agg["stale"]
    return {"case": "ngram_novelty", "docs": n_docs, "sec": round(dt, 2)}


def incdedup_case(spark, n_new: int) -> dict:
    """Incremental MinHash dedup (round-10 q150): a 4x-larger history
    store probed by n_new docs, 25% of them exact replays of history
    texts. The only wide op against the store is one band-keyed semi
    join (membership — no pair space), so wall must track the NEW
    snapshot ~linearly and the planted dup fraction must hold exactly."""
    from snowplow_s3_loader_spark.operators.dedup import (
        incremental_minhash_filter,
        minhash_bands,
    )

    def corpus(ids, text_of):
        return ids.select(
            F.col("id").alias("doc_id"),
            F.concat_ws(
                " ",
                *[
                    F.concat(F.lit("w"), (text_of * 9 + i).cast("string"))
                    for i in range(9)
                ],
            ).alias("text"),
        )

    hist = corpus(spark.range(n_new * 4), F.col("id"))
    # new ids: 3 of 4 carry fresh text keys (offset past history), the
    # 4th replays history text key id%histsize
    fresh = F.col("id") + n_new * 4
    replay = F.col("id") % (n_new * 4)
    new = corpus(
        spark.range(n_new),
        F.when(F.col("id") % 4 == 3, replay).otherwise(fresh),
    )
    store = minhash_bands(hist, "doc_id", "text").select(
        "band_id", "band_hash"
    )
    from snowplow_s3_loader_spark.materialize import checkpoint_nostats

    store = checkpoint_nostats(store)  # the PERSISTED store: built once
    t0 = time.perf_counter()
    out = incremental_minhash_filter(new, store, "doc_id", "text")
    dups = out.agg(F.sum("is_dup").alias("d")).first()["d"]
    dt = time.perf_counter() - t0
    assert dups == n_new // 4, dups
    return {"case": "incremental_dedup", "new_docs": n_new,
            "dups": dups, "sec": round(dt, 2)}


def incdedup_soak_case(spark, n_per_snapshot: int, n_snapshots: int) -> dict:
    """Always-on incremental-dedup soak (round-10 q150): fold
    n_snapshots successive snapshots into a GROWING persisted band
    store (each round's survivors union in, checkpointed — the
    ComponentMap lineage discipline). Per-round wall must stay ~flat
    (the probe is one membership semi join; the store only ever grows
    by survivor bands) and the planted dup counts must be exact every
    round: each snapshot replays 25% of the PREVIOUS snapshot's fresh
    text keys, so round 1 has zero dups and every later round exactly
    n/4."""
    from snowplow_s3_loader_spark.materialize import (
        checkpoint_nostats,
        release_materialized,
    )
    from snowplow_s3_loader_spark.operators.dedup import (
        incremental_minhash_filter,
        minhash_bands,
    )

    def snapshot(r):
        # ids fresh per round; 25% of texts replay round r-1's fresh keys
        fresh_key = F.col("id") + r * n_per_snapshot
        replay_key = F.col("id") - F.col("id") % 4 + (r - 1) * n_per_snapshot
        key = F.when((F.col("id") % 4 == 3) & (F.lit(r) > 0), replay_key).otherwise(
            fresh_key
        )
        return spark.range(n_per_snapshot).select(
            (F.col("id") + r * n_per_snapshot).alias("doc_id"),
            F.concat_ws(
                " ",
                *[
                    F.concat(F.lit("w"), (key * 9 + i).cast("string"))
                    for i in range(9)
                ],
            ).alias("text"),
        )

    # the persisted store advertises its (band_id, band_hash) hash
    # layout, so every probe's semi join plans with ZERO Exchange on
    # the store side — without this the store re-shuffles on every
    # snapshot (O(rounds x |store|) redundant shuffle; measured walls
    # drifting 1.4 -> 2.1 s across 7 rounds before the fix)
    n_parts = spark.sparkContext.defaultParallelism
    store = checkpoint_nostats(
        minhash_bands(snapshot(0), "doc_id", "text").select(
            "band_id", "band_hash"
        ),
        n_parts=n_parts,
        partition_cols=["band_id", "band_hash"],
    )
    walls = []
    for r in range(1, n_snapshots):
        snap = snapshot(r)
        t0 = time.perf_counter()
        res = incremental_minhash_filter(snap, store, "doc_id", "text")
        dups = res.agg(F.sum("is_dup").alias("d")).first()["d"]
        walls.append(round(time.perf_counter() - t0, 2))
        assert dups == n_per_snapshot // 4, (r, dups)
        survivors = snap.join(
            res.where(F.col("is_dup") == 0).select(
                F.col("id").alias("doc_id")
            ),
            "doc_id",
            "left_semi",
        )
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
        store = new_store
    n_store = store.count()
    release_materialized(store)
    return {
        "case": "incdedup_soak", "per_snapshot": n_per_snapshot,
        "snapshots": n_snapshots, "walls": walls,
        "store_bands_final": n_store,
    }


def psi_case(spark, n_rows: int) -> dict:
    """PSI drift (round-10 q151): n_rows reference vs n_rows shifted
    current. One two-phase global sort of the reference + two scan-level
    bin counts — wall must track the scans ~linearly; bins stay k."""
    from snowplow_s3_loader_spark.operators.profile import psi_bins

    ref = spark.range(n_rows).select(
        (F.abs(F.xxhash64("id")) % 100_000).alias("v"), F.col("id").alias("tb")
    )
    cur = spark.range(n_rows).select(
        (F.abs(F.xxhash64(F.col("id") + 7)) % 100_000 + 5_000).alias("v"),
        F.col("id").alias("tb"),
    )
    ref.count(); cur.count()
    t0 = time.perf_counter()
    rows = psi_bins(ref, cur, "v", k=10, tie_cols=["tb"]).collect()
    dt = time.perf_counter() - t0
    assert len(rows) == 10
    return {"case": "psi_drift", "rows": n_rows, "sec": round(dt, 2)}


def shards_case(spark, n_docs: int) -> dict:
    """Token-balanced sharding (round-10 q147): the two-phase prefix sum
    must track the scan ~linearly (literal-boundary buckets + offset map;
    no single-partition stage), and every shard's token mass must stay
    within one document of total/n_shards at both scales."""
    from snowplow_s3_loader_spark.operators.layout import token_shards

    docs = spark.range(1, n_docs + 1).select(
        F.col("id").alias("doc_id"),
        (F.abs(F.xxhash64("id")) % 400 + 20).alias("w"),
    )
    docs.count()
    t0 = time.perf_counter()
    sh = token_shards(docs, "doc_id", "w", 64)
    stats = sh.groupBy("shard").agg(F.sum("w").alias("tok")).collect()
    dt = time.perf_counter() - t0
    total = sum(r["tok"] for r in stats)
    per = total / 64
    assert len(stats) == 64
    assert all(abs(r["tok"] - per) <= per + 420 for r in stats)
    return {"case": "token_shards", "docs": n_docs, "sec": round(dt, 2)}



def subdup_case(spark, n_docs: int) -> dict:
    """Substring duplication weak scaling: ~230-char docs, 25% of docs
    replaying another doc's full text (planted duplicated mass). Cost
    model: the anchor explode is one row per corpus char; survivors
    (1/stride) carry through the two hash-keyed stages."""
    from pyspark.sql import functions as F

    from snowplow_s3_loader_spark.operators.text import (
        substring_duplication,
    )

    key = F.when(
        F.col("id") % 4 == 3, F.col("id") - F.col("id") % 4
    ).otherwise(F.col("id"))
    docs = spark.range(n_docs).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(
            " ",
            *[
                F.concat(F.lit("w"), (key * 23 + i * 7).cast("string"))
                for i in range(24)
            ],
        ).alias("text"),
    )
    t0 = time.time()
    out = substring_duplication(docs, "doc_id", "text")
    n_dup = out.where(F.col("n_dup_windows") > 0).count()
    dt = time.time() - t0
    assert n_dup >= n_docs // 4, (n_dup, n_docs)
    return {"case": "subdup", "docs": n_docs, "sec": round(dt, 2)}


def ks_case(spark, n_rows: int) -> dict:
    """Two-sample KS weak scaling: hash-spread integer values, current
    snapshot shifted — the packed literal-boundary prefix sum is the
    whole wide cost."""
    from pyspark.sql import functions as F

    from snowplow_s3_loader_spark.operators.profile import ks_statistic

    v = (F.col("id") * 2654435761) % 1000003
    ref = spark.range(n_rows).select(v.alias("v"))
    cur = spark.range(n_rows, 2 * n_rows).select((v + 5000).alias("v"))
    t0 = time.time()
    row = ks_statistic(ref, cur, "v").collect()[0]
    dt = time.time() - t0
    assert row.d_num > 0
    return {"case": "ks", "rows": n_rows, "sec": round(dt, 2)}


def kmv_case(spark, n_docs: int) -> dict:
    """KMV source-overlap weak scaling: n_docs docs over 40 sources
    with heavy cross-source shingle sharing — corpus-side cost is one
    distinct (source, hash) aggregation; everything after is the
    bounded |sources|*k signature frame."""
    from pyspark.sql import functions as F

    from snowplow_s3_loader_spark.operators.similarity import (
        kmv_overlap_matrix,
        kmv_signatures,
    )

    docs = spark.range(n_docs).select(
        F.concat(F.lit("s"), (F.col("id") % 40).cast("string")).alias("g"),
        F.concat(
            F.lit("sh"), ((F.col("id") * 13) % (n_docs // 2)).cast("string")
        ).alias("it"),
    )
    t0 = time.time()
    sigs = kmv_signatures(docs, "g", "it", k=64)
    n = kmv_overlap_matrix(sigs, "g", k=64).count()
    dt = time.time() - t0
    assert n == 40 * 39 // 2
    return {"case": "kmv_overlap", "rows": n_docs, "sec": round(dt, 2)}

def char_entropy_case(spark, n_docs: int) -> dict:
    """Per-char explode is the cost (O(len) rows/doc, the q152 class):
    ~120-char synthetic docs with mixed char distributions; wall should
    scale ~linearly with corpus chars."""
    from snowplow_s3_loader_spark.operators.text import char_entropy

    docs = spark.range(n_docs).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(
            " ",
            *[
                F.concat(F.lit("w"), ((F.col("id") * 31 + i) % 9973).cast("string"))
                for i in range(15)
            ],
        ).alias("text"),
    )
    t0 = time.perf_counter()
    out = char_entropy(docs, "doc_id", "text")
    [row] = out.agg(
        F.count("*").alias("n"), F.sum("entropy_micro").alias("s")
    ).collect()
    dt = time.perf_counter() - t0
    assert row["n"] == n_docs
    return {"case": "char_entropy", "docs": n_docs, "sec": round(dt, 2)}


def calibration_case(spark, n_rows: int) -> dict:
    """One guarded projection + one k-ary aggregation: wall should be
    scan-bound (flat fixed costs, then linear in rows)."""
    from snowplow_s3_loader_spark.operators.profile import calibration_bins

    df = spark.range(n_rows).select(
        ((F.col("id") * 7919) % 1000001).alias("p"),
        ((F.col("id") * 104729) % 2).cast("int").alias("y"),
    )
    t0 = time.perf_counter()
    out = calibration_bins(df, "p", "y", k=10).collect()
    dt = time.perf_counter() - t0
    assert len(out) == 10 and sum(r["n"] for r in out) == n_rows
    return {"case": "calibration", "rows": n_rows, "sec": round(dt, 2)}


def fd_case(spark, n_rows: int) -> dict:
    """Two declared pairs = two keyed aggregations; determinant
    cardinality grows with the data (the realistic profiling shape)."""
    from snowplow_s3_loader_spark.operators.profile import fd_check

    df = spark.range(n_rows).select(
        F.col("id").alias("k"),
        (F.col("id") % (n_rows // 10)).alias("det"),
        (F.col("id") % 97).alias("dep"),
    )
    t0 = time.perf_counter()
    out = {r["fd"]: r for r in fd_check(
        df, [(["k"], "dep"), (["det"], "dep")]
    ).collect()}
    dt = time.perf_counter() - t0
    assert out["k->dep"]["holds"] == 1
    return {"case": "fd_profile", "rows": n_rows, "sec": round(dt, 2)}


def budget_select_case(spark, n_docs: int) -> dict:
    """The greedy budget cut rides the literal-boundary running total —
    the token_shards cost shape (sample + counts + output pass, nothing
    materialized)."""
    from snowplow_s3_loader_spark.operators.sampling import (
        quality_budget_select,
    )

    df = spark.range(n_docs).select(
        F.col("id"),
        ((F.col("id") * 2654435761) % 1000000).alias("score"),
        (50 + F.col("id") % 100).alias("toks"),
    )
    budget = n_docs * 25  # ~25% of mean token mass kept
    t0 = time.perf_counter()
    out = quality_budget_select(df, "id", "score", "toks", budget)
    [row] = out.agg(
        F.count("*").alias("n"),
        F.sum(F.col("kept").cast("long")).alias("k"),
        F.sum(F.when(F.col("kept"), F.col("n_tokens"))).alias("kt"),
    ).collect()
    dt = time.perf_counter() - t0
    assert row["n"] == n_docs and row["kt"] >= budget
    return {
        "case": "budget_select",
        "docs": n_docs,
        "kept": row["k"],
        "sec": round(dt, 2),
    }


def survival_case(spark, n_subjects: int) -> dict:
    """KM cost = one keyed agg over subjects + keyed windows over the
    DISTINCT-time frame (bounded by observed durations, not subjects):
    10x subjects over a fixed 4k-day duration domain should be ~flat
    after the aggregation."""
    from snowplow_s3_loader_spark.operators.profile import survival_curve

    df = spark.range(n_subjects).select(
        (F.col("id") % 4).cast("string").alias("g"),
        ((F.col("id") * 7919) % 4000).alias("d"),
        ((F.col("id") * 31) % 2).cast("int").alias("e"),
    )
    t0 = time.perf_counter()
    out = survival_curve(df, "g", "d", "e")
    [row] = out.agg(
        F.count("*").alias("n"), F.sum("n_events").alias("ev")
    ).collect()
    dt = time.perf_counter() - t0
    assert row["n"] <= 4 * 4000
    return {"case": "survival", "subjects": n_subjects, "sec": round(dt, 2)}


def bursts_case(spark, n_events: int) -> dict:
    """The DP is linear per key and the keyed lag window is the only
    corpus-scale stage; 16 keys share the volume. Planted bursts: every
    200-gap stretch alternates quiet (60 s) and bursty (4 s) regimes."""
    import datetime as _dt

    from snowplow_s3_loader_spark.operators.timeseries import (
        kleinberg_bursts,
    )

    per_key = n_events // 16
    base = _dt.datetime(2024, 1, 1)
    df = spark.range(n_events).select(
        (F.col("id") % 16).cast("string").alias("k"),
        F.col("id").alias("eid"),
        (
            F.lit(base)
            + F.make_interval(
                secs=(
                    (F.col("id") / 16).cast("long")
                    * F.when(
                        ((F.col("id") / 16).cast("long") / 200) % 2 == 0,
                        60,
                    ).otherwise(4)
                ).cast("double")
            )
        ).cast("timestamp_ntz").alias("ts"),
    )
    t0 = time.perf_counter()
    out = kleinberg_bursts(df, "k", "ts", "eid")
    rows = out.collect()
    dt = time.perf_counter() - t0
    assert len(rows) == 16 and all(r["n_bursts"] >= 1 for r in rows)
    return {"case": "bursts", "events": n_events, "sec": round(dt, 2)}


def truncation_recall_case(spark, n_vecs: int) -> dict:
    """Two broadcast scoring passes over the corpus (queries fixed at
    20): wall should be ~linear in corpus vectors."""
    from snowplow_s3_loader_spark.operators.similarity import (
        truncation_recall,
    )

    df = spark.range(n_vecs).select(
        F.col("id").alias("vec_id"),
        F.transform(
            F.sequence(F.lit(1), F.lit(16)),
            lambda j: ((F.col("id") * 31 + j * 7) % 19).cast("float") - 9.0,
        ).alias("embedding"),
    )
    t0 = time.perf_counter()
    out = truncation_recall(
        df, F.col("vec_id") % (n_vecs // 20) == 0, k=5, dims_keep=4
    ).collect()
    dt = time.perf_counter() - t0
    assert len(out) == 20
    return {"case": "truncation_recall", "vecs": n_vecs, "sec": round(dt, 2)}


def changepoint_case(spark, n_rows: int) -> dict:
    """One keyed window pass + one keyed argmax aggregation: 10x rows
    over 8 series should be ~linear (sort-dominated)."""
    from snowplow_s3_loader_spark.operators.timeseries import (
        cusum_changepoint,
    )

    per = n_rows // 8
    df = spark.range(n_rows).select(
        (F.col("id") % 8).cast("string").alias("g"),
        F.expr("id div 8").alias("i"),
        (
            F.lit(100)
            + (F.col("id") * 37 % 21 - 10)
            + F.when(F.expr("id div 8") >= per // 2, F.lit(40)).otherwise(0)
        ).alias("x"),
    )
    t0 = time.perf_counter()
    rows = cusum_changepoint(df, "g", ["i"], "x").collect()
    dt = time.perf_counter() - t0
    assert len(rows) == 8
    # the planted mid-series step must be located near per // 2
    assert all(abs(r["t_hat"] - per // 2) <= 3 for r in rows), rows
    return {"case": "changepoint", "rows": n_rows, "sec": round(dt, 2)}


def hierarchy_case(spark, n_events: int) -> dict:
    """The k-state DP is O(n k^2) per key — same linear shape as the
    two-state case with a constant-factor bump."""
    import datetime as _dt

    from snowplow_s3_loader_spark.operators.timeseries import (
        kleinberg_bursts_multi,
    )

    base = _dt.datetime(2024, 1, 1)
    df = spark.range(n_events).select(
        (F.col("id") % 16).cast("string").alias("k"),
        F.col("id").alias("eid"),
        (
            F.lit(base)
            + F.make_interval(
                secs=(
                    (F.col("id") / 16).cast("long")
                    * F.when(
                        ((F.col("id") / 16).cast("long") / 200) % 2 == 0,
                        60,
                    ).otherwise(4)
                ).cast("double")
            )
        ).cast("timestamp_ntz").alias("ts"),
    )
    t0 = time.perf_counter()
    rows = kleinberg_bursts_multi(df, "k", "ts", "eid", n_states=3).collect()
    dt = time.perf_counter() - t0
    assert len(rows) == 16 and all(r["max_state"] >= 1 for r in rows)
    return {"case": "hierarchy", "events": n_events, "sec": round(dt, 2)}


def intervals_case(spark, n_events: int) -> dict:
    """Interval emission shares the summary DP's cost; output rows are
    bounded by bursts, never events."""
    import datetime as _dt

    from snowplow_s3_loader_spark.operators.timeseries import (
        kleinberg_burst_intervals,
    )

    base = _dt.datetime(2024, 1, 1)
    df = spark.range(n_events).select(
        (F.col("id") % 16).cast("string").alias("k"),
        F.col("id").alias("eid"),
        (
            F.lit(base)
            + F.make_interval(
                secs=(
                    (F.col("id") / 16).cast("long")
                    * F.when(
                        ((F.col("id") / 16).cast("long") / 200) % 2 == 0,
                        60,
                    ).otherwise(4)
                ).cast("double")
            )
        ).cast("timestamp_ntz").alias("ts"),
    )
    t0 = time.perf_counter()
    n = kleinberg_burst_intervals(df, "k", "ts", "eid").count()
    dt = time.perf_counter() - t0
    assert n >= 16
    return {"case": "intervals", "events": n_events, "sec": round(dt, 2)}


def benford_case(spark, n_rows: int) -> dict:
    """One keyed hash agg with map-side combine + a 9-row spine: 10x
    rows should be ~linear scan time."""
    from snowplow_s3_loader_spark.operators.profile import benford_profile

    df = spark.range(n_rows).select(
        (F.col("id") % 4).cast("string").alias("g"),
        ((F.col("id") * 7919) % 999_983 + 1).alias("v"),
    )
    t0 = time.perf_counter()
    rows = benford_profile(df, ["g"], "v").collect()
    dt = time.perf_counter() - t0
    assert len(rows) == 36
    return {"case": "benford", "rows": n_rows, "sec": round(dt, 2)}


def mi_case(spark, n_rows: int) -> dict:
    """One scan through Expand (3x map-side) + one keyed shuffle
    bounded by distinct keys per set: ~linear."""
    from snowplow_s3_loader_spark.operators.profile import (
        mutual_information,
    )

    df = spark.range(n_rows).select(
        ((F.col("id") * 7919) % 50).alias("a"),
        (((F.col("id") * 7919) % 50) % 7 + (F.col("id") % 3) * 100).alias("b"),
    )
    t0 = time.perf_counter()
    [r] = mutual_information(df, "a", "b").collect()
    dt = time.perf_counter() - t0
    assert r["n"] == n_rows and r["mi_micro"] > 0
    return {"case": "mi", "rows": n_rows, "sec": round(dt, 2)}


def main() -> None:
    which = sys.argv[1] if len(sys.argv) > 1 else "all"
    spark = _spark()
    out = []
    if which == "round12":
        out.append(changepoint_case(spark, 1_000_000))
        out.append(changepoint_case(spark, 10_000_000))
        out.append(hierarchy_case(spark, 160_000))
        out.append(hierarchy_case(spark, 1_600_000))
        out.append(intervals_case(spark, 160_000))
        out.append(intervals_case(spark, 1_600_000))
        out.append(benford_case(spark, 1_000_000))
        out.append(benford_case(spark, 10_000_000))
        out.append(mi_case(spark, 1_000_000))
        out.append(mi_case(spark, 10_000_000))
    if which == "round11d":
        out.append(truncation_recall_case(spark, 100_000))
        out.append(truncation_recall_case(spark, 1_000_000))
    if which == "round11c":
        out.append(survival_case(spark, 1_000_000))
        out.append(survival_case(spark, 10_000_000))
        out.append(bursts_case(spark, 160_000))
        out.append(bursts_case(spark, 1_600_000))
    if which == "round11b":
        out.append(char_entropy_case(spark, 100_000))
        out.append(char_entropy_case(spark, 1_000_000))
        out.append(calibration_case(spark, 1_000_000))
        out.append(calibration_case(spark, 10_000_000))
        out.append(fd_case(spark, 1_000_000))
        out.append(fd_case(spark, 10_000_000))
        out.append(budget_select_case(spark, 1_000_000))
        out.append(budget_select_case(spark, 10_000_000))
    if which in ("components", "all"):
        out.append(components_case(spark, 5_000))
        out.append(components_case(spark, 50_000))
    if which == "components_100x":
        # the third decade (VERDICT r9 #6): 1x/10x/100x to pin the
        # exponent on the shuffle-heaviest dedup-clusters family
        out.append(components_case(spark, 5_000))
        out.append(components_case(spark, 50_000))
        out.append(components_case(spark, 500_000))
    if which in ("jaccard", "all"):
        out.append(jaccard_case(spark, 5_000))
        out.append(jaccard_case(spark, 50_000))
    if which == "jaccard_100x":
        out.append(jaccard_case(spark, 5_000))
        out.append(jaccard_case(spark, 50_000))
        out.append(jaccard_case(spark, 500_000))
    if which in ("recall", "all"):
        out.extend(recall_case(spark, "/root/testdata/sf0.01"))
        out.extend(recall_case(spark, "/root/testdata/sf0.1"))
    if which in ("retrieval", "all"):
        out.extend(retrieval_case(spark, 20_000))
        out.extend(retrieval_case(spark, 200_000))
    if which in ("spans", "all"):
        out.append(spans_case(spark, 20_000))
        out.append(spans_case(spark, 200_000))
    if which in ("incremental", "all"):
        out.append(incremental_cc_case(spark, 50_000))
    if which in ("streaming_neardup", "all"):
        out.extend(streaming_neardup_case(spark))
    if which in ("chunking", "all"):
        out.append(chunking_case(spark, 20_000))
        out.append(chunking_case(spark, 200_000))
    if which in ("bloom", "all"):
        out.append(bloom_case(spark, 1_000_000))
        out.append(bloom_case(spark, 10_000_000))
    if which in ("heavy", "all"):
        out.append(heavy_hitters_case(spark, 20_000))
        out.append(heavy_hitters_case(spark, 200_000))
    if which in ("zorder", "all"):
        out.append(zorder_case(spark, 1_000_000))
        out.append(zorder_case(spark, 10_000_000))
    if which in ("pagerank", "all"):
        out.append(pagerank_case(spark, 1_000_000))
        out.append(pagerank_case(spark, 10_000_000))
    if which in ("pagerank_soak", "all"):
        out.append(pagerank_soak_case(spark, 10_000_000))
    if which in ("bpe", "all"):
        out.append(bpe_case(spark, 20_000))
        out.append(bpe_case(spark, 200_000))
    if which in ("walks", "all"):
        out.append(walks_case(spark, 1_000_000))
        out.append(walks_case(spark, 10_000_000))
    if which in ("triangle_fallback", "all"):
        out.append(triangle_fallback_case(spark, 100_000))
        out.append(triangle_fallback_case(spark, 1_000_000))
    if which in ("hits", "all"):
        out.append(hits_case(spark, 1_000_000))
        out.append(hits_case(spark, 10_000_000))
    if which in ("hits_soak", "all"):
        out.append(hits_soak_case(spark, 10_000_000))
    if which in ("kcore", "all"):
        out.append(kcore_case(spark, 100_000))
        out.append(kcore_case(spark, 1_000_000))
    if which in ("interval", "all"):
        out.append(interval_case(spark, 1_000_000))
        out.append(interval_case(spark, 10_000_000))
    if which in ("triangle", "all"):
        out.append(triangle_case(spark, 100_000))
        out.append(triangle_case(spark, 1_000_000))
    if which in ("fuzzy", "all"):
        out.append(fuzzy_case(spark, 100_000))
        out.append(fuzzy_case(spark, 1_000_000))
    if which in ("bfs", "all"):
        out.append(bfs_case(spark, 1_000_000))
        out.append(bfs_case(spark, 10_000_000))
    if which in ("lpa", "all"):
        out.append(lpa_case(spark, 1_000_000))
        out.append(lpa_case(spark, 10_000_000))
    if which in ("bitmap", "all"):
        out.append(bitmap_case(spark, 1_000_000))
        out.append(bitmap_case(spark, 10_000_000))
    if which in ("skyline", "all"):
        out.append(skyline_case(spark, 1_000_000))
        out.append(skyline_case(spark, 10_000_000))
    if which in ("itemsim", "all"):
        out.append(itemsim_case(spark, 200_000))
        out.append(itemsim_case(spark, 2_000_000))
    if which in ("cusum", "all"):
        out.append(cusum_case(spark, 1_000_000))
        out.append(cusum_case(spark, 10_000_000))
    if which in ("kmeans", "all"):
        out.append(kmeans_case(spark, 500_000))
        out.append(kmeans_case(spark, 5_000_000))
    if which in ("line_dedup", "all"):
        out.append(line_dedup_case(spark, 100_000))
        out.append(line_dedup_case(spark, 1_000_000))
    if which in ("trailing", "all"):
        out.append(trailing_case(spark, 1_000_000))
        out.append(trailing_case(spark, 10_000_000))
    if which in ("linkpred", "all"):
        out.append(linkpred_case(spark, 100_000))
        out.append(linkpred_case(spark, 1_000_000))
    if which in ("ohlc", "all"):
        out.append(ohlc_case(spark, 1_000_000))
        out.append(ohlc_case(spark, 10_000_000))
    if which in ("unigram", "all"):
        out.append(unigram_case(spark, 100_000))
        out.append(unigram_case(spark, 1_000_000))
    if which in ("urldedup", "all"):
        out.append(urldedup_case(spark, 1_000_000))
        out.append(urldedup_case(spark, 10_000_000))
    if which in ("streaming_ohlc", "all"):
        out.append(streaming_ohlc_case(spark, 500_000))
        out.append(streaming_ohlc_case(spark, 5_000_000))
    if which in ("unigram_soak", "all"):
        out.append(unigram_soak_case(spark, 500_000, 2))
        out.append(unigram_soak_case(spark, 500_000, 6))
    if which in ("skewdomain", "all"):
        out.append(skewed_domain_case(spark, 1_000_000))
        out.append(skewed_domain_case(spark, 10_000_000))
    if which in ("encode_ab", "all"):
        out.append(encode_ab_case(spark, 20_000))
        out.append(encode_ab_case(spark, 200_000))
    if which in ("dsir", "all"):
        out.append(dsir_case(spark, 20_000))
        out.append(dsir_case(spark, 200_000))
    if which in ("mlewis", "all"):
        out.append(mlewis_case(spark, 20_000))
        out.append(mlewis_case(spark, 200_000))
    if which in ("novelty", "all"):
        out.append(novelty_case(spark, 20_000))
        out.append(novelty_case(spark, 200_000))
    if which in ("incdedup", "all"):
        out.append(incdedup_case(spark, 10_000))
        out.append(incdedup_case(spark, 100_000))
    if which in ("incdedup_soak", "all"):
        out.append(incdedup_soak_case(spark, 20_000, 8))
    if which in ("psi", "all"):
        out.append(psi_case(spark, 1_000_000))
        out.append(psi_case(spark, 10_000_000))
    if which in ("shards", "all"):
        out.append(shards_case(spark, 1_000_000))
        out.append(shards_case(spark, 10_000_000))
    if which == "shards_100x":
        out.append(shards_case(spark, 1_000_000))
        out.append(shards_case(spark, 10_000_000))
        out.append(shards_case(spark, 100_000_000))
    if which == "dsir_100x":
        out.append(dsir_case(spark, 20_000))
        out.append(dsir_case(spark, 200_000))
        out.append(dsir_case(spark, 2_000_000))
    if which in ("subdup", "all"):
        out.append(subdup_case(spark, 100_000))
        out.append(subdup_case(spark, 1_000_000))
    if which in ("ks", "all"):
        out.append(ks_case(spark, 1_000_000))
        out.append(ks_case(spark, 10_000_000))
    if which in ("kmv", "all"):
        out.append(kmv_case(spark, 1_000_000))
        out.append(kmv_case(spark, 10_000_000))
    if which == "dsir_1000x":
        # fourth decade (VERDICT r10 #7): the model stays 4096 buckets
        # while the corpus grows 1000x — explode-is-the-cost evidence.
        out.append(dsir_case(spark, 2_000_000))
        out.append(dsir_case(spark, 20_000_000))
    if which == "mlewis_100x":
        # third decade for moore_lewis (VERDICT r10 #7): unlike dsir
        # its count tables are VOCABULARY-sized (grow with the corpus),
        # so the claim to pin is linear-in-corpus, AQE-planned joins.
        out.append(mlewis_case(spark, 20_000))
        out.append(mlewis_case(spark, 200_000))
        out.append(mlewis_case(spark, 2_000_000))
    for line in out:
        print(json.dumps(line))
    spark.stop()


if __name__ == "__main__":
    main()
