"""Round-6 scale toolkit: blocked-bloom prefiltered semi join, Misra-Gries
heavy hitters, z-order layout, hashed-linear classifier scoring."""

from __future__ import annotations

import hashlib

import pandas as pd
import pytest
from pyspark.sql import functions as F

from snowplow_s3_loader_spark.operators import bloom, layout, sketches, text
from snowplow_s3_loader_spark.tables import load_table

# ---------------------------------------------------------------------------
# bloom
# ---------------------------------------------------------------------------


def _exact_semi(big, keys, big_col, key_col):
    return big.join(keys, big[big_col] == keys[key_col], "left_semi")


def test_bloom_semi_join_matches_exact(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    keys = orders.filter(F.col("o_orderpriority") == "1-URGENT").select("o_orderkey")
    got = bloom.bloom_prefilter_semi_join(li, keys, ("l_orderkey", "o_orderkey"))
    want = _exact_semi(li, keys, "l_orderkey", "o_orderkey")
    assert got.count() == want.count()
    assert (
        got.select(F.sum("l_orderkey")).collect()[0][0]
        == want.select(F.sum("l_orderkey")).collect()[0][0]
    )


def test_bloom_same_column_name_and_seeds(spark):
    big = spark.range(0, 5000).select(F.col("id").alias("k"))
    keys = spark.range(0, 5000, 7).select(F.col("id").alias("k"))
    for seed in (41, 1234):
        got = bloom.bloom_prefilter_semi_join(big, keys, "k", seed=seed)
        assert got.count() == keys.count()  # every key present exactly once


def test_bloom_empty_and_null_keys(spark):
    big = spark.createDataFrame(
        [(1,), (2,), (None,)], "k bigint"
    )
    empty = spark.createDataFrame([], "k bigint")
    assert bloom.bloom_prefilter_semi_join(big, empty, "k").count() == 0
    withnull = spark.createDataFrame([(2,), (None,)], "k bigint")
    got = bloom.bloom_prefilter_semi_join(big, withnull, "k").collect()
    # null never matches a semi join on either path
    assert [r["k"] for r in got] == [2]


def test_bloom_prefilter_reduces_probe_side(spark):
    """The bloom pass itself (before the exact join) must pass true
    matches and reject the vast majority of non-matches."""
    big = spark.range(0, 20000).select(F.col("id").alias("k"))
    keys = spark.range(0, 20000, 100).select(F.col("id").alias("k"))  # 200 keys
    n_keys = keys.count()
    n_blocks = max(64, -(-n_keys * 16 // 64))
    filt = bloom.bloom_build(keys, "k", n_blocks)
    pre = bloom.bloom_might_contain(big, "k", filt, n_blocks)
    n_pre = pre.count()
    assert n_pre >= n_keys  # no false negatives
    fpr = (n_pre - n_keys) / (20000 - n_keys)
    assert fpr < 0.05, fpr  # blocked bloom at 16 bits/key: a few percent


def test_bloom_filter_sits_below_exact_join_shuffle(spark, sf_dir):
    """With broadcast disabled for the exact join, the plan must be: a
    BroadcastHashJoin (the bloom probe — its build side is hint-forced)
    + bitwise filter BELOW the SortMergeJoin LeftSemi's exchange, so the
    shuffle only moves bloom survivors."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    keys = orders.filter(F.col("o_orderpriority") == "1-URGENT").select("o_orderkey")
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    prev_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    # AQE prints finished stages out of tree order; the static plan is the
    # single parents-before-children tree the positional assert needs
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        got = bloom.bloom_prefilter_semi_join(li, keys, ("l_orderkey", "o_orderkey"))
        got.collect()
        plan = got._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan and "LeftSemi" in plan, plan
        assert "BroadcastHashJoin" in plan, plan
        assert "__bloom_mask" in plan, plan
        # tree prints parents first: the probe-side Exchange feeds the semi
        # join, and the bloom BHJ (+ bitwise filter) sits BELOW it
        i_smj = plan.index("SortMergeJoin")
        i_exch = plan.index("Exchange hashpartitioning(l_orderkey")
        i_bhj = plan.index("BroadcastHashJoin")
        assert i_smj < i_exch < i_bhj, plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.conf.set("spark.sql.adaptive.enabled", prev_aqe)


def test_bloom_oversize_raises(spark):
    big = spark.range(10).select(F.col("id").alias("k"))
    keys = spark.range(10).select(F.col("id").alias("k"))
    with pytest.raises(ValueError, match="max_broadcast_blocks"):
        bloom.bloom_prefilter_semi_join(
            big, keys, "k", n_keys=10**12, max_broadcast_blocks=1000
        )


def test_decontamination_bloom_path_matches_broadcast(spark, sf_dir):
    """ngram_contamination's big-benchmark path (bloom-prefiltered exact
    semi join) must produce row-identical results to the broadcast
    path."""
    from snowplow_s3_loader_spark.operators import hygiene

    docs = load_table(spark, sf_dir, "documents")
    benchmark = docs.filter(F.col("doc_id") % 13 == 0)
    a = hygiene.ngram_contamination(docs, benchmark, "doc_id", "text", n=5)
    b = hygiene.ngram_contamination(
        docs, benchmark, "doc_id", "text", n=5, benchmark_broadcast=False
    )
    rows_a = {(r["id"], r["n_shared_ngrams"], r["contaminated"]) for r in a.collect()}
    rows_b = {(r["id"], r["n_shared_ngrams"], r["contaminated"]) for r in b.collect()}
    assert rows_a == rows_b
    assert any(r[2] for r in rows_a)  # the planted overlap is detected


# ---------------------------------------------------------------------------
# Misra-Gries
# ---------------------------------------------------------------------------


def _mg_reference_guarantees(df, text_col, capacity):
    """est <= exact everywhere; every token heavier than n/(cap+1) found."""
    from snowplow_s3_loader_spark.operators.text import tokens

    summary = {
        r["token"]: r["est_count"]
        for r in sketches.mg_token_summary(df, text_col, capacity).collect()
    }
    tok_df = df.select(F.explode(tokens(F.col(text_col))).alias("tok"))
    exact = {r["tok"]: r["c"] for r in tok_df.groupBy("tok").agg(F.count("*").alias("c")).collect()}
    n = sum(exact.values())
    err = n // (capacity + 1)
    for t, est in summary.items():
        assert est <= exact[t], (t, est, exact[t])
        assert est >= exact[t] - err, (t, est, exact[t], err)
    for t, c in exact.items():
        if c > err:
            assert t in summary, (t, c, err)


def test_mg_guarantees_uniform(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    _mg_reference_guarantees(docs, "text", capacity=64)


def test_mg_guarantees_skewed(spark):
    # zipf-ish synthetic corpus: token i appears ~N/i times, tiny capacity
    rows = [(i, " ".join(f"t{j}" for j in range(1, 40) for _ in range(40 // j)))
            for i in range(50)]
    df = spark.createDataFrame(rows, "id long, text string").repartition(7)
    _mg_reference_guarantees(df, "text", capacity=8)


def test_mg_partition_compaction_bounded():
    """_mg_partition never yields more than capacity counters and its
    counts never exceed the true stream counts."""
    batches = [pd.DataFrame({"tok": ["a"] * 50 + ["b"] * 30 + [f"x{i}" for i in range(40)]}),
               pd.DataFrame({"tok": ["a"] * 20 + [f"y{i}" for i in range(40)]})]
    out = list(sketches._mg_partition(iter(batches), capacity=10))
    assert len(out) == 1
    got = dict(zip(out[0]["token"], out[0]["partial"]))
    assert len(got) <= 10
    assert got.get("a", 0) <= 70 and got.get("b", 0) <= 30
    assert got.get("a", 0) >= 70 - (180 // 11) * 3  # loose lower sanity bound


def test_heavy_hitter_audit_all_green(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    rows = sketches.heavy_hitter_audit(docs, "text", capacity=256, k=10).collect()
    assert rows, "audit should cover the top tokens"
    assert all(r["found"] == 1 and r["bound_ok"] == 1 for r in rows)


def test_heavy_hitter_audit_excludes_unguaranteed(spark):
    """Tokens at/below n/(capacity+1) are outside the MG guarantee and
    must not be audited (their absence from the sketch is legal)."""
    rows_in = [(i, "common " * 30 + f"rare{i}") for i in range(20)]
    df = spark.createDataFrame(rows_in, "id long, text string")
    audited = sketches.heavy_hitter_audit(df, "text", capacity=4, k=10).collect()
    # n_total = 20*31 = 620, err = 124: only 'common' (600) qualifies
    assert [r["token"] for r in audited] == ["common"]
    assert audited[0]["found"] == 1 and audited[0]["bound_ok"] == 1


# ---------------------------------------------------------------------------
# z-order layout
# ---------------------------------------------------------------------------


def _py_interleave(vals, bits):
    z = 0
    for i in range(bits):
        for j, v in enumerate(vals):
            z |= ((v >> i) & 1) << (i * len(vals) + j)
    return z


def test_interleave_bits_matches_reference(spark):
    df = spark.createDataFrame(
        [(x, y) for x in range(8) for y in range(8)], "x long, y long"
    )
    got = df.select(
        "x", "y", layout.interleave_bits([F.col("x"), F.col("y")], 3).alias("z")
    ).collect()
    for r in got:
        assert r["z"] == _py_interleave([r["x"], r["y"]], 3), r
    # the known textbook case: x=0b11, y=0b01 -> z=0b0111
    assert _py_interleave([3, 1], 2) == 7


def test_interleave_bits_overflow_guard():
    with pytest.raises(ValueError, match="62"):
        layout.interleave_bits([F.lit(1), F.lit(2), F.lit(3)], 21)


def test_zorder_improves_worst_column_skipping(spark, sf_dir):
    """The point of the layout: the worst per-column mean min/max range
    under z-order must beat linear layout's worst column (which is ~1:
    no skipping on the non-leading column)."""
    ev = load_table(spark, sf_dir, "events")
    # moduli matched to the columns' occupied bit-width (user_id is a
    # small domain) — the documented bucketization rule: sparse high bits
    # would hand every leading split to the other column
    r = layout.skipping_effectiveness(
        ev, [(F.col("user_id"), 32), (F.col("event_id"), 32)], 8, bits=5
    )
    assert max(r["zorder"]) < 0.8 * max(r["linear"]), r


def test_partition_minmax_stats_shape(spark):
    df = spark.range(0, 100).select(
        F.col("id").alias("a"), (F.col("id") * 2).alias("b")
    ).repartition(4)
    stats = layout.partition_minmax_stats(df, ["a", "b"])
    rows = stats.collect()
    assert {c for c in stats.columns} == {
        "partition_id", "n_rows", "a_min", "a_max", "b_min", "b_max"
    }
    assert sum(r["n_rows"] for r in rows) == 100


# ---------------------------------------------------------------------------
# hashed linear classifier
# ---------------------------------------------------------------------------


def _py_score(s: str, dim=4096, seed=0) -> int:
    total = 0
    for t in s.strip().split():
        b = int(hashlib.md5(t.encode()).hexdigest()[:8], 16) % dim
        total += (b * 2654435761 + seed * 1000003) % 2000001 - 1000000
    return total


def test_hashed_linear_score_matches_python_reference(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").limit(25)
    score, label = text.hashed_linear_score(F.col("text"), dim=4096, seed=0)
    rows = docs.select("doc_id", "text", score, label).collect()
    assert rows
    for r in rows:
        want = _py_score(r["text"])
        assert r["score_micro"] == want, (r["doc_id"], r["score_micro"], want)
        assert r["label"] == (want > 0)


def test_scale_operators_run_on_tables(spark, sf_dir):
    """The round-6 scale operators run end to end on the synthetic tables."""
    docs = load_table(spark, sf_dir, "documents")
    li, orders = load_table(spark, sf_dir, "lineitem"), load_table(spark, sf_dir, "orders")
    keys = orders.filter(F.col("o_orderpriority") == "1-URGENT").select("o_orderkey")
    assert (
        bloom.bloom_prefilter_semi_join(li, keys, ("l_orderkey", "o_orderkey")).count()
        == li.join(keys, li.l_orderkey == keys.o_orderkey, "left_semi").count()
    )
    hh = sketches.heavy_hitters(docs, "text", capacity=64, k=3).collect()
    assert len(hh) == 3 and all(r["est_count"] > 0 for r in hh)
    z = layout.zorder_repartition(docs.select("doc_id", "n_chars"),
                                  [(F.col("doc_id"), 64), (F.col("n_chars"), 64)], 4, bits=6)
    assert z.count() == docs.count()
    score, label = text.hashed_linear_score(F.col("text"))
    qs = docs.select(F.col("doc_id").alias("id"), score, label).collect()
    assert all((r["score_micro"] > 0) == r["label"] for r in qs)


def test_hashed_linear_score_seed_changes_model(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").limit(50)
    s0, _ = text.hashed_linear_score(F.col("text"), seed=0)
    s1, _ = text.hashed_linear_score(F.col("text"), seed=9)
    diff = docs.select((s0 != s1).cast("int").alias("d")).agg(F.sum("d")).collect()[0][0]
    assert diff > 0


def test_bloom_self_lineage_join(spark):
    """keys derived from the SAME source frame as the probe (the
    dedup-against-own-subset shape) must resolve without ambiguity and
    match the plain semi join."""
    df = spark.range(2000).select((F.col("id") % 97).alias("k"), F.col("id").alias("v"))
    keys = df.filter(F.col("k") < 20).select("k")
    got = bloom.bloom_prefilter_semi_join(df, keys, "k")
    want = df.join(keys, "k", "left_semi")
    assert got.count() == want.count() > 0
    assert got.count() < df.count()


# ---------------------------------------------------------------------------
# PCA / whitening
# ---------------------------------------------------------------------------


def test_pca_matches_numpy_subspace(spark, sf_dir):
    """Distributed one-pass moments must reproduce numpy's PCA: same
    eigenvalues, same subspace (signs/rotations within degenerate
    eigenvalues are not identifiable, so compare projection operators
    C^T C, not raw components)."""
    import numpy as np

    from snowplow_s3_loader_spark.operators.similarity import pca_fit

    emb = load_table(spark, sf_dir, "embeddings")
    k = 8
    mean, comps, evals = pca_fit(emb, "embedding", k)
    x = np.stack([np.array(r["embedding"]) for r in emb.collect()]).astype(np.float64)
    ref_mean = x.mean(0)
    cov = np.cov(x, rowvar=False)
    ref_evals, ref_evecs = np.linalg.eigh(cov)
    ref_evals = ref_evals[::-1][:k]
    ref_comps = ref_evecs[:, ::-1][:, :k].T
    assert np.allclose(mean, ref_mean, atol=1e-9)
    assert np.allclose(evals, ref_evals, rtol=1e-8)
    assert np.allclose(comps.T @ comps, ref_comps.T @ ref_comps, atol=1e-6)


def test_pca_project_and_whiten(spark, sf_dir):
    """Projected data has per-component variance equal to the
    eigenvalues (descending); whitened data has ~identity covariance."""
    import numpy as np

    from snowplow_s3_loader_spark.operators.similarity import pca_fit, pca_project

    emb = load_table(spark, sf_dir, "embeddings")
    k = 6
    mean, comps, evals = pca_fit(emb, "embedding", k)
    proj = pca_project(emb, "embedding", mean, comps)
    y = np.stack([np.array(r["pca"]) for r in proj.select("pca").collect()])
    var = y.var(0, ddof=1)
    assert np.allclose(var, evals, rtol=1e-6)
    assert all(var[i] >= var[i + 1] - 1e-9 for i in range(k - 1))
    white = pca_project(emb, "embedding", mean, comps, eigenvalues=evals)
    w = np.stack([np.array(r["pca"]) for r in white.select("pca").collect()])
    assert np.allclose(np.cov(w, rowvar=False), np.eye(k), atol=1e-6)
    # original columns survive the projection
    assert set(proj.columns) == set(emb.columns) | {"pca"}


# ---------------------------------------------------------------------------
# index / model persistence
# ---------------------------------------------------------------------------


def test_bloom_filter_persists_as_parquet(spark, tmp_path):
    """The bloom filter is a plain (block, bits) DataFrame: write it once,
    reload it in another job, and membership is identical — build-once,
    probe-many across pipeline runs."""
    keys = spark.range(0, 3000, 7).select(F.col("id").alias("k"))
    n_blocks = max(64, -(-keys.count() * 16 // 64))
    filt = bloom.bloom_build(keys, "k", n_blocks)
    p = str(tmp_path / "bloom.parquet")
    filt.write.parquet(p)
    reloaded = spark.read.parquet(p)
    big = spark.range(0, 6000).select(F.col("id").alias("k"))
    a = sorted(r["k"] for r in bloom.bloom_might_contain(big, "k", filt, n_blocks).collect())
    b = sorted(r["k"] for r in bloom.bloom_might_contain(big, "k", reloaded, n_blocks).collect())
    assert a == b and len(a) >= keys.count()


def test_ivf_centroids_persist_as_parquet(spark, sf_dir, tmp_path):
    """Trained IVF centroids round-trip through parquet with identical
    ANN results — train once, serve many."""
    from snowplow_s3_loader_spark.operators.similarity import (
        ann_topk_ivf,
        train_ivf_centroids_sampled,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    cents = train_ivf_centroids_sampled(emb, n_centroids=4, seed=7)
    p = str(tmp_path / "ivf.parquet")
    cents.write.parquet(p)
    reloaded = spark.read.parquet(p)

    def run(c):
        out = ann_topk_ivf(
            emb, F.col("vec_id") % 100 == 0, k=3, n_probe=2, centroids=c
        )
        return sorted(tuple(r) for r in out.collect())

    assert run(cents) == run(reloaded) != []


def test_bloom_reserved_columns_and_param_guards(spark):
    df = spark.range(5).select(F.col("id").alias("k"), F.lit(1).alias("__bloom_bits"))
    keys = spark.range(5).select(F.col("id").alias("k"))
    with pytest.raises(ValueError, match="reserved"):
        bloom.bloom_prefilter_semi_join(df, keys, "k")
    with pytest.raises(ValueError, match="must be >= 1"):
        bloom.bloom_prefilter_semi_join(df.drop("__bloom_bits"), keys, "k", bits_per_key=0)
    with pytest.raises(ValueError, match="must be >= 1"):
        sketches.mg_token_summary(
            spark.createDataFrame([("a b",)], "text string"), "text", capacity=0
        )


# ---------------------------------------------------------------------------
# FFD sequence packing
# ---------------------------------------------------------------------------


def _ffd_reference(lengths, budget):
    """pure-python FFD over (len desc, idx asc)."""
    order = sorted(range(len(lengths)), key=lambda i: (-lengths[i], i))
    fills, assign = [], {}
    for i in order:
        n = lengths[i]
        if n > budget:
            fills.append(n); assign[i] = len(fills) - 1; continue
        for b, f in enumerate(fills):
            if f + n <= budget:
                fills[b] = f + n; assign[i] = b; break
        else:
            fills.append(n); assign[i] = len(fills) - 1
    return assign, fills


def test_ffd_packing_matches_reference_and_invariants(spark, sf_dir):
    from snowplow_s3_loader_spark.operators.text import pack_sequences_ffd, token_count

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", token_count(F.col("text")).alias("n_tokens")
    )
    budget = 256
    packed = pack_sequences_ffd(docs, "doc_id", "n_tokens", budget, ["lang"]).collect()
    by_lang: dict = {}
    for r in packed:
        by_lang.setdefault(r["lang"], []).append(r)
    src = {(r["lang"], r["doc_id"]): r["n_tokens"] for r in docs.collect()}
    assert len(packed) == len(src)  # every doc packed exactly once
    for lang, rows in by_lang.items():
        rows_sorted = sorted(rows, key=lambda r: r["doc_id"])
        lengths = [r["n_tokens"] for r in sorted(rows, key=lambda r: r["doc_id"])]
        ids = [r["doc_id"] for r in rows_sorted]
        ref_assign, ref_fills = _ffd_reference(lengths, budget)
        got_assign = {r["doc_id"]: r["pack_id"] for r in rows_sorted}
        assert got_assign == {ids[i]: b for i, b in ref_assign.items()}
        # invariants: packs fit (unless oversize), lower bound holds
        pack_sums: dict = {}
        for r in rows:
            pack_sums[r["pack_id"]] = pack_sums.get(r["pack_id"], 0) + r["n_tokens"]
        for r in rows:
            if not r["oversize"]:
                assert pack_sums[r["pack_id"]] <= budget or any(
                    x["oversize"] and x["pack_id"] == r["pack_id"] for x in rows
                )
        total = sum(r["n_tokens"] for r in rows)
        assert len(pack_sums) >= -(-total // budget) - sum(
            1 for r in rows if r["oversize"]
        )


def test_ffd_packing_deterministic_across_partitionings(spark, sf_dir):
    from snowplow_s3_loader_spark.operators.text import pack_sequences_ffd, token_count

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", token_count(F.col("text")).alias("n_tokens")
    )
    a = pack_sequences_ffd(docs, "doc_id", "n_tokens", 200, ["lang"])
    b = pack_sequences_ffd(docs.repartition(13), "doc_id", "n_tokens", 200, ["lang"])
    ka = sorted((r["lang"], r["doc_id"], r["pack_id"]) for r in a.collect())
    kb = sorted((r["lang"], r["doc_id"], r["pack_id"]) for r in b.collect())
    assert ka == kb


def test_ffd_global_group(spark):
    from snowplow_s3_loader_spark.operators.text import pack_sequences_ffd

    df = spark.createDataFrame(
        [(i, n) for i, n in enumerate([90, 80, 50, 40, 30, 10])], "id long, n long"
    )
    rows = pack_sequences_ffd(df, "id", "n", 100).collect()
    sums: dict = {}
    for r in rows:
        sums[r["pack_id"]] = sums.get(r["pack_id"], 0) + r["n"]
    assert all(v <= 100 for v in sums.values())
    # FFD trace: [90+10], [80], [50+40], [30]
    assert len(sums) == 4
    assert sorted(sums.values(), reverse=True) == [100, 90, 80, 30]


# ---------------------------------------------------------------------------
# audit falsifiability (the q71 discipline: wrong inputs must flip flags)
# ---------------------------------------------------------------------------


def test_heavy_hitter_audit_flags_are_falsifiable(spark):
    topk = spark.createDataFrame(
        [("a", 100), ("b", 80)], "tok string, exact_count long"
    )
    err = 10
    good = spark.createDataFrame(
        [("a", 95), ("b", 75)], "token string, est_count long"
    )
    rows = {r["token"]: r for r in sketches.audit_flags(topk, good, err).collect()}
    assert all(r["found"] == 1 and r["bound_ok"] == 1 for r in rows.values())
    # dropped heavy token -> found flips
    lossy = spark.createDataFrame([("a", 95)], "token string, est_count long")
    rows = {r["token"]: r for r in sketches.audit_flags(topk, lossy, err).collect()}
    assert rows["b"]["found"] == 0 and rows["b"]["bound_ok"] == 0
    # over-count -> bound_ok flips (est > exact is impossible for MG)
    high = spark.createDataFrame(
        [("a", 101), ("b", 75)], "token string, est_count long"
    )
    rows = {r["token"]: r for r in sketches.audit_flags(topk, high, err).collect()}
    assert rows["a"]["bound_ok"] == 0 and rows["a"]["found"] == 1
    # under-count past the guarantee -> bound_ok flips
    low = spark.createDataFrame(
        [("a", 89), ("b", 75)], "token string, est_count long"
    )
    rows = {r["token"]: r for r in sketches.audit_flags(topk, low, err).collect()}
    assert rows["a"]["bound_ok"] == 0


def test_ffd_audit_flags_are_falsifiable(spark):
    from snowplow_s3_loader_spark.operators.text import ffd_audit, pack_sequences_ffd

    docs = spark.createDataFrame(
        [(i, "en", n) for i, n in enumerate([90, 80, 50, 40, 30, 10])],
        "doc_id long, lang string, n_tokens long",
    )
    budget = 100
    packed = pack_sequences_ffd(docs, "doc_id", "n_tokens", budget, ["lang"])
    good = ffd_audit(packed, docs, budget, "lang").collect()[0]
    assert good["all_fit"] == 1 and good["lb_ok"] == 1
    # overfill: force every doc into pack 0 -> fill 300 > budget
    broken = packed.withColumn("pack_id", F.lit(0))
    bad = ffd_audit(broken, docs, budget, "lang").collect()[0]
    assert bad["all_fit"] == 0
    # lost assignments: packer dropped docs -> capacity no longer covers
    # the SOURCE totals... the oracle's n_docs/total come from docs, so
    # losing rows flips the exact columns instead: emulate by inflating
    # the doc side (what a lost-row hash mismatch looks like), and by
    # shrinking non-oversize capacity below its mass
    squeezed = packed.withColumn("pack_id", F.lit(0)).limit(6)
    bad2 = ffd_audit(squeezed, docs, 10, "lang").collect()[0]
    assert bad2["lb_ok"] == 0


# ---------------------------------------------------------------------------
# data-quality constraint suite (round 7)
# ---------------------------------------------------------------------------


def test_check_suite_literal_metrics(spark):
    from snowplow_s3_loader_spark.operators import checks as C

    df = spark.createDataFrame(
        [
            (1, "a", 5.0, "view"),
            (2, "b", -1.0, "view"),     # range violation (low)
            (2, "c", 200.0, "Error"),   # dup id; range high; bad set; bad regex
            (None, None, 50.0, "view"), # null id, null name
        ],
        "id long, name string, value double, typ string",
    )
    out = {
        r["check_name"]: (r["metric"], r["passed"])
        for r in C.check_suite(
            df,
            [
                C.not_null("id"),
                C.not_null("name"),
                C.unique("id"),
                C.in_set("typ", ("view", "click")),
                C.in_range("value", 0.0, 100.0),
                C.matches("typ", "^[a-z]+$"),
            ],
        ).collect()
    }
    assert out["not_null(id)"] == (1, 0)
    assert out["not_null(name)"] == (1, 0)
    # SQL uniqueness ignores NULL keys: 3 non-null-keyed rows over
    # distinct ids {1, 2} -> exactly 1 duplicate (the repeated id 2);
    # the NULL row is neither a duplicate nor a distinct value
    assert out["unique(id)"] == (1, 0)
    assert out["in_set(typ)"] == (1, 0)
    assert out["in_range(value)"] == (2, 0)
    assert out["matches(typ)"] == (1, 0)


def test_check_suite_referential_and_tolerance(spark):
    from snowplow_s3_loader_spark.operators import checks as C

    fact = spark.createDataFrame(
        [(1,), (2,), (9,), (None,)], "fk long"
    )
    dim = spark.createDataFrame([(1,), (2,), (3,)], "pk long")
    out = {
        r["check_name"]: (r["metric"], r["passed"])
        for r in C.check_suite(
            fact,
            [
                C.ref("fk", dim, "pk"),                      # 9 is an orphan
                C.ref("fk", dim, "pk", name="tolerant", tolerance=1),
                C.not_null("fk", tolerance=1),               # 1 null allowed
            ],
        ).collect()
    }
    assert out["ref(fk)"] == (1, 0)       # nulls don't count as orphans
    assert out["tolerant"] == (1, 1)      # within tolerance
    assert out["not_null(fk)"] == (1, 1)


def test_check_suite_all_green_and_validation(spark):
    from snowplow_s3_loader_spark.operators import checks as C

    df = spark.createDataFrame([(1, "x"), (2, "y")], "id long, s string")
    out = C.check_suite(df, [C.not_null("id"), C.unique("id", "s")]).collect()
    assert all(r["passed"] == 1 and r["metric"] == 0 for r in out)
    with pytest.raises(ValueError, match="non-empty"):
        C.check_suite(df, [])
    with pytest.raises(ValueError, match="duplicate"):
        C.check_suite(df, [C.not_null("id"), C.not_null("id")])
    with pytest.raises(ValueError, match="quotes"):
        C.check_suite(df, [C.not_null("id", name="bad'name")])


def test_check_suite_single_scan_plan(spark):
    """All non-referential checks must compile into ONE aggregation over
    one scan of the frame — the check list growing must not multiply
    scans (the 100 TB property)."""
    import contextlib
    import io

    from snowplow_s3_loader_spark.operators import checks as C

    df = spark.range(100).select(
        F.col("id"), (F.col("id") % 7).alias("v"), F.lit("t").alias("s")
    )
    suite = C.check_suite(
        df,
        [
            C.not_null("id"),
            C.not_null("v"),
            C.unique("id"),
            C.in_range("v", 0, 6),
            C.matches("s", "^t$"),
        ],
    )
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        suite.explain()
    plan = buf.getvalue()
    assert plan.count("Range (0, 100") == 1, plan


# ---------------------------------------------------------------------------
# distributed BPE tokenizer training (round 7)
# ---------------------------------------------------------------------------


def _bpe_py(words: dict, n_merges: int):
    """Independent pure-python BPE reference: classic overlapping pair
    counting, (count desc, pair asc) selection, left-to-right greedy
    non-overlapping merge application."""
    SEP = "\x1f"
    vocab = {w: list(w) for w in words}
    merges = []
    for _ in range(n_merges):
        counts: dict = {}
        for w, freq in words.items():
            syms = vocab[w]
            for i in range(len(syms) - 1):
                p = syms[i] + SEP + syms[i + 1]
                counts[p] = counts.get(p, 0) + freq
        if not counts:
            break
        best = min(counts, key=lambda p: (-counts[p], p))
        a, b = best.split(SEP, 1)
        merges.append((a, b))
        for w in vocab:
            syms, out = vocab[w], []
            for x in syms:
                if out and out[-1] == a and x == b:
                    out[-1] = a + b
                else:
                    out.append(x)
            vocab[w] = out
    return merges, vocab


def test_bpe_train_matches_python_reference(spark):
    from snowplow_s3_loader_spark.operators import bpe
    from snowplow_s3_loader_spark.materialize import release_materialized

    texts = [
        "low low low lower lowest",
        "new newer newest low",
        "widest wide wider new new",
        "aaaa aaa banana bandana",
    ]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "id long, text string")
    words: dict = {}
    for t in texts:
        for w in t.split():
            words[w] = words.get(w, 0) + 1
    want_merges, want_vocab = _bpe_py(words, 9)
    merges, vocab = bpe.bpe_train(df, "text", 9)
    got_vocab = {r["word"]: list(r["syms"]) for r in vocab.collect()}
    release_materialized(vocab)
    assert merges == want_merges
    assert got_vocab == want_vocab


def test_bpe_merge_fold_is_left_to_right_nonoverlapping(spark):
    from pyspark.sql import functions as SF

    from snowplow_s3_loader_spark.operators.bpe import _merge_fold

    df = spark.createDataFrame([(["a", "a", "a", "a"],), (["a", "a", "a"],)], "syms array<string>")
    got = [r["m"] for r in df.select(_merge_fold(SF.col("syms"), "a", "a").alias("m")).collect()]
    assert got == [["aa", "aa"], ["aa", "a"]]


def test_bpe_encode_joins_trained_segmentation(spark):
    from snowplow_s3_loader_spark.operators import bpe
    from snowplow_s3_loader_spark.materialize import release_materialized

    train = spark.createDataFrame([(1, "ab ab ab cd")], "id long, text string")
    merges, vocab = bpe.bpe_train(train, "text", 1)
    assert merges == [("a", "b")]
    test_df = spark.createDataFrame([(7, "ab cd zz")], "id long, text string")
    rows = bpe.bpe_encode(test_df, "id", "text", vocab).orderBy("pos").collect()
    release_materialized(vocab)
    # 'ab' -> trained single symbol; 'cd' -> trained chars; 'zz' -> OOV chars
    assert [r["sym"] for r in rows] == ["ab", "c", "d", "z", "z"]
    assert all(r["id"] == 7 for r in rows)


def test_bpe_train_validates_and_handles_exhaustion(spark):
    import pytest as _pytest

    from snowplow_s3_loader_spark.operators import bpe
    from snowplow_s3_loader_spark.materialize import release_materialized

    df = spark.createDataFrame([(1, "x y")], "id long, text string")
    with _pytest.raises(ValueError):
        bpe.bpe_train(df, "text", 0)
    # single-char words only: no adjacent pairs -> merges exhaust at 0
    merges, vocab = bpe.bpe_train(df, "text", 3)
    assert merges == []
    assert {r["word"]: list(r["syms"]) for r in vocab.collect()} == {"x": ["x"], "y": ["y"]}
    release_materialized(vocab)


def test_check_suite_unique_ignores_null_keys_entirely(spark):
    from snowplow_s3_loader_spark.operators import checks as C

    df = spark.createDataFrame(
        [(1,), (2,), (3,), (None,), (None,)], "id long"
    )
    [r] = C.check_suite(df, [C.unique("id")]).collect()
    assert (r["metric"], r["passed"]) == (0, 1)  # NULLs are not duplicates
