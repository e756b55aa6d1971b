"""Round-11 operators: bucket-pruned persisted band store, literal-boundary
ranking edge cases, selection-quality differentials."""

from __future__ import annotations

import pyspark.sql.functions as F


def scan_io_metrics(df) -> dict[str, int]:
    """Executed-plan file-scan metrics for an ALREADY-EXECUTED frame
    (call an action first): sums numFiles / filesSize / numPartitions
    across every FileSourceScan in the plan. This is the measurement
    the bucket-pruning contract is stated in — probe I/O must be the
    hit buckets' bytes, not the store's."""
    out = {"numFiles": 0, "filesSize": 0, "numPartitions": 0}

    def _walk(node):
        name = node.getClass().getSimpleName()
        if "FileSourceScan" in name:
            m = node.metrics()
            for k in out:
                if m.contains(k):
                    out[k] += m.apply(k).value()
        if name == "AdaptiveSparkPlanExec":
            _walk(node.executedPlan())
        # AQE query-stage nodes are LEAVES (children() is empty) whose
        # subtree hangs off .plan — without descending, any plan with
        # an exchange reads as numFiles=0 and the pruning contract
        # silently reports "no I/O"
        if name.endswith("QueryStageExec"):
            _walk(node.plan())
        for i in range(node.children().size()):
            _walk(node.children().apply(i))

    _walk(df._jdf.queryExecution().executedPlan())
    return out


def _snapshot(spark, r, n):
    """Deterministic snapshot: fresh ids per round; 25% of round r>0's
    texts replay round r-1's fresh text keys (guaranteed store hits)."""
    fresh_key = F.col("id") + r * n
    replay_key = F.col("id") - F.col("id") % 4 + (r - 1) * n
    key = F.when((F.col("id") % 4 == 3) & (F.lit(r) > 0), replay_key).otherwise(
        fresh_key
    )
    return spark.range(n).select(
        (F.col("id") + r * n).alias("doc_id"),
        F.concat_ws(
            " ",
            *[F.concat(F.lit("w"), (key * 9 + i).cast("string")) for i in range(9)],
        ).alias("text"),
    )


class TestBandStorePruning:
    def test_pruned_probe_matches_in_memory_gate(self, spark, tmp_path):
        """The disk store + bucket pruning must produce the exact rows
        the in-memory gate produces on the same (new, history) split —
        pruning may never lose a membership hit (the bucket is a pure
        function of the band key on both sides)."""
        from snowplow_s3_loader_spark.operators.dedup import (
            incremental_minhash_filter,
            incremental_minhash_filter_store,
            minhash_bands,
            write_band_store,
        )

        hist = _snapshot(spark, 0, 120)
        new = _snapshot(spark, 1, 120)
        path = str(tmp_path / "store")
        write_band_store(
            minhash_bands(hist, "doc_id", "text"), path, n_buckets=16,
            mode="overwrite",
        )
        got = {
            (r["id"], r["n_hit_bands"], r["is_dup"])
            for r in incremental_minhash_filter_store(
                new, path, "doc_id", "text", n_buckets=16,
                fold_survivors=False,
            ).collect()
        }
        want = {
            (r["id"], r["n_hit_bands"], r["is_dup"])
            for r in incremental_minhash_filter(
                new,
                minhash_bands(hist, "doc_id", "text").select(
                    "band_id", "band_hash"
                ),
                "doc_id",
                "text",
            ).collect()
        }
        assert got == want
        assert sum(1 for _, _, d in want if d) == 120 // 4  # planted replays

    def test_probe_plan_prunes_partitions(self, spark, tmp_path):
        """The pruned read must push the bucket list as a PARTITION
        filter (directory-level pruning before any scan), and a small
        probe must list strictly fewer files than the store holds."""
        from snowplow_s3_loader_spark.operators.dedup import (
            minhash_bands,
            read_band_store_pruned,
            write_band_store,
        )

        hist = _snapshot(spark, 0, 400)
        path = str(tmp_path / "store")
        write_band_store(
            minhash_bands(hist, "doc_id", "text"), path, n_buckets=64,
            mode="overwrite",
        )
        # tiny probe: 3 docs x 4 bands -> at most 12 of 64 buckets
        probe = minhash_bands(_snapshot(spark, 1, 3), "doc_id", "text")
        pruned = read_band_store_pruned(probe, path, n_buckets=64)
        pruned.collect()
        plan = pruned._jdf.queryExecution().executedPlan().toString()
        assert "PartitionFilters" in plan, plan
        got = scan_io_metrics(pruned)
        full = spark.read.parquet(path)
        full.collect()
        ref = scan_io_metrics(full)
        assert 0 < got["numPartitions"] <= 12 < 64 == ref["numPartitions"], (
            got,
            ref,
        )
        assert 0 < got["filesSize"] < ref["filesSize"], (got, ref)

    def test_survivor_fold_roundtrip(self, spark, tmp_path):
        """fold_survivors=True must append exactly the survivors' bands:
        a third snapshot replaying a SECOND-snapshot survivor text is
        flagged, and replaying a second-snapshot DUP's text still hits
        (the dup's text was already in the store via round 1)."""
        from snowplow_s3_loader_spark.operators.dedup import (
            incremental_minhash_filter_store,
            minhash_bands,
            write_band_store,
        )

        n = 80
        path = str(tmp_path / "store")
        write_band_store(
            minhash_bands(_snapshot(spark, 0, n), "doc_id", "text"),
            path,
            n_buckets=16,
            mode="overwrite",
        )
        r1 = incremental_minhash_filter_store(
            _snapshot(spark, 1, n), path, "doc_id", "text", n_buckets=16
        )
        assert r1.agg(F.sum("is_dup")).first()[0] == n // 4
        # snapshot 2 replays 25% of snapshot 1's fresh keys — those are
        # round-1 survivors whose bands only exist via the fold
        r2 = incremental_minhash_filter_store(
            _snapshot(spark, 2, n), path, "doc_id", "text", n_buckets=16
        )
        assert r2.agg(F.sum("is_dup")).first()[0] == n // 4


class TestEpochStoreExactlyOnce:
    def test_replayed_epoch_is_idempotent(self, spark, tmp_path):
        """A retried micro-batch (same epoch) must reproduce its result
        bit-for-bit and leave the store byte-identical: the probe
        excludes its own epoch and the fold overwrites it — no
        double-append, no self-collision (a naive append would flag the
        whole replay as dups against its own first fold)."""
        import os

        from snowplow_s3_loader_spark.operators.dedup import (
            incremental_minhash_filter_store,
            minhash_bands,
            write_band_store,
        )

        n = 80
        path = str(tmp_path / "store")
        write_band_store(
            minhash_bands(_snapshot(spark, 0, n), "doc_id", "text"),
            path,
            n_buckets=16,
            epoch=0,
        )
        snap = _snapshot(spark, 1, n)

        def run():
            return {
                (r["id"], r["n_hit_bands"], r["is_dup"])
                for r in incremental_minhash_filter_store(
                    snap, path, "doc_id", "text", n_buckets=16, epoch=1
                ).collect()
            }

        def store_rows():
            return spark.read.parquet(path).count()

        first = run()
        rows_after_first = store_rows()
        replay = run()  # the retry
        assert replay == first
        assert store_rows() == rows_after_first  # overwrite, not append
        assert sum(1 for _, _, d in first if d) == n // 4

    def test_mixed_layout_rejected(self, spark, tmp_path):
        """exclude_epoch against a flat (non-epoch'd) store raises
        loudly instead of silently probing the whole store."""
        import pytest

        from snowplow_s3_loader_spark.operators.dedup import (
            minhash_bands,
            read_band_store_pruned,
            write_band_store,
        )

        path = str(tmp_path / "flat")
        bands = minhash_bands(_snapshot(spark, 0, 20), "doc_id", "text")
        write_band_store(bands, path, n_buckets=8, mode="overwrite")
        with pytest.raises(ValueError, match="epoch"):
            read_band_store_pruned(
                bands, path, n_buckets=8, exclude_epoch=1
            ).count()


def _selection_pool(spark):
    """Deterministic planted-recovery corpus (VERDICT r10 #5): 40
    explicit target docs define the target distribution (vocabulary
    t0..t49), 60 PLANTED pool docs draw ~80% of their words from that
    same target vocabulary (the rest from the n0..n699 noise space),
    and 400 noise docs draw only noise words. A selector that ranks
    by target-likeness must surface the planted docs from the pool."""
    n_target, n_planted, n_noise = 40, 60, 400
    base = spark.range(n_target + n_planted + n_noise).select(
        F.col("id").alias("doc_id")
    )
    is_target = F.col("doc_id") < n_target
    is_planted = (F.col("doc_id") >= n_target) & (
        F.col("doc_id") < n_target + n_planted
    )

    def word(i):
        h = F.col("doc_id") * 37 + i * 11
        target_w = F.concat(F.lit("t"), (h % 50).cast("string"))
        noise_w = F.concat(F.lit("n"), (h % 700).cast("string"))
        return (
            F.when(is_target, target_w)
            .when(is_planted, F.when(h % 5 < 4, target_w).otherwise(noise_w))
            .otherwise(noise_w)
        )

    docs = base.select(
        "doc_id",
        F.concat_ws(" ", *[word(i) for i in range(12)]).alias("text"),
        is_target.cast("int").alias("t"),
    )
    return docs, n_target, n_planted


class TestSelectionRecovery:
    """Measured selection QUALITY for the two selectors (the recall
    discipline the ANN family already carries): both are oracle-exact
    on the math, but these pin that the math actually RANKS a known
    target-like subset above noise."""

    def test_dsir_recovers_planted_docs(self, spark):
        from snowplow_s3_loader_spark.operators.dsir import (
            dsir_select,
            dsir_weights,
        )

        docs, n_target, n_planted = _selection_pool(spark)
        w = dsir_weights(
            docs, "doc_id", "text", F.col("t") == 1, n_buckets=2048
        )
        pool = w.join(
            docs.where(F.col("t") == 0).select("doc_id"), "doc_id"
        )
        got = {
            r.doc_id
            for r in dsir_select(pool, n_planted).select("doc_id").collect()
        }
        planted = set(range(n_target, n_target + n_planted))
        recall = len(got & planted) / n_planted
        assert recall >= 0.95, f"dsir planted recall {recall}"

    def test_dsir_targets_score_in_band(self, spark):
        """Sanity band from the docstring: the target docs themselves
        must score above the noise median (they ARE the target)."""
        from snowplow_s3_loader_spark.operators.dsir import dsir_weights

        docs, n_target, _ = _selection_pool(spark)
        w = dsir_weights(
            docs, "doc_id", "text", F.col("t") == 1, n_buckets=2048
        ).join(docs.select("doc_id", "t"), "doc_id")
        min_target = (
            w.where(F.col("t") == 1).agg(F.min("weight_micro")).first()[0]
        )
        med_noise = (
            w.where(F.col("doc_id") >= 100)
            .agg(F.expr("percentile_approx(weight_micro, 0.5)"))
            .first()[0]
        )
        assert min_target > med_noise

    def test_moore_lewis_recovers_planted_docs(self, spark):
        from snowplow_s3_loader_spark.operators.lm import moore_lewis_scores

        docs, n_target, n_planted = _selection_pool(spark)
        s = moore_lewis_scores(docs, "doc_id", "text", F.col("t") == 1)
        pool = s.join(
            docs.where(F.col("t") == 0).select(F.col("doc_id").alias("id")),
            "id",
        )
        got = {
            r.id
            for r in pool.orderBy(F.desc("ml_micronats"), "id")
            .limit(n_planted)
            .select("id")
            .collect()
        }
        planted = set(range(n_target, n_target + n_planted))
        recall = len(got & planted) / n_planted
        assert recall >= 0.95, f"moore-lewis planted recall {recall}"


class TestSubstringDuplication:
    """Content-defined-anchor exact-substring scoring (q152)."""

    def _df(self, spark, rows):
        return spark.createDataFrame(rows, "doc_id long, text string")

    def test_misaligned_copy_detected(self, spark):
        """A verbatim span embedded at DIFFERENT offsets in two docs
        must flag both (the aligned-grid design this replaced would
        miss it); a doc of unique filler stays clean."""
        from snowplow_s3_loader_spark.operators.text import (
            substring_duplication,
        )

        span = " ".join(f"shared{i}token" for i in range(40))  # ~520 chars
        filler_a = " ".join(f"fa{i}word" for i in range(30))
        filler_b = " ".join(f"fbx{i}item" for i in range(23))  # misaligns
        clean = " ".join(f"unique{i}only" for i in range(80))
        out = {
            r.id: r
            for r in substring_duplication(
                self._df(
                    spark,
                    [
                        (1, filler_a + " " + span),
                        (2, filler_b + " " + span + " " + filler_a),
                        (3, clean),
                    ],
                ),
                "doc_id",
                "text",
            ).collect()
        }
        assert out[1].n_dup_windows > 0
        assert out[2].n_dup_windows > 0
        assert out[3].n_dup_windows == 0
        assert out[3].n_windows > 0  # clean doc still anchors windows

    def test_identical_docs_fully_duplicated(self, spark):
        from snowplow_s3_loader_spark.operators.text import (
            substring_duplication,
        )

        text = " ".join(f"tw{i}body" for i in range(60))
        out = {
            r.id: r
            for r in substring_duplication(
                self._df(spark, [(1, text), (2, text)]), "doc_id", "text"
            ).collect()
        }
        assert out[1].n_windows > 0
        assert out[1].dup_micro == 1_000_000
        assert out[2].dup_micro == 1_000_000

    def test_short_doc_has_no_windows(self, spark):
        from snowplow_s3_loader_spark.operators.text import (
            substring_duplication,
        )

        out = substring_duplication(
            self._df(spark, [(1, "tiny")]), "doc_id", "text", window=40
        ).collect()[0]
        assert out.n_windows == 0 and out.dup_micro is None

    def test_window_bound_enforced(self, spark):
        import pytest

        from snowplow_s3_loader_spark.operators.text import (
            substring_duplication,
        )

        with pytest.raises(ValueError, match="window"):
            substring_duplication(
                self._df(spark, [(1, "x")]), "doc_id", "text", window=8
            )


class TestKsStatistic:
    def _vals(self, spark, vals):
        return spark.createDataFrame([(v,) for v in vals], "v long")

    def test_identical_snapshots_zero(self, spark):
        from snowplow_s3_loader_spark.operators.profile import ks_statistic

        a = self._vals(spark, [1, 2, 2, 5, 9])
        out = ks_statistic(a, a, "v").collect()[0]
        assert out.d_num == 0 and out.ks_micro == 0

    def test_disjoint_supports_is_one(self, spark):
        from snowplow_s3_loader_spark.operators.profile import ks_statistic

        out = ks_statistic(
            self._vals(spark, [1, 2, 3]),
            self._vals(spark, [10, 11, 12, 13]),
            "v",
        ).collect()[0]
        assert out.d_num == out.n_ref * out.n_cur
        assert out.ks_micro == 1_000_000

    def test_hand_case(self, spark):
        """ref=[1,2,3], cur=[2,3,4]: cumulative (c_r, c_c) at v=1..4 is
        (1,0)(2,1)(3,2)(3,3); |c_r*3 - c_c*3| = 3,3,3,0 -> d=3,
        ks = 3/9 -> 333333 truncating."""
        from snowplow_s3_loader_spark.operators.profile import ks_statistic

        out = ks_statistic(
            self._vals(spark, [1, 2, 3]), self._vals(spark, [2, 3, 4]), "v"
        ).collect()[0]
        assert (out.n_ref, out.n_cur, out.d_num, out.ks_micro) == (
            3,
            3,
            3,
            333333,
        )

    def test_null_raises(self, spark):
        import pytest

        from snowplow_s3_loader_spark.operators.profile import ks_statistic

        bad = spark.createDataFrame([(1,), (None,)], "v long")
        with pytest.raises(Exception, match="NULL"):
            ks_statistic(bad, self._vals(spark, [1]), "v").collect()

    def test_empty_raises(self, spark):
        import pytest

        from snowplow_s3_loader_spark.operators.profile import ks_statistic

        with pytest.raises(ValueError, match="non-empty"):
            ks_statistic(
                self._vals(spark, []), self._vals(spark, [1]), "v"
            )


class TestZipfFit:
    def test_hand_case(self, spark):
        """'a'x4 'b'x2 'c'x1 -> ranks 1,2,3; milli-nat moments checked
        against python math, slope via the same closed form."""
        import math

        from snowplow_s3_loader_spark.operators.text import zipf_fit

        docs = spark.createDataFrame(
            [("a a a a b b c",)], "text string"
        )
        out = zipf_fit(docs, "text", top_k=10).collect()[0]
        xs = [round(math.log(r) * 1000) for r in (1, 2, 3)]
        ys = [round(math.log(f) * 1000) for f in (4, 2, 1)]
        n = 3
        sx, sy = sum(xs), sum(ys)
        sxx = sum(x * x for x in xs)
        sxy = sum(x * y for x, y in zip(xs, ys))
        want = round((n * sxy - sx * sy) / (n * sxx - sx * sx) * 1_000_000)
        assert (out.n_terms, out.sx, out.sy, out.sxx, out.sxy) == (
            n,
            sx,
            sy,
            sxx,
            sxy,
        )
        assert out.slope_micro == want

    def test_single_token_corpus_null_slope(self, spark):
        from snowplow_s3_loader_spark.operators.text import zipf_fit

        docs = spark.createDataFrame([("a a a",)], "text string")
        out = zipf_fit(docs, "text").collect()[0]
        assert out.n_terms == 1 and out.slope_micro is None

    def test_top_k_bound(self, spark):
        import pytest

        from snowplow_s3_loader_spark.operators.text import zipf_fit

        with pytest.raises(ValueError, match="top_k"):
            zipf_fit(spark.range(1).selectExpr("'x' as text"), "text", 1)


class TestRandomizedReferenceBatteries:
    """Third-implementation checks: seeded random inputs scored by a
    pure-Python reference (hashlib md5 / integer CDF math) — independent
    of BOTH Spark and DuckDB, so a shared-assumption bug in the oracle
    pair cannot hide."""

    def test_ks_matches_python_reference(self, spark):
        import random

        from snowplow_s3_loader_spark.operators.profile import ks_statistic

        rng = random.Random(1107)
        for _ in range(8):
            n1, n2 = rng.randint(1, 40), rng.randint(1, 40)
            ref = [rng.randint(0, 15) for _ in range(n1)]
            cur = [rng.randint(0, 15) for _ in range(n2)]
            vals = sorted(set(ref) | set(cur))
            d = max(
                abs(
                    sum(1 for x in ref if x <= v) * n2
                    - sum(1 for x in cur if x <= v) * n1
                )
                for v in vals
            )
            out = ks_statistic(
                spark.createDataFrame([(v,) for v in ref], "v long"),
                spark.createDataFrame([(v,) for v in cur], "v long"),
                "v",
            ).collect()[0]
            assert (out.n_ref, out.n_cur, out.d_num) == (n1, n2, d)
            assert out.ks_micro == d * 1_000_000 // (n1 * n2)

    def test_substring_matches_python_reference(self, spark):
        import hashlib
        import random
        from collections import Counter

        from snowplow_s3_loader_spark.operators.text import (
            substring_duplication,
        )

        W, S = 40, 20

        def anchor_hashes(text):
            if len(text) < W:
                return []
            out = []
            for p in range(len(text) - W + 1):  # 0-based == SQL p-1
                head = text[p : p + 8]
                h = int(hashlib.md5(head.encode()).hexdigest()[:15], 16)
                if h % S == 0:
                    out.append(
                        hashlib.md5(text[p : p + W].encode()).hexdigest()
                    )
            return out

        rng = random.Random(42)
        texts = [
            " ".join(
                f"w{rng.randint(0, 300)}x{i}"
                for i in range(rng.randint(2, 30))
            )
            for _ in range(30)
        ]
        texts[5] = texts[3]  # exact copy
        texts[9] = "prefix junk " + texts[3]  # misaligned copy
        per_doc = [anchor_hashes(t) for t in texts]
        occ = Counter(h for a in per_doc for h in a)
        out = {
            r.id: (r.n_windows, r.n_dup_windows)
            for r in substring_duplication(
                spark.createDataFrame(
                    list(enumerate(texts)), "doc_id long, text string"
                ),
                "doc_id",
                "text",
                window=W,
                stride=S,
            ).collect()
        }
        for i, a in enumerate(per_doc):
            want = (len(a), sum(1 for h in a if occ[h] >= 2))
            assert out[i] == want, (i, out[i], want)


class TestPsiReferenceEdgeCases:
    def test_tiny_reference_yields_no_null_edges(self, spark):
        """A reference with fewer rows than k leaves trailing bins with
        NULL upper_edge; psi_reference must NOT propagate those into
        the edge list (a None literal would NULL-poison psi_bin_expr
        and silently drop every streamed row)."""
        from snowplow_s3_loader_spark.operators.profile import (
            psi_assemble,
            psi_bin_expr,
            psi_reference,
        )

        ref = spark.createDataFrame(
            [(10, 1), (20, 2), (30, 3), (40, 4), (50, 5)], "v long, id long"
        )
        edges, ref_counts = psi_reference(ref, "v", k=10, tie_cols=["id"])
        assert None not in edges and len(ref_counts) == 10
        # every reference value bins to a NON-NULL bin under the edges
        etype = ref.schema["v"].dataType
        binned = ref.select(
            psi_bin_expr(F.col("v"), edges, etype).alias("bin")
        )
        assert binned.where(F.col("bin").isNull()).count() == 0
        out = psi_assemble(
            spark, edges, ref_counts, {1: 3, 2: 2}, "bigint"
        ).collect()
        assert len(out) == 10


class TestKmvOverlap:
    def test_identical_groups_full_overlap(self, spark):
        """Two groups with identical item sets must estimate Jaccard =
        1.0 exactly (every union-bottom-k hash is in both)."""
        from snowplow_s3_loader_spark.operators.similarity import (
            kmv_overlap_matrix,
            kmv_signatures,
        )

        items = spark.range(200).selectExpr(
            "CASE WHEN id < 100 THEN 'a' ELSE 'b' END AS g",
            "concat('item', id % 100) AS it",
        )
        sigs = kmv_signatures(items, "g", "it", k=32)
        out = kmv_overlap_matrix(sigs, "g", k=32).collect()
        assert len(out) == 1
        r = out[0]
        assert (r.ga, r.gb) == ("a", "b")
        assert r.k_used == 32 and r.n_both == 32
        assert r.jaccard_micro == 1_000_000

    def test_disjoint_groups_zero_overlap(self, spark):
        from snowplow_s3_loader_spark.operators.similarity import (
            kmv_overlap_matrix,
            kmv_signatures,
        )

        items = spark.range(200).selectExpr(
            "CASE WHEN id < 100 THEN 'a' ELSE 'b' END AS g",
            "concat('item', id) AS it",  # ids never collide across groups
        )
        sigs = kmv_signatures(items, "g", "it", k=32)
        r = kmv_overlap_matrix(sigs, "g", k=32).collect()[0]
        assert r.n_both == 0 and r.jaccard_micro == 0

    def test_estimate_tracks_true_jaccard(self, spark):
        """Planted 50% overlap (A = 0..149, B = 75..224 -> J = 1/3):
        the KMV estimate at k=64 must land within ~3 s.e. of truth."""
        from snowplow_s3_loader_spark.operators.similarity import (
            kmv_overlap_matrix,
            kmv_signatures,
        )

        rows = [("a", f"x{i}") for i in range(150)] + [
            ("b", f"x{i}") for i in range(75, 225)
        ]
        items = spark.createDataFrame(rows, "g string, it string")
        sigs = kmv_signatures(items, "g", "it", k=64)
        r = kmv_overlap_matrix(sigs, "g", k=64).collect()[0]
        est = r.jaccard_micro / 1e6
        assert abs(est - 1 / 3) < 0.18, est  # 3 s.e. ~ 3/sqrt(64)

    def test_small_group_k_used_shrinks(self, spark):
        from snowplow_s3_loader_spark.operators.similarity import (
            kmv_overlap_matrix,
            kmv_signatures,
        )

        rows = [("a", "only1"), ("a", "only2"), ("b", "only1")]
        items = spark.createDataFrame(rows, "g string, it string")
        sigs = kmv_signatures(items, "g", "it", k=64)
        r = kmv_overlap_matrix(sigs, "g", k=64).collect()[0]
        assert r.k_used == 2 and r.n_both == 1
        assert r.jaccard_micro == 500_000
