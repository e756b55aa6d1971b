"""Round-8 widening: BFS distances, snapshot diff, Markov transitions,
rolling integer anomaly flags."""

from __future__ import annotations

from collections import deque

import pytest
from pyspark.sql import functions as F

from snowplow_s3_loader_spark.materialize import release_materialized
from snowplow_s3_loader_spark.operators.behavior import transition_matrix
from snowplow_s3_loader_spark.operators.cdc import snapshot_diff
from snowplow_s3_loader_spark.operators.graph import bfs_distances
from snowplow_s3_loader_spark.operators.timeseries import rolling_anomalies


def _bfs_ref(edges, sources, max_depth):
    adj = {}
    for s, d in edges:
        adj.setdefault(s, []).append(d)
    dist = {s: 0 for s in sources}
    q = deque(sources)
    while q:
        v = q.popleft()
        if dist[v] >= max_depth:
            continue
        for nb in adj.get(v, []):
            if nb not in dist:
                dist[nb] = dist[v] + 1
                q.append(nb)
    return dist


class TestBfsDistances:
    def test_matches_reference_on_directed_graph(self, spark):
        # two chains, a diamond, a cycle, an unreachable island
        edges = [
            (0, 1), (1, 2), (2, 3), (3, 4), (4, 5),
            (0, 10), (10, 3),           # shortcut: 3 is at dist 2, not 3
            (5, 0),                      # cycle back
            (20, 21), (21, 22),          # island (unreachable from 0)
        ]
        e = spark.createDataFrame(edges, "src long, dst long")
        src = spark.createDataFrame([(0,)], "node long")
        got = bfs_distances(e, src, max_depth=8)
        rows = {r["node"]: r["dist"] for r in got.collect()}
        release_materialized(got)
        assert rows == _bfs_ref(edges, [0], 8)

    def test_multi_source_takes_min_distance(self, spark):
        edges = [(0, 1), (1, 2), (2, 3), (9, 3), (9, 8)]
        e = spark.createDataFrame(edges, "src long, dst long")
        src = spark.createDataFrame([(0,), (9,)], "node long")
        got = bfs_distances(e, src, max_depth=8)
        rows = {r["node"]: r["dist"] for r in got.collect()}
        release_materialized(got)
        assert rows == _bfs_ref(edges, [0, 9], 8)
        assert rows[3] == 1  # via 9, not dist 3 via 0

    def test_max_depth_caps_expansion(self, spark):
        edges = [(i, i + 1) for i in range(10)]
        e = spark.createDataFrame(edges, "src long, dst long")
        src = spark.createDataFrame([(0,)], "node long")
        got = bfs_distances(e, src, max_depth=3)
        rows = {r["node"]: r["dist"] for r in got.collect()}
        release_materialized(got)
        assert rows == {0: 0, 1: 1, 2: 2, 3: 3}

    def test_releases_every_block_it_creates(self, spark):
        # compare persisted RDD ID SETS, not sizes: the async
        # ContextCleaner may unpersist an unrelated earlier test's
        # bounded checkpoint between the two reads, and a size equality
        # then flakes while the property under test (no NEW block
        # survives the release) still holds
        def ids():
            lst = spark.sparkContext._jsc.sc().getPersistentRDDs().toList()
            return {lst.apply(i)._1() for i in range(lst.size())}

        before = ids()
        e = spark.createDataFrame([(0, 1), (1, 2)], "src long, dst long")
        src = spark.createDataFrame([(0,)], "node long")
        got = bfs_distances(e, src, max_depth=4)
        got.collect()
        release_materialized(got)
        assert ids() <= before


class TestSnapshotDiff:
    def _frames(self, spark):
        old = spark.createDataFrame(
            [(1, "a", 10.0), (2, "b", 20.0), (3, "c", None), (4, "d", 40.0)],
            "k long, name string, v double",
        )
        new = spark.createDataFrame(
            [(1, "a", 10.0), (2, "B", 20.0), (3, "c", 30.0), (5, "e", 50.0)],
            "k long, name string, v double",
        )
        return old, new

    def test_classifies_all_change_types(self, spark):
        old, new = self._frames(spark)
        got = {(r.k, r.change_type) for r in snapshot_diff(old, new, ["k"]).collect()}
        assert got == {
            (2, "changed"),   # name differs
            (3, "changed"),   # NULL -> value IS a change
            (4, "removed"),
            (5, "added"),
        }

    def test_include_unchanged(self, spark):
        old, new = self._frames(spark)
        got = {
            (r.k, r.change_type)
            for r in snapshot_diff(old, new, ["k"], include_unchanged=True).collect()
        }
        assert (1, "unchanged") in got and len(got) == 5

    def test_schema_mismatch_raises(self, spark):
        old, new = self._frames(spark)
        with pytest.raises(ValueError, match="columns"):
            snapshot_diff(old, new.withColumnRenamed("v", "w"), ["k"])


class TestTransitionMatrix:
    def test_counts_and_micro_probs(self, spark):
        ev = spark.createDataFrame(
            [
                # user 1: a -> b -> a -> c ; user 2: a -> b
                (1, 1, "a"), (1, 2, "b"), (1, 3, "a"), (1, 4, "c"),
                (2, 1, "a"), (2, 2, "b"),
            ],
            "u long, t long, typ string",
        )
        got = {
            (r.from_type, r.to_type): (r.n, r.prob_micro)
            for r in transition_matrix(ev, "u", "t", "typ").collect()
        }
        # from a: b x2, c x1 -> 666666 / 333333 micro (truncating div)
        assert got == {
            ("a", "b"): (2, 666666),
            ("a", "c"): (1, 333333),
            ("b", "a"): (1, 1000000),
        }

    def test_tie_cols_make_order_total(self, spark):
        ev = spark.createDataFrame(
            [(1, 5, 1, "x"), (1, 5, 2, "y"), (1, 5, 3, "z")],
            "u long, t long, eid long, typ string",
        )
        got = {
            (r.from_type, r.to_type)
            for r in transition_matrix(ev, "u", "t", "typ", tie_cols=("eid",)).collect()
        }
        assert got == {("x", "y"), ("y", "z")}


class TestRollingAnomalies:
    def test_flags_exact_integer_spike(self, spark):
        rows = [("g", i, 100) for i in range(10)] + [("g", 10, 100_000)]
        df = spark.createDataFrame(rows, "grp string, seq long, cents long")
        got = rolling_anomalies(df, "grp", ["seq"], "cents", window=20, min_n=8)
        flags = {r.seq: r.is_anomaly for r in got.collect()}
        assert flags[10] is True
        assert not any(flags[i] for i in range(10))

    def test_min_n_suppresses_early_rows(self, spark):
        rows = [("g", i, v) for i, v in enumerate([100, 100, 100, 99999])]
        df = spark.createDataFrame(rows, "grp string, seq long, cents long")
        got = rolling_anomalies(df, "grp", ["seq"], "cents", window=20, min_n=4)
        assert not any(r.is_anomaly for r in got.collect())

    def test_matches_float_reference(self, spark):
        import random

        rng = random.Random(7)
        vals = [rng.randint(90, 110) for _ in range(60)]
        vals[30] = 5000
        vals[45] = -4000
        rows = [("g", i, v) for i, v in enumerate(vals)]
        df = spark.createDataFrame(rows, "grp string, seq long, cents long")
        got = {
            r.seq: r.is_anomaly
            for r in rolling_anomalies(
                df, "grp", ["seq"], "cents", window=20, min_n=8, threshold=3
            ).collect()
        }
        for i in range(60):
            lo, hi = max(0, i - 20), i
            hist = vals[lo:hi]
            n = len(hist)
            want = False
            if n >= 8:
                mean = sum(hist) / n
                var = sum((x - mean) ** 2 for x in hist) / n
                want = (vals[i] - mean) ** 2 > 9 * var
            assert got[i] == want, f"row {i}"


class TestCountMinSketch:
    def _toks(self, spark, words):
        return spark.createDataFrame([(w,) for w in words], "tok string")

    def test_never_underestimates_and_bound_holds(self, spark):
        import random

        rng = random.Random(3)
        words = [f"w{rng.randint(0, 200):03d}" for _ in range(5000)]
        from collections import Counter

        true = Counter(words)
        from snowplow_s3_loader_spark.operators.sketches import cms_build, cms_query

        toks = self._toks(spark, words)
        sk = cms_build(toks, "tok", width=1024, depth=4)
        est = {
            r.token: r.est_n
            for r in cms_query(
                sk, self._toks(spark, list(true)), "tok", 1024, 4
            ).collect()
        }
        import math

        slack = math.e / 1024 * len(words)  # eps * N
        for w, n in true.items():
            assert est[w] >= n, w
            assert est[w] <= n + max(8 * slack, 8), (w, est[w], n)

    def test_merge_equals_full_build(self, spark):
        from snowplow_s3_loader_spark.operators.sketches import cms_build, cms_merge

        words = [f"tok{i % 37}" for i in range(400)]
        full = cms_build(self._toks(spark, words), "tok", width=256, depth=3)
        a = cms_build(self._toks(spark, words[:150]), "tok", width=256, depth=3)
        b = cms_build(self._toks(spark, words[150:]), "tok", width=256, depth=3)
        merged = cms_merge(a, b)
        as_set = lambda df: {(r.row, r.cell, r.n) for r in df.collect()}
        assert as_set(merged) == as_set(full)

    def test_weighted_build_equals_stream_build(self, spark):
        from collections import Counter

        from snowplow_s3_loader_spark.operators.sketches import (
            cms_build,
            cms_build_weighted,
        )

        words = [f"tok{i % 37}" for i in range(400)] + ["tok5"] * 60
        stream = cms_build(self._toks(spark, words), "tok", width=256, depth=3)
        counts = spark.createDataFrame(
            list(Counter(words).items()), "tok string, n long"
        )
        weighted = cms_build_weighted(counts, "tok", "n", width=256, depth=3)
        as_set = lambda df: {(r.row, r.cell, r.n) for r in df.collect()}
        assert as_set(weighted) == as_set(stream)

    def test_absent_token_estimates_only_collision_mass(self, spark):
        from snowplow_s3_loader_spark.operators.sketches import cms_build, cms_query

        sk = cms_build(self._toks(spark, ["a"] * 100), "tok", width=1024, depth=4)
        est = {
            r.token: r.est_n
            for r in cms_query(
                sk, self._toks(spark, ["zzz-never-seen"]), "tok", 1024, 4
            ).collect()
        }
        # one distinct corpus token: either a cell collision (est=100) or 0;
        # with 4 independent rows a full collision is ~(1/1024)^4
        assert est["zzz-never-seen"] == 0


class TestStripMarkup:
    @pytest.mark.parametrize(
        "raw,want",
        [
            ("<p>hello <b>world</b></p>", "hello world"),
            ("a&amp;b &lt;tag&gt; &quot;q&quot; &#39;s&#39; x&nbsp;y", 'a&b <tag> "q" \'s\' x y'),
            ("no markup here", "no markup here"),
            ("<br/><br/>", ""),
            ("a  <span class='x'>b</span>  c", "a b c"),
            ("un<closed", "un<closed"),  # an unterminated tag is not a tag
        ],
    )
    def test_examples(self, spark, raw, want):
        from snowplow_s3_loader_spark.operators.text import strip_markup

        df = spark.createDataFrame([(raw,)], "t string")
        assert df.select(strip_markup(F.col("t")).alias("c")).first()["c"] == want


def _lpa_ref(pairs, iterations):
    adj = {}
    for a, b in pairs:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    lbl = {v: v for v in adj}
    for _ in range(iterations):
        new = {}
        for v, nbrs in adj.items():
            counts = {}
            for u in nbrs:
                counts[lbl[u]] = counts.get(lbl[u], 0) + 1
            new[v] = min(counts, key=lambda c: (-counts[c], c))
        lbl = new
    return lbl


class TestLabelPropagation:
    def test_matches_reference_on_two_communities(self, spark):
        from snowplow_s3_loader_spark.materialize import release_materialized
        from snowplow_s3_loader_spark.operators.graph import label_propagation

        # two dense cliques joined by one bridge edge
        clique = lambda base: [
            (base + i, base + j) for i in range(5) for j in range(i + 1, 5)
        ]
        pairs = clique(0) + clique(100) + [(4, 100)]
        df = spark.createDataFrame(pairs, "id_a long, id_b long")
        for iters in (1, 2, 3):
            # both execution paths (driver hybrid and distributed loop)
            for thresh in (100_000, 0):
                res = label_propagation(df, iterations=iters, driver_threshold=thresh)
                got = {r["node"]: r["label"] for r in res.collect()}
                release_materialized(res)
                assert got == _lpa_ref(pairs, iters), (iters, thresh)

    def test_deterministic_tie_break_and_dirty_input(self, spark):
        from snowplow_s3_loader_spark.materialize import release_materialized
        from snowplow_s3_loader_spark.operators.graph import label_propagation

        # a 4-cycle: every node has two neighbors with distinct labels ->
        # every adoption is a pure tie-break; plus dup/reversed/null rows
        pairs = [(0, 1), (1, 2), (2, 3), (3, 0), (1, 0), (0, 1), (None, 5)]
        df = spark.createDataFrame(pairs, "id_a long, id_b long")
        clean = [(a, b) for a, b in pairs if a is not None and b is not None]
        for thresh in (100_000, 0):
            res = label_propagation(df, iterations=2, driver_threshold=thresh)
            got = {r["node"]: r["label"] for r in res.collect()}
            release_materialized(res)
            assert got == _lpa_ref(clean, 2), thresh

    def test_releases_blocks(self, spark):
        from snowplow_s3_loader_spark.materialize import release_materialized
        from snowplow_s3_loader_spark.operators.graph import label_propagation

        sc = spark.sparkContext
        before = sc._jsc.sc().getPersistentRDDs().size()
        df = spark.createDataFrame([(0, 1), (1, 2)], "id_a long, id_b long")
        res = label_propagation(df, iterations=2)
        res.collect()
        release_materialized(res)
        assert sc._jsc.sc().getPersistentRDDs().size() == before


class TestBitmapDistinct:
    def _events(self, spark):
        rows = [
            # (etype, uid) with dups, overlap across types, a null,
            # and negative ids (the (>>6, &63) bijection must hold)
            ("a", 1), ("a", 1), ("a", 2), ("a", 64), ("a", 65), ("a", -1),
            ("b", 2), ("b", 64), ("b", 200), ("b", -1), ("b", -129),
            ("c", 999), ("c", None),
        ]
        return spark.createDataFrame(rows, "etype string, uid long"), rows

    def test_cardinality_matches_count_distinct(self, spark):
        from snowplow_s3_loader_spark.operators import bitmap

        df, rows = self._events(spark)
        bm = bitmap.bitmap_agg(df, ["etype"], "uid")
        got = {
            r["etype"]: r["n_distinct"]
            for r in bitmap.bitmap_cardinality(bm, ["etype"]).collect()
        }
        want = {}
        for t, u in rows:
            if u is not None:
                want.setdefault(t, set()).add(u)
        assert got == {t: len(s) for t, s in want.items()}

    def test_merge_of_overlapping_shards_equals_full(self, spark):
        from snowplow_s3_loader_spark.operators import bitmap

        df, _ = self._events(spark)
        full = bitmap.bitmap_agg(df, ["etype"], "uid")
        # overlapping shards: every row goes to shard 0, half also to 1
        s0 = bitmap.bitmap_agg(df, ["etype"], "uid")
        s1 = bitmap.bitmap_agg(df.where(F.col("uid") % 2 == 0), ["etype"], "uid")
        merged = bitmap.bitmap_merge(s0, s1, ["etype"])
        a = {(r["etype"], r["word"]): r["bits"] for r in full.collect()}
        b = {(r["etype"], r["word"]): r["bits"] for r in merged.collect()}
        assert a == b

    def test_pairwise_intersections(self, spark):
        from snowplow_s3_loader_spark.operators import bitmap

        df, rows = self._events(spark)
        bm = bitmap.bitmap_agg(df, ["etype"], "uid")
        got = {
            (r["group_a"], r["group_b"]): r["n_common"]
            for r in bitmap.bitmap_pairwise_intersections(bm, "etype").collect()
        }
        sets = {}
        for t, u in rows:
            if u is not None:
                sets.setdefault(t, set()).add(u)
        want = {}
        for a in sets:
            for b in sets:
                if a < b and sets[a] & sets[b]:
                    want[(a, b)] = len(sets[a] & sets[b])
        # the bitmap path may emit 0-count rows for pairs sharing a
        # word but no bit; everything non-zero must match exactly
        assert {k: v for k, v in got.items() if v} == want


def _skyline_ref(pts, maximize):
    sx = -1 if maximize[0] else 1
    sy = -1 if maximize[1] else 1
    norm = {(sx * x, sy * y) for x, y in pts}
    out = set()
    for p in norm:
        dominated = any(
            q != p and q[0] <= p[0] and q[1] <= p[1] for q in norm
        )
        if not dominated:
            out.add((sx * p[0], sy * p[1]))
    return out


class TestParetoFrontier:
    def test_matches_bruteforce_on_random_sets(self, spark):
        import random

        from snowplow_s3_loader_spark.operators.frontier import pareto_frontier_2d

        rnd = random.Random(42)
        for trial, maximize in enumerate(
            [(False, False), (True, False), (False, True), (True, True)]
        ):
            pts = [
                (rnd.randint(-50, 50), rnd.randint(-50, 50))
                for _ in range(200)
            ]
            pts += pts[:10]  # exact duplicates must not dominate each other
            df = spark.createDataFrame(pts, "x long, y long")
            got = {
                (r["x"], r["y"])
                for r in pareto_frontier_2d(
                    df, "x", "y", maximize=maximize, n_buckets=7
                ).collect()
            }
            assert got == _skyline_ref(pts, maximize), (trial, maximize)

    def test_ties_on_x_keep_only_best_y(self, spark):
        from snowplow_s3_loader_spark.operators.frontier import pareto_frontier_2d

        pts = [(1, 5), (1, 3), (2, 3), (2, 2), (3, 2)]
        df = spark.createDataFrame(pts, "x long, y long")
        got = {
            (r["x"], r["y"])
            for r in pareto_frontier_2d(df, "x", "y").collect()
        }
        assert got == _skyline_ref(pts, (False, False)) == {(1, 3), (2, 2)}

    def test_nulls_dropped_and_empty_input(self, spark):
        from snowplow_s3_loader_spark.operators.frontier import pareto_frontier_2d

        df = spark.createDataFrame(
            [(None, 1), (2, None), (3, 3)], "x long, y long"
        )
        got = {(r["x"], r["y"]) for r in pareto_frontier_2d(df, "x", "y").collect()}
        assert got == {(3, 3)}
        empty = df.where(F.lit(False))
        assert pareto_frontier_2d(empty, "x", "y").collect() == []
        assert pareto_frontier_2d(empty, "x", "y").columns == ["x", "y"]

    def test_single_bucket_degenerate_range(self, spark):
        from snowplow_s3_loader_spark.operators.frontier import pareto_frontier_2d

        # all x identical -> one bucket, pure y-min
        df = spark.createDataFrame([(5, 9), (5, 2), (5, 7)], "x long, y long")
        got = [(r["x"], r["y"]) for r in pareto_frontier_2d(df, "x", "y").collect()]
        assert got == [(5, 2)]


def _cusum_ref(xs, target, slack, threshold):
    """Textbook recursive two-sided CUSUM."""
    s_hi = s_lo = 0
    out = []
    for x in xs:
        s_hi = max(0, s_hi + (x - target - slack))
        s_lo = max(0, s_lo + (target - slack - x))
        out.append((s_hi, s_lo, s_hi > threshold or s_lo > threshold))
    return out


class TestCusum:
    def test_closed_form_equals_recursive_reference(self, spark):
        import random

        from snowplow_s3_loader_spark.operators.timeseries import cusum_alarms

        rnd = random.Random(7)
        # a drifting series: baseline 100, upward shift, then downward
        xs = (
            [rnd.randint(80, 120) for _ in range(30)]
            + [rnd.randint(130, 170) for _ in range(20)]
            + [rnd.randint(30, 70) for _ in range(20)]
        )
        rows = [("s", i, x) for i, x in enumerate(xs)]
        df = spark.createDataFrame(rows, "k string, i long, x long")
        got = (
            cusum_alarms(df, "k", ["i"], "x", target=100, slack=10, threshold=150)
            .orderBy("i")
            .select("s_hi", "s_lo", "alarm")
            .collect()
        )
        want = _cusum_ref(xs, 100, 10, 150)
        assert [(r["s_hi"], r["s_lo"], r["alarm"]) for r in got] == want
        assert any(r["alarm"] for r in got)  # the shift must actually fire

    def test_series_are_independent(self, spark):
        from snowplow_s3_loader_spark.operators.timeseries import cusum_alarms

        rows = [("a", 0, 1000), ("b", 0, 0), ("b", 1, 0)]
        df = spark.createDataFrame(rows, "k string, i long, x long")
        got = {
            (r["k"], r["i"]): r["s_hi"]
            for r in cusum_alarms(
                df, "k", ["i"], "x", target=0, slack=0, threshold=10
            ).collect()
        }
        assert got == {("a", 0): 1000, ("b", 0): 0, ("b", 1): 0}


class TestGroupTrend:
    def test_matches_float_ols_reference(self, spark):
        import random

        from snowplow_s3_loader_spark.operators.profile import group_trend

        rnd = random.Random(3)
        rows = []
        truth = {}
        for g, (slope, icept) in enumerate([(250, 1000), (-120, 9000), (0, 42)]):
            xs = [rnd.randint(0, 400) for _ in range(50)]
            pts = [(x, icept + slope * x + rnd.randint(-500, 500)) for x in xs]
            rows += [(g, x, y) for x, y in pts]
            n = len(pts)
            sx = sum(x for x, _ in pts); sy = sum(y for _, y in pts)
            sxy = sum(x * y for x, y in pts); sxx = sum(x * x for x, _ in pts)
            truth[g] = (n * sxy - sx * sy, n * sxx - sx * sx)
        df = spark.createDataFrame(rows, "g long, x long, y long")
        got = {r["g"]: r for r in group_trend(df, ["g"], "x", "y").collect()}
        for g, (num, den) in truth.items():
            r = got[g]
            assert (r["slope_num"], r["slope_den"]) == (num, den)
            sign = -1 if num < 0 else 1
            assert r["slope_scaled"] == sign * (abs(num) * 1000 // den)
            # the scaled slope approximates the float OLS slope
            assert abs(r["slope_scaled"] / 1000 - num / den) < 1e-3

    def test_constant_x_yields_null_slope(self, spark):
        from snowplow_s3_loader_spark.operators.profile import group_trend

        df = spark.createDataFrame([(1, 5, 10), (1, 5, 20)], "g long, x long, y long")
        r = group_trend(df, ["g"], "x", "y").collect()[0]
        assert r["slope_den"] == 0 and r["slope_scaled"] is None

    def test_overflow_guard_raises(self, spark):
        from snowplow_s3_loader_spark.operators.profile import group_trend

        # num = m^2 ~ 2.25e16 fits int64, but num * 1000 would not:
        # the explicit guard must fire (not a silent wrap / raw overflow)
        m = 150_000_000
        df = spark.createDataFrame(
            [(1, 0, 0), (1, m, m)], "g long, x long, y long"
        )
        with pytest.raises(Exception, match="group_trend"):
            group_trend(df, ["g"], "x", "y", scale=1000).collect()


class TestItemSimilarity:
    def test_matches_python_reference(self, spark):
        from collections import defaultdict

        from snowplow_s3_loader_spark.operators.behavior import item_similarity_topk

        baskets = {
            1: ["a", "b", "c"],
            2: ["a", "b"],
            3: ["a", "b", "d"],
            4: ["c", "d"],
            5: ["a", "c", "c"],  # dup inside a basket must not inflate
            6: ["b", "d"],
            7: ["e"],            # below min_support, pruned
        }
        rows = [(b, i) for b, items in baskets.items() for i in items]
        df = spark.createDataFrame(rows, "b long, i string")
        got = [
            (r["item"], r["neighbor"], r["support"], r["sim2_micro"], r["rank"])
            for r in item_similarity_topk(df, "b", "i", min_support=2, k=2)
            .orderBy("item", "rank")
            .collect()
        ]
        # python reference
        cnt = defaultdict(int)
        co = defaultdict(int)
        for b, items in baskets.items():
            uniq = sorted(set(items))
            for i in uniq:
                cnt[i] += 1
            for x in range(len(uniq)):
                for y in range(x + 1, len(uniq)):
                    co[(uniq[x], uniq[y])] += 1
        keep = {i for i, c in cnt.items() if c >= 2}
        sym = defaultdict(list)
        for (a, b2), s in co.items():
            if a in keep and b2 in keep and s >= 2:
                sym[a].append((b2, s))
                sym[b2].append((a, s))
        want = []
        for item in sorted(sym):
            scored = sorted(
                (
                    (-(s * s * 1_000_000 // (cnt[item] * cnt[n])), n, s)
                    for n, s in sym[item]
                )
            )[:2]
            for rank, (negsim, n, s) in enumerate(scored, 1):
                want.append((item, n, s, -negsim, rank))
        assert got == want

    def test_support_guard_raises(self, spark):
        from snowplow_s3_loader_spark.operators.behavior import item_similarity_topk

        df = spark.createDataFrame([(1, "a")], "b long, i string")
        out = item_similarity_topk(df, "b", "i", min_support=1, k=1, scale=10**6)
        # single item, no pairs -> empty, guard untriggered
        assert out.collect() == []


class TestWeightedSample:
    def test_selected_set_matches_python_reference(self, spark):
        import hashlib

        from snowplow_s3_loader_spark.operators.sampling import weighted_sample_topk

        rows = [("g", i, (i % 5) * 100 + 1) for i in range(60)]
        df = spark.createDataFrame(rows, "grp string, id long, w long")
        got = [
            (r["id"], r["priority"])
            for r in weighted_sample_topk(df, "grp", "id", "w", 10)
            .orderBy("id")
            .collect()
        ]
        prios = []
        for _, i, w in rows:
            u = int(hashlib.md5(str(i).encode()).hexdigest()[:15], 16)
            prios.append((u // w, i))
        want = sorted(sorted(prios)[:10], key=lambda t: t[1])
        assert got == [(i, p) for p, i in want]

    def test_heavier_rows_win_more_often(self, spark):
        from snowplow_s3_loader_spark.operators.sampling import weighted_sample_topk

        # 500 light (w=1) vs 500 heavy (w=100) rows: the heavy half must
        # dominate the sample decisively (deterministic given md5)
        rows = [("g", i, 1) for i in range(500)] + [
            ("g", i, 100) for i in range(500, 1000)
        ]
        df = spark.createDataFrame(rows, "grp string, id long, w long")
        picked = {
            r["id"] for r in weighted_sample_topk(df, "grp", "id", "w", 50).collect()
        }
        heavy = sum(1 for i in picked if i >= 500)
        assert heavy >= 45

    def test_invalid_weight_raises(self, spark):
        from snowplow_s3_loader_spark.operators.sampling import weighted_sample_topk

        df = spark.createDataFrame([("g", 1, 0)], "grp string, id long, w long")
        with pytest.raises(Exception, match="weighted_sample_topk"):
            weighted_sample_topk(df, "grp", "id", "w", 5).collect()


class TestDiagnostics:
    def test_skew_report_matches_reference(self, spark):
        from snowplow_s3_loader_spark.operators.diagnostics import skew_report

        # 3 keys: a x6, b x3, c x1 (+ a null key, which must participate)
        rows = [("a",)] * 6 + [("b",)] * 3 + [("c",)] + [(None,)]
        df = spark.createDataFrame(rows, "k string")
        top, stats = skew_report(df, ["k"], top_n=2)
        t = [(r["k"], r["rnk"], r["n"], r["share_micro"]) for r in top.collect()]
        assert t == [("a", 1, 6, 6 * 10**6 // 11), ("b", 2, 3, 3 * 10**6 // 11)]
        s = stats.collect()[0]
        assert (s["n_rows"], s["n_keys"], s["max_n"]) == (11, 4, 6)
        assert s["skew_multiple_micro"] == 6 * 4 * 10**6 // 11
        assert s["top_share_micro"] == 9 * 10**6 // 11

    def test_join_explosion_matches_real_join(self, spark):
        from snowplow_s3_loader_spark.operators.diagnostics import (
            join_explosion_report,
        )

        a = spark.createDataFrame(
            [(k, i) for k in ["x", "x", "x", "y", "z"] for i in range(2)]
            + [(None, 0)],
            "k string, v long",
        )
        b = spark.createDataFrame(
            [("x", 0), ("x", 1), ("y", 0), ("w", 0), (None, 0)],
            "k string, v long",
        )
        top, stats = join_explosion_report(a, b, ["k"], top_n=5)
        s = stats.collect()[0]
        real = a.join(b, "k").count()
        assert s["total_out_rows"] == real  # 6*2 + 2*1 = 14
        assert s["n_matching_keys"] == 2
        assert (s["rows_a"], s["rows_b"]) == (10, 4)
        assert s["amplification_micro"] == 14 * 10**6 // 14
        t = [(r["k"], r["n_a"], r["n_b"], r["out_rows"]) for r in top.collect()]
        assert t == [("x", 6, 2, 12), ("y", 2, 1, 2)]

    def test_topk_is_distributed_not_global_sort(self, spark):
        import contextlib
        import io

        from snowplow_s3_loader_spark.operators.diagnostics import skew_report

        df = spark.createDataFrame([(i % 7,) for i in range(100)], "k long")
        top, _ = skew_report(df, ["k"], top_n=3)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            top.explain("formatted")
        assert "TakeOrderedAndProject" in buf.getvalue()


class TestQuantileRank:
    def test_matches_python_reference(self, spark):
        import random

        from snowplow_s3_loader_spark.operators.ranking import quantile_rank

        rnd = random.Random(5)
        rows = [("g%d" % (i % 3), i, rnd.randint(0, 50)) for i in range(40)]
        df = spark.createDataFrame(rows, "g string, id long, v long")
        got = {
            (r["g"], r["id"]): r["pct_micro"]
            for r in quantile_rank(df, ["g"], [F.col("v"), F.col("id")]).collect()
        }
        by_g = {}
        for g, i, v in rows:
            by_g.setdefault(g, []).append((v, i))
        for g, vs in by_g.items():
            n = len(vs)
            for rn, (v, i) in enumerate(sorted(vs), 1):
                want = (rn - 1) * 1_000_000 // (n - 1) if n > 1 else 0
                assert got[(g, i)] == want, (g, i)
        assert max(got.values()) == 1_000_000 and min(got.values()) == 0

    def test_single_row_group_is_zero(self, spark):
        from snowplow_s3_loader_spark.operators.ranking import quantile_rank

        df = spark.createDataFrame([("g", 1, 9)], "g string, id long, v long")
        assert quantile_rank(df, ["g"], [F.col("v"), F.col("id")]).collect()[0][
            "pct_micro"
        ] == 0


class TestGroupMode:
    def test_mode_with_string_ties_to_minimum(self, spark):
        from snowplow_s3_loader_spark.operators.ranking import group_mode

        rows = (
            [("s1", "en")] * 3 + [("s1", "de")] * 3 + [("s1", "fr")]
            + [("s2", "zh")] * 2 + [("s2", None)] * 5
        )
        df = spark.createDataFrame(rows, "src string, lang string")
        got = {
            r["src"]: (r["mode"], r["mode_n"])
            for r in group_mode(df, ["src"], "lang").collect()
        }
        # s1: en/de tie at 3 -> min lang "de"; s2: nulls excluded
        assert got == {"s1": ("de", 3), "s2": ("zh", 2)}

    def test_numeric_values(self, spark):
        from snowplow_s3_loader_spark.operators.ranking import group_mode

        df = spark.createDataFrame(
            [(1, 7), (1, 7), (1, 3), (1, 3), (1, 9)], "g long, v long"
        )
        r = group_mode(df, ["g"], "v").collect()[0]
        assert (r["mode"], r["mode_n"]) == (3, 2)


class TestPhraseSearch:
    def _index(self, spark, docs):
        from snowplow_s3_loader_spark.operators.retrieval import inverted_index

        df = spark.createDataFrame(docs, "doc_id long, text string")
        return inverted_index(df, "doc_id", "text")

    def test_occurrence_counts_match_reference(self, spark):
        from snowplow_s3_loader_spark.operators.retrieval import phrase_search

        docs = [
            (1, "a b c a b"),      # "a b" twice
            (2, "a b"),            # once
            (3, "b a"),            # reversed: no match
            (4, "a x b"),          # gap: no match
            (5, "a a b"),          # once (at pos 1)
        ]
        idx = self._index(spark, docs)
        got = {
            r["id"]: r["n_matches"]
            for r in phrase_search(idx, "a b").collect()
        }
        assert got == {1: 2, 2: 1, 5: 1}

    def test_three_term_and_repeated_term_phrases(self, spark):
        from snowplow_s3_loader_spark.operators.retrieval import phrase_search

        docs = [(1, "x y x y x"), (2, "x y z"), (3, "y x y")]
        idx = self._index(spark, docs)
        assert {
            r["id"]: r["n_matches"]
            for r in phrase_search(idx, "x y x").collect()
        } == {1: 2}  # overlapping matches both count
        assert {
            r["id"]: r["n_matches"]
            for r in phrase_search(idx, "x y z").collect()
        } == {2: 1}

    def test_single_term_and_missing_term(self, spark):
        from snowplow_s3_loader_spark.operators.retrieval import phrase_search

        docs = [(1, "q q r"), (2, "r")]
        idx = self._index(spark, docs)
        assert {
            r["id"]: r["n_matches"] for r in phrase_search(idx, "q").collect()
        } == {1: 2}
        assert phrase_search(idx, "zz q").collect() == []
        with pytest.raises(ValueError, match="empty"):
            phrase_search(idx, "")


class TestKMeans:
    def _py_kmeans(self, vecs, k, n_iter, scale=1000):
        import math

        def trunc_div(s, n):
            return -((-s) // n) if s < 0 else s // n

        q = {
            i: [math.floor(x * scale) for x in v] for i, v in vecs.items()
        }
        cents = [list(q[i]) for i in sorted(q)[:k]]

        def assign():
            out = {}
            for i, v in q.items():
                best = min(
                    (sum((a - b) * (a - b) for a, b in zip(v, c)), j)
                    for j, c in enumerate(cents)
                )
                out[i] = best[::-1]
            return out

        for _ in range(n_iter):
            a = assign()
            sums = {}
            for i, (c, _) in a.items():
                s, n = sums.setdefault(c, ([0] * len(q[i]), 0))
                sums[c] = ([x + y for x, y in zip(s, q[i])], n + 1)
            for c, (s, n) in sums.items():
                cents[c] = [trunc_div(x, n) for x in s]
        return assign(), cents

    def test_matches_python_lloyd(self, spark):
        import random

        from snowplow_s3_loader_spark.operators.clustering import kmeans

        rnd = random.Random(11)
        vecs = {
            i: [
                rnd.uniform(-1, 1) + (2.5 if i % 3 == 0 else 0),
                rnd.uniform(-1, 1) - (2.5 if i % 3 == 1 else 0),
            ]
            for i in range(60)
        }
        df = spark.createDataFrame(
            [(i, v) for i, v in vecs.items()], "id long, vec array<double>"
        )
        got_df, got_cents = kmeans(df, "id", "vec", k=3, n_iter=3)
        want_assign, want_cents = self._py_kmeans(vecs, 3, 3)
        assert got_cents == want_cents
        got = {r["id"]: (r["cluster"], r["dist2"]) for r in got_df.collect()}
        assert got == want_assign

    def test_zero_iterations_and_bad_args(self, spark):
        from snowplow_s3_loader_spark.operators.clustering import kmeans

        df = spark.createDataFrame(
            [(1, [0.0]), (2, [5.0]), (3, [5.1])], "id long, vec array<double>"
        )
        out, cents = kmeans(df, "id", "vec", k=2, n_iter=0)
        assert cents == [[0], [5000]]
        assert {r["id"]: r["cluster"] for r in out.collect()} == {
            1: 0,
            2: 1,
            3: 1,
        }
        with pytest.raises(ValueError, match="k="):
            kmeans(df, "id", "vec", k=5, n_iter=1)

    def test_empty_cluster_keeps_previous_centroid(self, spark):
        from snowplow_s3_loader_spark.operators.clustering import kmeans

        # both points sit at 0 -> centroid 1 (seeded at 9.0) goes empty
        # after iteration 1 and must keep its position
        df = spark.createDataFrame(
            [(1, [0.0]), (2, [9.0]), (3, [0.1]), (4, [0.2])],
            "id long, vec array<double>",
        )
        _, cents = kmeans(df, "id", "vec", k=2, n_iter=2)
        py_assign, py_cents = self._py_kmeans(
            {1: [0.0], 2: [9.0], 3: [0.1], 4: [0.2]}, 2, 2
        )
        assert cents == py_cents


class TestCovariancePCA:
    def test_moments_match_numpy_exact(self, spark):
        import math
        import random

        import numpy as np

        from snowplow_s3_loader_spark.operators.clustering import (
            covariance_moments,
        )

        rnd = random.Random(7)
        data = [[rnd.uniform(-2, 2) for _ in range(4)] for _ in range(50)]
        df = spark.createDataFrame(
            [(v,) for v in data], "vec array<double>"
        )
        got = {
            (r["i"], r["j"]): (r["n"], r["s_i"], r["s_j"], r["s_ij"], r["cov_num"])
            for r in covariance_moments(df, "vec", dims=3).collect()
        }
        q = np.array(
            [[math.floor(x * 1000) for x in v] for v in data], dtype=object
        )
        for i in range(1, 4):
            for j in range(i, 4):
                si = int(sum(q[:, i - 1]))
                sj = int(sum(q[:, j - 1]))
                sij = int(sum(a * b for a, b in zip(q[:, i - 1], q[:, j - 1])))
                assert got[(i, j)] == (50, si, sj, sij, 50 * sij - si * sj)

    def test_pca_recovers_dominant_direction(self, spark):
        import random

        import numpy as np

        from snowplow_s3_loader_spark.operators.clustering import (
            covariance_moments,
            pca_components,
            pca_project,
        )

        rnd = random.Random(3)
        # points along (1, 1)/sqrt(2) with small orthogonal noise
        data = [
            [t + rnd.uniform(-0.1, 0.1), t - rnd.uniform(-0.1, 0.1)]
            for t in (rnd.uniform(-3, 3) for _ in range(200))
        ]
        df = spark.createDataFrame([(v,) for v in data], "vec array<double>")
        rows = covariance_moments(df, "vec", dims=2).collect()
        vals, comps = pca_components(rows, dims=2, n_components=2)
        assert vals[0] > 10 * vals[1]
        v = np.array(comps[0])
        want = np.array([1.0, 1.0]) / np.sqrt(2)
        assert abs(abs(float(v @ want)) - 1.0) < 0.01
        proj = pca_project(df, "vec", comps).select("pc1").collect()
        got = np.array([r["pc1"] for r in proj])
        ref = np.array(data) @ v
        assert np.allclose(np.sort(got), np.sort(ref), atol=1e-9)


class TestBoilerplateLines:
    def test_strips_frequent_lines_and_reassembles(self, spark):
        from snowplow_s3_loader_spark.operators.hygiene import (
            strip_boilerplate_lines,
        )

        docs = [
            (1, "HEADER\nbody one\nFOOTER"),
            (2, "HEADER\nbody two\nFOOTER"),
            (3, "HEADER\nbody three\nFOOTER"),
            (4, "HEADER\nFOOTER"),  # all boilerplate -> ''
            (5, "unique\nlines\nonly"),
        ]
        df = spark.createDataFrame(docs, "doc_id long, text string")
        out = {
            r["id"]: (r["n_lines"], r["n_removed"], r["clean_text"])
            for r in strip_boilerplate_lines(
                df, "doc_id", "text", max_doc_freq=2
            ).collect()
        }
        assert out[1] == (3, 2, "body one")
        assert out[4] == (2, 2, "")
        assert out[5] == (3, 0, "unique\nlines\nonly")
        with pytest.raises(ValueError, match="max_doc_freq"):
            strip_boilerplate_lines(df, "doc_id", "text", 0)

    def test_order_preserved_with_duplicate_lines_in_doc(self, spark):
        from snowplow_s3_loader_spark.operators.hygiene import (
            strip_boilerplate_lines,
        )

        # 'x' repeats inside doc 1 but in only ONE distinct doc -> kept
        df = spark.createDataFrame(
            [(1, "x\nmid\nx"), (2, "a"), (3, "b")], "doc_id long, text string"
        )
        out = {
            r["id"]: r["clean_text"]
            for r in strip_boilerplate_lines(df, "doc_id", "text", 1).collect()
        }
        assert out[1] == "x\nmid\nx"


class TestTrailingDistinct:
    def test_matches_bruteforce_with_gaps(self, spark):
        import random

        from snowplow_s3_loader_spark.operators.bitmap import (
            bitmap_trailing_distinct,
        )

        rnd = random.Random(9)
        rows = [
            (rnd.choice([1, 2, 3, 7, 8, 20]), rnd.randint(0, 40))
            for _ in range(500)
        ]
        df = spark.createDataFrame(rows, "day long, uid long")
        got = {
            r["day"]: (r["n_same_day"], r["n_trailing"])
            for r in bitmap_trailing_distinct(df, "day", "uid", 7).collect()
        }
        days = sorted({d for d, _ in rows})
        for d in days:
            same = len({u for dd, u in rows if dd == d})
            trail = len({u for dd, u in rows if d - 6 <= dd <= d})
            assert got[d] == (same, trail), d
        assert set(got) == set(days)


class TestReciprocalRankFusion:
    def test_fuses_and_breaks_ties_by_id(self, spark):
        from snowplow_s3_loader_spark.operators.retrieval import (
            reciprocal_rank_fusion,
        )

        a = spark.createDataFrame(
            [(10, 1), (11, 2), (12, 3)], "id long, rank long"
        )
        b = spark.createDataFrame(
            [(11, 1), (10, 2), (13, 3)], "id long, rank long"
        )
        out = {
            r["id"]: (r["n_lists"], r["rrf_micro"], r["fused_rank"])
            for r in reciprocal_rank_fusion([a, b], k0=60).collect()
        }
        m = 1_000_000
        assert out[10] == (2, m // 61 + m // 62, 1)  # same sum as 11...
        assert out[11] == (2, m // 61 + m // 62, 2)  # ...tie -> lower id first
        assert out[12] == (1, m // 63, 3)
        assert out[13] == (1, m // 63, 4)
        with pytest.raises(ValueError, match="at least one"):
            reciprocal_rank_fusion([])


class TestCollocations:
    def test_matches_python_reference(self, spark):
        from collections import Counter

        from snowplow_s3_loader_spark.operators.text import collocations

        texts = [
            "new york is a big city",
            "new york city has a new mayor",
            "york new is not new york",
            "a a a",
        ]
        df = spark.createDataFrame([(t,) for t in texts], "text string")
        got = {
            (r["w1"], r["w2"]): (r["n_ab"], r["n_a"], r["n_b"], r["lift_micro"])
            for r in collocations(df, "text", min_count=2, k=10).collect()
        }
        uni = Counter(w for t in texts for w in t.split())
        bi = Counter(
            (a, b)
            for t in texts
            for a, b in zip(t.split(), t.split()[1:])
        )
        n_total = sum(uni.values())
        want = {
            p: (
                n,
                uni[p[0]],
                uni[p[1]],
                (n * 10**6 // uni[p[0]]) * n_total // uni[p[1]],
            )
            for p, n in bi.items()
            if n >= 2
        }
        assert got == want
        # rank order: lift desc then (w1, w2)
        ranked = [
            (r["rnk"], r["lift_micro"])
            for r in collocations(df, "text", min_count=2, k=10)
            .orderBy("rnk")
            .collect()
        ]
        assert [x[1] for x in ranked] == sorted(
            [x[1] for x in ranked], reverse=True
        )
        with pytest.raises(ValueError, match="min_count"):
            collocations(df, "text", min_count=0)


class TestWinsorize:
    def test_clips_at_exact_percentile_grid(self, spark):
        from snowplow_s3_loader_spark.operators.ranking import winsorize

        rows = [("g", i, v) for i, v in enumerate([0, 10, 20, 30, 40, 50, 60, 70, 80, 1000])]
        df = spark.createDataFrame(rows, "g string, id long, v long")
        out = {
            r["id"]: (r["pct_micro"], r["lo_bound"], r["hi_bound"], r["clipped"])
            for r in winsorize(
                df, ["g"], "v", [F.col("id")], 100_000, 900_000
            ).collect()
        }
        # pct grid for n=10: (rn-1)*1e6 // 9 -> 0, 111111, ..., 1000000
        # lo_bound: smallest v with pct >= 100000 -> v=10 (pct 111111)
        # hi_bound: largest v with pct <= 900000 -> v=80 (pct 888888)
        assert out[0] == (0, 10, 80, 10)
        assert out[9] == (1_000_000, 10, 80, 80)
        assert out[5] == (555_555, 10, 80, 50)
        with pytest.raises(ValueError, match="lo <= hi"):
            winsorize(df, ["g"], "v", [F.col("id")], 5, 2)


class TestSessionPaths:
    def test_paths_and_session_breaks(self, spark):
        import datetime as dt

        from snowplow_s3_loader_spark.operators.behavior import session_paths

        t0 = dt.datetime(2024, 1, 1)
        s = lambda sec: t0 + dt.timedelta(seconds=sec)
        rows = [
            # user 1, session 1: a > b > c (+ a 4th event beyond max_len)
            (1, s(0), 1, "a"), (1, s(10), 2, "b"), (1, s(20), 3, "c"),
            (1, s(30), 4, "d"),
            # gap > 60s -> session 2: a > b
            (1, s(200), 5, "a"), (1, s(210), 6, "b"),
            # user 2: a > b (one session)
            (2, s(0), 7, "a"), (2, s(5), 8, "b"),
        ]
        df = spark.createDataFrame(rows, "u long, ts timestamp, eid long, typ string")
        got = {
            r["path"]: r["n_sessions"]
            for r in session_paths(
                df, "u", "ts", "typ", gap_seconds=60, max_len=3,
                tie_cols=("eid",),
            ).collect()
        }
        assert got == {"a>b>c": 1, "a>b": 2}

    def test_tie_cols_fix_equal_timestamps(self, spark):
        import datetime as dt

        from snowplow_s3_loader_spark.operators.behavior import session_paths

        t0 = dt.datetime(2024, 1, 1)
        rows = [(1, t0, 2, "y"), (1, t0, 1, "x"), (1, t0, 3, "z")]
        df = spark.createDataFrame(rows, "u long, ts timestamp, eid long, typ string")
        got = session_paths(
            df, "u", "ts", "typ", gap_seconds=60, max_len=5, tie_cols=("eid",)
        ).collect()
        assert {r["path"] for r in got} == {"x>y>z"}


class TestRound8Guards:
    def test_kmeans_enforces_int64_bound(self, spark):
        from snowplow_s3_loader_spark.operators.clustering import kmeans

        df = spark.createDataFrame(
            [(1, [0.0]), (2, [3.0e15])], "id long, vec array<double>"
        )
        with pytest.raises(ValueError, match="int64 bound"):
            kmeans(df, "id", "vec", k=2, n_iter=1, scale=1000)

    def test_covariance_guard_trips_on_huge_magnitudes(self, spark):
        from snowplow_s3_loader_spark.operators.clustering import (
            covariance_moments,
        )

        df = spark.createDataFrame(
            [([4.0e15, 4.0e15],), ([4.0e15, 4.0e15],)],
            "vec array<double>",
        )
        # ANSI sessions (the Spark 4 default) raise ARITHMETIC_OVERFLOW
        # on the product itself; the operator's own guard covers
        # ANSI-off sessions with the named bound — either way, loud
        with pytest.raises(
            Exception, match="int64 bound|ARITHMETIC_OVERFLOW"
        ):
            covariance_moments(df, "vec", dims=2).collect()

    def test_rrf_rejects_corrupt_ranks(self, spark):
        from snowplow_s3_loader_spark.operators.retrieval import (
            reciprocal_rank_fusion,
        )

        bad = spark.createDataFrame([(1, 0)], "id long, rank long")
        with pytest.raises(Exception, match="1-based"):
            reciprocal_rank_fusion([bad]).collect()


class TestSpearman:
    def test_matches_scipy_free_reference(self, spark):
        import random

        from snowplow_s3_loader_spark.operators.profile import spearman_moments

        rnd = random.Random(17)
        xs = [rnd.randint(0, 30) for _ in range(200)]          # heavy ties
        ys = [x * 3 + rnd.randint(-20, 20) for x in xs]        # correlated
        df = spark.createDataFrame(
            [(i, x, y) for i, (x, y) in enumerate(zip(xs, ys))],
            "id long, x long, y long",
        )
        row = spearman_moments(df, "x", "y", "id").collect()[0]

        def avg_ranks(vals):
            order = sorted(range(len(vals)), key=lambda i: vals[i])
            ranks = [0.0] * len(vals)
            i = 0
            while i < len(order):
                j = i
                while j < len(order) and vals[order[j]] == vals[order[i]]:
                    j += 1
                avg = (i + 1 + j) / 2.0
                for k in range(i, j):
                    ranks[order[k]] = avg
                i = j
            return ranks

        rx, ry = avg_ranks(xs), avg_ranks(ys)
        n = len(xs)
        d2 = sum((2 * a - 2 * b) ** 2 for a, b in zip(rx, ry))
        assert row["n"] == n and row["d2"] == d2

        # tie-corrected rho vs the direct Pearson-on-ranks computation
        mx = sum(rx) / n
        my = sum(ry) / n
        num = sum((a - mx) * (b - my) for a, b in zip(rx, ry))
        den = (
            sum((a - mx) ** 2 for a in rx) * sum((b - my) ** 2 for b in ry)
        ) ** 0.5
        assert abs(row["rho"] - num / den) < 1e-6

    def test_perfect_and_reversed(self, spark):
        from snowplow_s3_loader_spark.operators.profile import spearman_moments

        df = spark.createDataFrame(
            [(i, i, 100 - i) for i in range(50)], "id long, x long, y long"
        )
        assert spearman_moments(df, "x", "y", "id").collect()[0]["rho"] == -1.0
        df2 = spark.createDataFrame(
            [(i, i, i * 7) for i in range(50)], "id long, x long, y long"
        )
        assert spearman_moments(df2, "x", "y", "id").collect()[0]["rho"] == 1.0

    def test_n_bound_enforced(self, spark):
        from snowplow_s3_loader_spark.operators.profile import spearman_moments

        df = spark.createDataFrame([(1, 1, 1)], "id long, x long, y long")
        with pytest.raises(ValueError, match="n >= 2"):
            spearman_moments(df, "x", "y", "id")


class TestLabelScatter:
    def test_matches_numpy_exact(self, spark):
        import math
        import random

        from snowplow_s3_loader_spark.operators.clustering import label_scatter

        rnd = random.Random(13)
        rows = [
            (i % 3, [rnd.uniform(-1, 1) + i % 3 for _ in range(4)])
            for i in range(90)
        ]
        df = spark.createDataFrame(rows, "lbl int, vec array<double>")
        got = {
            r["label"]: (r["n"], r["norm2_sum"], r["trace_num"])
            for r in label_scatter(df, "lbl", "vec").collect()
        }
        for lbl in (0, 1, 2):
            qs = [
                [math.floor(x * 1000) for x in v]
                for l, v in rows
                if l == lbl
            ]
            n = len(qs)
            norm2 = sum(sum(x * x for x in q) for q in qs)
            sd2 = sum(
                sum(q[d] for q in qs) ** 2 for d in range(4)
            )
            assert got[lbl] == (n, norm2, n * norm2 - sd2)
        # trace_num / n^2 is the within-class variance trace: collapsed
        # labels read ~0
        tight = spark.createDataFrame(
            [(9, [5.0, 5.0])] * 10, "lbl int, vec array<double>"
        )
        r = label_scatter(tight, "lbl", "vec").collect()[0]
        assert r["trace_num"] == 0


def test_spearman_survives_int32_rank_scale(spark):
    """At n=60k the doubled-rank differences square past int32 — the
    rank-derived columns must ride as long (regression for the sf0.1
    ARITHMETIC_OVERFLOW)."""
    from snowplow_s3_loader_spark.operators.profile import spearman_moments

    df = spark.range(60_000).selectExpr(
        "id", "id AS x", "60000 - id AS y"
    )
    row = spearman_moments(df, "x", "y", "id").collect()[0]
    assert row["rho"] == -1.0
    n = 60_000
    assert row["d2"] == sum((2 * (i + 1) - 2 * (n - i)) ** 2 for i in range(n))


class TestTopologicalLayers:
    def _layers(self, spark, edges):
        from snowplow_s3_loader_spark.operators.graph import (
            topological_layers,
        )

        e = spark.createDataFrame(edges, "src long, dst long")
        out = topological_layers(e)
        rows = {r["node"]: r["layer"] for r in out.collect()}
        release_materialized(out)
        return rows

    def test_longest_path_layers_on_a_dag(self, spark):
        # diamond + a long chain: layer = LONGEST path from a source
        edges = [
            (1, 2), (1, 3), (2, 4), (3, 4),          # diamond: 4 at layer 2
            (4, 5), (5, 6),                           # chain continues
            (10, 6),                                  # shortcut: 6 still layer 4
        ]
        got = self._layers(spark, edges)
        assert got == {1: 0, 10: 0, 2: 1, 3: 1, 4: 2, 5: 3, 6: 4}

    def test_cycle_members_and_downstream_flagged(self, spark):
        edges = [
            (1, 2),              # clean DAG part
            (3, 4), (4, 5), (5, 3),   # cycle
            (5, 6),              # downstream of the cycle
            (1, 6),              # 6 unreachable at zero in-degree anyway
        ]
        got = self._layers(spark, edges)
        assert got[1] == 0 and got[2] == 1
        assert got[3] == got[4] == got[5] == got[6] == -1

    def test_max_rounds_raises_on_deep_dag(self, spark):
        from snowplow_s3_loader_spark.operators.graph import (
            topological_layers,
        )

        e = spark.createDataFrame(
            [(i, i + 1) for i in range(12)], "src long, dst long"
        )
        with pytest.raises(RuntimeError, match="max_rounds"):
            topological_layers(e, max_rounds=5)
        # the distributed loop's round budget raises identically
        # (round 13: the bounded driver-Kahn hybrid must not change
        # the error contract)
        with pytest.raises(RuntimeError, match="max_rounds"):
            topological_layers(e, max_rounds=5, driver_threshold=0)

    def test_driver_and_distributed_paths_agree(self, spark):
        """Round 13 hybrid: the driver-Kahn path (small graphs) and the
        distributed peel loop must emit identical (node, layer) maps on
        a graph mixing a DAG, a cycle with downstream nodes, and
        isolated nodes supplied via the ``nodes`` universe."""
        from snowplow_s3_loader_spark.operators.graph import (
            topological_layers,
        )

        edges = [
            (1, 2), (1, 3), (2, 4), (3, 4), (4, 5),
            (6, 7), (7, 8), (8, 6),      # cycle
            (8, 9),                      # downstream of the cycle
            (2, 9),
        ]
        e = spark.createDataFrame(edges, "src long, dst long")
        universe = spark.createDataFrame(
            [(v,) for v in range(1, 13)], "src long"  # 10..12 isolated
        )
        results = []
        for thr in (100_000, 0):
            out = topological_layers(e, nodes=universe, driver_threshold=thr)
            results.append({r["node"]: r["layer"] for r in out.collect()})
            release_materialized(out)
        assert results[0] == results[1]
        assert results[0][10] == results[0][12] == 0  # isolated -> layer 0
        assert results[0][9] == -1  # cycle-downstream flagged


def _linkpred_ref(pairs, min_common, max_wedge_degree, scale=1_000_000):
    """Brute-force link-prediction reference: all non-adjacent pairs,
    common neighbors restricted to centers within the degree cutoff,
    truncating integer arithmetic identical to the operator's."""
    adj: dict = {}
    for a, b in pairs:
        if a == b:
            continue
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    deg = {v: len(ns) for v, ns in adj.items()}
    out = {}
    nodes = sorted(adj)
    for i, u in enumerate(nodes):
        for v in nodes[i + 1:]:
            if v in adj[u]:
                continue
            common = [
                w for w in adj[u] & adj[v]
                if max_wedge_degree is None or deg[w] <= max_wedge_degree
            ]
            cn = len(common)
            if cn < min_common:
                continue
            ra = sum(scale // deg[w] for w in common)
            jac = cn * scale // (deg[u] + deg[v] - cn)
            out[(u, v)] = (cn, ra, jac)
    return out


class TestLinkPrediction:
    def _run(self, spark, pairs, **kw):
        from snowplow_s3_loader_spark.operators.graph import link_prediction

        df = spark.createDataFrame(pairs, "id_a long, id_b long")
        out = link_prediction(df, **kw)
        rows = {
            (r["u"], r["v"]): (
                r["common_neighbors"], r["ra_micro"], r["jaccard_micro"]
            )
            for r in out.collect()
        }
        release_materialized(out)
        return rows

    def test_crafted_graph_matches_reference(self, spark):
        # two triangles sharing a bridge + a pendant: mixed degrees,
        # several distance-2 pairs, one already-adjacent pair to exclude
        pairs = [
            (1, 2), (2, 3), (1, 3),      # triangle A
            (3, 4),                       # bridge
            (4, 5), (5, 6), (4, 6),      # triangle B
            (6, 7),                       # pendant
        ]
        got = self._run(spark, pairs, min_common=1)
        assert got == _linkpred_ref(pairs, 1, None)
        assert got  # non-degenerate: candidates exist

    def test_hub_cutoff_drops_hub_only_candidates(self, spark):
        # u and v meet ONLY through hub h (degree 5): with the cutoff
        # below 5 the pair disappears; RA/CN stay defined by true degrees
        pairs = [(100, h) for h in (1, 2, 3, 4, 5)] + [(200, 1)]
        # 100 is the hub (deg 5); (200, h!=1) pairs exist via center 1? no:
        # 200's only neighbor is 1, so (100, 200)? adjacent? no. common = {1}
        full = self._run(spark, pairs, min_common=1)
        assert full == _linkpred_ref(pairs, 1, None)
        cut = self._run(spark, pairs, min_common=1, max_wedge_degree=4)
        assert cut == _linkpred_ref(pairs, 1, 4)
        # pairs meeting only through nodes above the cutoff vanish
        assert any(k in full and k not in cut for k in full)

    def test_randomized_differential(self, spark):
        import random

        rng = random.Random(1351)
        pairs = list({
            tuple(sorted(rng.sample(range(1, 26), 2))) for _ in range(60)
        })
        got = self._run(spark, pairs, min_common=2, max_wedge_degree=8)
        assert got == _linkpred_ref(pairs, 2, 8)

    def test_dirty_input_nulls_self_loops_duplicates(self, spark):
        from snowplow_s3_loader_spark.operators.graph import link_prediction

        df = spark.createDataFrame(
            [(1, 2), (1, 2), (2, 1), (3, 3), (None, 4), (2, 3)],
            "id_a long, id_b long",
        )
        out = link_prediction(df, min_common=1)
        rows = {(r["u"], r["v"]): r["common_neighbors"] for r in out.collect()}
        release_materialized(out)
        assert rows == {(1, 3): 1}


def _kmv_ref(values, k, M=1 << 48):
    """Pure-python KMV reference sharing only the md5 spec: sketch =
    k smallest distinct 48-bit hashes; estimate via the exact integer
    floor identity."""
    import hashlib

    hs = sorted({
        int(hashlib.md5(str(v).encode()).hexdigest()[:12], 16)
        for v in values
    })
    sk = hs[:k]
    if len(sk) < k:
        return sk, len(sk)
    kth = sk[-1]
    est = (k - 1) * (M // kth) + ((k - 1) * (M % kth)) // kth
    return sk, est


class TestKmvSketch:
    def _build(self, spark, rows, k):
        from snowplow_s3_loader_spark.operators.sketches import (
            kmv_build,
            kmv_estimate,
        )

        df = spark.createDataFrame(rows, "g string, v long")
        sk = kmv_build(df, ["g"], "v", k)
        est = {
            r["g"]: (r["kmv_n"], r["kmv_est"])
            for r in kmv_estimate(sk, ["g"], k).collect()
        }
        hashes = {}
        for r in sk.collect():
            hashes.setdefault(r["g"], []).append((r["rnk"], r["h"]))
        return {g: [h for _, h in sorted(v)] for g, v in hashes.items()}, est

    def test_sketch_and_estimate_match_python_reference(self, spark):
        rows = [("a", v) for v in range(500)] + [("b", v % 7) for v in range(50)]
        got_sk, got_est = self._build(spark, rows, k=64)
        ref_a, est_a = _kmv_ref(range(500), 64)
        ref_b, est_b = _kmv_ref(range(7), 64)
        assert got_sk["a"] == ref_a and got_sk["b"] == ref_b
        assert got_est["a"] == (64, est_a)
        # below-k group: the estimate IS the exact distinct count
        assert got_est["b"] == (7, 7)

    def test_estimator_concentrates(self, spark):
        # 20k distinct values, k=256: the estimate should land well
        # inside 4/sqrt(k) = 25% of the truth
        rows = [("g", v) for v in range(20_000)]
        _, est = self._build(spark, rows, k=256)
        n, e = est["g"]
        assert n == 256 and abs(e - 20_000) * 4 <= 20_000

    def test_merge_equals_full_rebuild_and_is_partition_invariant(self, spark):
        from snowplow_s3_loader_spark.operators.sketches import (
            kmv_build,
            kmv_merge,
        )

        rows = [("g", v) for v in range(3_000)]
        df = spark.createDataFrame(rows, "g string, v long")
        full = kmv_build(df, ["g"], "v", 128)
        a = kmv_build(df.where(F.col("v") % 2 == 0), ["g"], "v", 128)
        b = kmv_build(df.where(F.col("v") % 2 == 1), ["g"], "v", 128)
        merged = kmv_merge(a, b, ["g"], 128)
        assert sorted(map(tuple, full.collect())) == sorted(
            map(tuple, merged.collect())
        )
        # overlapping shards (not a partition) also merge exactly: KMV
        # is a distinct-value synopsis, duplicates across shards are free
        c = kmv_build(df.where(F.col("v") < 2_000), ["g"], "v", 128)
        d = kmv_build(df.where(F.col("v") >= 1_000), ["g"], "v", 128)
        assert sorted(map(tuple, full.collect())) == sorted(
            map(tuple, kmv_merge(c, d, ["g"], 128).collect())
        )

    def test_k_below_two_raises(self, spark):
        from snowplow_s3_loader_spark.operators.sketches import kmv_build

        df = spark.createDataFrame([("g", 1)], "g string, v long")
        with pytest.raises(ValueError, match="k must be >= 2"):
            kmv_build(df, ["g"], "v", 1)


def _winnow_ref(text, k, w):
    """Brute-force winnowing reference: enumerate every window, select
    its rightmost minimal hash (short docs: one clipped window)."""
    import hashlib

    toks = text.strip().lower().split()
    grams = (
        [" ".join(toks[i:i + k]) for i in range(len(toks) - k + 1)]
        if len(toks) >= k
        else []
    )
    hs = [int(hashlib.md5(g.encode()).hexdigest()[:15], 16) for g in grams]
    n = len(hs)
    sel = set()
    if n == 0:
        return sel
    if n < w:
        m = min(hs)
        p = max(i for i, h in enumerate(hs) if h == m)
        return {(p, hs[p])}
    for s in range(0, n - w + 1):
        window = hs[s:s + w]
        m = min(window)
        p = s + max(i for i, h in enumerate(window) if h == m)
        sel.add((p, hs[p]))
    return sel


class TestWinnowFingerprints:
    def _run(self, spark, docs, k, w):
        from snowplow_s3_loader_spark.operators.text import winnow_fingerprints

        df = spark.createDataFrame(docs, "doc_id long, text string")
        got = {}
        for r in winnow_fingerprints(df, "doc_id", "text", k=k, w=w).collect():
            got.setdefault(r["doc_id"], set()).add((r["pos"], r["h"]))
        return got

    def test_randomized_differential_multiple_configs(self, spark):
        import random

        rng = random.Random(137)
        vocab = ["alpha", "beta", "gamma", "delta", "eps", "zeta"]
        docs = [
            (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(0, 20))))
            for i in range(50)
        ]
        docs += [(100, ""), (101, "one two"),
                 (102, "  spaced   out   tokens   here   now  ")]
        for k, w in [(3, 4), (1, 2), (4, 8)]:
            got = self._run(spark, docs, k, w)
            for i, t in docs:
                assert got.get(i, set()) == _winnow_ref(t, k, w), (k, w, i, t)

    def test_guarantee_shared_run_yields_shared_fingerprint(self, spark):
        # the SIGMOD'03 guarantee: any shared run of >= w+k-1 tokens
        # (here 6) produces at least one shared fingerprint HASH
        shared = "quick brown foxes jump over lazy dogs tonight"
        docs = [
            (1, "intro words before " + shared + " and trailing text one"),
            (2, shared + " totally different ending follows here"),
        ]
        got = self._run(spark, docs, k=3, w=4)
        h1 = {h for _, h in got[1]}
        h2 = {h for _, h in got[2]}
        assert h1 & h2, (sorted(h1), sorted(h2))

    def test_density_stays_near_two_over_w_plus_one(self, spark):
        import random

        rng = random.Random(7)
        # long random doc: selected fraction ~ 2/(w+1) (paper SS3)
        text = " ".join(str(rng.randrange(10**9)) for _ in range(2000))
        got = self._run(spark, [(1, text)], k=3, w=4)
        frac = len(got[1]) / (2000 - 3 + 1)
        assert 0.25 <= frac <= 0.55, frac

    def test_bad_params_raise(self, spark):
        from snowplow_s3_loader_spark.operators.text import winnow_fingerprints

        df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
        with pytest.raises(ValueError, match="winnow_fingerprints"):
            winnow_fingerprints(df, "doc_id", "text", k=0, w=4)
        with pytest.raises(ValueError, match="winnow_fingerprints"):
            winnow_fingerprints(df, "doc_id", "text", k=3, w=1)


def _acf_ref(xs, max_lag):
    """Textbook ACF on integers: exact numerators/denominator via the
    n^2-cleared mean, ratio as one float division."""
    n = len(xs)
    s = sum(xs)
    c = [n * x - s for x in xs]
    den = sum(v * v for v in c)
    out = {}
    for lag in range(1, max_lag + 1):
        prods = [c[t] * c[t + lag] for t in range(n - lag)]
        num = sum(prods) if prods else None
        out[lag] = (num, den, (num / den) if num is not None and den else None)
    return out


class TestAcfMoments:
    def _run(self, spark, series, max_lag):
        from snowplow_s3_loader_spark.operators.timeseries import acf_moments

        rows = [(g, t, x) for g, xs in series.items() for t, x in enumerate(xs)]
        df = spark.createDataFrame(rows, "g string, t long, x long")
        return {
            (r["g"], r["lag"]): (r["acf_num"], r["acf_den"], r["acf"])
            for r in acf_moments(df, ["g"], "t", "x", max_lag).collect()
        }

    def test_matches_reference_incl_short_series(self, spark):
        import random

        rng = random.Random(138)
        series = {
            "a": [rng.randrange(1000) for _ in range(40)],
            "b": [rng.randrange(1000) for _ in range(3)],  # lags > n -> NULL
            "c": [7, 7, 7, 7],  # zero variance -> den 0, acf NULL
        }
        got = self._run(spark, series, 5)
        for g, xs in series.items():
            for lag, exp in _acf_ref(xs, 5).items():
                assert got[(g, lag)] == exp, (g, lag, got[(g, lag)], exp)

    def test_planted_period_dominates(self, spark):
        # period-4 square wave: acf(4) should be strongly positive and
        # the largest of lags 1..5; acf(2) strongly negative
        xs = [100 if t % 4 < 2 else 0 for t in range(64)]
        got = self._run(spark, {"s": xs}, 5)
        acfs = {lag: got[("s", lag)][2] for lag in range(1, 6)}
        assert acfs[4] == max(acfs.values()) and acfs[4] > 0.8
        assert acfs[2] < -0.8

    def test_bound_and_duplicate_order_raise(self, spark):
        from snowplow_s3_loader_spark.operators.timeseries import acf_moments

        big = spark.createDataFrame(
            [("z", t, 2**25) for t in range(3000)], "g string, t long, x long"
        )
        with pytest.raises(ValueError, match="int64 bound"):
            acf_moments(big, ["g"], "t", "x", 2)
        dup = spark.createDataFrame(
            [("z", 1, 5), ("z", 1, 6)], "g string, t long, x long"
        )
        with pytest.raises(ValueError, match="duplicate order"):
            acf_moments(dup, ["g"], "t", "x", 1)


def _chi2_ref(pairs):
    """Textbook chi-square components from a list of (a, b) rows."""
    from collections import Counter

    cells = Counter(pairs)
    ra = Counter(a for a, _ in pairs)
    cb = Counter(b for _, b in pairs)
    n = len(pairs)
    out = {}
    for a in ra:
        for b in cb:
            o = cells.get((a, b), 0)
            dev = n * o - ra[a] * cb[b]
            out[(a, b)] = (o, ra[a], cb[b], dev,
                           float(dev) * float(dev)
                           / (float(ra[a]) * float(cb[b]) * float(n)))
    return out


class TestAssociationComponents:
    def _run(self, spark, pairs):
        from snowplow_s3_loader_spark.materialize import release_materialized
        from snowplow_s3_loader_spark.operators.profile import (
            association_components,
        )

        df = spark.createDataFrame(pairs, "x string, y long")
        out = association_components(df, "x", "y")
        got = {
            (r["a"], r["b"]): (
                r["observed"], r["row_total"], r["col_total"],
                r["dev"], r["contrib"],
            )
            for r in out.collect()
        }
        release_materialized(out)
        return got

    def test_matches_reference_with_zero_cells(self, spark):
        import random

        rng = random.Random(139)
        # skewed dependence + a (c, 9) combination that never occurs
        pairs = []
        for _ in range(300):
            a = rng.choice("abc")
            if a == "c":
                b = rng.choice([1, 2])
            else:
                b = rng.choice([1, 2, 9])
            pairs.append((a, b))
        got = self._run(spark, pairs)
        ref = _chi2_ref(pairs)
        assert got == ref
        assert got[("c", 9)][0] == 0 and got[("c", 9)][4] > 0  # zero cell present

    def test_independent_columns_have_small_statistic(self, spark):
        # perfectly balanced independent grid: every dev is exactly 0
        pairs = [(a, b) for a in "ab" for b in (1, 2) for _ in range(25)]
        got = self._run(spark, pairs)
        assert all(v[3] == 0 and v[4] == 0.0 for v in got.values())


def _auc_ref(rows):
    """Mann-Whitney reference: (n1, n0, u_dbl, auc_micro) from
    (score, label) pairs via doubled average ranks."""
    from collections import defaultdict

    n = len(rows)
    srt = sorted(range(n), key=lambda i: rows[i][0])
    rn = {i: r for r, i in enumerate(srt, 1)}
    groups = defaultdict(list)
    for i, (s, _) in enumerate(rows):
        groups[s].append(i)
    dbl = {}
    for idxs in groups.values():
        rns = [rn[i] for i in idxs]
        d = min(rns) + max(rns)
        for i in idxs:
            dbl[i] = d
    n1 = sum(l for _, l in rows)
    n0 = n - n1
    r1 = sum(dbl[i] for i, (_, l) in enumerate(rows) if l == 1)
    u = r1 - n1 * (n1 + 1)
    return (n1, n0, u, (u * 500000) // (n1 * n0) if n1 and n0 else None)


class TestAucMoments:
    def _run(self, spark, data):
        from snowplow_s3_loader_spark.operators.ranking import auc_moments

        rows = [(g, s, l) for g, rs in data.items() for s, l in rs]
        df = spark.createDataFrame(rows, "g long, s long, l long")
        return {
            r["g"]: (r["n1"], r["n0"], r["u_dbl"], r["auc_micro"])
            for r in auc_moments(df, ["g"], "s", "l").collect()
        }

    def test_matches_reference_with_ties_and_single_class(self, spark):
        import random

        rng = random.Random(140)
        data = {
            g: [
                (
                    rng.randrange(50) + (10 if (lab := rng.random() < 0.3) else 0),
                    int(lab),
                )
                for _ in range(200)
            ]
            for g in range(4)
        }
        data[9] = [(5, 1), (7, 1)]  # positives only: auc_micro NULL
        got = self._run(spark, data)
        for g, rs in data.items():
            assert got[g] == _auc_ref(rs), (g, got[g], _auc_ref(rs))

    def test_perfect_and_inverted_rankings(self, spark):
        perfect = {1: [(i, 1 if i >= 50 else 0) for i in range(100)]}
        inverted = {1: [(i, 1 if i < 50 else 0) for i in range(100)]}
        assert self._run(spark, perfect)[1][3] == 1_000_000
        assert self._run(spark, inverted)[1][3] == 0

    def test_random_labels_near_half(self, spark):
        import random

        rng = random.Random(7)
        data = {1: [(rng.randrange(10**6), rng.randrange(2)) for _ in range(2000)]}
        auc = self._run(spark, data)[1][3]
        assert 450_000 <= auc <= 550_000, auc

    def test_non_binary_label_raises(self, spark):
        from snowplow_s3_loader_spark.operators.ranking import auc_moments

        df = spark.createDataFrame([(1, 1, 2)], "g long, s long, l long")
        with pytest.raises(ValueError, match="must be 0/1"):
            auc_moments(df, ["g"], "s", "l")
