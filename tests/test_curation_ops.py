"""Round-6 curation operators: exact-integer PageRank, CDC changelog
application, Gopher quality rules. Each is differential-tested against a
pure-Python reference implementing the same exact arithmetic."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from snowplow_s3_loader_spark.materialize import release_materialized
from snowplow_s3_loader_spark.operators import cdc, text
from snowplow_s3_loader_spark.operators.graph import pagerank

# ---------------------------------------------------------------------------
# PageRank
# ---------------------------------------------------------------------------

SCALE = 10**12


def _pagerank_py(edges, iterations, num=85, den=100, scale=SCALE):
    """Pure-python integer PageRank — same recurrence, same truncating
    division; the operator must match it exactly."""
    es = sorted(set(edges))
    nodes = sorted({u for e in es for u in e})
    outdeg: dict[int, int] = {}
    for s, _ in es:
        outdeg[s] = outdeg.get(s, 0) + 1
    n = len(nodes)
    tele = (scale * (den - num)) // (den * n)
    pr = {v: scale // n for v in nodes}
    for _ in range(iterations):
        new = {v: tele for v in nodes}
        for s, d in es:
            new[d] += (pr[s] * num) // (den * outdeg[s])
        pr = new
    return pr


def _run_pagerank(spark, edges, iterations):
    df = spark.createDataFrame(edges, "src long, dst long")
    out = pagerank(df, iterations=iterations)
    res = {r["node"]: r["rank_micro"] for r in out.collect()}
    release_materialized(out)
    return res


def test_pagerank_matches_python_reference(spark):
    edges = [(1, 2), (2, 3), (3, 1), (3, 4), (4, 1), (2, 1), (5, 1)]
    assert _run_pagerank(spark, edges, 4) == _pagerank_py(edges, 4)


def test_pagerank_star_graph_ranks_hub_highest(spark):
    # hub 0 with 20 spokes, symmetric edges
    edges = [(0, i) for i in range(1, 21)] + [(i, 0) for i in range(1, 21)]
    res = _run_pagerank(spark, edges, 5)
    assert res == _pagerank_py(edges, 5)
    hub = res[0]
    assert all(hub > v for n, v in res.items() if n != 0)
    # spokes are symmetric — identical ranks
    assert len({v for n, v in res.items() if n != 0}) == 1


def test_pagerank_dangling_mass_dropped_not_redistributed(spark):
    # 1 -> 2, node 2 has no out-edges: its mass vanishes each round
    edges = [(1, 2)]
    res = _run_pagerank(spark, edges, 3)
    assert res == _pagerank_py(edges, 3)
    assert sum(res.values()) < SCALE  # mass is genuinely lost


def test_pagerank_duplicate_and_null_edges_ignored(spark):
    df = spark.createDataFrame(
        [(1, 2), (1, 2), (2, 1), (None, 9), (9, None)],
        "src long, dst long",
    )
    out = pagerank(df, iterations=2)
    res = {r["node"]: r["rank_micro"] for r in out.collect()}
    release_materialized(out)
    assert res == _pagerank_py([(1, 2), (2, 1)], 2)


def test_pagerank_rejects_bad_params(spark):
    df = spark.createDataFrame([(1, 2)], "src long, dst long")
    with pytest.raises(ValueError):
        pagerank(df, iterations=0)
    with pytest.raises(ValueError):
        pagerank(df, damping_num=100, damping_den=100)


def test_pagerank_mass_conservation_on_strongly_connected_graph(spark):
    # ring: every node outdeg 1 — only floor rounding loses mass, so the
    # total stays within n*(iterations+1) micro-units of SCALE
    n = 7
    edges = [(i, (i + 1) % n) for i in range(n)]
    res = _run_pagerank(spark, edges, 6)
    assert res == _pagerank_py(edges, 6)
    assert SCALE - sum(res.values()) <= n * 7


# ---------------------------------------------------------------------------
# CDC changelog application
# ---------------------------------------------------------------------------


def _snap(spark):
    return spark.createDataFrame(
        [(1, "alice", 10.0), (2, "bob", 20.0), (3, "carol", 30.0)],
        "id long, name string, bal double",
    )


def test_apply_changelog_upsert_delete_insert(spark):
    changes = spark.createDataFrame(
        [
            (2, "bob2", 25.0, 100, "U"),   # update existing
            (3, "carol", 0.0, 101, "D"),   # delete existing
            (4, "dave", 40.0, 102, "U"),   # insert new key
        ],
        "id long, name string, bal double, seq long, op string",
    )
    out = cdc.apply_changelog(_snap(spark), changes, ["id"], "seq")
    rows = {r["id"]: (r["name"], r["bal"]) for r in out.collect()}
    assert rows == {1: ("alice", 10.0), 2: ("bob2", 25.0), 4: ("dave", 40.0)}
    assert out.columns == ["id", "name", "bal"]


def test_apply_changelog_last_writer_wins(spark):
    changes = spark.createDataFrame(
        [
            (1, "a1", 1.0, 10, "U"),
            (1, "a2", 2.0, 30, "U"),   # highest seq wins
            (1, "gone", 0.0, 20, "D"),
        ],
        "id long, name string, bal double, seq long, op string",
    )
    out = cdc.apply_changelog(_snap(spark), changes, ["id"], "seq")
    rows = {r["id"]: r["name"] for r in out.collect()}
    assert rows[1] == "a2"
    # delete as the latest change removes the row
    changes2 = spark.createDataFrame(
        [(1, "a1", 1.0, 10, "U"), (1, "x", 0.0, 40, "D")],
        "id long, name string, bal double, seq long, op string",
    )
    out2 = cdc.apply_changelog(_snap(spark), changes2, ["id"], "seq")
    assert sorted(r["id"] for r in out2.collect()) == [2, 3]


def test_apply_changelog_seq_tie_breaks_update_over_delete(spark):
    changes = spark.createDataFrame(
        [(1, "kept", 5.0, 10, "U"), (1, "x", 0.0, 10, "D")],
        "id long, name string, bal double, seq long, op string",
    )
    out = cdc.apply_changelog(_snap(spark), changes, ["id"], "seq")
    rows = {r["id"]: r["name"] for r in out.collect()}
    assert rows[1] == "kept"  # 'U' > 'D' on the documented tie-break


def test_apply_changelog_broadcast_matches_plain(spark):
    changes = spark.createDataFrame(
        [(2, "bob2", 25.0, 100, "U"), (3, "c", 0.0, 101, "D")],
        "id long, name string, bal double, seq long, op string",
    )
    plain = cdc.apply_changelog(_snap(spark), changes, ["id"], "seq")
    bcast = cdc.apply_changelog(
        _snap(spark), changes, ["id"], "seq", broadcast_changes=True
    )
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, bcast.collect()))
    # the hint must reach the anti join's build side
    assert "BroadcastHashJoin" in bcast._jdf.queryExecution().executedPlan().toString()


def test_latest_changes_full_tie_breaks_on_payload_hash(spark):
    """Rows tied on (key, seq, op) with DIFFERENT payloads must resolve
    to the same winner on every run — the final ORDER BY key is the
    payload's xxhash64, so the choice cannot depend on scan/merge order.
    Both input orderings must pick the identical row."""
    rows = [(1, "pay_a", 1.0, 10, "U"), (1, "pay_b", 2.0, 10, "U")]
    winners = set()
    for ordering in (rows, rows[::-1]):
        changes = spark.createDataFrame(
            ordering, "id long, name string, bal double, seq long, op string"
        )
        got = cdc.latest_changes(changes, ["id"], "seq").collect()
        assert len(got) == 1
        winners.add((got[0]["name"], got[0]["bal"]))
    assert len(winners) == 1, winners


def test_apply_changelog_validates_columns(spark):
    changes_missing_payload = spark.createDataFrame(
        [(1, 10, "U")], "id long, seq long, op string"
    )
    with pytest.raises(ValueError, match="payload"):
        cdc.apply_changelog(_snap(spark), changes_missing_payload, ["id"], "seq")
    with pytest.raises(ValueError, match="missing required"):
        cdc.apply_changelog(_snap(spark), _snap(spark), ["id"], "seq")


# ---------------------------------------------------------------------------
# Gopher quality rules
# ---------------------------------------------------------------------------


def _flags(spark, s):
    df = spark.createDataFrame([(s,)], "text string")
    return df.select(text.gopher_quality_flags(F.col("text")).alias("g")).collect()[0][
        "g"
    ].asDict()


def test_gopher_passing_document(spark):
    doc = "the cat and the dog sat of to in is " + "word " * 60
    g = _flags(spark, doc)
    assert g["pass_all"] and g["n_words"] == 70


def test_gopher_word_count_bounds(spark):
    assert not _flags(spark, "too short")["word_count_ok"]
    assert _flags(spark, "okay " * 50)["word_count_ok"]
    assert not _flags(spark, "w " * 100_001)["word_count_ok"]


def test_gopher_mean_word_length(spark):
    # mean word length 1 (< 3) fails; 3..10 passes; > 10 fails
    assert not _flags(spark, "a b c d e f")["mean_word_len_ok"]
    assert _flags(spark, "abcd " * 10)["mean_word_len_ok"]
    assert not _flags(spark, "abcdefghijklmnop " * 5)["mean_word_len_ok"]


def test_gopher_symbol_ratio(spark):
    # 2 symbols ('#' + '...') over 8 words -> 0.25 > 0.1 fails
    assert not _flags(spark, "# one two three four five six ...")["symbol_ratio_ok"]
    # 1 symbol over 12 words passes
    assert _flags(spark, "# " + "w " * 11)["symbol_ratio_ok"]
    # four consecutive dots count as ONE non-overlapping '...' occurrence
    g = _flags(spark, "w.... " + "w " * 11)
    assert g["symbol_ratio_ok"]


def test_gopher_bullet_and_ellipsis_lines(spark):
    all_bullets = "\n".join(f"- item {i}" for i in range(10))
    assert not _flags(spark, all_bullets)["bullet_ratio_ok"]
    one_bullet = "- item\n" + "\n".join(f"line {i}" for i in range(9))
    assert _flags(spark, one_bullet)["bullet_ratio_ok"]
    heavy_ellipsis = "\n".join(f"line {i}..." for i in range(4)) + "\nplain"
    assert not _flags(spark, heavy_ellipsis)["ellipsis_ratio_ok"]
    assert _flags(spark, "one...\nplain\nplain\nplain")["ellipsis_ratio_ok"]


def test_gopher_alpha_ratio_and_stopwords(spark):
    # 3 alpha words of 10 -> 0.3 < 0.8 fails
    assert not _flags(spark, "1 2 3 4 5 6 7 cat dog hat")["alpha_ratio_ok"]
    assert _flags(spark, "cat dog hat 1 2")["alpha_ratio_ok"] is False  # 3/5 = 0.6
    assert _flags(spark, "cat dog hat bat 5")["alpha_ratio_ok"]  # 4/5 = 0.8
    assert not _flags(spark, "cat dog")["stopword_ok"]
    assert not _flags(spark, "the cat")["stopword_ok"]  # 1 distinct stopword
    assert _flags(spark, "the cat is here")["stopword_ok"]
    # repeated single stopword still counts once
    assert not _flags(spark, "the the the the")["stopword_ok"]


def test_gopher_summary_counts(spark):
    df = spark.createDataFrame(
        [
            ("en", "the cat and the dog sat of to in is " + "word " * 60),
            ("en", "tiny"),
            ("de", "a b c d e"),
        ],
        "lang string, text string",
    )
    out = {r["lang"]: r.asDict() for r in text.gopher_rule_summary(df).collect()}
    assert out["en"]["n_docs"] == 2 and out["en"]["n_pass"] == 1
    assert out["en"]["n_fail_word_count"] == 1
    assert out["de"]["n_pass"] == 0 and out["de"]["n_fail_mean_word_len"] == 1


# ---------------------------------------------------------------------------
# punct_count regression (round-6 fix: the character class was un-negated,
# counting alphanumerics instead of punctuation)
# ---------------------------------------------------------------------------


def test_punct_count_counts_punctuation_not_alphanumerics(spark):
    df = spark.createDataFrame(
        [("abc def!?",), ("no punct here",), ("!!!",)], "text string"
    )
    out = [
        r["n"]
        for r in df.select(text.punct_count(F.col("text")).alias("n"))
        .orderBy(F.lit(1))
        .collect()
    ]
    assert sorted(out) == [0, 2, 3]


def test_quality_score_penalizes_punctuation(spark):
    clean = "the cat and the dog sat of to in is on the mat again and again"
    noisy = clean + " !!!???;;;###@@@%%%&&&***((()))"
    df = spark.createDataFrame([(1, clean), (2, noisy)], "id long, text string")
    scores = {
        r["id"]: r["q"]
        for r in df.select("id", text.quality_score(F.col("text")).alias("q")).collect()
    }
    assert scores[1] > scores[2]


# ---------------------------------------------------------------------------
# Incremental aggregate maintenance
# ---------------------------------------------------------------------------


def _events(spark, rows):
    return spark.createDataFrame(rows, "k string, v long")


def test_update_agg_state_equals_full_recompute(spark):
    from snowplow_s3_loader_spark.operators import incremental

    base = _events(spark, [("a", 10), ("a", 20), ("b", 5)])
    delta = _events(spark, [("a", 1), ("b", 100), ("c", 7)])  # c is a NEW key
    state = incremental.agg_state(base, ["k"], ("v",), ("v",), ("v",))
    updated = incremental.update_agg_state(state, delta, ["k"], ("v",), ("v",), ("v",))
    full = incremental.agg_state(
        base.unionByName(delta), ["k"], ("v",), ("v",), ("v",)
    )
    assert sorted(map(tuple, updated.collect())) == sorted(map(tuple, full.collect()))


def test_update_agg_state_sequential_updates(spark):
    from snowplow_s3_loader_spark.operators import incremental

    batches = [
        [("a", 1), ("b", 2)],
        [("a", 3), ("c", 4)],
        [("c", -10), ("a", 0)],
    ]
    state = incremental.agg_state(
        _events(spark, batches[0]), ["k"], ("v",), ("v",), ("v",)
    )
    for b in batches[1:]:
        state = incremental.update_agg_state(
            state, _events(spark, b), ["k"], ("v",), ("v",), ("v",)
        )
    all_rows = [r for b in batches for r in b]
    full = incremental.agg_state(
        _events(spark, all_rows), ["k"], ("v",), ("v",), ("v",)
    )
    assert sorted(map(tuple, state.collect())) == sorted(map(tuple, full.collect()))


def test_update_agg_state_validates_state_schema(spark):
    from snowplow_s3_loader_spark.operators import incremental

    bad_state = _events(spark, [("a", 1)])  # raw rows, not agg_state output
    with pytest.raises(ValueError, match="missing columns"):
        incremental.update_agg_state(bad_state, _events(spark, []), ["k"], ("v",))


def test_update_agg_state_single_shuffle(spark):
    from snowplow_s3_loader_spark.operators import incremental

    base = _events(spark, [("a", 10), ("b", 5)])
    delta = _events(spark, [("a", 1), ("c", 7)])
    state = incremental.agg_state(base, ["k"], ("v",)).localCheckpoint()
    updated = incremental.update_agg_state(state, delta, ["k"], ("v",))
    plan = updated._jdf.queryExecution().executedPlan().toString()
    # one Exchange for the merge groupBy; the checkpointed state
    # contributes none of its own
    assert plan.count("Exchange") == 1, plan


# ---------------------------------------------------------------------------
# int8 scalar quantization
# ---------------------------------------------------------------------------


def test_quantize_embeddings_matches_numpy(spark):
    import numpy as np

    from snowplow_s3_loader_spark.operators.similarity import (
        quantization_bounds,
        quantize_embeddings,
    )

    rng = np.random.default_rng(7)
    vecs = rng.normal(size=(50, 8)).astype(np.float32)
    df = spark.createDataFrame(
        [(i, v.tolist()) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>",
    )
    mins, maxs = quantization_bounds(df, "embedding")
    assert mins == vecs.min(0).astype(np.float64).tolist()
    assert maxs == vecs.max(0).astype(np.float64).tolist()
    out = {
        r["vec_id"]: r["codes"]
        for r in quantize_embeddings(df, "embedding", mins, maxs).collect()
    }
    mn = np.array(mins)
    rng_ = np.array(maxs) - mn
    expected = np.minimum(
        255, np.floor((vecs.astype(np.float64) - mn) * 255.0 / rng_)
    ).astype(int)
    for i in range(len(vecs)):
        assert out[i] == expected[i].tolist()
    # every max-valued element maps to 255, every min-valued to 0
    assert all(255 in expected[:, j] and 0 in expected[:, j] for j in range(8))


def test_quantize_constant_dimension_yields_zero(spark):
    from snowplow_s3_loader_spark.operators.similarity import quantize_embeddings

    df = spark.createDataFrame(
        [(1, [3.0, 1.0]), (2, [3.0, 2.0])], "vec_id long, embedding array<float>"
    )
    out = {
        r["vec_id"]: r["codes"]
        for r in quantize_embeddings(
            df, "embedding", [3.0, 1.0], [3.0, 2.0]
        ).collect()
    }
    assert out[1][0] == 0 and out[2][0] == 0  # constant dim -> code 0
    assert out[1][1] == 0 and out[2][1] == 255


def test_quantize_out_of_bounds_values_saturate(spark):
    """Caller-supplied bounds narrower than the data (e.g. fit on an
    earlier corpus snapshot) must saturate at BOTH ends of the uint8
    range — a value below min_d clamps to 0, above max_d to 255."""
    from snowplow_s3_loader_spark.operators.similarity import quantize_embeddings

    df = spark.createDataFrame(
        [(1, [-5.0, 9.0, 0.5])], "vec_id long, embedding array<float>"
    )
    [row] = quantize_embeddings(df, "embedding", [0.0] * 3, [1.0] * 3).collect()
    assert row["codes"][0] == 0  # below min_d: clamp, never negative
    assert row["codes"][1] == 255  # above max_d
    assert 0 <= row["codes"][2] <= 255


def test_quantize_dequantize_error_bounded(spark):
    import numpy as np

    from snowplow_s3_loader_spark.operators.similarity import (
        quantization_bounds,
        quantize_embeddings,
    )

    rng = np.random.default_rng(3)
    vecs = rng.uniform(-1, 1, size=(40, 16)).astype(np.float32)
    df = spark.createDataFrame(
        [(i, v.tolist()) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>",
    )
    mins, maxs = quantization_bounds(df, "embedding")
    codes = np.array(
        [
            r["codes"]
            for r in quantize_embeddings(df, "embedding", mins, maxs)
            .orderBy("vec_id")
            .collect()
        ]
    )
    mn, mx = np.array(mins), np.array(maxs)
    step = (mx - mn) / 255.0
    recon = mn + (codes + 0.5) * step  # documented dequantization
    assert np.abs(recon - vecs).max() <= step.max() / 2 + 1e-12


def test_quantization_bounds_rejects_empty(spark):
    from snowplow_s3_loader_spark.operators.similarity import quantization_bounds

    empty = spark.createDataFrame([], "vec_id long, embedding array<float>")
    with pytest.raises(ValueError, match="empty"):
        quantization_bounds(empty, "embedding")


# ---------------------------------------------------------------------------
# Behavioral analytics: funnel + cohort retention
# ---------------------------------------------------------------------------

from datetime import datetime


def _ev(spark, rows):
    return spark.createDataFrame(rows, "user_id long, ts timestamp_ntz, event_type string")


def test_funnel_strict_ordering(spark):
    from snowplow_s3_loader_spark.operators import behavior

    t = lambda s: datetime.fromisoformat(s)
    rows = [
        # user 1: full conversion in order
        (1, t("2024-01-01T10:00"), "view"),
        (1, t("2024-01-01T11:00"), "click"),
        (1, t("2024-01-01T12:00"), "purchase"),
        # user 2: purchase BEFORE click -> stage 2 only
        (2, t("2024-01-01T10:00"), "view"),
        (2, t("2024-01-01T09:00"), "purchase"),
        (2, t("2024-01-01T11:00"), "click"),
        # user 3: never viewed -> absent from the funnel
        (3, t("2024-01-01T10:00"), "click"),
        (3, t("2024-01-01T11:00"), "purchase"),
        # user 4: click at the SAME instant as view -> strict '>' fails
        (4, t("2024-01-01T10:00"), "view"),
        (4, t("2024-01-01T10:00"), "click"),
    ]
    out = {
        r["user_id"]: r
        for r in behavior.funnel_steps(
            _ev(spark, rows), "user_id", "ts", "event_type",
            ["view", "click", "purchase"],
        ).collect()
    }
    assert set(out) == {1, 2, 4}
    assert out[1]["stage"] == 3 and out[1]["t3"] == t("2024-01-01T12:00")
    assert out[2]["stage"] == 2 and out[2]["t3"] is None
    assert out[4]["stage"] == 1 and out[4]["t2"] is None


def test_funnel_earliest_qualifying_event_wins(spark):
    from snowplow_s3_loader_spark.operators import behavior

    t = lambda s: datetime.fromisoformat(s)
    rows = [
        (1, t("2024-01-01T10:00"), "view"),
        (1, t("2024-01-01T09:00"), "click"),   # before view: not qualifying
        (1, t("2024-01-01T11:00"), "click"),   # earliest AFTER view
        (1, t("2024-01-01T12:00"), "click"),
    ]
    row = behavior.funnel_steps(
        _ev(spark, rows), "user_id", "ts", "event_type", ["view", "click"]
    ).collect()[0]
    assert row["t2"] == t("2024-01-01T11:00")


def test_funnel_summary_counts(spark):
    from snowplow_s3_loader_spark.operators import behavior

    t = lambda s: datetime.fromisoformat(s)
    rows = [
        (1, t("2024-01-01T10:00"), "view"),
        (1, t("2024-01-01T11:00"), "click"),
        (2, t("2024-01-01T10:00"), "view"),
    ]
    fun = behavior.funnel_steps(
        _ev(spark, rows), "user_id", "ts", "event_type", ["view", "click"]
    )
    summary = {
        r["step"]: r["n_users"]
        for r in behavior.funnel_summary(fun, 2).collect()
    }
    assert summary == {1: 2, 2: 1}
    with pytest.raises(ValueError):
        behavior.funnel_steps(_ev(spark, rows), "user_id", "ts", "event_type", [])


def test_cohort_retention_matrix(spark):
    from snowplow_s3_loader_spark.operators import behavior

    t = lambda s: datetime.fromisoformat(s)
    rows = [
        # user 1 first seen week of Jan 1 (Mon), active again week of Jan 8
        (1, t("2024-01-02T10:00"), "view"),
        (1, t("2024-01-10T10:00"), "view"),
        # user 2 first seen week of Jan 8 only
        (2, t("2024-01-09T10:00"), "view"),
        # user 1 twice in the same week: still one active row
        (1, t("2024-01-11T10:00"), "click"),
    ]
    out = {
        (r["cohort"].isoformat(), r["period"].isoformat()): (
            r["n_users"], r["periods_since"]
        )
        for r in behavior.cohort_retention(_ev(spark, rows), "user_id", "ts").collect()
    }
    assert out == {
        ("2024-01-01T00:00:00", "2024-01-01T00:00:00"): (1, 0),
        ("2024-01-01T00:00:00", "2024-01-08T00:00:00"): (1, 1),
        ("2024-01-08T00:00:00", "2024-01-08T00:00:00"): (1, 0),
    }


def test_cohort_retention_rejects_unknown_unit(spark):
    from snowplow_s3_loader_spark.operators import behavior

    t = lambda s: datetime.fromisoformat(s)
    ev = _ev(spark, [(1, t("2024-01-02T10:00"), "view")])
    with pytest.raises(ValueError, match="quarter.*day.*hour|unsupported unit"):
        behavior.cohort_retention(ev, "user_id", "ts", unit="quarter")


# ---------------------------------------------------------------------------
# Interval overlap join
# ---------------------------------------------------------------------------


def test_interval_overlap_matches_brute_force(spark):
    import random

    from snowplow_s3_loader_spark.operators.joins import interval_overlap_join

    rnd = random.Random(5)
    lefts = [(i, rnd.randrange(0, 1000), rnd.randrange(1, 300)) for i in range(60)]
    rights = [(i, rnd.randrange(0, 1000), rnd.randrange(1, 80)) for i in range(40)]
    L = spark.createDataFrame(
        [(i, s, s + d) for i, s, d in lefts], "id_l long, l_start long, l_end long"
    )
    R = spark.createDataFrame(
        [(i, s, s + d) for i, s, d in rights], "id_r long, r_start long, r_end long"
    )
    # bucket width much smaller than many spans: pairs share MANY cells,
    # exercising the report-once-in-first-shared-cell dedup
    got = sorted(
        (r["id_l"], r["id_r"])
        for r in interval_overlap_join(
            L, R, ("l_start", "l_end"), ("r_start", "r_end"), 50
        ).collect()
    )
    want = sorted(
        (il, ir)
        for il, ls, ld in lefts
        for ir, rs, rd in rights
        if ls <= rs + rd and rs <= ls + ld
    )
    assert got == want
    assert len(got) == len(set(got))  # no duplicate pairs despite shared cells


def test_interval_overlap_closed_bounds_touching(spark):
    from snowplow_s3_loader_spark.operators.joins import interval_overlap_join

    L = spark.createDataFrame([(1, 0, 10)], "id_l long, l_start long, l_end long")
    R = spark.createDataFrame(
        [(1, 10, 20), (2, 11, 20)], "id_r long, r_start long, r_end long"
    )
    got = sorted(
        r["id_r"]
        for r in interval_overlap_join(
            L, R, ("l_start", "l_end"), ("r_start", "r_end"), 7
        ).collect()
    )
    assert got == [1]  # touching endpoints overlap (closed); disjoint does not


def test_interval_overlap_validations(spark):
    from snowplow_s3_loader_spark.operators.joins import interval_overlap_join

    L = spark.createDataFrame([(1, 0, 10)], "id long, s long, e long")
    with pytest.raises(ValueError, match="positive"):
        interval_overlap_join(L, L, ("s", "e"), ("s", "e"), 0)
    with pytest.raises(ValueError, match="rename"):
        interval_overlap_join(L, L, ("s", "e"), ("s", "e"), 10)


# ---------------------------------------------------------------------------
# Triangle counting
# ---------------------------------------------------------------------------


def test_triangle_count_matches_brute_force(spark):
    import itertools
    import random
    from collections import Counter

    from snowplow_s3_loader_spark.operators.graph import triangle_count

    rnd = random.Random(11)
    edges = set()
    for _ in range(150):
        a, b = rnd.randrange(25), rnd.randrange(25)
        if a != b:
            edges.add((min(a, b), max(a, b)))
    df = spark.createDataFrame(sorted(edges), "id_a long, id_b long")
    got = {
        r["node"]: (r["n_triangles"], r["total_triangles"])
        for r in triangle_count(df).collect()
    }
    tris = [
        t
        for t in itertools.combinations(sorted({x for e in edges for x in e}), 3)
        if (t[0], t[1]) in edges and (t[1], t[2]) in edges and (t[0], t[2]) in edges
    ]
    per = Counter(x for t in tris for x in t)
    assert got == {n: (c, len(tris)) for n, c in per.items()}


def test_triangle_count_handles_dirty_input(spark):
    from snowplow_s3_loader_spark.operators.graph import triangle_count

    df = spark.createDataFrame(
        # triangle 1-2-3 given with duplicates, reversals, a self-loop,
        # and a null — all must be ignored/normalized
        [(1, 2), (2, 1), (2, 3), (3, 1), (1, 1), (None, 2), (1, 2)],
        "id_a long, id_b long",
    )
    got = {
        r["node"]: (r["n_triangles"], r["total_triangles"])
        for r in triangle_count(df).collect()
    }
    assert got == {1: (1, 1), 2: (1, 1), 3: (1, 1)}


def test_triangle_count_star_graph_has_none(spark):
    from snowplow_s3_loader_spark.operators.graph import triangle_count

    df = spark.createDataFrame(
        [(0, i) for i in range(1, 10)], "id_a long, id_b long"
    )
    assert triangle_count(df).count() == 0


# ---------------------------------------------------------------------------
# Table profiling
# ---------------------------------------------------------------------------


def test_profile_table_stats(spark):
    from snowplow_s3_loader_spark.operators.profile import profile_table

    df = spark.createDataFrame(
        [(1, "a", 2.5, [1]), (2, None, 1.5, [2]), (2, "b", None, None)],
        "id long, s string, v double, arr array<int>",
    )
    out = {r["column"]: r.asDict() for r in profile_table(df).collect()}
    assert out["id"]["n_rows"] == 3 and out["id"]["n_null"] == 0
    assert out["id"]["n_distinct"] == 2
    assert out["id"]["min_value"] == "1" and out["id"]["max_value"] == "2"
    assert out["s"]["n_null"] == 1 and out["s"]["n_distinct"] == 2
    assert out["v"]["min_value"] == "1.5" and out["v"]["max_value"] == "2.5"
    # complex type: counts yes, min/max null
    assert out["arr"]["n_null"] == 1 and out["arr"]["min_value"] is None


def test_profile_table_approx_and_validation(spark):
    from snowplow_s3_loader_spark.operators.profile import profile_table

    df = spark.range(1000).select(F.col("id"), (F.col("id") % 10).alias("k"))
    approx = {
        r["column"]: r["n_distinct"] for r in profile_table(df, exact=False).collect()
    }
    assert abs(approx["k"] - 10) <= 1  # HLL on 10 distinct is near-exact
    assert 900 <= approx["id"] <= 1100
    with pytest.raises(ValueError, match="unknown columns"):
        profile_table(df, ["nope"])


# ---------------------------------------------------------------------------
# Frequent-pair mining
# ---------------------------------------------------------------------------


def test_frequent_pairs_counts_and_prune(spark):
    from snowplow_s3_loader_spark.operators import behavior

    rows = [
        # pair (a, b) in baskets 1..3; c appears twice in basket 1 (dup)
        (1, "a"), (1, "b"), (1, "c"), (1, "c"),
        (2, "a"), (2, "b"),
        (3, "b"), (3, "a"),
        (4, "d"),  # singleton item, pruned before the self-join
    ]
    df = spark.createDataFrame(rows, "basket long, item string")
    got = {
        (r["item_a"], r["item_b"]): r["support"]
        for r in behavior.frequent_pairs(df, "basket", "item", 2).collect()
    }
    assert got == {("a", "b"): 3}
    # support 1 admits every co-occurring pair, dedup keeps (a,c) at 1
    got1 = {
        (r["item_a"], r["item_b"]): r["support"]
        for r in behavior.frequent_pairs(df, "basket", "item", 1).collect()
    }
    assert got1 == {("a", "b"): 3, ("a", "c"): 1, ("b", "c"): 1}
    with pytest.raises(ValueError):
        behavior.frequent_pairs(df, "basket", "item", 0)


def test_agg_state_parquet_round_trip(spark, tmp_path):
    """Aggregate state is a plain DataFrame: parquet round-trips to the
    identical frame, and an update applied to the RELOADED state equals
    the full recompute — the build-once / update-per-delta persistence
    pattern (same argument as the bloom-filter and IVF-centroid
    round-trips)."""
    from snowplow_s3_loader_spark.operators import incremental

    base = _events(spark, [("a", 10), ("a", 20), ("b", 5)])
    delta = _events(spark, [("a", 1), ("c", 7)])
    state = incremental.agg_state(base, ["k"], ("v",), ("v",), ("v",))
    path = str(tmp_path / "agg_state")
    state.write.parquet(path)
    reloaded = spark.read.parquet(path)
    updated = incremental.update_agg_state(
        reloaded, delta, ["k"], ("v",), ("v",), ("v",)
    )
    full = incremental.agg_state(
        base.unionByName(delta), ["k"], ("v",), ("v",), ("v",)
    )
    assert sorted(map(tuple, updated.collect())) == sorted(map(tuple, full.collect()))


def test_funnel_max_gap_window(spark):
    from snowplow_s3_loader_spark.operators import behavior

    t = lambda s: datetime.fromisoformat(s)
    rows = [
        (1, t("2024-01-01T10:00"), "view"),
        (1, t("2024-01-01T10:30"), "click"),     # within 1h of view
        (2, t("2024-01-01T10:00"), "view"),
        (2, t("2024-01-01T12:00"), "click"),     # 2h later: outside window
    ]
    out = {
        r["user_id"]: r["stage"]
        for r in behavior.funnel_steps(
            _ev(spark, rows), "user_id", "ts", "event_type",
            ["view", "click"], max_gap_seconds=3600,
        ).collect()
    }
    assert out == {1: 2, 2: 1}
    # boundary: exactly max_gap qualifies (<=)
    rows_b = [(3, t("2024-01-01T10:00"), "view"), (3, t("2024-01-01T11:00"), "click")]
    out_b = behavior.funnel_steps(
        _ev(spark, rows_b), "user_id", "ts", "event_type",
        ["view", "click"], max_gap_seconds=3600,
    ).collect()[0]
    assert out_b["stage"] == 2


# ---------------------------------------------------------------------------
# Equi-depth histogram + global_row_number permutation regression
# ---------------------------------------------------------------------------


def test_global_row_number_is_permutation(spark):
    """Regression for the dual-evaluation range-boundary bug: the counts
    branch and the output join must see the SAME partitioning, or rns
    duplicate/gap (observed 9737 distinct over 10000 rows before the
    eager checkpoint pinned one evaluation)."""
    from snowplow_s3_loader_spark.operators.ranking import global_row_number

    df = spark.range(5000).select(
        (F.xxhash64("id") % 1000).alias("v"), F.col("id")
    )
    ranked, total = global_row_number(df, [F.col("v"), F.col("id")], rn_col="rn")
    assert total == 5000
    rns = sorted(r["rn"] for r in ranked.select("rn").collect())
    assert rns == list(range(1, 5001))


def test_equi_depth_histogram_bucket_counts(spark):
    from snowplow_s3_loader_spark.operators.profile import equi_depth_histogram

    df = spark.range(103).select(F.col("id"), (F.col("id") * 7 % 103).alias("v"))
    out = {r["bucket"]: r for r in equi_depth_histogram(df, "v", 10, ["id"]).collect()}
    # SQL ntile: first 103 % 10 = 3 buckets get 11 rows, the rest 10
    assert [out[b]["n"] for b in range(1, 11)] == [11, 11, 11] + [10] * 7
    # buckets tile the domain in order without overlap
    for b in range(1, 10):
        assert out[b]["high"] <= out[b + 1]["low"]
    with pytest.raises(ValueError):
        equi_depth_histogram(df, "v", 0)


def test_exact_moments_match_numpy(spark):
    import numpy as np

    from snowplow_s3_loader_spark.operators.profile import exact_moments

    rng = np.random.default_rng(9)
    x = rng.integers(0, 100, 500)
    y = (x * 3 + rng.integers(0, 50, 500)).astype(int)  # correlated
    df = spark.createDataFrame(
        [("g", int(a), int(b)) for a, b in zip(x, y)], "g string, x long, y long"
    )
    row = exact_moments(df, ["g"], "x", "y").collect()[0]
    n = 500
    assert row["n"] == n and row["sx"] == int(x.sum()) and row["sy"] == int(y.sum())
    cov_num = n * int((x * y).sum()) - int(x.sum()) * int(y.sum())
    var_x = n * int((x * x).sum()) - int(x.sum()) ** 2
    var_y = n * int((y * y).sum()) - int(y.sum()) ** 2
    assert (row["cov_num"], row["var_x_num"], row["var_y_num"]) == (
        cov_num, var_x, var_y,
    )
    # derived Pearson r matches numpy to float precision
    r = cov_num / (var_x**0.5 * var_y**0.5)
    assert abs(r - np.corrcoef(x, y)[0, 1]) < 1e-12


def test_analytics_operators_run_on_events(spark, sf_dir):
    """The analytics operators run end to end on the synthetic tables."""
    from snowplow_s3_loader_spark.operators.behavior import (
        cohort_retention,
        funnel_steps,
    )
    from snowplow_s3_loader_spark.operators.graph import triangle_count
    from snowplow_s3_loader_spark.operators.profile import (
        equi_depth_histogram,
        exact_moments,
        profile_table,
    )
    from snowplow_s3_loader_spark.operators.similarity import (
        quantization_bounds,
        quantize_embeddings,
    )
    from snowplow_s3_loader_spark.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    assert profile_table(ev, ["event_id"]).count() == 1
    fun = funnel_steps(ev, "user_id", "ts", "event_type", ["view", "click"])
    assert fun.count() > 0
    assert cohort_retention(ev, "user_id", "ts").count() > 0
    assert equi_depth_histogram(ev, "value", 4, ["event_id"]).count() == 4
    assert (
        exact_moments(ev.selectExpr("event_type", "CAST(value AS LONG) v",
                                    "event_id"),
                      ["event_type"], "v", "event_id").count() == 5
    )
    pairs = spark.createDataFrame([(1, 2), (2, 3), (3, 1)], "id_a long, id_b long")
    assert triangle_count(pairs).count() == 3
    emb = load_table(spark, sf_dir, "embeddings").limit(50)
    mins, maxs = quantization_bounds(emb, "embedding")
    q = quantize_embeddings(emb, "embedding", mins, maxs)
    assert q.select("codes").first()["codes"] is not None


def _ppr_py(edges, seeds, iterations, num=85, den=100, scale=SCALE):
    """Pure-python personalized PageRank with the same integer recurrence."""
    es = sorted(set(edges))
    nodes = sorted({u for e in es for u in e})
    outdeg: dict[int, int] = {}
    for s, _ in es:
        outdeg[s] = outdeg.get(s, 0) + 1
    seeds = sorted(set(seeds) & set(nodes))
    ns = len(seeds)
    init = scale // ns
    tele = (scale * (den - num)) // (den * ns)
    pr = {v: (init if v in seeds else 0) for v in nodes}
    for _ in range(iterations):
        new = {v: (tele if v in seeds else 0) for v in nodes}
        for s, d in es:
            new[d] += (pr[s] * num) // (den * outdeg[s])
        pr = new
    return pr


def test_personalized_pagerank_matches_python_reference(spark):
    edges = [(1, 2), (2, 3), (3, 4), (4, 1), (2, 1), (3, 1), (5, 4), (4, 5)]
    seeds_df = spark.createDataFrame([(1,), (2,)], "node long")
    df = spark.createDataFrame(edges, "src long, dst long")
    out = pagerank(df, iterations=4, seeds=seeds_df)
    res = {r["node"]: r["rank_micro"] for r in out.collect()}
    release_materialized(out)
    assert res == _ppr_py(edges, [1, 2], 4)
    # mass concentrates near the seeds: both seeds outrank the far node 5
    assert res[1] > res[5] and res[2] > res[5]


def test_personalized_pagerank_ignores_unknown_seeds_and_rejects_empty(spark):
    edges = [(1, 2), (2, 1)]
    df = spark.createDataFrame(edges, "src long, dst long")
    seeds = spark.createDataFrame([(1,), (99,)], "node long")  # 99 not in graph
    out = pagerank(df, iterations=2, seeds=seeds)
    res = {r["node"]: r["rank_micro"] for r in out.collect()}
    release_materialized(out)
    assert res == _ppr_py(edges, [1], 2)
    only_unknown = spark.createDataFrame([(99,)], "node long")
    with pytest.raises(ValueError, match="no seed node"):
        pagerank(df, iterations=1, seeds=only_unknown)


def test_uniform_pagerank_unchanged_by_seed_refactor(spark):
    # seeds=None must reproduce the original uniform behavior exactly
    edges = [(1, 2), (2, 3), (3, 1)]
    assert _run_pagerank(spark, edges, 3) == _pagerank_py(edges, 3)


# ---------------------------------------------------------------------------
# Literal-expectation audits for shared-transform batteries (round 7,
# VERDICT r6 #6): where an oracle re-implements the SAME formula as the
# engine, engine-vs-oracle equality cannot catch a shared semantic
# inversion (the round-6 punct_count lesson). Each battery therefore pins
# a crafted input to a KNOWN-GOOD hand-derived literal output.
# ---------------------------------------------------------------------------


def test_lang_id_literal_expectations(spark):
    """q29 battery: hand-derived language-ID outcomes, including the
    documented tie rules (zero hits -> unknown; tied max -> smallest
    language code)."""
    from snowplow_s3_loader_spark.operators import text as T

    cases = [
        (1, "the the the", "en"),         # en=3, all others 0
        (2, "xyzzy blorp", "unknown"),     # zero stopword hits
        (3, "the der", "de"),              # 1-1 tie -> smallest code wins
        (4, "le de shi the", "zh"),        # zh hits de+shi+le=3 beats en=1,fr=1
        (5, "el la y es los", "es"),       # es=5
    ]
    df = spark.createDataFrame([(i, s) for i, s, _ in cases], "id long, text string")
    got = {
        r["id"]: r["lang"]
        for r in df.select("id", T.predicted_lang(F.col("text")).alias("lang")).collect()
    }
    assert got == {i: want for i, _, want in cases}


def test_quality_score_literal_expectation(spark):
    """q30 battery: quality_score("the cat!") =
    0.4*min(1, 2/50) + 0.3*(1 - 1/8) + 0.3*(1/2) = 0.4285 exactly
    (2 tokens; 1 punctuation char of 8; 1 of 2 tokens is a stopword —
    'cat!' is NOT 'cat', so it does not hit)."""
    from snowplow_s3_loader_spark.operators import text as T

    df = spark.createDataFrame([("the cat!",)], "text string")
    [r] = df.select(T.quality_score(F.col("text")).alias("q")).collect()
    assert r["q"] == pytest.approx(0.4 * (2 / 50) + 0.3 * (1 - 1 / 8) + 0.3 * 0.5, abs=1e-9)
    assert r["q"] == pytest.approx(0.4285, abs=1e-9)


def test_repetition_stats_literal_expectation(spark):
    """q66 battery: "a b a b a" -> 5 tokens, 2 distinct (ratio 0.4);
    bigrams (a b)(b a)(a b)(b a) -> 4 with 2 distinct (dup frac 0.5);
    top token 'a' appears 3 of 5 times (frac 0.6)."""
    from snowplow_s3_loader_spark.operators.text import repetition_stats

    df = spark.createDataFrame([(1, "a b a b a")], "doc_id long, text string")
    [r] = repetition_stats(df, "doc_id", "text").collect()
    assert r["n_tokens"] == 5
    assert r["distinct_token_ratio"] == pytest.approx(0.4, abs=1e-9)
    assert r["dup_bigram_frac"] == pytest.approx(0.5, abs=1e-9)
    assert r["top_token_frac"] == pytest.approx(0.6, abs=1e-9)


def test_hashed_linear_literal_expectation(spark):
    """q77 battery: hand-derived weights for dim=4096, seed=0 —
    bucket(t) = int(md5(t)[:8], 16) % 4096, w = (bucket * 2654435761)
    % 2000001 - 1000000: bucket('hello') = 42 -> w = -753781,
    bucket('world') = 55 -> w = +893859, so score('hello world') =
    140078 and label = true. Pinned as literals (not recomputed), so a
    drift in the md5/mix arithmetic fails loudly."""
    from snowplow_s3_loader_spark.operators import text as T

    df = spark.createDataFrame([("hello world",)], "text string")
    score, label = T.hashed_linear_score(F.col("text"), dim=4096, seed=0)
    [r] = df.select(score, label).collect()
    assert r["score_micro"] == 140078
    assert r["label"] is True


# ---------------------------------------------------------------------------
# touch attribution (round 7)
# ---------------------------------------------------------------------------


def test_attribution_first_last_and_direct(spark):
    from snowplow_s3_loader_spark.operators import behavior

    t = lambda s: datetime.fromisoformat(s)
    rows = [
        (1, t("2024-01-01T10:00"), "ad"),
        (1, t("2024-01-01T11:00"), "email"),
        (1, t("2024-01-01T12:00"), "purchase"),   # first=ad, last=email, n=2
        (1, t("2024-01-01T13:00"), "ad"),
        (1, t("2024-01-01T14:00"), "purchase"),   # first=ad@10, last=ad@13, n=3
        (2, t("2024-01-01T09:00"), "purchase"),   # direct: no touches
        (3, t("2024-01-01T08:00"), "purchase"),
        (3, t("2024-01-01T08:00"), "ad"),         # same instant: NOT before
    ]
    out = {
        (r["user_id"], r["conv_ts"]): (
            r["first_touch_ts"], r["last_touch_ts"], r["n_touches"], r["last_touch_type"]
        )
        for r in behavior.attribution(
            _ev(spark, rows), "user_id", "ts", "event_type", "purchase", ["ad", "email"]
        ).collect()
    }
    assert out[(1, t("2024-01-01T12:00"))] == (
        t("2024-01-01T10:00"), t("2024-01-01T11:00"), 2, "email"
    )
    assert out[(1, t("2024-01-01T14:00"))] == (
        t("2024-01-01T10:00"), t("2024-01-01T13:00"), 3, "ad"
    )
    assert out[(2, t("2024-01-01T09:00"))] == (None, None, 0, None)
    assert out[(3, t("2024-01-01T08:00"))] == (None, None, 0, None)


def test_attribution_window_bounds_lookback(spark):
    from snowplow_s3_loader_spark.operators import behavior

    t = lambda s: datetime.fromisoformat(s)
    rows = [
        (1, t("2024-01-01T00:00"), "ad"),         # outside the 1h window
        (1, t("2024-01-01T11:30"), "ad"),         # inside
        (1, t("2024-01-01T12:00"), "purchase"),
    ]
    [r] = behavior.attribution(
        _ev(spark, rows), "user_id", "ts", "event_type", "purchase", ["ad"],
        window_seconds=3600,
    ).collect()
    assert r["first_touch_ts"] == t("2024-01-01T11:30")
    assert r["last_touch_ts"] == t("2024-01-01T11:30")
    assert r["n_touches"] == 1


def test_attribution_same_instant_touch_tie_is_deterministic(spark):
    from snowplow_s3_loader_spark.operators import behavior

    t = lambda s: datetime.fromisoformat(s)
    rows = [
        (1, t("2024-01-01T10:00"), "ad"),
        (1, t("2024-01-01T10:00"), "email"),      # same-instant touches
        (1, t("2024-01-01T12:00"), "purchase"),
    ]
    [r] = behavior.attribution(
        _ev(spark, rows), "user_id", "ts", "event_type", "purchase", ["ad", "email"]
    ).collect()
    assert r["n_touches"] == 2
    assert r["last_touch_type"] == "email"  # max(type) on exact ties


def test_latest_changes_skips_map_payload_columns_in_tie_break(spark):
    """Map-typed payload columns cannot be xxhash64'd; the tie-break must
    skip them instead of failing analysis for callers with a real total
    order in seq_col (round-7 review finding)."""
    changes = spark.createDataFrame(
        [(1, "a", {"k": "v"}, 10, "U"), (1, "b", {"k": "w"}, 20, "U")],
        "id long, name string, props map<string,string>, seq long, op string",
    )
    [r] = cdc.latest_changes(changes, ["id"], "seq").collect()
    assert r["name"] == "b"  # highest seq still wins


# ---------------------------------------------------------------------------
# SCD2 history (round 7)
# ---------------------------------------------------------------------------


def test_scd2_history_versions_and_delete_closure(spark):
    changes = spark.createDataFrame(
        [
            (1, "v1", 10, "U"),
            (1, "v2", 20, "U"),   # closes v1 at seq 20
            (1, "gone", 30, "D"), # closes v2 at seq 30, emits nothing
            (1, "v3", 40, "U"),   # reopens after the delete, current
            (2, "only", 5, "U"),  # single open version
        ],
        "id long, name string, seq long, op string",
    )
    rows = {
        (r["id"], r["valid_from_seq"]): (r["name"], r["valid_to_seq"], r["is_current"])
        for r in cdc.scd2_history(changes, ["id"], "seq").collect()
    }
    assert rows == {
        (1, 10): ("v1", 20, False),
        (1, 20): ("v2", 30, False),
        (1, 40): ("v3", None, True),
        (2, 5): ("only", None, True),
    }


def test_scd2_history_agrees_with_latest_changes(spark):
    """The open SCD2 version per surviving key must be exactly what
    apply_changelog/latest_changes resolves as the winner (shared total
    order), and keys whose LAST change is a delete have no open
    version."""
    changes = spark.createDataFrame(
        [
            (1, "a", 1, "U"), (1, "b", 2, "U"),
            (2, "x", 1, "U"), (2, "dead", 9, "D"),
            (3, "z", 4, "U"),
        ],
        "id long, name string, seq long, op string",
    )
    current = {
        r["id"]: r["name"]
        for r in cdc.scd2_history(changes, ["id"], "seq")
        .where("is_current")
        .collect()
    }
    latest = {
        r["id"]: r["name"]
        for r in cdc.latest_changes(changes, ["id"], "seq")
        .where(F.col("op") != "D")
        .collect()
    }
    assert current == latest == {1: "b", 3: "z"}


def test_scd2_history_validates_columns(spark):
    with pytest.raises(ValueError, match="missing required"):
        cdc.scd2_history(_snap(spark), ["id"], "seq")


def test_scd2_roundtrip_shares_tie_order_with_merge(spark):
    """SCD2 <-> MERGE round-trip under DELIBERATE ties (round 8, VERDICT
    r7 #5): rows tied on (key, seq) with different ops, and tied on
    (key, seq, op) with DIFFERENT payloads, force both operators through
    their documented tie-breaks (op desc, then payload xxhash64). The
    open SCD2 versions must payload-equal apply_changelog folded into an
    empty snapshot — if either operator's order drifts, a winner
    diverges and the dict comparison fails."""
    changes = spark.createDataFrame(
        [
            # (key, seq, op) fully tied, payloads differ -> hash tie-break
            (1, "pay_a", 5, "U"), (1, "pay_b", 5, "U"), (1, "pay_c", 5, "U"),
            # (key, seq) tied, op differs -> 'U' outranks 'D'
            (2, "alive", 7, "U"), (2, "alive", 7, "D"),
            # last change is a delete -> no open version, no merged row
            (3, "gone", 1, "U"), (3, "gone", 2, "D"),
            # plain total order
            (4, "v1", 1, "U"), (4, "v2", 2, "U"),
        ],
        "id long, name string, seq long, op string",
    )
    current = {
        r["id"]: r["name"]
        for r in cdc.scd2_history(changes, ["id"], "seq")
        .where("is_current")
        .collect()
    }
    empty = changes.select("id", "name").limit(0)
    merged = {
        r["id"]: r["name"]
        for r in cdc.apply_changelog(empty, changes, ["id"], "seq").collect()
    }
    assert current == merged
    assert set(current) == {1, 2, 4}
    assert current[2] == "alive" and current[4] == "v2"
    # key 1's winner is whichever payload hashes highest — stable across
    # runs, and identical between the two operators (asserted above);
    # pin that it IS one of the tied payloads
    assert current[1] in {"pay_a", "pay_b", "pay_c"}
