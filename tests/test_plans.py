"""Physical-plan quality gates: these assert the *plan shape*, not results —
pushdown reaching the scan, broadcasts on dimension sides, partial
aggregation, bucketed joins running shuffle-free, salted joins preserving
semantics. A regression here means a scale regression even while results
stay correct."""

from __future__ import annotations

import contextlib
import io
import re

from pyspark.sql import functions as F

from snowplow_s3_loader_spark.operators.joins import bucketize, salted_join
from snowplow_s3_loader_spark.plans import queries as Q
from snowplow_s3_loader_spark.tables import load_table


def plan_of(df) -> str:
    """Formatted explain PLUS the simple one-line physical tree.

    Both renderings matter: formatted carries scan detail
    (PushedFilters / ReadSchema) the gates assert on, while ONLY the
    simple tree prints ``Exchange SinglePartition`` as a substring —
    formatted renders it as ``Arguments: SinglePartition``, which made
    every pre-round-11 "Exchange SinglePartition not in plan"
    assertion VACUOUS (discovered writing the q156-q159 gates; the
    executed-plan audits in scripts/ were never affected). Appending
    the simple tree makes those assertions real without disturbing
    formatted-dependent positives."""
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
        buf.write(_SIMPLE_MARKER + "\n")
        df.explain("simple")
    return buf.getvalue()


_SIMPLE_MARKER = "=== SIMPLE TREE ==="


def formatted_part(plan: str) -> str:
    """The formatted-explain section of plan_of's output — use for
    exact substring COUNTS (InMemoryFileIndex, hashpartitioning, ...):
    the simple tree repeats scan/exchange detail, so counting over the
    combined string double-counts."""
    return plan.split(_SIMPLE_MARKER)[0]


def simple_part(plan: str) -> str:
    return plan.split(_SIMPLE_MARKER)[1] if _SIMPLE_MARKER in plan else ""


def unpartitioned_window_lines(plan: str) -> list[str]:
    """Window nodes with an EMPTY partition spec, from the simple tree:
    a partitioned Window prints ``Window [exprs], [partition], [order]``
    (two ``], [`` separators), an unpartitioned one prints
    ``Window [exprs], [order]`` (one). The old per-line check for the
    literal string 'partitionBy []' matched nothing in either explain
    mode — vacuous; this parses what Spark actually prints.
    A PARTITIONED window with no order (e.g. a whole-partition count)
    also prints two groups — ``Window [exprs], [partition]`` — so the
    two-group case is unpartitioned only when the LAST group is an
    order spec (contains ASC/DESC). WindowGroupLimit lines
    (rank-pushdown) don't start with 'Window ' — skipped."""
    out = []
    for line in simple_part(plan).splitlines():
        stripped = re.sub(r"^[-+:*() 0-9]*", "", line)
        if not stripped.startswith("Window "):
            continue
        groups = line.count("], [")
        if groups >= 2:
            continue  # [exprs], [partition], [order]
        last = line.rsplit("], [", 1)[-1]
        if groups == 1 and " ASC" not in last and " DESC" not in last:
            continue  # [exprs], [partition] — keyed, just unordered
        out.append(line)
    return out


def data_sized_single_partitions(plan: str) -> list[str]:
    """``Exchange SinglePartition`` nodes in the simple tree EXCLUDING
    scalar partial+final aggregate merges — the bounded pattern

        HashAggregate(keys=[], functions=[f(x)])
        +- Exchange SinglePartition
           +- HashAggregate(keys=[], functions=[partial_f(x)])

    which moves one partial row per upstream task (bounded by the
    cluster, not the data; every scalar total in the repo ends in one).
    Anything else funneling into a single partition — global sorts,
    unpartitioned windows, non-aggregate exchanges — is returned for
    the gate to fail on. (Before round 11 the blanket substring check
    never matched formatted output at all, so gates written as 'no
    Exchange SinglePartition' were vacuous; with the simple tree
    appended they'd mis-fire on the legitimate scalar merges — this
    helper is the real contract.)"""
    lines = simple_part(plan).splitlines()
    out = []
    for i, l in enumerate(lines):
        if "Exchange SinglePartition" not in l:
            continue
        # in the DFS rendering the exchange's CHILD is always the next
        # line (its parent may not be adjacent when the exchange is a
        # later child of a join) — and the child alone decides
        # boundedness: a partial keys=[] aggregate emits one row per
        # upstream task, so the exchange moves cluster-bounded rows
        child = lines[i + 1] if i + 1 < len(lines) else ""
        scalar_partial = "partial_" in child and (
            "Aggregate(keys=[]" in child or "Aggregate(key=[]" in child
        )
        if scalar_partial:
            continue
        out.append(l)
    return out


def test_q01_filter_pushdown_and_pruning(spark, sf_dir):
    plan = plan_of(Q.q01_scan_filter_project(spark, sf_dir))
    assert "PushedFilters" in plan and "LessThanOrEqual(l_shipdate" in plan
    # projection pruned to exactly the needed columns at the scan
    read = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "l_shipdate" in read and "l_discount" not in read and "l_returnflag" not in read


def test_q03_q04_broadcast_joins(spark, sf_dir):
    assert "BroadcastHashJoin" in plan_of(Q.q03_broadcast_join(spark, sf_dir))
    p4 = plan_of(Q.q04_shipping_priority(spark, sf_dir))
    # both dim sides broadcast (tree lines; details repeat the node name)
    assert p4.count("BroadcastHashJoin Inner") == 2
    assert "SortMergeJoin" not in p4


def test_q02_partial_final_aggregation(spark, sf_dir):
    plan = plan_of(Q.q02_pricing_summary(spark, sf_dir))
    # partial (map-side) + final hash aggregate around one exchange
    assert formatted_part(plan).count("HashAggregate") >= 2
    assert "Functions [8]" in plan or "sum" in plan


def test_q05_semi_q06_anti_plan(spark, sf_dir):
    assert "LeftSemi" in plan_of(Q.q05_semi_join(spark, sf_dir))
    assert "LeftAnti" in plan_of(Q.q06_anti_join(spark, sf_dir))


def test_q04_top10_uses_take_ordered(spark, sf_dir):
    assert "TakeOrderedAndProject" in plan_of(Q.q04_shipping_priority(spark, sf_dir))


def test_bucketed_join_no_shuffle(spark, sf_dir):
    import shutil

    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    for t in ("b_cust", "b_orders"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree(f"{warehouse}/{t}", ignore_errors=True)
    bucketize(cust.select("c_custkey", "c_name"), "b_cust", ["c_custkey"], 8)
    bucketize(
        orders.select("o_custkey", "o_totalprice"), "b_orders", ["o_custkey"], 8
    )
    # disable broadcast so the join strategy is decided by co-location
    # (at real scale both sides are too big to broadcast anyway)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        bc = spark.table("b_cust")
        bo = spark.table("b_orders")
        joined = bc.join(bo, bc["c_custkey"] == bo["o_custkey"])
        plan = plan_of(joined)
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan  # co-located buckets: zero shuffle
        assert joined.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_salted_join_preserves_semantics(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer").withColumnRenamed("c_custkey", "o_custkey")
    plain = (
        orders.join(cust, on="o_custkey")
        .groupBy("o_custkey")
        .agg(F.count("*").alias("n"))
    )
    salted = (
        salted_join(orders, cust, on="o_custkey", n_salts=8)
        .groupBy("o_custkey")
        .agg(F.count("*").alias("n"))
    )
    a = {(r["o_custkey"], r["n"]) for r in plain.collect()}
    b = {(r["o_custkey"], r["n"]) for r in salted.collect()}
    assert a == b


def test_q54_pivot_partial_final_agg(spark, sf_dir):
    plan = plan_of(Q.q54_pivot(spark, sf_dir))
    # pivot lowers to a regular two-phase hash aggregate — no extra
    # distinct-values scan because the value list is explicit
    assert formatted_part(plan).count("HashAggregate") >= 2
    assert "CartesianProduct" not in plan


def test_q56_ngram_join_is_not_cartesian(spark, sf_dir):
    plan = plan_of(Q.q56_ngram_jaccard(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q57_gapfill_no_unpartitioned_window(spark, sf_dir):
    plan = plan_of(Q.q57_time_bucket_gapfill(spark, sf_dir))
    assert "CartesianProduct" not in plan
    # every Window node is keyed (no global sort funnel)
    assert not unpartitioned_window_lines(plan), plan


def test_q58_split_is_single_pass(spark, sf_dir):
    plan = plan_of(Q.q58_deterministic_split(spark, sf_dir))
    # one scan, one partial+final agg — the split expr must not force extra
    # exchanges beyond the groupBy
    assert formatted_part(plan).count("InMemoryFileIndex") == 1  # exactly one file scan
    assert formatted_part(plan).count("HashAggregate") >= 2


def test_q61_stratified_sample_filter_at_scan(spark, sf_dir):
    plan = plan_of(Q.q61_stratified_sample(spark, sf_dir))
    # the md5-threshold keep-flag is a plain filter over one scan: no
    # shuffle before the aggregation, no Python
    assert formatted_part(plan).count("InMemoryFileIndex") == 1
    assert "Filter" in plan and "HashAggregate" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_q62_packing_single_partitioned_window(spark, sf_dir):
    plan = plan_of(Q.q62_sequence_packing(spark, sf_dir))
    # one keyed window (per-lang cumsum), no global sort funnel
    assert "Window" in plan
    for line in plan.splitlines():
        if "Arguments" in line and "windowspecdefinition" in line.lower():
            assert "lang" in line
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_q66_repetition_single_shuffle_no_cartesian(spark, sf_dir):
    plan = plan_of(Q.q66_repetition_quality(spark, sf_dir))
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    # the top-token path is partial+final hash agg keyed by doc id
    assert formatted_part(plan).count("HashAggregate") >= 2


def test_q68_bm25_filters_terms_before_aggregation(spark, sf_dir):
    plan = plan_of(Q.q68_bm25_search(spark, sf_dir))
    # the literal IN-filter on query terms must run below the tf
    # aggregation: only matching tokens reach the shuffle
    assert "IN (spark,join,fast)" in plan, plan
    assert "TakeOrderedAndProject" in plan  # global top-k, no full sort
    assert "CartesianProduct" not in plan


def test_q67_tfidf_ranking_window_is_partitioned(spark, sf_dir):
    plan = plan_of(Q.q67_tfidf_top_terms(spark, sf_dir))
    assert "Window" in plan
    # every window spec carries the doc-id partition key
    specs = [l for l in plan.splitlines() if "row_number" in l]
    assert specs and all("id" in l for l in specs)


def test_q69_hygiene_battery_plan(spark, sf_dir):
    from snowplow_s3_loader_spark.plans.composites import q69_hygiene_battery

    plan = plan_of(q69_hygiene_battery(spark, sf_dir))
    # decontamination: benchmark grams broadcast into a left-semi join;
    # no cartesian anywhere in the battery
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan
    semi_lines = [l for l in plan.splitlines() if "LeftSemi" in l]
    assert semi_lines, "expected LeftSemi broadcast joins (grams vs benchmark/dup sets)"


def test_q58_sampling_battery_plan(spark, sf_dir):
    from snowplow_s3_loader_spark.plans.composites import q58_sampling_battery

    plan = plan_of(q58_sampling_battery(spark, sf_dir))
    # the temperature keep-fraction relation (class-sized) must broadcast
    # back to the docs side, never shuffle the corpus for it
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


def test_q29_text_signals_lm_aggregation_partial(spark, sf_dir):
    from snowplow_s3_loader_spark.plans.composites import q29_text_signals

    plan = plan_of(q29_text_signals(spark, sf_dir))
    # the bigram/context count aggregations run partial+final
    assert "partial_count" in plan
    assert "CartesianProduct" not in plan


def test_q37_hll_registers_never_shuffle_per_key(spark, sf_dir):
    """Round 5: mixing count_distinct with approx_count_distinct in ONE
    agg makes Catalyst carry the 410-long HLL register array per group
    key through the shuffle (47 MiB at sf0.01, ~0.5 GB at sf0.1). The
    split-branch shape must keep every approx_count_distinct inside a
    GLOBAL (key-less) aggregate."""
    plan = plan_of(Q.q37_approx_distinct(spark, sf_dir))
    # two independent 1-row branches joined
    assert "BroadcastNestedLoopJoin" in plan or "CartesianProduct" in plan
    for block in plan.split("\n\n"):
        if "approx_count_distinct" in block and "Keys" in block:
            keys_lines = [l for l in block.splitlines() if l.startswith("Keys")]
            assert all("[]" in l for l in keys_lines), block


def test_q48_recall_spine_from_base_table(spark, sf_dir):
    """The recall invariant's spine must come from the base table (one
    Filter->Scan), not a distinct over the brute-force branch — the
    expensive exact top-k subtree appears exactly once."""
    plan = plan_of(Q.q48_ann_ivf(spark, sf_dir))
    tree = plan.split("\n\n")[0]
    # the final LeftOuter joins spine x hit counts; its LEFT child (the
    # ':-' prefixed subtree) must be a plain Filter->Scan of the base
    # table — NOT a re-derivation of the windowed brute-force top-k
    lines = tree.splitlines()
    (join_i,) = [i for i, l in enumerate(lines) if "LeftOuter" in l]
    left_child = []
    for l in lines[join_i + 1 :]:
        if ":-" not in l and ":" not in l.split("+-")[0]:
            break
        left_child.append(l)
        if "Scan parquet" in l:
            break
    left_txt = "\n".join(left_child)
    assert "Scan parquet" in left_txt, left_txt
    assert "Window" not in left_txt and "WindowGroupLimit" not in left_txt, left_txt


def test_connected_components_round_join_is_co_partitioned(spark, sf_dir):
    """The CC loop's per-round join must reuse the explicit hash
    partitioning of the checkpointed frames: edges (on d) x labels (on v)
    join with NO Exchange under the join — only the groupBy repartition
    shuffles (round-5 shape)."""
    from snowplow_s3_loader_spark.materialize import (
        checkpoint_nostats,
        release_materialized,
    )

    edges = checkpoint_nostats(
        spark.createDataFrame([(i, i + 1) for i in range(100)], "s long, d long"),
        4,
        ["d"],
    )
    labels = checkpoint_nostats(
        edges.select(F.col("s").alias("v")).distinct().withColumn("lbl", F.col("v")),
        4,
        ["v"],
    )
    try:
        joined = edges.join(labels, edges.d == labels.v)
        plan = plan_of(joined)
        # both sides are pre-partitioned LogicalRDDs: the join introduces
        # no Exchange (shuffle) at all
        assert "Exchange" not in plan, plan
    finally:
        release_materialized(edges)
        release_materialized(labels)


def test_component_map_state_never_shuffles_in_lookup(spark, sf_dir):
    """ComponentMap keeps state hash-partitioned on `node` at a constant
    width; the per-batch endpoint-lookup joins repartition the BATCH side
    to match, so the (corpus-sized) state side plans with no Exchange —
    delta-proportional per-batch cost. Mirrors update()'s join shape."""
    from snowplow_s3_loader_spark.operators.graph import ComponentMap

    m = ComponentMap()
    m.update(spark.createDataFrame([(1, 2), (3, 4)], "id_a long, id_b long"))
    state, w = m.state, m.state_partitions
    edges = (
        spark.createDataFrame([(2, 3)], "id_a long, id_b long")
        .select(F.col("id_a").alias("ea"), F.col("id_b").alias("eb"))
        .distinct()
    )
    ca = state.select(F.col("node").alias("ea"), F.col("component").alias("comp_a"))
    cb = state.select(F.col("node").alias("eb"), F.col("component").alias("comp_b"))
    mapped = (
        edges.repartition(w, "ea")
        .join(ca, "ea", "left")
        .repartition(w, "eb")
        .join(cb, "eb", "left")
    )
    tree = plan_of(mapped).split("\n\n")[0]
    # exactly the batch side's exchanges (distinct agg + two repartitions,
    # adjacent ones collapsed): a 4th would mean state started shuffling
    assert tree.count("Exchange") <= 3, tree
    m.release()


def test_checkpoint_nostats_trust_claim_verified(spark, sf_dir):
    """trust_partitioning=True verifies the executed plan's final
    (post-AQE) outputPartitioning against the claim (round-5 ADVICE): a
    true claim passes and advertises the layout; a FALSE claim (wrong
    key or wrong width) raises AssertionError instead of silently
    producing wrong co-partitioned joins downstream."""
    import pytest

    from snowplow_s3_loader_spark.materialize import (
        checkpoint_nostats,
        release_materialized,
    )

    base = spark.range(200).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("v")
    )
    # true claim: plan really ends in hash(k) x 8
    good = checkpoint_nostats(base.repartition(8, "k"), 8, ["k"], trust_partitioning=True)
    assert good.count() == 200
    release_materialized(good)

    # false claims: wrong key / wrong width / no repartition at all /
    # SUPERSET layout (hash(k,v) does NOT satisfy a hash(k) claim — a
    # substring check would bless it and downstream co-partitioned joins
    # on k would silently drop matches)
    with pytest.raises(AssertionError, match="trust_partitioning"):
        checkpoint_nostats(base.repartition(8, "v"), 8, ["k"], trust_partitioning=True)
    with pytest.raises(AssertionError, match="trust_partitioning"):
        checkpoint_nostats(base.repartition(4, "k"), 8, ["k"], trust_partitioning=True)
    with pytest.raises(AssertionError, match="trust_partitioning"):
        checkpoint_nostats(base, 8, ["k"], trust_partitioning=True)
    # no block leak from a failed claim: the failing path must release
    # the checkpoint it just materialized before raising (relative count:
    # the shared session may hold other tests' blocks)
    jsc = spark.sparkContext._jsc.sc()
    before_blocks = jsc.getPersistentRDDs().size()
    with pytest.raises(AssertionError, match="trust_partitioning"):
        checkpoint_nostats(
            base.repartition(8, "k", "v"), 8, ["k"], trust_partitioning=True
        )
    assert jsc.getPersistentRDDs().size() <= before_blocks


def test_q73_group_reservoir_rank_pushdown(spark, sf_dir):
    """The per-group reservoir must plan with WindowGroupLimit (rank
    pushdown: each partition retains only n rows per group BEFORE the
    final window filter) and exactly one exchange on the group key — a
    plain window+filter over the full corpus would sort everything."""
    plan = plan_of(Q.q73_group_reservoir(spark, sf_dir))
    assert "WindowGroupLimit" in plan, plan


def test_join_strategy_hints_control_physical_plan(spark, sf_dir):
    """The engine can pin each physical join strategy via hints — the
    knob a 100 TB tuning pass reaches for when AQE's choice is wrong
    (e.g. forcing shuffle-hash over sort-merge for a skew-salted key,
    or un-broadcasting a dimension that outgrew the executors)."""
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    orders = load_table(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    cases = {
        "broadcast": "BroadcastHashJoin",
        "shuffle_hash": "ShuffledHashJoin",
        "merge": "SortMergeJoin",
    }
    for hint, node in cases.items():
        plan = plan_of(orders.join(cust.hint(hint), orders.o_custkey == cust.c_custkey))
        assert node in plan, (hint, plan)


def test_pagerank_round_join_is_co_partitioned(spark, sf_dir):
    """The PageRank loop's per-round rank-to-adjacency join must reuse
    the advertised hash layouts (adj on s, ranks on node) — zero
    Exchange under the join, exactly the CC round-join shape."""
    from snowplow_s3_loader_spark.materialize import (
        checkpoint_nostats,
        release_materialized,
    )

    adj = checkpoint_nostats(
        spark.createDataFrame(
            [(i, i + 1, 1) for i in range(100)], "s long, d long, outdeg long"
        ),
        4,
        ["s"],
    )
    ranks = checkpoint_nostats(
        adj.select(F.col("s").alias("node")).distinct()
        .withColumn("pr", F.lit(1000).cast("long")),
        4,
        ["node"],
    )
    try:
        joined = adj.join(ranks, adj.s == ranks.node)
        plan = plan_of(joined)
        assert "Exchange" not in plan, plan
    finally:
        release_materialized(adj)
        release_materialized(ranks)


def test_cdc_merge_snapshot_side_never_shuffles(spark, sf_dir):
    """apply_changelog(broadcast_changes=True): the snapshot reaches the
    anti join through a BroadcastHashJoin — no Exchange on the snapshot
    branch (only the changelog's window sorts/shuffles)."""
    from snowplow_s3_loader_spark.operators import cdc

    snap = spark.range(1000).select(
        F.col("id"), F.lit("x").alias("name")
    )
    changes = spark.createDataFrame(
        [(1, "y", 10, "U"), (2, "z", 11, "D")],
        "id long, name string, seq long, op string",
    )
    out = cdc.apply_changelog(snap, changes, ["id"], "seq", broadcast_changes=True)
    plan = plan_of(out)
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, plan
    # the snapshot branch is range->project->broadcast-anti-join: the only
    # Exchanges in the whole plan belong to the changelog's window
    head, _, _ = plan.partition("Window")
    assert "Exchange" not in head.split("BroadcastExchange")[0], plan


def test_new_pair_generators_plan_no_cartesian(spark, sf_dir):
    """q90 (interval overlap), q91 (triangles), and q93 (frequent pairs)
    generate pairs through keyed equi-joins — none may plan a
    CartesianProduct or BroadcastNestedLoopJoin."""
    from snowplow_s3_loader_spark.plans import queries as Q

    for name in (
        "q90_interval_overlap",
        "q91_triangle_count",
        "q93_frequent_pairs",
    ):
        plan = plan_of(Q.QUERIES[name](spark, sf_dir))
        assert "CartesianProduct" not in plan, (name, plan)
        assert "BroadcastNestedLoop" not in plan, (name, plan)


def test_triangle_wedge_stream_shuffle_structure(spark):
    """The O(|E|^1.5) wedge stream is the triangle pipeline's dominant
    intermediate; its shuffle structure is the scale property. With
    `ranked` checkpointed on an advertised hash(a) layout the wedge
    self-join on u is co-partitioned (zero Exchange), so:
    - broadcast path (edge list under the threshold): the closure is a
      broadcast semi join -> the closed-wedge plan has NO shuffle
      Exchange at all;
    - fallback path: exactly the two Exchanges of the (v, w) closure
      semi join sides."""
    from snowplow_s3_loader_spark.materialize import release_materialized
    from snowplow_s3_loader_spark.operators.graph import _oriented_closed_wedges

    pairs = spark.createDataFrame(
        [(i, (i * 7 + j) % 40) for i in range(40) for j in range(1, 4)],
        "id_a long, id_b long",
    )
    for threshold, max_exchanges in ((10**9, 0), (0, 2)):
        ranked, closed = _oriented_closed_wedges(pairs, "id_a", "id_b", threshold)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            closed.explain()  # simple mode: each node printed exactly once
        plan = buf.getvalue()
        n_shuffle = formatted_part(plan).count("Exchange hashpartitioning")
        assert n_shuffle <= max_exchanges, (threshold, plan)
        assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan
        if threshold == 0:
            # fallback must not silently broadcast the closure side
            assert "BroadcastExchange" not in plan, plan
        release_materialized(ranked)


def _nodes(plan: str, name: str) -> int:
    """Count physical nodes in a formatted explain (each node prints in
    the tree AND the details section — count the detail headers)."""
    return len(re.findall(rf"\(\d+\) {name}\b", plan))


def test_q108_transitions_one_event_volume_window(spark, sf_dir):
    """The lead() pass is the only event-volume window; the normalizing
    sum-over runs on the aggregated |types|^2 matrix. Both windows must
    be keyed, the transition agg partial+final, and no join at all."""
    plan = plan_of(Q.q108_transition_matrix(spark, sf_dir))
    assert _nodes(plan, "Window") == 2, plan
    assert _nodes(plan, "HashAggregate") >= 2, plan  # partial+final counts
    assert "CartesianProduct" not in plan and "Join" not in plan


def test_q109_anomalies_single_keyed_window(spark, sf_dir):
    """One partitioned window carries all three rolling sums (n, S, Q) —
    a plan with one Window node per aggregate would sort the events
    three times."""
    plan = plan_of(Q.q109_rolling_anomalies(spark, sf_dir))
    assert _nodes(plan, "Window") == 1, plan
    assert "CartesianProduct" not in plan and "Join" not in plan


def test_q107_snapshot_diff_single_join_no_python(spark, sf_dir):
    """The diff is ONE full-outer join; the classifier is a JVM
    projection (no Python eval anywhere in the plan)."""
    plan = plan_of(Q.q107_snapshot_diff(spark, sf_dir))
    joins = _nodes(plan, "SortMergeJoin") + _nodes(plan, "ShuffledHashJoin")
    assert joins == 1, plan
    assert "FullOuter" in plan
    assert "Python" not in plan
    assert "CartesianProduct" not in plan


def test_fuzzy_join_deletion_path_single_equi_join(spark):
    """tau<=1 candidates meet through ONE equi-join on the deletion
    variant; verification is a projection — no second join, nothing
    nested-loop."""
    from snowplow_s3_loader_spark.operators.linkage import edit_distance_self_join

    df = spark.createDataFrame(
        [(i, f"name {i:05d}") for i in range(100)], "id long, name string"
    )
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        edit_distance_self_join(df, "id", "name", 1).explain("formatted")
    plan = buf.getvalue()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    n_joins = sum(_nodes(plan, j) for j in
                  ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin"))
    assert n_joins == 1, plan


def test_q113_bitmap_agg_partial_final_no_python(spark, sf_dir):
    """Every bitmap aggregation must get map-side combine (partial +
    final HashAggregate around each exchange) and stay fully JVM-side —
    the bounded-shuffle claim rests on the partial agg."""
    plan = plan_of(Q.q113_bitmap_distinct(spark, sf_dir))
    assert _nodes(plan, "HashAggregate") >= 2, plan
    assert "Python" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q114_skyline_windows_keyed_no_quadratic_join(spark, sf_dir):
    """The skyline must never plan a dominance self-join (quadratic) or
    a global unpartitioned window (single-task sort funnel): the scan
    window is keyed by bucket, the prefix-min side arrives broadcast."""
    plan = plan_of(Q.q114_skyline(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert _nodes(plan, "BroadcastHashJoin") == 1, plan
    assert not unpartitioned_window_lines(plan), plan


def test_q115_cusum_one_sort_no_join(spark, sf_dir):
    """Both CUSUM window passes (running sum, then running min of it)
    must ride ONE partitioned sort — a plan that re-sorts per window
    doubles the dominant cost; no join belongs anywhere."""
    from snowplow_s3_loader_spark.operators.timeseries import cusum_alarms

    ev = load_table(spark, sf_dir, "events").select(
        "event_type", "event_id", "ts",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    plan = plan_of(
        cusum_alarms(ev, "event_type", ["ts", "event_id"], "cents", 5000, 1000, 50_000)
    )
    assert _nodes(plan, "Sort") == 1, plan
    # exactly one hash exchange on the series key (the cached source
    # table contributes an unrelated round-robin exchange)
    assert formatted_part(plan).count("hashpartitioning(event_type") == 1, plan
    assert "Join" not in plan and "CartesianProduct" not in plan


def test_q116_trend_single_aggregation_pass(spark, sf_dir):
    """All five OLS sums must come from ONE partial+final aggregation —
    no window, no join, no second scan of orders."""
    plan = plan_of(Q.q116_group_trend(spark, sf_dir))
    assert _nodes(plan, "HashAggregate") == 2, plan
    assert _nodes(plan, "Window") == 0, plan
    assert "Join" not in plan and "CartesianProduct" not in plan
    assert formatted_part(plan).count("InMemoryFileIndex") == 1, plan


def test_q117_item_similarity_all_equi_joins(spark, sf_dir):
    """The pair expansion and both count joins must be equi-joins —
    nothing nested-loop, nothing cartesian; the top-k window is keyed."""
    plan = plan_of(Q.q117_item_similarity(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert not unpartitioned_window_lines(plan), plan


def test_q118_weighted_sample_rank_pushdown(spark, sf_dir):
    """Priority sampling must keep group_reservoir's WindowGroupLimit
    shape — the weight division must not defeat the rank pushdown."""
    plan = plan_of(Q.q118_weighted_sample(spark, sf_dir))
    assert "WindowGroupLimit" in plan, plan
    assert "Join" not in plan and "CartesianProduct" not in plan


def test_q121_quantile_rank_one_keyed_window(spark, sf_dir):
    """row_number and the group count must share ONE window partition
    spec — one hash exchange, one sort, no unpartitioned window."""
    plan = plan_of(Q.q121_quantile_rank(spark, sf_dir))
    assert formatted_part(plan).count("hashpartitioning(event_type") == 1, plan
    assert not unpartitioned_window_lines(plan), plan
    assert "Join" not in plan and "CartesianProduct" not in plan


def test_q122_group_mode_two_aggs_no_window(spark, sf_dir):
    """Mode = count agg + min_by agg over the reduced frame: both
    partial+final, zero windows, zero joins."""
    plan = plan_of(Q.q122_group_mode(spark, sf_dir))
    assert _nodes(plan, "HashAggregate") + _nodes(plan, "SortAggregate") >= 4, plan
    assert _nodes(plan, "Window") == 0, plan
    assert "Join" not in plan and "CartesianProduct" not in plan


def test_q124_line_dedup_one_reassembly_agg(spark, sf_dir):
    """The flagging join must be an equi-join on the line key (never
    nested-loop), and the per-doc aggregation computes counts and the
    ordered reassembly together — one doc-keyed agg pair."""
    plan = plan_of(Q.q124_line_dedup(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert _nodes(plan, "Generate") <= 2, plan  # one explode per consumer


def test_q125_kmeans_assignment_is_pure_expressions(spark, sf_dir):
    """Final assignment under literal centroids: zero joins, zero
    windows — broadcast-expression argmin over the checkpointed
    quantized corpus."""
    plan = plan_of(Q.q125_kmeans(spark, sf_dir))
    assert "Join" not in plan and "CartesianProduct" not in plan
    assert _nodes(plan, "Window") == 0, plan


def test_q126_trailing_distinct_broadcast_day_semi(spark, sf_dir):
    """The fan-out prunes against the observed-day frame via a
    BROADCAST semi join (days are tiny); the raw stream must reduce
    before any sequence explode (Generate operates on the checkpointed
    bitmap frame, never the events scan)."""
    plan = plan_of(Q.q126_trailing_distinct(spark, sf_dir))
    assert "BroadcastHashJoin LeftSemi" in plan, plan
    assert "SortMergeJoin LeftSemi" not in plan, plan
    # the explode's child is the checkpointed LogicalRDD, not a scan
    gen = [l for l in plan.splitlines() if "Generate" in l and "Input" not in l]
    assert gen, plan
    assert "parquet" not in plan.split("Generate")[0].splitlines()[-1]


def test_q127_rrf_windows_on_bounded_candidates_only(spark, sf_dir):
    """Each BM25 list caps with TakeOrderedAndProject (distributed
    top-k, no global sort of the corpus); the only unpartitioned
    windows run AFTER the limits, on k-scale frames."""
    plan = plan_of(Q.q127_hybrid_search(spark, sf_dir))
    assert formatted_part(plan).count("TakeOrderedAndProject") >= 2, plan
    assert "CartesianProduct" not in plan


def test_q128_covariance_single_scan_single_agg(spark, sf_dir):
    """All 136 pair moments from ONE scan of embeddings and ONE
    partial+final aggregation — no joins, no windows, no second scan."""
    plan = plan_of(Q.q128_embedding_covariance(spark, sf_dir))
    assert _nodes(plan, "HashAggregate") == 2, plan
    assert "Join" not in plan and "CartesianProduct" not in plan
    assert _nodes(plan, "Window") == 0, plan
    assert formatted_part(plan).count("InMemoryFileIndex") == 1, plan


def test_q129_collocations_no_self_join_distributed_topk(spark, sf_dir):
    """Bigrams are positional (zip_with) — no token self-join anywhere;
    the top-k is TakeOrderedAndProject; the only nested-loop join is
    the 1-row broadcast total (the scalar-frame pattern)."""
    plan = plan_of(Q.q129_collocations(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan, plan
    assert "CartesianProduct" not in plan
    assert _nodes(plan, "BroadcastNestedLoopJoin") <= 1, plan


def test_q130_winsorize_one_window_pass_broadcast_bounds(spark, sf_dir):
    """The percentile ladder and group count share ONE keyed window
    partitioning; the bounds join back as a broadcast."""
    plan = plan_of(Q.q130_winsorize(spark, sf_dir))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert not unpartitioned_window_lines(plan), plan


def test_q131_session_paths_shared_user_sort(spark, sf_dir):
    """Both window passes and the session collapse ride the user-keyed
    partitioning — exactly one hash exchange on user_id; no
    unpartitioned window."""
    plan = plan_of(Q.q131_session_paths(spark, sf_dir))
    assert formatted_part(plan).count("hashpartitioning(user_id") == 1, plan
    assert not unpartitioned_window_lines(plan), plan
    assert "Join" not in plan and "CartesianProduct" not in plan


def test_q132_spearman_no_single_task_ranking(spark, sf_dir):
    """Both rankings ride the two-phase global_row_number — no
    unpartitioned window over the rows anywhere; tie stats join back on
    the value key (hash joins only)."""
    plan = plan_of(Q.q132_spearman(spark, sf_dir))
    assert not unpartitioned_window_lines(plan), plan
    assert "CartesianProduct" not in plan


def test_q133_label_scatter_no_corpus_join(spark, sf_dir):
    """Per-row |x|^2 needs no explode; the only join is between the two
    |labels|-sized aggregates."""
    plan = plan_of(Q.q133_label_scatter(spark, sf_dir))
    assert _nodes(plan, "Generate") == 1, plan  # the (label, dim) explode
    assert "CartesianProduct" not in plan
    assert formatted_part(plan).count("InMemoryFileIndex") <= 2, plan


def test_q134_topo_peel_anti_joins_only(spark, sf_dir):
    """The Kahn peel's per-round prunes are anti joins off checkpointed
    frames — no cartesian, no unpartitioned window; the result frame is
    a materialized checkpoint."""
    plan = plan_of(Q.q134_topo_layers(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "Window" not in plan


def test_link_prediction_wedge_join_co_partitioned(spark):
    """q135's scale properties: the wedge self-join runs on the ctr
    checkpoint's advertised hash(w) layout (zero Exchange on either
    leg), existing-edge removal is a keyed anti join, and no cartesian /
    nested-loop join exists anywhere. On the small-graph path the only
    Exchange left in the whole lazy pipeline is the candidate groupBy's
    — everything else rides broadcasts over the checkpoints."""
    from snowplow_s3_loader_spark.materialize import release_materialized
    from snowplow_s3_loader_spark.operators.graph import _linkpred_plan

    pairs = spark.createDataFrame(
        [(i, (i * 7 + j) % 40) for i in range(40) for j in range(1, 4)],
        "id_a long, id_b long",
    )
    frames, lazy = _linkpred_plan(
        pairs, "id_a", "id_b",
        min_common=1, max_wedge_degree=None,
        broadcast_threshold=10**9, scale=1_000_000,
    )
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        lazy.explain()
    plan = buf.getvalue()
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan
    # wedge join co-partitioned + broadcast edge/degree lookups: the
    # candidate aggregation's Exchange is the only shuffle
    assert formatted_part(plan).count("Exchange hashpartitioning") <= 1, plan
    for f in frames:
        release_materialized(f)


def test_q136_kmv_rank_pushdown_no_full_sort(spark, sf_dir):
    """The k-smallest-hashes filter must ride WindowGroupLimit (each
    task keeps a local top-k before the per-group sort), and the only
    joins are the final broadcast assembly of the 5-row audit frames —
    no cartesian, no full-table sort."""
    plan = plan_of(Q.q136_kmv_distinct(spark, sf_dir))
    assert "WindowGroupLimit" in plan, plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan


def test_q137_winnow_one_keyed_sort_no_window_enumeration(spark, sf_dir):
    """Winnowing must run as ONE (doc, pos)-keyed sort with the
    selection as pure expressions: a single Window node (the two
    bounded collect_list frames + the doc count share it), no join of
    grams against enumerated windows, no cartesian."""
    plan = plan_of(Q.q137_winnow_fingerprints(spark, sf_dir))
    assert "Join" not in plan and "CartesianProduct" not in plan, plan
    assert len(re.findall(r"\(\d+\) Window\b", plan)) <= 2, plan


def test_q138_acf_one_keyed_window_no_self_join(spark, sf_dir):
    """All 7 lag columns must ride ONE keyed window pass (a single
    Window node over one sort), with the |keys|-bounded stats riding a
    broadcast — the series stream is never joined against itself."""
    plan = plan_of(Q.q138_event_acf(spark, sf_dir))
    assert len(re.findall(r"\(\d+\) Window\b", plan)) == 1, plan
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan
    assert len(re.findall(r"\(\d+\) BroadcastHashJoin\b", plan)) <= 1, plan


def test_q139_association_single_corpus_aggregation(spark, sf_dir):
    """The corpus is aggregated ONCE into the checkpointed cell frame:
    the executed plan over the cells must contain no parquet scan of
    events (margins/spine/output all derive from the checkpoint), and
    the only cross join is the margins-sized broadcast spine."""
    plan = plan_of(Q.q139_association(spark, sf_dir))
    assert "Scan parquet" not in plan, plan
    assert len(re.findall(r"\(\d+\) BroadcastNestedLoopJoin\b", plan)) <= 1, plan


def test_q140_auc_keyed_windows_single_agg(spark, sf_dir):
    """Ranking and the tie window must both be keyed (no unpartitioned
    window), one partial+final aggregation, no join of the event stream
    against itself."""
    plan = plan_of(Q.q140_auc(spark, sf_dir))
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan
    for line in plan.splitlines():
        if "windowspecdefinition" in line.lower():
            assert "cohort" in line, line


def test_q141_ohlc_one_keyed_window_no_join(spark, sf_dir):
    """The bar computation must ride ONE keyed window pass (row_number,
    count, lead share a single Window node over one (keys, bucket) sort
    — the desc rank is derived as n - ra + 1, never a second sort) and
    one partial+final aggregation; the tick stream is never joined."""
    plan = plan_of(Q.q141_ohlc_bars(spark, sf_dir))
    assert "Join" not in plan and "CartesianProduct" not in plan, plan
    assert len(re.findall(r"\(\d+\) Window\b", plan)) == 1, plan
    for line in plan.splitlines():
        if "windowspecdefinition" in line.lower():
            assert "event_type" in line and "bucket" in line, line


def test_q142_unigram_broadcast_joins_only(spark, sf_dir):
    """The e-step result is a checkpointed vocab-sized frame; the output
    assembly must be broadcast joins against the (also checkpointed)
    vocab frames — no sort-merge join, no cartesian, no corpus rescan
    (the corpus is touched once inside the checkpointed word_counts)."""
    plan = plan_of(Q.q142_unigram_lm(spark, sf_dir))
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan
    assert "Scan parquet" not in plan, plan
    assert not data_sized_single_partitions(plan), plan
    assert len(re.findall(r"\(\d+\) BroadcastHashJoin\b", plan)) <= 2, plan


def test_seed_vocab_no_single_partition_exchange(spark, sf_dir):
    """The round-10 scale fix (VERDICT r9 #1): the seed-vocabulary rank
    cap must plan as a distributed top-k (TakeOrderedAndProject /
    partial limits), NEVER Exchange SinglePartition + full sort — the
    candidate-substring frame is corpus-vocabulary-bounded and this was
    the repo's one single-task cliff. Gated on the LAZY seed_vocab plan
    (q142/q144 checkpoint it, hiding the stage from their final plans)."""
    from snowplow_s3_loader_spark.operators import bpe
    from snowplow_s3_loader_spark.operators.unigram import seed_vocab

    docs = load_table(spark, sf_dir, "documents")
    plan = plan_of(seed_vocab(bpe.word_counts(docs, "text"), 4, 2, 8192))
    assert not data_sized_single_partitions(plan), plan
    assert "TakeOrderedAndProject" in plan, plan


def test_q143_url_dedup_expressions_plus_two_keyed_exchanges(spark, sf_dir):
    """Canonicalization must stay whole-stage-codegen expressions over
    the scan (no UDF); the rank is the skew-proof two-phase form: a
    (domain, salt)-keyed local window, a domain-keyed cumulative-offset
    window over the tiny counts frame, one offsets join, NOTHING
    single-partition — a mega-domain must never become one task's
    sort."""
    plan = plan_of(Q.q143_url_dedup(spark, sf_dir))
    assert "BatchEvalPython" not in plan, plan
    assert "ArrowEvalPython" not in plan and "MapInPandas" not in plan, plan
    assert not data_sized_single_partitions(plan), plan
    assert "CartesianProduct" not in plan, plan
    # exactly the two rank windows, both keyed (never unpartitioned)
    assert len(re.findall(r"\(\d+\) Window\b", plan)) == 2, plan
    for line in plan.splitlines():
        if "windowspecdefinition" in line.lower():
            assert "domain" in line, line
    # one offsets join only (broadcast or shuffle — both acceptable;
    # the big side's (domain, salt) partitioning satisfies either)
    assert len(re.findall(r"\(\d+\) \w*(HashJoin|MergeJoin)\b", plan)) == 1, plan


def test_q144_encode_no_join_one_agg(spark, sf_dir):
    """Encoding must be explode -> mapInPandas -> ONE doc-keyed
    aggregation: no join of the corpus against a word table (the
    recompute-beats-exchange rule documented on the operator)."""
    plan = plan_of(Q.q144_unigram_encode(spark, sf_dir))
    assert "Join" not in plan, plan
    assert not data_sized_single_partitions(plan), plan
    assert len(re.findall(r"\(\d+\) MapInPandas\b", plan)) == 1, plan
    assert len(re.findall(r"\(\d+\) HashAggregate\b", plan)) <= 2, plan


def test_q146_dsir_broadcast_model_no_single_partition(spark, sf_dir):
    """Scoring must be broadcast joins of the bucket-bounded model (and
    the 100-row selection flag) against the checkpointed per-doc weight
    frame — no sort-merge join, no cartesian, no Exchange
    SinglePartition (the top-k is TakeOrderedAndProject), and the
    corpus is exploded once inside the checkpointed feature frame (no
    parquet rescan in the final plan)."""
    plan = plan_of(Q.q146_dsir_selection(spark, sf_dir))
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan
    assert not data_sized_single_partitions(plan), plan
    assert "Scan parquet" not in plan, plan
    assert len(re.findall(r"\(\d+\) BroadcastHashJoin\b", plan)) <= 1, plan


def test_q146_selection_is_distributed_topk(spark, sf_dir):
    """The lazy dsir_select plan itself must be TakeOrderedAndProject
    (the q142 seed_vocab lesson: never a global rank window)."""
    from snowplow_s3_loader_spark.operators.dsir import (
        dsir_select,
        dsir_weights,
    )

    docs = load_table(spark, sf_dir, "documents")
    w = dsir_weights(docs, "doc_id", "text", F.col("lang") == "en", 256)
    plan = plan_of(dsir_select(w, 50))
    assert "TakeOrderedAndProject" in plan, plan
    assert not data_sized_single_partitions(plan), plan


def test_q147_shards_no_single_partition(spark, sf_dir):
    """The prefix sum is the two-phase range-partitioned pass (hidden
    as literal boundaries); the visible plan is the offset-map
    join + projection + one shard aggregation — nothing
    single-partition, no sort-merge join, every window keyed."""
    plan = plan_of(Q.q147_token_shards(spark, sf_dir))
    assert not data_sized_single_partitions(plan), plan
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan
    assert not unpartitioned_window_lines(plan), plan


def test_q148_moore_lewis_no_single_partition(spark, sf_dir):
    """The bigram stream is exploded once behind its checkpoint; the
    four count tables join back vocabulary-sized (broadcast under AQE
    at these SFs), the doc aggregation is partial+final — nothing
    single-partition, no cartesian."""
    plan = plan_of(Q.q148_moore_lewis(spark, sf_dir))
    assert not data_sized_single_partitions(plan), plan
    assert "CartesianProduct" not in plan, plan
    assert not unpartitioned_window_lines(plan), plan


def test_q149_novelty_gram_keyed_no_pair_space(spark, sf_dir):
    """Novelty must be gram-keyed joins only — no document self-join,
    no cartesian, no window, nothing single-partition (the presentation
    sort is the plan's only global exchange)."""
    plan = plan_of(Q.q149_ngram_novelty(spark, sf_dir))
    assert "CartesianProduct" not in plan, plan
    assert not data_sized_single_partitions(plan), plan
    assert "Window" not in plan, plan
    # scans: the corpus feeds the gram explode and the id spine — a doc
    # self-JOIN on equal ids is fine (the spine), but no join may key on
    # anything except gram/id equality (no range/theta join nodes)
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_q150_incremental_dedup_membership_only(spark, sf_dir):
    """The store is probed by ONE band-keyed LeftSemi join — membership,
    never a candidate-pair space (no self-join of the band frame, no
    cartesian), and nothing single-partition."""
    plan = plan_of(Q.q150_incremental_dedup(spark, sf_dir))
    assert "CartesianProduct" not in plan, plan
    assert not data_sized_single_partitions(plan), plan
    assert "LeftSemi" in plan, plan
    # exactly one semi join (the store probe); the id-spine left join
    # and the new-snapshot construction join are equi-joins on ids
    assert formatted_part(plan).count("LeftSemi") <= 2, plan


def test_q151_psi_no_single_partition(spark, sf_dir):
    """Edges ride the two-phase global ranking (behind its checkpoint);
    the visible plan is two scan-level bin projections + two k-row
    aggregations + broadcast merges — nothing single-partition, no
    sort-merge join, no window."""
    plan = plan_of(Q.q151_psi_drift(spark, sf_dir))
    assert not data_sized_single_partitions(plan), plan
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan
    assert not unpartitioned_window_lines(plan), plan


def test_q145_woe_no_single_task_ranking(spark, sf_dir):
    """The binning rides the two-phase global_row_number (no
    unpartitioned window over the rows); everything after the k-row
    aggregation is broadcast scalar merges."""
    plan = plan_of(Q.q145_feature_woe(spark, sf_dir))
    assert not unpartitioned_window_lines(plan), plan
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan


def test_q152_substring_keyed_no_pair_space(spark, sf_dir):
    """Substring duplication must be hash-keyed joins only (the q149
    shape at char level): the anchor filter runs scan-side before any
    exchange, no document self-join, no cartesian, nothing
    single-partition, every window keyed."""
    plan = plan_of(Q.q152_substring_dedup(spark, sf_dir))
    assert not data_sized_single_partitions(plan), plan
    assert "CartesianProduct" not in plan, plan
    assert not unpartitioned_window_lines(plan), plan


def test_q153_ks_no_single_partition(spark, sf_dir):
    """The packed prefix sum rides the literal-boundary ranking; the
    visible plan must carry no Exchange SinglePartition (the final max
    is a partial+final scalar aggregate), no cartesian, no sort-merge
    join, and only bucket-keyed windows."""
    plan = plan_of(Q.q153_ks_drift(spark, sf_dir))
    assert not data_sized_single_partitions(plan), plan
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan
    assert not unpartitioned_window_lines(plan), plan


def test_q154_zipf_topk_is_distributed(spark, sf_dir):
    """The token spectrum cap must be TakeOrderedAndProject (never a
    global rank window over the vocabulary); everything after runs on
    the k-row frame, nothing single-partition."""
    plan = plan_of(Q.q154_zipf_fit(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan, plan
    assert not data_sized_single_partitions(plan), plan
    assert "CartesianProduct" not in plan, plan


def test_q155_overlap_runs_on_sketch_frame(spark, sf_dir):
    """Everything after the shingle scan must run on the bounded
    signature frame: group-keyed windows only (no unpartitioned
    window), no Exchange SinglePartition, no cartesian over the
    corpus (the |sources|^2 pair expansion is sketch-sized)."""
    plan = plan_of(Q.q155_source_overlap(spark, sf_dir))
    assert not data_sized_single_partitions(plan), plan
    assert not unpartitioned_window_lines(plan), plan


def test_q156_calibration_corpus_agg_is_keyed(spark, sf_dir):
    """The corpus-scale stage must be ONE bin-keyed hash aggregation
    (map-side partial combine); the only single-partition machinery
    allowed is the k-row spine's ECE window + scalar merge — bounded
    by the monitor's own k, never by the data. Gate: the plan's
    SinglePartition exchanges stay at <= 2 and the bin aggregation is
    keyed; no cartesian, no sort-merge join."""
    plan = plan_of(Q.q156_calibration(spark, sf_dir))
    sp = [l for l in simple_part(plan).splitlines() if "Exchange SinglePartition" in l]
    assert len(sp) <= 2, plan
    assert "CartesianProduct" not in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "keys=[bin" in plan, plan


def test_q157_ab_test_strata_agg_keyed(spark, sf_dir):
    """The variant/success aggregation must be keyed on the stratum
    (event_type); the bounded multipliers (|types| grid, 1-row user
    count) ride broadcast joins — no non-broadcast cartesian, no
    unpartitioned window; the one scalar SinglePartition merge is the
    user-count aggregate (partial rows in, bounded)."""
    plan = plan_of(Q.q157_ab_test(spark, sf_dir))
    assert "CartesianProduct" not in plan, plan
    assert not data_sized_single_partitions(plan), plan
    assert not unpartitioned_window_lines(plan), plan
    assert "keys=[event_type" in plan, plan


def test_q158_fd_groupbys_are_keyed(spark, sf_dir):
    """Every per-pair aggregation must be keyed on its determinant;
    the only SinglePartition exchanges are the six per-pair scalar
    reductions (each fed by bounded partial rows). No window, no
    join, no cartesian anywhere."""
    plan = plan_of(Q.q158_fd_profile(spark, sf_dir))
    assert "CartesianProduct" not in plan, plan
    assert "windowspecdefinition" not in plan.lower(), plan
    assert not data_sized_single_partitions(plan), plan
    for det in ("o_orderkey", "o_custkey", "l_orderkey", "event_id", "user_id"):
        assert f"keys=[{det}" in plan, (det, plan)
    # round 13: ALL pairs of a table share ONE GROUPING SETS level-1
    # pass (Expand marks the shared multi-set aggregation; before, each
    # pair aggregated its own scan and no Expand existed anywhere)
    assert "Expand" in plan, plan


def test_q158_fd_level1_exchange_reused_at_runtime(spark, sf_dir):
    """The per-pair branches over one table's shared GROUPING SETS
    frame must actually REUSE the level-1 exchange at runtime (AQE
    stage reuse — invisible in the static plan, which prints one
    exchange per branch): after execution, the final adaptive plan
    carries a ReusedExchange for the orders and lineitem level-1
    stages (events rides the session's persisted InMemoryRelation, so
    its corpus scan is shared by construction either way)."""
    df = Q.q158_fd_profile(spark, sf_dir)
    df.collect()
    executed = df._jdf.queryExecution().executedPlan().toString()
    final = executed.split("Initial Plan")[0]
    reused = [
        ln for ln in final.splitlines() if "ReusedExchange" in ln
    ]
    assert any("o_orderkey" in ln for ln in reused), final
    assert any("l_orderkey" in ln for ln in reused), final


def _runtime_nodes(df) -> list:
    """Flatten the EXECUTED adaptive plan — including every materialized
    query stage's subtree, which the top-level toString hides — into
    simple class names. The only runtime-true census of what actually
    ran (static plans cannot show AQE stage dedup or its absence)."""
    out = []

    def walk(node):
        name = node.getClass().getSimpleName()
        out.append(name)
        if name == "AdaptiveSparkPlanExec":
            walk(node.executedPlan())
            return
        if "QueryStage" in name:
            walk(node.plan())
            return
        ch = node.children()
        for i in range(ch.size()):
            walk(ch.apply(i))

    walk(df._jdf.queryExecution().executedPlan())
    return out


def test_q148_ctx_rides_c2_no_third_corpus_explode(spark, sf_dir):
    """The bigram-LM context counts must ride the c2 aggregate as a
    window sum, never a second traversal of the corpus explode
    (round 14): the round-13 shape derived ctx as a second aggregation
    over c2 and relied on AQE exchange reuse, which Spark 4.1 cannot
    perform above a cached table (TableCacheQueryStageExec
    canonicalizes with its stage id) — the executed plan carried THREE
    GenerateExec corpus explodes, the exact silent-return failure the
    round-13 verdict flagged. Gate on the RUNTIME tree: exactly two
    corpus explodes (count pass + scoring pass) and one window.
    Non-vacuous by construction: the pre-change tree runs 3 Generates.
    (The vocabulary count-distinct is a separate eager query, so it
    never appears in this plan.)"""
    df = Q.q148_moore_lewis(spark, sf_dir)
    df.collect()
    nodes = _runtime_nodes(df)
    assert nodes.count("GenerateExec") == 2, nodes
    assert nodes.count("WindowExec") == 1, nodes


def test_q29_bigram_lm_no_third_corpus_explode(spark, sf_dir):
    """bigram_lm_scores (the q29 battery fold) carries the same window
    ctx shape as moore_lewis — gate its runtime explode count too.
    q29 adds repetition/chunking folds with their own explodes, so the
    gate runs the operator directly over the corpus."""
    from snowplow_s3_loader_spark.operators.lm import bigram_lm_scores

    docs = load_table(spark, sf_dir, "documents")
    df = bigram_lm_scores(docs, "doc_id", "text")
    # collect() executes df's OWN query execution — a noop write would
    # run a separate write plan and leave df's adaptive plan unexecuted,
    # making the census static instead of runtime-true
    df.collect()
    nodes = _runtime_nodes(df)
    assert nodes.count("GenerateExec") == 2, nodes
    assert nodes.count("WindowExec") == 1, nodes


def test_q159_entropy_keyed_no_pair_space(spark, sf_dir):
    """Char entropy is the q149 shape at char level: one explode, one
    (id, ch)-keyed count, one id-keyed reduction, one id-keyed join
    back — nothing single-partition except nothing at all, no
    cartesian, no window."""
    plan = plan_of(Q.q159_char_entropy(spark, sf_dir))
    assert not data_sized_single_partitions(plan), plan
    assert "CartesianProduct" not in plan, plan
    assert "windowspecdefinition" not in plan.lower(), plan


def test_q160_budget_select_distributed_prefix(spark, sf_dir):
    """The greedy budget cut rides the literal-boundary running total:
    no data-sized single-partition stage, no cartesian, every window
    bucket-keyed."""
    plan = plan_of(Q.q160_budget_select(spark, sf_dir))
    assert not data_sized_single_partitions(plan), plan
    assert "CartesianProduct" not in plan, plan
    assert not unpartitioned_window_lines(plan), plan


def test_q161_survival_all_windows_keyed(spark, sf_dir):
    """Every KM window is cohort-keyed over the distinct-time frame —
    no unpartitioned window, no join, no data-sized single partition."""
    plan = plan_of(Q.q161_survival(spark, sf_dir))
    assert not data_sized_single_partitions(plan), plan
    assert not unpartitioned_window_lines(plan), plan
    assert "CartesianProduct" not in plan, plan


def test_q162_bursts_keyed_dp(spark, sf_dir):
    """The gap windows are key-partitioned and the DP runs as one
    grouped Arrow pass keyed on the burst key — no data-sized single
    partition, no cartesian, no unpartitioned window."""
    plan = plan_of(Q.q162_bursts(spark, sf_dir))
    assert "FlatMapGroupsInPandas" in plan, plan
    assert not data_sized_single_partitions(plan), plan
    assert not unpartitioned_window_lines(plan), plan
    assert "CartesianProduct" not in plan, plan


def test_q163_truncation_recall_broadcast_scoring(spark, sf_dir):
    """Both scoring passes broadcast the query side over the corpus —
    no non-broadcast cartesian, no data-sized single partition; the
    overlap count is a query-keyed aggregation."""
    plan = plan_of(Q.q163_truncation_recall(spark, sf_dir))
    assert "CartesianProduct" not in plan, plan
    assert not data_sized_single_partitions(plan), plan
    assert "BroadcastNestedLoopJoin" in plan  # the != join, query side tiny


def test_q164_charset_single_projection(spark, sf_dir):
    """Charset mix is one scan + pure projections: no join, no window,
    no aggregate, no Python."""
    plan = plan_of(Q.q164_charset_mix(spark, sf_dir))
    assert "Join" not in plan, plan
    assert "windowspecdefinition" not in plan.lower(), plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert formatted_part(plan).count("InMemoryFileIndex") == 1, plan


def test_q165_burst_intervals_keyed_dp(spark, sf_dir):
    """Same contract as q162: key-partitioned gap windows, one grouped
    Arrow DP pass, no data-sized single partition, no cartesian."""
    plan = plan_of(Q.q165_burst_intervals(spark, sf_dir))
    assert "FlatMapGroupsInPandas" in plan, plan
    assert not data_sized_single_partitions(plan), plan
    assert not unpartitioned_window_lines(plan), plan
    assert "CartesianProduct" not in plan, plan


def test_q166_burst_hierarchy_keyed_dp(spark, sf_dir):
    plan = plan_of(Q.q166_burst_hierarchy(spark, sf_dir))
    assert "FlatMapGroupsInPandas" in plan, plan
    assert not data_sized_single_partitions(plan), plan
    assert not unpartitioned_window_lines(plan), plan
    assert "CartesianProduct" not in plan, plan


def test_q167_changepoint_one_keyed_window_pass(spark, sf_dir):
    """All windows ride the series key (one hash exchange); the argmax
    is a keyed aggregation — no unpartitioned window, no data-sized
    single partition, no Python, no join."""
    plan = plan_of(Q.q167_changepoint(spark, sf_dir))
    assert not unpartitioned_window_lines(plan), plan
    assert not data_sized_single_partitions(plan), plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "Join" not in plan, plan
    # exactly one data exchange: the series-keyed hash partitioning
    # (the final display orderBy adds a bounded rangepartitioning)
    assert simple_part(plan).count("Exchange hashpartitioning") == 1, plan


def test_q168_benford_two_keyed_aggs_and_spine(spark, sf_dir):
    """Digit counting is a keyed hash aggregation with partial combine;
    the spine join runs on the groups x 9 frame (broadcast) — no
    window, no data-sized single partition, no Python."""
    plan = plan_of(Q.q168_benford(spark, sf_dir))
    assert "windowspecdefinition" not in plan.lower(), plan
    assert not data_sized_single_partitions(plan), plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "partial_count" in plan, plan


def test_q169_mutual_information_pair_frame_bounded(spark, sf_dir):
    """One scan: the (x, y) aggregation has map-side partial combine;
    everything after runs on the distinct-pair frame (scalar merges are
    the bounded pattern) — no window, no Python, no cartesian blowup
    beyond the three one-row assembly joins."""
    plan = plan_of(Q.q169_mutual_information(spark, sf_dir))
    assert "partial_count" in plan, plan
    assert "windowspecdefinition" not in plan.lower(), plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert not data_sized_single_partitions(plan), plan
    assert formatted_part(plan).count("InMemoryFileIndex") == 1, plan
