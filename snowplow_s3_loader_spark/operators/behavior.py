"""Behavioral analytics over event streams: ordered-funnel analysis and
cohort retention — the product-analytics queries an event loader's
downstream warehouse exists to answer (beyond the reference's surface;
its loader only lands the events, Processing.scala:69-77).

Scale mechanics:
- ``funnel_steps`` is ONE user-partitioned window pass plus one keyed
  aggregation (round 7; it was previously a cascade of filtered
  aggregations re-joined per step, whose self-referencing plan
  re-evaluated step 1's aggregate 2^(k-1) times). Step k's candidate
  events are qualified by a running prefix-minimum of step k-1's
  qualified times over a strictly-before RANGE frame — all k-1 chained
  window expressions share one partitioning and one sort, and the
  per-user running minima are O(1) state per row, so there is no
  per-user array blowup for power users (the classic failure of
  collect_list-based funnels at 100 TB).
- ``cohort_retention`` is two keyed aggregations (first-seen per user,
  then the cohort x activity-period matrix) — the user dimension joins
  back via its natural key.

Determinism: step times are MINIMA of event timestamps (order-
independent), so results hash-match an engine-independent oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def funnel_steps(
    events: DataFrame,
    user_col: str,
    ts_col: str,
    type_col: str,
    steps: list[str],
    max_gap_seconds: int | None = None,
) -> DataFrame:
    """Ordered-funnel reach per user: for each user, ``t1`` is the
    earliest event of ``steps[0]``, ``t2`` the earliest ``steps[1]``
    STRICTLY AFTER ``t1``, and so on. Returns one row per user that
    reached at least step 1: (user, stage, t1..tk) with ``stage`` =
    number of steps reached and unreached step times null.

    The standard conversion-funnel semantics (each step must follow the
    previous one in time); same-timestamp events do NOT satisfy the
    strict ordering, which keeps the semantics engine-portable.
    ``max_gap_seconds`` adds the conversion-window variant: step k must
    also land within that many seconds of step k-1's reach time (the
    greedy earliest-qualifying chain; a later step-(k-1) event is never
    reconsidered, matching the standard windowed-funnel convention).

    Formulation: a step-k event at time ts is ON the user's greedy chain
    iff some qualified step-(k-1) event lies STRICTLY before ts (then
    the minimum such time IS the step-(k-1) reach time, and ts > it by
    construction). That existence test is a running prefix-minimum over
    a RANGE frame ending one microsecond before the current row, so the
    whole funnel is k-1 chained window columns over one user
    partitioning followed by one groupBy — one shuffle total. The
    microsecond order key goes through the session time zone for
    TIMESTAMP_NTZ inputs; run in a fixed-offset (UTC) session — the
    engine default via tune_session — for DST-proof strictness."""
    if not steps:
        raise ValueError("steps must be non-empty")
    from pyspark.sql import Window

    u, t = user_col, ts_col
    k = len(steps)
    gap_us = None if max_gap_seconds is None else int(max_gap_seconds) * 1_000_000
    df = events.select(
        F.col(u),
        F.col(t),
        F.col(type_col).alias("__type"),
        F.unix_micros(F.col(t).cast("timestamp")).alias("__us"),
    )
    w = (
        Window.partitionBy(u)
        .orderBy("__us")
        .rangeBetween(Window.unboundedPreceding, -1)  # strictly before
    )
    # __q{i}: this row's event time iff the row sits on the greedy chain
    # as a step-i event; __p{i}: min qualified step-i time strictly
    # before the current row (the reach time of step i once non-null)
    df = df.withColumn(
        "__q1", F.when(F.col("__type") == steps[0], F.col("__us"))
    )
    for i in range(2, k + 1):
        prev = F.min(f"__q{i-1}").over(w)
        cond = (F.col("__type") == steps[i - 1]) & prev.isNotNull()
        if gap_us is not None:
            cond = cond & (F.col("__us") <= prev + F.lit(gap_us))
        df = df.withColumn(f"__q{i}", F.when(cond, F.col("__us")))
    reached = df.groupBy(u).agg(
        *[
            F.min(F.when(F.col(f"__q{i}").isNotNull(), F.col(t))).alias(f"t{i}")
            for i in range(1, k + 1)
        ]
    )
    stage = F.lit(1)
    for i in range(2, k + 1):
        stage = stage + F.col(f"t{i}").isNotNull().cast("int")
    return reached.where(F.col("t1").isNotNull()).select(
        u, stage.alias("stage"), *[f"t{i}" for i in range(1, k + 1)]
    )


def funnel_summary(funnel: DataFrame, n_steps: int) -> DataFrame:
    """Per-stage conversion counts from a ``funnel_steps`` result:
    (step, n_users) where n_users counts users whose stage >= step."""
    return (
        funnel.select(
            F.explode(F.sequence(F.lit(1), F.lit(n_steps))).alias("step"), "stage"
        )
        .where(F.col("stage") >= F.col("step"))
        .groupBy("step")
        .agg(F.count("*").alias("n_users"))
    )


def cohort_retention(
    events: DataFrame,
    user_col: str,
    ts_col: str,
    unit: str = "week",
) -> DataFrame:
    """Cohort retention matrix: users are cohorted by the ``unit``-
    truncated timestamp of their FIRST event; each (cohort, period)
    row counts the cohort's users active in that period, plus
    ``periods_since`` (the retention age in whole units). Two keyed
    aggregations; the event stream shuffles once per."""
    u, t = user_col, ts_col
    diff_units = {"day": "DAY", "week": "WEEK", "month": "MONTH", "hour": "HOUR"}
    if unit not in diff_units:
        raise ValueError(
            f"unsupported unit {unit!r}: expected one of {sorted(diff_units)}"
        )
    first = events.groupBy(u).agg(F.date_trunc(unit, F.min(t)).alias("cohort"))
    diff_unit = diff_units[unit]
    return (
        events.select(u, F.date_trunc(unit, F.col(t)).alias("period"))
        .distinct()
        .join(first, u)
        .groupBy("cohort", "period")
        .agg(F.count("*").alias("n_users"))
        .withColumn(
            "periods_since",
            F.expr(f"timestampdiff({diff_unit}, cohort, period)").cast("int"),
        )
    )


def frequent_pairs(
    df: DataFrame,
    basket_col: str,
    item_col: str,
    min_support: int,
) -> DataFrame:
    """Frequent co-occurring item PAIRS (market-basket mining):
    (item_a, item_b, support) for every unordered pair appearing
    together in at least ``min_support`` baskets.

    Scale shape: items are support-pruned FIRST (the apriori property —
    a pair's support cannot exceed either item's), so rare items never
    reach the quadratic per-basket pair expansion; the expansion itself
    is an ordered equi-self-join on the basket id (item_a < item_b), and
    the pair count is one keyed aggregation. The basket x item relation
    is deduplicated up front so multiplicity inside a basket cannot
    inflate support."""
    if min_support < 1:
        raise ValueError(f"min_support must be >= 1, got {min_support}")
    items = df.select(
        F.col(basket_col).alias("__basket"), F.col(item_col).alias("__item")
    ).distinct()
    return _pairs_from_items(items, min_support)


def _pairs_from_items(items: DataFrame, min_support: int) -> DataFrame:
    """frequent_pairs' core on an already-deduplicated (__basket, __item)
    relation — shared with item_similarity_topk so callers that need the
    deduped frame for OTHER aggregates too (per-item counts) can
    materialize it once instead of re-deriving the distinct per
    consumer."""
    keep = (
        items.groupBy("__item")
        .agg(F.count("*").alias("n"))
        .where(F.col("n") >= min_support)
        .select("__item")
    )
    pruned = items.join(keep, "__item", "left_semi")
    a = pruned.select(F.col("__basket"), F.col("__item").alias("item_a"))
    b = pruned.select(F.col("__basket"), F.col("__item").alias("item_b"))
    return (
        a.join(b, "__basket")
        .where(F.col("item_a") < F.col("item_b"))
        .groupBy("item_a", "item_b")
        .agg(F.count("*").alias("support"))
        .where(F.col("support") >= min_support)
    )


def attribution(
    events: DataFrame,
    user_col: str,
    ts_col: str,
    type_col: str,
    conversion: str,
    touch_types: list[str],
    window_seconds: int | None = None,
) -> DataFrame:
    """Marketing-touch attribution: one row per CONVERSION event with its
    user's first- and last-touch times strictly before the conversion
    (optionally within ``window_seconds``), the touch count, and the
    last touch's type — first-touch and last-touch attribution in one
    pass, the analytics twin of the funnel.

    One user-partitioned window pass (the funnel's strictly-before RANGE
    frame): first/last/count of touch times are running aggregates, so
    per-row state is O(1) and power users cannot blow memory; the last
    touch's TYPE resolves with one join back on (user, last_touch time)
    keyed by the |conversions|-sized result (max(type) on exact-tie
    touches — deterministic). The microsecond order key goes through
    the session time zone for TIMESTAMP_NTZ inputs; run in a
    fixed-offset (UTC) session (the engine default via tune_session).

    Output: (user, conv_ts, first_touch_ts, last_touch_ts, n_touches,
    last_touch_type) — conversions with zero qualifying touches keep
    nulls/0 (the "direct conversion" bucket)."""
    from pyspark.sql import Window

    u, t = user_col, ts_col
    us = F.unix_micros(F.col(t).cast("timestamp"))
    df = events.select(
        F.col(u), F.col(t), F.col(type_col).alias("__type"), us.alias("__us")
    )
    lo = Window.unboundedPreceding if window_seconds is None else -int(
        window_seconds
    ) * 1_000_000
    w = Window.partitionBy(u).orderBy("__us").rangeBetween(lo, -1)
    touch_us = F.when(F.col("__type").isin(*touch_types), F.col("__us"))
    convs = (
        df.withColumn("__first", F.min(touch_us).over(w))
        .withColumn("__last", F.max(touch_us).over(w))
        .withColumn(
            "__n", F.count(touch_us).over(w).cast("long")
        )
        .where(F.col("__type") == conversion)
        .select(
            F.col(u),
            F.col(t).alias("conv_ts"),
            F.timestamp_micros(F.col("__first")).cast(df.schema[t].dataType).alias(
                "first_touch_ts"
            ),
            F.timestamp_micros(F.col("__last")).cast(df.schema[t].dataType).alias(
                "last_touch_ts"
            ),
            F.col("__n").alias("n_touches"),
            F.col("__last").alias("__last_us"),
        )
    )
    touch_type_at = (
        df.where(F.col("__type").isin(*touch_types))
        .groupBy(u, "__us")
        .agg(F.max("__type").alias("last_touch_type"))
    )
    return (
        convs.join(
            touch_type_at,
            (convs[u] == touch_type_at[u]) & (convs["__last_us"] == touch_type_at["__us"]),
            "left",
        )
        .select(
            convs[u],
            "conv_ts",
            "first_touch_ts",
            "last_touch_ts",
            "n_touches",
            "last_touch_type",
        )
    )


def transition_matrix(
    events: DataFrame,
    user_col: str,
    ts_col: str,
    type_col: str,
    tie_cols: tuple[str, ...] = (),
) -> DataFrame:
    """First-order Markov transition counts over per-user event
    sequences: for every consecutive (event, next event) pair in a
    user's timeline, the exact transition count and the row-normalized
    transition probability in integer MICRO-UNITS
    (``prob_micro = n * 1_000_000 div sum(n) over from_type`` —
    truncating integer division, so the matrix is bit-identical across
    engines; the q83/q103 discipline). The next-action model behind
    "users who did X then do Y" product analytics and behavioral
    pretraining-corpus statistics.

    One window pass over the events (lead over the user partition —
    the same shape as funnel/attribution; pass ``tie_cols`` to make the
    order total when timestamps can tie) plus one aggregation keyed on
    the (from, to) pair; the normalizing window runs on the aggregated
    matrix, which is at most |event types|^2 rows — nothing
    user-volume-sized shuffles twice.
    """
    w = Window.partitionBy(user_col).orderBy(
        F.col(ts_col), *[F.col(c) for c in tie_cols]
    )
    pairs = (
        events.withColumn("__to", F.lead(type_col).over(w))
        .where(F.col("__to").isNotNull())
        .select(F.col(type_col).alias("from_type"), F.col("__to").alias("to_type"))
    )
    counts = pairs.groupBy("from_type", "to_type").agg(F.count("*").alias("n"))
    total = Window.partitionBy("from_type")
    return counts.select(
        "from_type",
        "to_type",
        "n",
        F.expr("n * 1000000").cast("long").alias("__num"),
        F.sum("n").over(total).alias("__den"),
    ).select(
        "from_type",
        "to_type",
        "n",
        F.expr("__num div __den").alias("prob_micro"),
    )


def item_similarity_topk(
    df: DataFrame,
    basket_col: str,
    item_col: str,
    min_support: int,
    k: int,
    scale: int = 1_000_000,
) -> DataFrame:
    """Item-item collaborative filtering (Sarwar et al., "Item-based
    collaborative filtering recommendation algorithms", WWW 2001): the
    top-k most-similar neighbors per item, where similarity is the
    cosine between binary item-occurrence vectors over baskets. To stay
    engine-exact the emitted score is the SQUARED cosine in truncating
    integer micro-units —

        sim2 = c_ij^2 * scale div (c_i * c_j)

    (monotone in cosine, so rankings are identical; no sqrt, no floats
    anywhere). Ties rank deterministically by neighbor id.

    Scale shape: reuses `frequent_pairs`' apriori discipline — items
    below ``min_support`` are pruned BEFORE the per-basket quadratic
    pair expansion, co-occurrence is one ordered equi-self-join plus a
    keyed count, per-item counts join back on the item key (two hash
    joins on |pairs|-sized frames, never on the raw basket relation),
    and the top-k filter is a per-item row_number window. The
    deduplicated (basket, item) relation is materialized ONCE and feeds
    both the pair expansion and the per-item counts (previously each
    consumer re-derived the distinct — up to four scans of the raw
    relation); the counts frame is itself checkpointed (it has two join
    consumers) and rides as a broadcast while the item vocabulary is
    small enough (<= 5M items), the standard CF regime of
    vocabulary ≪ interactions — larger vocabularies fall back to
    shuffled joins. Overflow is ENFORCED, not assumed: pair support
    must stay under sqrt(2^63/scale) (~3e6 at the default scale) or the
    row raises.
    """
    from snowplow_s3_loader_spark.materialize import (
        checkpoint_nostats,
        checkpoint_nostats_counted,
    )

    if min_support < 1:
        raise ValueError(f"min_support must be >= 1, got {min_support}")
    items = checkpoint_nostats(
        df.select(
            F.col(basket_col).alias("__basket"), F.col(item_col).alias("__item")
        ).distinct()
    )
    pairs = _pairs_from_items(items, min_support)
    # broadcast gate rides the checkpoint's own materializing action
    # (round 14 — the separate count job was pure scheduler floor)
    counts, n_items = checkpoint_nostats_counted(
        items.groupBy("__item")
        .agg(F.count("*").alias("c"))
        .select(F.col("__item").alias("item"), "c")
    )
    if n_items <= 5_000_000:
        counts = F.broadcast(counts)
    sym = pairs.select(
        F.col("item_a").alias("item"), F.col("item_b").alias("neighbor"), "support"
    ).unionByName(
        pairs.select(
            F.col("item_b").alias("item"), F.col("item_a").alias("neighbor"), "support"
        )
    )
    max_support = int(((2**63 - 1) // scale) ** 0.5)
    guarded = sym.withColumn(
        "support",
        F.when(
            F.col("support") > F.lit(max_support),
            F.raise_error(
                F.lit(
                    "item_similarity_topk: pair support exceeds the exact-integer "
                    f"bound sqrt(2^63/scale) = {max_support}; lower scale"
                )
            ).cast("long"),
        ).otherwise(F.col("support")),
    )
    joined = (
        guarded.join(counts.select(F.col("item"), F.col("c").alias("__ci")), "item")
        .join(
            counts.select(F.col("item").alias("neighbor"), F.col("c").alias("__cj")),
            "neighbor",
        )
        .withColumn(
            "sim2_micro",
            F.expr(f"support * support * {int(scale)} div (__ci * __cj)"),
        )
    )
    w = Window.partitionBy("item").orderBy(
        F.col("sim2_micro").desc(), F.col("neighbor").asc()
    )
    return (
        joined.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("item", "neighbor", "support", "sim2_micro", "rank")
    )


def session_paths(
    events: DataFrame,
    user_col: str,
    ts_col: str,
    type_col: str,
    gap_seconds: int,
    max_len: int,
    tie_cols: tuple[str, ...] = (),
    min_count: int = 1,
) -> DataFrame:
    """Top navigation paths: gap-based sessionization (the q38 window
    formulation — lag + running sum of gap breaks on ONE user-keyed
    sort), then each session's first ``max_len`` event types join into
    a '>'-separated path string and paths aggregate to
    (path, n_sessions). ``tie_cols`` extend the within-user order to a
    TOTAL order (the q08 lesson — equal timestamps otherwise make the
    path string nondeterministic).

    Scale shape: both window passes and the session collapse share the
    user-keyed partitioning; per-session state is capped by ``max_len``
    via the slice AFTER an ordered array_agg of (ts, tie..., type)
    structs whose size is bounded by the session itself (the same bound
    funnel/attribution carry); the path count is one partial+final
    aggregation."""
    w = Window.partitionBy(user_col).orderBy(ts_col, *tie_cols)
    wrun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    gap_break = F.col("__prev").isNull() | (
        F.expr(
            f"timestampdiff(MICROSECOND, __prev, {ts_col})"
        ) > gap_seconds * 1_000_000
    )
    sess = (
        events.withColumn("__prev", F.lag(ts_col).over(w))
        .withColumn("__new", gap_break.cast("int"))
        .withColumn("__sid", F.sum("__new").over(wrun))
    )
    per_session = sess.groupBy(user_col, "__sid").agg(
        F.array_join(
            F.slice(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.struct(ts_col, *tie_cols, type_col)
                        )
                    ),
                    lambda x: x[type_col],
                ),
                1,
                max_len,
            ),
            ">",
        ).alias("path")
    )
    return (
        per_session.groupBy("path")
        .agg(F.count("*").alias("n_sessions"))
        .where(F.col("n_sessions") >= min_count)
    )
