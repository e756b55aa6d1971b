"""Time-series rollup operators: fixed-interval bucketing + gap fill
(the hypertable `time_bucket` + `time_bucket_gapfill` pattern, expressed
as a composition of stock DataFrame ops — SURVEY.md SS7.8 extension).

Scale notes (100 TB):
  - the rollup is ONE partial+final hash aggregation shuffled on
    (series keys, bucket) — the same shape as any groupBy; bucket count
    per key is bounded by the time span / interval, not row count.
  - the gap-fill spine is generated per series key from its own min/max
    bucket (sequence + explode): output rows ~ keys x span/interval, tiny
    next to the input; the fill join is an Exchange on the same
    (key, bucket) the rollup just produced, and AQE coalesces it.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

_UNITS = {"hour", "day", "week", "month", "minute", "second"}


def time_bucket(ts: Column, unit: str = "hour") -> Column:
    """Truncate a timestamp to a fixed bucket boundary."""
    if unit not in _UNITS:
        raise ValueError(f"unit must be one of {sorted(_UNITS)}")
    return F.date_trunc(unit, ts)


def bucket_rollup(
    df: DataFrame,
    ts_col: str,
    keys: list[str],
    aggs: list[Column],
    unit: str = "hour",
    bucket_col: str = "bucket",
) -> DataFrame:
    """Aggregate into per-(keys, bucket) rows: one shuffle, map-side
    partials included for free."""
    return (
        df.withColumn(bucket_col, time_bucket(F.col(ts_col), unit))
        .groupBy(*keys, bucket_col)
        .agg(*aggs)
    )


def gap_fill(
    rolled: DataFrame,
    keys: list[str],
    fill: dict[str, Column],
    unit: str = "hour",
    bucket_col: str = "bucket",
) -> DataFrame:
    """Left-join the rollup onto a dense per-key bucket spine so empty
    intervals appear with `fill` values (e.g. zero counts).

    The spine spans each key's own [min(bucket), max(bucket)] — series with
    different lifetimes don't get padded to a global range.
    """
    span = rolled.groupBy(*keys).agg(
        F.min(bucket_col).alias("_b0"), F.max(bucket_col).alias("_b1")
    )
    spine = span.select(
        *keys,
        F.explode(
            F.sequence(F.col("_b0"), F.col("_b1"), F.expr(f"interval 1 {unit}"))
        ).alias(bucket_col),
    )
    out = spine.join(rolled, on=[*keys, bucket_col], how="left")
    for col_name, default in fill.items():
        out = out.withColumn(col_name, F.coalesce(F.col(col_name), default))
    return out


def robust_outliers(
    df: DataFrame,
    keys: list[str],
    value_col: str,
    z: float = 3.5,
) -> DataFrame:
    """Per-group robust outlier statistics — median/MAD gating, the
    numeric-column counterpart of the text quality filters (mean/stddev
    break down exactly when outliers exist; the modified z-score
    |x - median| / (1.4826 * MAD) > z is the standard robust rule,
    Iglewicz & Hoaglin 1993).

    Returns one row per group: (keys..., n, med, mad, n_outliers).
    Two grouped aggregations (median, then MAD = median of absolute
    deviations) + one conditional count — three shuffles on the group
    key, each with map-side partials; percentile is Spark's exact
    interpolated implementation, matching DuckDB's quantile_cont so the
    outputs oracle-check."""
    med = df.groupBy(*keys).agg(
        F.percentile(value_col, 0.5).alias("med"), F.count("*").alias("n")
    )
    with_med = df.join(med, keys)
    mad = with_med.groupBy(*keys).agg(
        F.percentile(F.abs(F.col(value_col) - F.col("med")), 0.5).alias("mad")
    )
    scored = with_med.join(mad, keys)
    return (
        scored.groupBy(*keys, "n", "med", "mad")
        .agg(
            F.sum(
                (
                    F.abs(F.col(value_col) - F.col("med"))
                    > F.lit(z) * F.lit(1.4826) * F.col("mad")
                ).cast("long")
            ).alias("n_outliers")
        )
        .select(*keys, "n", F.round("med", 6).alias("med"),
                F.round("mad", 6).alias("mad"), "n_outliers")
    )


def rolling_anomalies(
    df: DataFrame,
    group_col: str,
    order_cols: list[str],
    cents_col: str,
    window: int = 20,
    min_n: int = 8,
    threshold: int = 3,
) -> DataFrame:
    """Flag rows whose value deviates more than ``threshold`` rolling
    standard deviations from the trailing ``window`` rows of their
    group — the streaming-shaped quality gate for numeric columns
    (sensor glitches, price fat-fingers, bot bursts) with EXACT integer
    math: the test ``|x - mean| > t * stddev`` is evaluated as
    ``(x*n - S)^2 > t^2 * (n*Q - S^2)`` over BIGINT rolling sums
    (S = sum, Q = sum of squares, n = count of the trailing frame), so
    no float summation order exists anywhere and the flags are
    bit-identical across engines. ``cents_col`` must be an integer
    column (use the cents discipline for 2-dp floats). Overflow bound:
    the SQUARED terms are binding — ``t^2 * (n*Q - S^2)`` needs
    ``threshold * window * |x| <= ~3e9``, i.e. |x| up to ~5e7 cents at
    the default window=20, t=3; larger magnitudes must be rescaled
    first (the q95 discipline).

    One partitioned window pass (``ROWS BETWEEN window PRECEDING AND 1
    PRECEDING`` — the row itself is excluded so it cannot mask its own
    deviation); rows with fewer than ``min_n`` trailing observations are
    never flagged. A zero-variance history flags ANY deviation from the
    constant (documented; raise ``min_n`` if that is too eager).
    ``order_cols`` must be a total order within the group (append a
    unique id — the q08 lesson).
    """
    w = (
        Window.partitionBy(group_col)
        .orderBy(*[F.col(c) for c in order_cols])
        .rowsBetween(-window, -1)
    )
    c = F.col(cents_col).cast("long")
    n = F.count(cents_col).over(w)
    s = F.sum(c).over(w)
    q = F.sum(c * c).over(w)
    lhs = (c * n - s) * (c * n - s)
    rhs = F.lit(threshold * threshold) * (n * q - s * s)
    return df.withColumn(
        "is_anomaly",
        ((n >= F.lit(min_n)) & (lhs > rhs)).cast("boolean"),
    )


def cusum_alarms(
    df: DataFrame,
    group_col: str,
    order_cols: list[str],
    value_col: str,
    target: int,
    slack: int,
    threshold: int,
) -> DataFrame:
    """Two-sided CUSUM drift detection (Page, "Continuous inspection
    schemes", Biometrika 1954) per series, in EXACT integer arithmetic.
    The textbook statistic is recursive — ``s_i = max(0, s_{i-1} +
    (x_i - target - slack))`` — which looks like it needs per-row
    iteration; it has a closed window form:

        s_i = P_i - min(0, min_{j<=i} P_j),   P = running sum of the
                                              drift increments

    so the whole detector is two stacked window passes (running sum,
    then running min of that sum) over the SAME partitioned sort — no
    recursion, no Python, no second shuffle (the second window reuses
    the first's partitioning and order). ``value_col`` must be integer
    (cents discipline); with integer inputs both engines' window sums
    are exact, so alarm flags hash-match bit for bit.

    Emits every input row plus ``s_hi`` (upward drift statistic),
    ``s_lo`` (downward), and ``alarm`` (either side above
    ``threshold``). Alarmed statistics keep accumulating rather than
    resetting — the standard monitoring read-out (first crossing per
    run of drift is the changepoint signal; the un-reset tail shows
    drift persistence). ``order_cols`` must be a total order within
    the group (the q08 lesson).

    Scale shape: one hash partition by series, one sort, all
    whole-stage-codegen'd expressions. State per row is O(1); series
    length is unbounded. (ROWS UNBOUNDED PRECEDING running frames are
    the streaming-compatible shape — the applyInPandasWithState twin
    would carry (P, minP) as its two-integer state.)
    """
    w = (
        Window.partitionBy(group_col)
        .orderBy(*[F.col(c) for c in order_cols])
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    x = F.col(value_col).cast("long")
    p_hi = F.sum(x - F.lit(target + slack)).over(w)
    p_lo = F.sum(F.lit(target - slack) - x).over(w)
    out = df.withColumn("__p_hi", p_hi).withColumn("__p_lo", p_lo)
    s_hi = F.col("__p_hi") - F.least(F.min("__p_hi").over(w), F.lit(0))
    s_lo = F.col("__p_lo") - F.least(F.min("__p_lo").over(w), F.lit(0))
    return (
        out.withColumn("s_hi", s_hi)
        .withColumn("s_lo", s_lo)
        .withColumn(
            "alarm",
            (F.col("s_hi") > F.lit(threshold))
            | (F.col("s_lo") > F.lit(threshold)),
        )
        .drop("__p_hi", "__p_lo")
    )


def cusum_changepoint(
    df: DataFrame,
    group_col: str,
    order_cols: list[str],
    value_col: str,
) -> DataFrame:
    """Offline changepoint LOCATION per series — the "where did the
    level shift" answer `cusum_alarms`' online statistic does not give
    (an alarm says drift is underway; the retrospective estimator says
    where it started). The classic CUSUM location estimator (Csörgő &
    Horváth 1997; the argmax of the centered partial-sum process):

        t_hat = argmax over t in [1, n-1] of |A_t|,
        A_t   = n * P_t - t * S

    with P_t the inclusive prefix sum and S the series total — A_t is
    n·t times the gap between the left-segment mean and the global
    mean, so its argmax is the single best mean-shift split. Exact
    int64 throughout (ties in |A| pin to the SMALLEST t); the
    left/right segment means are emitted as truncating micro-units via
    the q153 DECIMAL(38,0) bridge (P·1e6 can pass 2^63; IntegralDivide
    on decimals is exact in both engines).

    ``value_col`` must be a NON-NEGATIVE integer (cents discipline) —
    NULL or negative raises: prefixes stay non-negative so truncating
    division agrees across engines (Spark div truncates toward zero,
    DuckDB // floors — identical only on non-negatives). The int64
    bound on A is ENFORCED per row with a division-form guard
    (|P| > 2^62 div n raises before the multiply could wrap).
    ``order_cols`` must be a total order within the series (the q08
    lesson). Series with n < 2 have no interior split and emit
    NOTHING.

    Scale shape: one hash partition per series carries the prefix sum,
    row number, and the series-level (n, S) in a single window pass;
    the argmax is one min_by aggregation (partial+final, no second
    sort). Output is one bounded row per series.

    Output: (group, n, total, t_hat, a_max, mean_left_micro,
    mean_right_micro, shift_micro) ordered by group."""
    v = F.col(value_col)
    checked = F.when(
        v.isNull() | (v < 0),
        F.raise_error(
            F.concat(
                F.lit(
                    f"cusum_changepoint: {value_col!r} must be a "
                    "non-negative integer (truncating-division parity), "
                    "got "
                ),
                F.coalesce(v.cast("string"), F.lit("NULL")),
            )
        ).cast("long"),
    ).otherwise(v.cast("long"))
    w = (
        Window.partitionBy("group")
        .orderBy(*[F.col(c) for c in order_cols])
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wall = Window.partitionBy("group")
    pref = (
        df.select(
            F.col(group_col).alias("group"),
            *[F.col(c) for c in order_cols],
            checked.alias("__x"),
        )
        .withColumn("__p", F.sum("__x").over(w))
        .withColumn(
            "__t",
            F.row_number().over(
                Window.partitionBy("group").orderBy(
                    *[F.col(c) for c in order_cols]
                )
            ).cast("long"),
        )
        .withColumn("__n", F.count(F.lit(1)).over(wall).cast("long"))
        .withColumn("__s", F.sum("__x").over(wall))
    )
    # both products are guarded in division form BEFORE any multiply
    # could wrap: n*P needs P <= 2^62/n, and t*S (t < n) needs
    # S <= 2^62/n — S is the FULL total, so a series whose last value
    # dwarfs every prefix still trips the guard
    _bound = F.expr(f"CAST({2**62} AS BIGINT) div __n")
    guarded_p = F.when(
        (F.col("__p") > _bound) | (F.col("__s") > _bound),
        F.raise_error(
            F.lit(
                "cusum_changepoint: n * prefix_sum overflows int64 — "
                "rescale the value column or shard the series"
            )
        ).cast("long"),
    ).otherwise(F.col("__p"))
    cand = pref.where(F.col("__t") < F.col("__n")).select(
        "group",
        "__t",
        "__n",
        "__s",
        "__p",
        F.abs(
            F.col("__n") * guarded_p - F.col("__t") * F.col("__s")
        ).alias("__a"),
    )
    best = cand.groupBy("group").agg(
        F.max("__n").alias("n"),
        F.max("__s").alias("total"),
        F.min_by(
            F.struct(
                F.col("__t").alias("t_hat"),
                F.col("__a").alias("a_max"),
                F.col("__p").alias("p_at"),
            ),
            F.struct((-F.col("__a")).alias("neg_a"), F.col("__t").alias("t")),
        ).alias("__b"),
    )
    return best.select(
        "group",
        "n",
        "total",
        F.col("__b.t_hat").alias("t_hat"),
        F.col("__b.a_max").alias("a_max"),
        F.expr(
            "(CAST(__b.p_at AS DECIMAL(38,0)) * 1000000) div __b.t_hat"
        ).alias("mean_left_micro"),
        F.expr(
            "(CAST(total - __b.p_at AS DECIMAL(38,0)) * 1000000) div "
            "(n - __b.t_hat)"
        ).alias("mean_right_micro"),
    ).withColumn(
        "shift_micro",
        F.col("mean_right_micro") - F.col("mean_left_micro"),
    ).orderBy("group")


def acf_moments(
    df: DataFrame,
    keys: list[str],
    order_col: str,
    value_col: str,
    max_lag: int,
) -> DataFrame:
    """Exact autocorrelation function at lags 1..max_lag per series —
    the seasonality / burstiness diagnostic for event streams (Box &
    Jenkins). ``value_col`` must be integer; per key k and lag l:

        acf_num(l) = sum over t of (n*x_t - S)(n*x_{t+l} - S)
        acf_den    = sum over t of (n*x_t - S)^2          (all t)
        acf(l)     = acf_num / acf_den                    (one double div)

    i.e. the mean-centered products cleared of the rational mean by
    multiplying through by n^2 — every piece stays BIGINT, so num/den
    hash-match the oracle exactly and the single final double division
    is evaluated identically by both engines from identical integers
    (the Spearman-rho discipline). The int64 bound
    4 * n^3 * max(x)^2 < 2^63 is ENFORCED per series (one cheap
    aggregation, ValueError with advice), as is (key, order) totality —
    a duplicate order key would make lead() nondeterministic.

    Scale shape: one |keys|-bounded stats aggregation broadcast back,
    ONE keyed sort carrying all max_lag lead columns, one partial+final
    aggregation per key, and a max_lag-wide literal explode of the
    |keys|-sized result. The series stream is touched twice (stats +
    window), never joined against itself.

    Output: (keys..., lag, acf_num, acf_den, acf) — num/acf are NULL
    for lags at or beyond the series length."""
    if max_lag < 1:
        raise ValueError(f"acf_moments: max_lag must be >= 1, got {max_lag}")
    from snowplow_s3_loader_spark.materialize import checkpoint_nostats

    x = F.col(value_col)
    # |keys|-bounded; checkpointed so the guard collect below and the
    # broadcast join share ONE corpus scan instead of recomputing it
    stats = checkpoint_nostats(
        df.groupBy(*keys).agg(
            F.count("*").alias("__n"),
            F.sum(x).alias("__s"),
            F.max(F.abs(x)).alias("__amax"),
            F.count_distinct(F.col(order_col)).alias("__nd"),
        )
    )
    # guard arithmetic in double (the product itself would overflow the
    # int64 it protects); 9.0e18 is conservatively below 2^63
    nd = F.col("__n").cast("double")
    ad = F.col("__amax").cast("double")
    bad = stats.where(
        (F.col("__nd") != F.col("__n"))
        | (F.lit(4.0) * nd * nd * nd * ad * ad >= F.lit(9.0e18))
    ).limit(1).collect()
    if bad:
        r = bad[0]
        if r["__nd"] != r["__n"]:
            raise ValueError(
                "acf_moments: duplicate order values within a series "
                f"(n={r['__n']}, distinct={r['__nd']}) — lead() would be "
                "nondeterministic; aggregate to unique buckets first"
            )
        raise ValueError(
            "acf_moments: int64 bound 4*n^3*max|x|^2 < 2^63 violated "
            f"(n={r['__n']}, max|x|={r['__amax']}) — shorten the series "
            "or rescale the values"
        )
    joined = df.join(F.broadcast(stats.drop("__nd", "__amax")), keys)
    w = Window.partitionBy(*keys).orderBy(order_col)
    c = F.col("__n") * x - F.col("__s")
    leads = [
        (F.col("__n") * F.lead(x, lag).over(w) - F.col("__s")).alias(f"__c{lag}")
        for lag in range(1, max_lag + 1)
    ]
    centered = joined.select(*keys, c.alias("__c0"), "__n", *leads)
    agg = centered.groupBy(*keys).agg(
        F.sum(F.col("__c0") * F.col("__c0")).alias("acf_den"),
        *[
            F.sum(F.col("__c0") * F.col(f"__c{lag}")).alias(f"__num{lag}")
            for lag in range(1, max_lag + 1)
        ],
    )
    lag_structs = F.array(
        *[
            F.struct(
                F.lit(lag).cast("int").alias("lag"),
                F.col(f"__num{lag}").alias("acf_num"),
            )
            for lag in range(1, max_lag + 1)
        ]
    )
    return (
        agg.select(*keys, "acf_den", F.explode(lag_structs).alias("e"))
        .select(
            *keys,
            F.col("e.lag").alias("lag"),
            F.col("e.acf_num").alias("acf_num"),
            "acf_den",
            # explicit zero-den guard: ANSI Spark throws on x/0 while
            # DuckDB yields NULL — a constant series must emit NULL acf
            F.when(
                F.col("acf_den") != 0,
                F.col("e.acf_num").cast("double")
                / F.col("acf_den").cast("double"),
            ).alias("acf"),
        )
    )


def ohlc_bars(
    df: DataFrame,
    keys: list[str],
    ts_col: str,
    cents_col: str,
    order_tiebreak: str,
    unit: str = "hour",
) -> DataFrame:
    """OHLC candle bars + time-weighted average per (keys, time bucket)
    — the market-data / metrics-downsampling summary (open = first
    value in the bar, close = last, high/low = extremes, volume = row
    count, TWAP = duration-weighted mean where each sample holds until
    the next one and the bar's last sample holds to the bar end).

    Exactness: ``cents_col`` must be integer; open/close are defined by
    the TOTAL order (ts, tiebreak) — the q08 lesson, ties of the raw
    timestamp are broken by the unique tiebreak column identically in
    both engines — and TWAP is the exact truncating division
    sum(cents * dur_us) div sum(dur_us), all BIGINT (bound: max|cents|
    x bar span must stay under 2^63 — a day bar allows |cents| < 1e8,
    an hour bar < 2.5e12; ENFORCED). The tiebreak column must be
    NON-NULL (the lead(tb)-is-null last-row flag depends on it;
    ENFORCED) — both guards ride as per-row raise_error branches inside
    the one projection (codegen'd comparisons, zero extra scan — the
    auc/acf guard-folding discipline applied expression-side), so a
    violation raises AT EXECUTION (Spark runtime error carrying the
    offending value), not at plan-build time.

    Scale shape: ONE keyed window sort per (keys, bucket) — row_number,
    lead(ts) and the lead(tb)-is-null last-row flag share a single
    windowspec, so the physical plan is one Window node over one sort —
    then one partial+final aggregation. No joins, no second sort, and
    NO guard pre-scan: the corpus is read exactly once.

    Output: (keys..., bucket, open_cents, high_cents, low_cents,
    close_cents, n_ticks, twap_num, twap_den, twap_cents)."""
    if unit not in _UNITS:
        raise ValueError(f"unit must be one of {sorted(_UNITS)}")
    span_us = {
        "second": 1_000_000,
        "minute": 60_000_000,
        "hour": 3_600_000_000,
        "day": 86_400_000_000,
        "week": 7 * 86_400_000_000,
        "month": 31 * 86_400_000_000,
    }[unit]
    # per-row guards, folded into the projection (|c| * span >= 2^62
    # <=> |c| >= ceil(2^62 / span) for integer c): no driver-side
    # pre-scan — the old max(abs(c)).collect() ran the whole input once
    # before the real plan ran it again
    c_limit = (2**62 + span_us - 1) // span_us
    c = F.col(cents_col)
    c_checked = F.when(
        F.abs(c) >= F.lit(c_limit),
        F.raise_error(
            F.concat(
                F.lit(f"ohlc_bars: |cents|="),
                F.abs(c).cast("string"),
                F.lit(
                    f" x {unit} span overflows the exact TWAP int64 "
                    "bound — rescale or use a smaller unit"
                ),
            )
        ).cast("long"),
    ).otherwise(c)
    tb = F.col(order_tiebreak)
    tb_checked = F.when(
        tb.isNull(),
        F.raise_error(
            F.lit(
                f"ohlc_bars: order_tiebreak {order_tiebreak!r} must be "
                "non-null (the last-row flag is lead(tiebreak) IS NULL)"
            )
        ).cast(df.schema[order_tiebreak].dataType.simpleString()),
    ).otherwise(tb)
    bucket = F.date_trunc(unit, F.col(ts_col)).alias("bucket")
    base = df.select(
        *keys, bucket, F.col(ts_col).alias("__ts"),
        tb_checked.alias("__tb"), c_checked.alias("__c"),
    )
    w = Window.partitionBy(*keys, "bucket")
    asc = w.orderBy("__ts", "__tb")
    bar_end = F.col("bucket") + F.expr(f"interval 1 {unit}")
    annotated = base.select(
        *keys, "bucket", "__c", "__ts",
        F.row_number().over(asc).alias("__ra"),
        # last-row flag WITHOUT a second sort OR a second window frame:
        # the tiebreak is non-null by contract, so lead(tb) IS NULL
        # exactly on the bar's final row — row_number, both leads share
        # ONE windowspec, so the physical plan carries a single Window
        # node over a single (keys, bucket, ts, tb) sort
        F.lead("__tb").over(asc).isNull().alias("__last"),
        # duration this sample holds: to the next tick in the bar, or
        # to the bar end for the last tick (timestampdiff handles both
        # TIMESTAMP and TIMESTAMP_NTZ; unix_micros rejects NTZ)
        F.coalesce(F.lead("__ts").over(asc), bar_end).alias("__nxt"),
    ).withColumn(
        "__dur", F.expr("timestampdiff(MICROSECOND, __ts, __nxt)")
    )
    return annotated.groupBy(*keys, "bucket").agg(
        F.max(F.when(F.col("__ra") == 1, F.col("__c"))).alias("open_cents"),
        F.max("__c").alias("high_cents"),
        F.min("__c").alias("low_cents"),
        F.max(F.when(F.col("__last"), F.col("__c"))).alias("close_cents"),
        F.count("*").alias("n_ticks"),
        F.sum(F.col("__c") * F.col("__dur")).alias("twap_num"),
        F.sum("__dur").alias("twap_den"),
    ).withColumn(
        "twap_cents",
        # durations are strictly positive (last tick holds to bar end,
        # which is strictly after any tick in the bar) so den > 0; sign
        # separated for engine-identical truncation on negative cents
        F.when(
            F.col("twap_num") >= 0,
            F.expr("twap_num div twap_den"),
        ).otherwise(-F.expr("(-twap_num) div twap_den")),
    )


_BURST_BIG = 1 << 62


def _burst_gaps_frame(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    tie_col: str,
    op: str,
    s_num: int,
    gamma_micro: int,
    with_ts: bool = False,
) -> DataFrame:
    """Shared guard + gap extraction for the Kleinberg operators: one
    keyed lag window producing per-key integer-second gaps carrying
    their window position (`__i` — applyInPandas hands groups in
    ARBITRARY row order and the DP is order-sensitive). NULL timestamps
    and NULL tiebreaks RAISE. ``with_ts`` additionally carries each
    gap's bounding event timestamps (t0 = earlier event, t1 = later) —
    the interval emitter's inputs."""
    if s_num < 2:
        raise ValueError(f"{op}: s_num must be >= 2, got {s_num}")
    if gamma_micro < 0:
        raise ValueError(
            f"{op}: gamma_micro must be >= 0, got {gamma_micro}"
        )
    k, t, tie = F.col(key_col), F.col(ts_col), F.col(tie_col)
    checked_t = F.when(
        t.isNull(),
        F.raise_error(
            F.lit(f"{op}: NULL {ts_col!r} — filter first")
        ).cast(df.schema[ts_col].dataType),
    ).otherwise(t)
    checked_tie = F.when(
        tie.isNull(),
        F.raise_error(
            F.lit(
                f"{op}: NULL {tie_col!r} — the tiebreak must "
                "make the per-key order TOTAL (NULL ordering differs "
                "across engines); filter first"
            )
        ).cast(df.schema[tie_col].dataType),
    ).otherwise(tie)
    extra = (
        [
            F.expr(
                f"lag({ts_col}) OVER "
                f"(PARTITION BY key ORDER BY {ts_col}, {tie_col})"
            ).alias("t0"),
            F.col(ts_col).alias("t1"),
        ]
        if with_ts
        else []
    )
    return (
        df.select(
            k.alias("key"), checked_t.alias(ts_col), checked_tie.alias(tie_col)
        )
        .select(
            "key",
            F.expr(
                f"timestampdiff(MICROSECOND, lag({ts_col}) OVER "
                f"(PARTITION BY key ORDER BY {ts_col}, {tie_col}), {ts_col})"
            ).alias("__gap_us"),
            F.expr(
                f"row_number() OVER "
                f"(PARTITION BY key ORDER BY {ts_col}, {tie_col})"
            ).alias("__i"),
            *extra,
        )
        .where(F.col("__gap_us").isNotNull())
        .select(
            "key",
            F.expr("__gap_us div 1000000").alias("gap_s"),
            "__i",
            *(["t0", "t1"] if with_ts else []),
        )
    )


def _burst_states(
    xs: list[int], key, s_num: int, gamma_micro: int
) -> tuple[list[int], int, int, int]:
    """The exact-integer two-state Viterbi shared by `kleinberg_bursts`
    and `kleinberg_burst_intervals` (same forward recurrence, same
    PINNED backtrack ties — docstrings there). Requires len(xs) >= 2.
    Returns (states, cost_micro, mean_gap, trans)."""
    import math

    n_gaps = len(xs)
    n_events = n_gaps + 1
    mean_gap = int(sum(xs)) // n_gaps
    if mean_gap == 0:
        raise ValueError(
            f"kleinberg burst DP: key {key!r} has mean gap 0 s — "
            "sub-second corpus needs a finer gap unit"
        )
    ln_s_micro = int(math.floor(math.log(s_num) * 1_000_000 + 0.5))
    ln_n_micro = int(math.floor(math.log(n_events) * 1_000_000 + 0.5))
    trans = (gamma_micro * ln_n_micro) // 1_000_000
    deltas = [
        (s_num - 1) * ((int(x) * 1_000_000) // mean_gap) - ln_s_micro
        for x in xs
    ]
    dp0, dp1 = 0, _BURST_BIG
    hist = []
    for d in deltas:
        ndp0 = min(dp0, dp1)
        ndp1 = min(dp1, dp0 + trans) + d
        hist.append((ndp0, ndp1))
        dp0, dp1 = ndp0, ndp1
    states = [0] * n_gaps
    cur = 0 if dp0 <= dp1 else 1
    states[-1] = cur
    for i in range(n_gaps - 1, 0, -1):
        p0, p1 = hist[i - 1]
        if cur == 0:
            cur = 0 if p0 <= p1 else 1
        else:
            cur = 1 if p1 <= p0 + trans else 0
        states[i - 1] = cur
    return states, min(dp0, dp1), mean_gap, trans


def kleinberg_bursts(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    tie_col: str,
    s_num: int = 2,
    gamma_micro: int = 1_000_000,
) -> DataFrame:
    """Kleinberg two-state burst detection per key (Kleinberg, "Bursty
    and Hierarchical Structure in Streams", KDD 2002) — the OPTIMAL
    burst segmentation CUSUM's one-sided drift statistic cannot give:
    find the minimum-cost assignment of each inter-event gap to a base
    state (rate λ0 = mean rate) or a burst state (λ1 = s·λ0), where a
    gap costs its exponential negative log-likelihood and entering the
    burst state costs γ·ln(n).

    Exact integer Viterbi (the q142 quantization discipline — every DP
    cell is int64, so Spark and the DuckDB recursive-CTE oracle agree
    bit for bit):

        c0(x)   = (x_s * 1e6) div mean_gap_s     (λ0·x in micro-nats,
                                                  truncating)
        Δ(x)    = (s-1)·c0(x) - round(ln(s)·1e6) (state-1 relative
                                                  cost per gap)
        trans   = (γ_micro · round(ln(n)·1e6)) div 1e6
        dp0_i   = min(dp0_{i-1}, dp1_{i-1})
        dp1_i   = min(dp1_{i-1}, dp0_{i-1} + trans) + Δ(x_i)

    starting in the base state (dp1_0 = 2^62). Backtrack ties are
    PINNED: the final state prefers 0; state 0's predecessor prefers
    0; state 1's predecessor prefers staying in 1. Gaps are integer
    SECONDS (timestampdiff truncation, identical in the oracle via
    date_diff('microsecond') div 1e6); ``tie_col`` must make the
    per-key event order total.

    Scale shape: one keyed window (lag) for the gaps, one keyed
    aggregation for the per-key constants, then the inherently
    sequential DP as ONE applyInPandas over the key groups — the
    pack_sequences_ffd contract: a key's history must fit an Arrow
    group (segment per (key, time-window) upstream when it does not;
    state is O(n_gaps) ints). Output is one bounded row per key.

    Guards: mean_gap_s = 0 raises (sub-second corpora need a finer
    gap unit); NULL timestamps raise; NULL ``tie_col`` values raise
    (NULL-ordering differences between engines could reorder
    equal-timestamp gaps and flip the order-sensitive DP); s_num >= 2.
    The output ``key`` column preserves the input key dtype. Keys with
    exactly
    one gap emit a trivial row (0 bursts, NULL mean/cost — no
    evidence); single-EVENT keys have no gap at all and are absent
    from the output (the oracle builds from the same gap frame, so
    both engines agree).

    Output: (key, n_events, n_gaps, mean_gap_s, n_burst_gaps,
    n_bursts, max_burst_gaps, cost_micro) ordered by key."""
    import pandas as pd

    gaps = _burst_gaps_frame(
        df, key_col, ts_col, tie_col, "kleinberg_bursts", s_num,
        gamma_micro,
    )
    # the output key column preserves the INPUT key dtype (a pinned
    # 'string' here would silently coerce numeric keys)
    key_type = df.schema[key_col].dataType.simpleString()
    out_schema = (
        f"key {key_type}, n_events bigint, n_gaps bigint, "
        "mean_gap_s bigint, "
        "n_burst_gaps bigint, n_bursts bigint, max_burst_gaps bigint, "
        "cost_micro bigint"
    )

    def _dp(pdf: pd.DataFrame) -> pd.DataFrame:
        key = pdf["key"].iloc[0]
        xs = pdf.sort_values("__i")["gap_s"].tolist()
        n_gaps = len(xs)
        n_events = n_gaps + 1
        if n_gaps < 2:
            return pd.DataFrame(
                [[key, n_events, n_gaps, None, 0, 0, 0, None]],
                columns=[c.split()[0] for c in out_schema.split(", ")],
            )
        states, cost, mean_gap, _trans = _burst_states(
            xs, key, s_num, gamma_micro
        )
        n_burst = sum(states)
        n_runs, max_run, run = 0, 0, 0
        prev = 0
        for st in states:
            if st == 1:
                run += 1
                if prev == 0:
                    n_runs += 1
                max_run = max(max_run, run)
            else:
                run = 0
            prev = st
        return pd.DataFrame(
            [[
                key,
                n_events,
                n_gaps,
                mean_gap,
                n_burst,
                n_runs,
                max_run,
                cost,
            ]],
            columns=[c.split()[0] for c in out_schema.split(", ")],
        )

    return (
        gaps.groupBy("key").applyInPandas(_dp, out_schema).orderBy("key")
    )


def _burst_states_multi(
    xs: list[int],
    key,
    n_states: int,
    s_num: int,
    gamma_micro: int,
) -> tuple[list[int], int, int, int]:
    """The k-state generalization of `_burst_states` — Kleinberg's full
    KDD 2002 automaton: state j fires at rate s^j * λ0, so a gap in
    state j costs (relative to state 0, in micro-nats, truncating
    exactly like the two-state form)

        Δ_j(x) = (s^j - 1)·c0(x) - j·round(ln(s)·1e6),
        c0(x)  = (x·1e6) div mean_gap

    and moving UP i→j costs (j-i)·trans (down is free), with
    trans = (γ_micro·round(ln(n)·1e6)) div 1e6.

    Backtrack ties are PINNED by the rule that REDUCES EXACTLY to the
    two-state pins: prefer STAYING in the current state, else the
    LOWEST predecessor among the argmins (final state: lowest argmin).
    With n_states = 2 this emits bit-identical states/cost to
    `_burst_states` (tested). Requires len(xs) >= 2.

    Returns (states, cost_micro, mean_gap, trans)."""
    import math

    n_gaps = len(xs)
    n_events = n_gaps + 1
    mean_gap = int(sum(xs)) // n_gaps
    if mean_gap == 0:
        raise ValueError(
            f"kleinberg burst DP: key {key!r} has mean gap 0 s — "
            "sub-second corpus needs a finer gap unit"
        )
    ln_s_micro = int(math.floor(math.log(s_num) * 1_000_000 + 0.5))
    ln_n_micro = int(math.floor(math.log(n_events) * 1_000_000 + 0.5))
    trans = (gamma_micro * ln_n_micro) // 1_000_000
    k = n_states
    pows = [s_num**j for j in range(k)]
    dp = [0] + [_BURST_BIG] * (k - 1)
    hist = []
    for x in xs:
        c0x = (int(x) * 1_000_000) // mean_gap
        ndp = [
            min(
                dp[i] + max(0, j - i) * trans for i in range(k)
            )
            + (pows[j] - 1) * c0x
            - j * ln_s_micro
            for j in range(k)
        ]
        hist.append(tuple(ndp))
        dp = ndp
    best = min(dp)
    states = [0] * n_gaps
    cur = min(j for j in range(k) if dp[j] == best)
    states[-1] = cur
    for i in range(n_gaps - 1, 0, -1):
        p = hist[i - 1]
        costs = [p[j] + max(0, cur - j) * trans for j in range(k)]
        mn = min(costs)
        if costs[cur] == mn:
            pass  # pinned: staying wins every tie
        else:
            cur = min(j for j in range(k) if costs[j] == mn)
        states[i - 1] = cur
    return states, best, mean_gap, trans


def kleinberg_bursts_multi(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    tie_col: str,
    n_states: int = 3,
    s_num: int = 2,
    gamma_micro: int = 1_000_000,
) -> DataFrame:
    """Multi-state Kleinberg burst detection per key — the full burst
    HIERARCHY of Kleinberg (KDD 2002): not just "is this span bursty"
    (the two-state q162 answer) but HOW bursty, via a ladder of states
    where state j fires at s^j times the base rate and climbing each
    level costs γ·ln(n). The optimal state sequence is the exact
    integer Viterbi of `_burst_states_multi` (same quantization
    discipline as the two-state DP; the n_states = 2 case is
    bit-identical to `kleinberg_bursts`).

    Per-key hierarchy summary:

        max_state    the deepest burst level reached
        n_burst_gaps gaps at any level >= 1
        n_bursts     maximal runs of level >= 1 gaps
        state_mass   sum of per-gap state levels (the depth-weighted
                     burst mass — 10 gaps at level 2 = 20)
        cost_micro   the exact optimal DP cost

    Guards and contracts are `kleinberg_bursts`' (NULL ts/tie raise,
    mean gap 0 raises, single-gap keys emit a trivial row, key dtype
    preserved, per-key history must fit an Arrow group). n_states is
    bounded to [2, 6]: Δ grows as s^(k-1) and the useful hierarchy in
    practice is 2-4 levels deep (Kleinberg's own examples).

    Scale shape: identical to `kleinberg_bursts` — one keyed lag
    window, one grouped-Arrow DP emitting one bounded row per key; the
    DP is O(n_gaps · k^2) per key with k <= 6.

    Output: (key, n_events, n_gaps, mean_gap_s, max_state,
    n_burst_gaps, n_bursts, state_mass, cost_micro) ordered by key."""
    import pandas as pd

    if not 2 <= n_states <= 6:
        raise ValueError(
            f"kleinberg_bursts_multi: n_states must be in [2, 6], got "
            f"{n_states}"
        )
    gaps = _burst_gaps_frame(
        df, key_col, ts_col, tie_col, "kleinberg_bursts_multi", s_num,
        gamma_micro,
    )
    key_type = df.schema[key_col].dataType.simpleString()
    out_schema = (
        f"key {key_type}, n_events bigint, n_gaps bigint, "
        "mean_gap_s bigint, max_state bigint, n_burst_gaps bigint, "
        "n_bursts bigint, state_mass bigint, cost_micro bigint"
    )
    cols = [c.split()[0] for c in out_schema.split(", ")]

    def _dp(pdf: pd.DataFrame) -> pd.DataFrame:
        key = pdf["key"].iloc[0]
        xs = pdf.sort_values("__i")["gap_s"].tolist()
        n_gaps = len(xs)
        n_events = n_gaps + 1
        if n_gaps < 2:
            return pd.DataFrame(
                [[key, n_events, n_gaps, None, 0, 0, 0, 0, None]],
                columns=cols,
            )
        states, cost, mean_gap, _trans = _burst_states_multi(
            xs, key, n_states, s_num, gamma_micro
        )
        n_runs, prev = 0, 0
        for st in states:
            if st >= 1 and prev == 0:
                n_runs += 1
            prev = 1 if st >= 1 else 0
        return pd.DataFrame(
            [[
                key,
                n_events,
                n_gaps,
                mean_gap,
                max(states),
                sum(1 for st in states if st >= 1),
                n_runs,
                sum(states),
                cost,
            ]],
            columns=cols,
        )

    return (
        gaps.groupBy("key").applyInPandas(_dp, out_schema).orderBy("key")
    )


def kleinberg_burst_intervals(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    tie_col: str,
    s_num: int = 2,
    gamma_micro: int = 1_000_000,
) -> DataFrame:
    """The burst WINDOWS behind `kleinberg_bursts`' per-key counts —
    the artifact a user actually plots: one row per maximal burst-state
    run from the SAME exact-integer DP and the SAME pinned backtrack
    (`_burst_states`), so the intervals and the counts can never
    disagree.

    A run of burst-state gaps [a..b] (1-based gap positions; gap i sits
    between events i-1 and i) covers events a-1 .. b:

        start_ts = timestamp of event a-1 (the gap run's opening event)
        end_ts   = timestamp of event b
        n_gaps   = b - a + 1,  n_events = n_gaps + 1
        span_s   = sum of the run's integer-second gaps (truncated
                   per-gap exactly like the DP's inputs — NOT
                   end_ts - start_ts, whose single truncation differs)

    ``burst_id`` numbers runs 1.. per key in time order. Keys with no
    burst (or < 2 gaps — no DP evidence) emit NOTHING: this is the
    plot-ready frame, not the per-key summary (that is
    `kleinberg_bursts`; join on key for both).

    Scale shape: identical to `kleinberg_bursts` — one keyed lag
    window, one grouped-Arrow DP pass emitting at most n_gaps/2 bounded
    rows per key; same pack_sequences_ffd per-key-history contract.

    Output: (key, burst_id, start_ts, end_ts, n_gaps, n_events, span_s)
    ordered by (key, burst_id)."""
    import pandas as pd

    gaps = _burst_gaps_frame(
        df, key_col, ts_col, tie_col, "kleinberg_burst_intervals",
        s_num, gamma_micro, with_ts=True,
    )
    key_type = df.schema[key_col].dataType.simpleString()
    ts_type = df.schema[ts_col].dataType.simpleString()
    out_schema = (
        f"key {key_type}, burst_id bigint, start_ts {ts_type}, "
        f"end_ts {ts_type}, n_gaps bigint, n_events bigint, span_s bigint"
    )
    cols = [c.split()[0] for c in out_schema.split(", ")]

    def _dp(pdf: pd.DataFrame) -> pd.DataFrame:
        key = pdf["key"].iloc[0]
        g = pdf.sort_values("__i")
        xs = g["gap_s"].tolist()
        if len(xs) < 2:
            return pd.DataFrame([], columns=cols)
        states, _cost, _mean, _trans = _burst_states(
            xs, key, s_num, gamma_micro
        )
        t0s, t1s = g["t0"].tolist(), g["t1"].tolist()
        rows = []
        a = None
        for i, st in enumerate(states + [0]):
            if st == 1 and a is None:
                a = i
            elif st == 0 and a is not None:
                b = i - 1
                rows.append([
                    key,
                    len(rows) + 1,
                    t0s[a],
                    t1s[b],
                    b - a + 1,
                    b - a + 2,
                    int(sum(xs[a : b + 1])),
                ])
                a = None
        return pd.DataFrame(rows, columns=cols)

    return (
        gaps.groupBy("key")
        .applyInPandas(_dp, out_schema)
        .orderBy("key", "burst_id")
    )
