"""Table profiling — per-column data-quality statistics (row/null/
distinct counts, min/max, filled fraction) in ONE aggregation pass over
the table: the schema-drift / data-quality dashboard every ingest
pipeline runs before trusting a new drop of data. (Beyond the
reference's surface; its loader never inspects values,
Processing.scala:69-77.)

Scale mechanics: all per-column measures ride one groupBy().agg(...) —
Spark plans the multiple count_distinct via a single Expand + partial/
final aggregation (one shuffle of expanded rows). For 100 TB profiling
runs where exact distincts are not worth an Expand over every column,
``exact=False`` switches to approx_count_distinct (HLL, mergeable,
no row expansion); the driver query uses exact so the DuckDB oracle
hash-matches.

min/max are stringified with explicit, engine-portable formatting
(timestamps as 'yyyy-MM-dd HH:mm:ss', doubles via their plain decimal
repr) so one output schema fits every column type.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _fmt(col: F.Column, dtype: T.DataType) -> F.Column:
    if isinstance(dtype, (T.TimestampType, T.TimestampNTZType)):
        return F.date_format(col, "yyyy-MM-dd HH:mm:ss")
    return col.cast("string")


def profile_table(
    df: DataFrame,
    cols: list[str] | None = None,
    exact: bool = True,
) -> DataFrame:
    """One row per profiled column:
    (column, n_rows, n_null, n_distinct, min_value, max_value) — min/max
    as strings, n_distinct exact (``exact=True``) or HLL-approximate.
    Complex-typed columns (array/map/struct) profile counts but not
    min/max (null there)."""
    cols = cols or df.columns
    schema = {f.name: f.dataType for f in df.schema.fields}
    missing = [c for c in cols if c not in schema]
    if missing:
        raise ValueError(f"unknown columns {missing}")
    distinct_fn = F.count_distinct if exact else F.approx_count_distinct
    aggs = [F.count("*").alias("n_rows")]
    for c in cols:
        dt = schema[c]
        orderable = not isinstance(
            dt, (T.ArrayType, T.MapType, T.StructType, T.BinaryType)
        )
        aggs.append(
            F.sum(F.col(c).isNull().cast("long")).alias(f"__null_{c}")
        )
        aggs.append(distinct_fn(F.col(c)).alias(f"__nd_{c}"))
        if orderable:
            aggs.append(_fmt(F.min(c), dt).alias(f"__min_{c}"))
            aggs.append(_fmt(F.max(c), dt).alias(f"__max_{c}"))
    wide = df.agg(*aggs)
    rows = []
    for c in cols:
        orderable = not isinstance(
            schema[c], (T.ArrayType, T.MapType, T.StructType, T.BinaryType)
        )
        rows.append(
            F.struct(
                F.lit(c).alias("column"),
                F.col("n_rows"),
                F.col(f"__null_{c}").alias("n_null"),
                F.col(f"__nd_{c}").cast("long").alias("n_distinct"),
                (F.col(f"__min_{c}") if orderable else F.lit(None).cast("string")).alias(
                    "min_value"
                ),
                (F.col(f"__max_{c}") if orderable else F.lit(None).cast("string")).alias(
                    "max_value"
                ),
            )
        )
    return wide.select(F.explode(F.array(*rows)).alias("p")).select("p.*")


def equi_depth_histogram(
    df: DataFrame,
    value_col: str,
    k: int,
    tie_cols: list[str] | None = None,
) -> DataFrame:
    """Equi-depth (equal-count) histogram: k buckets over the sorted
    values, each holding total/k rows (SQL ntile contract), with per-
    bucket (n, low, high) — the binning primitive for length-balanced
    batching, score calibration, and selectivity estimation.

    Scale shape: NO global window — the global row number comes from
    ranking.global_row_number (literal-boundary buckets + offset map) and
    the bucket id from ntile's closed form, so the sort is distributed
    and the only single-point state is one tiny per-partition count row
    each. ``tie_cols`` must make the order total (pass a unique id) or
    bucket boundaries are nondeterministic under ties."""
    from snowplow_s3_loader_spark.operators.ranking import (
        global_row_number,
        ntile_from_row_number,
    )

    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    order = [F.col(value_col)] + [F.col(c) for c in (tie_cols or [])]
    ranked, total = global_row_number(df, order, rn_col="__rn")
    if total == 0:
        return ranked.select(
            F.lit(0).cast("int").alias("bucket"),
            F.lit(0).cast("long").alias("n"),
            F.col(value_col).alias("low"),
            F.col(value_col).alias("high"),
        ).limit(0)
    return (
        ranked.withColumn("bucket", ntile_from_row_number(F.col("__rn"), total, k))
        .groupBy("bucket")
        .agg(
            F.count("*").alias("n"),
            F.min(value_col).alias("low"),
            F.max(value_col).alias("high"),
        )
    )


def exact_moments(
    df: DataFrame,
    keys: list[str],
    x_col: str,
    y_col: str,
) -> DataFrame:
    """Exact second-order moments of two INTEGER columns per group —
    the engine-portable covariance/correlation kernel: emits n, sums,
    and the integer-exact combinations

        cov_num   = n*Sxy - Sx*Sy          (n^2 * covariance)
        var_x_num = n*Sxx - Sx^2           (n^2 * variance)
        var_y_num = n*Syy - Sy^2

    from which Pearson r = cov_num / sqrt(var_x_num * var_y_num).
    Keeping the output in exact BIGINTs sidesteps float-summation order
    entirely (the same micro-unit discipline as the bigram-LM); callers
    do the one final float division/sqrt themselves. ONE partial+final
    aggregation; inputs must be integers scaled so n*Sxy fits int64
    (raise the scale, not the dtype, if they do not)."""
    x, y = F.col(x_col).cast("long"), F.col(y_col).cast("long")
    agg = df.groupBy(*keys).agg(
        F.count("*").alias("n"),
        F.sum(x).alias("sx"),
        F.sum(y).alias("sy"),
        F.sum(x * x).alias("sxx"),
        F.sum(y * y).alias("syy"),
        F.sum(x * y).alias("sxy"),
    )
    return agg.select(
        *keys,
        "n",
        "sx",
        "sy",
        (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).alias("cov_num"),
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).alias("var_x_num"),
        (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).alias("var_y_num"),
    )


def group_trend(
    df: DataFrame,
    group_cols: list[str],
    x_col: str,
    y_col: str,
    scale: int = 1000,
) -> DataFrame:
    """Per-group OLS trend (closed-form simple linear regression) in
    EXACT integer arithmetic: one aggregation pass collects
    (n, Σx, Σy, Σxy, Σx²), and the slope is emitted both as the exact
    rational ``slope_num / slope_den``

        slope_num = n·Σxy − Σx·Σy      slope_den = n·Σx² − (Σx)²

    and as ``slope_scaled = sign(num) · (|num|·scale div den)`` —
    truncating integer division on non-negative operands, which both
    Spark's ``div`` and DuckDB's ``//`` implement identically, so the
    scaled slope hash-matches across engines (negative-operand
    division semantics never enter). ``slope_den = 0`` (all x equal)
    yields NULL.

    Inputs must be integer columns (cents / epoch-day discipline).
    Overflow: intermediates are bounded by n²·max|x|·max|y| — keep
    that under 2⁶³ by choosing a near origin for x (shifting x changes
    no slope) and rescaling y; the scaled slope additionally needs
    |num|·scale < 2⁶³, which is ENFORCED (raise_error per row, the
    hits() discipline) rather than silently wrapped.

    Scale shape: a single groupBy with map-side combine — five BIGINT
    sums per group of shuffle state, no second pass, no Python.
    """
    x = F.col(x_col).cast("long")
    y = F.col(y_col).cast("long")
    agg = (
        df.where(x.isNotNull() & y.isNotNull())
        .groupBy(*group_cols)
        .agg(
            F.count("*").alias("n"),
            F.sum(x).alias("__sx"),
            F.sum(y).alias("__sy"),
            F.sum(x * y).alias("__sxy"),
            F.sum(x * x).alias("__sxx"),
        )
    )
    num = F.col("n") * F.col("__sxy") - F.col("__sx") * F.col("__sy")
    den = F.col("n") * F.col("__sxx") - F.col("__sx") * F.col("__sx")
    bound = (2**63 - 1) // scale
    guarded_num = F.when(
        F.abs(num) > F.lit(bound),
        F.raise_error(
            F.lit(
                f"group_trend: |slope_num| exceeds 2^63/scale at scale={scale}; "
                "shift x to a nearer origin or rescale y"
            )
        ).cast("long"),
    ).otherwise(num)
    slope_scaled = F.when(den == 0, F.lit(None).cast("long")).otherwise(
        F.when(num < 0, F.lit(-1)).otherwise(F.lit(1)).cast("long")
        * F.expr(f"abs(__num) * {int(scale)} div __den")
    )
    return (
        agg.withColumn("__num", guarded_num)
        .withColumn("__den", den)
        .select(
            *group_cols,
            "n",
            F.col("__num").alias("slope_num"),
            F.col("__den").alias("slope_den"),
            slope_scaled.alias("slope_scaled"),
        )
    )


def spearman_moments(
    df: DataFrame, x_col: str, y_col: str, id_col: str
) -> DataFrame:
    """Exact tie-corrected Spearman rank correlation (Spearman 1904;
    the Kendall-book tie correction): returns ONE row of integer-exact
    pieces plus the derived coefficient —

        n, d2 = sum((2*avgrank_x - 2*avgrank_y)^2),
        tx/ty = sum over tie groups of (t^3 - t),
        rho   = (Sx + Sy - d2/4) / (2*sqrt(Sx*Sy)),
        where S = (n^3 - n - T) / 12

    Average ranks ride DOUBLED (min_rank + max_rank of the tie group —
    consecutive global row numbers make that identity exact) so every
    piece is BIGINT; only the final rho expression touches doubles,
    and identical integer inputs make that IEEE-deterministic across
    engines. The d2 bound (4*n^3 < 2^63, n <= ~1.3e6) is ENFORCED —
    beyond it, sample or shard.

    Scale shape: two two-phase global rankings (`global_row_number` —
    literal-boundary bucketing, never a single-task window over the
    rows), one |distinct value|-sized tie-stat aggregation per column,
    and one final scalar aggregation; the raw frame is never
    self-joined (tie stats join back on the value key). Each ranked
    frame feeds two consumers (tie stats + the join forward), so each
    is materialized — BOUNDED by the module's own enforced n <= ~1.3e6
    contract, never corpus-sized (the ranking operator itself
    materializes nothing)."""
    from snowplow_s3_loader_spark.materialize import (
        checkpoint_nostats,
        release_materialized,
    )
    from snowplow_s3_loader_spark.operators.ranking import global_row_number

    base = df.select(
        F.col(x_col).cast("long").alias("__x"),
        F.col(y_col).cast("long").alias("__y"),
        F.col(id_col).alias("__id"),
    ).where(F.col("__x").isNotNull() & F.col("__y").isNotNull())
    # enforce the bound from ONE cheap count BEFORE materializing (a
    # corpus-sized input must raise without paying a corpus-sized
    # localCheckpoint on the rejection path — the very storage hazard
    # this module's bound exists to prevent); then materialize the
    # narrow 3-column base ONCE (round 13): global_row_number evaluates
    # its input per pass (sample/counts/output), so the un-materialized
    # shape re-ran the caller's scan+projection three times for the
    # x-ranking. The checkpoint is bounded by the just-enforced
    # n <= ~1.3e6 rows x 3 scalar columns.
    n = base.count()
    if n > 1_300_000:
        raise ValueError(
            f"spearman_moments: n={n} exceeds the exact int64 bound "
            "(4*n^3 < 2^63, n <= ~1.3e6); sample or shard first"
        )
    if n < 2:
        raise ValueError(f"spearman_moments: need n >= 2, got {n}")
    base = checkpoint_nostats(base)
    rx, _ = global_row_number(
        base, [F.col("__x"), F.col("__id")], rn_col="__rnx"
    )
    rx = checkpoint_nostats(rx)
    # rx is eagerly materialized and is the only consumer of base's
    # blocks — release them now instead of waiting for a session sweep
    release_materialized(base)
    # global_row_number emits INT ranks: the doubled-rank differences
    # square to ~4n^2, which wraps int32 past n ~ 23k — everything
    # rank-derived rides as long from here (the q98 wpos lesson)
    gx = rx.groupBy("__x").agg(
        (F.min(F.col("__rnx").cast("long")) + F.max(F.col("__rnx").cast("long"))).alias("__ar2x"),
        F.count("*").alias("__tx"),
    )
    tx_frame = gx.agg(
        F.sum(
            F.col("__tx") * F.col("__tx") * F.col("__tx") - F.col("__tx")
        ).alias("tx")
    )
    # rank y over the MATERIALIZED rx frame directly (round 13): the
    # former shape ranked over `rx JOIN gx`, and global_row_number
    # evaluates its input three times (sample / counts / output) — so
    # the x-tie join and gx's aggregation each ran three times. The
    # y-order [__y, __id] never reads __ar2x, so the join commutes past
    # the ranking; attaching both tie-group averages AFTER the y-rank
    # leaves each join evaluated exactly once.
    ry, _ = global_row_number(
        rx, [F.col("__y"), F.col("__id")], rn_col="__rny"
    )
    ry = checkpoint_nostats(ry)
    gy = ry.groupBy("__y").agg(
        (F.min(F.col("__rny").cast("long")) + F.max(F.col("__rny").cast("long"))).alias("__ar2y"),
        F.count("*").alias("__ty"),
    )
    ty_frame = gy.agg(
        F.sum(
            F.col("__ty") * F.col("__ty") * F.col("__ty") - F.col("__ty")
        ).alias("ty")
    )
    both = (
        ry.join(gx.select("__x", "__ar2x"), "__x")
        .join(gy.select("__y", "__ar2y"), "__y")
    )
    d2 = both.agg(
        F.count("*").alias("n"),
        F.sum(
            (F.col("__ar2x") - F.col("__ar2y"))
            * (F.col("__ar2x") - F.col("__ar2y"))
        ).alias("d2"),
    )
    out = (
        d2.crossJoin(F.broadcast(tx_frame))
        .crossJoin(F.broadcast(ty_frame))
    )
    nD = F.col("n").cast("double")
    sx = (nD * nD * nD - nD - F.col("tx").cast("double")) / F.lit(12.0)
    sy = (nD * nD * nD - nD - F.col("ty").cast("double")) / F.lit(12.0)
    rho = (sx + sy - F.col("d2").cast("double") / F.lit(4.0)) / (
        F.lit(2.0) * F.sqrt(sx * sy)
    )
    return out.select("n", "d2", "tx", "ty", F.round(rho, 6).alias("rho"))


def association_components(
    df: DataFrame, col_a: str, col_b: str
) -> DataFrame:
    """Pearson chi-square association components between two categorical
    columns — the feature/label dependence audit (feature selection,
    leakage screening, drift-by-segment). For every cell (a, b) of the
    contingency table, including ZERO-observed cells (they contribute
    r*c/n to the statistic and omitting them understates dependence):

        dev     = n * observed - row_total * col_total    (exact BIGINT)
        contrib = dev^2 / (row_total * col_total * n)     (one double expr)

    contrib sums to the chi-square statistic; dev's sign shows the
    direction of the deviation. Every integer piece hash-matches the
    oracle; contrib is a single shared double expression evaluated from
    identical integers (the q138 discipline). |dev| <= n^2, so the
    int64 bound is n < 3e9 rows — ENFORCED with a ValueError.

    Scale shape: ONE corpus aggregation to the |A| x |B| cell frame,
    checkpointed so margins and output derive from it without
    re-scanning the corpus; the cross-margin spine is margins-sized
    (|A| x |B| rows), never corpus-sized; n rides as a literal from the
    already-paid cell frame (a scalar collect, not a corpus job).

    Output: (a, b, observed, row_total, col_total, dev, contrib)."""
    from snowplow_s3_loader_spark.materialize import (
        checkpoint_nostats,
        release_materialized,
    )

    cells = checkpoint_nostats(
        df.select(F.col(col_a).alias("a"), F.col(col_b).alias("b"))
        .groupBy("a", "b")
        .agg(F.count("*").alias("o"))
    )
    n = int(cells.agg(F.sum("o")).collect()[0][0] or 0)
    if n >= 3_000_000_000:
        release_materialized(cells)
        raise ValueError(
            f"association_components: n={n} rows exceeds the int64 dev "
            "bound (n < 3e9) — pre-aggregate or sample first"
        )
    ra = cells.groupBy("a").agg(F.sum("o").alias("row_total"))
    cb = cells.groupBy("b").agg(F.sum("o").alias("col_total"))
    spine = F.broadcast(ra).crossJoin(F.broadcast(cb))
    full = spine.join(cells, ["a", "b"], "left").select(
        "a", "b", "row_total", "col_total",
        F.coalesce(F.col("o"), F.lit(0)).alias("observed"),
    )
    dev = F.lit(n) * F.col("observed") - F.col("row_total") * F.col("col_total")
    dd = F.col("dev").cast("double")
    out = checkpoint_nostats(
        full.withColumn("dev", dev).select(
            "a", "b", "observed", "row_total", "col_total", "dev",
            (
                dd * dd
                / (
                    F.col("row_total").cast("double")
                    * F.col("col_total").cast("double")
                    * F.lit(float(n))
                )
            ).alias("contrib"),
        )
    )
    release_materialized(cells)
    return out


def psi_bin_expr(v: Column, edges: list, etype) -> Column:
    """The shared PSI bin rule — bin(v) = 1 + |{edges e : e < v}| — as
    one compact array fold (tree size O(1), array size k-1, never a
    k-deep chained comparison tree). BOTH the batch psi_bins counts and
    the streaming PSI monitor bin through THIS expression, so their
    histograms are comparable by construction."""
    if not edges:
        return F.lit(1)
    return F.lit(1) + F.aggregate(
        F.array(*[F.lit(e).cast(etype) for e in edges]),
        F.lit(0),
        lambda acc, e: acc + (v > e).cast("int"),
    )


def psi_reference(
    ref: DataFrame,
    value_col: str,
    k: int = 10,
    tie_cols: list[str] | None = None,
) -> tuple[list, list[int]]:
    """Freeze a PSI reference for an always-on monitor: (edges,
    ref_counts) — the k-1 equi-depth upper-edge literals and the k
    reference bin counts, computed by psi_bins ITSELF (cur = empty
    slice of ref), so the frozen edges/counts are bit-identical to
    what any batch psi_bins call on this reference would use. k rows
    collected; the streaming side then needs only the pure
    psi_bin_expr over these literals plus k counters of state."""
    rows = psi_bins(
        ref, ref.where(F.lit(False)), value_col, k=k, tie_cols=tie_cols
    ).collect()
    rows.sort(key=lambda r: r["bin"])
    # a reference with fewer rows than k leaves trailing bins with NULL
    # upper_edge — a None in the edge list would NULL-poison
    # psi_bin_expr's fold and silently drop every streamed row; the
    # non-null prefix is exactly the edge list batch psi_bins binned by
    edges = [
        r["upper_edge"]
        for r in rows
        if r["bin"] < k and r["upper_edge"] is not None
    ]
    return edges, [int(r["n_ref"]) for r in rows]


def psi_assemble(
    spark,
    edges: list,
    ref_counts: list[int],
    cur_counts: dict[int, int],
    value_type: str,
) -> DataFrame:
    """Assemble the exact psi_bins output frame from a frozen reference
    (psi_reference) plus the monitor's per-bin current counts: k
    literal rows projected through the SAME Spark-side psi formula
    (the ln stays in the JVM — a Python-math replica could round
    differently). Drained monitor counts fed through this equal the
    batch psi_bins rows bit-for-bit (the eleventh parity family)."""
    k = len(ref_counts)
    rows = [
        (
            i + 1,
            edges[i] if i < len(edges) else None,
            ref_counts[i],
            int(cur_counts.get(i + 1, 0)),
        )
        for i in range(k)
    ]
    nr = sum(ref_counts)
    nc = sum(cur_counts.values())
    bins = spark.createDataFrame(
        rows,
        f"bin int, upper_edge {value_type}, n_ref long, n_cur long",
    )
    p = F.col("n_ref").cast("double") / F.lit(float(nr))
    q = F.col("n_cur").cast("double") / F.lit(float(nc))
    return bins.select(
        "bin",
        "upper_edge",
        "n_ref",
        "n_cur",
        F.when(
            (F.col("n_ref") > 0) & (F.col("n_cur") > 0),
            F.round((p - q) * F.log(p / q) * 1_000_000, 0).cast("long"),
        ).alias("psi_micro"),
    )


def psi_bins(
    ref: DataFrame,
    cur: DataFrame,
    value_col: str,
    k: int = 10,
    tie_cols: list[str] | None = None,
) -> DataFrame:
    """Population Stability Index ingredients between two snapshots of a
    feature — the scorecard/pipeline drift monitor (Siddiqi 2006):
    equi-depth edges come from the REFERENCE snapshot (k-1 upper cut
    points via the distributed global ntile), then BOTH snapshots are
    counted by the same value rule

        bin(v) = 1 + |{edges e : e < v}|        (ties land on the edge's
                                                 own bin; v past the last
                                                 edge lands in bin k)

    so the two histograms are comparable by construction (counting the
    reference positionally but the current by value would manufacture
    drift at duplicated edge values). Per bin the PSI term is

        psi_micro = round((p - q) * ln(p / q) * 1e6)
          p = n_ref/NR, q = n_cur/NC

    — IEEE-correctly-rounded divisions/subtraction of exact integers
    plus the package's one relied-upon transcendental (ln), rounded
    ONCE; NULL when either side's bin is empty (no smoothing — a
    vanished bin is the loudest drift signal there is, surfaced not
    blurred). Sum psi_micro/1e6 over bins for the headline PSI
    (< 0.1 stable / 0.1-0.25 shifting / > 0.25 drifted).

    Guards: NULL feature values raise on BOTH snapshots (the woe_bins
    NULL-ordering rule); the reference must be non-empty.

    Scale shape: one distributed global sort of the REFERENCE
    (literal-boundary buckets + offset map — no single-partition stage,
    nothing materialized),
    edges collected as k-1 literals, then bin assignment is a pure
    expression over each snapshot's scan and ONE partial+final
    aggregation per side; everything after runs on k-row frames.

    Output: (bin, upper_edge, n_ref, n_cur, psi_micro), bins 1..k
    (upper_edge is NULL for bin k — it is unbounded above)."""
    from snowplow_s3_loader_spark.materialize import checkpoint_nostats
    from snowplow_s3_loader_spark.operators.ranking import (
        global_row_number,
        ntile_from_row_number,
    )

    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if k > 10_000:
        raise ValueError(
            f"psi_bins: k={k} — bin assignment is an O(k)-per-row fold "
            "over k-1 collected edge literals, and PSI bins beyond ~10k "
            "measure sampling noise, not drift; cap k or pre-bucket"
        )
    spark = ref.sparkSession

    def _guarded(df: DataFrame, side: str) -> DataFrame:
        v = F.col(value_col)
        checked = F.when(
            v.isNull(),
            F.raise_error(
                F.lit(
                    f"psi_bins: value column {value_col!r} has NULLs in "
                    f"the {side} snapshot — engines disagree on NULL "
                    "sort placement; filter or impute first"
                )
            ).cast(df.schema[value_col].dataType.simpleString()),
        ).otherwise(v)
        return df.select(
            checked.alias(value_col),
            *[F.col(c) for c in (tie_cols or [])],
        )

    order = [F.col(value_col)] + [F.col(c) for c in (tie_cols or [])]
    ranked, total = global_row_number(
        _guarded(ref, "reference"), order, rn_col="__rn"
    )
    if total == 0:
        raise ValueError("psi_bins: reference snapshot is empty")
    edge_rows = (
        ranked.withColumn(
            "__bin", ntile_from_row_number(F.col("__rn"), total, k)
        )
        .where(F.col("__bin") < k)
        .groupBy("__bin")
        .agg(F.max(value_col).alias("edge"))
        .orderBy("__bin")
        .collect()
    )
    edges = [r["edge"] for r in edge_rows]  # <= k-1 literals

    etype = ref.schema[value_col].dataType

    def _counts(guarded: DataFrame, out: str) -> DataFrame:
        return (
            guarded.select(
                psi_bin_expr(F.col(value_col), edges, etype).alias("bin")
            )
            .groupBy("bin")
            .agg(F.count("*").alias(out))
        )

    spine = spark.range(1, k + 1).select(F.col("id").cast("int").alias("bin"))
    vtype = ref.schema[value_col].dataType.simpleString()
    edge_df = (
        spark.createDataFrame(
            [(i + 1, e) for i, e in enumerate(edges)], ["bin", "upper_edge"]
        )
        if edges
        else spine.where(F.lit(False)).select(
            "bin", F.lit(None).cast(vtype).alias("upper_edge")
        )
    )
    bins = checkpoint_nostats(
        # the ranked frame is NOT materialized (literal-boundary
        # ranking): the reference plan re-evaluates for the edge
        # collect and again for these counts — deterministic by the
        # ranking module's contract; callers with expensive reference
        # plans should materialize them before calling
        # the reference counts re-derive from the GUARDED PROJECTION,
        # not the ranked frame (round 13): the bin expression reads only
        # the value column, but counting through `ranked` dragged the
        # whole two-phase ranking (bucket exchange + sort + window +
        # cross-pass guard) into the count pass, and the guard's
        # side-effecting assert blocks Catalyst from pruning it. The
        # rows are the same multiset by the ranking module's
        # determinism contract (identical plan over identical data).
        spine.join(
            F.broadcast(_counts(_guarded(ref, "reference"), "n_ref")),
            "bin",
            "left",
        )
        .join(F.broadcast(_counts(_guarded(cur, "current"), "n_cur")), "bin", "left")
        .join(F.broadcast(edge_df), "bin", "left")
        .select(
            "bin",
            "upper_edge",
            F.coalesce("n_ref", F.lit(0)).alias("n_ref"),
            F.coalesce("n_cur", F.lit(0)).alias("n_cur"),
        )
    )
    tot = bins.agg(
        F.sum("n_ref").alias("__NR"), F.sum("n_cur").alias("__NC")
    )
    p = F.col("n_ref").cast("double") / F.col("__NR").cast("double")
    q = F.col("n_cur").cast("double") / F.col("__NC").cast("double")
    return bins.crossJoin(F.broadcast(tot)).select(
        "bin",
        "upper_edge",
        "n_ref",
        "n_cur",
        F.when(
            (F.col("n_ref") > 0) & (F.col("n_cur") > 0),
            F.round((p - q) * F.log(p / q) * 1_000_000, 0).cast("long"),
        ).alias("psi_micro"),
    )


def woe_bins(
    df: DataFrame,
    value_col: str,
    label_col: str,
    k: int = 10,
    tie_cols: list[str] | None = None,
) -> DataFrame:
    """Weight-of-evidence feature diagnostics (the credit-scoring /
    feature-selection standard; Siddiqi 2006): equi-depth bin the
    feature into k quantile bins, then per bin the exact positive and
    negative counts, the BIGINT lift deviation

        dev = n_pos * NEG - n_neg * POS          (exact, hash-stable)

    and the quantized WOE

        woe_micro = round(ln(cast(n_pos*NEG as double)
                             / cast(n_neg*POS as double)) * 1e6)

    — one double built from identical integers on both engines (the
    q129 PMI discipline), NULL for single-class bins (explicitly no
    smoothing: a silent epsilon would hide degenerate bins). The
    per-bin (dev, woe) pieces are what IV sums over; the caller gets
    the exact ingredients rather than a float accumulation.

    Guards: 0/1 non-null labels, NON-NULL feature values (Spark sorts
    NULLs first, DuckDB defaults to NULLS LAST — a nullable feature
    would silently bin differently across engines, so it raises
    instead), and the int64 bound n <= 2e9 (so n_pos * NEG stays under
    2^63) are ENFORCED from one scan of the k-row bin frame — the
    corpus pipeline executes once.

    Scale shape: distributed global sort (literal-boundary buckets + offset map
    offsets, no single-partition window), ntile's closed form, ONE
    partial+final aggregation to k rows; everything after runs on the
    k-row frame. ``tie_cols`` must make the order total.

    Output: (bin, n, n_pos, n_neg, dev, woe_micro), bins 1..k."""
    from snowplow_s3_loader_spark.materialize import checkpoint_nostats
    from snowplow_s3_loader_spark.operators.ranking import (
        global_row_number,
        ntile_from_row_number,
    )

    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    lbl = F.col(label_col)
    base = df.select(
        F.col(value_col),
        *[F.col(c) for c in (tie_cols or [])],
        lbl.cast("long").alias("__l"),
        (~lbl.isin(0, 1) | lbl.isNull()).cast("long").alias("__b"),
        F.col(value_col).isNull().cast("long").alias("__vn"),
    )
    order = [F.col(value_col)] + [F.col(c) for c in (tie_cols or [])]
    ranked, total = global_row_number(base, order, rn_col="__rn")
    if total == 0:
        spark = df.sparkSession
        return spark.createDataFrame(
            [], "bin int, n long, n_pos long, n_neg long, dev long, "
                "woe_micro long",
        )
    if total > 2_000_000_000:
        raise ValueError(
            f"woe_bins: {total} rows exceeds the exact int64 bound "
            "(~2e9; n_pos * NEG must stay under 2^63) — sample first"
        )
    bins = checkpoint_nostats(
        ranked.withColumn(
            "bin", ntile_from_row_number(F.col("__rn"), total, k)
        )
        .groupBy("bin")
        .agg(
            F.count("*").alias("n"),
            F.sum("__l").alias("n_pos"),
            F.sum(1 - F.col("__l")).alias("n_neg"),
            F.sum("__b").alias("__badn"),
            F.sum("__vn").alias("__vnull"),
        )
    )
    guard = bins.agg(
        F.sum("__badn").alias("bad"), F.sum("__vnull").alias("vnull")
    ).collect()[0]
    if guard["bad"]:
        raise ValueError(
            f"woe_bins: label column {label_col!r} must be 0/1 non-null"
        )
    if guard["vnull"]:
        raise ValueError(
            f"woe_bins: value column {value_col!r} has {guard['vnull']} "
            "NULLs — engines disagree on NULL sort placement (Spark "
            "NULLS FIRST, DuckDB NULLS LAST), so nullable features must "
            "be filtered or imputed first"
        )
    tot = bins.agg(
        F.sum("n_pos").alias("__POS"), F.sum("n_neg").alias("__NEG")
    )
    out = bins.crossJoin(F.broadcast(tot)).select(
        "bin",
        "n",
        "n_pos",
        "n_neg",
        (F.col("n_pos") * F.col("__NEG") - F.col("n_neg") * F.col("__POS"))
        .cast("long")
        .alias("dev"),
        F.when(
            (F.col("n_pos") > 0) & (F.col("n_neg") > 0),
            F.round(
                F.log(
                    (F.col("n_pos") * F.col("__NEG")).cast("double")
                    / (F.col("n_neg") * F.col("__POS")).cast("double")
                )
                * 1_000_000,
                0,
            ).cast("long"),
        ).alias("woe_micro"),
    )
    return out


def ks_statistic(
    ref: DataFrame,
    cur: DataFrame,
    value_col: str,
    num_partitions: int | None = None,
    max_distinct_values: int | None = 2_000_000,
) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov statistic between two snapshots of
    a feature — PSI's bin-free companion drift monitor (psi_bins needs
    an edge grid; KS is the sup-distance of the two EMPIRICAL CDFs and
    catches shape drift a coarse grid blurs):

        D = max over observed v of |F_ref(v) - F_cur(v)|

    Exact integer form (no CDF doubles anywhere): at each distinct
    value of the union, with c_r / c_c the inclusive counts of rows
    <= v on each side,

        d_num    = max |c_r * n_cur - c_c * n_ref|      (exact int64)
        ks_micro = d_num * 1e6 div (n_ref * n_cur)      (truncating)

    Scale shape — ONE global prefix sum, not two: the per-value counts
    of both sides pack into a single int64, val = d_r * M + d_c with
    M = n_cur + 1 > any possible c_c, so `ranking.global_running_total`
    (literal-boundary buckets, nothing materialized, no
    single-partition stage) carries BOTH cumulative counts in one pass;
    they unpack as div/mod. The reduction to one row is a plain max
    aggregation. The upstream union + value-keyed count aggregation is
    RE-EVALUATED per pass (the totals collect plus the ranking
    module's sample/counts/output trio — four shuffles of the
    distinct-value frame): deliberate — the plan is deterministic so
    the passes agree by construction, and recompute is the resilient
    choice (the module's localCheckpoint lesson); a caller who can
    bound the distinct-value frame may pre-aggregate and persist it
    themselves.

    Guards: NULL values raise on either side (the psi_bins/woe_bins
    NULL rule — Spark and DuckDB order NULLs differently, so a NULL
    would silently shift every cumulative count); both snapshots must
    be non-empty; n_ref * (n_cur + 1) must stay inside int64 (packing
    bound, ~3e9 x 3e9 — ENFORCED); and the DISTINCT-VALUE frame the
    prefix sum walks is bounded LOUDLY: more than
    ``max_distinct_values`` distinct metric values raises (the
    cents-discipline integer metrics this monitor expects sit orders
    of magnitude under the default 2e6; a raw high-cardinality int64
    or double metric would otherwise silently grow the frame toward n
    — quantize the metric or raise the bound deliberately;
    ``max_distinct_values=None`` disables the guard). The count is
    free: it rides the totals aggregation this function already runs.

    Output: one row (n_ref, n_cur, d_num, ks_micro)."""
    from snowplow_s3_loader_spark.operators.ranking import (
        global_running_total,
    )

    def _side(df: DataFrame, flag: int, name: str) -> DataFrame:
        v = F.col(value_col)
        checked = F.when(
            v.isNull(),
            F.raise_error(
                F.lit(
                    f"ks_statistic: NULL {value_col!r} in the {name} "
                    "snapshot (NULL ordering differs across engines; "
                    "filter or impute first)"
                )
            ).cast(df.schema[value_col].dataType),
        ).otherwise(v)
        return df.select(
            checked.alias("__v"),
            F.lit(flag).alias("__is_ref"),
        )

    from snowplow_s3_loader_spark.materialize import (
        checkpoint_nostats,
        release_materialized,
    )

    u = _side(ref, 1, "reference").unionAll(_side(cur, 0, "current"))
    per_v_plan = u.groupBy("__v").agg(
        F.sum("__is_ref").cast("long").alias("__dr"),
        F.sum(1 - F.col("__is_ref")).cast("long").alias("__dc"),
    )
    tot = per_v_plan.agg(
        F.sum("__dr").alias("nr"),
        F.sum("__dc").alias("nc"),
        F.count("*").alias("nv"),
    ).collect()[0]
    n_ref, n_cur = int(tot["nr"] or 0), int(tot["nc"] or 0)
    n_vals = int(tot["nv"] or 0)
    if max_distinct_values is not None and n_vals > max_distinct_values:
        raise ValueError(
            f"ks_statistic: {value_col!r} has {n_vals} distinct values, "
            f"over the max_distinct_values bound ({max_distinct_values}) "
            "— the prefix-sum frame is sized by DISTINCT metric values, "
            "so a high-cardinality metric silently grows it toward n. "
            "Quantize the metric (the cents/micro discipline) or raise "
            "the bound deliberately."
        )
    if n_ref == 0 or n_cur == 0:
        raise ValueError(
            f"ks_statistic: both snapshots must be non-empty "
            f"(n_ref={n_ref}, n_cur={n_cur})"
        )
    m = n_cur + 1
    if n_ref * m >= 2**62:
        raise ValueError(
            f"ks_statistic: {n_ref} x {n_cur} rows overflows the packed "
            "int64 prefix bound; pre-aggregate or sample first"
        )
    # materialize the distinct-value frame ONCE, after the cardinality
    # guard has bounded it (round 13): the ranking module's
    # sample/counts/output trio plus the prefix walk used to re-evaluate
    # the union + value-keyed aggregation per pass — four full corpus
    # aggregations for one statistic. The frame is <=
    # max_distinct_values rows by the guard above (callers who disable
    # the guard opt into an unbounded checkpoint explicitly), so the
    # spearman bounded-materialization doctrine applies; the totals
    # collect already ran un-materialized, so a guard rejection never
    # pays any storage.
    per_v = checkpoint_nostats(per_v_plan)
    packed = per_v.select(
        "__v", (F.col("__dr") * m + F.col("__dc")).alias("__pv")
    )
    pref, _, _ = global_running_total(
        packed,
        [F.col("__v")],
        "__pv",
        rn_col="__rn",
        start_col="__start",
        num_partitions=num_partitions,
    )
    # inclusive packed prefix, unpacked with INTEGER div/mod (a double
    # division would lose exactness past 2^53)
    unpacked = pref.select(
        (F.col("__start") + F.col("__pv")).alias("__inc")
    ).select(
        F.abs(
            F.expr(f"__inc div CAST({m} AS BIGINT)") * F.lit(n_cur)
            - F.expr(f"__inc % CAST({m} AS BIGINT)") * F.lit(n_ref)
        ).alias("__d")
    )
    # the sup reduction is a scalar — resolve it eagerly so the per_v
    # checkpoint can be RELEASED here instead of leaking behind a lazy
    # one-row plan (release_materialized on a lazy projection is a
    # documented no-op); the returned frame re-applies the identical
    # closing expression over the collected max, so types and values
    # are unchanged bit-for-bit.
    try:
        d_num = int(
            unpacked.agg(F.max("__d").alias("d_num")).collect()[0]["d_num"]
        )
    finally:
        release_materialized(per_v)
    return (
        ref.sparkSession.range(1)
        .select(F.lit(d_num).cast("long").alias("d_num"))
        .select(
            F.lit(n_ref).cast("long").alias("n_ref"),
            F.lit(n_cur).cast("long").alias("n_cur"),
            "d_num",
            # d_num can reach n_ref*n_cur, so d_num*1e6 overflows BIGINT
            # past ~3M x 3M rows — ride DECIMAL(38,0) through the one
            # scaled division (IntegralDivide on decimals is exact and
            # returns BIGINT; DuckDB's side widens to HUGEINT natively)
            F.expr(
                f"(CAST(d_num AS DECIMAL(38,0)) * 1000000) div "
                f"(CAST({n_ref} AS BIGINT) * CAST({n_cur} AS BIGINT))"
            ).alias("ks_micro"),
        )
    )


def calibration_bins(
    df: DataFrame,
    score_col: str,
    label_col: str,
    k: int = 10,
) -> DataFrame:
    """Reliability-diagram bins for a probabilistic classifier — the
    calibration companion to the ranking-quality AUC (q140) and the
    monotone-lift WOE (q145): before a quality model's scores gate a
    100 TB corpus at a fixed threshold, the threshold is only
    meaningful if the scores are CALIBRATED (a bin whose average score
    says 0.8 should contain ~80% positives; Naeini et al. 2015's ECE is
    the standard summary).

    Inputs: ``score_col`` a micro-unit probability in [0, 1e6] (BIGINT;
    out-of-range or NULL scores RAISE — a silently clamped score is a
    corrupted diagram), ``label_col`` a 0/1 ground-truth label (other
    values raise). Equal-WIDTH bins over the score axis (bin i covers
    [i*1e6/k, (i+1)*1e6/k); score = 1e6 lands in the last bin), the
    reliability-diagram convention — equi-depth binning is what
    `woe_bins` already provides.

    Exact integer outputs per bin (the full k-row spine, empty bins
    with n = 0 and NULL ratios):

        avg_score_micro = sum_score div n          (truncating)
        frac_pos_micro  = n_pos * 1e6 div n        (truncating)
        gap_micro       = |avg_score - frac_pos|
        ece_num         = sum over bins of n * gap_micro  (same on
                          every row; ece_micro = ece_num div N)

    Scale shape: ONE scan — a pure guarded projection to (bin, label)
    feeds one k-ary hash aggregation (map-side partial combine bounds
    the shuffle at k rows per task); the spine join and the ECE window
    run on the k-row frame. Int64 bounds: sum_score <= N * 1e6 and
    ece_num <= N * 1e6 — safe through ~9e12 rows, far past any corpus.

    Output: (bin, n, n_pos, avg_score_micro, frac_pos_micro, gap_micro,
    ece_num) ordered by bin."""
    if not 1 <= k <= 10_000:
        raise ValueError(f"calibration_bins: k must be in [1, 10000], got {k}")
    s, lab = F.col(score_col), F.col(label_col)
    # s != s.cast(long) catches fractional micro scores (silent
    # truncation would shift bin boundaries) — false on integer inputs
    checked_s = F.when(
        s.isNull() | (s < 0) | (s > 1_000_000) | (s != s.cast("long")),
        F.raise_error(
            F.concat(
                F.lit(
                    f"calibration_bins: {score_col!r} must be a micro-unit "
                    "probability in [0, 1e6], got "
                ),
                F.coalesce(s.cast("string"), F.lit("NULL")),
            )
        ).cast("long"),
    ).otherwise(s.cast("long"))
    checked_l = F.when(
        lab.isNull() | ~lab.cast("long").isin(0, 1),
        F.raise_error(
            F.concat(
                F.lit(f"calibration_bins: {label_col!r} must be 0/1, got "),
                F.coalesce(lab.cast("string"), F.lit("NULL")),
            )
        ).cast("long"),
    ).otherwise(lab.cast("long"))
    # staged projection so the bin rule is exact INTEGER division on the
    # guarded attribute (a double divide could mis-bin exact boundaries)
    binned = (
        df.select(checked_s.alias("__s"), checked_l.alias("__l"))
        .select(
            F.least(
                F.expr(f"(__s * CAST({k} AS BIGINT)) div 1000000"),
                F.lit(k - 1).cast("long"),
            ).cast("int").alias("bin"),
            "__s",
            "__l",
        )
    )
    per_bin = binned.groupBy("bin").agg(
        F.count("*").alias("n"),
        F.sum("__l").alias("n_pos"),
        F.sum("__s").alias("sum_score"),
    )
    spine = (
        df.sparkSession.range(k)
        .select(F.col("id").cast("int").alias("bin"))
    )
    full = spine.join(per_bin, "bin", "left").select(
        "bin",
        F.coalesce("n", F.lit(0)).cast("long").alias("n"),
        F.coalesce("n_pos", F.lit(0)).cast("long").alias("n_pos"),
        F.coalesce("sum_score", F.lit(0)).cast("long").alias("__ss"),
    )
    with_ratios = full.select(
        "bin",
        "n",
        "n_pos",
        F.when(F.col("n") > 0, F.expr("__ss div n")).alias(
            "avg_score_micro"
        ),
        F.when(
            F.col("n") > 0, F.expr("(n_pos * 1000000) div n")
        ).alias("frac_pos_micro"),
    ).select(
        "*",
        F.when(
            F.col("n") > 0,
            F.abs(F.col("avg_score_micro") - F.col("frac_pos_micro")),
        ).alias("gap_micro"),
    )
    # ECE numerator over the k-row frame — an unpartitioned window is
    # fine HERE because the frame is bounded by the monitor's own k
    # (the psi_bins/woe_bins k-row discipline), never by the data
    from pyspark.sql import Window

    w = Window.orderBy("bin").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return with_ratios.select(
        "*",
        F.sum(
            F.coalesce(F.col("n") * F.col("gap_micro"), F.lit(0))
        ).over(w).alias("ece_num"),
    ).orderBy("bin")


def isotonic_calibration(
    df: DataFrame,
    score_col: str,
    label_col: str,
    k: int = 10,
) -> DataFrame:
    """Isotonic (monotone) recalibration of the reliability diagram —
    the remapping step AFTER `calibration_bins` diagnoses miscalibrated
    scores (Zadrozny & Elkan 2002's isotonic regression, fitted on the
    k-bin diagram): the fitted curve is the weighted PAV solution via
    the minimax identity

        fitted(i) = max over j <= i of  min over k' >= i of
                    pooled_rate(j, k'),
        pooled_rate(j, k') = (sum n_pos[j..k'] * 1e6)
                             div (sum n[j..k'])     (truncating)

    computed on TRUNCATING-MICRO pooled rates, so every comparison is
    an int64 compare and both engines agree bit for bit ("PAV up to
    quantization": max-of-min of ANY f is nondecreasing in i, so the
    fitted curve is monotone by construction, and on pooled regions it
    equals true PAV's pooled rate quantized once). Empty bins carry no
    evidence and no fit (fitted_micro NULL); inputs inherit
    `calibration_bins`' guards (micro-unit score in [0, 1e6], 0/1
    label, fractional raises).

    Scale shape: the corpus pays ONE scan (calibration_bins' k-ary
    aggregation); everything after — prefix sums, the j <= i <= k'
    triple join, the min/max reductions — runs on the k-row bin frame.
    The triple join generates ~k^3/6 tuples, so THIS path enforces
    k <= 1000 (<= ~1.7e8 tuples, seconds of work) rather than
    inheriting calibration_bins' k <= 10000 diagram bound (which would
    permit ~1.7e11 tuples — a reliability DIAGRAM at k=10k is fine,
    an isotonic FIT at k=10k is not; fit on a coarser grid). The one
    unpartitioned window is k-row-bounded by construction, the q161
    distinct-frame argument.

    Output: (bin, n, n_pos, avg_score_micro, frac_pos_micro,
    fitted_micro) ordered by bin."""
    from pyspark.sql import Window

    if not 1 <= k <= 1_000:
        raise ValueError(
            f"isotonic_calibration: k must be in [1, 1000], got {k} — "
            "the minimax fit joins O(k^3) pooled rates on the bin "
            "frame (~1.7e8 tuples at the cap; calibration_bins' 10k "
            "diagram bound would permit ~1.7e11). Fit on a coarser "
            "grid or use calibration_bins alone for diagnosis."
        )
    bins = calibration_bins(df, score_col, label_col, k)
    ne = bins.where(F.col("n") > 0).select("bin", "n", "n_pos")
    wp = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    pref = ne.select(
        "bin",
        F.row_number().over(Window.orderBy("bin")).alias("__idx"),
        (F.sum("n").over(wp) - F.col("n")).alias("__en"),
        (F.sum("n_pos").over(wp) - F.col("n_pos")).alias("__ep"),
        F.sum("n").over(wp).alias("__pn"),
        F.sum("n_pos").over(wp).alias("__pp"),
    )
    lo = pref.select(
        F.col("__idx").alias("__j"),
        F.col("__en").alias("__en_j"),
        F.col("__ep").alias("__ep_j"),
    )
    hi = pref.select(
        F.col("__idx").alias("__k"),
        F.col("__pn").alias("__pn_k"),
        F.col("__pp").alias("__pp_k"),
    )
    rates = lo.join(hi, F.col("__j") <= F.col("__k")).select(
        "__j",
        "__k",
        F.expr(
            "((__pp_k - __ep_j) * CAST(1000000 AS BIGINT)) div "
            "(__pn_k - __en_j)"
        ).alias("__rate"),
    )
    ii = pref.select(F.col("__idx").alias("__i"), "bin")
    fit = (
        ii.join(
            rates,
            (F.col("__j") <= F.col("__i")) & (F.col("__k") >= F.col("__i")),
        )
        .groupBy("__i", "bin", "__j")
        .agg(F.min("__rate").alias("__mn"))
        .groupBy("__i", "bin")
        .agg(F.max("__mn").alias("fitted_micro"))
        .select("bin", "fitted_micro")
    )
    return (
        bins.join(fit, "bin", "left")
        .select(
            "bin",
            "n",
            "n_pos",
            "avg_score_micro",
            "frac_pos_micro",
            "fitted_micro",
        )
        .orderBy("bin")
    )


def two_proportion_z(
    df: DataFrame,
    variant_col: str,
    success_col: str,
    a_value,
    b_value,
    strata_cols: list[str] | None = None,
) -> DataFrame:
    """Two-proportion z-test readout per stratum — the A/B experiment
    primitive (conversion-rate difference with its pooled standard
    error; Fleiss et al., "Statistical Methods for Rates and
    Proportions"): is variant A's success rate genuinely above B's, or
    is the gap inside sampling noise?

    ``variant_col`` values other than ``a_value``/``b_value`` RAISE
    (a silently dropped third arm biases both denominators);
    ``success_col`` must be 0/1/boolean (NULL raises). Per stratum:

        n_a, n_b, x_a, x_b       exact success/total counts
        diff_num = x_a*n_b - x_b*n_a   exact int64 cross difference
                                  (sign = direction, 0 = identical
                                  rates — hash-strong without floats)
        z_micro  = round(1e6 * (x_a/n_a - x_b/n_b) / se)  where
                   se = sqrt(p*(1-p)*(1/n_a+1/n_b)), p pooled —
                   ONE closing double expression over the four exact
                   int64 counts (the q116/q154 discipline: every
                   operand < 2^53 is exactly represented, the sqrt is
                   IEEE-defined, both engines compute bit-identical
                   doubles); NULL when either arm is empty or the
                   pooled rate is degenerate (se = 0).

    Scale shape: ONE scan — a guarded projection feeds one hash
    aggregation keyed on the strata (conditional sums; map-side
    partial combine bounds the shuffle at |strata| rows per task).
    The int64 bound x*n < 2^63 holds through ~3e9 rows per arm per
    stratum — ENFORCED with a per-row raise at 2^31 per count
    (diff_num's factors), loud not wrapped.

    Output: (*strata, n_a, n_b, x_a, x_b, diff_num, z_micro) ordered
    by strata."""
    strata = list(strata_cols or [])
    v, s = F.col(variant_col), F.col(success_col)
    is_a = v == F.lit(a_value)
    is_b = v == F.lit(b_value)
    checked_v = F.when(
        v.isNull() | (~is_a & ~is_b),
        F.raise_error(
            F.concat(
                F.lit(
                    f"two_proportion_z: {variant_col!r} must be "
                    f"{a_value!r} or {b_value!r}, got "
                ),
                F.coalesce(v.cast("string"), F.lit("NULL")),
            )
        ).cast("boolean"),
    ).otherwise(is_a)
    checked_s = F.when(
        s.isNull() | ~s.cast("long").isin(0, 1),
        F.raise_error(
            F.concat(
                F.lit(f"two_proportion_z: {success_col!r} must be 0/1, got "),
                F.coalesce(s.cast("string"), F.lit("NULL")),
            )
        ).cast("long"),
    ).otherwise(s.cast("long"))
    base = df.select(
        *strata, checked_v.alias("__a"), checked_s.alias("__x")
    )
    agg = base.groupBy(*strata).agg(
        F.sum(F.col("__a").cast("long")).alias("n_a"),
        F.sum((~F.col("__a")).cast("long")).alias("n_b"),
        F.sum(F.when(F.col("__a"), F.col("__x")).otherwise(0)).alias("x_a"),
        F.sum(F.when(~F.col("__a"), F.col("__x")).otherwise(0)).alias("x_b"),
    )
    bound = F.lit(2**31)
    guarded = agg.select(
        *strata,
        *[
            F.when(
                F.col(c) >= bound,
                F.raise_error(
                    F.lit(
                        f"two_proportion_z: {c} exceeds 2^31 rows per "
                        "stratum — diff_num would overflow int64; "
                        "stratify finer or pre-sample"
                    )
                ).cast("long"),
            ).otherwise(F.col(c)).alias(c)
            for c in ("n_a", "n_b", "x_a", "x_b")
        ],
    )
    # pooled-se z in ONE closing double expression over exact int64s
    z = F.when(
        (F.col("n_a") > 0)
        & (F.col("n_b") > 0)
        & (F.col("x_a") + F.col("x_b") > 0)
        & (F.col("x_a") + F.col("x_b") < F.col("n_a") + F.col("n_b")),
        F.round(
            (
                F.col("x_a") / F.col("n_a") - F.col("x_b") / F.col("n_b")
            )
            / F.sqrt(
                ((F.col("x_a") + F.col("x_b")) / (F.col("n_a") + F.col("n_b")))
                * (
                    1
                    - (F.col("x_a") + F.col("x_b"))
                    / (F.col("n_a") + F.col("n_b"))
                )
                * (1 / F.col("n_a") + 1 / F.col("n_b"))
            )
            * 1_000_000
        ).cast("long"),
    )
    return guarded.select(
        *strata,
        "n_a",
        "n_b",
        "x_a",
        "x_b",
        (F.col("x_a") * F.col("n_b") - F.col("x_b") * F.col("n_a")).alias(
            "diff_num"
        ),
        z.alias("z_micro"),
    ).orderBy(*strata) if strata else guarded.select(
        "n_a",
        "n_b",
        "x_a",
        "x_b",
        (F.col("x_a") * F.col("n_b") - F.col("x_b") * F.col("n_a")).alias(
            "diff_num"
        ),
        z.alias("z_micro"),
    )


def mutual_information(
    df: DataFrame,
    x_col: str,
    y_col: str,
) -> DataFrame:
    """Exact-integer mutual information between two categorical columns
    — the feature-redundancy / leakage audit (does knowing X pin down
    Y?) that correlation misses on non-ordinal data. Plug-in estimates
    in quantized micro-nats, each entropy in the q159 char-entropy
    shape (one round(ln(c)·1e6) per DISTINCT count, exact int64
    accumulation, ONE truncating closing division):

        H(X)   = round(ln N · 1e6) - (sum_x c_x · round(ln c_x · 1e6))
                                      div N
        H(Y), H(X,Y) likewise;  MI = H(X) + H(Y) - H(X,Y)

    MI is assembled from the three quantized entropies, so mi_micro
    can sit a few micro-nats off zero (or below) for independent
    columns — quantization drift, not signal; perfectly-dependent
    columns give mi_micro = h_x_micro exactly. NULL is a CATEGORY
    (SQL GROUP BY semantics) — an unknown that co-varies with Y is
    exactly the leakage this audit hunts.

    Scale shape: ONE scan, ONE aggregation tree — the pair counts and
    both marginals come out of a single GROUPING SETS pass ((x,y), (x),
    (y)): Spark's Expand triples rows map-side, the partial combine
    bounds the one shuffle at distinct keys per set, and grouping_id()
    separates the three count sets (a real NULL category never
    collides with the set mask — the id column disambiguates). The
    per-set entropy reduction and the one-row assembly are two scalar
    aggregations over the bounded key frame. No join, no window, no
    Python, no re-scan per marginal.

    Output: one row (n, x_distinct, y_distinct, xy_distinct,
    h_x_micro, h_y_micro, h_xy_micro, mi_micro)."""
    keyed = df.select(F.col(x_col).alias("__x"), F.col(y_col).alias("__y"))
    counts = keyed.groupingSets(
        [["__x", "__y"], ["__x"], ["__y"]], "__x", "__y"
    ).agg(F.count("*").alias("__c"), F.grouping_id().alias("__g"))
    t = F.round(F.log("__c") * 1_000_000).cast("long")
    per_set = counts.groupBy("__g").agg(
        F.sum("__c").alias("__n"),
        F.count("*").alias("__d"),
        F.sum(F.col("__c") * t).alias("__s"),
    )

    def _of(gid: int, col: str) -> Column:
        return F.max(F.when(F.col("__g") == gid, F.col(col)))

    # grouping_id bits: 0 = (x,y), 1 = y masked -> x marginal,
    # 2 = x masked -> y marginal
    one = per_set.agg(
        _of(0, "__n").alias("__n_rows"),
        _of(0, "__d").alias("xy_distinct"),
        _of(0, "__s").alias("__s_xy"),
        _of(1, "__d").alias("x_distinct"),
        _of(1, "__s").alias("__s_x"),
        _of(2, "__d").alias("y_distinct"),
        _of(2, "__s").alias("__s_y"),
    )
    ln_n = F.round(F.log("__n_rows") * 1_000_000).cast("long")

    def _h(src: str, out: str) -> Column:
        return (ln_n - F.expr(f"{src} div __n_rows")).alias(out)

    return one.select(
        F.col("__n_rows").cast("long").alias("n"),
        F.col("x_distinct").cast("long").alias("x_distinct"),
        F.col("y_distinct").cast("long").alias("y_distinct"),
        F.col("xy_distinct").cast("long").alias("xy_distinct"),
        _h("__s_x", "h_x_micro"),
        _h("__s_y", "h_y_micro"),
        _h("__s_xy", "h_xy_micro"),
    ).withColumn(
        "mi_micro",
        F.col("h_x_micro") + F.col("h_y_micro") - F.col("h_xy_micro"),
    )


def benford_profile(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
) -> DataFrame:
    """First-significant-digit (Benford) profile per group — the
    classic fabricated-/synthetic-data and unit-mixup detector (Benford
    1938; Nigrini's audit practice): naturally spread positive
    magnitudes put digit d first with probability log10(1 + 1/d), and a
    column that wildly misses that curve was clamped, generated, or
    double-scaled somewhere upstream.

    Per (group, digit 1..9), on the FULL 9-digit spine (zero-count
    digits emit n = 0):

        n            values whose decimal repr starts with the digit
        obs_micro    n * 1e6 div N_group        (truncating)
        exp_micro    round(log10(1 + 1/d) * 1e6) (quantized ONCE per
                     digit, in-engine — the per-term ln discipline)
        dev_micro    obs_micro - exp_micro

    ``value_col`` must be a POSITIVE integer (cents discipline): zero
    has no first significant digit and a negative sign is not a digit —
    NULL / <= 0 raise. The first digit is substr(cast(v as string),1,1),
    identical across engines for positive integers (no sign, no
    exponent notation).

    Scale shape: one scan -> (group, digit) hash aggregation with
    map-side combine (<= 9 rows per group per task), one group-level
    count reduction, then the spine join runs on |groups| x 9 rows.
    No window, no sort.

    Output: (group_cols..., digit, n, obs_micro, exp_micro, dev_micro)
    ordered by (group_cols..., digit)."""
    v = F.col(value_col)
    checked = F.when(
        v.isNull() | (v <= 0),
        F.raise_error(
            F.concat(
                F.lit(
                    f"benford_profile: {value_col!r} must be a positive "
                    "integer (zero/negative magnitudes have no Benford "
                    "first digit), got "
                ),
                F.coalesce(v.cast("string"), F.lit("NULL")),
            )
        ).cast("long"),
    ).otherwise(v.cast("long"))
    digits = (
        df.select(
            *group_cols,
            F.substring(checked.cast("string"), 1, 1)
            .cast("int")
            .alias("digit"),
        )
        .groupBy(*group_cols, "digit")
        .agg(F.count("*").alias("n"))
    )
    totals = digits.groupBy(*group_cols).agg(F.sum("n").alias("__N"))
    spine = totals.crossJoin(
        df.sparkSession.range(1, 10).select(F.col("id").cast("int").alias("digit"))
    )
    exp_micro = F.round(
        F.log10(1.0 + 1.0 / F.col("digit")) * 1_000_000
    ).cast("long")
    return (
        spine.join(digits, [*group_cols, "digit"], "left")
        .select(
            *group_cols,
            "digit",
            F.coalesce("n", F.lit(0)).cast("long").alias("n"),
            F.expr("(coalesce(n, 0) * 1000000) div __N").alias("obs_micro"),
            exp_micro.alias("exp_micro"),
            (
                F.expr("(coalesce(n, 0) * 1000000) div __N") - exp_micro
            ).alias("dev_micro"),
        )
        .orderBy(*group_cols, "digit")
    )


def cuped_adjusted_means(
    df: DataFrame,
    variant_col: str,
    metric_col: str,
    covariate_col: str,
) -> DataFrame:
    """CUPED variance-reduced experiment readout (Deng, Xu, Kohavi &
    Walker, WSDM 2013) — the standard trick that cuts an A/B metric's
    variance using a PRE-experiment covariate (usually the same metric
    measured before assignment):

        theta      = cov(x, y) / var(x)          (POOLED, the CUPED rule
                                                  — theta must not
                                                  depend on assignment)
        adj_mean_g = mean_y_g - theta * (mean_x_g - mean_x)

    Exact integer pieces end to end — the pooled moments ride
    `exact_moments` (cov_num = n*Sxy - Sx*Sy, var_x_num = n*Sxx - Sx^2,
    pure BIGINT; the caller must scale inputs so n*Sxy fits int64, the
    exact_moments contract), the per-variant sums are exact, the raw
    mean is truncating-integer — and ONE closing double expression per
    variant row produces adj_mean_micro, mirrored node for node in the
    oracle (the q157 discipline: every operand an exactly-represented
    int64, IEEE-defined divisions).

    A constant covariate (var_x_num = 0) leaves theta undefined:
    adj_mean_micro is NULL and the raw mean still reads out. NULL
    metric/covariate values raise (they would silently shrink the
    sums).

    Scale shape: one scan -> one variant-keyed aggregation plus one
    scalar pooled-moments aggregation (both partial+final), broadcast-
    joined (the pooled frame is ONE row). No window, no Python.

    Output: (variant, n, sum_y, sum_x, mean_y_micro, adj_mean_micro)
    ordered by variant, carrying (n_total, cov_num, var_x_num) on
    every row for auditability."""
    y, x = F.col(metric_col), F.col(covariate_col)

    def _checked(c: Column, name: str) -> Column:
        return F.when(
            c.isNull(),
            F.raise_error(
                F.lit(
                    f"cuped_adjusted_means: NULL {name!r} — impute the "
                    "covariate (0 for no-pre-period units) or filter "
                    "first"
                )
            ).cast("long"),
        ).otherwise(c.cast("long"))

    base = df.select(
        F.col(variant_col).alias("variant"),
        _checked(y, metric_col).alias("__y"),
        _checked(x, covariate_col).alias("__x"),
    )
    pooled = exact_moments(base, [], "__x", "__y").select(
        F.col("n").alias("n_total"),
        F.col("sx").alias("__gsx"),
        F.col("cov_num"),
        F.col("var_x_num"),
    )
    per_v = base.groupBy("variant").agg(
        F.count("*").alias("n"),
        F.sum("__y").alias("sum_y"),
        F.sum("__x").alias("sum_x"),
    )
    j = per_v.crossJoin(F.broadcast(pooled))
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    adj = F.round(
        (
            d("sum_y") / d("n")
            - (d("cov_num") / d("var_x_num"))
            * (d("sum_x") / d("n") - d("__gsx") / d("n_total"))
        )
        * 1_000_000
    ).cast("long")
    return j.select(
        "variant",
        "n",
        "sum_y",
        "sum_x",
        # sign-separated truncating division (the q116 rule): Spark div
        # truncates toward zero, DuckDB // floors — identical only on
        # non-negative operands
        F.when(
            F.col("sum_y") >= 0,
            F.expr("(sum_y * CAST(1000000 AS BIGINT)) div n"),
        )
        .otherwise(-F.expr("((-sum_y) * CAST(1000000 AS BIGINT)) div n"))
        .alias("mean_y_micro"),
        F.when(F.col("var_x_num") != 0, adj).alias("adj_mean_micro"),
        "n_total",
        "cov_num",
        "var_x_num",
    ).orderBy("variant")


def fd_check(
    df: DataFrame,
    dependencies: list[tuple[list[str], str]],
) -> DataFrame:
    """Functional-dependency / candidate-key profiling — does column set
    X determine column y in THIS data? (Huhtala et al. 1999's TANE
    problem, here as the verification primitive schema inference and
    data-contract audits run at scale: a violated FD is either a
    modeling error or a data bug, and the violation COUNT says which.)

    For each declared ``([det, ...], dep)`` pair:

        n_groups        distinct determinant combinations
        n_violating     determinant groups with > 1 distinct dep value
        max_dep_values  the worst group's distinct-dep count
        holds           n_violating = 0 (1/0)
        n_rows          rows profiled
        g3_micro        TANE's g3 approximation measure (Huhtala et al.
                        1999 §2.3) in truncating micro-units: the
                        fraction of rows that must be REMOVED for the
                        FD to hold exactly — n_rows minus the sum of
                        each group's plurality-dep count, over n_rows.
                        0 = exact FD; small g3 = "holds approximately,
                        here is the violation mass" (the difference
                        between a modeling error and a few bad rows)

    A candidate-key check is the FD with dep = any unique row id; the
    operator treats NULL determinant values as a group key like SQL
    GROUP BY does (NULL = NULL for grouping), and NULL dep counts as a
    distinct value (the (det, dep) pre-aggregation groups NULL dep as
    its own value) so two groups differing only in dep NULL-ness are
    distinguished. On an EMPTY relation an FD vacuously holds:
    n_groups = n_violating = max_dep_values = n_rows = g3_micro = 0 and
    holds = 1 (never three-valued NULL — the sum-over-zero-rows NULL is
    coalesced before `holds` derives).

    Scale shape: ONE scan of the relation for ALL declared pairs — the
    per-pair (det, dep) level-1 counts come out of a single GROUPING
    SETS pass over the union of referenced columns (the q169 idiom:
    Expand replicates rows map-side once per distinct column-set, the
    partial combine bounds the one corpus shuffle at distinct keys per
    set, and grouping_id() separates the sets — a real NULL value never
    collides with a masked column because the id disambiguates; within
    a set, data NULLs group exactly as SQL GROUP BY does). Each pair
    then reduces ITS set's rows (groupBy(det) to (distinct-dep,
    plurality, rows), then a bounded reduction to one row); pairs
    sharing a column set share the level-1 rows. The per-pair plans
    union into one |pairs|-row frame. At 100 TB this is one corpus
    pass however many FDs the contract declares — but still declare the
    pairs you need, not the O(2^cols) lattice (TANE's pruning is a
    driver-side search; you verify contracted FDs, you don't mine the
    lattice). A single declared pair plans the plain two-level
    aggregation with no Expand.

    Output: (fd, n_groups, n_violating, max_dep_values, holds, n_rows,
    g3_micro) ordered by fd."""
    if not dependencies:
        raise ValueError("fd_check: declare at least one (dets, dep) pair")
    for dets, dep in dependencies:
        if not dets or dep in dets:
            raise ValueError(
                f"fd_check: bad pair ({dets!r} -> {dep!r}): need a "
                "non-empty determinant set not containing the dependent"
            )
    # ONE level-1 pass for every pair: GROUPING SETS over the union of
    # referenced columns, one set per distinct column-set (pairs that
    # use the same columns — e.g. a->b and b->a — share level-1 rows).
    cols: list[str] = []
    for dets, dep in dependencies:
        for c in [*dets, dep]:
            if c not in cols:
                cols.append(c)
    uniq_sets: list[frozenset] = []
    for dets, dep in dependencies:
        fs = frozenset([*dets, dep])
        if fs not in uniq_sets:
            uniq_sets.append(fs)
    if len(uniq_sets) > 1:
        gs_counts = df.groupingSets(
            [[c for c in cols if c in fs] for fs in uniq_sets], *cols
        ).agg(F.count("*").alias("__c"), F.grouping_id().alias("__g"))

        def _mask(fs: frozenset) -> int:
            # grouping_id: leftmost groupBy column = highest bit,
            # bit set when the column is MASKED (aggregated away)
            n = len(cols)
            return sum(
                (0 if cols[j] in fs else 1) << (n - 1 - j) for j in range(n)
            )

    outs = []
    for dets, dep in dependencies:
        name = ",".join(dets) + "->" + dep
        # distinct dep values per group COUNTING NULL as a value (the
        # (det, dep) grouping keys NULL dep as its own row), the
        # plurality count, and the group's row mass
        if len(uniq_sets) > 1:
            # CONDITIONAL aggregation over the shared level-1 frame —
            # deliberately NOT a filter on __g: a filter would push
            # below the level-1 aggregate (grouping-column predicate),
            # making each pair's subtree distinct and splitting the
            # shared scan back into per-pair scans. With identical
            # children, every pair's branch reuses ONE level-1
            # exchange (gated in test_plans). Rows from other sets
            # contribute nothing (the when() guards every aggregate;
            # sum/max/count ignore NULL) and their residual groups are
            # dropped by the __nd > 0 filter (which references an
            # aggregate output, so it cannot push down).
            cond = F.col("__g") == _mask(frozenset([*dets, dep]))
            per_group = (
                gs_counts.groupBy(*dets)
                .agg(
                    F.count(F.when(cond, F.lit(1))).alias("__nd"),
                    F.max(F.when(cond, F.col("__c"))).alias("__keep"),
                    F.sum(F.when(cond, F.col("__c"))).alias("__rows"),
                )
                .where(F.col("__nd") > 0)
            )
        else:
            pair_counts = df.groupBy(*dets, dep).agg(
                F.count("*").alias("__c")
            )
            per_group = pair_counts.groupBy(*dets).agg(
                F.count("*").alias("__nd"),
                F.max("__c").alias("__keep"),
                F.sum("__c").alias("__rows"),
            )
        outs.append(
            per_group.agg(
                F.count("*").alias("n_groups"),
                F.sum((F.col("__nd") > 1).cast("long")).alias("n_violating"),
                F.max("__nd").alias("max_dep_values"),
                F.sum("__rows").alias("__n_rows"),
                F.sum("__keep").alias("__n_keep"),
            ).select(
                F.lit(name).alias("fd"),
                F.col("n_groups").cast("long").alias("n_groups"),
                F.coalesce("n_violating", F.lit(0))
                .cast("long")
                .alias("n_violating"),
                F.coalesce("max_dep_values", F.lit(0))
                .cast("long")
                .alias("max_dep_values"),
                (F.coalesce("n_violating", F.lit(0)) == 0)
                .cast("long")
                .alias("holds"),
                F.coalesce("__n_rows", F.lit(0))
                .cast("long")
                .alias("n_rows"),
                F.coalesce(
                    F.expr(
                        "(( __n_rows - __n_keep) * CAST(1000000 AS BIGINT))"
                        " div __n_rows"
                    ),
                    F.lit(0),
                )
                .cast("long")
                .alias("g3_micro"),
            )
        )
    res = outs[0]
    for o in outs[1:]:
        res = res.unionAll(o)
    return res.orderBy("fd")


def survival_curve(
    df: DataFrame,
    group_col: str,
    duration_col: str,
    event_col: str,
) -> DataFrame:
    """Kaplan-Meier survival curve per group (Kaplan & Meier 1958) —
    the time-to-event / churn primitive with right-censoring, the
    analytics family the cohort-retention grid (q89) cannot express
    (a user still active at observation end is CENSORED evidence, not
    a non-event):

        S(t) = prod over distinct event times t_i <= t of
               (1 - d_i / n_i)

    with d_i the events at t_i and n_i the at-risk count (subjects
    whose duration >= t_i). Exact engine-portable form: at-risk counts
    and event/censor counts are exact int64 (one keyed aggregation +
    one exclusive keyed prefix sum); each step contributes
    ``step_ln_micro = round(ln(1 - d/n) * 1e6)`` — quantized ONCE per
    distinct (group, t) row, the repo's per-term ln discipline — and
    the curve is carried as the exact integer ``cum_ln_micro`` (sum of
    steps; S(t) = exp(cum/1e6), left to callers — no closing exp, so
    the hashed artifact never depends on libm exp rounding). A time
    where every remaining subject exits (d = n) drives S to 0:
    ln(0) is emitted as NULL and cum_ln_micro stays NULL from there
    down (the curve is dead, not rounding noise).

    ``duration_col`` must be a non-negative integer (NULL / negative /
    FRACTIONAL values raise — a fractional duration silently truncated
    would merge distinct event times);
    ``event_col`` 1 = event observed at duration, 0 = censored
    there (NULL/other raise). Censored subjects leave the risk set at
    their censor time without a survival step (the KM rule).

    Scale shape: one (group, t)-keyed aggregation over the subjects
    (map-side combine), one group-keyed window over the DISTINCT-time
    frame (bounded by observed times per group, not subjects), one
    more for the cumulative sum. No unpartitioned window, no join, no
    Python.

    Output: (group, t, n_at_risk, n_events, n_censored, step_ln_micro,
    cum_ln_micro) ordered by (group, t)."""
    from pyspark.sql import Window

    d, e = F.col(duration_col), F.col(event_col)
    # d != d.cast(long) is identically false on integer inputs and
    # catches fractional doubles/decimals (1.5 must RAISE, not truncate
    # to 1 — the docstring's integer contract, kept loud)
    checked_d = F.when(
        d.isNull() | (d < 0) | (d != d.cast("long")),
        F.raise_error(
            F.concat(
                F.lit(
                    f"survival_curve: {duration_col!r} must be a "
                    "non-negative integer duration, got "
                ),
                F.coalesce(d.cast("string"), F.lit("NULL")),
            )
        ).cast("long"),
    ).otherwise(d.cast("long"))
    checked_e = F.when(
        e.isNull() | ~e.cast("long").isin(0, 1),
        F.raise_error(
            F.concat(
                F.lit(
                    f"survival_curve: {event_col!r} must be 0 (censored) "
                    "or 1 (event), got "
                ),
                F.coalesce(e.cast("string"), F.lit("NULL")),
            )
        ).cast("long"),
    ).otherwise(e.cast("long"))
    per_t = (
        df.select(
            F.col(group_col).alias("group"),
            checked_d.alias("t"),
            checked_e.alias("__e"),
        )
        .groupBy("group", "t")
        .agg(
            F.sum("__e").alias("n_events"),
            F.sum(1 - F.col("__e")).alias("n_censored"),
        )
    )
    w = Window.partitionBy("group").orderBy("t")
    at_risk = per_t.select(
        "*",
        (
            F.sum(F.col("n_events") + F.col("n_censored")).over(
                w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            )
            - F.col("n_events")
            - F.col("n_censored")
        ).alias("__before"),
        F.sum(F.col("n_events") + F.col("n_censored")).over(
            w.rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).alias("__total"),
    ).select(
        "group",
        "t",
        (F.col("__total") - F.col("__before")).alias("n_at_risk"),
        "n_events",
        "n_censored",
    )
    stepped = at_risk.select(
        "*",
        F.when(
            (F.col("n_events") > 0) & (F.col("n_events") < F.col("n_at_risk")),
            F.round(
                F.log(
                    1.0
                    - F.col("n_events")
                    / F.col("n_at_risk").cast("double")
                )
                * 1_000_000
            ).cast("long"),
        )
        .when(F.col("n_events") == 0, F.lit(0).cast("long"))
        .alias("step_ln_micro"),
    )
    # a NULL step (d = n: the curve hit exact 0) poisons the cumulative
    # sum from that time on — deliberately: sum() over a window skips
    # NULLs, so gate the cumsum on no-NULL-yet instead
    dead = F.max(
        F.col("step_ln_micro").isNull().cast("int")
    ).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return stepped.select(
        "*",
        F.when(
            dead == 0,
            F.sum("step_ln_micro").over(
                w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        ).alias("cum_ln_micro"),
    ).orderBy("group", "t")
