"""Distributed global ranking — the scale-safe replacement for
`Window.orderBy(...)` with no partitionBy, which funnels every row through a
single task (Spark warns `WindowExec: No Partition Defined`).

Two-phase formulation with LITERAL range boundaries (no materialization):
  1. sample the order key ONCE (distributed top-k by a uniform xxhash64 of
     the key — a bounded, exactly-`target`-row uniform sample collected
     without a count pass), derive k-1 boundary LITERALS;
  2. bucket id = a pure expression counting how many boundaries sort
     strictly before the row's key (direction-aware lexicographic
     compare folded over the boundary array) — every evaluation of the
     plan assigns IDENTICAL buckets by construction, so the frame never
     needs checkpointing/persisting: the partitioning is a function of
     the data, not of a sampler's RDD-id seed;
  3. per-bucket counts (one partial+final aggregation to <= k rows,
     collected) -> cumulative offsets baked back in as a LITERAL map;
  4. local row_number per bucket (bucket-keyed window) + offset.

The global rank is INDEPENDENT of where the boundaries fall — any
contiguous cut of the total order yields the same global position — so
results are bit-identical whatever the sample draws; boundaries only
steer load balance.

CONTRACT: the input plan MUST be deterministic. The counts pass and the
output pass evaluate it independently and agree only because identical
plans over identical data produce identical rows — an input containing
an uncheckpointed nondeterministic stage (.sample(), a nondeterministic
UDF, round-robin repartition) yields different rows per pass and would
corrupt ranks (offset map from one evaluation, local row numbers from
another). That corruption is MACHINE-CHECKED, not just documented: the
output pass carries one extra window count over the SAME bucket
exchange (unbounded frame on the rank window's spec — no extra shuffle,
no extra sort, no extra evaluation of the input) and every row asserts
its bucket's observed size equals the literal count collected in the
counts pass, raising loudly on mismatch. Any cross-pass redistribution
or per-bucket count change trips it; the one escape is an input whose
re-evaluation drops rows while leaving every surviving bucket's count
identical (a strict-subset drift that no per-row check can see without
a content hash). Callers with nondeterministic inputs must still
materialize first (checkpoint_nostats) — the guard turns silent
corruption into an error, it does not make such inputs correct. The
order key MUST be a total order (include a unique tiebreak column);
then row_number == rank == dense_rank, and ntile derives in closed
form from (row_number, total).

Residency/resilience: nothing is materialized (the round-10 shape
eagerly localCheckpointed the ENTIRE input — a measured storage wall at
100M rows and a non-resilient-block failure mode on executor loss).
The price is that the input plan is evaluated three times (sample,
counts, output) — all three are scan+partial-agg shaped except the
output's one real shuffle. Callers whose INPUT is an expensive
multi-stage plan (not a scan/projection) should materialize that input
themselves at a size they can bound (see spearman_moments, whose frames
are contract-bounded to ~1.3e6 rows).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

_RESERVED = ("__gr_b", "__gr_lrn", "__gr_val", "__gr_lcum", "__gr_chk")


def _count_guard(counts: dict[int, int], op: str) -> Column:
    """Per-row cross-pass consistency check (module docstring): TRUE iff
    the row's bucket size observed in the output pass (`__gr_chk`, a
    window count over the same exchange) equals the literal count the
    counts pass collected for that bucket. A bucket id the counts pass
    never saw (NULL lookup) is also a mismatch."""
    cnt_map = F.create_map(
        *[
            x
            for b, c in counts.items()
            for x in (F.lit(b), F.lit(c).cast("long"))
        ]
    )
    expected = F.element_at(cnt_map, F.col("__gr_b"))
    return F.when(
        expected.isNull() | (F.col("__gr_chk") != expected),
        F.raise_error(
            F.concat(
                F.lit(
                    f"{op}: cross-pass bucket-count mismatch (bucket "
                ),
                F.col("__gr_b").cast("string"),
                F.lit(" observed "),
                F.col("__gr_chk").cast("string"),
                F.lit(" rows in the output pass vs "),
                F.coalesce(expected.cast("string"), F.lit("NONE")),
                F.lit(
                    " in the counts pass) — the input plan is "
                    "NONDETERMINISTIC; materialize it first "
                    "(checkpoint_nostats)"
                ),
            )
        ).cast("boolean"),
    ).otherwise(F.lit(True))


def _sort_exprs(knames: list[str], descending: list[bool]) -> list[Column]:
    return [
        F.col(k).desc() if d else F.col(k).asc()
        for k, d in zip(knames, descending)
    ]


def _strictly_after(
    knames: list[str], descending: list[bool], b: Column
) -> Column:
    """Direction-aware lexicographic `row key sorts strictly AFTER
    boundary b` (b's fields are never NULL — enforced at sampling).
    NULL key fields follow Spark's window semantics exactly: NULLS
    FIRST under asc (never after any boundary), NULLS LAST under desc
    (after every boundary)."""
    gt = F.lit(False)
    for k, d in reversed(list(zip(knames, descending))):
        c = F.col(k)
        bi = b[k]
        if d:
            after = c.isNull() | (c < bi)
        else:
            after = F.coalesce(c > bi, F.lit(False))
        eq = F.coalesce(c == bi, F.lit(False))
        gt = after | (eq & gt)
    return gt


def _boundary_cuts(
    keyed: DataFrame,
    knames: list[str],
    descending: list[bool],
    n_buckets: int,
    sample_per_bucket: int,
) -> list[tuple]:
    """<= n_buckets-1 boundary key tuples from ONE bounded sampling job:
    the `target` rows with the smallest xxhash64 of the key (uniform —
    the key is a total order, so there are no heavy duplicates), sorted
    in ORDER-sense by the engine itself (engine sort == window sort by
    construction), cut at evenly spaced sample positions. Rows with any
    NULL key field are excluded from candidacy (a literal boundary must
    be comparable); if everything is NULL-keyed the cut list is empty
    and the sort degrades to one bucket — correct, just unbalanced."""
    if n_buckets <= 1:
        return []
    target = n_buckets * sample_per_bucket
    nn = F.lit(True)
    for k in knames:
        nn = nn & F.col(k).isNotNull()
    rows = (
        keyed.select(*knames)
        .where(nn)
        .orderBy(F.xxhash64(*knames))
        .limit(target)
        .orderBy(*_sort_exprs(knames, descending))
        .collect()
    )
    s = len(rows)
    cuts: list[tuple] = []
    prev: tuple | None = None
    for i in range(1, n_buckets):
        idx = (i * s) // n_buckets
        if idx >= s:
            break
        key = tuple(rows[idx][k] for k in knames)
        if key != prev:
            cuts.append(key)
            prev = key
    return cuts


def _bucket_expr(
    knames: list[str],
    ktypes: list,
    descending: list[bool],
    cuts: list[tuple],
) -> Column:
    """Bucket id as a PURE expression: the number of boundary literals
    the row's key sorts strictly after, found by a balanced BINARY
    SEARCH of nested CASE WHENs — O(log B) comparisons per row inside
    whole-stage codegen (the array-fold alternative is an interpreted
    higher-order function costing O(B) per row — measured 1.5x wall on
    a 100M-row pass at B=128). Plan size is O(B) when-nodes.

    Coarsening fast path: when every cut is DISTINCT on the FIRST key
    component alone, bucket on that single component — a coarser but
    monotone function of the total order (rows tying on it stay in one
    bucket), so contiguity and correctness hold while each comparison
    drops from an m-field struct to one scalar. Distinct first
    components in the sample certify the component's cardinality is
    high enough for balance."""
    if not cuts:
        return F.lit(0)
    firsts = [c[0] for c in cuts]
    if len(set(firsts)) == len(firsts):
        knames, ktypes, descending = knames[:1], ktypes[:1], descending[:1]
        cuts = [(f,) for f in firsts]

    def _lit_key(cut: tuple):
        if len(knames) == 1:
            return F.lit(cut[0]).cast(ktypes[0])
        return F.struct(
            *[
                F.lit(v).cast(t).alias(k)
                for v, k, t in zip(cut, knames, ktypes)
            ]
        )

    def _after(cut: tuple) -> Column:
        if len(knames) == 1:
            c, d = F.col(knames[0]), descending[0]
            b = _lit_key(cut)
            if d:
                return c.isNull() | (c < b)
            return F.coalesce(c > b, F.lit(False))
        return _strictly_after(knames, descending, _lit_key(cut))

    def _search(lo: int, hi: int) -> Column:
        # bucket id for a key known to be after cuts[:lo] and not
        # after cuts[hi:] — i.e. the count of cuts strictly before it
        if lo >= hi:
            return F.lit(lo)
        mid = (lo + hi) // 2
        return F.when(_after(cuts[mid]), _search(mid + 1, hi)).otherwise(
            _search(lo, mid)
        )

    return _search(0, len(cuts))


def _prepare(
    df: DataFrame,
    order_cols: list[Column],
    descending: list[bool] | None,
    num_partitions: int | None,
    sample_per_bucket: int,
    extra_cols: list[Column] | None = None,
) -> tuple[DataFrame, list[str], list[bool], int]:
    """Shared front half: alias key (+value) columns, derive boundary
    literals, attach the pure bucket id. Returns
    (bucketed_frame, key_names, descending, n_buckets)."""
    spark = df.sparkSession
    n_buckets = num_partitions or spark.sparkContext.defaultParallelism
    desc_flags = (
        list(descending) if descending else [False] * len(order_cols)
    )
    if len(desc_flags) != len(order_cols):
        raise ValueError(
            f"descending has {len(desc_flags)} flags for "
            f"{len(order_cols)} order columns"
        )
    knames = [f"__gr_k{i}" for i in range(len(order_cols))]
    clash = (set(knames) | set(_RESERVED)) & set(df.columns)
    if clash:
        raise ValueError(f"input columns clash with reserved names: {clash}")
    keyed = df.select(
        "*",
        *[c.alias(k) for c, k in zip(order_cols, knames)],
        *(extra_cols or []),
    )
    ktypes = [keyed.schema[k].dataType for k in knames]
    cuts = _boundary_cuts(
        keyed, knames, desc_flags, n_buckets, sample_per_bucket
    )
    bucketed = keyed.withColumn(
        "__gr_b", _bucket_expr(knames, ktypes, desc_flags, cuts)
    )
    return bucketed, knames, desc_flags, n_buckets


def _offset_map(offsets: dict[int, int]) -> Column:
    return F.create_map(
        *[
            x
            for b, o in offsets.items()
            for x in (F.lit(b), F.lit(o).cast("long"))
        ]
    )


def global_row_number(
    df: DataFrame,
    order_cols: list[Column],
    rn_col: str = "rn",
    num_partitions: int | None = None,
    descending: list[bool] | None = None,
    sample_per_bucket: int = 64,
) -> tuple[DataFrame, int]:
    """Append a 1-based global row number under a TOTAL order (pass a
    unique tiebreak in order_cols; plain columns — sort direction goes
    in ``descending``, one flag per column). Returns (df_with_rn, total).

    No single-partition stage and NOTHING materialized: the bucket id is
    a pure expression over literal boundaries (module docstring), so the
    counts pass and the output pass agree by construction — and that
    agreement is ASSERTED per bucket in the output pass (the cross-pass
    count guard: a nondeterministic input raises instead of silently
    mis-ranking). The rank is
    emitted as INT with total_rows < 2^31 ENFORCED (the downstream
    contract — rank-derived arithmetic rides int; past that bound shard
    first)."""
    bucketed, knames, desc_flags, _ = _prepare(
        df, order_cols, descending, num_partitions, sample_per_bucket
    )
    cnt_rows = bucketed.groupBy("__gr_b").agg(
        F.count("*").alias("c")
    ).collect()
    total = sum(r["c"] for r in cnt_rows)
    if total == 0:
        return df.withColumn(rn_col, F.lit(None).cast("int")), 0
    if total >= 2**31:
        raise ValueError(
            f"global_row_number: {total} rows overflows the INT rank "
            "contract (2^31); shard or pre-aggregate first"
        )
    offsets: dict[int, int] = {}
    acc = 0
    for r in sorted(cnt_rows, key=lambda r: r["__gr_b"]):
        offsets[r["__gr_b"]] = acc
        acc += r["c"]
    w = Window.partitionBy("__gr_b").orderBy(
        *_sort_exprs(knames, desc_flags)
    )
    counts = {r["__gr_b"]: r["c"] for r in cnt_rows}
    out = (
        bucketed.withColumn("__gr_lrn", F.row_number().over(w))
        .withColumn(
            "__gr_chk",
            F.count(F.lit(1)).over(
                w.rowsBetween(
                    Window.unboundedPreceding, Window.unboundedFollowing
                )
            ),
        )
        .withColumn(
            rn_col,
            F.when(
                _count_guard(counts, "global_row_number"),
                F.element_at(_offset_map(offsets), F.col("__gr_b"))
                + F.col("__gr_lrn"),
            ).cast("int"),
        )
        .drop("__gr_b", "__gr_lrn", "__gr_chk", *knames)
    )
    return out, int(total)


def global_running_total(
    df: DataFrame,
    order_cols: list[Column],
    value_col: str,
    rn_col: str = "rn",
    start_col: str = "start",
    num_partitions: int | None = None,
    descending: list[bool] | None = None,
    sample_per_bucket: int = 64,
) -> tuple[DataFrame, int, int]:
    """Append a 1-based global row number AND the EXCLUSIVE global
    running total of ``value_col`` (sum of all strictly-earlier rows)
    under a TOTAL order — global_row_number's literal-boundary shape
    carrying a value column: the per-bucket collect also carries the
    bucket value sums, the bucket-keyed window also carries the local
    inclusive prefix sum. Returns (df_with_rn_and_start, total_rows,
    total_value).

    Nothing materialized (module docstring); total_rows < 2^31 ENFORCED
    (INT rank contract); cross-pass bucket counts ASSERTED in the output
    pass (nondeterministic inputs raise instead of silently
    mis-ranking). ``value_col`` must be non-null (a NULL poisons
    every later prefix; per-row raise_error fold, zero extra scan)."""
    v = F.col(value_col)
    v_checked = F.when(
        v.isNull(),
        F.raise_error(
            F.lit(
                f"global_running_total: value column {value_col!r} must "
                "be non-null (a NULL would poison every later prefix)"
            )
        ).cast("long"),
    ).otherwise(v.cast("long"))
    bucketed, knames, desc_flags, _ = _prepare(
        df,
        order_cols,
        descending,
        num_partitions,
        sample_per_bucket,
        extra_cols=[v_checked.alias("__gr_val")],
    )
    cnt_rows = bucketed.groupBy("__gr_b").agg(
        F.count("*").alias("c"), F.sum("__gr_val").alias("s")
    ).collect()
    total = sum(r["c"] for r in cnt_rows)
    if total == 0:
        return (
            df.withColumn(rn_col, F.lit(None).cast("int")).withColumn(
                start_col, F.lit(None).cast("long")
            ),
            0,
            0,
        )
    if total >= 2**31:
        raise ValueError(
            f"global_running_total: {total} rows overflows the INT rank "
            "contract (2^31); shard or pre-aggregate first"
        )
    total_val = sum(r["s"] for r in cnt_rows)
    offsets: dict[int, int] = {}
    voffsets: dict[int, int] = {}
    acc = vacc = 0
    for r in sorted(cnt_rows, key=lambda r: r["__gr_b"]):
        offsets[r["__gr_b"]] = acc
        voffsets[r["__gr_b"]] = vacc
        acc += r["c"]
        vacc += r["s"]
    w = Window.partitionBy("__gr_b").orderBy(
        *_sort_exprs(knames, desc_flags)
    )
    counts = {r["__gr_b"]: r["c"] for r in cnt_rows}
    out = (
        bucketed.withColumn("__gr_lrn", F.row_number().over(w))
        .withColumn(
            "__gr_lcum",
            F.sum("__gr_val").over(
                w.rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
        .withColumn(
            "__gr_chk",
            F.count(F.lit(1)).over(
                w.rowsBetween(
                    Window.unboundedPreceding, Window.unboundedFollowing
                )
            ),
        )
        .withColumn(
            rn_col,
            F.when(
                _count_guard(counts, "global_running_total"),
                F.element_at(_offset_map(offsets), F.col("__gr_b"))
                + F.col("__gr_lrn"),
            ).cast("int"),
        )
        .withColumn(
            start_col,
            F.element_at(_offset_map(voffsets), F.col("__gr_b"))
            + F.col("__gr_lcum")
            - F.col("__gr_val"),
        )
        .drop(
            "__gr_b", "__gr_lrn", "__gr_lcum", "__gr_val", "__gr_chk",
            *knames,
        )
    )
    return out, int(total), int(total_val)


def ntile_from_row_number(rn: Column, total: int, k: int) -> Column:
    """Closed-form ntile(k) from a global row number: the first `total % k`
    buckets hold ceil(total/k) rows, the rest floor(total/k) — exactly the SQL
    ntile contract, with no global window."""
    q, r = divmod(total, k)
    if q == 0:
        # fewer rows than buckets: bucket i gets row i
        return rn.cast("int")
    head = r * (q + 1)
    return (
        F.when(rn <= head, F.floor((rn - 1) / (q + 1)) + 1)
        .otherwise(F.lit(r) + F.floor((rn - head - 1) / q) + 1)
        .cast("int")
    )


def quantile_rank(
    df: DataFrame,
    group_cols: list[str],
    order_cols: list[Column],
    out_col: str = "pct_micro",
) -> DataFrame:
    """Per-group quantile (rank) normalization — the distribution-free
    feature transform (map each value to its within-group percentile)
    used to make heavy-tailed columns comparable across groups before
    training. Exact integer micro-units:

        pct_micro = (row_number - 1) * 1_000_000 div (n_group - 1)

    so the smallest row maps to 0, the largest to exactly 1_000_000,
    and a single-row group to 0 (documented degenerate case; NULL would
    poison downstream arithmetic). ``order_cols`` must be a total order
    within the group (append a unique id — the q08 lesson); with a
    total order row_number == rank, so ties never flip across engines.
    Truncating division on non-negative operands — identical in Spark
    (div) and DuckDB (//).

    Scale shape: ONE keyed window partition spec carries both the
    row_number and the group count (one hash exchange + one sort); the
    division is a projection. No unpartitioned window exists — for a
    GLOBAL quantile transform use `global_row_number` +
    `ntile_from_row_number` instead."""
    w = Window.partitionBy(*group_cols).orderBy(*order_cols)
    wc = Window.partitionBy(*group_cols)
    return (
        df.withColumn("__qr_rn", F.row_number().over(w))
        .withColumn("__qr_n", F.count(F.lit(1)).over(wc))
        .withColumn(
            out_col,
            F.when(
                F.col("__qr_n") > 1,
                F.expr("(__qr_rn - 1) * CAST(1000000 AS BIGINT) div (__qr_n - 1)"),
            ).otherwise(F.lit(0).cast("long")),
        )
        .drop("__qr_rn", "__qr_n")
    )


def group_mode(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
) -> DataFrame:
    """Deterministic per-group mode: the most frequent value, ties to
    the MINIMUM value (a tie rule both engines replay exactly — the
    q112 discipline). NULL values are excluded (an unknown cannot be
    the dominant value). Emits (group..., mode, mode_n).

    The reduction is ``min_by`` keyed on ``struct(-n, value)``: the
    smallest struct has the largest count (structs compare field-wise
    and only the COUNT is negated — counts are always numeric, so any
    orderable value type works, strings included), ties falling to the
    minimum value.

    Scale shape: one partial+final count per (group, value), then one
    partial+final min_by over the already-reduced count frame — two
    keyed aggregations, no window, no sort of the raw stream."""
    counts = (
        df.where(F.col(value_col).isNotNull())
        .groupBy(*group_cols, value_col)
        .agg(F.count("*").alias("__gm_n"))
    )
    best = counts.groupBy(*group_cols).agg(
        F.min_by(
            F.struct(
                F.col(value_col).alias("mode"), F.col("__gm_n").alias("mode_n")
            ),
            F.struct((-F.col("__gm_n")).alias("neg_n"), F.col(value_col).alias("v")),
        ).alias("__gm_best")
    )
    return best.select(*group_cols, "__gm_best.mode", "__gm_best.mode_n")


def winsorize(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    tie_cols: list[Column],
    lo_micro: int,
    hi_micro: int,
) -> DataFrame:
    """Per-group winsorization at exact empirical percentiles: values
    below the group's ``lo_micro`` quantile clip up to the smallest
    value AT OR ABOVE that percentile; values above ``hi_micro`` clip
    down symmetrically — the standard heavy-tail feature clamp, exact
    because the percentile grid is `quantile_rank`'s integer micro-unit
    ladder over a total order (``value_col`` + ``tie_cols``).

    Appends (pct_micro, lo_bound, hi_bound, clipped). Scale shape: one
    keyed window pass for the ranks (quantile_rank's single hash
    exchange), one per-group conditional aggregation for the two bounds
    (a |groups|-sized frame, broadcast back), zero self-joins."""
    if not (0 <= lo_micro <= hi_micro <= 1_000_000):
        raise ValueError(
            f"need 0 <= lo <= hi <= 1e6, got ({lo_micro}, {hi_micro})"
        )
    from snowplow_s3_loader_spark.materialize import checkpoint_nostats

    # the ranked frame feeds BOTH the bounds aggregation and the output
    # join — materialize the window pass once instead of re-sorting per
    # consumer
    ranked = checkpoint_nostats(
        quantile_rank(
            df, group_cols, [F.col(value_col), *tie_cols], out_col="pct_micro"
        )
    )
    v = F.col(value_col)
    bounds = ranked.groupBy(*group_cols).agg(
        F.min(F.when(F.col("pct_micro") >= lo_micro, v)).alias("lo_bound"),
        F.max(F.when(F.col("pct_micro") <= hi_micro, v)).alias("hi_bound"),
    )
    return ranked.join(F.broadcast(bounds), group_cols).withColumn(
        "clipped", F.least(F.greatest(v, F.col("lo_bound")), F.col("hi_bound"))
    )


def auc_moments(
    df: DataFrame, keys: list[str], score_col: str, label_col: str
) -> DataFrame:
    """Exact ROC-AUC per group via the Mann-Whitney U statistic — the
    standard quality-classifier evaluation (is the model's score
    actually ranking positives above negatives?), tie-corrected and
    float-free. AUC = U / (n1*n0) with U = R1 - n1(n1+1)/2, R1 the sum
    of the positives' AVERAGE ranks; average ranks ride DOUBLED
    (min_rank + max_rank of the score tie group — the q132 identity),
    so every piece is BIGINT:

        u_dbl     = sum over positives of dbl_rank  -  n1*(n1+1)
        auc_micro = (u_dbl * 500000) div (n1 * n0)      [u_dbl >= 0]

    both truncating-exact and bit-identical across engines. The int64
    bound (2n^2 * 5e5 < 2^63, i.e. n <= ~2e6 rows per group) and the
    0/1 label domain are ENFORCED.

    Scale shape: one keyed sort (row_number), one (keys, score) tie
    window on the same sort prefix, one partial+final aggregation per
    group — executed ONCE: the per-group frame is checkpointed and both
    guards (label domain, int64 group-size bound) read one tiny scan of
    that |groups|-sized result instead of re-running the pipeline.

    Output: (keys..., n1, n0, u_dbl, auc_micro); auc_micro is NULL for
    single-class groups."""
    from snowplow_s3_loader_spark.materialize import checkpoint_nostats

    lbl = F.col(label_col)
    ranked = df.select(
        *keys,
        F.col(score_col).alias("__s"),
        lbl.cast("long").alias("__l"),
        (~lbl.isin(0, 1) | lbl.isNull()).cast("long").alias("__b"),
        F.when(~lbl.isin(0, 1) | lbl.isNull(), lbl.cast("string")).alias(
            "__bv"
        ),
    ).withColumn(
        "__rn",
        F.row_number().over(Window.partitionBy(*keys).orderBy("__s")),
    )
    tie = Window.partitionBy(*keys, "__s")
    dbl = (F.min("__rn").over(tie) + F.max("__rn").over(tie)).cast("long")
    agg = checkpoint_nostats(
        ranked.withColumn("__dbl", dbl)
        .groupBy(*keys)
        .agg(
            F.sum("__l").alias("n1"),
            F.sum(1 - F.col("__l")).alias("n0"),
            F.sum(F.when(F.col("__l") == 1, F.col("__dbl"))).alias("__r1"),
            F.count("*").alias("__n"),
            F.sum("__b").alias("__badn"),
            F.first("__bv", ignorenulls=True).alias("__badv"),
        )
    )
    guard = agg.agg(
        F.max("__n").alias("mx"),
        F.sum("__badn").alias("bad"),
        F.first("__badv", ignorenulls=True).alias("badv"),
    ).collect()[0]
    if guard["bad"]:
        raise ValueError(
            f"auc_moments: label column {label_col!r} must be 0/1 "
            f"non-null; found {guard['badv']!r}"
        )
    if guard["mx"] is not None and guard["mx"] > 2_000_000:
        raise ValueError(
            f"auc_moments: group size {guard['mx']} exceeds the exact "
            "int64 bound (~2e6 rows/group); shard or sample first"
        )
    u = F.coalesce(F.col("__r1"), F.lit(0)) - F.col("n1") * (F.col("n1") + 1)
    return agg.select(*keys, "n1", "n0", u.alias("u_dbl")).select(
        *keys,
        "n1",
        "n0",
        "u_dbl",
        F.when(
            (F.col("n1") > 0) & (F.col("n0") > 0),
            F.expr("(u_dbl * 500000) div (n1 * n0)"),
        ).alias("auc_micro"),
    )
