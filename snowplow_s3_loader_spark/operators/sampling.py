"""Deterministic, engine-portable sampling/splitting for training-data
pipelines (SURVEY.md SS7.8 extension).

A reproducible train/val/test assignment must not depend on row order,
partitioning, or an engine-specific hash. We hash the stable id with md5
and compare the leading hex digits against split thresholds — md5 of the
decimal string is identical in every engine (same trick the MinHash
operator uses, dedup.py), so the assignment is bit-stable across Spark,
DuckDB, or a Python loader reading the same table.

Scale: one narrow projection, no shuffle, no Python on the hot path —
the split column is a pure JVM expression usable as a partition filter
(`WHERE split = 'train'` prunes at scan time if written partitioned-by).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def split_thresholds(splits: dict[str, float], hex_chars: int = 4) -> list[tuple[str, str]]:
    """Cumulative hex-string thresholds for named fractions.

    {"train": .8, "val": .1, "test": .1} with hex_chars=4 ->
    [("train", "cccc"), ("val", "e666"), ("test", None sentinel "ffff"+)].
    The final split takes the remainder so fractions need not sum exactly
    to 1 after rounding.
    """
    if not splits:
        raise ValueError("at least one split required")
    if any(f <= 0 for f in splits.values()):
        raise ValueError("split fractions must be positive")
    space = 16**hex_chars
    out: list[tuple[str, str]] = []
    acc = 0.0
    names = list(splits)
    for name in names[:-1]:
        acc += splits[name]
        bound = min(int(acc * space), space)
        out.append((name, format(bound, f"0{hex_chars}x")))
    out.append((names[-1], "g" * hex_chars))  # 'g' > 'f': catches everything
    return out


def split_column(
    id_col: Column, splits: dict[str, float], hex_chars: int = 4
) -> Column:
    """Expression assigning each id to a named split."""
    h = F.substring(F.md5(id_col.cast("string")), 1, hex_chars)
    thresholds = split_thresholds(splits, hex_chars)
    expr = None
    for name, bound in thresholds[:-1]:
        cond = h < F.lit(bound)
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    last = F.lit(thresholds[-1][0])
    return last if expr is None else expr.otherwise(last)


def deterministic_split(
    df: DataFrame,
    id_col: str,
    splits: dict[str, float],
    hex_chars: int = 4,
    out_col: str = "split",
) -> DataFrame:
    """Add a reproducible split assignment column keyed on a stable id."""
    return df.withColumn(out_col, split_column(F.col(id_col), splits, hex_chars))


def stratified_sample_column(
    id_col: Column, class_col: Column, fractions: dict[str, float], hex_chars: int = 4
) -> Column:
    """Keep-flag for a deterministic per-class sample (the reproducible twin
    of DataFrame.sampleBy): a row survives iff the leading md5 hex of its id
    falls under its class's threshold. Same id + class -> same decision in
    any engine, any row order, any partitioning. Classes absent from
    `fractions` are dropped."""
    space = 16**hex_chars
    h = F.substring(F.md5(id_col.cast("string")), 1, hex_chars)
    expr = None
    for cls, frac in fractions.items():
        if frac >= 1.0:
            bound = "g" * hex_chars  # 'g' > 'f': keeps every hex string
        else:
            bound = format(int(frac * space), f"0{hex_chars}x")
        cond = (class_col == cls) & (h < F.lit(bound))
        expr = cond if expr is None else (expr | cond)
    return expr if expr is not None else F.lit(False)


def stratified_sample(
    df: DataFrame,
    id_col: str,
    class_col: str,
    fractions: dict[str, float],
    hex_chars: int = 4,
) -> DataFrame:
    """Filter to a reproducible stratified sample: per-class keep rates for
    balancing a training mix (e.g. downsample over-represented languages).
    One narrow filter, pushdown-friendly, no shuffle, no RNG state."""
    return df.filter(
        stratified_sample_column(F.col(id_col), F.col(class_col), fractions, hex_chars)
    )


def leakage_safe_split(
    df: DataFrame,
    key_col: Column,
    splits: dict[str, float],
    hex_chars: int = 4,
    out_col: str = "split",
) -> DataFrame:
    """Train/val/test assignment keyed on a LEAKAGE GROUP instead of the
    row id: every row sharing ``key_col`` lands in the same split, so
    duplicated or near-duplicated documents can never straddle the
    train/test boundary (the classic eval-contamination failure of
    id-keyed splits over un-deduplicated corpora).

    Key choice is the caller's leakage model:
      - exact duplicates: a content digest (``F.md5(text)``) — fully
        oracle-reproducible;
      - near-duplicates: the connected-component id from the dedup pair
        graph (join ``connected_components`` output and pass the
        component, falling back to the row id for unclustered rows:
        ``F.coalesce("component", F.col(id_col))``).

    Same md5-threshold mechanics as deterministic_split (row-order /
    partitioning / engine independent); one narrow projection when the
    key is a content digest, one broadcast-able join when it is a
    cluster map. Fractions land on GROUPS, so heavily-skewed group sizes
    skew realized row fractions — by design (the alternative re-leaks)."""
    return df.withColumn(out_col, split_column(key_col, splits, hex_chars))


def group_reservoir(
    df: DataFrame,
    group_col: str,
    id_col: str,
    n_per_group: int,
) -> DataFrame:
    """Deterministic fixed-size per-group sample — the reproducible,
    engine-portable stand-in for per-group reservoir sampling (cap
    examples per source/domain/language when building a training mix).
    A row survives iff its rank by (md5(id), id) within the group is
    <= n_per_group; md5 gives the uniform permutation, the id tiebreak
    pins hash collisions, so the selected SET is independent of row
    order, partitioning, and engine.

    Scale shape: one hash shuffle on the group key + a rank cutoff —
    Spark plans WindowGroupLimit (rank pushdown), so each partition
    retains only n_per_group rows per group before the final filter; no
    global sort, no driver involvement. For group cardinalities so hot
    that one group overwhelms a task, pre-aggregate with a per-salt
    reservoir then re-rank (same two-phase shape as the ranking
    operator)."""
    from pyspark.sql import Window

    w = (
        Window.partitionBy(group_col)
        .orderBy(F.md5(F.col(id_col).cast("string")), F.col(id_col))
    )
    return (
        df.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= n_per_group)
        .drop("__rk")
    )


def temperature_resample(
    df: DataFrame,
    id_col: str,
    class_col: str,
    alpha: float = 0.7,
    target_frac: float = 0.3,
    hex_chars: int = 4,
) -> DataFrame:
    """Temperature-based source rebalancing (the multilingual/corpus-mix
    rule of mBERT/XLM-R and Pile-style mixes): the sampled share of class
    c is proportional to n_c^alpha, flattening the head and boosting the
    tail as alpha -> 0 (alpha = 1 reproduces the natural distribution).

    Per-class keep fraction:

        f_c = min(1, target_frac * N * n_c^(alpha-1) / sum_k n_k^alpha)

    (upsampling beyond 1x would need row replication; this clamps — the
    realized total then lands slightly under target_frac, documented and
    deterministic). A row survives iff its md5 hex fraction < f_c — the
    same engine-portable threshold trick the stratified sampler uses, so
    the selection is row-order/partitioning independent and DuckDB
    reproduces it exactly (fractions are round(6)-pinned).

    Fully relational — class counts are a partial+final aggregation, the
    fraction relation is class-cardinality-sized and broadcast back; no
    driver-side math, so the same code runs on 10^2 or 10^7 classes.
    """
    counts = df.groupBy(class_col).agg(F.count("*").alias("n_c"))
    tot = counts.agg(
        F.sum("n_c").alias("n_total"),
        F.sum(F.pow(F.col("n_c").cast("double"), F.lit(alpha))).alias("z"),
    )
    frac = counts.crossJoin(F.broadcast(tot)).select(
        class_col,
        F.least(
            F.lit(1.0),
            F.round(
                F.lit(target_frac)
                * F.col("n_total").cast("double")
                * F.pow(F.col("n_c").cast("double"), F.lit(alpha - 1.0))
                / F.col("z"),
                6,
            ),
        ).alias("keep_frac"),
    )
    space = float(16**hex_chars)
    hv = (
        F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, hex_chars), 16, 10)
        .cast("long")
        .cast("double")
        / F.lit(space)
    )
    return (
        df.join(F.broadcast(frac), class_col)
        .where(hv < F.col("keep_frac"))
        .drop("keep_frac")
    )


def token_budget_mixture(
    df: DataFrame,
    id_col: str,
    class_col: str,
    token_count: Column,
    weights: dict[str, float],
    budget_tokens: int,
    hex_chars: int = 13,
) -> DataFrame:
    """Assemble a training mix against a TOKEN budget: per source class s,
    sample documents at rate r_s = min(1, weights[s]*budget / tokens_s) so
    the kept token mass per source lands at ~weights[s]*budget (exactly
    the available mass when the source is smaller than its allocation —
    rates never exceed 1; renormalize weights upstream if full-budget
    delivery matters more than the declared ratios).

    Selection is the repo's deterministic md5-threshold rule (same as
    stratified_sample): keep iff md5(id)/16^hex_chars < r_s, so the kept
    SET is reproducible across engines — r_s is derived from exact
    integer totals with one double multiply+divide, bit-identical IEEE in
    Spark and DuckDB. Classes absent from `weights` get rate 0 (dropped);
    13 hex chars keep the hash inside double-exact range (2^52).

    Scale shape: one partial+final agg for the per-class totals (rows =
    |classes|), a broadcast join of the rates, and a scan-level filter —
    the corpus never shuffles.
    """
    totals = df.groupBy(class_col).agg(F.sum(token_count).alias("__avail"))
    wmap = F.create_map(*[F.lit(x) for kv in weights.items() for x in kv])
    raw = wmap[F.col(class_col)] * F.lit(float(budget_tokens)) / F.col("__avail")
    # least() IGNORES nulls (both engines), which would turn a missing
    # weight into rate 1.0 — gate the clamp so absent classes stay NULL
    # and the threshold comparison drops them
    rates = totals.select(
        class_col,
        F.when(raw.isNotNull(), F.least(F.lit(1.0), raw)).alias("__rate"),
    )
    space = float(16**hex_chars)
    hv = (
        F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, hex_chars), 16, 10)
        .cast("long")
        .cast("double")
        / F.lit(space)
    )
    return (
        df.join(F.broadcast(rates), class_col)
        .where(hv < F.col("__rate"))
        .drop("__rate")
    )


def weighted_sample_topk(
    df: DataFrame,
    group_col: str,
    id_col: str,
    weight_col: str,
    n_per_group: int,
) -> DataFrame:
    """Deterministic weighted sampling without replacement — the
    integer twin of priority sampling (Duffield, Lund & Thorup,
    "Priority sampling for estimation of arbitrary subset sums",
    JACM 2007): each row draws a reproducible 60-bit uniform
    ``u = md5(id)`` and gets priority ``u div weight``; the
    ``n_per_group`` smallest priorities per group win. Heavier rows
    divide by more, land lower, and win proportionally more often —
    with NO floats, NO rng state, and the same selected set on any
    engine, row order, or partitioning (hash collisions pinned by the
    id tiebreak; the md5-hex → 60-bit integer idiom is the package's
    portable hash family).

    Weights must be integers >= 1; rows with NULL or sub-1 weights
    RAISE (a silently dropped row is a silently biased sample).

    Scale shape: identical to `group_reservoir` — one hash shuffle on
    the group key and a rank cutoff that Spark plans as
    WindowGroupLimit, so each map task pre-trims to n_per_group rows
    per group before the exchange. The weighting adds one division to
    the sort key and nothing else.
    """
    w = F.col(weight_col).cast("long")
    guarded = F.when(
        w.isNull() | (w < 1),
        F.raise_error(
            F.lit(
                "weighted_sample_topk: weights must be integers >= 1 "
                "(a dropped row would silently bias the sample)"
            )
        ).cast("long"),
    ).otherwise(w)
    u = F.conv(
        F.substring(F.md5(F.col(id_col).cast("string")), 1, 15), 16, 10
    ).cast("long")
    prio = F.expr("__wst_u div __wst_w")
    from pyspark.sql import Window

    win = Window.partitionBy(group_col).orderBy("__wst_p", F.col(id_col))
    return (
        df.withColumn("__wst_w", guarded)
        .withColumn("__wst_u", u)
        .withColumn("__wst_p", prio)
        .withColumn("__wst_rk", F.row_number().over(win))
        .filter(F.col("__wst_rk") <= n_per_group)
        .select(*df.columns, F.col("__wst_p").alias("priority"))
    )


def quality_budget_select(
    df: DataFrame,
    id_col: str,
    score_col: str,
    token_col: str,
    budget_tokens: int,
    num_partitions: int | None = None,
) -> DataFrame:
    """Token-budget-constrained quality selection — the curation closer
    that turns a scored corpus into a training set of a DECLARED size:
    keep documents from the best score down until the kept token mass
    reaches the budget (the greedy prefix rule every "take the top X
    tokens by quality" recipe means; token_budget_mixture shapes the
    SOURCE mix by rates, this pins the TOTAL by an exact cut).

    A document is kept iff the token mass of all STRICTLY
    better-ranked documents is below the budget — so the kept set
    always covers the budget (the boundary document is included) and
    is the unique minimal such prefix under the total
    (score DESC, id ASC) order. Deterministic: the rank rides
    `ranking.global_running_total`'s literal-boundary machinery
    (distributed, nothing materialized, no single-partition stage).

    Guards: budget_tokens >= 1; NULL scores raise (Spark and DuckDB
    order NULLs differently — the psi_bins rule); negative or NULL
    token counts raise (a negative count corrupts the greedy prefix
    silently).

    Output: every input row as (id, score, n_tokens, cum_before,
    kept) — cum_before the exclusive better-ranked token mass, so
    downstream both filters (kept) and audits (how far over budget
    the boundary document lands) without a second pass."""
    from snowplow_s3_loader_spark.operators.ranking import (
        global_running_total,
    )

    if budget_tokens < 1:
        raise ValueError(
            f"quality_budget_select: budget_tokens must be >= 1, got "
            f"{budget_tokens}"
        )
    s, t = F.col(score_col), F.col(token_col)
    checked_s = F.when(
        s.isNull(),
        F.raise_error(
            F.lit(
                f"quality_budget_select: NULL {score_col!r} (NULL "
                "ordering differs across engines; filter or impute "
                "first)"
            )
        ).cast(df.schema[score_col].dataType),
    ).otherwise(s)
    checked_t = F.when(
        t.isNull() | (t < 0),
        F.raise_error(
            F.concat(
                F.lit(
                    f"quality_budget_select: {token_col!r} must be a "
                    "non-negative token count, got "
                ),
                F.coalesce(t.cast("string"), F.lit("NULL")),
            )
        ).cast("long"),
    ).otherwise(t.cast("long"))
    base = df.select(
        F.col(id_col).alias("id"),
        checked_s.alias("__score"),
        checked_t.alias("__tok"),
    )
    ranked, _, _ = global_running_total(
        base,
        [F.col("__score"), F.col("id")],
        "__tok",
        rn_col="__rn",
        start_col="__start",
        num_partitions=num_partitions,
        descending=[True, False],
    )
    return ranked.select(
        "id",
        F.col("__score").alias(score_col),
        F.col("__tok").alias("n_tokens"),
        F.col("__start").alias("cum_before"),
        (F.col("__start") < F.lit(budget_tokens)).alias("kept"),
    )
