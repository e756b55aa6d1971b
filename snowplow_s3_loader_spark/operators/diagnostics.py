"""Shuffle-skew and join-explosion diagnostics.

(Beyond the reference's surface — SURVEY.md §7.8 scale extensions.)

The two failure modes that actually kill 100 TB jobs are rarely wrong
answers — they are a shuffle where one key owns half the rows (one
straggler task runs for hours) and a join whose per-key output
multiplies into more rows than either input (the "accidental
many-to-many"). Both are diagnosable CHEAPLY before running the
expensive job, from per-key count frames alone; these operators are
that pre-flight check, the measurement twin of the salted join in
`skew.py` (the fix for a skewed join).

Everything is exact BIGINT arithmetic on aggregated |keys|-sized
frames — the raw tables are scanned once each and never joined; ratios
use truncating micro-units via positive-operand division (the package's
engine-portable discipline).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from snowplow_s3_loader_spark.materialize import checkpoint_nostats

MICRO = 1_000_000


def skew_report(
    df: DataFrame, key_cols: list[str], top_n: int = 10
) -> tuple[DataFrame, DataFrame]:
    """Per-key weight profile of a prospective shuffle key: returns
    ``(top, stats)`` — the ``top_n`` heaviest keys (count + this key's
    share of all rows in micro-units, ties broken by key so the cut is
    deterministic), and a 1-row stats frame:

      n_rows, n_keys, max_n, mean-multiple of the heaviest key
      (``max_n * n_keys * 1e6 div n_rows`` — how many times an even
      split the worst task would carry), and the top-n keys' combined
      row share in micro-units.

    A ``skew_multiple_micro`` in the tens of millions (heaviest key =
    tens of mean shares) is the signature that `skew.salted_join` /
    AQE skew handling is worth its cost.

    Scale shape: ONE partial+final count per key (map-side combined),
    materialized ONCE — the raw table is scanned exactly once no matter
    how many of the returned stats are consumed (the top-k, the totals
    and the top-share each read the |keys|-sized checkpoint, never the
    input again). The ranking window and every stat run on the
    |keys|-sized count frame. Null key components participate (they
    hash to one task in a real shuffle — exactly the skew this exists
    to catch)."""
    counts = checkpoint_nostats(
        df.groupBy(*key_cols).agg(F.count("*").alias("n"))
    )
    order = [F.col("n").desc(), *[F.col(c).asc() for c in key_cols]]
    totals = counts.agg(
        F.sum("n").alias("n_rows"),
        F.count("*").alias("n_keys"),
        F.max("n").alias("max_n"),
    )
    # orderBy+limit plans TakeOrderedAndProject — a distributed top-k,
    # never a single-task sort of the |keys|-sized frame; the ranking
    # window then runs on <= top_n rows only
    top = (
        counts.orderBy(*order)
        .limit(top_n)
        .withColumn("rnk", F.row_number().over(Window.orderBy(*order)))
        .crossJoin(F.broadcast(totals.select("n_rows")))
        .select(
            *key_cols,
            "rnk",
            "n",
            F.expr(f"n * {MICRO} div n_rows").alias("share_micro"),
        )
    )
    top_sum = top.agg(F.sum("n").alias("top_rows"))
    stats = (
        totals.crossJoin(F.broadcast(top_sum))
        .select(
            "n_rows",
            "n_keys",
            "max_n",
            F.expr(f"max_n * n_keys * {MICRO} div n_rows").alias(
                "skew_multiple_micro"
            ),
            F.expr(f"top_rows * {MICRO} div n_rows").alias("top_share_micro"),
        )
    )
    return top, stats


def join_explosion_report(
    a: DataFrame,
    b: DataFrame,
    key_cols: list[str],
    top_n: int = 10,
) -> tuple[DataFrame, DataFrame]:
    """Forecast the exact inner-equi-join output size of ``a ⋈ b`` on
    ``key_cols`` WITHOUT running the join: per matching key the output
    is ``n_a * n_b``, so joining the two per-key COUNT frames (each
    |keys|-sized, never the raw tables) gives the full picture. Returns
    ``(top, stats)``: the ``top_n`` most-multiplying keys
    (n_a, n_b, out_rows, and the key's amplification
    ``out_rows * 1e6 div (n_a + n_b)``), and a 1-row stats frame with
    total matching keys, total output rows, both input sizes, and the
    overall amplification in micro-units.

    An amplification well above 1e6 (output outgrowing its inputs)
    flags the accidental many-to-many before it runs for hours; the
    top frame names the keys to salt, filter, or pre-aggregate.

    NULL key components never match in SQL join semantics, so count
    frames drop them (mirroring what the real join would do).

    Scale shape: each input is scanned exactly once — its per-key count
    frame is checkpointed, and the input totals (``rows_a`` /
    ``rows_b``) are the SUMS of those |keys|-sized frames (1-row
    broadcast scalars in the plan, never a driver-blocking count() and
    never a second scan)."""
    nn = [F.col(c).isNotNull() for c in key_cols]
    cond = nn[0]
    for c in nn[1:]:
        cond = cond & c
    ca = checkpoint_nostats(
        a.where(cond).groupBy(*key_cols).agg(F.count("*").alias("n_a"))
    )
    cb = checkpoint_nostats(
        b.where(cond).groupBy(*key_cols).agg(F.count("*").alias("n_b"))
    )
    per_key = ca.join(cb, key_cols).select(
        *key_cols, "n_a", "n_b", (F.col("n_a") * F.col("n_b")).alias("out_rows")
    )
    order = [F.col("out_rows").desc(), *[F.col(c).asc() for c in key_cols]]
    top = (
        per_key.orderBy(*order)
        .limit(top_n)
        .withColumn("rnk", F.row_number().over(Window.orderBy(*order)))
        .select(
            *key_cols,
            "rnk",
            "n_a",
            "n_b",
            "out_rows",
            F.expr(f"out_rows * {MICRO} div (n_a + n_b)").alias(
                "amplification_micro"
            ),
        )
    )
    totals = (
        ca.agg(F.coalesce(F.sum("n_a"), F.lit(0)).alias("rows_a"))
        .crossJoin(cb.agg(F.coalesce(F.sum("n_b"), F.lit(0)).alias("rows_b")))
    )
    stats = (
        per_key.agg(
            F.count("*").alias("n_matching_keys"),
            F.coalesce(F.sum("out_rows"), F.lit(0)).alias("total_out_rows"),
        )
        .crossJoin(F.broadcast(totals))
        .select(
            "n_matching_keys",
            "total_out_rows",
            "rows_a",
            "rows_b",
            F.expr(
                f"total_out_rows * {MICRO} div (rows_a + rows_b)"
            ).alias("amplification_micro"),
        )
    )
    return top, stats
