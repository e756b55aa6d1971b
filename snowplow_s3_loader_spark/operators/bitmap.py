"""Exact distinct counting over integer domains via mergeable bitmaps.

(Beyond the reference's surface — SURVEY.md §7.8 scale extensions.)

`COUNT(DISTINCT id)` at 100 TB has two classic failure modes: the
shuffle carries every raw occurrence of every id (Spark's exact
distinct expands the aggregation), and the resulting count is a dead
end — counts from two shards / two filters cannot be combined into a
union or intersection cardinality. The equally classic fix (RoaringBitmap
in Druid/ClickHouse/Kylin; Chambi et al., "Better bitmap performance
with Roaring bitmaps", 2016) is to aggregate ids into bitmaps: exact,
fixed-cost per 64-id block, and mergeable with plain bitwise OR/AND.

This module is that idea expressed relationally: a bitmap is a
`(group..., word, bits)` frame where ``word = id >> 6`` and ``bits``
has bit ``id & 63`` set — i.e. a sparse array of 64-bit words keyed by
block index. `(id >> 6, id & 63)` is a bijection on all of int64
(arithmetic shift + two's-complement masking), so negative ids are
handled, not rejected.

Why this shape scales:

- **The raw stream shuffles once, pre-reduced.** ``groupBy(group, word)
  .agg(bit_or(...))`` gets map-side partial aggregation, so each task
  emits at most one row per (group, 64-id block) regardless of how many
  raw occurrences it saw. Exchanged bytes are bounded by the id-domain
  density, not the event count — the precise bound the naive
  count-distinct lacks.
- **The bitmap is state, not a scalar.** Shards union with `bit_or`
  (`bitmap_merge`), which makes it the exact-count twin of the HLL /
  CMS sketches in this package: build per partition / per day / per
  stream micro-batch, merge later, and the merged counts are still
  exact.
- **Set algebra the scalar can't do.** Intersection cardinality
  ("users who did BOTH checkout and refund") falls out of a word-keyed
  equi-join + `bit_and` + `bit_count` over two word frames whose size
  is domain/64 — the raw events are long gone. No pairwise scan of the
  stream exists.

Everything stays JVM-side (`shiftright`/`bit_or`/`bit_and`/
`bit_count` are all codegen'd built-ins); there is no Python in any
path here.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _word_and_mask(value: F.Column) -> tuple[F.Column, F.Column]:
    """(block index, single-bit mask) for one id. ``id >> 6`` is the
    arithmetic shift and ``id & 63`` the low bits — together a bijection
    on int64, so every distinct id owns exactly one (word, bit)."""
    word = F.shiftright(value, 6)
    mask = F.expr("shiftleft(CAST(1 AS BIGINT), CAST(__bm_v & 63 AS INT))")
    return word, mask


def bitmap_agg(df: DataFrame, group_cols: list[str], value_col: str) -> DataFrame:
    """Aggregate an integer column into per-group bitmaps: one row per
    (group..., word) with ``bits`` the OR of the members' single-bit
    masks. Nulls are dropped (COUNT DISTINCT semantics). The output is
    the mergeable state every other function here consumes."""
    v = F.col(value_col).cast("long").alias("__bm_v")
    base = df.where(F.col(value_col).isNotNull()).select(*group_cols, v)
    word, mask = _word_and_mask(F.col("__bm_v"))
    return (
        base.select(*group_cols, word.alias("word"), mask.alias("__bm_mask"))
        .groupBy(*group_cols, "word")
        .agg(F.bit_or("__bm_mask").alias("bits"))
    )


def bitmap_merge(a: DataFrame, b: DataFrame, group_cols: list[str]) -> DataFrame:
    """Union two bitmap states built over the same domain: bitwise OR
    per (group..., word). Exact under arbitrary overlap — the property
    that lets shards / days / micro-batches build independently."""
    return (
        a.unionByName(b)
        .groupBy(*group_cols, "word")
        .agg(F.bit_or("bits").alias("bits"))
    )


def bitmap_cardinality(bitmaps: DataFrame, group_cols: list[str]) -> DataFrame:
    """Exact distinct count per group: sum of per-word popcounts."""
    return bitmaps.groupBy(*group_cols).agg(
        F.sum(F.bit_count("bits")).alias("n_distinct")
    )


def bitmap_pairwise_intersections(
    bitmaps: DataFrame, group_col: str
) -> DataFrame:
    """Exact |A ∩ B| for every unordered pair of groups in ONE bitmap
    frame (`group_a < group_b`): the co-occurrence matrix of an id
    column against a category column ("users who did both X and Y"),
    computed from the word frame alone. The self-join keys on `word`,
    so a pair of groups meets only on blocks both actually populate;
    work is Σ_word (groups sharing that word)², bounded by
    |groups|² × domain/64 — never by the raw stream."""
    left = bitmaps.select(
        F.col(group_col).alias("group_a"), "word", F.col("bits").alias("__bm_a")
    )
    right = bitmaps.select(
        F.col(group_col).alias("group_b"), "word", F.col("bits").alias("__bm_b")
    )
    joined = left.join(right, "word").where(F.col("group_a") < F.col("group_b"))
    return joined.groupBy("group_a", "group_b").agg(
        F.sum(F.bit_count(F.col("__bm_a").bitwiseAND(F.col("__bm_b")))).alias(
            "n_common"
        )
    )


def bitmap_trailing_distinct(
    df: DataFrame, day_col: str, value_col: str, window_days: int
) -> DataFrame:
    """Exact trailing-window distinct counts (the "rolling 7-day active
    users" analytic) per observed period: for each distinct value of
    integer ``day_col``, the EXACT count of distinct ``value_col``
    members over days ``[d - window_days + 1, d]`` — plus the same-day
    exact distinct — from bitmap word frames, never a per-window
    re-scan of the raw stream.

    Scale shape: the raw stream reduces ONCE to per-(day, word) bitmaps
    (map-side bit_or; exchanged bytes bounded by days * domain/64, not
    by event count). Each word row then fans out to the <= window_days
    trailing periods it contributes to (a bounded sequence-explode on
    the already-reduced frame — no window function, so no single
    partition ever holds a day's full domain), a second (day, word)
    bit_or folds the contributions, and popcounts sum per day.
    Calendar gaps are handled by semi-joining the fan-out against the
    observed-day frame (tiny, broadcast)."""
    if window_days < 1:
        raise ValueError(f"window_days must be >= 1, got {window_days}")
    from snowplow_s3_loader_spark.materialize import checkpoint_nostats

    bm = checkpoint_nostats(bitmap_agg(df, [day_col], value_col))
    day = F.col(day_col).cast("long")
    days = bm.select(day.alias("__day_out")).distinct()
    contrib = bm.select(
        F.explode(
            F.sequence(day, day + F.lit(int(window_days) - 1))
        ).alias("__day_out"),
        "word",
        "bits",
    ).join(F.broadcast(days), "__day_out", "left_semi")
    trailing = (
        contrib.groupBy("__day_out", "word")
        .agg(F.bit_or("bits").alias("__tbits"))
        .groupBy("__day_out")
        .agg(F.sum(F.bit_count("__tbits")).alias("n_trailing"))
    )
    same_day = bm.groupBy(day.alias("__day_out")).agg(
        F.sum(F.bit_count("bits")).alias("n_same_day")
    )
    return (
        same_day.join(trailing, "__day_out")
        .select(
            F.col("__day_out").alias(day_col), "n_same_day", "n_trailing"
        )
    )
