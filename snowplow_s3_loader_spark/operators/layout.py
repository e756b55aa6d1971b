"""Multi-dimensional data layout: z-order (Morton) clustering for
file/row-group skipping.

(Beyond the reference's surface — SURVEY.md SS7.8 scale extensions.)

At 100 TB, the dominant cost of a selective multi-column query is how
many files its predicates can SKIP via parquet min/max statistics. A
range partition on one column gives perfect skipping on that column and
none on the others; interleaving the bits of several (bucketized)
columns into one Morton code and range-partitioning on it trades a
little per-column locality for bounded locality on EVERY interleaved
column — the standard z-order layout (Morton 1966; the same scheme
behind OPTIMIZE ZORDER BY in lakehouse engines).

Everything here is pure JVM column expressions (bit shifts/masks over
longs — whole-stage codegen, zero Python, zero extra shuffles beyond the
one repartitionByRange any layout rewrite pays), and the z-value math is
reproducible in ANSI SQL bit operators, so the DuckDB oracle hash-checks
it exactly.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def interleave_bits(cols: list[Column], bits: int) -> Column:
    """Morton code of d already-bucketized non-negative int columns, low
    bit first, round-robin across columns: output bit (i*d + j) is input
    bit i of column j. d*bits must fit a signed long (<= 62)."""
    d = len(cols)
    if d * bits > 62:
        raise ValueError(f"{d} cols x {bits} bits = {d * bits} > 62 bits")
    terms = [
        F.shiftleft(
            F.shiftright(c.cast("long"), i).bitwiseAND(F.lit(1).cast("long")),
            i * d + j,
        )
        for i in range(bits)
        for j, c in enumerate(cols)
    ]
    return reduce(lambda a, b: a.bitwiseOR(b), terms)


def zorder_key(specs: list[tuple[Column, int]], bits: int = 10) -> Column:
    """Z-value over (column, modulus) specs: each column is bucketized to
    [0, modulus) via pmod (deterministic, oracle-reproducible — rank
    bucketization would depend on the data distribution) and the buckets'
    low `bits` bits are interleaved.

    Bucketization rule: pick each modulus near the column's OCCUPIED
    value domain (and `bits` ~ log2 of it). A modulus far wider than the
    domain leaves the column's high interleave bits constantly zero, so
    every leading range split goes to the other columns and that column
    degenerates to unsorted — the measured effect
    test_zorder_improves_worst_column_skipping pins. Data-aware rank
    bucketization (percentile buckets) fixes skew too but makes the key
    depend on a stats pass; at 100 TB compute the quantiles once on a
    sample and encode them as literal split points."""
    cols = [F.pmod(c.cast("long"), F.lit(m)) for c, m in specs]
    return interleave_bits(cols, bits)


def zorder_repartition(
    df: DataFrame,
    specs: list[tuple[Column, int]],
    num_partitions: int,
    bits: int = 10,
    zcol: str = "__zval",
) -> DataFrame:
    """The layout rewrite: range-partition + sort the frame by its
    z-value so every output file covers a small hyper-rectangle of the
    interleaved columns (tight min/max stats on each -> skipping). One
    range exchange (with the sampling pass repartitionByRange implies),
    then a partition-local sort — exactly what a write-time OPTIMIZE
    pays. The z column is kept so writers can also partitionBy coarse
    z-prefixes; drop it after write if unwanted."""
    keyed = df.withColumn(zcol, zorder_key(specs, bits))
    return keyed.repartitionByRange(num_partitions, zcol).sortWithinPartitions(zcol)


def partition_minmax_stats(df: DataFrame, cols: list[str]) -> DataFrame:
    """Per-partition min/max of each column — the skipping statistics a
    parquet writer would persist, observable pre-write: one row per
    partition with (partition_id, n_rows, <col>_min, <col>_max, ...)."""
    aggs = [F.count("*").alias("n_rows")]
    for c in cols:
        aggs += [F.min(c).alias(f"{c}_min"), F.max(c).alias(f"{c}_max")]
    return (
        df.withColumn("__pid", F.spark_partition_id()).groupBy("__pid").agg(*aggs)
    ).withColumnRenamed("__pid", "partition_id")


def skipping_effectiveness(
    df: DataFrame, specs: list[tuple[Column, int]], num_partitions: int, bits: int = 10
) -> dict[str, list[float]]:
    """Measured layout quality: for each interleaved column, the mean
    per-partition normalized min-max range (the fraction of files a
    point/range predicate on THAT column cannot skip) under (a) the
    z-order layout and (b) a single-column range layout on the first
    column. The z-order claim is about the WORST column: linear layout
    gives ~0 on its leading column but ~1 (no skipping) on every other;
    z-order bounds all of them. Per-column actual value domains are
    measured from the data (pmod leaves sparse domains sparse — using
    the modulus as the denominator would understate linear's leading
    column and overstate everything else). Driver-side output is one
    float per column per layout — the frames never collect."""
    names = [f"b{j}" for j in range(len(specs))]
    buckets = df.select(
        *[F.pmod(c.cast("long"), F.lit(m)).alias(n) for (c, m), n in zip(specs, names)]
    )
    dom_row = buckets.select(
        *[(F.max(n) - F.min(n) + 1).alias(n) for n in names]
    ).collect()[0]
    domains = [max(1, int(dom_row[n])) for n in names]

    def mean_ranges(frame: DataFrame) -> list[float]:
        stats = partition_minmax_stats(frame, names)
        row = stats.select(
            *[
                F.avg((F.col(f"{n}_max") - F.col(f"{n}_min") + 1) / F.lit(dom)).alias(n)
                for n, dom in zip(names, domains)
            ]
        ).collect()[0]
        return [float(row[n]) for n in names]

    z = zorder_repartition(
        buckets, [(F.col(n), m) for n, (_, m) in zip(names, specs)], num_partitions, bits
    )
    linear = buckets.repartitionByRange(num_partitions, names[0]).sortWithinPartitions(
        names[0]
    )
    return {"zorder": mean_ranges(z), "linear": mean_ranges(linear)}


def token_shards(
    docs: DataFrame,
    id_col: str,
    weight_col: str,
    n_shards: int,
) -> DataFrame:
    """Deterministic token-balanced shard assignment — the dataloader
    last mile: order the corpus by the reproducible pseudo-random
    permutation (md5(id), id) — decorrelating shards from source/time
    locality, the q58 hash-order discipline — then cut the exclusive
    running token total into ``n_shards`` CONTIGUOUS ranges of
    ~total/n_shards tokens:

        shard = (start * n_shards) div total        (0-based)

    where start is the document's exclusive prefix sum under the
    permutation. Every shard's token mass is within one document of
    total/n_shards (a document never splits), the assignment is a pure
    function of (id set, weights, n_shards) — identical on any engine,
    row order, or partitioning — and downstream writers get one
    contiguous range partition per shard.

    Guards: weights must be >= 1 (a zero/negative/NULL-weight document
    has no place on a token axis; per-row raise_error fold, zero extra
    scan). start * n_shards must stay under 2^63 — total_tokens *
    n_shards <= 9.2e18, ENFORCED from the two-phase pass's own scalar
    total (no extra scan).

    Scale shape: the narrow (id, weight) proxy is materialized ONCE
    (~25 B/row — weights are typically an expensive corpus tokenize,
    and the two-phase pass below re-evaluates its input per phase),
    then the two-phase distributed prefix sum
    (ranking.global_running_total — literal-boundary buckets + offset map
    offsets, NO single-partition stage), then a pure projection.
    Output: (id_col, weight_col, rn, start, shard)."""
    from snowplow_s3_loader_spark.materialize import checkpoint_nostats
    from snowplow_s3_loader_spark.operators.ranking import (
        global_running_total,
    )

    if n_shards < 1:
        raise ValueError(
            f"token_shards: n_shards must be >= 1, got {n_shards}"
        )
    w = F.col(weight_col)
    w_checked = F.when(
        w.isNull() | (w < 1),
        F.raise_error(
            F.lit(
                "token_shards: weights must be integers >= 1 (a "
                "zero-token document has no place on the token axis)"
            )
        ).cast("long"),
    ).otherwise(w.cast("long"))
    # Materialize the NARROW (id, weight) proxy ONCE (round 13): the
    # two-phase prefix sum evaluates its input plan per pass
    # (sample/counts/output — the ranking module's no-materialization
    # contract), and the weight column is typically an expensive
    # tokenize over the whole corpus (q147: token_count(text)), so the
    # corpus paid that projection on BOTH weight-reading passes. The
    # proxy is two scalar columns (~25 B/row) — the guide-§8 "decide
    # with small rows" shape; the round-10 storage wall this module's
    # ranking deliberately avoids was the FULL-WIDTH corpus checkpoint,
    # not a key+weight frame. The weight guard now fires here, eagerly
    # (same error, earlier). Blocks stay until the session sweeps them
    # (the winsorize/auc_moments precedent): the returned frame is lazy
    # over these blocks, so they cannot be released inside the call.
    base = checkpoint_nostats(
        docs.select(F.col(id_col), w_checked.alias(weight_col))
    )
    order = [F.md5(F.col(id_col).cast("string")), F.col(id_col)]
    ranked, n_rows, total = global_running_total(
        base, order, weight_col, rn_col="rn", start_col="start"
    )
    if n_rows == 0:
        spark = docs.sparkSession
        return spark.createDataFrame(
            [],
            f"{id_col} {docs.schema[id_col].dataType.simpleString()}, "
            f"{weight_col} long, rn int, start long, shard int",
        )
    if total * n_shards >= 2**63:
        raise ValueError(
            f"token_shards: total weight {total} x {n_shards} shards "
            "overflows int64 — shard in two tiers"
        )
    return ranked.select(
        id_col,
        weight_col,
        "rn",
        "start",
        F.expr(f"CAST((start * {n_shards}) div {total} AS INT)").alias(
            "shard"
        ),
    )

