"""Custom keyed stateful streaming operators via applyInPandasWithState
(SURVEY.md SS2.3 'Streaming: stateful ops' — absent in the reference, which
only carries a batch accumulator; exposed engine-side for users who need
keyed state beyond built-in windows).

Pattern: GroupStateTimeout-driven per-key accumulators over Arrow batches.
State stays bounded: one row per live key, evicted on processing-time
timeout — the property that lets this run unbounded at 100 TB/day.
Every operator here is built on applyInPandasWithState, which needs no
dependency beyond pandas/pyarrow. Watermark-bounded exact dedup needs no
operator of its own: Spark's ``withWatermark(...)
.dropDuplicatesWithinWatermark(keys)`` already evicts keys past the delay.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampNTZType,
)

ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)


def enable_rocksdb_state_store(spark) -> bool:
    """Default the streaming state store to RocksDB (off-heap, incremental
    checkpoints) — at 100 TB/day keyed state must not live in executor
    heap. Conf-gated: a provider the user already pinned is respected.
    Returns True when RocksDB is (now) the active provider."""
    key = "spark.sql.streaming.stateStore.providerClass"
    cur = spark.conf.get(key, None)
    if cur:
        return cur == ROCKSDB_PROVIDER
    spark.conf.set(key, ROCKSDB_PROVIDER)
    return True


RUNNING_COUNT_SCHEMA = StructType(
    [
        StructField("user_id", IntegerType()),
        StructField("n_events", LongType()),
        StructField("total_val", LongType()),
    ]
)

_STATE_SCHEMA = StructType(
    [StructField("n", LongType()), StructField("total", LongType())]
)


def running_user_counts(
    events: DataFrame, timeout_ms: int | None = None
) -> DataFrame:
    """Per-user running (count, sum) across micro-batches.

    Input columns: user_id int, val int. Emits the updated running totals
    for every user seen in the batch.

    timeout_ms: processing-time state eviction for always-on deployments
    (bounds state at scale). Leave None for availableNow/backfill runs —
    ProcessingTimeTimeout makes Trigger.AvailableNow schedule empty batches
    indefinitely to fire timeouts, so the query never terminates.
    """

    def _update(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            state.remove()
            return
        n, total = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            n += len(pdf)
            total += int(pdf["val"].sum())
        state.update((n, total))
        if timeout_ms is not None:
            state.setTimeoutDuration(timeout_ms)
        yield pd.DataFrame({"user_id": [key[0]], "n_events": [n], "total_val": [total]})

    return (
        events.groupBy("user_id")
        .applyInPandasWithState(
            _update,
            outputStructType=RUNNING_COUNT_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=(
                GroupStateTimeout.ProcessingTimeTimeout
                if timeout_ms is not None
                else GroupStateTimeout.NoTimeout
            ),
        )
    )


# ---------------------------------------------------------------------------
# streaming near-duplicate filtering (SimHash band state)
# ---------------------------------------------------------------------------

_NEAR_DUP_VOTES_SCHEMA = StructType(
    [
        StructField("id", LongType()),
        StructField("band_id", IntegerType()),
        StructField("dup", BooleanType()),
    ]
)
_NEAR_DUP_STATE_SCHEMA = StructType(
    [StructField("hashes", ArrayType(LongType()))]
)

# Default band width: 60-bit simhash in six 10-bit bands. Chosen from the
# round-5 recall measurement (scripts/weak_scaling.py streaming_neardup,
# 1500-doc seeded corpus, ~40% planted near-dups of 1-3 token edits,
# 5 micro-batches, recall vs the exact greedy first-seen truth):
#
#   band_bits  bands  recall@h=2  recall@h=3
#      20        3      0.964       0.899
#      15        4      0.984       0.965
#      12        5      0.979       0.976
#      10        6      0.984       0.979
#
# (a Hamming-<=h pair escapes iff the flipped bits hit every band; more,
# narrower bands shrink that probability at the price of one extra state
# row per band). 10-bit bands buy the best measured recall at both h
# (0.984/0.979) for 1.5x the band fan-out of the old 15-bit default;
# narrower still (6-bit) makes the 2^band_bits bucket space so dense
# that hot buckets blow past per_band_cap and recall degrades again.
_BAND_BITS = 10


def streaming_near_dup_votes(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
    per_band_cap: int = 256,
    timeout_ms: int | None = None,
    band_bits: int = _BAND_BITS,
) -> DataFrame:
    """Streaming near-duplicate detection across micro-batches — the
    streaming counterpart of the SimHash batch path: first-seen documents
    win; later documents whose 60-bit SimHash lies within `max_hamming`
    of a previously stored hash in any shared band are flagged. Band
    groups decide independently, so a band stores a doc's hash whenever
    that band saw no local match — including docs another band flagged.
    The filter is therefore slightly MORE aggressive than "kept docs
    only": chains of transitively-similar docs collapse to the first
    seen (bounded by the Hamming triangle inequality), which is the
    behavior dedup wants.

    Mechanics: the vectorized SimHash (dedup.simhash60_fast, stateless
    mapInPandas — streams as-is) feeds a band explode (60/band_bits
    bands); state is keyed by (band_id, band_value) and holds the kept
    hashes whose simhash carries that band value. A Hamming-<=h pair
    agrees exactly on at least one band with probability growing as h
    falls (all bands differ only if the <=h flipped bits hit >=1 bit in
    every band), so banding prunes the comparison space the same way
    batch LSH does — with the documented recall trade of any LSH scheme,
    MEASURED in the table above (weak_scaling.py streaming_neardup);
    `band_bits` trades recall against per-doc band fan-out and bucket
    density. Emits one vote row per (doc, band); a document is a
    near-duplicate iff ANY band votes dup — aggregate per micro-batch
    with `near_dup_keep_filter` inside foreachBatch.

    State bounds (the 100 TB knobs): `per_band_cap` FIFO-caps hashes per
    band bucket (a hot bucket cannot grow without bound; oldest hashes
    age out first), and `timeout_ms` evicts idle buckets entirely.
    Within-batch processing order is sorted by id so replays and
    re-partitionings decide ties identically.

    CHECKPOINT COMPATIBILITY — `band_bits` is part of the state KEY
    ((band_id, band_value)), so changing it invalidates any existing
    query checkpoint: state written under the old banding is never
    matched by the new band keys after a restart, and near-dups of
    pre-upgrade documents are silently missed (no error is raised).
    The default changed 15 -> 10 in round 5 for the measured recall win
    above; when RESUMING a query checkpointed under an older default,
    either pin ``band_bits=15`` explicitly or start a fresh checkpoint
    directory. New queries should take the default.
    """
    from snowplow_s3_loader_spark.operators.dedup import simhash60_fast

    if 60 % band_bits != 0:
        raise ValueError(f"band_bits must divide 60, got {band_bits}")
    n_bands = 60 // band_bits
    hashed = simhash60_fast(docs, id_col, text_col)
    band_structs = [
        F.struct(
            F.lit(b).cast("int").alias("band_id"),
            F.shiftright(F.col("simhash"), b * band_bits)
            .bitwiseAND(F.lit((1 << band_bits) - 1))
            .alias("band_val"),
        )
        for b in range(n_bands)
    ]
    banded = hashed.select(
        "id", "simhash", F.explode(F.array(*band_structs)).alias("bv")
    ).select("id", "simhash", F.col("bv.band_id").alias("band_id"), F.col("bv.band_val").alias("band_val"))

    def _vote(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            state.remove()
            return
        (stored,) = state.get if state.exists else ([],)
        stored = list(stored)
        rows = pd.concat(list(pdfs))
        rows = rows.sort_values("id")  # deterministic tie-break
        out_ids, out_bands, out_dups = [], [], []
        for doc_id, h, band_id in zip(rows["id"], rows["simhash"], rows["band_id"]):
            h = int(h)
            dup = any(bin(h ^ s).count("1") <= max_hamming for s in stored)
            if not dup:
                stored.append(h)
                if len(stored) > per_band_cap:
                    stored = stored[-per_band_cap:]
            out_ids.append(int(doc_id))
            out_bands.append(int(band_id))
            out_dups.append(dup)
        state.update((stored,))
        if timeout_ms is not None:
            state.setTimeoutDuration(timeout_ms)
        yield pd.DataFrame({"id": out_ids, "band_id": out_bands, "dup": out_dups})

    return banded.groupBy("band_id", "band_val").applyInPandasWithState(
        _vote,
        outputStructType=_NEAR_DUP_VOTES_SCHEMA,
        stateStructType=_NEAR_DUP_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=(
            GroupStateTimeout.ProcessingTimeTimeout
            if timeout_ms is not None
            else GroupStateTimeout.NoTimeout
        ),
    )


def near_dup_keep_filter(votes_batch: DataFrame) -> DataFrame:
    """Batch-side vote aggregation (run inside foreachBatch): (id, keep)
    where keep = no band flagged the document."""
    return votes_batch.groupBy("id").agg(
        (~F.max("dup")).alias("keep")
    )


# ---------------------------------------------------------------------------
# streaming heavy hitters (sharded Misra-Gries state)
# ---------------------------------------------------------------------------

HEAVY_HITTERS_SCHEMA = StructType(
    [
        StructField("shard", IntegerType()),
        StructField("token", StringType()),
        StructField("est_count", LongType()),
    ]
)

_HH_STATE_SCHEMA = StructType(
    [
        StructField("tokens", ArrayType(StringType())),
        StructField("counts", ArrayType(LongType())),
    ]
)


def streaming_heavy_hitters(
    toks: DataFrame,
    n_shards: int = 16,
    capacity: int = 256,
    tok_col: str = "tok",
) -> DataFrame:
    """Streaming twin of operators.sketches heavy hitters: per-shard
    Misra-Gries summaries folded across micro-batches.

    Input: a streaming frame with a token column (pre-exploded by the
    caller, e.g. ``select(explode(tokens(text)))``). Tokens are sharded
    by hash, so each token lives in exactly ONE shard and the per-shard
    MG guarantee applies with that shard's token mass:

        est <= true <= est + n_shard/(capacity+1)

    and every token heavier than its shard's error bound is guaranteed
    present — sharding TIGHTENS the bound (n_shard ~ n/n_shards) while
    parallelizing state updates across n_shards keys. State per shard is
    <= capacity (token, count) pairs, fixed forever; each batch emits the
    shard's full current summary (update mode), so downstream
    foreachBatch consumers keep the latest emission per shard.

    The state merge IS Misra-Gries over the concatenated stream (same
    _mg_compact as the batch operator), so restarts from the checkpoint
    resume exactly.
    """
    from collections import Counter

    from snowplow_s3_loader_spark.operators.sketches import _mg_compact

    def _update(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            tk, ct = state.get
            mg: Counter = Counter(dict(zip(tk, ct)))
        else:
            mg = Counter()
        for pdf in pdfs:
            mg.update(Counter(pdf[tok_col].to_numpy()))
            mg = _mg_compact(mg, capacity)
        state.update((list(mg.keys()), [int(c) for c in mg.values()]))
        if mg:
            yield pd.DataFrame(
                {
                    "shard": key[0],
                    "token": list(mg.keys()),
                    "est_count": [int(c) for c in mg.values()],
                }
            )

    sharded = toks.withColumn(
        "shard", F.pmod(F.xxhash64(tok_col), F.lit(n_shards)).cast("int")
    )
    return sharded.groupBy("shard").applyInPandasWithState(
        _update,
        outputStructType=HEAVY_HITTERS_SCHEMA,
        stateStructType=_HH_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# ---------------------------------------------------------------------------
# streaming ordered funnel (per-user stage state)
# ---------------------------------------------------------------------------


def streaming_funnel(
    events: DataFrame,
    user_col: str,
    ts_col: str,
    type_col: str,
    steps: list[str],
    timeout_ms: int | None = None,
) -> DataFrame:
    """Streaming twin of behavior.funnel_steps: per-user funnel stage
    carried across micro-batches with BOUNDED state (k timestamps per
    user, nothing else — no event history).

    Each batch's events are processed in event-time order; an event of
    step k advances (or improves) t_k when it lands strictly after
    t_{k-1}, exactly the batch operator's greedy-min recurrence. When a
    user's events arrive in event-time order across batches (the normal
    log-shipping case) the result EQUALS the batch funnel on the same
    data (differential-tested). A retroactive earlier event still
    improves its own step and never invalidates downstream steps
    (improvements only lower t_k, and every later t_{k+1} > old t_k >
    new t_k stays valid) — but a step event DISCARDED before a
    retroactive improvement is not replayed; the chain stays valid,
    possibly non-minimal. Exact retro-correction would need unbounded
    per-user history, the thing this operator exists to avoid.

    ``timeout_ms``: processing-time eviction for always-on deployments
    (same caveat as running_user_counts: leave None under
    Trigger.AvailableNow).
    """
    if not steps:
        raise ValueError("steps must be non-empty")
    k = len(steps)
    user_type = events.schema[user_col].dataType
    out_schema = StructType(
        [
            StructField(user_col, user_type),
            StructField("stage", IntegerType()),
            *[StructField(f"t{i}", TimestampNTZType()) for i in range(1, k + 1)],
        ]
    )
    state_schema = StructType(
        [StructField(f"u{i}", LongType()) for i in range(1, k + 1)]
    )

    def _update(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            state.remove()
            return
        times = list(state.get) if state.exists else [-1] * k
        batch = pd.concat(list(pdfs), ignore_index=True)
        if len(batch):
            batch = batch.sort_values(ts_col, kind="mergesort")
            ts_ns = batch[ts_col].astype("int64").tolist()
            types = batch[type_col].tolist()
            for ts, typ in zip(ts_ns, types):
                for j, s in enumerate(steps):
                    if typ != s:
                        continue
                    after_prev = j == 0 or (times[j - 1] != -1 and ts > times[j - 1])
                    if after_prev and (times[j] == -1 or ts < times[j]):
                        times[j] = ts
        state.update(tuple(times))
        if timeout_ms is not None:
            state.setTimeoutDuration(timeout_ms)
        if times[0] == -1:
            return
        stage = sum(1 for t in times if t != -1)
        row = {user_col: [key[0]], "stage": [stage]}
        for i, t in enumerate(times, start=1):
            row[f"t{i}"] = [pd.Timestamp(t) if t != -1 else pd.NaT]
        yield pd.DataFrame(row)

    return events.groupBy(user_col).applyInPandasWithState(
        _update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=(
            GroupStateTimeout.ProcessingTimeTimeout
            if timeout_ms is not None
            else GroupStateTimeout.NoTimeout
        ),
    )


CUSUM_STATE_SCHEMA = StructType(
    [
        StructField("s_hi", LongType()),
        StructField("s_lo", LongType()),
        StructField("n_alarms", LongType()),
        StructField("n_seen", LongType()),
    ]
)


def streaming_cusum(
    events: DataFrame,
    key_col: str,
    seq_col: str,
    value_col: str,
    target: int,
    slack: int,
    threshold: int,
    timeout_ms: int | None = None,
) -> DataFrame:
    """Streaming twin of timeseries.cusum_alarms: per-series two-sided
    CUSUM carried across micro-batches with FOUR integers of state
    (s_hi, s_lo, cumulative alarm count, rows seen) — the recursion
    max(0, s + d) needs exactly the current statistic, nothing else,
    which is why CUSUM is the classic streaming drift detector.

    Each batch's rows are processed in ``seq_col`` order via the same
    prefix-sum closed form the batch operator uses, composed with the
    carried statistic: with Q = s_prev + cumsum(d),

        s_i = Q_i - min(0, min_{j<=i} Q_j)

    (numpy int64 cumsum/accumulate — vectorized AND exact). When rows
    arrive in seq order across batches — the log-shipping case — the
    final emission per key EQUALS the batch operator's last row and
    alarm count on the union (differential-tested). Emits one row per
    key per batch: (key, s_hi, s_lo, n_alarms, n_seen).

    ``timeout_ms``: processing-time eviction for always-on runs (same
    Trigger.AvailableNow caveat as running_user_counts)."""
    import numpy as np

    key_type = events.schema[key_col].dataType
    out_schema = StructType(
        [
            StructField(key_col, key_type),
            StructField("s_hi", LongType()),
            StructField("s_lo", LongType()),
            StructField("n_alarms", LongType()),
            StructField("n_seen", LongType()),
        ]
    )

    def _run_side(s_prev: int, d: "np.ndarray") -> "np.ndarray":
        q = s_prev + np.cumsum(d, dtype=np.int64)
        m = np.minimum(np.minimum.accumulate(q), 0)
        return q - m

    def _update(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            state.remove()
            return
        s_hi, s_lo, n_alarms, n_seen = (
            state.get if state.exists else (0, 0, 0, 0)
        )
        batch = pd.concat(list(pdfs), ignore_index=True)
        if len(batch):
            batch = batch.sort_values(seq_col, kind="mergesort")
            x = batch[value_col].to_numpy(dtype=np.int64)
            hi = _run_side(s_hi, x - (target + slack))
            lo = _run_side(s_lo, (target - slack) - x)
            alarm = (hi > threshold) | (lo > threshold)
            s_hi, s_lo = int(hi[-1]), int(lo[-1])
            n_alarms += int(alarm.sum())
            n_seen += len(batch)
        state.update((s_hi, s_lo, n_alarms, n_seen))
        if timeout_ms is not None:
            state.setTimeoutDuration(timeout_ms)
        yield pd.DataFrame(
            {
                key_col: [key[0]],
                "s_hi": [s_hi],
                "s_lo": [s_lo],
                "n_alarms": [n_alarms],
                "n_seen": [n_seen],
            }
        )

    return events.groupBy(key_col).applyInPandasWithState(
        _update,
        outputStructType=out_schema,
        stateStructType=CUSUM_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=(
            GroupStateTimeout.ProcessingTimeTimeout
            if timeout_ms is not None
            else GroupStateTimeout.NoTimeout
        ),
    )


TRAILING_STATE_SCHEMA = StructType(
    [
        StructField("words", ArrayType(LongType())),
        StructField("bits", ArrayType(LongType())),
    ]
)


def streaming_trailing_distinct(
    events: DataFrame,
    day_col: str,
    value_col: str,
    window_days: int,
    timeout_ms: int | None = None,
) -> DataFrame:
    """Streaming twin of bitmap.bitmap_trailing_distinct: exact rolling
    ``window_days``-day distinct counts maintained across micro-batches
    with a MERGEABLE bitmap as the per-day state.

    A stateless fan-out first maps each (day, value) to the
    <= window_days trailing days it serves plus its (word, mask) bitmap
    coordinates — pure expressions, so the only stateful key is the
    OUTPUT day. The keyed state is the day's bitmap as parallel
    (words[], bits[]) arrays, bounded by domain/64 regardless of how
    many events ever arrive (bit_or is idempotent — replays and
    overlapping fan-outs merge for free, the same property that makes
    the batch word frames shard-mergeable). Emits per batch:
    (day, n_trailing, n_words) — cumulative exact distincts.

    Update-mode semantics: the last emission per day equals the batch
    operator on the union of all batches (differential-tested and
    driver-audited via the 'streaming_trailing' parity family). Days
    beyond the observed set (a day's fan-out reaches window_days - 1
    days past it) are emitted too; batch comparisons inner-join on the
    observed-day set, mirroring the batch operator's semi join."""
    import numpy as np

    if window_days < 1:
        raise ValueError(f"window_days must be >= 1, got {window_days}")
    day = F.col(day_col).cast("long")
    v = F.col(value_col).cast("long")
    fan = (
        events.where(v.isNotNull())
        .select(
            F.explode(
                F.sequence(day, day + F.lit(int(window_days) - 1))
            ).alias("day"),
            v.alias("__v"),
        )
        .select(
            "day",
            F.shiftright(F.col("__v"), 6).alias("word"),
            # __v & 63, matching bitmap._word_and_mask bit for bit (a
            # % 64 alternative diverges on negative ids)
            F.expr(
                "shiftleft(CAST(1 AS BIGINT), CAST(__v & 63 AS INT))"
            ).alias("mask"),
        )
    )
    out_schema = StructType(
        [
            StructField("day", LongType()),
            StructField("n_trailing", LongType()),
            StructField("n_words", LongType()),
        ]
    )

    def _update(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            state.remove()
            return
        if state.exists:
            words, bits = state.get
            bm = dict(zip(words, bits))
        else:
            bm = {}
        for pdf in pdfs:
            if not len(pdf):
                continue
            folded = pdf.groupby("word")["mask"].agg(
                lambda s: int(np.bitwise_or.reduce(s.to_numpy(np.int64)))
            )
            for w, m in folded.items():
                bm[int(w)] = bm.get(int(w), 0) | int(m)
        items = sorted(bm.items())
        state.update(([w for w, _ in items], [b for _, b in items]))
        if timeout_ms is not None:
            state.setTimeoutDuration(timeout_ms)
        n = int(sum(bin(b & 0xFFFFFFFFFFFFFFFF).count("1") for _, b in items))
        yield pd.DataFrame(
            {
                "day": [key[0]],
                "n_trailing": [n],
                "n_words": [len(items)],
            }
        )

    return fan.groupBy("day").applyInPandasWithState(
        _update,
        outputStructType=out_schema,
        stateStructType=TRAILING_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=(
            GroupStateTimeout.ProcessingTimeTimeout
            if timeout_ms is not None
            else GroupStateTimeout.NoTimeout
        ),
    )


def streaming_ohlc(
    ticks: DataFrame,
    key_col: str,
    bucket_col: str,
    ts_col: str,
    tiebreak_col: str,
    cents_col: str,
    span_us: int,
    timeout_ms: int | None = None,
) -> DataFrame:
    """Streaming twin of timeseries.ohlc_bars: per (key, bucket) OHLC +
    exact truncating TWAP maintained across micro-batches with NINE
    integers of state (open, high, low, last value, tick count, partial
    twap num/den, last tick's ts in us, first-batch flag folded into
    open being set).

    Each new tick closes the PREVIOUS tick's holding interval
    (dur = ts - last_ts, num += last_c * dur) — exactly the batch
    operator's lead(ts) rule unrolled into a running recursion — and
    every emission finalizes the bar as if it closed now: the last
    tick's interval runs to the bar end (bucket + span_us), so when the
    stream drains, the final per-(key, bucket) emission EQUALS the
    batch operator's row on the union (differential-tested; the q141
    parity family). Ticks must arrive in (ts, tiebreak) order per key
    across batches — the log-shipping case, same contract as
    streaming_cusum; within a batch they are sorted.

    State is bounded: one row per live (key, bucket); pass timeout_ms
    for processing-time eviction of closed bars in always-on runs.

    bar_end is computed with naive-datetime epoch arithmetic on the
    bucket key, which is only exact when the Python-side datetimes are
    wall-clock-naive UTC: ``ts_col`` must be TIMESTAMP_NTZ, and
    ``bucket_col`` must be TIMESTAMP_NTZ or — because date_trunc
    returns TimestampType even for NTZ input — a TimestampType under a
    UTC session. A TimestampType bucket in a non-UTC session arrives as
    local naive datetimes, so a bar crossing a DST transition would
    silently diverge from the batch operator's engine-side interval
    arithmetic; both conditions are ENFORCED here.

    Emits one row per touched (key, bucket) per batch with the batch
    operator's exact output columns."""
    import numpy as np

    from pyspark.sql.types import TimestampNTZType, TimestampType

    key_type = ticks.schema[key_col].dataType
    bucket_type = ticks.schema[bucket_col].dataType
    if not isinstance(ticks.schema[ts_col].dataType, TimestampNTZType):
        raise ValueError(
            f"streaming_ohlc: column {ts_col!r} must be timestamp_ntz, "
            f"got {ticks.schema[ts_col].dataType.simpleString()} — "
            "session-local TimestampType makes the python-side tick "
            "epoch arithmetic DST-dependent"
        )
    if isinstance(bucket_type, TimestampType):
        tz = ticks.sparkSession.conf.get("spark.sql.session.timeZone")
        if tz not in ("UTC", "Etc/UTC", "GMT", "Z", "+00:00"):
            raise ValueError(
                f"streaming_ohlc: bucket column {bucket_col!r} is "
                f"TIMESTAMP (session tz {tz!r}) — bar-end arithmetic is "
                "only exact for timestamp_ntz buckets or a UTC session; "
                "cast the bucket to timestamp_ntz"
            )
    elif not isinstance(bucket_type, TimestampNTZType):
        raise ValueError(
            f"streaming_ohlc: column {bucket_col!r} must be a timestamp "
            f"type, got {bucket_type.simpleString()}"
        )
    out_schema = StructType(
        [
            StructField(key_col, key_type),
            StructField(bucket_col, bucket_type),
            StructField("open_cents", LongType()),
            StructField("high_cents", LongType()),
            StructField("low_cents", LongType()),
            StructField("close_cents", LongType()),
            StructField("n_ticks", LongType()),
            StructField("twap_num", LongType()),
            StructField("twap_den", LongType()),
            StructField("twap_cents", LongType()),
        ]
    )
    state_schema = StructType(
        [
            StructField("open_c", LongType()),
            StructField("high_c", LongType()),
            StructField("low_c", LongType()),
            StructField("last_c", LongType()),
            StructField("n", LongType()),
            StructField("num_p", LongType()),
            StructField("den_p", LongType()),
            StructField("last_ts_us", LongType()),
        ]
    )

    def _us(series: pd.Series) -> "np.ndarray":
        return series.to_numpy(dtype="datetime64[us]").astype("int64")

    def _update(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        import datetime as _dt

        if state.hasTimedOut:
            state.remove()
            return
        k, bucket = key
        batch = pd.concat(list(pdfs), ignore_index=True)
        if len(batch):
            batch = batch.sort_values(
                [ts_col, tiebreak_col], kind="mergesort"
            )
            ts = _us(batch[ts_col])
            c = batch[cents_col].to_numpy(dtype=np.int64)
            if state.exists:
                open_c, high_c, low_c, last_c, n, num_p, den_p, last_ts = (
                    state.get
                )
            else:
                open_c, high_c, low_c = int(c[0]), int(c[0]), int(c[0])
                last_c, last_ts = int(c[0]), int(ts[0])
                n, num_p, den_p = 1, 0, 0
                ts, c = ts[1:], c[1:]
            for t_i, c_i in zip(ts, c):
                dur = int(t_i) - last_ts
                num_p += last_c * dur
                den_p += dur
                last_c, last_ts = int(c_i), int(t_i)
                high_c = max(high_c, last_c)
                low_c = min(low_c, last_c)
                n += 1
            state.update(
                (open_c, high_c, low_c, last_c, n, num_p, den_p, last_ts)
            )
        elif state.exists:
            open_c, high_c, low_c, last_c, n, num_p, den_p, last_ts = (
                state.get
            )
        else:
            return
        if timeout_ms is not None:
            state.setTimeoutDuration(timeout_ms)
        bar_end_us = (
            bucket - _dt.datetime(1970, 1, 1)
        ) // _dt.timedelta(microseconds=1) + span_us
        tail = bar_end_us - last_ts
        num, den = num_p + last_c * tail, den_p + tail
        twap = num // den if num >= 0 else -((-num) // den)
        yield pd.DataFrame(
            {
                key_col: [k],
                bucket_col: [bucket],
                "open_cents": [open_c],
                "high_cents": [high_c],
                "low_cents": [low_c],
                "close_cents": [last_c],
                "n_ticks": [n],
                "twap_num": [num],
                "twap_den": [den],
                "twap_cents": [twap],
            }
        )

    timeout = (
        GroupStateTimeout.ProcessingTimeTimeout
        if timeout_ms is not None
        else GroupStateTimeout.NoTimeout
    )
    return ticks.groupBy(key_col, bucket_col).applyInPandasWithState(
        _update, out_schema, state_schema, "update", timeout
    )


def streaming_url_dedup(
    docs: DataFrame,
    url_col: str,
    id_col: str,
    timeout_ms: int | None = None,
) -> DataFrame:
    """Streaming twin of urls.url_dedup — the always-on crawl-ingest
    shape: canonicalize each arriving URL (the same staged
    pure-expression contract; rows that fail to canonicalize are
    dropped, exactly like the batch operator) and maintain per
    canonical URL TWO integers of state: the running duplicate count
    and the smallest id seen (the deterministic keep winner). Both
    folds are commutative+associative, so NO arrival-order contract
    exists — any interleaving of batches drains to the batch
    operator's exact (canonical_url, n_dups, keep_id) rows (the ninth
    batch-vs-streaming parity family).

    State is one row per live canonical URL — the first-seen filter's
    inherent working set; pass timeout_ms for processing-time eviction
    in always-on runs (an evicted URL that reappears restarts its
    count, the standard bounded-retention tradeoff, documented rather
    than silent).

    Emits one row per touched canonical URL per batch (update mode —
    later batches overwrite); the registered domain is a stateless
    projection the caller can add (urls.registered_domain), kept out
    of the state row. ``keep_id`` carries the id column's OWN type
    (any orderable type, string ids included — the batch twin's F.min
    contract; pandas min and Spark min agree on the primitive
    orderings)."""
    from snowplow_s3_loader_spark.operators.urls import canonicalized

    id_type = docs.schema[id_col].dataType
    canon = (
        canonicalized(
            docs.select(
                F.col(url_col).alias("__url"), F.col(id_col).alias("__id")
            ),
            "__url",
        )
        .select("canonical_url", "__id")
        .where(F.col("canonical_url").isNotNull())
    )
    out_schema = StructType(
        [
            StructField("canonical_url", StringType()),
            StructField("n_dups", LongType()),
            StructField("keep_id", id_type),
        ]
    )
    state_schema = StructType(
        [StructField("n", LongType()), StructField("keep", id_type)]
    )

    def _update(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            state.remove()
            return
        (url,) = key
        batch = pd.concat(list(pdfs), ignore_index=True)
        if len(batch):
            n_new = len(batch)
            keep_new = batch["__id"].min()
            if hasattr(keep_new, "item"):  # numpy scalar -> python
                keep_new = keep_new.item()
            if state.exists:
                n, keep = state.get
                n += n_new
                keep = min(keep, keep_new)
            else:
                n, keep = n_new, keep_new
            state.update((n, keep))
        elif state.exists:
            n, keep = state.get
        else:
            return
        if timeout_ms is not None:
            state.setTimeoutDuration(timeout_ms)
        yield pd.DataFrame(
            {"canonical_url": [url], "n_dups": [n], "keep_id": [keep]}
        )

    timeout = (
        GroupStateTimeout.ProcessingTimeTimeout
        if timeout_ms is not None
        else GroupStateTimeout.NoTimeout
    )
    return canon.groupBy("canonical_url").applyInPandasWithState(
        _update, out_schema, state_schema, "update", timeout
    )


def streaming_incremental_minhash(
    store_path: str,
    id_col: str,
    text_col: str,
    n_hashes: int = 16,
    band_size: int = 4,
    n_buckets: int = 1024,
    on_result=None,
):
    """Streaming twin of dedup.incremental_minhash_filter_store — the
    TENTH batch-vs-streaming parity family: each micro-batch is ONE
    snapshot probed against (then folded into) the persisted epoch'd
    band store. Returns a foreachBatch body; wire it as

        src.writeStream.foreachBatch(
            streaming_incremental_minhash(path, "doc_id", "text",
                                          on_result=collect_fn))

    Why foreachBatch and not applyInPandasWithState: the state here is
    the EXTERNAL growing band store, and survivorship couples across
    state keys — a document folds into the store iff NONE of its bands
    hit, which a single band-keyed state update cannot decide (each key
    sees only its own band's occurrences). foreachBatch is Structured
    Streaming's documented shape for exactly this (stateful sinks over
    external stores); the keyed-state families (funnel, OHLC, URL
    dedup) stay on applyInPandasWithState where the fold IS per-key.

    Exactly-once: the fold lands under the store's
    epoch = batch_id + 1 partition with OVERWRITE, and the probe reads
    the store WITH that epoch excluded — a replayed micro-batch
    reproduces its result bit-for-bit instead of double-appending or
    colliding with its own half-written fold. Seed history as epoch 0:
    the +1 mapping reserves it (batch ids start at 0), so epoch-0
    seeds are never overwritten by any micro-batch.

    Semantics match the batch operator applied snapshot-by-snapshot:
    cross-snapshot only (two near-dups in ONE micro-batch both pass
    and both fold), is_dup rows never fold. ``on_result`` receives the
    materialized (id, n_hit_bands, is_dup) frame per batch."""
    from snowplow_s3_loader_spark.operators.dedup import (
        incremental_minhash_filter_store,
    )

    def _fb(batch_df: DataFrame, batch_id: int) -> None:
        res = incremental_minhash_filter_store(
            batch_df,
            store_path,
            id_col,
            text_col,
            n_hashes=n_hashes,
            band_size=band_size,
            n_buckets=n_buckets,
            epoch=int(batch_id) + 1,  # epoch 0 stays the seeded history
        )
        if on_result is not None:
            on_result(res)

    return _fb


def streaming_psi_counts(
    stream: DataFrame,
    value_col: str,
    edges: list,
    timeout_ms: int | None = None,
) -> DataFrame:
    """Streaming PSI drift monitor — the ELEVENTH batch-vs-streaming
    parity family: maintain the CURRENT snapshot's per-bin counts
    against a FROZEN reference (profile.psi_reference), one long of
    state per bin. The bin rule is profile.psi_bin_expr over the same
    edge literals the batch psi_bins uses, so the streamed histogram is
    comparable (and parity-exact) by construction; the fold is a plain
    count addition — commutative+associative, NO arrival-order
    contract, any interleaving of batches drains to the batch counts.

    State is k rows TOTAL (the bin spine — bounded by the monitor's
    own k, never by the data), which makes this the cheapest always-on
    drift monitor possible: the wide work per micro-batch is one
    k-ary groupBy. Emits (bin, n_cur) per touched bin per batch
    (update mode — later batches overwrite); feed the drained counts
    plus the frozen reference to profile.psi_assemble for the exact
    psi_bins output frame.

    ``timeout_ms`` EVICTS a quiet bin's cumulative count (it restarts
    from 0 if the bin sees data again) — that deliberately breaks the
    drains-to-batch-counts equivalence in exchange for bounded
    retention on endless streams; leave it None (the default) when the
    monitor must stay batch-parity-exact over the whole stream. With k
    rows of total state there is rarely a reason to evict.

    NULL values raise (the psi_bins NULL rule, enforced in the same
    pure projection)."""
    from snowplow_s3_loader_spark.operators.profile import psi_bin_expr

    v = F.col(value_col)
    etype = stream.schema[value_col].dataType
    checked = F.when(
        v.isNull(),
        F.raise_error(
            F.lit(
                f"streaming_psi_counts: NULL {value_col!r} in the "
                "stream — filter or impute first (the psi_bins rule)"
            )
        ).cast(etype),
    ).otherwise(v)
    binned = stream.select(
        psi_bin_expr(checked, edges, etype).alias("bin")
    )
    out_schema = StructType(
        [StructField("bin", IntegerType()), StructField("n_cur", LongType())]
    )
    state_schema = StructType([StructField("n", LongType())])

    def _update(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            state.remove()
            return
        (b,) = key
        n_new = sum(len(p) for p in pdfs)
        if n_new:
            (n,) = state.get if state.exists else (0,)
            n += n_new
            state.update((n,))
        elif state.exists:
            (n,) = state.get
        else:
            return
        if timeout_ms is not None:
            state.setTimeoutDuration(timeout_ms)
        yield pd.DataFrame({"bin": [b], "n_cur": [n]})

    timeout = (
        GroupStateTimeout.ProcessingTimeTimeout
        if timeout_ms is not None
        else GroupStateTimeout.NoTimeout
    )
    return binned.groupBy("bin").applyInPandasWithState(
        _update, out_schema, state_schema, "update", timeout
    )


def streaming_cms(
    toks: DataFrame,
    tok_col: str = "tok",
    width: int = 2048,
    depth: int = 4,
) -> DataFrame:
    """Streaming Count-Min sketch maintenance — the TWELFTH
    batch-vs-streaming parity family, operators.sketches.cms_build's
    twin: the always-on frequency monitor over an unbounded token
    stream, drained cell-for-cell EQUAL to the batch sketch of the
    union of all micro-batches.

    Each token routes to its ``depth`` (row, cell) counters through the
    engine-portable md5 hash family (sketches.cms_hash — the SAME cells
    the batch builder and the DuckDB oracle hit), and the per-cell fold
    is a plain count addition: commutative + associative, so there is
    NO arrival-order contract — any interleaving of batches drains to
    ``cms_build`` on the union exactly (the streaming_psi_counts
    argument, applied to a sketch instead of a bin grid).

    State is ONE long per touched cell, bounded by depth*width — the
    monitor's own size, never the data (the defining CMS property
    carried into the state store). Emits the touched cells' cumulative
    (row, cell, n) per batch (update mode — keep the latest emission
    per cell); the drained frame IS a sketch frame: feed it to
    `cms_query` / `cms_merge` unchanged.

    NULL tokens are dropped (the cms_build rule, applied in the same
    pure projection)."""
    from snowplow_s3_loader_spark.operators.sketches import cms_hash

    rows = F.explode(F.array(*[F.lit(d) for d in range(depth)])).alias(
        "row"
    )
    cells = (
        toks.select(F.col(tok_col).alias("__tok"))
        .where(F.col("__tok").isNotNull())
        .select("__tok", rows)
        .select(
            "row", cms_hash(F.col("__tok"), F.col("row"), width).alias("cell")
        )
    )
    out_schema = StructType(
        [
            StructField("row", IntegerType()),
            StructField("cell", LongType()),
            StructField("n", LongType()),
        ]
    )
    state_schema = StructType([StructField("n", LongType())])

    def _update(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        row, cell = key
        n_new = sum(len(p) for p in pdfs)
        if not n_new:
            return
        (n,) = state.get if state.exists else (0,)
        n += n_new
        state.update((n,))
        yield pd.DataFrame({"row": [row], "cell": [cell], "n": [n]})

    return cells.groupBy("row", "cell").applyInPandasWithState(
        _update,
        out_schema,
        state_schema,
        "update",
        GroupStateTimeout.NoTimeout,
    )


def streaming_calibration_counts(
    stream: DataFrame,
    score_col: str,
    label_col: str,
    k: int = 10,
) -> DataFrame:
    """Streaming reliability-diagram monitor — the THIRTEENTH
    batch-vs-streaming parity family, profile.calibration_bins' twin:
    maintain each equal-width score bin's exact (n, n_pos, sum_score)
    against the live stream, three longs of state per bin (k rows
    TOTAL — bounded by the monitor, never the data). All three folds
    are plain additions — commutative+associative, NO arrival-order
    contract; any interleaving of micro-batches drains to the batch
    operator's per-bin counts, from which the full reliability frame
    (avg/frac/gap/ECE) assembles with the same exact integer rules.

    The bin rule and the score/label guards are the SAME guarded
    projection calibration_bins plans (score in [0, 1e6], label 0/1 —
    violations raise in-stream rather than corrupting a bin). Emits
    the touched bins' cumulative triple per batch (update mode)."""
    s, lab = F.col(score_col), F.col(label_col)
    checked_s = F.when(
        s.isNull() | (s < 0) | (s > 1_000_000),
        F.raise_error(
            F.concat(
                F.lit(
                    f"streaming_calibration_counts: {score_col!r} must be "
                    "a micro-unit probability in [0, 1e6], got "
                ),
                F.coalesce(s.cast("string"), F.lit("NULL")),
            )
        ).cast("long"),
    ).otherwise(s.cast("long"))
    checked_l = F.when(
        lab.isNull() | ~lab.cast("long").isin(0, 1),
        F.raise_error(
            F.concat(
                F.lit(
                    f"streaming_calibration_counts: {label_col!r} must "
                    "be 0/1, got "
                ),
                F.coalesce(lab.cast("string"), F.lit("NULL")),
            )
        ).cast("long"),
    ).otherwise(lab.cast("long"))
    binned = stream.select(
        checked_s.alias("__s"), checked_l.alias("__l")
    ).select(
        F.least(
            F.expr(f"(__s * CAST({k} AS BIGINT)) div 1000000"),
            F.lit(k - 1).cast("long"),
        ).cast("int").alias("bin"),
        "__s",
        "__l",
    )
    out_schema = StructType(
        [
            StructField("bin", IntegerType()),
            StructField("n", LongType()),
            StructField("n_pos", LongType()),
            StructField("sum_score", LongType()),
        ]
    )
    state_schema = StructType(
        [
            StructField("n", LongType()),
            StructField("n_pos", LongType()),
            StructField("sum_score", LongType()),
        ]
    )

    def _update(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (b,) = key
        dn = dp = ds = 0
        for p in pdfs:
            dn += len(p)
            dp += int(p["__l"].sum())
            ds += int(p["__s"].sum())
        if not dn:
            return
        n, npos, ss = state.get if state.exists else (0, 0, 0)
        n, npos, ss = n + dn, npos + dp, ss + ds
        state.update((n, npos, ss))
        yield pd.DataFrame(
            {"bin": [b], "n": [n], "n_pos": [npos], "sum_score": [ss]}
        )

    return binned.groupBy("bin").applyInPandasWithState(
        _update,
        out_schema,
        state_schema,
        "update",
        GroupStateTimeout.NoTimeout,
    )
