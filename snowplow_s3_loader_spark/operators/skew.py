"""Skew-mitigation utility: the replicate-salted join.

AQE (enabled by session.py) already re-plans most batch skew: it splits
oversized shuffle partitions and handles skewed sort-merge joins by
range-splitting the hot partition. This helper covers a case AQE
cannot touch: a skewed side that must HASH-join (e.g. the build side is
modest but above the broadcast threshold, or the join feeds a
co-partitioned downstream stage AQE must not re-shard). The big side salts
deterministically, the small side replicates `n_salt` times, and no single
task owns a hot key alone.

Salt is content-derived (`xxhash64` over the row), never `rand()`: task
retries and speculative duplicates recompute identical salts, so
exactly-once sinks stay exactly-once. At 100 TB, pick `n_salt` ~ the
per-key row count you can afford per task; replication multiplies the
small side's shuffle volume by `n_salt`, which is the explicit price of
the spread (16 x a 100 MB dim is nothing; 16 x 100 GB is not — that
case wants AQE's skew-split SMJ instead).

(Beyond the reference's surface — the reference partitions per Kinesis
shard and never joins, Processing.scala:69-77; this is engine
infrastructure for SURVEY.md SS2.3's join/agg categories at scale.)
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_SALT = "__salt"


def _salt_of(df: DataFrame, n_salt: int) -> Column:
    """Deterministic per-row salt in [0, n_salt): content-hashed so
    retries/speculation reproduce it (rand() would not).

    Limitation (by construction): rows that are FULL duplicates hash to
    the same salt, so a hot key whose rows are byte-identical does not
    spread — determinism and spread are in direct tension, and this
    helper picks determinism (exactly-once sinks). If the input has any
    per-row discriminator (an event id, an offset, a line number), keep
    it in the frame — it feeds the hash and restores the spread; truly
    indistinguishable duplicate rows can only be spread by a
    non-deterministic salt the caller must opt into explicitly."""
    return F.pmod(F.xxhash64(*[F.col(c) for c in df.columns]), F.lit(n_salt)).cast("int")


def _check_no_salt_column(*dfs: DataFrame) -> None:
    """A pre-existing '__salt' column would silently collide with the
    helper's working column (joins would key on the caller's values) —
    fail loudly instead."""
    for df in dfs:
        if _SALT in df.columns:
            raise ValueError(
                f"input already has a {_SALT!r} column; rename it before "
                "using the skew helpers (it would collide with the "
                "internal salt)"
            )


def salted_join(
    big: DataFrame,
    small: DataFrame,
    on: Sequence[str],
    n_salt: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Equi-join `big` (skewed keys) with `small` (replicable) such that
    no single reducer owns a hot key: big rows carry a content-derived
    salt, small rows are exploded into `n_salt` replicas, and the join
    keys become (on..., salt). Result equals ``big.join(small, on, how)``
    row-for-row — only the partitioning differs.

    Supported `how`: inner / left / left_outer (the replicated side must
    be the preserved-row side's opposite; a right/full variant would
    duplicate the small side's unmatched rows across salts).
    """
    if how not in ("inner", "left", "left_outer"):
        raise ValueError(f"salted_join supports inner/left joins, got {how!r}")
    _check_no_salt_column(big, small)
    on = list(on)
    big_s = big.withColumn(_SALT, _salt_of(big, n_salt))
    small_s = small.withColumn(
        _SALT, F.explode(F.array(*[F.lit(i) for i in range(n_salt)]))
    )
    return big_s.join(small_s, on + [_SALT], how).drop(_SALT)
