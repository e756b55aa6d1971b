"""Round-12 hardening: the five cross-engine parity / loud-guard fixes
from the round-11 advisory — truncation-recall query spine, burst-fold
slot-bound guard, fd_check vacuous holds, kleinberg tie/dtype contract,
fractional-input integrality guards."""

from __future__ import annotations

import datetime

import pyspark.sql.functions as F
import pytest


class TestTruncationRecallSpine:
    def test_query_with_zero_neighbors_emits_zero_row(self, spark):
        """A corpus of exactly one vector (the query itself): no scored
        neighbors exist on either side, yet the query must still appear
        with all-zero stats — the oracle's `FROM q LEFT JOIN common`
        shape."""
        from snowplow_s3_loader_spark.operators.similarity import (
            truncation_recall,
        )

        df = spark.createDataFrame(
            [(0, [1.0, 2.0, 3.0, 4.0])],
            "vec_id long, embedding array<float>",
        )
        out = truncation_recall(
            df, F.col("vec_id") % 10 == 0, k=3, dims_keep=2
        ).collect()
        assert len(out) == 1
        r = out[0]
        assert (
            r["query_id"],
            r["n_full"],
            r["n_trunc"],
            r["n_common"],
            r["recall_micro"],
        ) == (0, 0, 0, 0, 0)

    def test_spine_covers_every_query(self, spark):
        """Every row matching query_pred appears exactly once, even when
        mixed with queries that do have neighbors."""
        from snowplow_s3_loader_spark.operators.similarity import (
            truncation_recall,
        )

        rows = [
            (i, [float((i * 7 + j * 13) % 10) for j in range(8)])
            for i in range(30)
        ]
        df = spark.createDataFrame(
            rows, "vec_id long, embedding array<float>"
        )
        out = truncation_recall(
            df, F.col("vec_id") % 10 == 0, k=3, dims_keep=8
        ).collect()
        assert [r["query_id"] for r in out] == [0, 10, 20]
        assert all(r["n_full"] == 3 for r in out)


class TestBurstFoldGuard:
    _SCHEMA = (
        "battery string, key string, n_events long, n_gaps long, "
        "mean_gap_s long, n_burst_gaps long, n_bursts long, "
        "max_burst_gaps long, cost_micro long"
    )

    def _frame(self, spark, n_gaps, n_burst_gaps, n_bursts, max_run):
        return spark.createDataFrame(
            [(
                "burst", "k", n_gaps + 1, n_gaps, 10, n_burst_gaps,
                n_bursts, max_run, 123,
            )],
            self._SCHEMA,
        )

    def test_in_bounds_fold_is_lossless(self, spark):
        from snowplow_s3_loader_spark.plans.composites import burst_fold_v1

        [r] = (
            self._frame(spark, 99_999, 50, 3, 20)
            .select(burst_fold_v1().alias("v1"))
            .collect()
        )
        assert r["v1"] == 100_000 * 10_000_000_000 + 99_999 * 100_000 + 20

    @pytest.mark.parametrize(
        "n_gaps,n_burst_gaps,n_bursts",
        [(100_000, 5, 1), (200_000, 100_000, 1), (200_000, 5, 10_000)],
    )
    def test_out_of_bounds_raises(self, spark, n_gaps, n_burst_gaps, n_bursts):
        from snowplow_s3_loader_spark.plans.composites import burst_fold_v1

        with pytest.raises(Exception, match="slot bounds exceeded"):
            self._frame(spark, n_gaps, n_burst_gaps, n_bursts, 1).select(
                burst_fold_v1().alias("v1")
            ).collect()


class TestFdCheckEmptyRelation:
    def test_fd_vacuously_holds_on_empty_input(self, spark):
        """sum() over zero rows is NULL in Spark; the operator must not
        leak that as a three-valued `holds` — an FD on an empty relation
        vacuously holds (1), with zero counts, in BOTH engines."""
        from snowplow_s3_loader_spark.operators.profile import fd_check

        df = spark.createDataFrame([], "a long, b long")
        [r] = fd_check(df, [(["a"], "b")]).collect()
        assert (
            r["n_groups"],
            r["n_violating"],
            r["max_dep_values"],
            r["holds"],
            r["n_rows"],
            r["g3_micro"],
        ) == (0, 0, 0, 1, 0, 0)

    def test_oracle_mirror_on_empty_relation(self, spark):
        """The q158 oracle's coalesce-then-derive shape yields the same
        vacuous row on an empty relation in DuckDB."""
        import duckdb

        got = duckdb.sql(
            """
            WITH src(a, b) AS (SELECT 1, 1 WHERE false),
            g AS (SELECT count(DISTINCT b)
                         + max(CASE WHEN b IS NULL THEN 1 ELSE 0 END) AS nd
                  FROM src GROUP BY a),
            r AS (SELECT CAST(count(*) AS BIGINT) AS n_groups,
                         CAST(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END)
                              AS BIGINT) AS n_violating,
                         CAST(max(nd) AS BIGINT) AS max_dep_values
                  FROM g)
            SELECT n_groups, coalesce(n_violating, 0),
                   coalesce(max_dep_values, 0),
                   CASE WHEN coalesce(n_violating, 0) = 0
                        THEN 1 ELSE 0 END
            FROM r
            """
        ).fetchall()
        assert got == [(0, 0, 0, 1)]

    def test_nonempty_unchanged(self, spark):
        from snowplow_s3_loader_spark.operators.profile import fd_check

        df = spark.createDataFrame(
            [(1, 10), (1, 11), (2, 20)], "a long, b long"
        )
        [r] = fd_check(df, [(["a"], "b")]).collect()
        assert (
            r["n_groups"],
            r["n_violating"],
            r["max_dep_values"],
            r["holds"],
        ) == (2, 1, 2, 0)

    def test_g3_counts_minimal_violation_mass(self, spark):
        """TANE's g3: the fraction of rows to delete for the FD to hold
        — group 1 keeps its plurality dep (2 of 3 rows), so exactly one
        of four rows must go."""
        from snowplow_s3_loader_spark.operators.profile import fd_check

        df = spark.createDataFrame(
            [(1, 10), (1, 10), (1, 11), (2, 20)], "a long, b long"
        )
        [r] = fd_check(df, [(["a"], "b")]).collect()
        assert (r["n_rows"], r["g3_micro"]) == (4, 250_000)
        # an exactly-holding FD has zero violation mass
        ok = spark.createDataFrame(
            [(1, 10), (1, 10), (2, 20)], "a long, b long"
        )
        [r2] = fd_check(ok, [(["a"], "b")]).collect()
        assert (r2["holds"], r2["g3_micro"]) == (1, 0)
        # NULL dep is a distinct value: plurality keeps the NULL pair
        nl = spark.createDataFrame(
            [(1, None), (1, None), (1, 30)], "a long, b long"
        )
        [r3] = fd_check(nl, [(["a"], "b")]).collect()
        assert (r3["max_dep_values"], r3["g3_micro"]) == (2, 333_333)


class TestKleinbergContracts:
    def _events(self, spark, gaps, schema, key):
        t = datetime.datetime(2024, 1, 1)
        rows = [(key, t, 0)]
        for i, g in enumerate(gaps):
            t = t + datetime.timedelta(seconds=g)
            rows.append((key, t, i + 1))
        return spark.createDataFrame(rows, schema)

    def test_null_tie_col_raises(self, spark):
        from snowplow_s3_loader_spark.operators.timeseries import (
            kleinberg_bursts,
        )

        df = self._events(
            spark, [10, 20, 30], "key string, ts timestamp_ntz, eid long", "k"
        ).withColumn(
            "eid", F.when(F.col("eid") == 2, F.lit(None)).otherwise("eid")
        )
        with pytest.raises(Exception, match="tiebreak must"):
            kleinberg_bursts(df, "key", "ts", "eid").collect()

    def test_numeric_key_dtype_preserved(self, spark):
        from snowplow_s3_loader_spark.operators.timeseries import (
            kleinberg_bursts,
        )

        df = self._events(
            spark, [60] * 20, "key long, ts timestamp_ntz, eid long", 7
        )
        out = kleinberg_bursts(df, "key", "ts", "eid")
        assert out.schema["key"].dataType.simpleString() == "bigint"
        [r] = out.collect()
        assert r["key"] == 7 and r["n_gaps"] == 20


def _bands(spark, epoch, n=40):
    """Distinct synthetic band rows per epoch (no cross-epoch dups, so
    dedupe-on-compact rewrites byte-identical row sets)."""
    return spark.range(n).select(
        (F.col("id") % 4).cast("int").alias("band_id"),
        F.concat(
            F.lit(f"e{epoch}:"), F.col("id").cast("string")
        ).alias("band_hash"),
    )


def _store_files(path):
    import os

    return sum(
        1
        for root, _dirs, files in os.walk(path)
        for f in files
        if not f.startswith(("_", "."))
    )


class TestCompactBandStore:
    def test_soak_fifty_epochs_then_compact(self, spark, tmp_path):
        """The always-on trickle shape: 50 micro-epoch folds, then one
        compaction of the closed epochs — file count drops, pruned-read
        results stay identical, and the active epoch is untouched."""
        from snowplow_s3_loader_spark.operators.dedup import (
            compact_band_store,
            read_band_store_pruned,
            write_band_store,
        )

        path = str(tmp_path / "store")
        for e in range(50):
            write_band_store(
                _bands(spark, e, n=24), path, n_buckets=8, epoch=e
            )
        probe = _bands(spark, 7, n=24)

        def _read():
            return sorted(
                (r["band_id"], r["band_hash"])
                for r in read_band_store_pruned(
                    probe, path, n_buckets=8
                ).collect()
            )

        before_rows = _read()
        files_before = _store_files(path)
        stats = compact_band_store(spark, path, up_to_epoch=48)
        assert stats["epochs_compacted"] == 49
        assert stats["target_epoch"] == 0
        files_after = _store_files(path)
        assert files_after < files_before
        assert stats["files_after"] < stats["files_before"]
        assert _read() == before_rows
        # the open epoch (49) survived untouched
        import os

        assert os.path.isdir(os.path.join(path, "epoch=49"))
        # and no temp/trash residue
        assert not [
            d for d in os.listdir(path) if d.startswith(".compact")
        ]

    def test_incremental_gate_identical_after_compaction(
        self, spark, tmp_path
    ):
        """q150's shape: the full store-backed gate returns the exact
        same (id, n_hit_bands, is_dup) rows before and after compacting
        the folded history."""
        from snowplow_s3_loader_spark.operators.dedup import (
            compact_band_store,
            incremental_minhash_filter_store,
            minhash_bands,
            write_band_store,
        )
        from tests.test_round11_ops import _snapshot

        path = str(tmp_path / "store")
        write_band_store(
            minhash_bands(_snapshot(spark, 0, 120), "doc_id", "text"),
            path,
            n_buckets=16,
            epoch=0,
        )
        write_band_store(
            minhash_bands(_snapshot(spark, 1, 120), "doc_id", "text"),
            path,
            n_buckets=16,
            epoch=1,
        )
        new = _snapshot(spark, 2, 120)

        def _gate():
            return sorted(
                (r["id"], r["n_hit_bands"], r["is_dup"])
                for r in incremental_minhash_filter_store(
                    new, path, "doc_id", "text", n_buckets=16,
                    fold_survivors=False,
                ).collect()
            )

        before = _gate()
        stats = compact_band_store(spark, path)
        assert stats["epochs_compacted"] == 2
        assert _gate() == before

    def test_flat_store_compaction(self, spark, tmp_path):
        from snowplow_s3_loader_spark.operators.dedup import (
            compact_band_store,
            write_band_store,
        )

        path = str(tmp_path / "store")
        for e in range(6):
            write_band_store(
                _bands(spark, e, n=24), path, n_buckets=4, mode="append"
            )
        before_rows = sorted(
            (r["band_id"], r["band_hash"])
            for r in spark.read.parquet(path)
            .select("band_id", "band_hash")
            .collect()
        )
        files_before = _store_files(path)
        stats = compact_band_store(spark, path)
        assert stats["target_epoch"] == -1
        assert _store_files(path) < files_before
        after_rows = sorted(
            (r["band_id"], r["band_hash"])
            for r in spark.read.parquet(path)
            .select("band_id", "band_hash")
            .collect()
        )
        assert after_rows == before_rows

    def test_dedupe_drops_replayed_band_rows(self, spark, tmp_path):
        """Cross-epoch duplicate band rows collapse to one copy; the
        membership semantics (a set) are unchanged."""
        from snowplow_s3_loader_spark.operators.dedup import (
            compact_band_store,
            write_band_store,
        )

        path = str(tmp_path / "store")
        for e in range(3):
            write_band_store(
                _bands(spark, 0, n=24), path, n_buckets=4, epoch=e
            )
        assert spark.read.parquet(path).count() == 72
        compact_band_store(spark, path)
        assert spark.read.parquet(path).count() == 24

    def test_up_to_epoch_on_flat_store_raises(self, spark, tmp_path):
        from snowplow_s3_loader_spark.operators.dedup import (
            compact_band_store,
            write_band_store,
        )

        path = str(tmp_path / "store")
        write_band_store(_bands(spark, 0), path, n_buckets=4)
        with pytest.raises(ValueError, match="not an epoch'd store"):
            compact_band_store(spark, path, up_to_epoch=3)


class TestRankingCrossPassGuard:
    def test_nondeterministic_input_raises(self, spark):
        """A genuinely nondeterministic key (non-deterministic UDF): the
        counts pass and the output pass see different bucket
        distributions, and the per-row cross-pass count guard must turn
        the documented silent-corruption mode into a loud error."""
        import random

        from snowplow_s3_loader_spark.operators.ranking import (
            global_row_number,
        )

        nd = F.udf(
            lambda _: random.random(), "double"
        ).asNondeterministic()
        df = spark.range(0, 20_000, 1, 8).select(
            nd(F.col("id")).alias("k"), F.col("id")
        )
        out, _total = global_row_number(
            df, [F.col("k"), F.col("id")], num_partitions=16
        )
        with pytest.raises(Exception, match="cross-pass bucket-count"):
            out.collect()

    def test_nondeterministic_running_total_raises(self, spark):
        import random

        from snowplow_s3_loader_spark.operators.ranking import (
            global_running_total,
        )

        nd = F.udf(
            lambda _: random.random(), "double"
        ).asNondeterministic()
        df = spark.range(0, 20_000, 1, 8).select(
            nd(F.col("id")).alias("k"),
            F.col("id"),
            F.lit(1).cast("long").alias("v"),
        )
        out, _t, _tv = global_running_total(
            df, [F.col("k"), F.col("id")], "v", num_partitions=16
        )
        with pytest.raises(Exception, match="cross-pass bucket-count"):
            out.collect()

    def test_deterministic_input_unchanged_and_no_extra_exchange(
        self, spark
    ):
        """The guard rides the existing bucket window: ranks identical
        to a plain global sort, and the output plan gains NO exchange
        beyond the one bucket-keyed shuffle."""
        from snowplow_s3_loader_spark.operators.ranking import (
            global_row_number,
        )

        df = spark.range(0, 5_000, 1, 8).select(
            (F.col("id") * 2654435761 % 100_000).alias("k"), F.col("id")
        )
        out, total = global_row_number(
            df, [F.col("k"), F.col("id")], num_partitions=16
        )
        assert total == 5_000
        rows = out.orderBy("rn").collect()
        expect = sorted((r["k"], r["id"]) for r in df.collect())
        assert [(r["k"], r["id"]) for r in rows] == expect
        assert [r["rn"] for r in rows] == list(range(1, 5_001))
        import re

        txt = out._jdf.queryExecution().executedPlan().toString()
        n_exchange = len(re.findall(r"Exchange hashpartitioning", txt))
        assert n_exchange == 1


class TestBurstIntervals:
    def _events(self, spark, gaps, key="k"):
        t = datetime.datetime(2024, 1, 1)
        rows = [(key, t, 0)]
        for i, g in enumerate(gaps):
            t = t + datetime.timedelta(seconds=g)
            rows.append((key, t, i + 1))
        return spark.createDataFrame(
            rows, "key string, ts timestamp_ntz, eid long"
        )

    def test_intervals_match_planted_windows(self, spark):
        """Two planted bursts: the emitted windows carry the exact
        bounding event timestamps and gap mass of each planted run."""
        from snowplow_s3_loader_spark.operators.timeseries import (
            kleinberg_burst_intervals,
        )

        gaps = [60] * 100
        gaps[10:18] = [2] * 8
        gaps[70:82] = [3] * 12
        rows = kleinberg_burst_intervals(
            self._events(spark, gaps), "key", "ts", "eid"
        ).collect()
        assert len(rows) == 2
        base = datetime.datetime(2024, 1, 1)

        def ts_of(event_idx):
            return base + datetime.timedelta(
                seconds=sum(gaps[:event_idx])
            )

        # burst 1: gaps 11..18 (1-based) cover events 10..18
        r1 = rows[0]
        assert (r1["burst_id"], r1["n_gaps"], r1["n_events"]) == (1, 8, 9)
        assert r1["start_ts"] == ts_of(10) and r1["end_ts"] == ts_of(18)
        assert r1["span_s"] == 8 * 2
        r2 = rows[1]
        assert (r2["burst_id"], r2["n_gaps"], r2["n_events"]) == (2, 12, 13)
        assert r2["start_ts"] == ts_of(70) and r2["end_ts"] == ts_of(82)
        assert r2["span_s"] == 12 * 3

    def test_intervals_consistent_with_summary(self, spark):
        """Interval rows aggregated per key reproduce kleinberg_bursts'
        counts exactly (same DP, same backtrack — by construction)."""
        from snowplow_s3_loader_spark.operators.timeseries import (
            kleinberg_burst_intervals,
            kleinberg_bursts,
        )

        gaps = [100 + (i % 3) for i in range(80)]
        gaps[30:50] = [5 + (i % 2) for i in range(20)]
        ev = self._events(spark, gaps)
        [summary] = kleinberg_bursts(ev, "key", "ts", "eid").collect()
        ivals = kleinberg_burst_intervals(ev, "key", "ts", "eid").collect()
        assert len(ivals) == summary["n_bursts"]
        assert sum(r["n_gaps"] for r in ivals) == summary["n_burst_gaps"]
        assert (
            max((r["n_gaps"] for r in ivals), default=0)
            == summary["max_burst_gaps"]
        )

    def test_quiet_and_short_keys_emit_nothing(self, spark):
        from snowplow_s3_loader_spark.operators.timeseries import (
            kleinberg_burst_intervals,
        )

        quiet = self._events(spark, [60] * 50, key="quiet")
        short = self._events(spark, [10], key="short")
        assert (
            kleinberg_burst_intervals(
                quiet.union(short), "key", "ts", "eid"
            ).count()
            == 0
        )


class TestMultiStateKleinberg:
    def _events(self, spark, gaps, key="k"):
        t = datetime.datetime(2024, 1, 1)
        rows = [(key, t, 0)]
        for i, g in enumerate(gaps):
            t = t + datetime.timedelta(seconds=g)
            rows.append((key, t, i + 1))
        return spark.createDataFrame(
            rows, "key string, ts timestamp_ntz, eid long"
        )

    def test_two_state_case_bit_identical(self, spark):
        """n_states = 2 must reproduce kleinberg_bursts exactly —
        same burst gaps, runs, and DP cost on a planted corpus."""
        from snowplow_s3_loader_spark.operators.timeseries import (
            kleinberg_bursts,
            kleinberg_bursts_multi,
        )

        gaps = [100 + (i % 3) for i in range(80)]
        gaps[30:50] = [5 + (i % 2) for i in range(20)]
        ev = self._events(spark, gaps)
        [two] = kleinberg_bursts(ev, "key", "ts", "eid").collect()
        [multi] = kleinberg_bursts_multi(
            ev, "key", "ts", "eid", n_states=2
        ).collect()
        assert (
            multi["n_burst_gaps"],
            multi["n_bursts"],
            multi["state_mass"],
            multi["max_state"],
            multi["cost_micro"],
        ) == (
            two["n_burst_gaps"],
            two["n_bursts"],
            two["n_burst_gaps"],  # all level 1 in a 2-state machine
            1 if two["n_burst_gaps"] else 0,
            two["cost_micro"],
        )

    def test_single_level_corpus_stays_level_one(self, spark):
        """A planted 2x burst: 3 states available, but climbing to
        level 2 (4x rate) is never worth a second transition cost —
        the hierarchy must report max_state = 1 only."""
        from snowplow_s3_loader_spark.operators.timeseries import (
            kleinberg_bursts_multi,
        )

        gaps = [120] * 90
        # ~2.4x the corpus mean rate: above s=2, well under s^2=4, so
        # level 1 is the optimal assignment and level 2 never pays
        gaps[30:55] = [40] * 25
        [r] = kleinberg_bursts_multi(
            self._events(spark, gaps), "key", "ts", "eid", n_states=3
        ).collect()
        assert r["max_state"] == 1
        assert r["n_bursts"] == 1 and r["n_burst_gaps"] >= 20
        assert r["state_mass"] == r["n_burst_gaps"]

    def test_nested_hierarchy_recovered(self, spark):
        """A level-2 spike nested inside a level-1 burst: the 3-state
        machine must climb to max_state = 2 inside the spike while the
        surrounding level-1 region stays at 1."""
        from snowplow_s3_loader_spark.operators.timeseries import (
            kleinberg_bursts_multi,
        )

        gaps = [120] * 100
        gaps[30:70] = [55] * 40   # level-1 region (~2x rate)
        gaps[45:60] = [12] * 15   # nested level-2 spike (~10x rate)
        [r] = kleinberg_bursts_multi(
            self._events(spark, gaps), "key", "ts", "eid", n_states=3
        ).collect()
        assert r["max_state"] == 2
        assert r["n_bursts"] == 1  # one contiguous >=1 region
        # depth-weighted mass exceeds the flat gap count
        assert r["state_mass"] > r["n_burst_gaps"]

    def test_dp_cost_is_optimal_by_brute_force(self):
        """Exhaustive check on short sequences: the k-state DP cost
        equals the minimum over ALL k^n state assignments under the
        exact integer cost model."""
        import itertools
        import math

        from snowplow_s3_loader_spark.operators.timeseries import (
            _burst_states_multi,
        )

        s_num, gamma = 2, 700_000
        for xs in (
            [50, 50, 9, 8, 50, 51, 7, 50],
            [30, 3, 3, 3, 31, 29, 30],
            [10, 10, 10, 10],
            [100, 1, 1, 100, 1, 1, 100],
        ):
            for k in (2, 3, 4):
                states, cost, mean_gap, trans = _burst_states_multi(
                    xs, "k", k, s_num, gamma
                )
                ln_s = int(math.floor(math.log(s_num) * 1e6 + 0.5))

                def seq_cost(seq):
                    c, prev = 0, 0
                    for st, x in zip(seq, xs):
                        c += max(0, st - prev) * trans
                        c0x = (x * 1_000_000) // mean_gap
                        c += (s_num**st - 1) * c0x - st * ln_s
                        prev = st
                    return c

                brute = min(
                    seq_cost(seq)
                    for seq in itertools.product(range(k), repeat=len(xs))
                )
                assert cost == brute == seq_cost(states)

    def test_n_states_bounds(self, spark):
        from snowplow_s3_loader_spark.operators.timeseries import (
            kleinberg_bursts_multi,
        )

        ev = self._events(spark, [10, 20])
        with pytest.raises(ValueError, match="n_states"):
            kleinberg_bursts_multi(ev, "key", "ts", "eid", n_states=1)
        with pytest.raises(ValueError, match="n_states"):
            kleinberg_bursts_multi(ev, "key", "ts", "eid", n_states=7)


class TestPlantedDriftDifferential:
    """The recovery discipline for the drift trio: plant a KNOWN
    distribution shift and assert KS, PSI and CUSUM all FIRE at it —
    and nowhere else. (Oracle-exactness of each statistic is covered by
    q153/q151/q139; this pins that the statistics actually DETECT.)"""

    N = 1500

    def _snapshot(self, spark, seed, shift=0):
        # uniform integers over [shift, shift + 1000): same shape per
        # seed, a planted location drift when shift != 0
        return spark.range(self.N).select(
            F.col("id"),
            ((F.col("id") * 7919 + seed * 131) % 1000 + shift).alias("v"),
        )

    def test_ks_fires_at_the_planted_shift_only(self, spark):
        from snowplow_s3_loader_spark.operators.profile import ks_statistic

        ref = self._snapshot(spark, 0)
        for seed, shift, fires in [(1, 0, False), (2, 0, False),
                                   (3, 400, True)]:
            cur = self._snapshot(spark, seed, shift)
            [r] = ks_statistic(ref, cur, "v").collect()
            if fires:
                assert r["ks_micro"] > 250_000, r
            else:
                assert r["ks_micro"] < 100_000, r

    def test_psi_fires_at_the_planted_shift_only(self, spark):
        from snowplow_s3_loader_spark.operators.profile import psi_bins

        ref = self._snapshot(spark, 0)
        for seed, shift, fires in [(1, 0, False), (2, 0, False),
                                   (3, 400, True)]:
            cur = self._snapshot(spark, seed, shift)
            rows = psi_bins(ref, cur, "v", k=10, tie_cols=["id"]).collect()
            nulls = sum(1 for r in rows if r["psi_micro"] is None)
            total = sum(r["psi_micro"] or 0 for r in rows)
            if fires:
                # a +400 shift on a 1000-wide uniform empties the low
                # reference bins — the loudest signal (NULL terms) —
                # and the surviving terms alone clear the 0.25 bar
                assert nulls > 0 and total > 250_000, rows
            else:
                assert nulls == 0 and total < 100_000, rows

    def test_cusum_fires_after_the_planted_changepoint_only(self, spark):
        from snowplow_s3_loader_spark.operators.timeseries import (
            cusum_alarms,
        )

        shift_at = 600
        df = spark.range(1000).select(
            F.lit("m").alias("g"),
            F.col("id"),
            (
                F.lit(100)
                + (F.col("id") * 37 % 21 - 10)  # bounded +-10 noise
                + F.when(F.col("id") >= shift_at, F.lit(25)).otherwise(0)
            ).alias("v"),
        )
        rows = cusum_alarms(
            df, "g", ["id"], "v", target=100, slack=12, threshold=200
        ).collect()
        alarmed = sorted(r["id"] for r in rows if r["alarm"])
        assert alarmed, "the planted +25 drift must alarm"
        # fires AFTER the changepoint, within the ~threshold/drift
        # detection delay, and never before it
        assert shift_at < alarmed[0] <= shift_at + 40
        # once drifted, the un-reset statistic stays alarmed
        assert alarmed == list(range(alarmed[0], 1000))


class TestCusumChangepoint:
    def _series(self, spark, xs, key="m"):
        return spark.createDataFrame(
            [(key, i, int(x)) for i, x in enumerate(xs)],
            "g string, i long, x long",
        )

    def test_planted_level_shift_located(self, spark):
        from snowplow_s3_loader_spark.operators.timeseries import (
            cusum_changepoint,
        )

        xs = [100 + (i * 37 % 11) for i in range(300)]
        xs += [160 + (i * 37 % 11) for i in range(300)]
        [r] = cusum_changepoint(
            self._series(spark, xs), "g", ["i"], "x"
        ).collect()
        # t_hat is 1-based: the last left-segment row is index 299 ->
        # t = 300; small bounded noise can move it by a sample or two
        assert abs(r["t_hat"] - 300) <= 3
        assert 50_000_000 < r["shift_micro"] < 70_000_000
        assert r["n"] == 600 and r["total"] == sum(xs)

    def test_matches_pure_python_argmax(self, spark):
        from snowplow_s3_loader_spark.operators.timeseries import (
            cusum_changepoint,
        )

        xs = [(i * 2654435761) % 997 for i in range(400)]
        n, s = len(xs), sum(xs)
        best_t, best_a, best_p = None, -1, None
        p = 0
        for t0, x in enumerate(xs, start=1):
            p += x
            if t0 >= n:
                break
            a = abs(n * p - t0 * s)
            if a > best_a:
                best_t, best_a, best_p = t0, a, p
        [r] = cusum_changepoint(
            self._series(spark, xs), "g", ["i"], "x"
        ).collect()
        assert (r["t_hat"], r["a_max"]) == (best_t, best_a)
        assert r["mean_left_micro"] == best_p * 1_000_000 // best_t
        assert (
            r["mean_right_micro"]
            == (s - best_p) * 1_000_000 // (n - best_t)
        )
        assert r["shift_micro"] == (
            r["mean_right_micro"] - r["mean_left_micro"]
        )

    def test_guards_and_degenerate_series(self, spark):
        from snowplow_s3_loader_spark.operators.timeseries import (
            cusum_changepoint,
        )

        neg = self._series(spark, [5, -1, 7])
        with pytest.raises(Exception, match="non-negative"):
            cusum_changepoint(neg, "g", ["i"], "x").collect()
        single = self._series(spark, [42])
        assert cusum_changepoint(single, "g", ["i"], "x").count() == 0
        # overflow guard: values large enough that n * P would wrap
        big = self._series(spark, [2**61, 2**61, 2**61])
        with pytest.raises(Exception, match="overflows int64"):
            cusum_changepoint(big, "g", ["i"], "x").collect()
        # t * S can wrap even when every CANDIDATE prefix is tiny (the
        # series total S includes the huge final value) — must raise too
        tail_heavy = self._series(spark, [1, 1, 2**61])
        with pytest.raises(Exception, match="overflows int64"):
            cusum_changepoint(tail_heavy, "g", ["i"], "x").collect()


class TestBenfordProfile:
    def test_matches_pure_python_reference(self, spark):
        import math

        from snowplow_s3_loader_spark.operators.profile import (
            benford_profile,
        )

        vals = [(("a" if i % 2 else "b"), (i * 7919) % 99_991 + 1)
                for i in range(800)]
        df = spark.createDataFrame(vals, "g string, v long")
        got = {
            (r["g"], r["digit"]): (r["n"], r["obs_micro"], r["exp_micro"],
                                   r["dev_micro"])
            for r in benford_profile(df, ["g"], "v").collect()
        }
        assert len(got) == 18  # full 9-digit spine for both groups
        for g in ("a", "b"):
            counts = {d: 0 for d in range(1, 10)}
            for gg, v in vals:
                if gg == g:
                    counts[int(str(v)[0])] += 1
            total = sum(counts.values())
            for d in range(1, 10):
                exp = round(math.log10(1 + 1 / d) * 1_000_000)
                obs = counts[d] * 1_000_000 // total
                assert got[(g, d)] == (counts[d], obs, exp, obs - exp)

    def test_benford_like_data_has_small_deviation(self, spark):
        """Magnitudes spread over several decades (2^i scaled) follow
        Benford closely — every digit's deviation stays small, which is
        the audit's PASS read-out."""
        from snowplow_s3_loader_spark.operators.profile import (
            benford_profile,
        )

        df = spark.range(1, 1001).select(
            F.lit("x").alias("g"),
            F.expr(
                "CAST(pow(2.0, CAST(id AS DOUBLE) / 40.0) AS BIGINT) + 1"
            ).alias("v"),
        )
        rows = benford_profile(df, ["g"], "v").collect()
        assert all(abs(r["dev_micro"]) < 60_000 for r in rows)

    def test_zero_and_negative_raise(self, spark):
        from snowplow_s3_loader_spark.operators.profile import (
            benford_profile,
        )

        for bad in (0, -7):
            df = spark.createDataFrame([("a", bad)], "g string, v long")
            with pytest.raises(Exception, match="positive"):
                benford_profile(df, ["g"], "v").collect()

    def test_zero_count_digits_emit_spine_rows(self, spark):
        from snowplow_s3_loader_spark.operators.profile import (
            benford_profile,
        )

        df = spark.createDataFrame(
            [("a", 11), ("a", 12), ("a", 90)], "g string, v long"
        )
        rows = benford_profile(df, ["g"], "v").collect()
        by_digit = {r["digit"]: r["n"] for r in rows}
        assert by_digit == {1: 2, 2: 0, 3: 0, 4: 0, 5: 0, 6: 0, 7: 0,
                            8: 0, 9: 1}


class TestMutualInformation:
    def _mi_ref(self, pairs):
        import math
        from collections import Counter

        n = len(pairs)
        cxy = Counter(pairs)
        cx = Counter(p[0] for p in pairs)
        cy = Counter(p[1] for p in pairs)
        ln_n = round(math.log(n) * 1_000_000)

        def h(counts):
            s = sum(c * round(math.log(c) * 1_000_000)
                    for c in counts.values())
            return ln_n - s // n

        return h(cx), h(cy), h(cxy)

    def test_matches_pure_python_reference(self, spark):
        from snowplow_s3_loader_spark.operators.profile import (
            mutual_information,
        )

        pairs = [
            (f"x{i % 7}", f"y{(i * i + i // 3) % 5}") for i in range(600)
        ]
        df = spark.createDataFrame(pairs, "a string, b string")
        [r] = mutual_information(df, "a", "b").collect()
        hx, hy, hxy = self._mi_ref(pairs)
        assert (r["h_x_micro"], r["h_y_micro"], r["h_xy_micro"]) == (
            hx, hy, hxy,
        )
        assert r["mi_micro"] == hx + hy - hxy
        assert (r["n"], r["x_distinct"], r["y_distinct"]) == (600, 7, 5)

    def test_perfect_dependence_and_independence(self, spark):
        from snowplow_s3_loader_spark.operators.profile import (
            mutual_information,
        )

        # Y a bijection of X: MI = H(X) exactly, even quantized
        dep = spark.range(900).select(
            (F.col("id") % 6).alias("a"), ((F.col("id") % 6) * 11).alias("b")
        )
        [r] = mutual_information(dep, "a", "b").collect()
        assert r["mi_micro"] == r["h_x_micro"] == r["h_y_micro"]
        # independent uniform grid: MI within quantization drift of 0
        ind = spark.range(900).select(
            (F.col("id") % 6).alias("a"),
            (F.expr("id div 6") % 5).alias("b"),
        )
        [r2] = mutual_information(ind, "a", "b").collect()
        assert abs(r2["mi_micro"]) < 50

    def test_null_is_a_category(self, spark):
        from snowplow_s3_loader_spark.operators.profile import (
            mutual_information,
        )

        df = spark.createDataFrame(
            [("a", 1), (None, 2), (None, 2), ("a", 1)],
            "a string, b int",
        )
        [r] = mutual_information(df, "a", "b").collect()
        # NULL co-varies perfectly with b = 2: full dependence
        assert r["x_distinct"] == 2 and r["mi_micro"] == r["h_x_micro"]


class TestIsotonicCalibration:
    def _fit_ref(self, pairs, k=10):
        """Independent quantized-minimax PAV mirror."""
        bins = {b: [0, 0] for b in range(k)}
        for p, y in pairs:
            b = min(p * k // 1_000_000, k - 1)
            bins[b][0] += 1
            bins[b][1] += y
        ne = [(b, n, np_) for b, (n, np_) in sorted(bins.items()) if n > 0]
        m = len(ne)

        def rate(j, kk):  # 0-based inclusive over ne
            n = sum(ne[l][1] for l in range(j, kk + 1))
            np_ = sum(ne[l][2] for l in range(j, kk + 1))
            return np_ * 1_000_000 // n

        return {
            ne[i][0]: max(
                min(rate(j, kk) for kk in range(i, m))
                for j in range(0, i + 1)
            )
            for i in range(m)
        }

    def test_matches_quantized_minimax_reference(self, spark):
        from snowplow_s3_loader_spark.operators.profile import (
            isotonic_calibration,
        )

        pairs = [
            ((i * 7919) % 1_000_001,
             1 if (i * 104729) % 1_000_001 < 600_000 - ((i * 7919) % 400_000)
             else 0)
            for i in range(700)
        ]
        df = spark.createDataFrame(pairs, "p long, y int")
        got = {
            r["bin"]: r["fitted_micro"]
            for r in isotonic_calibration(df, "p", "y", k=10).collect()
            if r["fitted_micro"] is not None
        }
        assert got == self._fit_ref(pairs)

    def test_fit_is_monotone_and_pools_violators(self, spark):
        from snowplow_s3_loader_spark.operators.profile import (
            isotonic_calibration,
        )

        # bins 2 and 3 planted as violators (rate drops 0.8 -> 0.2):
        # PAV pools them to the weighted average
        rows = []
        for b, n, npos in [(2, 100, 80), (3, 100, 20), (7, 50, 45)]:
            p = b * 100_000 + 50_000
            rows += [(p, 1)] * npos + [(p, 0)] * (n - npos)
        df = spark.createDataFrame(rows, "p long, y int")
        out = isotonic_calibration(df, "p", "y", k=10).collect()
        fits = [r["fitted_micro"] for r in out
                if r["fitted_micro"] is not None]
        assert fits == sorted(fits)
        by_bin = {r["bin"]: r["fitted_micro"] for r in out}
        assert by_bin[2] == by_bin[3] == 500_000  # pooled (80+20)/200
        assert by_bin[7] == 900_000
        # empty bins carry no fit
        assert by_bin[0] is None

    def test_already_isotonic_diagram_is_fixed_point(self, spark):
        from snowplow_s3_loader_spark.operators.profile import (
            isotonic_calibration,
        )

        rows = []
        for b, n, npos in [(1, 40, 4), (4, 40, 20), (8, 40, 36)]:
            p = b * 100_000 + 50_000
            rows += [(p, 1)] * npos + [(p, 0)] * (n - npos)
        df = spark.createDataFrame(rows, "p long, y int")
        for r in isotonic_calibration(df, "p", "y", k=10).collect():
            if r["n"] > 0:
                assert r["fitted_micro"] == r["frac_pos_micro"]


class TestIntegralityGuards:
    def test_survival_fractional_duration_raises(self, spark):
        from snowplow_s3_loader_spark.operators.profile import survival_curve

        df = spark.createDataFrame(
            [("a", 1.5, 1)], "g string, d double, e int"
        )
        with pytest.raises(Exception, match="non-negative integer"):
            survival_curve(df, "g", "d", "e").collect()

    def test_survival_integral_double_passes(self, spark):
        from snowplow_s3_loader_spark.operators.profile import survival_curve

        df = spark.createDataFrame(
            [("a", 2.0, 1), ("a", 3.0, 0)], "g string, d double, e int"
        )
        rows = survival_curve(df, "g", "d", "e").collect()
        assert [r["t"] for r in rows] == [2, 3]

    def test_calibration_fractional_score_raises(self, spark):
        from snowplow_s3_loader_spark.operators.profile import (
            calibration_bins,
        )

        df = spark.createDataFrame(
            [(500000.5, 1)], "p double, y int"
        )
        with pytest.raises(Exception, match="micro-unit"):
            calibration_bins(df, "p", "y", k=10).collect()

    def test_calibration_integral_double_passes(self, spark):
        from snowplow_s3_loader_spark.operators.profile import (
            calibration_bins,
        )

        df = spark.createDataFrame(
            [(500000.0, 1), (100000.0, 0)], "p double, y int"
        )
        out = {r["bin"]: r["n"] for r in
               calibration_bins(df, "p", "y", k=10).collect()}
        assert out[5] == 1 and out[1] == 1


def test_round12_operators_run_on_tables(spark, sf_dir):
    """The round-12 operators run end to end on the synthetic tables."""
    from snowplow_s3_loader_spark.operators.profile import (
        benford_profile,
        cuped_adjusted_means,
        isotonic_calibration,
        mutual_information,
    )
    from snowplow_s3_loader_spark.operators.timeseries import (
        cusum_changepoint,
        kleinberg_burst_intervals,
        kleinberg_bursts_multi,
    )
    from snowplow_s3_loader_spark.tables import load_table

    ev = load_table(spark, sf_dir, "events").where(F.col("user_id").isNotNull())
    keyed = ev.select(
        (F.col("user_id") % 5).alias("k"), "ts", "event_id",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    assert kleinberg_bursts_multi(keyed, "k", "ts", "event_id").count() == 5
    kleinberg_burst_intervals(keyed, "k", "ts", "event_id",
                              gamma_micro=300_000).count()
    assert cusum_changepoint(keyed, "k", ["ts", "event_id"],
                             "cents").count() == 5
    docs = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("g"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    assert benford_profile(docs, ["g"], "cents").count() == 45
    [r] = mutual_information(
        load_table(spark, sf_dir, "lineitem"), "l_returnflag", "l_linestatus"
    ).collect()
    assert r["mi_micro"] > 0
    cal = spark.createDataFrame(
        [(100_000, 0), (100_000, 1), (900_000, 1)], "p long, y int"
    )
    assert isotonic_calibration(cal, "p", "y").count() == 10
    ab = spark.createDataFrame(
        [("A", 1, 2), ("A", 2, 5), ("B", 1, 3), ("B", 3, 8)],
        "v string, x long, y long",
    )
    assert cuped_adjusted_means(ab, "v", "y", "x").count() == 2


class TestCuped:
    def _ref(self, units):
        """Pure-python CUPED mirror with the same integer+closing-double
        shape."""
        n = len(units)
        sx = sum(x for _, x, _ in units)
        sy = sum(y for _, _, y in units)
        sxy = sum(x * y for _, x, y in units)
        sxx = sum(x * x for _, x, _ in units)
        cov = n * sxy - sx * sy
        var = n * sxx - sx * sx
        out = {}
        for v in sorted({u[0] for u in units}):
            g = [(x, y) for vv, x, y in units if vv == v]
            ng, gx, gy = len(g), sum(x for x, _ in g), sum(y for _, y in g)
            adj = round(
                (gy / ng - (cov / var) * (gx / ng - sx / n)) * 1_000_000
            )
            out[v] = (ng, gy, gx, gy * 1_000_000 // ng, adj, cov, var)
        return out

    def test_matches_pure_python_reference(self, spark):
        from snowplow_s3_loader_spark.operators.profile import (
            cuped_adjusted_means,
        )

        units = [
            ("A" if i % 2 else "B",
             (i * 37) % 50,
             (i * 37) % 50 + (i * 13) % 9 + (3 if i % 2 else 0))
            for i in range(400)
        ]
        df = spark.createDataFrame(units, "v string, x long, y long")
        got = cuped_adjusted_means(df, "v", "y", "x").collect()
        ref = self._ref(units)
        for r in got:
            ng, gy, gx, mean, adj, cov, var = ref[r["variant"]]
            assert (
                r["n"], r["sum_y"], r["sum_x"], r["mean_y_micro"],
                r["adj_mean_micro"], r["cov_num"], r["var_x_num"],
            ) == (ng, gy, gx, mean, adj, cov, var)

    def test_cuped_removes_covariate_imbalance(self, spark):
        """Planted truth: zero real treatment effect, but variant A got
        unlucky with high-covariate users — the RAW means differ while
        the CUPED-adjusted means all but coincide."""
        from snowplow_s3_loader_spark.operators.profile import (
            cuped_adjusted_means,
        )

        units = []
        for i in range(600):
            x = (i * 7919) % 100
            y = 2 * x + (i * 13) % 7  # y driven by covariate, no effect
            v = "A" if x >= 50 else "B"  # imbalanced assignment
            units.append((v, x, y))
        df = spark.createDataFrame(units, "v string, x long, y long")
        rows = {r["variant"]: r for r in
                cuped_adjusted_means(df, "v", "y", "x").collect()}
        raw_gap = abs(rows["A"]["mean_y_micro"] - rows["B"]["mean_y_micro"])
        adj_gap = abs(
            rows["A"]["adj_mean_micro"] - rows["B"]["adj_mean_micro"]
        )
        assert raw_gap > 50_000_000  # ~100 units apart raw
        assert adj_gap < raw_gap / 20  # CUPED strips the imbalance

    def test_constant_covariate_yields_null_adjustment(self, spark):
        from snowplow_s3_loader_spark.operators.profile import (
            cuped_adjusted_means,
        )

        df = spark.createDataFrame(
            [("A", 5, 10), ("B", 5, 12)], "v string, x long, y long"
        )
        rows = cuped_adjusted_means(df, "v", "y", "x").collect()
        assert all(r["adj_mean_micro"] is None for r in rows)
        assert all(r["mean_y_micro"] is not None for r in rows)

    def test_null_inputs_raise(self, spark):
        from snowplow_s3_loader_spark.operators.profile import (
            cuped_adjusted_means,
        )

        df = spark.createDataFrame(
            [("A", None, 10)], "v string, x long, y long"
        )
        with pytest.raises(Exception, match="impute the"):
            cuped_adjusted_means(df, "v", "y", "x").collect()
