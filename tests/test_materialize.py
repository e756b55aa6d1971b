"""materialize: every private-API step of checkpoint_nostats has a public
fallback. Each case breaks one step and checks the fallback returns the
normal path's rows and count, warns once, and leaves releasable blocks."""

from __future__ import annotations

import warnings

import pytest

from snowplow_s3_loader_spark import materialize


def _broken(*_args, **_kwargs):
    raise RuntimeError("private API unavailable")


# case -> (seams to break, warning text of the fallback that must fire)
FALLBACKS = {
    "count_via_dataframe": (["_checkpoint_rdd"], "counting with a separate job"),
    "unpartitioned_rebase": (["_rebuild_logical_rdd"], "unpartitioned rebase"),
    "plain_local_checkpoint": (
        ["_rebuild_logical_rdd", "_rebase_unpartitioned"],
        "returning the plain localCheckpoint",
    ),
    "trust_claim_unverifiable": (["_final_partitioning"], "layout is UNCHECKED"),
}


def _ckpt_ids(spark) -> set[int]:
    lst = spark.sparkContext._jsc.sc().getPersistentRDDs().toList()
    return {
        lst.apply(i)._1()
        for i in range(lst.size())
        if "localCheckpoint" in lst.apply(i)._2().toString()
    }


def _run(df):
    """Trusted-layout checkpoint with its count, then the rows."""
    frame, n = materialize.checkpoint_nostats_counted(
        df, 4, ["k"], trust_partitioning=True
    )
    return frame, n, sorted(tuple(r) for r in frame.collect())


@pytest.mark.parametrize("case", sorted(FALLBACKS))
def test_private_api_fallback(spark, monkeypatch, case):
    seams, message = FALLBACKS[case]
    # the input already ends in the claimed layout, so every step of the
    # normal path engages, including the trust verification
    df = spark.range(3000).selectExpr("id % 17 as k", "id as v").repartition(4, "k")

    base, base_n, base_rows = _run(df)
    materialize.release_materialized(base)
    assert base_n == 3000 and len(base_rows) == 3000

    for seam in seams:
        monkeypatch.setattr(materialize, seam, _broken)
    monkeypatch.setattr(materialize, "_CKPT_FALLBACK_WARNED", set())
    before = _ckpt_ids(spark)
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        frames = []
        for _ in range(2):
            frame, n, rows = _run(df)
            frames.append(frame)
            assert (n, rows) == (base_n, base_rows)
    fired = [
        w for w in caught
        if issubclass(w.category, RuntimeWarning) and message in str(w.message)
    ]
    assert len(fired) == 1, [str(w.message) for w in caught]

    made = _ckpt_ids(spark) - before
    assert len(made) == 2, made
    for frame in frames:
        materialize.release_materialized(frame)
    assert not made & _ckpt_ids(spark)


def test_failing_job_propagates_without_fallback(spark, monkeypatch):
    """A job that fails while the checkpoint is counted is the caller's
    error, not private-API drift: it raises once and warns nothing."""
    monkeypatch.setattr(materialize, "_CKPT_FALLBACK_WARNED", set())
    df = spark.range(10).selectExpr(
        "if(id = 7, raise_error('bad row 7'), id) as k"
    )
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        with pytest.raises(Exception, match="bad row 7"):
            materialize.checkpoint_nostats(df)
    assert not [w for w in caught if issubclass(w.category, RuntimeWarning)]
