"""Unit tests for the deterministic-split, time-bucket/gap-fill, and
n-gram shingle operators (SURVEY.md SS7.8 extensions, round 2)."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from snowplow_s3_loader_spark.operators import dedup, sampling, timeseries


# ---- deterministic split ----


def test_split_thresholds_hex_bounds():
    t = sampling.split_thresholds({"train": 0.8, "val": 0.1, "test": 0.1})
    assert t == [("train", "cccc"), ("val", "e666"), ("test", "gggg")]
    assert sampling.split_thresholds({"all": 1.0}) == [("all", "gggg")]


def test_split_thresholds_validation():
    with pytest.raises(ValueError):
        sampling.split_thresholds({})
    with pytest.raises(ValueError):
        sampling.split_thresholds({"a": 0.0, "b": 1.0})


def test_deterministic_split_is_stable_and_order_independent(spark):
    df = spark.range(0, 2000).withColumnRenamed("id", "k")
    s1 = sampling.deterministic_split(df, "k", {"train": 0.8, "val": 0.1, "test": 0.1})
    # same ids land in the same split regardless of row order / partitioning
    s2 = sampling.deterministic_split(
        df.orderBy(F.desc("k")).repartition(7), "k",
        {"train": 0.8, "val": 0.1, "test": 0.1},
    )
    a = {r["k"]: r["split"] for r in s1.collect()}
    b = {r["k"]: r["split"] for r in s2.collect()}
    assert a == b
    # fractions land near the targets (md5 is uniform)
    n = len(a)
    counts = {name: sum(1 for v in a.values() if v == name) for name in ("train", "val", "test")}
    assert abs(counts["train"] / n - 0.8) < 0.04
    assert abs(counts["val"] / n - 0.1) < 0.03
    assert abs(counts["test"] / n - 0.1) < 0.03


# ---- time bucketing + gap fill ----


def _events(spark):
    rows = [
        ("a", dt.datetime(2026, 1, 1, 0, 15), 1.0),
        ("a", dt.datetime(2026, 1, 1, 0, 45), 2.0),
        # hour 1 empty for a
        ("a", dt.datetime(2026, 1, 1, 2, 5), 4.0),
        ("b", dt.datetime(2026, 1, 1, 5, 0), 10.0),
    ]
    return spark.createDataFrame(rows, "et string, ts timestamp, v double")


def test_bucket_rollup_counts(spark):
    rolled = timeseries.bucket_rollup(
        _events(spark), "ts", ["et"],
        [F.count("*").alias("n"), F.sum("v").alias("s")], unit="hour",
    )
    got = {(r["et"], r["bucket"].hour): (r["n"], r["s"]) for r in rolled.collect()}
    assert got == {("a", 0): (2, 3.0), ("a", 2): (1, 4.0), ("b", 5): (1, 10.0)}


def test_gap_fill_dense_spine_per_key(spark):
    rolled = timeseries.bucket_rollup(
        _events(spark), "ts", ["et"], [F.count("*").alias("n")], unit="hour"
    )
    filled = timeseries.gap_fill(
        rolled, ["et"], {"n": F.lit(0).cast("long")}, unit="hour"
    ).orderBy("et", "bucket")
    rows = [(r["et"], r["bucket"].hour, r["n"]) for r in filled.collect()]
    # a spans hours 0..2 with the empty hour zero-filled; b spans only hour 5
    assert rows == [("a", 0, 2), ("a", 1, 0), ("a", 2, 1), ("b", 5, 1)]


def test_time_bucket_rejects_unknown_unit():
    with pytest.raises(ValueError):
        timeseries.time_bucket(F.col("x"), "fortnight")


# ---- n-gram shingles ----


def test_char_ngrams_normalization(spark):
    df = spark.createDataFrame([("A  b\tC",), ("ab",), ("hello",)], "t string")
    got = [r["g"] for r in df.select(dedup.char_ngrams(F.col("t"), 3).alias("g")).collect()]
    assert got[0] == ["a b", " b ", "b c"]  # lowercased, whitespace collapsed
    assert got[1] == ["ab"]  # shorter than n -> whole text
    assert got[2] == ["hel", "ell", "llo"]


def test_word_ngrams_shingling(spark):
    df = spark.createDataFrame([("the quick brown fox",), ("one two",)], "t string")
    got = [r["g"] for r in df.select(dedup.word_ngrams(F.col("t"), 3).alias("g")).collect()]
    assert got[0] == ["the quick brown", "quick brown fox"]
    assert got[1] == ["one two"]  # fewer than n tokens -> whole sequence


def test_jaccard_with_custom_tokens_expr(spark):
    df = spark.createDataFrame(
        [(1, "abcdef", "x"), (2, "abcdeg", "x"), (3, "zzzzzz", "x")],
        "id long, text string, blk string",
    )
    pairs = dedup.token_jaccard_pairs(
        df, "id", "text", ["blk"], threshold=0.3,
        tokens_expr=dedup.char_ngrams(F.col("text"), 3),
    ).collect()
    got = {(r["id_a"], r["id_b"]): r["jaccard"] for r in pairs}
    # abcdef/abcdeg share 3 of 5 distinct shingles -> J = 3/5
    assert got == {(1, 2): 0.6}


# ---- multimodal fake-decode pipeline ----


def test_fake_decode_and_downsample_shapes():
    import numpy as np

    from snowplow_s3_loader_spark.operators import multimodal

    img = multimodal.fake_decode_image(b"payload", 16, 16, 3)
    assert img.shape == (16, 16, 3) and img.dtype == np.uint8
    # deterministic
    again = multimodal.fake_decode_image(b"payload", 16, 16, 3)
    assert (img == again).all()
    assert not (img == multimodal.fake_decode_image(b"other", 16, 16, 3)).all()


def test_image_channel_stats_batch_pipeline(spark):
    from snowplow_s3_loader_spark.operators import multimodal

    df = spark.createDataFrame(
        [(1, b"img-a"), (2, b"img-b"), (3, b"img-a")], "media_id long, payload binary"
    )
    media = multimodal.to_media(df, "media_id", "payload", "image/fake")
    got = {r["media_id"]: r for r in multimodal.image_channel_stats(media).collect()}
    assert set(got) == {1, 2, 3}
    assert got[1]["ds_height"] == 8 and got[1]["ds_width"] == 8
    # same payload -> same stats; different payload -> different
    assert got[1]["mean_r"] == got[3]["mean_r"]
    assert got[1]["mean_r"] != got[2]["mean_r"] or got[1]["mean_g"] != got[2]["mean_g"]


# ---- stratified sampling + sequence packing ----


def test_stratified_sample_rates_and_determinism(spark):
    rows = [(i, "en" if i % 2 == 0 else ("de" if i % 4 == 1 else "fr")) for i in range(4000)]
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    kept = sampling.stratified_sample(
        df, "doc_id", "lang", {"en": 0.5, "de": 1.0, "fr": 0.1}
    )
    got = {r["lang"]: r["n"] for r in kept.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    n_en = sum(1 for _, l in rows if l == "en")
    n_de = sum(1 for _, l in rows if l == "de")
    n_fr = sum(1 for _, l in rows if l == "fr")
    assert abs(got["en"] / n_en - 0.5) < 0.05
    assert got["de"] == n_de  # fraction 1.0 keeps everything
    assert abs(got["fr"] / n_fr - 0.1) < 0.05
    # deterministic under reordering/repartition
    again = sampling.stratified_sample(
        df.orderBy(F.desc("doc_id")).repartition(5), "doc_id", "lang",
        {"en": 0.5, "de": 1.0, "fr": 0.1},
    )
    assert sorted(r["doc_id"] for r in kept.collect()) == sorted(
        r["doc_id"] for r in again.collect()
    )


def test_pack_sequences_concat_and_chunk(spark):
    from snowplow_s3_loader_spark.operators import text as text_ops

    rows = [(1, "a", 1000), (2, "a", 1000), (3, "a", 500), (4, "a", 700), (5, "b", 3000)]
    df = spark.createDataFrame(rows, "doc_id long, g string, n int")
    packed = text_ops.pack_sequences(df, ["doc_id"], F.col("n"), budget=2048, group_cols=["g"])
    got = {r["doc_id"]: (r["pack_id"], r["pack_offset"]) for r in packed.collect()}
    # stream a: offsets 0,1000,2000,2500 -> packs 0,0,0,1(offset 452)
    assert got[1] == (0, 0)
    assert got[2] == (0, 1000)
    assert got[3] == (0, 2000)  # starts inside pack 0 even though it spills
    assert got[4] == (1, 452)  # 2500 % 2048
    # stream b independent
    assert got[5] == (0, 0)


def test_image_channel_stats_decoder_seam(spark):
    """VERDICT r2 item 10: a deployment swaps in a real decoder without
    touching the operator — inject a stub and verify it is what runs."""
    import numpy as np

    from snowplow_s3_loader_spark.operators.multimodal import image_channel_stats

    media = spark.createDataFrame(
        [(1, b"\x01\x02"), (2, b"\x03\x04")], "media_id long, payload binary"
    )

    def all_gray(payload, width, height):
        return np.full((height, width, 3), 128, dtype=np.uint8)

    rows = image_channel_stats(
        media, width=8, height=8, factor=2, decoder=all_gray
    ).collect()
    assert len(rows) == 2
    assert all(r["mean_r"] == "128.0000" for r in rows)
    assert all(r["ds_height"] == 4 and r["ds_width"] == 4 for r in rows)


def test_temperature_resample_flattens_distribution(spark):
    from snowplow_s3_loader_spark.operators.sampling import temperature_resample

    # heavily imbalanced classes: 'big' 900 rows, 'small' 100 rows
    df = spark.range(1000).select(
        F.col("id"),
        F.when(F.col("id") < 900, "big").otherwise("small").alias("cls"),
    )
    kept = temperature_resample(df, "id", "cls", alpha=0.5, target_frac=0.4)
    counts = {r["cls"]: r["n"] for r in kept.groupBy("cls").agg(F.count("*").alias("n")).collect()}
    # natural shares 0.9/0.1 -> alpha=0.5 shares 0.75/0.25: the small
    # class's sampled fraction-of-class must exceed the big class's
    assert counts["small"] / 100 > counts["big"] / 900
    # and the overall kept volume lands near target (md5 thresholds are
    # uniform; clamping may pull it under)
    assert 0.25 <= (counts["big"] + counts["small"]) / 1000 <= 0.45


def test_temperature_resample_alpha_one_is_uniform_rate(spark):
    from snowplow_s3_loader_spark.operators.sampling import temperature_resample

    df = spark.range(1000).select(
        F.col("id"),
        F.when(F.col("id") % 3 == 0, "a").otherwise("b").alias("cls"),
    )
    kept = temperature_resample(df, "id", "cls", alpha=1.0, target_frac=0.5)
    # alpha=1: every class's keep fraction IS target_frac, so the kept set
    # is exactly {id : md5-hex-fraction(id) < 0.5} — computable by hand
    import hashlib

    expected = sorted(
        i
        for i in range(1000)
        if int(hashlib.md5(str(i).encode()).hexdigest()[:4], 16) / 65536.0 < 0.5
    )
    assert sorted(r["id"] for r in kept.collect()) == expected


def test_temperature_resample_deterministic(spark):
    from snowplow_s3_loader_spark.operators.sampling import temperature_resample

    df = spark.range(500).select(
        F.col("id"), (F.col("id") % 4).cast("string").alias("cls")
    )
    a = sorted(r["id"] for r in temperature_resample(df, "id", "cls").collect())
    b = sorted(
        r["id"]
        for r in temperature_resample(df.repartition(13), "id", "cls").collect()
    )
    assert a == b  # partitioning-independent selection


def test_chunk_documents_edges(spark):
    # short doc (1 chunk), exact-window doc, one-past-window (2 chunks:
    # full + overlap-tail), and a long doc: every token covered, overlap
    # tokens repeated across adjacent chunks, chunk_ids dense from 0
    from snowplow_s3_loader_spark.operators.text import chunk_documents

    docs = spark.createDataFrame(
        [
            (1, "a b c"),                                  # 3 tokens < window
            (2, " ".join(f"t{i}" for i in range(8))),      # == window
            (3, " ".join(f"u{i}" for i in range(9))),      # window + 1
            (4, " ".join(f"v{i}" for i in range(20))),     # several chunks
        ],
        "doc_id long, text string",
    )
    out = chunk_documents(docs, "doc_id", "text", window=8, overlap=2).collect()
    by_doc: dict = {}
    for r in out:
        by_doc.setdefault(r["id"], []).append(r)
    for rows in by_doc.values():
        rows.sort(key=lambda r: r["chunk_id"])
        assert [r["chunk_id"] for r in rows] == list(range(len(rows)))
    assert len(by_doc[1]) == 1 and by_doc[1][0]["chunk_text"] == "a b c"
    assert len(by_doc[2]) == 1 and by_doc[2][0]["n_chunk_tokens"] == 8
    # 9 tokens, stride 6: chunks at 0 (8 toks) and 6 (3 toks)
    assert [(r["start_token"], r["n_chunk_tokens"]) for r in by_doc[3]] == [
        (0, 8), (6, 3),
    ]
    # 20 tokens, stride 6: ceil((20-8)/6)=2 extra starts -> 0,6,12; the
    # last chunk (12..19) already covers the tail, no 4th chunk
    assert [(r["start_token"], r["n_chunk_tokens"]) for r in by_doc[4]] == [
        (0, 8), (6, 8), (12, 8),
    ]
    # overlap: chunk c's last `overlap` tokens == chunk c+1's first ones
    # (when c+1 is full-width from the same stream)
    c0, c1 = by_doc[4][0], by_doc[4][1]
    assert c0["chunk_text"].split()[6:] == c1["chunk_text"].split()[:2]
    # every token of doc 4 appears in at least one chunk
    seen = {t for r in by_doc[4] for t in r["chunk_text"].split()}
    assert seen == {f"v{i}" for i in range(20)}


def test_leakage_safe_split_exact_dups_co_assign(spark):
    """Rows sharing a content digest must land in the SAME split no matter
    their ids; an id-keyed split demonstrably leaks the same corpus."""
    from pyspark.sql import functions as F

    from snowplow_s3_loader_spark.operators.sampling import (
        deterministic_split,
        leakage_safe_split,
    )

    # 60 distinct texts, each duplicated under 5 scattered ids
    rows = [
        (g * 1000 + i * 7, f"document body number {g}")
        for g in range(60)
        for i in range(5)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = leakage_safe_split(
        docs, F.md5(F.col("text")), {"train": 0.8, "val": 0.1, "test": 0.1}
    )
    per_group = (
        out.groupBy("text")
        .agg(F.countDistinct("split").alias("n_splits"))
        .collect()
    )
    assert all(r["n_splits"] == 1 for r in per_group)
    # control: the id-keyed split DOES scatter at least one dup group
    ctl = deterministic_split(docs, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1})
    scattered = (
        ctl.groupBy("text").agg(F.countDistinct("split").alias("n_splits"))
        .where(F.col("n_splits") > 1)
        .count()
    )
    assert scattered > 0


def test_leakage_safe_split_cluster_keyed_near_dups(spark):
    """Near-dup variant: key on the connected-component id from the dedup
    pair graph (fallback to own id for unclustered rows) — every cluster
    co-assigns, singletons still split by their own key."""
    from pyspark.sql import functions as F

    from snowplow_s3_loader_spark.operators.graph import connected_components
    from snowplow_s3_loader_spark.operators.sampling import leakage_safe_split

    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(40)], "doc_id long, text string"
    )
    # clusters {0..3}, {10..12}; rest singletons
    pairs = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (10, 11), (11, 12)], "id_a long, id_b long"
    )
    comps = connected_components(pairs)
    keyed = docs.join(
        comps.select(F.col("node").alias("doc_id"), "component"), "doc_id", "left"
    )
    out = leakage_safe_split(
        keyed,
        F.coalesce("component", F.col("doc_id")),
        {"train": 0.5, "test": 0.5},
    )
    got = {r["doc_id"]: r["split"] for r in out.collect()}
    assert len({got[i] for i in (0, 1, 2, 3)}) == 1
    assert len({got[i] for i in (10, 11, 12)}) == 1
    assert len(got) == 40


def test_group_reservoir_deterministic_and_capped(spark):
    """Per-group cap holds, the selected SET is row-order/partitioning
    independent, and groups under the cap keep everything."""
    from pyspark.sql import functions as F

    from snowplow_s3_loader_spark.operators.sampling import group_reservoir

    rows = [(i, "big" if i % 3 else "small") for i in range(300)]
    df = spark.createDataFrame(rows, "id long, grp string")
    small_n = sum(1 for _, g in rows if g == "small")
    out1 = group_reservoir(df, "grp", "id", 25)
    got1 = {(r["grp"], r["id"]) for r in out1.collect()}
    sizes = {}
    for g, _ in ((r["grp"], r) for r in out1.collect()):
        sizes[g] = sizes.get(g, 0) + 1
    assert sizes["big"] == 25
    assert sizes["small"] == min(25, small_n)
    # re-partitioned + reversed input selects the SAME set
    out2 = group_reservoir(
        df.orderBy(F.desc("id")).repartition(7), "grp", "id", 25
    )
    got2 = {(r["grp"], r["id"]) for r in out2.collect()}
    assert got1 == got2


def test_token_budget_mixture_semantics(spark, sf_dir):
    """Kept token mass per source lands near weight*budget (md5-threshold
    sampling is only statistically proportional), unweighted sources are
    dropped, rates clamp at 1 (a source smaller than its allocation is
    kept whole), and selection is deterministic."""
    from pyspark.sql import functions as F

    from snowplow_s3_loader_spark.operators.sampling import token_budget_mixture
    from snowplow_s3_loader_spark.operators.text import token_count
    from snowplow_s3_loader_spark.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    ntok = token_count(F.col("text"))
    avail = {
        r["source"]: r["t"]
        for r in docs.groupBy("source").agg(F.sum(ntok).alias("t")).collect()
    }
    weights = {"src0": 0.6, "src1": 0.4, "src2": 5.0}  # src2: clamp to rate 1
    budget = max(1, sum(avail.values()) // 4)
    kept = token_budget_mixture(docs, "doc_id", "source", ntok, weights, budget)
    got = {
        r["source"]: (r["n"], r["t"])
        for r in kept.groupBy("source")
        .agg(F.count("*").alias("n"), F.sum(ntok).alias("t"))
        .collect()
    }
    assert set(got) <= set(weights)  # unweighted sources dropped
    # clamped source kept whole
    assert got["src2"][1] == avail["src2"]
    # weighted sources land within a loose statistical band of the target
    for s in ("src0", "src1"):
        target = weights[s] * budget
        if s in got:
            assert got[s][1] <= avail[s]
            assert abs(got[s][1] - target) <= max(0.75 * target, 200)
    # deterministic: identical second run
    kept2 = token_budget_mixture(docs, "doc_id", "source", ntok, weights, budget)
    ids = lambda df: sorted(r["doc_id"] for r in df.select("doc_id").collect())
    assert ids(kept) == ids(kept2)


def test_robust_outliers_matches_numpy(spark, sf_dir):
    import numpy as np
    from pyspark.sql import functions as F

    from snowplow_s3_loader_spark.operators.timeseries import robust_outliers
    from snowplow_s3_loader_spark.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    got = {r["event_type"]: r for r in robust_outliers(ev, ["event_type"], "value").collect()}
    vals: dict = {}
    for r in ev.select("event_type", "value").collect():
        vals.setdefault(r["event_type"], []).append(r["value"])
    for et, xs in vals.items():
        x = np.array(xs)
        med = float(np.median(x))
        mad = float(np.median(np.abs(x - med)))
        n_out = int((np.abs(x - med) > 3.5 * 1.4826 * mad).sum())
        g = got[et]
        assert g["n"] == len(xs)
        assert abs(g["med"] - med) < 1e-6 and abs(g["mad"] - mad) < 1e-6
        assert g["n_outliers"] == n_out, (et, g["n_outliers"], n_out)
