"""The declared query contract, Spark side (SURVEY.md SS2.4 + training-data
extensions SS7.8). Every query is deterministic — explicit ORDER BY, rounded
float aggregates, unique-key tie-breaks — so the DuckDB oracle hash-matches.

Scale discipline applied throughout: filters before joins, broadcast hints on
dimension sides, single-shuffle aggregations, window partitioning on the
natural key; no collect()-driven logic except the loader roundtrip's driver
coordination (which mirrors the reference's per-batch flush, O6/O10).
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from snowplow_s3_loader_spark.functions.paths import partition_path
from snowplow_s3_loader_spark.operators import dedup, multimodal, ranking, similarity, text
from snowplow_s3_loader_spark.operators.parse import PURPOSE_ENRICHED, PURPOSE_SDJ, classify
from snowplow_s3_loader_spark.plans import synthesize
from snowplow_s3_loader_spark.tables import load_table

# --------------------------------------------------------------------------
# relational core (Q1-Q13 of SURVEY.md SS2.4)
# --------------------------------------------------------------------------


def q01_scan_filter_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scan + pushed filter + pruned projection (SS2.4 Q1)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp_ntz"))
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
        .orderBy("l_orderkey", "l_linenumber")
    )


def q02_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 pricing summary: partial+final hash agg (SS2.4 Q2)."""
    li = load_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp_ntz"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
            F.round(F.sum(charge), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def q03_broadcast_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """nation x region on regionkey; region is tiny -> broadcast (SS2.4 Q3)."""
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    return (
        nation.join(
            F.broadcast(region), nation["n_regionkey"] == region["r_regionkey"], "inner"
        )
        .select("r_name", "n_name")
        .orderBy("r_name", "n_name")
    )


def q04_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 variant: 3-way join + agg + deterministic top-10 (SS2.4 Q4)."""
    cust = load_table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp_ntz")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1997-01-01").cast("timestamp_ntz")
    )
    joined = li.join(orders, li["l_orderkey"] == orders["o_orderkey"]).join(
        F.broadcast(cust), orders["o_custkey"] == cust["c_custkey"]
    )
    return (
        joined.groupBy("o_orderkey", "o_orderdate")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            )
        )
        .select("o_orderkey", F.col("o_orderdate").cast("date").alias("o_orderdate"), "revenue")
        .orderBy(F.desc("revenue"), F.asc("o_orderkey"))
        .limit(10)
    )


def q05_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers WITH at least one order > 100k (left semi, SS2.4 Q5)."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 100_000)
    return (
        cust.join(orders, cust["c_custkey"] == orders["o_custkey"], "left_semi")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    )


def q06_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers WITHOUT any 'P'-status order (left anti, SS2.4 Q5)."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "P")
    return (
        cust.join(orders, cust["c_custkey"] == orders["o_custkey"], "left_anti")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    )


def q07_window_topn_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders per customer by totalprice: ranking window (SS2.4 Q6)."""
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        orders.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select(
            "o_custkey",
            "o_orderkey",
            F.round("o_totalprice", 2).alias("o_totalprice"),
            "rn",
        )
        .orderBy("o_custkey", "rn")
    )


def q08_running_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running revenue per supplier by shipdate: analytic window (SS2.4 Q7).

    Accumulation order is pinned by (shipdate, orderkey, linenumber,
    rev_cents): the synthetic lineitem has DUPLICATE (orderkey,
    linenumber) rows (118k at sf0.1), so the first three columns alone
    are NOT a total order — both engines then break the tie by scan
    order and usually agree (stable sorts), but Spark's partition merge
    occasionally swaps tied rows and one intermediate running sum
    flips (caught by the round-6 cross-SF sweep: 84 same-shipdate
    differing-cents tie groups at sf0.1). Adding the cent value itself
    as the final key makes any REMAINING tie sum-neutral: equal
    addends commute, so every prefix sum is order-independent.
    """
    li = load_table(spark, sf_dir, "lineitem")
    rev_cents = F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100).cast("long")
    w = (
        Window.partitionBy("l_suppkey")
        .orderBy("l_shipdate", "l_orderkey", "l_linenumber", rev_cents)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        li.select(
            "l_suppkey",
            "l_orderkey",
            "l_linenumber",
            (F.sum(rev_cents).over(w) / F.lit(100.0)).alias("running_revenue"),
        )
        .orderBy("l_suppkey", "l_orderkey", "l_linenumber")
    )


def q09_rollup_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue rollup over (returnflag, linestatus) (SS2.4 Q8)."""
    li = load_table(spark, sf_dir, "lineitem")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(F.round(F.sum(rev), 2).alias("revenue"), F.count("*").alias("n"))
        .orderBy(
            F.asc_nulls_first("l_returnflag"), F.asc_nulls_first("l_linestatus")
        )
    )


def q10_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct aggregation (SS2.4 Q9)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.agg(
        F.count_distinct("l_orderkey").alias("distinct_orders"),
        F.count("*").alias("total_rows"),
    )


def q11_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """union / intersect / except over order-key sets (SS2.4 Q10)."""
    orders = load_table(spark, sf_dir, "orders")
    urgent = orders.filter(F.col("o_orderpriority") == "1-URGENT").select("o_orderkey")
    fulfilled = orders.filter(F.col("o_orderstatus") == "F").select("o_orderkey")
    tagged = (
        urgent.union(fulfilled).distinct().select(F.lit("union").alias("op"), "o_orderkey")
        .union(
            urgent.intersect(fulfilled).select(F.lit("intersect").alias("op"), "o_orderkey")
        )
        .union(urgent.subtract(fulfilled).select(F.lit("except").alias("op"), "o_orderkey"))
    )
    return tagged.orderBy("op", "o_orderkey")


def q12_scalar_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String/date/math scalar battery (SS2.4 Q11)."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.select(
            "o_orderkey",
            F.upper(F.substring("o_orderpriority", 3, 6)).alias("pri_word"),
            F.concat(F.col("o_orderstatus"), F.lit("-"), F.col("o_orderpriority")).alias("tag"),
            F.year("o_orderdate").alias("yr"),
            F.month("o_orderdate").alias("mo"),
            F.datediff(F.col("o_orderdate").cast("date"), F.lit("1995-01-01").cast("date")).alias(
                "days_since"
            ),
            # x0.2 (not x0.1): cents x 2 never ends in 5 at the 3rd decimal,
            # so the 2-decimal round never sits on a .xx5 boundary where
            # Spark (shortest-repr HALF_UP) and DuckDB (binary) disagree
            F.round(F.col("o_totalprice") * 0.2, 2).alias("price_fifth"),
            F.round(F.abs(F.col("o_totalprice") - 100_000.0), 2).alias("price_dev"),
            F.length("o_orderpriority").alias("pri_len"),
            F.replace(F.col("o_orderpriority"), F.lit("-"), F.lit("_")).alias("pri_sub"),
            F.col("o_orderpriority").like("1-%").alias("is_urgent"),
        )
        .orderBy("o_orderkey")
    )


def q13_topk_recent_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 most recent events per type (SS2.4 Q12)."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy(F.desc("ts"), F.asc("event_id"))
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 10)
        .select("event_type", "event_id", "ts", "rn")
        .orderBy("event_type", "rn")
    )


def q14_dedup_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic first-per-key dedup + per-type aggregate (SS2.4 Q13)."""
    ev = load_table(spark, sf_dir, "events")
    first = dedup.exact_dedup(ev, ["user_id", "event_type"], ["ts", "event_id"])
    return (
        first.groupBy("event_type")
        .agg(F.count("*").alias("n_unique_pairs"), F.round(F.sum("value"), 2).alias("total_value"))
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# loader-path queries (SS2.4 Q14-Q20): reference parse semantics over
# synthesized SDJ / enriched lines
# --------------------------------------------------------------------------


def q15_sdj_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SDJ classify (O3): iglu key extraction + grouping (SS2.4 Q14)."""
    lines = synthesize.sdj_lines(load_table(spark, sf_dir, "events"))
    classified = classify(lines, PURPOSE_SDJ)
    return (
        classified.filter(F.col("bad_message").isNull())
        .groupBy(
            F.col("schema_key.vendor").alias("vendor"),
            F.col("schema_key.name").alias("name"),
            F.col("schema_key.addition").alias("addition"),
        )
        .agg(F.count("*").alias("n"))
        .orderBy("vendor", "name", "addition")
    )


def q16_bad_row_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bad-row routing: failure-message histogram (SS2.4 Q16 / O3)."""
    lines = synthesize.sdj_lines(load_table(spark, sf_dir, "events"))
    classified = classify(lines, PURPOSE_SDJ)
    return (
        classified.filter(F.col("bad_message").isNotNull())
        .groupBy("bad_message")
        .agg(F.count("*").alias("n"))
        .orderBy("bad_message")
    )


def q17_size_violation_trim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Size-cap rule of BadRowsSerializer.scala:24-44: rows >= max become
    SizeViolation with payload trimmed to max/10 chars (SS2.4 Q16)."""
    docs = load_table(spark, sf_dir, "documents")
    max_size = 300
    oversize = F.octet_length("text") >= max_size
    return docs.select(
        "doc_id",
        F.when(oversize, F.lit("SizeViolation")).otherwise(F.lit("GenericError")).alias("kind"),
        F.when(oversize, F.substring("text", 1, max_size // 10)).otherwise(F.col("text")).alias(
            "payload_out"
        ),
    ).orderBy("doc_id")


def q18_enriched_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Enriched classify (O2): TSV idx-3 timestamp, min/max per day (SS2.4 Q15)."""
    lines = synthesize.enriched_lines(load_table(spark, sf_dir, "events"))
    classified = classify(lines, PURPOSE_ENRICHED)
    return (
        classified.groupBy(F.to_date("collector_tstamp").alias("day"))
        .agg(
            F.min(F.col("collector_tstamp").cast("timestamp_ntz")).alias("min_ts"),
            F.max(F.col("collector_tstamp").cast("timestamp_ntz")).alias("max_ts"),
            F.count("*").alias("n"),
        )
        .orderBy("day")
    )


def q19_partition_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic-path templating per event (O8) vectorized (SS2.4 Q17)."""
    lines = synthesize.sdj_lines(load_table(spark, sf_dir, "events"))
    classified = classify(lines, PURPOSE_SDJ).filter(F.col("bad_message").isNull())
    path = partition_path(
        "{vendor}.{schema}/model={model}/date={yyyy}-{MM}-{dd}",
        F.col("schema_key"),
        F.col("ts"),
    )
    return (
        classified.select(path.alias("path"))
        .groupBy("path")
        .agg(F.count("*").alias("n"))
        .orderBy("path")
    )


def q20_batch_group_bytes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch grouping by schema key + byte accounting (O5/O6 size check,
    Processing.scala:249) (SS2.4 Q18)."""
    lines = synthesize.sdj_lines(load_table(spark, sf_dir, "events"))
    classified = classify(lines, PURPOSE_SDJ).filter(F.col("bad_message").isNull())
    return (
        classified.groupBy(F.col("schema_uri"))
        .agg(
            F.count("*").alias("n"),
            F.sum(F.octet_length("value")).alias("total_bytes"),
        )
        .orderBy("schema_uri")
    )


def q21_latency_metric(spark: SparkSession, sf_dir: str) -> DataFrame:
    """e2e-latency metric semantics (O11): earliest event per hour vs a fixed
    'now' (SS2.4 Q19)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.date_trunc("hour", "ts").cast("timestamp_ntz").alias("hour"))
        .agg(F.min("ts").alias("min_ts"), F.count("*").alias("n"))
        .select(
            "hour",
            "min_ts",
            F.expr(
                "timestampdiff(SECOND, min_ts, TIMESTAMP_NTZ '2024-02-01 00:00:00')"
            ).alias("latency_sec"),
            "n",
        )
        .orderBy("hour")
    )


def q22_loader_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end loader slice (O5-O10, SS2.4 Q20): classify -> partitioned
    gzip text files on disk -> re-read -> counts per partition path.

    Single partitioned write job (no per-partition driver loop), gzip codec
    on the text sink exactly as the production pipeline writes.
    """
    lines = synthesize.sdj_lines(load_table(spark, sf_dir, "events"))
    classified = classify(lines, PURPOSE_SDJ).filter(F.col("bad_message").isNull())
    path = partition_path(
        "{vendor}.{schema}/model={model}/date={yyyy}-{MM}-{dd}",
        F.col("schema_key"),
        F.col("ts"),
    )
    staged = classified.select(
        F.col("value"), F.regexp_replace(path, "/", "~").alias("pp")
    )
    # fixed per-sf dir + overwrite: repeated driver runs don't accumulate
    # temp dirs; files must outlive this call (the read-back is lazy)
    sf_tag = os.path.basename(sf_dir.rstrip("/")) or "sf"
    out_dir = os.path.join(tempfile.gettempdir(), f"snowplow_q22_{sf_tag}")
    (
        staged.repartition("pp")
        .write.partitionBy("pp")
        .option("compression", "gzip")
        .mode("overwrite")
        .text(out_dir)
    )
    back = spark.read.option("basePath", out_dir).text(out_dir)
    return (
        back.groupBy(F.regexp_replace(F.col("pp"), "~", "/").alias("path"))
        .agg(F.count("*").alias("n"))
        .orderBy("path")
    )


# --------------------------------------------------------------------------
# training-data pipeline extensions (SURVEY.md SS7.8)
# --------------------------------------------------------------------------


def q23_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact (digest) dedup summary over documents."""
    return dedup.exact_dedup_stats(load_table(spark, sf_dir, "documents"))


def q24_token_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact token-set Jaccard near-dup pairs, lang-blocked, 10% sample."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") % 10 == 0)
    return dedup.token_jaccard_pairs(docs, "doc_id", "text", ["lang"], threshold=0.5).orderBy(
        "id_a", "id_b"
    )


def q25_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH candidate pairs (16 hashes, 4 bands), 10% sample."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") % 10 == 0)
    bands = dedup.minhash_bands(docs, "doc_id", "text", n_hashes=16, band_size=4)
    return dedup.lsh_candidate_pairs(bands).orderBy("id_a", "id_b")


def q26_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """60-bit SimHash fingerprints, 10% sample."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") % 10 == 0)
    return dedup.simhash60(docs, "doc_id", "text").orderBy("id")


def q27_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-5 neighbors for sampled query vectors."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.brute_force_topk(emb, F.col("vec_id") % 100 == 0, k=5).orderBy(
        "query_id", "rank"
    )


def q28_ann_srp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SRP-LSH bucketed approximate top-5 (scale path). Approximate w.r.t.
    exhaustive search but DETERMINISTIC given its hyperplanes — the oracle
    embeds the same literal planes, so this is hash-checked after all."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.ann_topk_srp(emb, F.col("vec_id") % 100 == 0, k=5, n_planes=8).orderBy(
        "query_id", "rank"
    )


def q29_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic language-ID confusion counts vs the labeled lang."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select("lang", text.predicted_lang(F.col("text")).alias("pred_lang"))
        .groupBy("lang", "pred_lang")
        .agg(F.count("*").alias("n"))
        .orderBy("lang", "pred_lang")
    )


def q30_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document quality metrics (token stats, punct, stopwords, score)."""
    docs = load_table(spark, sf_dir, "documents")
    t = F.col("text")
    return docs.select(
        "doc_id",
        text.token_count(t).alias("n_tokens"),
        F.round(text.avg_token_length(t), 6).alias("avg_token_len"),
        F.round(text.punct_ratio(t), 6).alias("punct_ratio"),
        F.round(text.stopword_ratio(t), 6).alias("stopword_ratio"),
        F.round(text.quality_score(t), 6).alias("quality"),
    ).orderBy("doc_id")


def q31_token_corpus_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus token statistics per language: one exploded aggregation."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("lang", "doc_id", F.explode(text.tokens(F.col("text"))).alias("tok"))
    return (
        tok.groupBy("lang")
        .agg(
            F.count_distinct("doc_id").alias("n_docs"),
            F.count("*").alias("total_tokens"),
            F.count_distinct("tok").alias("distinct_tokens"),
        )
        .orderBy("lang")
    )


def q32_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprint (normalized md5) stats per source."""
    docs = load_table(spark, sf_dir, "documents")
    fp = text.fingerprint(F.col("text"))
    return (
        docs.select("source", fp.alias("fp"))
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.count_distinct("fp").alias("n_unique_fp"),
            F.min("fp").alias("min_fp"),
        )
        .orderBy("source")
    )


def q33_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Opaque-binary feature extraction via mapInPandas (Arrow batches)."""
    docs = load_table(spark, sf_dir, "documents")
    media = multimodal.to_media(docs, "doc_id", "text", "text/plain")
    return multimodal.extract_features(media).orderBy("media_id")


def q34_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk/frame sampling plumbing over binary payloads (JVM-side)."""
    docs = load_table(spark, sf_dir, "documents")
    media = multimodal.to_media(docs, "doc_id", "text", "text/plain")
    sampled = multimodal.frame_sample(media, every_n_chunks=4)
    return sampled.select(
        "media_id", "chunk_idx", F.octet_length("chunk").alias("chunk_bytes")
    ).orderBy("media_id", "chunk_idx")


# --------------------------------------------------------------------------
# extended relational surface: multi-dim aggs, sessionization, range/as-of
# joins (SS2.3 rows the reference lacks entirely, exposed engine-side)
# --------------------------------------------------------------------------


def q35_cube_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (returnflag, linestatus)."""
    li = load_table(spark, sf_dir, "lineitem")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(F.round(F.sum(rev), 2).alias("revenue"), F.count("*").alias("n"))
        .orderBy(F.asc_nulls_first("l_returnflag"), F.asc_nulls_first("l_linestatus"))
    )


def q36_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS via the SQL surface."""
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("gs_lineitem")
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
               count(*) AS n
        FROM gs_lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST
        """
    )


def q37_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog approx distinct, oracle-checkable as an error-bound
    invariant (VERDICT r4 item 1): the raw sketch value is engine-specific,
    so the emitted row carries the EXACT distinct count plus a boolean
    `hll_within_error` = |approx - exact| / exact <= 0.05. Spark's HLL++ is
    deterministic for a fixed input and rsd (measured rel_err <= 0.0041 at
    sf0.001/0.01/0.1 against a 5% bound = 2.5x the rsd), so the DuckDB
    oracle computes the exact count and a literal 1 and the row
    hash-matches. Exact twin is q10."""
    li = load_table(spark, sf_dir, "lineitem")
    # compute exact and approx in SEPARATE 1-row branches: mixing
    # count_distinct with approx_count_distinct in one agg makes Catalyst
    # rewrite to a per-key aggregate that drags the full HLL register
    # array (410 longs) per l_orderkey group through the shuffle — 47 MiB
    # at sf0.01, ~0.5 GB at sf0.1, unbounded at 100 TB. Split, each branch
    # is a plain partial+final agg; the join is 1 row x 1 row.
    exact = li.agg(
        F.count_distinct("l_orderkey").alias("exact_orders"),
        F.count("*").alias("total_rows"),
    )
    approx = li.agg(F.approx_count_distinct("l_orderkey", rsd=0.02).alias("approx"))
    return exact.crossJoin(approx).select(
        "exact_orders",
        "total_rows",
        (F.abs(F.col("approx") - F.col("exact_orders")) / F.col("exact_orders") <= F.lit(0.05))
        .cast("int")
        .alias("hll_within_error"),
    )


def q38_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min inactivity) via window functions —
    the batch twin of streaming session_window."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wrun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    gap_break = F.col("prev_ts").isNull() | (
        F.expr("timestampdiff(MICROSECOND, prev_ts, ts)") > 1_800_000_000
    )
    with_sessions = (
        ev.withColumn("prev_ts", F.lag("ts").over(w))
        .withColumn("is_new", gap_break.cast("int"))
        .withColumn("session_id", F.sum("is_new").over(wrun))
    )
    return (
        with_sessions.groupBy("user_id", "session_id")
        .agg(
            F.count("*").alias("n_events"),
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
        )
        .orderBy("user_id", "session_id")
    )


def q39_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi + range join: lineitems shipped within 90 days of order date."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    cond = (
        (li["l_orderkey"] == orders["o_orderkey"])
        & (li["l_shipdate"] >= orders["o_orderdate"])
        & (li["l_shipdate"] < orders["o_orderdate"] + F.expr("INTERVAL 90 DAYS"))
    )
    return (
        li.join(orders, cond)
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("n"), F.round(F.sum("l_extendedprice"), 2).alias("total_price"))
        .orderBy("o_orderpriority")
    )


def q40_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (composition, no built-in Spark operator): each 'click'
    event matched to the latest 'signup' of the same user at-or-before its
    timestamp. Union + last(ignorenulls) over one event-time ordering — a
    single shuffle on user_id, no range explosion."""
    ev = load_table(spark, sf_dir, "events")
    tagged = ev.filter(F.col("event_type").isin("click", "signup")).select(
        "user_id",
        "ts",
        "event_id",
        # signups sort before clicks at identical ts so equality matches
        F.when(F.col("event_type") == "signup", 0).otherwise(1).alias("kind_order"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "kind_order", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    signup_state = F.last(
        F.when(F.col("kind_order") == 0, F.struct("ts", "event_id")), ignorenulls=True
    ).over(w)
    clicks = (
        tagged.withColumn("signup", signup_state)
        .filter(F.col("kind_order") == 1)
        .select(
            F.col("event_id"),
            F.col("signup.event_id").alias("signup_event_id"),
            F.expr(
                "CASE WHEN signup.ts IS NOT NULL THEN timestampdiff(SECOND, signup.ts, ts) END"
            ).alias("gap_sec"),
        )
    )
    return clicks.orderBy("event_id")


def q41_brand_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """part (dim) broadcast-joined to lineitem + HAVING-style post-filter."""
    part = load_table(spark, sf_dir, "part")
    li = load_table(spark, sf_dir, "lineitem")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(F.broadcast(part), li["l_partkey"] == part["p_partkey"])
        .groupBy("p_brand")
        .agg(F.round(F.sum(rev), 2).alias("revenue"), F.count("*").alias("n"))
        .filter(F.col("n") > 50)
        .orderBy("p_brand")
    )


def q42_supplier_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dense_rank + ntile over per-supplier revenue.

    Ranks via the two-phase global_row_number operator (range partition +
    offset join) instead of an unpartitioned Window — no single-task sort
    funnel at scale. The order key (revenue DESC, s_suppkey) is a total
    order, so dense_rank == row_number, and ntile(4) derives in closed form
    from (row_number, total)."""
    sup = load_table(spark, sf_dir, "supplier")
    li = load_table(spark, sf_dir, "lineitem")
    rev = (
        li.groupBy("l_suppkey")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
    )
    from snowplow_s3_loader_spark.materialize import checkpoint_nostats

    # |suppliers|-sized (bounded by the dimension, not the corpus):
    # materialize so the ranking's sample/counts/output passes don't
    # re-run the lineitem aggregation three times
    joined = checkpoint_nostats(
        rev.join(F.broadcast(sup), rev["l_suppkey"] == sup["s_suppkey"])
    )
    ranked, total = ranking.global_row_number(
        joined,
        [F.col("revenue"), F.col("s_suppkey")],
        rn_col="rnk",
        descending=[True, False],
    )
    return ranked.select(
        "s_suppkey",
        "s_name",
        "revenue",
        "rnk",
        ranking.ntile_from_row_number(F.col("rnk"), total, 4).alias("quartile"),
    ).orderBy("rnk", "s_suppkey")


def q43_scalar_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders priced above the global average (scalar subquery)."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("sq_orders")
    return spark.sql(
        """
        SELECT o_orderkey, round(o_totalprice, 2) AS o_totalprice
        FROM sq_orders
        WHERE o_totalprice > (SELECT avg(o_totalprice) FROM sq_orders)
        ORDER BY o_orderkey
        """
    )


def q44_not_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Suppliers with no shipments after 2001-01-01 (NOT EXISTS anti form)."""
    load_table(spark, sf_dir, "supplier").createOrReplaceTempView("ne_supplier")
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("ne_lineitem")
    return spark.sql(
        """
        SELECT s_suppkey, s_name
        FROM ne_supplier s
        WHERE NOT EXISTS (
          SELECT 1 FROM ne_lineitem l
          WHERE l.l_suppkey = s.s_suppkey
            AND l.l_shipdate >= TIMESTAMP_NTZ '2001-01-01 00:00:00'
        )
        ORDER BY s_suppkey
        """
    )


def q45_full_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full outer join of per-nation customer vs supplier counts."""
    cust = (
        load_table(spark, sf_dir, "customer")
        .groupBy("c_nationkey")
        .agg(F.count("*").alias("n_customers"))
    )
    sup = (
        load_table(spark, sf_dir, "supplier")
        .groupBy("s_nationkey")
        .agg(F.count("*").alias("n_suppliers"))
    )
    return (
        cust.join(sup, cust["c_nationkey"] == sup["s_nationkey"], "full_outer")
        .select(
            F.coalesce(F.col("c_nationkey"), F.col("s_nationkey")).alias("nationkey"),
            F.coalesce(F.col("n_customers"), F.lit(0)).alias("n_customers"),
            F.coalesce(F.col("n_suppliers"), F.lit(0)).alias("n_suppliers"),
        )
        .orderBy("nationkey")
    )


def q46_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON field extraction over the events props column."""
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return (
        ev.groupBy("event_type")
        .agg(
            F.sum(k).alias("sum_k"),
            F.round(F.avg(k), 6).alias("avg_k"),
            F.max(k).alias("max_k"),
        )
        .orderBy("event_type")
    )


def q47_subword_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish regex token counting per document (whitespace twin: q30)."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        text.subword_count(F.col("text")).alias("n_subwords"),
        text.token_count(F.col("text")).alias("n_whitespace_tokens"),
    ).orderBy("doc_id")


def q48_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-bucketed approximate top-5, oracle-checkable as a recall
    invariant (VERDICT r4 item 1): raw IVF assignments are engine-specific,
    so the query computes recall@5 of the trained-IVF result against the
    in-query brute-force top-5 and emits one `(query_id, recall_ok)` row
    per query with recall_ok = recall@5 >= 0.2. The whole chain is seeded
    and deterministic (hash-ordered training sample, driver Lloyd,
    argmin assignment); measured per-query recall min is 0.4 at sf0.01 AND
    sf0.1 with n_probe=4 (mean 0.72/0.78), so 0.2 holds with 2x margin and
    the DuckDB oracle emits the query-id list with literal 1. Centroids
    trained with seeded sampled k-means — VERDICT r1 item 10; n_probe=4
    per the measured recall table — VERDICT r3 item 6. Round 6 (VERDICT
    r5 item 3): the IVF chain and the brute-force baseline used to scan
    `embeddings` independently; ivf_recall_topk now derives BOTH top-5
    sets from one scored corpus pass (assignment + all-query GEMM in a
    single mapInPandas), halving the scan work."""
    emb = load_table(spark, sf_dir, "embeddings")
    pred = F.col("vec_id") % 100 == 0
    hits = similarity.ivf_recall_topk(
        emb, pred, k=5, n_centroids=8, n_probe=4, seed=7
    )
    # spine comes straight from the base table (not a distinct over the
    # scored branch) so the expensive subtree appears exactly once
    spine = emb.filter(pred).select(F.col("vec_id").alias("query_id"))
    return (
        spine.join(hits, "query_id", "left")
        .select(
            "query_id",
            (F.coalesce(F.col("n_hits"), F.lit(0)) / F.lit(5.0) >= F.lit(0.2))
            .cast("int")
            .alias("recall_ok"),
        )
        .orderBy("query_id")
    )


def q49_grouped_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped custom aggregation via applyInPandas (Arrow batch per group):
    linear-interpolation percentiles, matching DuckDB quantile_cont."""
    import pandas as pd

    ev = load_table(spark, sf_dir, "events")

    def _pct(pdf: pd.DataFrame) -> pd.DataFrame:
        vals = pdf["value"]
        return pd.DataFrame(
            {
                "event_type": [pdf["event_type"].iloc[0]],
                "p50": [round(float(vals.quantile(0.5, interpolation="linear")), 6)],
                "p95": [round(float(vals.quantile(0.95, interpolation="linear")), 6)],
                "n": [len(pdf)],
            }
        )

    return (
        ev.groupBy("event_type")
        .applyInPandas(_pct, schema="event_type string, p50 double, p95 double, n long")
        .orderBy("event_type")
    )


def q50_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact embedding-cosine near-duplicate pairs, blocked by label (the
    exact twin of the SRP-bucketed variant): pair space limited to
    same-label blocks, verifiable in SQL."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.blocked_near_dup_pairs(emb, "label", threshold=0.3).orderBy(
        "id_a", "id_b"
    )


def q51_null_handling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULL-semantics battery: coalesce, nullif, null-safe equality,
    count(col) vs count(*), conditional aggregation over injected NULLs."""
    ev = load_table(spark, sf_dir, "events")
    val_or_null = F.when(F.col("event_id") % 7 != 0, F.col("value"))
    return (
        ev.select(
            "event_type",
            val_or_null.alias("v"),
            F.nullif(F.col("event_type"), F.lit("error")).alias("et_nn"),
        )
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_rows"),
            F.count("v").alias("n_nonnull"),
            F.round(F.sum(F.coalesce(F.col("v"), F.lit(0.0))), 2).alias("sum_coalesced"),
            F.count(F.when(F.col("v").eqNullSafe(F.lit(None).cast("double")), 1)).alias(
                "n_null_safe_null"
            ),
            F.count("et_nn").alias("n_not_error"),
        )
        .orderBy("event_type")
    )


def q52_array_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array-function battery: collect_list + sort + slice + join, array
    stats over grouped ids, filtered counts."""
    ev = load_table(spark, sf_dir, "events")
    ids_sorted = F.sort_array(F.collect_list("event_id"))
    return (
        ev.groupBy("event_type")
        .agg(
            F.array_join(F.slice(ids_sorted, 1, 5), ",").alias("first5_ids"),
            F.size(ids_sorted).alias("n_ids"),
            F.element_at(ids_sorted, 1).alias("min_id"),
            F.element_at(ids_sorted, -1).alias("max_id"),
        )
        .orderBy("event_type")
    )


def q53_window_analytics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window analytic battery: lag/lead with defaults, first/last value,
    percent_rank, cume_dist over per-user event sequences (sampled users)."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id") % 10 == 0)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wfull = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return (
        ev.select(
            "user_id",
            "event_id",
            F.lag("event_id", 1, -1).over(w).alias("prev_id"),
            F.lead("event_id", 2, -1).over(w).alias("next2_id"),
            F.first("event_id").over(w).alias("first_id"),
            F.last("event_id").over(wfull).alias("last_id"),
            F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
            F.round(F.cume_dist().over(w), 6).alias("cume"),
        )
        .orderBy("user_id", "event_id")
    )


def q54_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT: per-year revenue spread across order statuses as columns.
    Explicit value list keeps the schema static (no extra distinct scan)."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.withColumn("yr", F.year("o_orderdate"))
        .groupBy("yr")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.round(F.sum("o_totalprice"), 2))
        .orderBy("yr")
    )


def q55_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT/melt: wide per-flag aggregates to long (measure, value)
    rows via DataFrame.unpivot."""
    li = load_table(spark, sf_dir, "lineitem")
    wide = li.groupBy("l_returnflag").agg(
        F.round(F.sum("l_quantity"), 2).alias("qty"),
        F.round(F.sum("l_extendedprice"), 2).alias("price"),
        F.round(F.sum("l_discount"), 4).alias("disc"),
    )
    return (
        wide.unpivot("l_returnflag", ["qty", "price", "disc"], "measure", "value")
        .orderBy("l_returnflag", "measure")
    )


def q56_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-3-gram shingle Jaccard near-dup pairs — the n-gram
    variant of q24, same PPJoin prefix-filtered machinery, lang-blocked,
    10% sample. Char shingles (not word shingles) because this corpus's
    near-dups share vocabulary without preserving word order."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") % 10 == 0)
    return dedup.token_jaccard_pairs(
        docs, "doc_id", "text", ["lang"], threshold=0.6,
        tokens_expr=dedup.char_ngrams(F.col("text"), 3),
    ).orderBy("id_a", "id_b")


def q57_time_bucket_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style rollup: hourly buckets per event_type with dense
    gap-filled spine (missing hours appear with zero counts)."""
    from snowplow_s3_loader_spark.operators import timeseries

    ev = load_table(spark, sf_dir, "events")
    rolled = timeseries.bucket_rollup(
        ev,
        "ts",
        ["event_type"],
        [
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        ],
        unit="hour",
    )
    return timeseries.gap_fill(
        rolled,
        ["event_type"],
        {"n_events": F.lit(0).cast("long"), "sum_value": F.lit(0.0)},
        unit="hour",
    ).orderBy("event_type", "bucket")


def q58_deterministic_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible train/val/test assignment by md5-hex threshold on the
    stable doc id — bit-identical in any engine, row-order independent."""
    from snowplow_s3_loader_spark.operators import sampling

    docs = load_table(spark, sf_dir, "documents")
    split = sampling.deterministic_split(
        docs, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1}
    )
    return (
        split.groupBy("split")
        .agg(
            F.count("*").alias("n_docs"),
            F.min("doc_id").alias("min_id"),
            F.max("doc_id").alias("max_id"),
            F.round(F.avg(F.length("text")), 4).alias("avg_len"),
        )
        .orderBy("split")
    )


def q59_map_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map-function battery (SS2.3 array/map category): construction,
    keys/values, lookup, cardinality, containment, concat — all pure JVM
    expressions."""
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 100 == 0)
    m = F.create_map(
        F.lit("status"), F.col("o_orderstatus"),
        F.lit("pri"), F.col("o_orderpriority"),
    )
    return orders.select(
        "o_orderkey",
        F.array_join(F.map_keys(m), ",").alias("keys_csv"),
        F.array_join(F.map_values(m), "|").alias("vals_csv"),
        F.element_at(m, "status").alias("status_val"),
        F.size(m).alias("n_entries"),
        F.map_contains_key(m, "pri").alias("has_pri"),
        F.map_contains_key(m, "clerk").alias("has_clerk"),
        F.size(
            F.map_concat(m, F.create_map(F.lit("extra"), F.lit("x")))
        ).alias("n_after_concat"),
    ).orderBy("o_orderkey")


def q60_image_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal decode->downsample->stats pipeline over Arrow batches
    (mapInPandas, N x H x W x C array math per batch). The deterministic
    fake decoder is md5-stream-keyed, so the DuckDB oracle recomputes the
    EXACT pixel stream in SQL — even the stubbed decode is hash-checked."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") % 20 == 0)
    media = multimodal.to_media(docs, "doc_id", "text", "image/fake")
    return multimodal.image_channel_stats(media).orderBy("media_id")


def q61_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling (training-mix balancing): per-lang
    keep rates via md5-threshold — the reproducible, engine-portable twin of
    sampleBy. Aggregated per class to show realized rates."""
    from snowplow_s3_loader_spark.operators import sampling

    docs = load_table(spark, sf_dir, "documents")
    kept = sampling.stratified_sample(
        docs, "doc_id", "lang", {"en": 0.5, "de": 1.0, "fr": 0.25}
    )
    return (
        kept.groupBy("lang")
        .agg(F.count("*").alias("n_kept"), F.min("doc_id").alias("min_id"))
        .orderBy("lang")
    )


def q62_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk sequence packing (LLM pretraining pack layout):
    per-lang token streams cut every 2048 tokens; each doc carries its
    pack id + offset. Returns per-pack stats."""
    docs = load_table(spark, sf_dir, "documents")
    with_tokens = docs.select(
        "doc_id", "lang", text.token_count(F.col("text")).alias("n_tokens")
    )
    packed = text.pack_sequences(
        with_tokens, ["doc_id"], F.col("n_tokens"), budget=2048, group_cols=["lang"]
    )
    return (
        packed.groupBy("lang", "pack_id")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("n_tokens"),
            F.min("pack_offset").alias("first_offset"),
        )
        .orderBy("lang", "pack_id")
    )


def q63_regexp_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regexp battery: extract (by group), extract_all, rlike, count,
    pattern replace — all JVM regexp expressions."""
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 50 == 0)
    pri = F.col("o_orderpriority")
    return orders.select(
        "o_orderkey",
        F.regexp_extract(pri, r"^(\d+)-(\w+)$", 1).alias("pri_num"),
        F.regexp_extract(pri, r"^(\d+)-(\w+)$", 2).alias("pri_word"),
        pri.rlike(r"^[12]-").alias("is_high"),
        F.regexp_count(pri, F.lit(r"[AEIOU]")).cast("int").alias("n_vowels"),
        F.array_join(F.regexp_extract_all(pri, F.lit(r"[A-Z]+"), 0), "_").alias("caps"),
        F.regexp_replace(pri, r"\d", "#").alias("masked"),
    ).orderBy("o_orderkey")


def q64_conditional_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional/null-handling battery: nullif, coalesce, nvl2,
    greatest/least, CASE chains."""
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") % 200 == 0)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.nullif(F.col("l_returnflag"), F.lit("N")).alias("flag_or_null"),
        F.coalesce(
            F.nullif(F.col("l_returnflag"), F.lit("N")), F.lit("none")
        ).alias("flag_filled"),
        F.nvl2(
            F.nullif(F.col("l_returnflag"), F.lit("N")), F.lit("returned"), F.lit("kept")
        ).alias("nvl2_tag"),
        F.greatest(F.col("l_quantity"), F.col("l_discount") * 100).alias("greatest_v"),
        F.least(F.round("l_extendedprice", 0), F.lit(10_000.0)).alias("least_v"),
        F.when(F.col("l_quantity") < 10, "small")
        .when(F.col("l_quantity") < 30, "medium")
        .otherwise("large")
        .alias("size_band"),
    ).orderBy("l_orderkey", "l_linenumber")


def q65_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pair graph -> connected components: the clustering step a
    dedup pipeline runs after pair generation (round-3 addition). Pairs
    are q24's exact Jaccard pairs; component id = min doc id reachable."""
    from snowplow_s3_loader_spark.operators.graph import connected_components

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") % 10 == 0)
    pairs = dedup.token_jaccard_pairs(docs, "doc_id", "text", ["lang"], threshold=0.5)
    return (
        connected_components(pairs)
        .select(F.col("node").alias("doc_id"), F.col("component").alias("cluster_id"))
        .orderBy("doc_id")
    )


def q66_repetition_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style token-repetition quality signals + composite keep rule
    over the full documents table."""
    docs = load_table(spark, sf_dir, "documents")
    return text.repetition_stats(docs, "doc_id", "text").orderBy("id")


def q67_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 characteristic terms per document by smoothed TF-IDF, 10%
    sample (df computed within the sample)."""
    from snowplow_s3_loader_spark.operators.retrieval import tf_idf_top_terms

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") % 10 == 0)
    return tf_idf_top_terms(docs, "doc_id", "text", k=3).orderBy("id", "rank")


def q68_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-10 documents for a fixed bag-of-words query over the full
    documents table."""
    from snowplow_s3_loader_spark.operators.retrieval import bm25_topk

    docs = load_table(spark, sf_dir, "documents")
    return bm25_topk(
        docs, "doc_id", "text", ["spark", "join", "fast"], k=10
    ).orderBy("rank")


def q70_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping fixed-window document chunking (the splitting
    counterpart of q62's packing): 64-token windows with 16-token
    overlap, one row per chunk with its start offset and text — the
    standard long-document -> training-chunk preprocessing step."""
    docs = load_table(spark, sf_dir, "documents")
    return text.chunk_documents(docs, "doc_id", "text", window=64, overlap=16).orderBy(
        "id", "chunk_id"
    )


def q71_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup over the embeddings table, emitted as
    a FALSIFIABLE per-vector invariant the oracle can hash-match (same
    pattern as q48): connected components of the within-cell near-dup
    pair graph are recomputed here, independently of the keep/drop
    decisions semantic_dedup made, and per vector

        ok = 1 iff (not in the pair graph and kept) OR (in the pair
             graph and its component has EXACTLY one survivor, which is
             the component-minimum id)

    A wrong survivor choice, a double-keep, a zero-keep component, or a
    dropped isolated vector each flip ok -> 0 for the affected rows and
    fail the hash (unlike the round-5 formulation, where every dropped
    id appeared in the pair frame by construction and ok was
    tautologically 1 — round-5 ADVICE item). The k-means cells stay out
    of the hashed columns (engine-specific); the audit itself is
    falsifiability-tested in pytest with deliberately perturbed keep
    decisions, and the operator is differentially tested on planted
    tight groups (exactly one survivor each). The component frame is
    computed once and shared with the audit (it never depends on the
    keep decisions); the audit output is materialized so every internal
    checkpoint is released here — one narrow (vec_id, ok) checkpoint is
    the query's only residue."""
    from snowplow_s3_loader_spark.materialize import release_materialized

    emb = load_table(spark, sf_dir, "embeddings")
    res, pairs, comps = similarity.semantic_dedup(
        emb, n_clusters=8, threshold=0.35, seed=7, return_components=True
    )
    out = similarity.semantic_dedup_audit(res, pairs, comps=comps, materialize=True)
    for frame in (res, pairs, comps):
        release_materialized(frame)
    return out.orderBy("vec_id")


def q72_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/val/test split: assignment keyed on the CONTENT
    digest (md5 of text) instead of the row id, so exact-duplicate
    documents can never straddle the train/test boundary. Emits per-split
    row/group counts plus the id-set checksum (sum of doc ids), all
    reproducible in DuckDB from the same md5 thresholds — a mis-assigned
    row moves n_docs AND sum_id and fails the hash. The near-dup-cluster
    keyed variant (connected-component key) is differentially tested in
    pytest (clusters aren't SQL-expressible)."""
    from snowplow_s3_loader_spark.operators import sampling

    docs = load_table(spark, sf_dir, "documents")
    assigned = sampling.leakage_safe_split(
        docs, F.md5(F.col("text")), {"train": 0.8, "val": 0.1, "test": 0.1}
    )
    return (
        assigned.groupBy("split")
        .agg(
            F.count("*").alias("n_docs"),
            F.countDistinct(F.md5(F.col("text"))).alias("n_groups"),
            F.min("doc_id").alias("min_id"),
            F.max("doc_id").alias("max_id"),
            F.sum("doc_id").alias("sum_id"),
        )
        .orderBy("split")
    )


def q73_group_reservoir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-group fixed-size sample (reservoir-style cap of
    examples per source when building a training mix): keep the 50
    lowest-(md5(id), id) events per event_type. Emits per-type kept
    count, min id and the kept-id checksum — the oracle re-ranks with
    the identical window, so selecting even one different row fails the
    hash."""
    from snowplow_s3_loader_spark.operators import sampling

    ev = load_table(spark, sf_dir, "events")
    kept = sampling.group_reservoir(ev, "event_type", "event_id", 50)
    return (
        kept.groupBy("event_type")
        .agg(
            F.count("*").alias("n_kept"),
            F.min("event_id").alias("min_id"),
            F.sum("event_id").alias("sum_id"),
        )
        .orderBy("event_type")
    )


def q74_bloom_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Big-big semi join with a blocked-bloom runtime prefilter (the
    explicit twin of Catalyst's InjectRuntimeFilter): lineitem rows whose
    order is URGENT, reduced by a broadcast bloom membership test BEFORE
    the exact semi join's shuffle. The result is exact (bloom false
    positives are removed by the exact join), so the oracle is the plain
    semi join; integer checksums make the hash exact."""
    from snowplow_s3_loader_spark.operators import bloom

    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    keys = orders.filter(F.col("o_orderpriority") == "1-URGENT").select("o_orderkey")
    hits = bloom.bloom_prefilter_semi_join(li, keys, ("l_orderkey", "o_orderkey"))
    return (
        hits.groupBy("l_returnflag")
        .agg(
            F.count("*").alias("n_items"),
            F.sum("l_orderkey").cast("long").alias("key_checksum"),
            F.countDistinct("l_orderkey").alias("n_orders"),
        )
        .orderBy("l_returnflag")
    )


def q75_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed Misra-Gries heavy hitters over the corpus token stream,
    emitted as the FALSIFIABLE audit (q37/q48 pattern): for each exact
    top-15 token above the MG guarantee threshold, found=1 iff the merged
    sketch contains it and bound_ok=1 iff the estimate sits inside
    [exact - n/(cap+1), exact]. The oracle recomputes token/exact_count
    and emits literal 1s — a lossy or out-of-bound sketch fails the
    hash."""
    from snowplow_s3_loader_spark.operators import sketches

    docs = load_table(spark, sf_dir, "documents")
    return sketches.heavy_hitter_audit(docs, "text", capacity=256, k=15).orderBy(
        F.desc("exact_count"), "token"
    )


def q76_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) clustering key over (user_id, event_id) buckets —
    the multi-column data-layout primitive behind file skipping. The
    z-value math (pmod bucketize + bit interleave) is pure JVM here and
    plain bit operators in the oracle, so every code hash-matches; the
    layout's measured skipping win is pytest-asserted (per-partition
    min/max narrowing isn't SQL-portable)."""
    from snowplow_s3_loader_spark.operators import layout

    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.pmod(F.col("user_id").cast("long"), F.lit(1024)).alias("x_bucket"),
        F.pmod(F.col("event_id").cast("long"), F.lit(1024)).alias("y_bucket"),
        layout.zorder_key(
            [(F.col("user_id"), 1024), (F.col("event_id"), 1024)], bits=10
        ).alias("zval"),
    ).orderBy("event_id")


def q77_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashed bag-of-words linear classifier scoring (the fastText-style
    quality-model path with deterministic bucket-derived weights):
    per-document integer micro-unit score + sign label, exact BIGINT
    math end to end so the oracle hash-matches without tolerance."""
    docs = load_table(spark, sf_dir, "documents")
    score, label = text.hashed_linear_score(F.col("text"), dim=4096, seed=0)
    return docs.select("doc_id", score, label).orderBy("doc_id")


def q78_approx_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile-sketch audit (the q37/q75 falsifiable-invariant pattern,
    here for Spark's built-in GK percentile_approx): per event_type and
    p in {0.5, 0.9}, the approximate percentile at accuracy=100 must
    occupy a rank within eps*n (+1 slack for boundary conventions) of
    p*n — verified in-query against the exact rank interval
    [rank_lt+1, rank_le] the returned value occupies. The oracle emits
    the exact group sizes and literal 1s; a sketch outside its rank
    guarantee flips within_bound and fails the hash. The approximate
    VALUE stays out of the hashed columns (engine-specific), exactly as
    q37 keeps HLL registers out."""
    ev = load_table(spark, sf_dir, "events")
    acc, ps = 100, [0.5, 0.9]
    aq = ev.groupBy("event_type").agg(
        F.percentile_approx("value", ps, acc).alias("ap"),
        F.count("*").alias("n"),
    )
    aqe = aq.select(
        "event_type", "n", F.posexplode("ap").alias("pi", "v")
    ).withColumn(
        "p", F.element_at(F.array(*[F.lit(x) for x in ps]), F.col("pi") + 1)
    )
    ranks = (
        ev.select("event_type", "value")
        .join(aqe, "event_type")
        .groupBy("event_type", "p", "n", "v")
        .agg(
            F.sum((F.col("value") <= F.col("v")).cast("long")).alias("rank_le"),
            F.sum((F.col("value") < F.col("v")).cast("long")).alias("rank_lt"),
        )
    )
    eps = 1.0 / acc
    lo = F.col("p") * F.col("n") - F.lit(eps) * F.col("n") - 1
    hi = F.col("p") * F.col("n") + F.lit(eps) * F.col("n") + 1
    return ranks.select(
        "event_type",
        F.col("p").cast("double").alias("p"),
        F.col("n").cast("long").alias("n"),
        ((F.col("rank_le") >= lo) & ((F.col("rank_lt") + 1) <= hi))
        .cast("int")
        .alias("within_bound"),
    ).orderBy("event_type", "p")


def q79_token_budget_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mix assembly against a token budget: four weighted
    sources sampled at rate min(1, w_s*budget/tokens_s) via the
    deterministic md5-threshold rule (unweighted sources drop out).
    Emits per-source kept-doc/token counts and the id-set checksum —
    the oracle recomputes the rates from the same exact totals and the
    same double arithmetic, so selecting even one different document
    fails the hash."""
    from snowplow_s3_loader_spark.operators import sampling

    docs = load_table(spark, sf_dir, "documents")
    weights = {"src0": 0.4, "src1": 0.3, "src2": 0.2, "src3": 0.1}
    kept = sampling.token_budget_mixture(
        docs, "doc_id", "source", text.token_count(F.col("text")), weights, 2000
    )
    return (
        kept.groupBy("source")
        .agg(
            F.count("*").alias("n_kept"),
            F.sum(text.token_count(F.col("text"))).cast("long").alias("tokens_kept"),
            F.min("doc_id").alias("min_id"),
            F.max("doc_id").alias("max_id"),
            F.sum("doc_id").cast("long").alias("sum_id"),
        )
        .orderBy("source")
    )


def q80_ffd_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-fit-decreasing pack layout audit (invariant-row pattern —
    FFD itself is sequential per group and not SQL-expressible): per
    language, exact doc/token totals + the budget lower bound, plus
    all_fit = 1 iff every non-oversize pack's fill <= budget and
    lb_ok = 1 iff the non-oversize packs' capacity covers their token
    mass ((n_packs - n_oversize)*budget >= their total — guaranteed for
    a correct packer, violated by any overfilled or lost assignment).
    The oracle recomputes the exact columns and emits literal 1s."""
    budget = 256
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", text.token_count(F.col("text")).alias("n_tokens")
    )
    packed = text.pack_sequences_ffd(docs, "doc_id", "n_tokens", budget, ["lang"])
    return text.ffd_audit(packed, docs, budget, "lang").orderBy("lang")


def q81_robust_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median/MAD robust outlier gating over event values (modified
    z-score > 3.5, Iglewicz & Hoaglin) — numeric-column quality
    filtering. Exact interpolated percentiles match DuckDB's
    quantile_cont; medians of 2-decimal values are exact in double, so
    the full (med, mad, n_outliers) row hash-checks."""
    from snowplow_s3_loader_spark.operators.timeseries import robust_outliers

    ev = load_table(spark, sf_dir, "events")
    return robust_outliers(ev, ["event_type"], "value").orderBy("event_type")


def q82_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment near-dup pairs (|A∩B|/|A| >= 0.8, Broder) —
    the sub-document-duplication detector symmetric Jaccard misses;
    same 10% slice + lang blocking as q24, prefix-filtered candidates,
    exact verify."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") % 10 == 0)
    return dedup.containment_pairs(
        docs, "doc_id", "text", ["lang"], threshold=0.8
    ).orderBy("id_a", "id_b")


def q83_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-integer PageRank over the symmetric customer–supplier trade
    graph (edge iff the customer ever ordered a lineitem from the
    supplier; supplier nodes offset by 1e6): 3 power-iteration rounds in
    BIGINT micro-units (damping 85/100, scale 1e12), top-20 nodes. All
    arithmetic is truncating integer division, so the DuckDB oracle's
    unrolled iteration hash-matches bit-for-bit — the link-graph quality
    weight for curation pipelines, computed verifiably."""
    from snowplow_s3_loader_spark.operators import graph

    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    e0 = orders.join(li, orders.o_orderkey == li.l_orderkey).select(
        F.col("o_custkey").alias("a"),
        (F.lit(1_000_000) + F.col("l_suppkey")).alias("b"),
    )
    # symmetric closure via explode, NOT union(e0, e0.reversed): a union
    # would evaluate the orders x lineitem join twice; explode doubles
    # the rows in-place on one scan (narrow, no recompute)
    edges = e0.select(
        F.explode(
            F.array(
                F.struct(F.col("a").alias("src"), F.col("b").alias("dst")),
                F.struct(F.col("b").alias("src"), F.col("a").alias("dst")),
            )
        ).alias("e")
    ).select("e.src", "e.dst")
    from snowplow_s3_loader_spark.materialize import release_materialized

    pr = graph.pagerank(edges, iterations=3)
    rows = pr.orderBy(F.col("rank_micro").desc(), "node").limit(20).collect()
    release_materialized(pr)  # the operator's checkpoint must not outlive the query
    return spark.createDataFrame(rows, "node long, rank_micro long").orderBy(
        F.col("rank_micro").desc(), "node"
    )


def q84_cdc_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC changelog application (lakehouse MERGE): a synthetic changelog
    derived from orders (seq = o_orderkey; every 50th order deletes the
    customer, the rest upsert name + balance) applied to the customer
    snapshot with last-writer-wins. One window over the changelog + one
    anti join — the snapshot never shuffles."""
    from snowplow_s3_loader_spark.operators import cdc

    snap = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", F.round("c_acctbal", 2).alias("c_acctbal")
    )
    changes = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("c_custkey"),
        F.concat(F.lit("upd_"), F.col("o_orderkey").cast("string")).alias("c_name"),
        F.round("o_totalprice", 2).alias("c_acctbal"),
        F.col("o_orderkey").alias("seq"),
        F.when(F.col("o_orderkey") % 50 == 0, "D").otherwise("U").alias("op"),
    )
    return cdc.apply_changelog(
        snap, changes, ["c_custkey"], "seq", broadcast_changes=True
    ).orderBy("c_custkey")


def q104_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 dimension history from the q84 changelog (seq = o_orderkey is
    a genuine total order, so the validity timeline is
    oracle-reproducible): every upsert becomes a version row valid
    [its seq, next change's seq); deletes close the preceding version
    and emit nothing; is_current marks open versions. One window pass
    over the changelog."""
    from snowplow_s3_loader_spark.operators import cdc

    changes = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("c_custkey"),
        F.concat(F.lit("upd_"), F.col("o_orderkey").cast("string")).alias("c_name"),
        F.round("o_totalprice", 2).alias("c_acctbal"),
        F.col("o_orderkey").alias("seq"),
        F.when(F.col("o_orderkey") % 50 == 0, "D").otherwise("U").alias("op"),
    )
    return cdc.scd2_history(changes, ["c_custkey"], "seq").orderBy(
        "c_custkey", "valid_from_seq"
    )


def q105_fuzzy_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance self-join (PassJoin segment blocking, Li et al.
    VLDB'11) over the c_custkey%5 customer-name slice at tau=1: pairs
    meet through an equi-join on (segment index, length, segment
    string) — never all-pairs — and only candidates pay levenshtein.
    Emits the per-node linkage profile (neighbor count, min/max
    neighbor id over both pair directions), which is sensitive to any
    missing or spurious pair; the oracle brute-forces the same slice
    with DuckDB's levenshtein."""
    from snowplow_s3_loader_spark.operators.linkage import edit_distance_self_join

    cust = load_table(spark, sf_dir, "customer").where(F.col("c_custkey") % 5 == 0)
    pairs = edit_distance_self_join(cust, "c_custkey", "c_name", tau=1)
    und = pairs.select(
        F.col("id_a").alias("c_custkey"), F.col("id_b").alias("nbr")
    ).unionByName(pairs.select(F.col("id_b").alias("c_custkey"), F.col("id_a").alias("nbr")))
    return (
        und.groupBy("c_custkey")
        .agg(
            F.count("*").alias("n_matches"),
            F.min("nbr").alias("min_match"),
            F.max("nbr").alias("max_match"),
        )
        .orderBy("c_custkey")
    )


def q106_bfs_distances(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source BFS hop distances over the SYMMETRIZED customer <->
    supplier trade graph (the q103 edge set): minimum hops from the
    seed customers (custkey % 200 == 0 among edge sources) to every
    node within 3 hops. Level-synchronous frontier loop (adjacency
    checkpointed once, only the frontier shuffles per round); the
    oracle replays it with a WITH RECURSIVE (node, dist) expansion +
    min(dist)."""
    from snowplow_s3_loader_spark.materialize import release_materialized
    from snowplow_s3_loader_spark.operators.graph import bfs_distances

    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_orderkey") % 4 == 0
    ).select("l_orderkey", "l_suppkey")
    e = orders.join(li, orders.o_orderkey == li.l_orderkey).select(
        F.col("o_custkey").alias("src"),
        (F.lit(1_000_000) + F.col("l_suppkey")).alias("dst"),
    )
    sym = e.unionByName(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    seeds = e.select(F.col("src").alias("node")).where(
        F.col("node") % 200 == 0
    ).distinct()
    res = bfs_distances(sym, seeds, max_depth=3)
    rows = res.collect()  # |V| bounded
    release_materialized(res)
    return spark.createDataFrame(rows, "node long, dist int").orderBy("node")


def q107_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset-versioning diff between two deterministic snapshots of
    orders (old = keys not divisible by 7; new = keys not divisible by
    5, with totalprice bumped +1.00 on keys divisible by 3): one
    full-outer join + pure-expression classifier emitting
    (key, added|removed|changed). NULL-safe payload comparison — the
    oracle states the same CASE over IS DISTINCT FROM."""
    from snowplow_s3_loader_spark.operators.cdc import snapshot_diff

    base = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )
    old = base.where(F.col("o_orderkey") % 7 != 0)
    new = base.where(F.col("o_orderkey") % 5 != 0).withColumn(
        "o_totalprice",
        F.when(
            F.col("o_orderkey") % 3 == 0, F.col("o_totalprice") + F.lit(1.0)
        ).otherwise(F.col("o_totalprice")),
    )
    return snapshot_diff(old, new, ["o_orderkey"]).orderBy("o_orderkey")


def q108_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences (ordered by ts with event_id as the uniqueness
    tie-break — the q08 lesson): exact transition counts plus
    row-normalized probabilities in truncating-integer micro-units, so
    the matrix hash-matches the oracle's lead() + integer-division
    SQL bit for bit."""
    from snowplow_s3_loader_spark.operators.behavior import transition_matrix

    ev = load_table(spark, sf_dir, "events")
    return transition_matrix(
        ev, "user_id", "ts", "event_type", tie_cols=("event_id",)
    ).orderBy("from_type", "to_type")


def q109_rolling_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling robust anomaly gate over per-type event values: flag
    rows more than 3 trailing standard deviations from the preceding
    20 observations of their event_type — evaluated as
    (x*n - S)^2 > 9*(n*Q - S^2) over BIGINT rolling sums of cents
    (exact integer math, no float summation anywhere), so the flagged
    set hash-matches the oracle's identical window SQL. One partitioned
    window pass; emits the anomalous rows only."""
    from snowplow_s3_loader_spark.operators.timeseries import rolling_anomalies

    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        "ts",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    out = rolling_anomalies(
        ev, "event_type", ["ts", "event_id"], "cents", window=20, min_n=8, threshold=3
    )
    return (
        out.where(F.col("is_anomaly"))
        .select("event_id", "event_type", "cents")
        .orderBy("event_id")
    )


def q110_cms_frequency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch point-frequency estimates (Cormode &
    Muthukrishnan 2005) with an in-query exact baseline: a 4x2048
    sketch over the document token stream, queried for every distinct
    token of the doc_id%97 slice, joined to the exact corpus counts.
    The md5 hash family is engine-portable, so the oracle rebuilds the
    IDENTICAL sketch in SQL and (token, true_n, est_n) hash-matches
    bit for bit — est >= true always; the overestimate is collision
    mass, bounded in expectation by N/width per row.

    The corpus is tokenized and count-aggregated ONCE (checkpointed
    vocabulary frame); the sketch is the bit-identical weighted build
    over that frame and the truth side reads it directly — only the
    doc_id%97 query slice touches raw text a second time."""
    from snowplow_s3_loader_spark.operators import sketches
    from snowplow_s3_loader_spark.materialize import checkpoint_nostats

    docs = load_table(spark, sf_dir, "documents")
    counts = checkpoint_nostats(
        docs.select(F.explode(text.tokens(F.col("text"))).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("true_n"))
    )
    sketch = sketches.cms_build_weighted(
        counts, "tok", "true_n", width=2048, depth=4
    )
    queries = docs.where(F.col("doc_id") % 97 == 0).select(
        F.explode(text.tokens(F.col("text"))).alias("tok")
    )
    est = sketches.cms_query(sketch, queries, "tok", width=2048, depth=4)
    truth = counts.select(F.col("tok").alias("token"), "true_n")
    return (
        est.join(truth, "token")
        .select("token", "true_n", "est_n")
        .orderBy("token")
    )


def q111_markup_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text extraction: every third document is wrapped in
    deterministic HTML-ish markup (tags + escaped entities — the q69
    synthetic-injection pattern), then strip_markup recovers plain
    text. Emits tag counts and the cleaned text's length and tail, all
    hash-matched against the oracle's identical regex chain."""
    docs = load_table(spark, sf_dir, "documents")
    marked = docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(
                F.lit("<html><body><h1>Doc "),
                F.col("doc_id").cast("string"),
                F.lit("</h1><p class=\"main\">"),
                F.col("text"),
                F.lit("</p><br/>&amp; footer &lt;links&gt;</body></html>"),
            ),
        ).otherwise(F.col("text")).alias("marked"),
    )
    cleaned = marked.withColumn("clean", text.strip_markup(F.col("marked")))
    return cleaned.select(
        "doc_id",
        F.size(F.expr(r"regexp_extract_all(marked, '<[^>]*>', 0)")).alias("n_tags"),
        F.length("clean").alias("clean_len"),
        F.expr("right(clean, 40)").alias("clean_tail"),
    ).orderBy("doc_id")


def q112_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-synchronous label-propagation communities (Raghavan et al.
    2007) over the supplier co-occurrence graph, 2 deterministic
    rounds: each node adopts its neighbors' most frequent label, ties
    to the minimum — the fixed schedule replays exactly in the
    oracle's unrolled two-round SQL (the q103 discipline)."""
    from snowplow_s3_loader_spark.materialize import release_materialized
    from snowplow_s3_loader_spark.operators.graph import label_propagation

    res = label_propagation(supplier_pairs(spark, sf_dir), iterations=2)
    rows = res.collect()  # |V| bounded
    release_materialized(res)
    return spark.createDataFrame(rows, "node long, label long").orderBy("node")


def q113_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct counting + set algebra via mergeable bitmaps
    (the RoaringBitmap idea — Chambi et al. 2016 — as a word-keyed
    frame): per event type, the exact distinct-user count from a
    64-bit-word bitmap; the same count rebuilt by MERGING two
    independently-built half-stream bitmaps (proving bit_or-mergeable
    state == full recompute); and the exact pairwise "users who did
    both" matrix from a word-keyed self-join — all popcounts, no raw
    re-scan, hash-matched against COUNT(DISTINCT)/join SQL. The raw
    stream shuffles once pre-reduced (map-side bit_or bounds exchanged
    bytes by domain/64 per group, not by event count).

    Scan discipline: the raw stream is read exactly twice — once for
    the checkpointed full bitmap (shared by the type counts and the
    pairwise matrix) and once for the parity-tagged agg that builds
    both independent half-stream bitmaps in a single pass before
    bit_or-merging them."""
    from snowplow_s3_loader_spark.operators import bitmap
    from snowplow_s3_loader_spark.materialize import checkpoint_nostats

    ev = load_table(spark, sf_dir, "events").where(F.col("event_id") % 37 == 0)
    bm = checkpoint_nostats(bitmap.bitmap_agg(ev, ["event_type"], "user_id"))
    types = bitmap.bitmap_cardinality(bm, ["event_type"]).select(
        F.lit("type").alias("kind"),
        F.col("event_type").alias("key"),
        F.col("n_distinct").alias("n"),
    )
    # both half-stream bitmaps from ONE parity-tagged pass; the merge is
    # still a genuine bit_or fold of independently-reduced halves
    halves = bitmap.bitmap_agg(
        ev.withColumn("__half", F.col("event_id") % 2),
        ["event_type", "__half"],
        "user_id",
    )
    merged = bitmap.bitmap_cardinality(
        halves.groupBy("event_type", "word").agg(
            F.bit_or("bits").alias("bits")
        ),
        ["event_type"],
    ).select(
        F.lit("merged").alias("kind"),
        F.col("event_type").alias("key"),
        F.col("n_distinct").alias("n"),
    )
    pairs = (
        bitmap.bitmap_pairwise_intersections(bm, "event_type")
        .where(F.col("n_common") > 0)  # match the oracle's inner-join semantics
        .select(
            F.lit("pair").alias("kind"),
            F.concat_ws("@", "group_a", "group_b").alias("key"),
            F.col("n_common").alias("n"),
        )
    )
    return types.unionByName(merged).unionByName(pairs).orderBy("kind", "key")


def q114_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto frontier (skyline — Börzsönyi et al., ICDE 2001) of
    "largest early orders": order day minimized against total price
    maximized, both as exact integers (epoch days / cents). The
    bucket-decomposed sort-scan runs the per-bucket windows in
    parallel with O(n_buckets) cross-bucket state — no quadratic
    dominance join, no single-task global sort — and hash-matches the
    oracle's groupBy + strict-prefix-RANGE-window SQL."""
    from snowplow_s3_loader_spark.operators.frontier import pareto_frontier_2d

    pts = load_table(spark, sf_dir, "orders").select(
        F.datediff(F.to_date("o_orderdate"), F.lit("1970-01-01")).cast("long").alias(
            "order_day"
        ),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("price_cents"),
    )
    return pareto_frontier_2d(
        pts, "order_day", "price_cents", maximize=(False, True), n_buckets=64
    ).orderBy("order_day")


def q115_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sided CUSUM drift detection (Page 1954) per event type over
    integer cents: the recursive max(0, s+d) statistic evaluated via
    its prefix-sum closed form — two stacked windows on ONE
    partitioned sort, exact BIGINT arithmetic. Emits a per-type alarm
    summary plus an id-sliced sample of alarmed rows; both hash-match
    the oracle's identical nested-window SQL."""
    from snowplow_s3_loader_spark.operators.timeseries import cusum_alarms

    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        "event_id",
        "ts",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    scored = cusum_alarms(
        ev, "event_type", ["ts", "event_id"], "cents",
        target=5000, slack=1000, threshold=50_000,
    )
    alarms = scored.where("alarm")
    summary = alarms.groupBy("event_type").agg(
        F.count("*").alias("a"), F.max("s_hi").alias("b")
    ).select(
        F.lit("summary").alias("kind"), F.col("event_type").alias("key"), "a", "b"
    )
    sample = alarms.where(F.col("event_id") % 11 == 0).select(
        F.lit("row").alias("kind"),
        F.concat_ws("@", "event_type", F.col("event_id").cast("string")).alias("key"),
        F.col("s_hi").alias("a"),
        F.col("s_lo").alias("b"),
    )
    return summary.unionByName(sample).orderBy("kind", "key")


def q116_group_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer order-spend trend: closed-form OLS slope of
    (days since 1995-01-01, order cents) per customer in ONE
    aggregation pass — the exact rational num/den plus a truncating
    millicents-per-day slope (positive-operand div, identical in both
    engines). Customers with >= 5 orders, id-sliced; hash-matched
    against the oracle's identical five-sum SQL."""
    from snowplow_s3_loader_spark.operators.profile import group_trend

    pts = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        F.datediff(F.to_date("o_orderdate"), F.lit("1995-01-01"))
        .cast("long")
        .alias("x"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("y"),
    )
    return (
        group_trend(pts, ["o_custkey"], "x", "y", scale=1000)
        .where((F.col("n") >= 5) & (F.col("o_custkey") % 7 == 0))
        .select(
            "o_custkey", "n", "slope_num", "slope_den",
            F.col("slope_scaled").alias("slope_milli"),
        )
        .orderBy("o_custkey")
    )


def q117_item_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-item collaborative filtering (Sarwar et al. 2001) over
    order baskets: top-5 neighbors per part by binary-occurrence
    cosine, scored as squared cosine in truncating integer micro-units
    (ranking-equivalent, engine-exact). Apriori-pruned pair expansion,
    keyed joins on pair-sized frames only; hash-matched against the
    oracle's identical SQL."""
    from snowplow_s3_loader_spark.operators.behavior import item_similarity_topk

    li = load_table(spark, sf_dir, "lineitem")
    return (
        item_similarity_topk(
            li, "l_orderkey", "l_partkey", min_support=2, k=5
        )
        .withColumnRenamed("rank", "rnk")
        .orderBy("item", "rnk")
    )


def q118_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted sampling (integer priority sampling —
    Duffield et al. 2007): per language, the 15 winners by
    md5-uniform div length-weight priority — longer documents
    proportionally likelier, zero floats, zero rng state. The
    selected SET (not just its size) hash-matches the oracle's
    identical integer SQL."""
    from snowplow_s3_loader_spark.operators.sampling import weighted_sample_topk

    docs = load_table(spark, sf_dir, "documents").select(
        "lang",
        "doc_id",
        F.greatest(F.col("n_chars").cast("long"), F.lit(1)).alias("w"),
    )
    return (
        weighted_sample_topk(docs, "lang", "doc_id", "w", n_per_group=15)
        .select("lang", "doc_id", "priority")
        .orderBy("lang", "doc_id")
    )


def q119_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-skew pre-flight: the 10 heaviest user_id keys in the
    event stream (count + row share) plus the skew stats
    (max-over-mean multiple, top-10 combined share) — all exact BIGINT
    micro-units from ONE per-key count; the top-k is a distributed
    TakeOrderedAndProject, never a single-task sort of the key frame.
    Hash-matched against the oracle's identical SQL."""
    from snowplow_s3_loader_spark.operators.diagnostics import skew_report

    ev = load_table(spark, sf_dir, "events")
    top, stats = skew_report(ev, ["user_id"], top_n=10)
    krows = top.select(
        F.lit("key").alias("kind"),
        F.concat_ws(
            "@", F.col("rnk").cast("string"), F.col("user_id").cast("string")
        ).alias("key"),
        F.col("n").alias("a"),
        F.col("share_micro").alias("b"),
        F.lit(None).cast("long").alias("c"),
    )
    s1 = stats.select(
        F.lit("stats1").alias("kind"),
        F.lit("all").alias("key"),
        F.col("n_rows").alias("a"),
        F.col("n_keys").alias("b"),
        F.col("max_n").alias("c"),
    )
    s2 = stats.select(
        F.lit("stats2").alias("kind"),
        F.lit("all").alias("key"),
        F.col("skew_multiple_micro").alias("a"),
        F.col("top_share_micro").alias("b"),
        F.lit(None).cast("long").alias("c"),
    )
    return krows.unionByName(s1).unionByName(s2).orderBy("kind", "key")


def q120_join_explosion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-explosion forecast: the exact output size of
    events ⋈ purchase-events on user_id computed from the two per-key
    COUNT frames alone (the raw tables are never joined) — total rows,
    amplification vs inputs, and the 10 most-multiplying keys. Exact
    BIGINT; hash-matched against the oracle's identical SQL."""
    from snowplow_s3_loader_spark.operators.diagnostics import (
        join_explosion_report,
    )

    ev = load_table(spark, sf_dir, "events")
    purchases = ev.where(F.col("event_type") == "purchase")
    top, stats = join_explosion_report(ev, purchases, ["user_id"], top_n=10)
    krows = top.select(
        F.lit("key").alias("kind"),
        F.concat_ws(
            "@", F.col("rnk").cast("string"), F.col("user_id").cast("string")
        ).alias("key"),
        F.col("n_a").alias("a"),
        F.col("n_b").alias("b"),
        F.col("out_rows").alias("c"),
        F.col("amplification_micro").alias("d"),
    )
    s = stats.select(
        F.lit("stats").alias("kind"),
        F.lit("all").alias("key"),
        F.col("n_matching_keys").alias("a"),
        F.col("total_out_rows").alias("b"),
        F.col("rows_b").alias("c"),
        F.col("amplification_micro").alias("d"),
    )
    return krows.unionByName(s).orderBy("kind", "key")


def q121_quantile_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group quantile normalization: each event's within-type
    percentile of cents in exact integer micro-units — (rn-1)*1e6 div
    (n-1) over a total order — one keyed window pass, id-sliced
    output, hash-matched against the oracle's identical window SQL."""
    from snowplow_s3_loader_spark.operators.ranking import quantile_rank

    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        "event_id",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    out = quantile_rank(
        ev, ["event_type"], [F.col("cents"), F.col("event_id")]
    )
    return (
        out.where(F.col("event_id") % 23 == 0)
        .select("event_type", "event_id", "cents", "pct_micro")
        .orderBy("event_type", "event_id")
    )


def q122_group_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-group mode: the dominant language per document
    source (most frequent, ties to the minimum lang) via a min_by on
    struct(-n, value) over the reduced count frame — two keyed
    aggregations, no window; hash-matched against the oracle's
    row_number tie-rule SQL."""
    from snowplow_s3_loader_spark.operators.ranking import group_mode

    docs = load_table(spark, sf_dir, "documents")
    return (
        group_mode(docs, ["source"], "lang")
        .select("source", F.col("mode").alias("lang_mode"), "mode_n")
        .orderBy("source")
    )


def q123_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact phrase retrieval over a positional inverted index: a
    2-term and a 3-term phrase, each resolved by rarest-term-first
    posting intersection (statistics-driven join order from one
    per-term count pass; order changes work, never results). Emits
    per-document occurrence counts, hash-matched against the oracle's
    list-scan SQL."""
    from snowplow_s3_loader_spark.operators.retrieval import (
        inverted_index,
        phrase_search,
    )

    docs = load_table(spark, sf_dir, "documents")
    idx = inverted_index(docs, "doc_id", "text")
    p2 = phrase_search(idx, "fast table").select(
        F.lit("p2").alias("kind"), F.col("id").alias("doc_id"), "n_matches"
    )
    p3 = phrase_search(idx, "value table part").select(
        F.lit("p3").alias("kind"), F.col("id").alias("doc_id"), "n_matches"
    )
    return p2.unionByName(p3).orderBy("kind", "doc_id")


def q85_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-rule quality audit (Rae et al. 2021 table A1) per language:
    doc counts, pass-all counts, per-rule fail counts — all flags
    evaluated with exact cross-multiplied integer arithmetic (no float
    ratios), so every count hash-matches the oracle."""
    docs = load_table(spark, sf_dir, "documents")
    return text.gopher_rule_summary(docs, "text", ["lang"]).orderBy("lang")


def q86_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental aggregate maintenance (materialized-view delta
    update): build per-(event_type, hour) count/sum/min/max state from
    3/4 of events, then merge the remaining quarter as an insert-only
    delta via one partial/final re-aggregation — the corpus is never
    rescanned. The oracle aggregates ALL events from scratch, so the
    hash check proves incremental == full recompute exactly (measures
    in integer cents for order-independent sums)."""
    from snowplow_s3_loader_spark.operators import incremental

    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.date_trunc("hour", "ts").alias("bucket"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    keys = ["event_type", "bucket"]
    base = ev.filter(F.col("event_id") % 4 != 0)
    delta = ev.filter(F.col("event_id") % 4 == 0)
    state = incremental.agg_state(base, keys, ("cents",), ("cents",), ("cents",))
    out = incremental.update_agg_state(
        state, delta, keys, ("cents",), ("cents",), ("cents",)
    )
    return out.orderBy("event_type", "bucket")


def q87_quantize_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """int8 scalar quantization of the embedding corpus: global per-dim
    min/max bounds (one bounded-driver-work pass), then uint8 codes as
    pure JVM expressions — 4x fewer bytes through every downstream ANN
    shuffle. Codes are exact integer outputs of IEEE double math, so a
    5% slice's per-vector code checksums hash-match DuckDB bit-for-bit."""
    emb = load_table(spark, sf_dir, "embeddings")
    mins, maxs = similarity.quantization_bounds(emb, "embedding")
    codes = similarity.quantize_embeddings(
        emb.filter(F.col("vec_id") % 20 == 0), "embedding", mins, maxs
    )
    weighted = F.zip_with(
        F.col("codes"),
        F.sequence(F.lit(1), F.size("codes")),
        lambda c, i: (c * i).cast("long"),
    )
    return codes.select(
        "vec_id",
        F.size("codes").alias("n_dims"),
        F.aggregate(weighted, F.lit(0).cast("long"), lambda a, x: a + x).alias(
            "code_checksum"
        ),
        F.array_min("codes").alias("code_min"),
        F.array_max("codes").alias("code_max"),
    ).orderBy("vec_id")


def q88_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel view -> click -> purchase per user:
    step k's reach time is the earliest step-k event strictly after the
    step-(k-1) reach time — the cascade of filtered keyed aggregations
    (no per-user collect/sort, so power users cannot blow memory).
    Step times are minima, hence order-independent and hash-exact."""
    from snowplow_s3_loader_spark.operators import behavior

    ev = load_table(spark, sf_dir, "events")
    return behavior.funnel_steps(
        ev, "user_id", "ts", "event_type", ["view", "click", "purchase"]
    ).orderBy("user_id")


def q89_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention matrix: cohort = week of first event per
    user; per (cohort, activity week), distinct active users + retention
    age in weeks. Two keyed aggregations."""
    from snowplow_s3_loader_spark.operators import behavior

    ev = load_table(spark, sf_dir, "events")
    return behavior.cohort_retention(ev, "user_id", "ts", "week").orderBy(
        "cohort", "period"
    )


def q90_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-overlap join via grid bucketing: synthetic sessions
    (every 50th event, open for `value` minutes) against maintenance
    windows (every 70th event, 30 minutes) — candidates meet through an
    equi-join on 1-hour cells and each pair is emitted only in the first
    shared cell (no dedup shuffle). Bounds are epoch micros (BIGINT), so
    the all-pairs DuckDB oracle hash-matches exactly."""
    from snowplow_s3_loader_spark.operators.joins import interval_overlap_join

    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("start_us"),
        # exact: value is 2-dp, so cents x 600000 us-per-cent-minute is
        # integer math (value * 6e7 in double truncates vs rounds
        # differently across engines at representation boundaries —
        # bit us at sf0.1)
        (F.round(F.col("value") * 100).cast("long") * 600_000).alias("dur_us"),
    )
    left = ev.filter(F.col("event_id") % 50 == 0).select(
        F.col("event_id").alias("id_l"),
        F.col("start_us").alias("l_start"),
        (F.col("start_us") + F.col("dur_us")).alias("l_end"),
    )
    right = ev.filter(F.col("event_id") % 70 == 0).select(
        F.col("event_id").alias("id_r"),
        F.col("start_us").alias("r_start"),
        (F.col("start_us") + F.lit(30 * 60_000_000)).alias("r_end"),
    )
    hour_us = 3_600_000_000
    return interval_overlap_join(
        left, right, ("l_start", "l_end"), ("r_start", "r_end"), hour_us
    ).orderBy("id_l", "id_r")


def supplier_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier co-occurrence pair graph (edge iff two suppliers appear
    in the same order; the l_orderkey%10 slice bounds density) — the
    SHARED input of q91/q99/q102 and the ComponentMap parity check, so
    the slice/dedup rule cannot drift between the Spark queries and
    their oracles' identical SQL."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_orderkey") % 10 == 0
    ).select("l_orderkey", "l_suppkey")
    a, b = li.alias("x"), li.alias("y")
    return (
        a.join(b, F.col("x.l_orderkey") == F.col("y.l_orderkey"))
        .where(F.col("x.l_suppkey") < F.col("y.l_suppkey"))
        .select(
            F.col("x.l_suppkey").alias("id_a"), F.col("y.l_suppkey").alias("id_b")
        )
        .distinct()
    )


def q91_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle counts over the supplier co-occurrence graph (edge iff
    two suppliers appear in the same order; 10% order slice bounds the
    density knob): degree-oriented node-iterator join — wedges enumerate
    only at their lowest-degree vertex, so hub nodes generate zero
    wedges instead of deg^2 (Suri & Vassilvitskii). Exact counts, so
    the all-triples DuckDB oracle hash-matches."""
    from snowplow_s3_loader_spark.operators import graph
    from snowplow_s3_loader_spark.materialize import release_materialized

    res = graph.triangle_count(supplier_pairs(spark, sf_dir))
    rows = res.collect()  # |V|-bounded; frees the operator checkpoint below
    release_materialized(res)
    return spark.createDataFrame(
        rows, "node long, n_triangles long, total_triangles long"
    ).orderBy("node")


def q92_profile_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Table profile of events — per-column row/null/distinct counts and
    stringified min/max in ONE aggregation pass (multi-count_distinct
    via Spark's Expand). Exact distincts so the per-column UNION oracle
    hash-matches; engine-portable min/max formatting (timestamps
    second-truncated, doubles shortest-repr)."""
    from snowplow_s3_loader_spark.operators.profile import profile_table

    ev = load_table(spark, sf_dir, "events")
    return profile_table(
        ev, ["event_id", "ts", "user_id", "event_type", "value"]
    ).orderBy("column")


def q93_frequent_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket mining: event-type pairs co-occurring in the same
    (user, day) basket with support >= 5 — items are apriori-pruned
    before the quadratic pair expansion, so rare items never reach the
    self-join. Exact supports hash-match the all-pairs oracle."""
    from snowplow_s3_loader_spark.operators import behavior

    ev = load_table(spark, sf_dir, "events").select(
        F.concat_ws(
            "@", F.col("user_id").cast("string"),
            F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd"),
        ).alias("basket"),
        "event_type",
    )
    return behavior.frequent_pairs(ev, "basket", "event_type", 5).orderBy(
        "item_a", "item_b"
    )


def q94_equi_depth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth histogram of event values (16 buckets, event_id
    tie-break): global row number via literal-boundary buckets + offset map
    offsets (no single-partition window) and ntile's closed form. Exact
    bucket boundaries hash-match DuckDB's ntile."""
    from snowplow_s3_loader_spark.operators.profile import equi_depth_histogram

    ev = load_table(spark, sf_dir, "events").select("event_id", "value")
    return equi_depth_histogram(ev, "value", 16, ["event_id"]).orderBy("bucket")


def q95_exact_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact second-order moments of (quantity, price in hundreds) per
    return flag: the covariance/correlation kernel in pure BIGINT
    (cov_num = n*Sxy - Sx*Sy etc.), so no float-summation order can
    leak in and the oracle hash-matches bit-for-bit; Pearson r derives
    by one final division outside the engine. The hundreds scaling
    bounds price_h <= 1.1e3, so worst-case n * Syy <= n^2 * 1.2e6 stays
    inside int64 to ~2.7e6 rows per group — enough for every bench SF
    but NOT for sf1's largest return-flag group (~3e6 rows), where only
    average-case values keep it safe; rescale price to thousands for
    guaranteed headroom there (per the operator docstring)."""
    from snowplow_s3_loader_spark.operators.profile import exact_moments

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.col("l_quantity").cast("long").alias("qty"),
        F.floor(F.col("l_extendedprice") / 100).alias("price_h"),
    )
    return exact_moments(li, ["l_returnflag"], "qty", "price_h").orderBy(
        "l_returnflag"
    )


def q97_quality_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality constraint suite (operators/checks.py):
    null / uniqueness / accepted-values / range / regex checks compile
    into ONE conditional aggregation over events (single scan for the
    whole list), plus one anti-join branch for the lineitem -> orders
    referential check. Exact BIGINT violation counts, so the oracle
    hash-matches with zero tolerance. The orderkey%3 in_set check and
    the value range are DESIGNED to fail on synthetic data — a suite
    that only ever reports passed=1 is not demonstrably wired to its
    metrics."""
    from snowplow_s3_loader_spark.operators import checks as C

    ev = load_table(spark, sf_dir, "events")
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    ev_suite = C.check_suite(
        ev,
        [
            C.not_null("event_id"),
            C.not_null("props"),
            C.unique("event_id"),
            C.unique("user_id", "ts"),
            C.in_set("event_type", ("view", "click", "purchase", "signup", "refund")),
            C.in_range("value", 0.0, 100.0),
            C.matches("event_type", "^[a-z_]+$"),
        ],
    )
    li_suite = C.check_suite(
        li,
        [C.ref("l_orderkey", orders, "o_orderkey", name="ref(l_orderkey->orders)")],
    )
    return ev_suite.unionByName(li_suite).orderBy("check_name")


def q98_bpe_tokenizer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE tokenizer training (operators/bpe.py):
    'pairstats' rows are the round-1 weighted adjacent-char-pair counts
    (top 50, fully SQL-oracled via chr(31)-joined substr pairs);
    'merge' rows audit the 8-round trained merge sequence against an
    independent pure-python BPE run over the same collected vocabulary
    (the q48/q75 falsifiable-audit pattern: the oracle pins literal 1s,
    so a tie-break or fold divergence flips a bit). The corpus is
    touched once (word_counts); training rounds run on the
    vocabulary frame."""
    from snowplow_s3_loader_spark.operators import bpe
    from snowplow_s3_loader_spark.materialize import (
        checkpoint_nostats,
        release_materialized,
    )

    docs = load_table(spark, sf_dir, "documents")
    wc = checkpoint_nostats(bpe.word_counts(docs, "text"))  # ONE corpus pass
    stats = (
        bpe.pair_counts(wc.withColumn("syms", F.split("word", "")))
        .orderBy(F.desc("n"), "pair")
        .limit(50)
        .select(
            F.lit("pairstats").alias("kind"),
            F.col("pair").alias("key"),
            F.col("n").alias("v"),
        )
    )
    stats = spark.createDataFrame(stats.collect(), "kind string, key string, v long")
    merges, vocab = bpe.bpe_train_from_words(wc, 8)
    words = {r["word"]: r["freq"] for r in vocab.select("word", "freq").collect()}
    release_materialized(vocab)
    release_materialized(wc)
    # independent driver-side reference (dict/loop BPE, not Spark
    # expressions) over the same vocabulary — bounded: |vocab| rows
    want, _ = _bpe_reference(words, 8)
    # agreement INCLUDING agreed early exhaustion is a match: if both
    # sides ran out of mergeable pairs at the same step, step i's
    # (absent, absent) comparison must read 1, not 0
    audit = spark.createDataFrame(
        [
            (
                "merge",
                str(i + 1),
                int(
                    (merges[i] if i < len(merges) else None)
                    == (want[i] if i < len(want) else None)
                ),
            )
            for i in range(8)
        ],
        "kind string, key string, v long",
    )
    return stats.unionByName(audit).orderBy("kind", "key", "v")


def q99_random_walks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash-seeded random walks over the (symmetrized)
    supplier co-occurrence graph — 3 steps from every node; the walk
    choice (arg-min of md5(seed|walk|step|neighbor)) replays exactly in
    the DuckDB oracle's unrolled 3-level arg_min SQL."""
    from snowplow_s3_loader_spark.materialize import release_materialized
    from snowplow_s3_loader_spark.operators.graph import random_walks

    pairs = supplier_pairs(spark, sf_dir).select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    )
    edges = pairs.unionByName(
        pairs.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    res = random_walks(edges, walk_length=3, seed=0)
    rows = res.collect()  # |V| * (walk_length+1) bounded
    release_materialized(res)
    return spark.createDataFrame(rows, "walk long, step int, node long").orderBy(
        "walk", "step"
    )


def q100_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First/last-touch attribution for every purchase event: the user's
    earliest and latest view/click strictly before the conversion, the
    touch count, and the last touch's type — one user-partitioned window
    pass plus a conversions-sized type-resolution join. Window semantics
    replay exactly in the DuckDB oracle's RANGE-frame SQL."""
    from snowplow_s3_loader_spark.operators import behavior

    ev = load_table(spark, sf_dir, "events")
    return behavior.attribution(
        ev, "user_id", "ts", "event_type", "purchase", ["view", "click"]
    ).orderBy("user_id", "conv_ts")


def q101_pq_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (Jegou et al. 2011), oracle-checkable as
    a recall invariant (the q48 pattern): m=8 x k=16 codebooks trained on
    the seeded md5-ordered sample, corpus encoded to 8-byte codes, ADC
    shortlist-200 + exact re-rank top-5 vs in-query brute-force top-5;
    emits (query_id, recall_ok) with recall_ok = recall@5 >= 0.2
    (measured min 1.0/0.4 and mean 1.0/0.77 at sf0.01/sf0.1 — 2x margin
    on the worst query).
    The oracle emits the query-id list with literal 1s."""
    from snowplow_s3_loader_spark.operators import similarity

    emb = load_table(spark, sf_dir, "embeddings")
    pred = F.col("vec_id") % 100 == 0
    books = similarity.pq_train(emb, m=8, k=16, seed=7)
    codes = similarity.pq_encode(emb, books)
    got = similarity.pq_topk_adc(emb, codes, books, pred, k=5, shortlist=200)
    exact = similarity.brute_force_topk(emb, pred, k=5)
    hits = (
        got.select("query_id", "neighbor_id")
        .join(exact.select("query_id", "neighbor_id"), ["query_id", "neighbor_id"])
        .groupBy("query_id")
        .agg(F.count("*").alias("n_hits"))
    )
    spine = emb.filter(pred).select(F.col("vec_id").alias("query_id"))
    return (
        spine.join(hits, "query_id", "left")
        .select(
            "query_id",
            (F.coalesce(F.col("n_hits"), F.lit(0)) / F.lit(5.0) >= F.lit(0.2))
            .cast("int")
            .alias("recall_ok"),
        )
        .orderBy("query_id")
    )


def q102_k_core(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core decomposition of the supplier co-occurrence graph,
    audited with the q98 pattern: the distributed peeling result is
    differentially compared per node against an independent
    python-reference peel over the same collected pair set (bounded: the
    q91 slice), emitting one (node, is_match) row for EVERY graph node —
    membership AND core-degree divergence both flip bits; the oracle
    emits the SQL-enumerable node list with literal 1s."""
    from snowplow_s3_loader_spark.materialize import (
        checkpoint_nostats,
        release_materialized,
    )
    from snowplow_s3_loader_spark.operators.graph import k_core

    pairs = checkpoint_nostats(supplier_pairs(spark, sf_dir))
    core = k_core(pairs, k=8)
    got = {r["node"]: r["core_degree"] for r in core.collect()}
    release_materialized(core)
    edge_rows = [(r["id_a"], r["id_b"]) for r in pairs.collect()]
    release_materialized(pairs)
    want = _k_core_reference(edge_rows, 8)
    nodes = sorted({x for e in edge_rows for x in e})
    return spark.createDataFrame(
        [(n, int(got.get(n) == want.get(n))) for n in nodes],
        "node long, is_match int",
    ).orderBy("node")


def q103_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-integer HITS over the DIRECTED customer -> supplier trade
    graph (customers are hubs, suppliers authorities): 2
    mutual-reinforcement rounds with max-normalization in BIGINT
    micro-units — truncating integer division makes every round
    bit-identical across engines, so the DuckDB oracle's unrolled
    two-round SQL hash-matches exactly (the q83 discipline)."""
    from snowplow_s3_loader_spark.operators import graph

    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_orderkey") % 4 == 0
    ).select("l_orderkey", "l_suppkey")
    edges = orders.join(li, orders.o_orderkey == li.l_orderkey).select(
        F.col("o_custkey").alias("src"),
        (F.lit(1_000_000) + F.col("l_suppkey")).alias("dst"),
    )
    from snowplow_s3_loader_spark.materialize import release_materialized

    res = graph.hits(edges, iterations=2)
    rows = res.collect()  # |V|-bounded
    release_materialized(res)
    return spark.createDataFrame(
        rows, "node long, hub_micro long, auth_micro long"
    ).orderBy("node")


def _k_core_reference(edges: list, k: int) -> dict:
    """Independent python peeling (set/dict based — shares no code with
    the Spark loop); the q102 audit twin."""
    adj: dict = {}
    for a, b in set(edges):
        if a == b:
            continue
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    changed = True
    while changed:
        changed = False
        for v in list(adj):
            if len(adj[v]) < k:
                for u in adj[v]:
                    adj[u].discard(v)
                del adj[v]
                changed = True
    return {v: len(ns) for v, ns in adj.items()}


def _bpe_reference(words: dict, n_merges: int):
    """Pure-python BPE (classic overlapping pair counts, count-desc /
    pair-asc selection, left-to-right greedy merge) — the independent
    audit twin for q98; intentionally dict/loop-based so it shares no
    code path with the Spark implementation."""
    sep = "\x1f"
    vocab = {w: list(w) for w in words}
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        counts: dict = {}
        for w, freq in words.items():
            syms = vocab[w]
            for i in range(len(syms) - 1):
                p = syms[i] + sep + syms[i + 1]
                counts[p] = counts.get(p, 0) + freq
        if not counts:
            break
        best = min(counts, key=lambda p: (-counts[p], p))
        a, b = best.split(sep, 1)
        merges.append((a, b))
        for w in vocab:
            out: list = []
            for x in vocab[w]:
                if out and out[-1] == a and x == b:
                    out[-1] = a + b
                else:
                    out.append(x)
            vocab[w] = out
    return merges, vocab


def q124_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Line-level boilerplate removal (the RefinedWeb / CCNet paragraph
    rule): documents are wrapped in deterministic synthetic page chrome
    (two universal lines, one every-other-doc banner, two unique lines
    — the q111 injection pattern), then strip_boilerplate_lines drops
    every line occurring in more than 5 distinct documents and
    reassembles the survivors in order. Emits per-doc line counts,
    removed counts, and the cleaned text's length and tail — all
    hash-matched against the oracle's identical pipeline."""
    from snowplow_s3_loader_spark.operators.hygiene import (
        strip_boilerplate_lines,
    )

    docs = load_table(spark, sf_dir, "documents")
    marked = docs.select(
        "doc_id",
        F.concat_ws(
            "\n",
            F.lit("(c) example corp - all rights reserved"),
            F.concat(F.lit("doc "), F.col("doc_id").cast("string")),
            F.col("text"),
            F.when(
                F.col("doc_id") % 2 == 0,
                F.lit("subscribe to our newsletter"),
            ).otherwise(
                F.concat(F.lit("ref #"), F.col("doc_id").cast("string"))
            ),
            F.lit("home | about | contact"),
        ).alias("marked"),
    )
    out = strip_boilerplate_lines(marked, "doc_id", "marked", max_doc_freq=5)
    return out.select(
        F.col("id").alias("doc_id"),
        "n_lines",
        "n_removed",
        F.length("clean_text").cast("long").alias("clean_len"),
        F.expr("right(clean_text, 30)").alias("clean_tail"),
    ).orderBy("doc_id")


def q125_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-integer Lloyd k-means over the embedding corpus (k=4, two
    update rounds, floor-quantized to milli-units): every vector's final
    cluster and exact squared distance. The oracle UNROLLS the identical
    iterations in SQL (the q103/HITS discipline) — same deterministic
    lowest-id seeding, same truncating centroid division, same
    tie-to-lowest-cid argmin — so assignments hash-match bit for bit."""
    from snowplow_s3_loader_spark.operators.clustering import kmeans

    emb = load_table(spark, sf_dir, "embeddings")
    assigned, _ = kmeans(emb, "vec_id", "embedding", k=4, n_iter=2, scale=1000)
    return assigned.select(
        F.col("id").alias("vec_id"), "cluster", "dist2"
    ).orderBy("vec_id")


def q126_trailing_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact rolling 7-day active users per observed day from bitmap
    word frames: the stream reduces once to per-(day, word) bitmaps,
    each word row fans out to the <= 7 trailing days it serves, and
    popcounts sum — never a per-window re-scan, no window function over
    the raw stream. The oracle is the INDEPENDENT formulation (a
    day-range self-join with COUNT(DISTINCT)), so the match proves the
    bitmap algebra, not just reproducibility."""
    from snowplow_s3_loader_spark.operators.bitmap import (
        bitmap_trailing_distinct,
    )

    ev = load_table(spark, sf_dir, "events").select(
        F.datediff(F.to_date("ts"), F.to_date(F.lit("2024-01-01")))
        .cast("long")
        .alias("day"),
        "user_id",
    )
    return bitmap_trailing_distinct(ev, "day", "user_id", window_days=7).orderBy(
        "day"
    )


def q127_hybrid_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval via reciprocal-rank fusion (Cormack et al. SIGIR
    2009): two BM25 top-30 lists for different query variants fused by
    sum(1e6 div (60 + rank)) in exact micro-units — the multi-query
    merge pattern, score-scale-free because only ranks participate.
    Candidate set bounded by the union of the top-k lists."""
    from snowplow_s3_loader_spark.operators.retrieval import (
        bm25_corpus_stats,
        bm25_topk,
        reciprocal_rank_fusion,
    )

    docs = load_table(spark, sf_dir, "documents")
    stats = bm25_corpus_stats(docs, "doc_id", "text")
    ra = bm25_topk(
        docs, "doc_id", "text", ["spark", "query", "stream"], k=30,
        corpus_stats=stats,
    )
    rb = bm25_topk(
        docs, "doc_id", "text", ["join", "fast", "merge"], k=30,
        corpus_stats=stats,
    )
    return reciprocal_rank_fusion([ra, rb], k0=60).orderBy("fused_rank")


def q128_embedding_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact second-moment audit of the leading 16 embedding dimensions
    from ONE corpus scan: per (i, j) pair the counts, sums, product sums
    and the integer covariance numerator n*s_ij - s_i*s_j — the input
    PCA/whitening consumes, engine-exact via floor-quantization. The
    d*(d+1)/2 pair table is a broadcast literal; the reduction is one
    keyed aggregation to a pair-table-sized result."""
    from snowplow_s3_loader_spark.operators.clustering import (
        covariance_moments,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    return covariance_moments(emb, "embedding", dims=16, scale=1000).orderBy(
        "i", "j"
    )


def q129_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-40 adjacent-bigram collocations over the document corpus by
    integer lift (the PMI ratio, Church & Hanks 1990) with support >= 5
    — bigrams from one positional zip_with (no self-join), support
    pruned before the unigram joins, distributed top-k. Hash-matched
    against the oracle's identical list-slice zip + arithmetic."""
    from snowplow_s3_loader_spark.operators.text import collocations

    docs = load_table(spark, sf_dir, "documents")
    return collocations(docs, "text", min_count=5, k=40).orderBy("rnk")


def q130_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type winsorization of cents at the exact empirical
    [p10, p90] grid points: one keyed window pass for the integer
    micro-unit percentile ladder, one conditional aggregation for the
    two bounds (broadcast back), pure-expression clipping. Output
    id-sliced; bounds computed over ALL rows."""
    from snowplow_s3_loader_spark.operators.ranking import winsorize

    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        "event_id",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    out = winsorize(
        ev, ["event_type"], "cents", [F.col("event_id")],
        lo_micro=100_000, hi_micro=900_000,
    )
    return (
        out.where(F.col("event_id") % 29 == 0)
        .select(
            "event_type", "event_id", "cents",
            "pct_micro", "lo_bound", "hi_bound", "clipped",
        )
        .orderBy("event_type", "event_id")
    )


def q131_session_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top navigation paths: 30-minute gap sessionization (the q38
    formulation, made total with the event_id tiebreak) + each
    session's first 4 event types as a '>'-joined path, counted — the
    funnel-discovery twin of q38/q108. Paths with >= 5 sessions."""
    from snowplow_s3_loader_spark.operators.behavior import session_paths

    ev = load_table(spark, sf_dir, "events")
    return (
        session_paths(
            ev, "user_id", "ts", "event_type",
            gap_seconds=1800, max_len=4, tie_cols=("event_id",),
            min_count=5,
        )
        .orderBy(F.desc("n_sessions"), "path")
    )


def q132_spearman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact tie-corrected Spearman rank correlation between quantity
    and price (hundreds) on the orderkey%8 lineitem slice: doubled
    average ranks keep every piece BIGINT (d2, per-column tie sums);
    only the final rho expression touches doubles, deterministic
    because both engines evaluate the identical expression on identical
    integers. The slice keeps n inside the ENFORCED 4n^3 < 2^63 bound
    through sf1 (~750k rows)."""
    from snowplow_s3_loader_spark.operators.profile import spearman_moments

    li = load_table(spark, sf_dir, "lineitem").where(
        F.col("l_orderkey") % 8 == 0
    ).select(
        F.col("l_orderkey").alias("rid"),
        F.col("l_quantity").cast("long").alias("qty"),
        F.floor(F.col("l_extendedprice") / 100).alias("price_h"),
    )
    return spearman_moments(li, "qty", "price_h", "rid")


def q133_label_scatter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding-space diagnostics: exact within-class scatter
    trace numerators (n * sum|x|^2 - sum_d s_d^2) per label from one
    scan + one (label, dim)-keyed reduction — the class-separation /
    label-collapse health check, BIGINT-exact via the floor
    quantization bridge."""
    from snowplow_s3_loader_spark.operators.clustering import label_scatter

    emb = load_table(spark, sf_dir, "embeddings")
    return label_scatter(emb, "label", "embedding", scale=1000).orderBy(
        "label"
    )


def q134_topo_layers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Topological layering (Kahn peel) of the divisor DAG over part
    keys mod 4096 (n -> 2n / n -> 3n within the observed key set —
    acyclic by construction, depth ~12, size SF-independent): layer =
    longest path from any in-degree-0 source. The oracle replays it
    with a WITH RECURSIVE path expansion + max(len) — the q106
    recursive-CTE pattern; path multiplicity stays bounded because
    divisor-DAG path counts are binomial in the depth."""
    from snowplow_s3_loader_spark.materialize import release_materialized
    from snowplow_s3_loader_spark.operators.graph import topological_layers

    nodes = (
        load_table(spark, sf_dir, "part")
        .select((F.col("p_partkey") % 4096).alias("n"))
        .where(F.col("n") >= 1)
        .distinct()
    )
    mem = nodes.select(F.col("n").alias("b"))
    edges = None
    for m in (2, 3):
        em = (
            nodes.select("n", (F.col("n") * m).alias("b"))
            .where(F.col("b") <= 4095)
            .join(F.broadcast(mem), "b", "left_semi")
            .select(F.col("n").alias("src"), F.col("b").alias("dst"))
        )
        edges = em if edges is None else edges.unionByName(em)
    res = topological_layers(
        edges, max_rounds=40, nodes=nodes.select(F.col("n").alias("src"))
    )
    rows = res.collect()  # bounded: <= 4095 nodes by construction
    release_materialized(res)
    return spark.createDataFrame(rows, "node long, layer int").orderBy("node")


def q135_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link-prediction scores over the supplier co-occurrence graph
    (the shared q91/q99/q102 input): for non-adjacent supplier pairs
    with >= 2 shared neighbors, the common-neighbor count,
    resource-allocation index (Zhou et al. 2009) and neighborhood
    Jaccard — all in truncating integer micro-units so the oracle's
    identical arithmetic hash-matches. Wedge centers above degree 200
    are excluded (the documented hub knob, mirrored in the oracle);
    top 200 by (ra, cn, u, v) — a total order, so LIMIT is
    deterministic."""
    from snowplow_s3_loader_spark.operators.graph import link_prediction

    res = link_prediction(
        supplier_pairs(spark, sf_dir),
        min_common=2,
        max_wedge_degree=200,
    )
    return res.orderBy(
        F.desc("ra_micro"), F.desc("common_neighbors"), "u", "v"
    ).limit(200)


def q136_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV distinct-count sketch audit per event type over the derived
    (user, event_id mod 97) item key (~97 x |users| distinct items, so
    the ESTIMATOR path — not the exact small-set path — fires at every
    SF): the k=256 sketch's pure-int64 estimate vs the exact distinct
    count with a 25% (4-sigma) bound bit, plus the mergeability
    invariant — sketches of the two event_id-parity halves merged must
    EQUAL the full-build sketch's estimate bit for bit. Deterministic
    md5-48-bit hashes, so the oracle replays the whole pipeline."""
    from snowplow_s3_loader_spark.operators.sketches import (
        kmv_build,
        kmv_estimate,
        kmv_merge,
    )

    k = 256
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        (F.col("user_id") * 131 + F.col("event_id") % 97).alias("item"),
        "event_id",
    )
    grp = ["event_type"]
    est = kmv_estimate(kmv_build(ev, grp, "item", k), grp, k)
    merged = kmv_merge(
        kmv_build(ev.where(F.col("event_id") % 2 == 0), grp, "item", k),
        kmv_build(ev.where(F.col("event_id") % 2 == 1), grp, "item", k),
        grp,
        k,
    )
    est_m = kmv_estimate(merged, grp, k).select(
        "event_type",
        F.col("kmv_n").alias("m_n"),
        F.col("kmv_est").alias("m_est"),
    )
    exact = ev.groupBy("event_type").agg(
        F.count_distinct("item").alias("exact_distinct")
    )
    return (
        est.join(est_m, "event_type")
        .join(exact, "event_type")
        .select(
            "event_type",
            "exact_distinct",
            "kmv_n",
            "kmv_est",
            (
                F.abs(F.col("kmv_est") - F.col("exact_distinct")) * 4
                <= F.col("exact_distinct")
            ).cast("long").alias("bound_ok"),
            (
                (F.col("kmv_est") == F.col("m_est"))
                & (F.col("kmv_n") == F.col("m_n"))
            ).cast("long").alias("merge_match"),
        )
        .orderBy("event_type")
    )


def q137_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing document fingerprints (Schleimer et al. SIGMOD 2003,
    the MOSS scheme) over the doc_id%7 document slice: token 3-gram
    hashes, rightmost window minima at w=4. The Spark side selects via
    the trailing/leading-array exists rule (one keyed sort, no window
    enumeration); the oracle brute-forces every window's
    rightmost-argmin INDEPENDENTLY, so the hash match proves the two
    formulations equivalent — not just the arithmetic."""
    from snowplow_s3_loader_spark.operators.text import winnow_fingerprints

    docs = load_table(spark, sf_dir, "documents").where(F.col("doc_id") % 7 == 0)
    return winnow_fingerprints(docs, "doc_id", "text", k=3, w=4).orderBy(
        "doc_id", "pos"
    )


def q138_event_acf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact autocorrelation of the daily event-count series per event
    type at lags 1..7 — the weekly-seasonality / burstiness diagnostic.
    Integer num/den pieces (mean cleared by multiplying through by n^2,
    the q95/q132 discipline) hash-match; the acf ratio is the single
    final double division both engines evaluate identically. The daily
    rollup keeps n ~ series days and counts within the ENFORCED
    4n^3 max(x)^2 bound through sf1 and beyond."""
    from snowplow_s3_loader_spark.operators.timeseries import acf_moments

    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).alias("day")
    ).agg(F.count("*").alias("n_events"))
    return acf_moments(daily, ["event_type"], "day", "n_events", 7).orderBy(
        "event_type", "lag"
    )


def q139_association(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square association components between event type and the
    user_id%5 cohort: per contingency cell (zero-observed cells
    included), the exact BIGINT deviation n*O - R*C plus the per-cell
    chi-square contribution as the single shared double expression.
    One corpus aggregation; margins and spine are cell-frame-sized."""
    from snowplow_s3_loader_spark.operators.profile import (
        association_components,
    )

    ev = load_table(spark, sf_dir, "events").select(
        "event_type", (F.col("user_id") % 5).alias("cohort")
    )
    out = association_components(ev, "event_type", "cohort")
    return out.select(
        F.col("a").alias("event_type"),
        F.col("b").alias("cohort"),
        # contrib stays unrounded: both engines compute the identical
        # double from identical integers (round() reprs can diverge)
        "observed", "row_total", "col_total", "dev", "contrib",
    ).orderBy("event_type", "cohort")


def q140_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact ROC-AUC (Mann-Whitney U) per user cohort: does the event's
    value rank purchases above other events? Doubled average ranks keep
    U in BIGINT and the micro-unit AUC is a truncating division —
    bit-identical to the oracle's identical rank SQL (ties corrected by
    construction)."""
    from snowplow_s3_loader_spark.operators.ranking import auc_moments

    ev = load_table(spark, sf_dir, "events").select(
        (F.col("user_id") % 4).alias("cohort"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
        (F.col("event_type") == "purchase").cast("int").alias("label"),
    )
    return auc_moments(ev, ["cohort"], "cents", "label").orderBy("cohort")


def q141_ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly OHLC candle bars + exact time-weighted average of the
    event value per event type — the metrics-downsampling / market-data
    summary. Values ride as cents shifted down by 2500 so roughly half
    the ticks are NEGATIVE, exercising the sign-separated truncating
    TWAP division in the live corpus (not just the unit tests).
    Open/close are defined by the TOTAL order (ts, event_id); TWAP is
    sum(cents*dur_us) div sum(dur_us) with the last tick holding to the
    bar end — every piece BIGINT, hash-identical across engines."""
    from snowplow_s3_loader_spark.operators.timeseries import ohlc_bars

    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        "ts",
        "event_id",
        (F.round(F.col("value") * 100).cast("long") - 2500).alias("cents"),
    )
    return ohlc_bars(
        ev, ["event_type"], "ts", "cents", "event_id", unit="hour"
    ).orderBy("event_type", "bucket")


def q142_unigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM (SentencePiece-style) tokenizer training over the
    document corpus (Kudo 2018, hard-EM/Viterbi variant): seed
    substring vocabulary (len<=4, count>=2, rank-capped, singles always
    kept), quantized integer log-prob scores round(ln(c/N)*1e6), one
    broadcast-Viterbi e-step over the (word, freq) frame, one
    vocab-sized m-step. The oracle replays the ENTIRE pipeline in SQL:
    the Viterbi DP as a lockstep recursive CTE carrying the last 4 best
    values, ties to the longest piece, and the backtrack as a second
    recursive CTE — so segmentation, scores and counts are all
    bit-checked. TWO EM iterations run, with the second fully unrolled
    in the oracle (the q125 k-means discipline): iteration 2's vocab is
    iteration 1's used pieces (singles floored at 1), rescored, and the
    entire DP/backtrack replayed. The corpus is touched once."""
    from snowplow_s3_loader_spark.operators import bpe
    from snowplow_s3_loader_spark.materialize import checkpoint_nostats
    from snowplow_s3_loader_spark.operators.unigram import unigram_train

    docs = load_table(spark, sf_dir, "documents")
    wc = checkpoint_nostats(bpe.word_counts(docs, "text"))
    return unigram_train(
        wc, max_piece_len=4, min_count=2, vocab_cap=8192, n_iter=2
    ).orderBy("piece")


def q143_url_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization + URL/domain-level dedup (the standard
    pretraining dedup axis that runs before any content pass). The
    corpus has no URL column, so the query synthesizes deterministic
    MESSY urls from (doc_id, source, lang) — mixed-case schemes/hosts,
    www. prefixes, default and non-default ports, doubled slashes,
    trailing slashes, tracking params in shuffled order, fragments —
    identically in both engines, then canonicalizes with pure
    expressions, dedups with ONE canonical-URL aggregation, and applies
    a per-registered-domain cap ranked by md5 (q58 hash-order
    discipline). Every canonicalization rule is exercised by
    construction; URLs differing only in junk collapse to one row."""
    from snowplow_s3_loader_spark.operators.urls import (
        TWO_LEVEL_SUFFIXES,
        domain_cap,
        url_dedup,
    )

    docs = messy_url_docs(load_table(spark, sf_dir, "documents"))
    # suffix set PINNED to the legacy tuple: the oracle SQL replays
    # exactly these promotions, so the row's hash stays put under
    # vendored-snapshot updates (the packaged PSL is the DEFAULT for
    # library users; co.uk is in both sets, so values match either way)
    return domain_cap(
        url_dedup(docs, "url", "doc_id", suffixes=TWO_LEVEL_SUFFIXES), 3
    ).orderBy("canonical_url")


def messy_url_docs(docs: DataFrame) -> DataFrame:
    """The q143 deterministic messy-URL synthesis (mixed-case schemes and
    hosts, www. prefixes, default/non-default ports, doubled slashes,
    trailing slashes, shuffled tracking params, fragments) — shared by
    the q143 oracle row and the streaming URL-dedup parity family so
    both exercise the identical canonicalization surface."""
    d = F.col("doc_id")
    return docs.withColumn(
        "url",
        F.concat(
            F.when(d % 2 == 0, "https").otherwise("HTTP"),
            F.lit("://"),
            F.when(d % 5 == 0, "WWW.").otherwise(""),
            F.lit("Site"),
            (d % 7).cast("string"),
            F.when(d % 11 == 0, ".co.uk").otherwise(".com"),
            F.when(
                d % 3 == 0,
                F.when(d % 2 == 0, ":443").otherwise(":80"),
            ).otherwise(""),
            F.lit("/"),
            F.col("source"),
            F.when(d % 4 == 0, "//").otherwise(""),
            F.when(d % 6 == 0, "/").otherwise(""),
            F.when(d % 2 == 0, "?utm_source=feed&b=2&a=1").otherwise(
                "?a=1&b=2"
            ),
            F.when(d % 7 == 0, "#frag").otherwise(""),
        ),
    )


def q144_unigram_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer APPLICATION — the pipeline step after q142's training:
    score the seed vocabulary once (the round-1 model), then encode
    every document with the broadcast-Viterbi and aggregate per-doc
    token statistics (words, pieces, chars, truncating pieces-per-word
    in micro-units). One corpus explode + one mapInPandas + ONE
    doc-keyed aggregation — no join of the corpus against anything (a
    repeated word is re-segmented in nanoseconds; a word-keyed dedup
    join would cost a full corpus exchange). The oracle replays the
    identical segmentation via the shared q142 recursive-CTE chain."""
    from snowplow_s3_loader_spark.operators import bpe, unigram
    from snowplow_s3_loader_spark.materialize import checkpoint_nostats

    docs = load_table(spark, sf_dir, "documents")
    wc = checkpoint_nostats(bpe.word_counts(docs, "text"))
    scored = checkpoint_nostats(
        unigram.score_pieces(unigram.seed_vocab(wc, 4, 2, 8192))
    )
    scores = unigram._collect_scores(scored, 8192)
    return unigram.unigram_encode(docs, "doc_id", "text", scores, 4).orderBy(
        "doc_id"
    )


def q145_feature_woe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weight-of-evidence feature diagnostics for the quality-classifier
    story: decile-bin the event value (cents, event_id tiebreak — the
    q94 ntile parity), exact per-bin positive/negative counts for the
    purchase label, the BIGINT lift deviation n_pos*NEG - n_neg*POS,
    and the quantized WOE (single shared double from identical
    integers). The IV ingredients arrive exact; no float accumulation
    crosses the engine boundary."""
    from snowplow_s3_loader_spark.operators.profile import woe_bins

    ev = load_table(spark, sf_dir, "events").select(
        F.round(F.col("value") * 100).cast("long").alias("cents"),
        "event_id",
        (F.col("event_type") == "purchase").cast("int").alias("label"),
    )
    return woe_bins(ev, "cents", "label", k=10, tie_cols=["event_id"]).orderBy(
        "bin"
    )


def q146_dsir_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance resampling (Xie et al. 2023) over the document
    corpus: hashed unigram+bigram bag models (1024 buckets, add-1
    smoothing) for the target slice (lang = 'en') vs the raw pool,
    per-document importance weight = exact int64 sum of quantized
    per-bucket log-ratio micro-nats, and the deterministic top-100
    selection flag (weight DESC, doc_id — a distributed top-k). One
    corpus explode into the checkpointed feature frame; both models are
    bucket-bounded broadcasts; the oracle replays hash, smoothing,
    quantization and selection bit-for-bit."""
    from snowplow_s3_loader_spark.materialize import checkpoint_nostats
    from snowplow_s3_loader_spark.operators.dsir import (
        dsir_select,
        dsir_weights,
    )

    docs = load_table(spark, sf_dir, "documents")
    w = checkpoint_nostats(
        dsir_weights(
            docs, "doc_id", "text", F.col("lang") == "en", n_buckets=1024
        )
    )
    top = dsir_select(w, 100).select("doc_id", F.lit(1).alias("__sel"))
    return (
        w.join(F.broadcast(top), "doc_id", "left")
        .select(
            "doc_id",
            "n_feats",
            "weight_micro",
            F.coalesce("__sel", F.lit(0)).alias("selected"),
        )
        .orderBy("doc_id")
    )


def q147_token_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-balanced deterministic shard assignment — the dataloader
    last mile: permute the corpus by (md5(doc_id), doc_id), cut the
    exclusive running token total into 16 contiguous shards via the
    two-phase distributed prefix sum (literal-boundary buckets + offset map
    offsets, no single-partition stage), and emit per-shard stats. The
    rn ranges tile 1..N contiguously and every shard's token mass is
    within one document of total/16 — both pinned by the oracle's
    window replay of the identical permutation."""
    from snowplow_s3_loader_spark.operators.layout import token_shards
    from snowplow_s3_loader_spark.operators.text import token_count

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", token_count(F.col("text")).alias("n_tokens")
    )
    sh = token_shards(docs, "doc_id", "n_tokens", 16)
    return (
        sh.groupBy("shard")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("tokens"),
            F.min("rn").alias("rn_min"),
            F.max("rn").alias("rn_max"),
            F.min("start").alias("start_min"),
        )
        .orderBy("shard")
    )


def q148_moore_lewis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Moore-Lewis cross-entropy difference filtering (ACL 2010) — the
    classic intelligent-selection rule DSIR descends from, at word
    granularity: per document, the exact int64 difference of its
    bigram log-likelihood under a target-slice (lang = 'en') add-k
    model vs the raw-pool model, both quantized per bigram to
    micro-nats. One exploded + checkpointed bigram stream feeds all
    four vocabulary-sized count tables and the scoring join."""
    from snowplow_s3_loader_spark.operators.lm import moore_lewis_scores

    docs = load_table(spark, sf_dir, "documents")
    return moore_lewis_scores(
        docs, "doc_id", "text", F.col("lang") == "en"
    ).orderBy("id")


def q149_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-occurrence trigram novelty per document under the doc_id
    order — the curation diversity signal (template mass scores low
    without any pair generation): one explode to distinct (doc, gram)
    pairs, one gram-keyed min-id owner aggregation, one gram-keyed join
    back, one doc aggregation; truncating-exact micro ratio."""
    from snowplow_s3_loader_spark.operators.text import ngram_novelty

    docs = load_table(spark, sf_dir, "documents")
    return ngram_novelty(docs, "doc_id", "text", n=3).orderBy("id")


def q150_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-snapshot incremental near-dup gate: history = docs with
    doc_id % 3 != 0 banded into the persisted MinHash store; the new
    snapshot (doc_id % 3 == 0) deterministically mixes genuinely-new
    documents (even ids keep their own text) with replays of a history
    document's text (odd ids copy doc_id - 1, which is always in
    history) — exact dups collide in EVERY band, so the planted is_dup
    labels are fully predictable and both engines replay the portable
    md5 minhash bit-for-bit. History is never re-banded; the only wide
    op against it is one band-keyed semi join."""
    from snowplow_s3_loader_spark.operators.dedup import (
        incremental_minhash_filter,
        minhash_bands,
    )

    docs = load_table(spark, sf_dir, "documents")
    d = F.col("doc_id")
    history = docs.where(d % 3 != 0)
    prev = docs.select(
        (d + 1).alias("doc_id"), F.col("text").alias("__prev")
    )
    new_docs = (
        docs.where(d % 3 == 0)
        .join(prev, "doc_id", "left")
        .select(
            "doc_id",
            F.when(
                (d % 2 == 1) & F.col("__prev").isNotNull(), F.col("__prev")
            )
            .otherwise(F.col("text"))
            .alias("text"),
        )
    )
    store = minhash_bands(history, "doc_id", "text").select(
        "band_id", "band_hash"
    )
    return incremental_minhash_filter(
        new_docs, store, "doc_id", "text"
    ).orderBy("id")


def q151_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population-stability-index drift between two event snapshots
    (even vs odd event ids standing in for week-over-week): equi-depth
    decile edges from the reference, BOTH snapshots counted by the same
    value rule, exact per-bin counts, quantized PSI terms (NULL for
    empty bins — a vanished bin is the loudest drift there is)."""
    from snowplow_s3_loader_spark.operators.profile import psi_bins

    ev = load_table(spark, sf_dir, "events").select(
        F.round(F.col("value") * 100).cast("long").alias("cents"),
        "event_id",
        (F.col("event_type") == "purchase").alias("__p"),
    )
    ref = ev.where(F.col("event_id") % 2 == 0)
    # the current snapshot is deliberately SHIFTED (purchases' cents
    # +700) so the drift signal is non-trivial in every bin
    cur = ev.where(F.col("event_id") % 2 == 1).select(
        (F.col("cents") + F.when(F.col("__p"), 700).otherwise(0)).alias(
            "cents"
        ),
        "event_id",
    )
    return psi_bins(ref, cur, "cents", k=10, tie_cols=["event_id"]).orderBy(
        "bin"
    )


def q152_substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring duplication scoring (Lee et al. 2022 windowed-
    hash form): every aligned 40-char window hashed, a window is
    duplicated when its content occurs 2+ times corpus-wide, per-doc
    duplicated fraction in truncating micro units. One explode, one
    hash-keyed count, one hash-keyed join back — zero pair space."""
    from snowplow_s3_loader_spark.operators.text import (
        substring_duplication,
    )

    docs = load_table(spark, sf_dir, "documents")
    return substring_duplication(
        docs, "doc_id", "text", window=40, stride=20
    ).orderBy("id")


def q153_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov drift between the q151 snapshots
    (even vs odd event ids, purchases' cents shifted +700 in the
    current snapshot) — the bin-free companion to PSI: exact int64
    sup-distance numerator over the union's distinct values via ONE
    packed global prefix sum (both sides' cumulative counts ride one
    int64 through ranking.global_running_total)."""
    from snowplow_s3_loader_spark.operators.profile import ks_statistic

    ev = load_table(spark, sf_dir, "events").select(
        F.round(F.col("value") * 100).cast("long").alias("cents"),
        "event_id",
        (F.col("event_type") == "purchase").alias("__p"),
    )
    ref = ev.where(F.col("event_id") % 2 == 0).select("cents")
    cur = ev.where(F.col("event_id") % 2 == 1).select(
        (F.col("cents") + F.when(F.col("__p"), 700).otherwise(0)).alias(
            "cents"
        )
    )
    return ks_statistic(ref, cur, "cents")


def q154_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf power-law fit of the corpus token-frequency spectrum
    (corpus-health diagnostic): milli-nat quantized (ln rank, ln freq)
    moments over the top-1000 tokens as exact int64 sums, one closing
    slope division on exactly-represented doubles. Token counting is
    the only corpus-scale stage; everything after the distributed
    top-k runs on a k-row frame."""
    from snowplow_s3_loader_spark.operators.text import zipf_fit

    docs = load_table(spark, sf_dir, "documents")
    return zipf_fit(docs, "text", top_k=1000)


def q155_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise source-overlap matrix via KMV bottom-64 MinHash
    signatures over word-trigram shingles — the mixture-design
    diagnostic (how much does source A duplicate source B?): bounded
    per-source sketches, union-merge Jaccard estimates, everything
    after the shingle scan runs on <= |sources|*64 rows."""
    from snowplow_s3_loader_spark.operators.hygiene import word_ngrams
    from snowplow_s3_loader_spark.operators.similarity import (
        kmv_overlap_matrix,
        kmv_signatures,
    )

    docs = load_table(spark, sf_dir, "documents")
    shingles = docs.select(
        "source", F.explode(word_ngrams(F.col("text"), 3)).alias("sh")
    )
    sigs = kmv_signatures(shingles, "source", "sh", k=64)
    return kmv_overlap_matrix(sigs, "source", k=64).orderBy("ga", "gb")


def q156_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability-diagram calibration bins (Naeini et al. 2015 ECE) for
    the q77 hashed-linear quality classifier against an INDEPENDENT
    ground truth (lang = 'en'): raw scores squash into a micro-unit
    pseudo-probability by a clipped integer linear map (sign-separated
    truncating division — the q116 rule, so both engines divide
    positive operands only), then ten equal-width bins collect exact
    (n, n_pos, sum_score) and the ECE numerator. One corpus scan, one
    k-ary aggregation."""
    from snowplow_s3_loader_spark.operators.profile import calibration_bins
    from snowplow_s3_loader_spark.operators.text import hashed_linear_score

    docs = load_table(spark, sf_dir, "documents")
    score, _ = hashed_linear_score(F.col("text"), dim=4096, seed=0)
    base = docs.select(
        score.alias("__s"),
        (F.col("lang") == "en").cast("long").alias("y"),
    )
    squashed = base.select(
        F.least(
            F.greatest(
                F.lit(500_000)
                + F.when(F.col("__s") >= 0, F.expr("__s div 24")).otherwise(
                    -F.expr("(-__s) div 24")
                ),
                F.lit(0).cast("long"),
            ),
            F.lit(1_000_000).cast("long"),
        ).alias("p_micro"),
        "y",
    )
    return calibration_bins(squashed, "p_micro", "y", k=10)


def q157_ab_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion z-test readout per event_type — the A/B
    experiment primitive: variant = user_id parity, success = the user
    logged strictly more events of that type than the per-user average
    (the threshold is the exact integer cross-multiply
    n_t * n_users > total_t — no division anywhere in the success
    rule). Exact counts + one closing double z expression."""
    from snowplow_s3_loader_spark.operators.profile import two_proportion_z

    from snowplow_s3_loader_spark.materialize import checkpoint_nostats

    ev = load_table(spark, sf_dir, "events").where(
        F.col("user_id").isNotNull()
    )
    # the raw stream is scanned ONCE into the bounded (type, user)
    # counts frame (|users| x |types| rows — the experiment's own size,
    # never the event volume); users/types/totals all derive from it,
    # so the checkpoint is bounded-frame pinning, not corpus residency
    counts = checkpoint_nostats(
        ev.groupBy("event_type", "user_id").agg(F.count("*").alias("n_t"))
    )
    users = counts.select("user_id").distinct()
    types = counts.select("event_type").distinct()
    totals = counts.groupBy("event_type").agg(F.sum("n_t").alias("total_t"))
    n_users = users.agg(F.count("*").alias("nu"))
    grid = (
        users.crossJoin(F.broadcast(types))
        .join(counts, ["event_type", "user_id"], "left")
        .join(F.broadcast(totals), "event_type")
        .crossJoin(F.broadcast(n_users))
        .select(
            "event_type",
            (F.col("user_id") % 2 == 0).alias("variant"),
            (
                F.coalesce("n_t", F.lit(0)) * F.col("nu") > F.col("total_t")
            ).cast("long").alias("success"),
        )
    )
    return two_proportion_z(
        grid, "variant", "success", True, False, strata_cols=["event_type"]
    )


def q158_fd_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Functional-dependency / candidate-key profiling across three
    tables: declared contracts that HOLD (o_orderkey is a key;
    event_id determines user_id) next to violated ones (o_custkey does
    not determine order status; (l_orderkey, l_linenumber) is NOT
    unique in this synthetic drop — the kind of surprise FD profiling
    exists to surface). One exact two-level aggregation per declared
    pair."""
    from snowplow_s3_loader_spark.operators.profile import fd_check

    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    ev = load_table(spark, sf_dir, "events")
    o = fd_check(
        orders,
        [(["o_orderkey"], "o_custkey"), (["o_custkey"], "o_orderstatus")],
    ).select(F.lit("orders").alias("tbl"), "*")
    l = fd_check(
        li,
        [
            (["l_orderkey", "l_linenumber"], "l_partkey"),
            (["l_orderkey"], "l_returnflag"),
        ],
    ).select(F.lit("lineitem").alias("tbl"), "*")
    e = fd_check(
        ev,
        [(["event_id"], "user_id"), (["user_id"], "event_type")],
    ).select(F.lit("events").alias("tbl"), "*")
    return o.unionAll(l).unionAll(e).orderBy("tbl", "fd")


def q159_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-level Shannon entropy per document (gibberish /
    encoding-garbage detector): per-term quantized micro-nats, exact
    int64 accumulation, one explode + two aggregations."""
    from snowplow_s3_loader_spark.operators.text import char_entropy

    docs = load_table(spark, sf_dir, "documents")
    return char_entropy(docs, "doc_id", "text").orderBy("id")


def q160_budget_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget-constrained quality selection: keep documents from
    the best q77 classifier score down until 12k kept tokens — the
    greedy prefix rule riding the literal-boundary global running
    total (distributed, nothing materialized). Every document emitted
    with its exclusive better-ranked token mass and keep flag."""
    from snowplow_s3_loader_spark.operators.sampling import (
        quality_budget_select,
    )
    from snowplow_s3_loader_spark.operators.text import (
        hashed_linear_score,
        token_count,
    )

    docs = load_table(spark, sf_dir, "documents")
    score, _ = hashed_linear_score(F.col("text"), dim=4096, seed=0)
    base = docs.select(
        "doc_id",
        score.alias("score_micro"),
        token_count(F.col("text")).cast("long").alias("n_tok"),
    )
    return quality_budget_select(
        base, "doc_id", "score_micro", "n_tok", 12_000
    ).orderBy("id")


def q161_survival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier churn curves per user cohort (user_id % 3): a user
    whose history contains a purchase is an observed event at
    days(first event -> last purchase); everyone else is right-CENSORED
    at their last activity. Exact at-risk/event/censor counts, per-step
    quantized ln terms, integer cumulative curve (no closing exp)."""
    from snowplow_s3_loader_spark.operators.profile import survival_curve

    ev = load_table(spark, sf_dir, "events").where(
        F.col("user_id").isNotNull()
    )
    per_user = ev.groupBy("user_id").agg(
        F.min("ts").alias("__first"),
        F.max("ts").alias("__last"),
        F.max(
            F.when(F.col("event_type") == "purchase", F.col("ts"))
        ).alias("__lastp"),
    )
    subjects = per_user.select(
        (F.col("user_id") % 3).alias("cohort"),
        F.when(
            F.col("__lastp").isNotNull(),
            F.datediff(F.to_date("__lastp"), F.to_date("__first")),
        )
        .otherwise(F.datediff(F.to_date("__last"), F.to_date("__first")))
        .cast("long")
        .alias("dur_days"),
        F.col("__lastp").isNotNull().cast("int").alias("event"),
    )
    return survival_curve(subjects, "cohort", "dur_days", "event")


def q162_bursts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kleinberg two-state burst detection per event_type: exact
    integer Viterbi over the inter-event gap sequence (base rate vs
    2x burst rate, gamma = 1 entry cost), backtracked to the optimal
    burst segmentation — per-key burst counts, mass, longest run and
    the exact DP cost. The oracle replays the full forward DP AND the
    backward pass in lockstep recursive CTEs (the q142 discipline)."""
    from snowplow_s3_loader_spark.operators.timeseries import (
        kleinberg_bursts,
    )

    # deterministic 4x thinning (event_id modulo): thinning a Poisson
    # stream preserves the base/burst rate RATIO, so the burst structure
    # survives while the oracle's backward recursion stays bounded
    # (~n/4 lockstep iterations per key)
    ev = load_table(spark, sf_dir, "events").where(
        F.col("event_id") % 4 == 0
    )
    return kleinberg_bursts(
        ev, "event_type", "ts", "event_id", s_num=2,
        gamma_micro=1_000_000,
    )


def q165_burst_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The burst WINDOWS behind q162's per-key counts — one row per
    maximal burst run (start_ts, end_ts, gap/event counts, integer gap
    mass) from the SAME exact-integer Viterbi and the SAME pinned
    backtrack. Keyed by user bucket (user_id % 40) rather than q162's
    event_type: the per-type merged stream is near-Poisson (zero bursts
    is the DP's correct answer there), while per-user streams carry the
    session structure burst windows exist to plot; gamma = 0.3 prices
    burst entry against that session signal. The oracle replays the
    full DP lockstep-recursively and reduces the burst-state islands to
    intervals."""
    from snowplow_s3_loader_spark.operators.timeseries import (
        kleinberg_burst_intervals,
    )

    ev = load_table(spark, sf_dir, "events").where(
        F.col("user_id").isNotNull()
    )
    keyed = ev.select(
        (F.col("user_id") % 40).alias("ukey"), "ts", "event_id"
    )
    return kleinberg_burst_intervals(
        keyed, "ukey", "ts", "event_id", s_num=2,
        gamma_micro=300_000,
    )


def q166_burst_hierarchy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kleinberg's FULL burst hierarchy (3 states: base, 2x, 4x) on the
    per-user-bucket event streams — not just whether a span is bursty
    (q162) but how deep the burst ladder goes (both levels are
    exercised by the synthetic session structure at every SF). Exact
    integer k-state Viterbi; the oracle replays all three DP columns
    and the pinned stay-else-lowest backtrack in lockstep recursive
    CTEs."""
    from snowplow_s3_loader_spark.operators.timeseries import (
        kleinberg_bursts_multi,
    )

    ev = load_table(spark, sf_dir, "events").where(
        F.col("user_id").isNotNull()
    )
    keyed = ev.select(
        (F.col("user_id") % 40).alias("ukey"), "ts", "event_id"
    )
    return kleinberg_bursts_multi(
        keyed, "ukey", "ts", "event_id", n_states=3, s_num=2,
        gamma_micro=300_000,
    )


def q167_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Offline CUSUM changepoint location per event type: the single
    best mean-shift split of each cents series under the exact integer
    argmax-|A_t| estimator, with left/right segment means — the
    retrospective companion to q115's online CUSUM alarms."""
    from snowplow_s3_loader_spark.operators.timeseries import (
        cusum_changepoint,
    )

    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        "ts",
        "event_id",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    return cusum_changepoint(ev, "event_type", ["ts", "event_id"], "cents")


def q168_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-digit audit of order totals (cents) per order
    priority — the fabricated-/double-scaled-data detector: observed
    vs expected digit frequencies as exact truncating micro fractions,
    expectation quantized once per digit."""
    from snowplow_s3_loader_spark.operators.profile import benford_profile

    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("priority"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    return benford_profile(orders, ["priority"], "cents")


def q169_mutual_information(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information between l_returnflag and l_linestatus — the
    classic TPC-H dependent pair (both derive from shipdate vs the
    receipt/return window): quantized-per-term plug-in entropies and
    their MI in exact integer micro-nats, one scan + distinct-pair
    frame reductions."""
    from snowplow_s3_loader_spark.operators.profile import (
        mutual_information,
    )

    li = load_table(spark, sf_dir, "lineitem")
    return mutual_information(li, "l_returnflag", "l_linestatus")


def q170_isotonic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Isotonic recalibration of the q156 reliability diagram: the
    weighted PAV fit via the quantized minimax identity on truncating
    pooled rates — the remapping a miscalibrated quality classifier
    needs before its scores gate a corpus at a threshold. Same
    squashed-score/ground-truth construction as q156; the fit runs
    entirely on the k-row bin frame."""
    from snowplow_s3_loader_spark.operators.profile import (
        isotonic_calibration,
    )
    from snowplow_s3_loader_spark.operators.text import hashed_linear_score

    docs = load_table(spark, sf_dir, "documents")
    score, _ = hashed_linear_score(F.col("text"), dim=4096, seed=0)
    base = docs.select(
        score.alias("__s"),
        (F.col("lang") == "en").cast("long").alias("y"),
    )
    squashed = base.select(
        F.least(
            F.greatest(
                F.lit(500_000)
                + F.when(F.col("__s") >= 0, F.expr("__s div 24")).otherwise(
                    -F.expr("(-__s) div 24")
                ),
                F.lit(0).cast("long"),
            ),
            F.lit(1_000_000).cast("long"),
        ).alias("p_micro"),
        "y",
    )
    return isotonic_calibration(squashed, "p_micro", "y", k=10)


def q171_cuped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance-reduced A/B readout on the event stream: units =
    users (variant by user parity, the q157 convention), metric = each
    user's post-period spend (whole units, Jan 16-30), covariate = the
    same user's PRE-period spend (Jan 1-15 — the canonical CUPED
    covariate). Exact integer moments, one closing double per variant
    row mirrored node for node in the oracle."""
    from snowplow_s3_loader_spark.operators.profile import (
        cuped_adjusted_means,
    )

    ev = load_table(spark, sf_dir, "events").where(
        F.col("user_id").isNotNull()
    )
    split = "2024-01-16 00:00:00"
    per_user = ev.groupBy("user_id").agg(
        F.coalesce(
            F.sum(
                F.when(
                    F.col("ts") < F.lit(split).cast("timestamp_ntz"),
                    F.round(F.col("value")).cast("long"),
                )
            ),
            F.lit(0),
        ).alias("pre_units"),
        F.coalesce(
            F.sum(
                F.when(
                    F.col("ts") >= F.lit(split).cast("timestamp_ntz"),
                    F.round(F.col("value")).cast("long"),
                )
            ),
            F.lit(0),
        ).alias("post_units"),
    )
    units = per_user.select(
        F.when(F.col("user_id") % 2 == 0, F.lit("A"))
        .otherwise(F.lit("B"))
        .alias("variant"),
        "post_units",
        "pre_units",
    )
    return cuped_adjusted_means(units, "variant", "post_units", "pre_units")


def q163_truncation_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-truncation quality audit: exact cosine top-5 under the
    full 64 dims vs the first 16, per-query overlap as recall_micro —
    the measurement behind every 'search on a prefix of the vector'
    cost cut. Both sides ride brute_force_topk's deterministic ranking
    contract, so the only approximation measured is the truncation."""
    from snowplow_s3_loader_spark.operators.similarity import (
        truncation_recall,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    return truncation_recall(
        emb, F.col("vec_id") % 100 == 0, k=5, dims_keep=16
    )


def q164_charset_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-class composition per document (letters / digits /
    spaces / non-ASCII / other as exact truncating micro fractions) —
    the encoding-health companion to q159's entropy."""
    from snowplow_s3_loader_spark.operators.text import charset_mix

    docs = load_table(spark, sf_dir, "documents")
    return charset_mix(docs, "doc_id", "text").orderBy("id")


QUERIES = {
    fn.__name__: fn
    for fn in [
        q01_scan_filter_project,
        q02_pricing_summary,
        q03_broadcast_join,
        q04_shipping_priority,
        q05_semi_join,
        q06_anti_join,
        q07_window_topn_per_customer,
        q08_running_revenue,
        q09_rollup_revenue,
        q10_count_distinct,
        q11_set_ops,
        q12_scalar_functions,
        q13_topk_recent_events,
        q14_dedup_events,
        q15_sdj_parse,
        q16_bad_row_classify,
        q17_size_violation_trim,
        q18_enriched_parse,
        q19_partition_paths,
        q20_batch_group_bytes,
        q21_latency_metric,
        q22_loader_roundtrip,
        q23_dedup_exact,
        q24_token_jaccard,
        q25_minhash_lsh,
        q26_simhash,
        q27_ann_topk,
        q28_ann_srp,
        q29_lang_id,
        q30_text_quality,
        q31_token_corpus_stats,
        q32_fingerprint,
        q33_multimodal_features,
        q34_frame_sample,
        q35_cube_revenue,
        q36_grouping_sets,
        q37_approx_distinct,
        q38_sessionization,
        q39_range_join,
        q40_asof_join,
        q41_brand_revenue,
        q42_supplier_rank,
        q43_scalar_subquery,
        q44_not_exists,
        q45_full_outer_join,
        q46_json_extract,
        q47_subword_tokens,
        q48_ann_ivf,
        q49_grouped_percentiles,
        q50_embedding_near_dup,
        q51_null_handling,
        q52_array_functions,
        q53_window_analytics,
        q54_pivot,
        q55_unpivot,
        q56_ngram_jaccard,
        q57_time_bucket_gapfill,
        q58_deterministic_split,
        q59_map_functions,
        q60_image_stats,
        q61_stratified_sample,
        q62_sequence_packing,
        q63_regexp_functions,
        q64_conditional_functions,
        q65_dedup_clusters,
        q66_repetition_quality,
        q67_tfidf_top_terms,
        q68_bm25_search,
        q70_chunk_documents,
        q71_semantic_dedup,
        q72_leakage_safe_split,
        q73_group_reservoir,
        q74_bloom_semi_join,
        q75_heavy_hitters,
        q76_zorder_layout,
        q77_quality_classifier,
        q78_approx_quantiles,
        q79_token_budget_mixture,
        q80_ffd_packing,
        q81_robust_outliers,
        q82_containment_pairs,
        q83_pagerank,
        q84_cdc_merge,
        q85_gopher_rules,
        q86_incremental_agg,
        q87_quantize_embeddings,
        q88_funnel,
        q89_cohort_retention,
        q90_interval_overlap,
        q91_triangle_count,
        q92_profile_events,
        q93_frequent_pairs,
        q94_equi_depth_histogram,
        q95_exact_correlation,
        q97_quality_checks,
        q98_bpe_tokenizer,
        q99_random_walks,
        q100_attribution,
        q101_pq_ann,
        q102_k_core,
        q103_hits,
        q104_scd2_history,
        q105_fuzzy_join,
        q106_bfs_distances,
        q107_snapshot_diff,
        q108_transition_matrix,
        q109_rolling_anomalies,
        q110_cms_frequency,
        q111_markup_strip,
        q112_label_propagation,
        q113_bitmap_distinct,
        q114_skyline,
        q115_cusum,
        q116_group_trend,
        q117_item_similarity,
        q118_weighted_sample,
        q119_skew_report,
        q120_join_explosion,
        q121_quantile_rank,
        q122_group_mode,
        q123_phrase_search,
        q124_line_dedup,
        q125_kmeans,
        q126_trailing_distinct,
        q127_hybrid_search,
        q128_embedding_covariance,
        q129_collocations,
        q130_winsorize,
        q131_session_paths,
        q132_spearman,
        q133_label_scatter,
        q134_topo_layers,
        q135_link_prediction,
        q136_kmv_distinct,
        q137_winnow_fingerprints,
        q138_event_acf,
        q139_association,
        q140_auc,
        q141_ohlc_bars,
        q142_unigram_lm,
        q143_url_dedup,
        q144_unigram_encode,
        q145_feature_woe,
        q146_dsir_selection,
        q147_token_shards,
        q148_moore_lewis,
        q149_ngram_novelty,
        q150_incremental_dedup,
        q151_psi_drift,
        q152_substring_dedup,
        q153_ks_drift,
        q154_zipf_fit,
        q155_source_overlap,
        q156_calibration,
        q157_ab_test,
        q158_fd_profile,
        q159_char_entropy,
        q160_budget_select,
        q161_survival,
        q162_bursts,
        q163_truncation_recall,
        q164_charset_mix,
        q165_burst_intervals,
        q166_burst_hierarchy,
        q167_changepoint,
        q168_benford,
        q169_mutual_information,
        q170_isotonic,
        q171_cuped,
    ]
}
