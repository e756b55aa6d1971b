"""Worked example: an end-to-end training-data curation pipeline over the
documents corpus — the workflow this engine adds on top of the loader.

Stages (each one a first-class operator elsewhere in the repo):
  1. exact dedup (md5 digest groupBy)
  2. near-dup pair generation (token-Jaccard, PPJoin prefix filter)
  3. dedup clustering (connected components) -> keep one canonical doc
  4. hygiene: benchmark decontamination, cross-document repeated-span
     removal (ExactSubstr-style), PII redaction
  5. quality gating: Gopher-style repetition signals + bigram-LM
     cross-entropy band + hashed-linear classifier scores
  6. corpus statistics: Misra-Gries heavy hitters (induced stopword
     candidates, bounded state however large the vocabulary)
  7. target-likeness selection: DSIR importance weights (hashed
     n-gram bag models vs the 'en' slice) — keep the top half
  8. deterministic train/val/test split of the survivors
  9. z-order layout write of the train split (multi-column file
     skipping for downstream readers) + token-balanced shard
     assignment (the dataloader hand-off)

Run:  PYTHONPATH=. python examples/curation_pipeline.py [sf_dir]
"""

from __future__ import annotations

import sys
import tempfile

from pyspark.sql import functions as F

from snowplow_s3_loader_spark.materialize import release_materialized
from snowplow_s3_loader_spark.operators import hygiene
from snowplow_s3_loader_spark.operators.dedup import exact_dedup, token_jaccard_pairs
from snowplow_s3_loader_spark.operators.dsir import dsir_select, dsir_weights
from snowplow_s3_loader_spark.operators.graph import dedup_keep_canonical
from snowplow_s3_loader_spark.operators.lm import bigram_lm_scores
from snowplow_s3_loader_spark.operators.sampling import deterministic_split
from snowplow_s3_loader_spark.operators.layout import token_shards, zorder_repartition
from snowplow_s3_loader_spark.operators.sketches import heavy_hitters
from snowplow_s3_loader_spark.operators.text import (
    hashed_linear_score,
    repetition_stats,
    token_count,
)
from snowplow_s3_loader_spark.session import get_spark
from snowplow_s3_loader_spark.tables import load_table


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark(app_name="curation-pipeline")
    docs = load_table(spark, sf_dir, "documents")
    n0 = docs.count()

    # 1) exact dedup
    docs = exact_dedup(docs, ["text"], ["doc_id"])
    n1 = docs.count()

    # 2+3) near-dup pairs -> clusters -> canonical member survives
    blocked = docs.withColumn("blk", F.col("lang"))
    pairs = token_jaccard_pairs(blocked, "doc_id", "text", ["blk"], threshold=0.8)
    docs = dedup_keep_canonical(docs, pairs, "doc_id")
    n2 = docs.count()

    # 4) decontamination vs a benchmark slice + PII masking
    benchmark = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") % 97 == 0)
    contam = hygiene.ngram_contamination(docs, benchmark, "doc_id", "text", n=5)
    keep_ids = contam.filter(~F.col("contaminated")).select(F.col("id").alias("doc_id"))
    docs = docs.join(keep_ids, "doc_id", "left_semi")
    red = hygiene.redaction_report(docs, "doc_id", "text")
    docs = docs.drop("text").join(
        red.select(F.col("id").alias("doc_id"), F.col("redacted").alias("text")),
        "doc_id",
    )
    spans = hygiene.remove_repeated_spans(docs, "doc_id", "text", k=8)
    docs = docs.drop("text").join(
        spans.select(F.col("id").alias("doc_id"), F.col("cleaned_text").alias("text")),
        "doc_id",
    ).filter(F.length("text") > 0)
    n3 = docs.count()

    # 5) quality gates: repetition + LM cross-entropy band
    rep = repetition_stats(docs, "doc_id", "text")
    lm = bigram_lm_scores(docs, "doc_id", "text")
    bounds = lm.filter(F.col("lm_cross_entropy").isNotNull()).agg(
        F.expr("percentile_approx(lm_cross_entropy, 0.05)").alias("lo"),
        F.expr("percentile_approx(lm_cross_entropy, 0.95)").alias("hi"),
    ).first()
    good_ids = (
        rep.filter(F.col("keep"))
        .select(F.col("id").alias("doc_id"))
        .join(
            lm.filter(
                F.col("lm_cross_entropy").between(bounds["lo"], bounds["hi"])
            ).select(F.col("id").alias("doc_id")),
            "doc_id",
            "left_semi",
        )
    )
    docs = docs.join(good_ids, "doc_id", "left_semi")
    # model-based quality signal kept alongside (hashed-linear scoring;
    # swap the deterministic weights for a trained model's)
    score, label = hashed_linear_score(F.col("text"))
    docs = docs.select("*", score, label)
    n4 = docs.count()

    # 6) corpus statistics: induced stopword candidates via bounded-state
    # Misra-Gries (the exact groupBy would carry the whole vocabulary)
    top = heavy_hitters(docs, "text", capacity=512, k=8).collect()

    # 7) target-likeness selection (DSIR): weight every survivor by how
    # much more likely its hashed n-gram bag is under the 'en' slice
    # than under the whole pool, keep the top half (deterministic)
    w = dsir_weights(docs, "doc_id", "text", F.col("lang") == "en", n_buckets=1024)
    k_keep = max(1, w.count() // 2)
    kept = dsir_select(w, k_keep).select("doc_id")
    docs = docs.join(F.broadcast(kept), "doc_id", "left_semi")
    n5 = docs.count()

    # 8) deterministic split
    split = deterministic_split(docs, "doc_id", {"train": 0.9, "val": 0.05, "test": 0.05})
    counts = {r["split"]: r["n"] for r in split.groupBy("split").agg(F.count("*").alias("n")).collect()}

    # 9) z-order the train split on (lang-bucket, doc length) so
    # downstream per-language or per-length readers skip files
    train = split.filter(F.col("split") == "train")
    laid_out = zorder_repartition(
        train,
        [(F.xxhash64("lang"), 16), (F.length("text"), 1024)],
        num_partitions=8,
        bits=10,
    )
    out_dir = tempfile.mkdtemp(prefix="curated_train_")
    laid_out.drop("__zval").write.mode("overwrite").parquet(out_dir)

    # dataloader hand-off: token-balanced contiguous shards of the train
    # split under the md5 permutation (each shard ~equal token mass)
    shards = token_shards(
        train.select("doc_id", token_count(F.col("text")).alias("n_tokens")),
        "doc_id",
        "n_tokens",
        8,
    )
    shard_stats = {
        r["shard"]: r["tok"]
        for r in shards.groupBy("shard")
        .agg(F.sum("n_tokens").alias("tok"))
        .collect()
    }

    release_materialized(pairs)
    print(f"input                      : {n0}")
    print(f"after exact dedup          : {n1}")
    print(f"after near-dup clustering  : {n2}")
    print(f"after decontamination      : {n3}")
    print(f"after quality gates        : {n4}")
    print(f"after DSIR selection       : {n5}")
    print(f"top tokens (MG sketch)     : {[r['token'] for r in top]}")
    print(f"splits                     : {counts}")
    print(f"train written z-ordered to : {out_dir}")
    print(f"shard token masses         : {shard_stats}")
    spark.stop()


if __name__ == "__main__":
    main()
