"""Worked example: data-quality-gated tokenizer training — the
pre-training-adjacent workflow the round-7 operators add.

Stages (each a first-class operator elsewhere in the repo):
  1. declarative data-quality gate on the raw corpus (null / uniqueness
     / accepted-values / range checks, one scan for the whole list) —
     the pipeline REFUSES to train on a corpus whose hard checks fail
  2. distributed BPE tokenizer training (corpus touched once: one
     shuffle to the word-frequency vocabulary, then vocabulary-sized
     merge rounds)
  3. encode the corpus with the trained vocabulary (broadcast join —
     merges are never replayed against the corpus)
  4. pack the encoded streams into fixed-budget training sequences
  5. graph side: deterministic random walks over the document
     similarity graph (hash-seeded, reproducible) — the sampling
     primitive for embedding-style training corpora
  6. unigram-LM alternative (round 9): train the SentencePiece-style
     tokenizer on the same corpus (two hard-EM iterations) and compare
     its pieces-per-word compression against BPE's

Run:  PYTHONPATH=. python examples/tokenizer_pipeline.py [sf_dir]
"""

from __future__ import annotations

import sys

from pyspark.sql import functions as F

from snowplow_s3_loader_spark.materialize import checkpoint_nostats, release_materialized
from snowplow_s3_loader_spark.operators import checks as C
from snowplow_s3_loader_spark.operators import dedup
from snowplow_s3_loader_spark.operators.bpe import bpe_encode, bpe_train
from snowplow_s3_loader_spark.operators.graph import random_walks
from snowplow_s3_loader_spark.operators.text import pack_sequences
from snowplow_s3_loader_spark.session import get_spark
from snowplow_s3_loader_spark.tables import load_table


def main(sf_dir: str) -> None:
    spark = get_spark(app_name="tokenizer_pipeline", master="local[4]",
                      shuffle_partitions=4)

    docs = load_table(spark, sf_dir, "documents")

    # 1. quality gate: hard checks must pass before any training
    suite = C.check_suite(
        docs,
        [
            C.not_null("doc_id"),
            C.not_null("text"),
            C.unique("doc_id"),
            C.in_set("lang", ("en", "de", "es", "fr", "zh")),
        ],
    ).collect()
    for r in suite:
        print(f"  check {r['check_name']:24s} metric={r['metric']:<6d} "
              f"{'PASS' if r['passed'] else 'FAIL'}")
    hard_failures = [r["check_name"] for r in suite if not r["passed"]]
    if hard_failures:
        raise SystemExit(f"corpus failed hard quality checks: {hard_failures}")

    # 2. train the tokenizer (corpus -> vocabulary once, then cheap rounds)
    merges, vocab = bpe_train(docs, "text", n_merges=12)
    print(f"  learned {len(merges)} merges; first five: {merges[:5]}")

    # 3. encode with the trained segmentation (broadcast join, no replay)
    encoded = bpe_encode(docs, "doc_id", "text", vocab)
    per_doc = encoded.groupBy("id").agg(F.count("*").alias("n_units"))

    # 4. pack into fixed-budget training sequences
    packed = pack_sequences(
        per_doc.select(F.col("id").alias("doc_id"), F.col("n_units")),
        order_cols=["doc_id"], token_count_col=F.col("n_units"), budget=4096,
    )
    n_packs = packed.agg(F.count_distinct("pack_id")).collect()[0][0]
    print(f"  packed {per_doc.count()} docs into {n_packs} sequences of <=4096 units")
    release_materialized(vocab)

    # 5. reproducible random walks over the near-dup similarity graph
    pairs = dedup.token_jaccard_pairs(
        docs.filter(F.col("doc_id") % 10 == 0), "doc_id", "text", ["lang"],
        threshold=0.3,
    )
    walks = random_walks(
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst")),
        walk_length=3, seed=0,
    )
    print(f"  sampled {walks.count()} walk steps over the similarity graph")
    release_materialized(pairs)

    # 6. unigram-LM alternative: same corpus, the other tokenizer family
    from snowplow_s3_loader_spark.operators import bpe as B
    from snowplow_s3_loader_spark.operators import unigram as U

    wc = checkpoint_nostats(B.word_counts(docs, "text"))
    trained = U.unigram_train(wc, max_piece_len=4, min_count=2,
                              vocab_cap=4096, n_iter=2)
    n_pieces_vocab = trained.count()
    scores = U._collect_scores(
        checkpoint_nostats(
            U.score_pieces(U.seed_vocab(wc, 4, 2, 4096))
        ),
        4096,
    )
    enc = U.unigram_encode(docs, "doc_id", "text", scores, 4)
    stats = enc.agg(
        F.sum("n_pieces").alias("p"), F.sum("n_words").alias("w")
    ).collect()[0]
    print(f"  unigram: {n_pieces_vocab} used pieces after 2 EM iterations; "
          f"{stats['p'] / stats['w']:.2f} pieces/word on the corpus")
    spark.stop()
    print("tokenizer pipeline complete.")


if __name__ == "__main__":
    main(sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001")
