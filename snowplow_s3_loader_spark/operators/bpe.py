"""Distributed BPE tokenizer training (round 7) — learn byte-pair-
encoding merges from a corpus and encode with them (Sennrich et al.
2016, "Neural Machine Translation of Rare Words with Subword Units").
The tokenizer-training step of an LLM data pipeline; beyond the
reference's surface (its loader has no relational layer,
Processing.scala:69-77).

Scale design — the corpus is touched EXACTLY ONCE:
- ``word_counts`` reduces the corpus to its vocabulary with one
  corpus-scale shuffle: (word, freq). Everything after operates on the
  vocabulary frame, which is orders of magnitude smaller (Heaps' law)
  and stays so however many merge rounds run.
- each training round is one vocabulary-sized aggregation (weighted
  adjacent-pair counts) + a 1-row argmax collect + a pure-expression
  merge fold over the symbol arrays. Rounds chain lazily with a
  checkpoint_nostats every few rounds (the stats-compounding lesson
  from the graph loops); words are short, so the O(len^2) array fold
  per word is trivially bounded.
- ``bpe_encode`` never applies merges to the corpus: the trained
  vocabulary frame IS the word -> segmentation mapping, so encoding is
  tokenize + broadcast-join + explode. Unseen words fall back to
  character symbols (the standard OOV behavior).

Determinism: pair selection ties break (count desc, pair asc); the
merge fold is left-to-right greedy non-overlapping ("aaaa" + merge
(a,a) -> "aa","aa") — both pinned by a pure-python differential test.
Symbols after a merge are multi-character, so pair identity uses the
\\x1f unit separator (cannot appear in whitespace-tokenized text), which
is also what makes the round-1 pair statistics SQL-expressible for the
DuckDB oracle (chr(31) concat of adjacent chars).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from snowplow_s3_loader_spark.materialize import (
    checkpoint_nostats,
    release_materialized,
)
from snowplow_s3_loader_spark.operators.text import tokens

SEP = "\x1f"


def word_counts(df: DataFrame, text_col: str) -> DataFrame:
    """(word, freq) over the whitespace-tokenized corpus — the ONE
    corpus-scale pass of BPE training."""
    return (
        df.select(F.explode(tokens(F.col(text_col))).alias("word"))
        .where(F.length("word") > 0)
        .groupBy("word")
        .agg(F.count("*").cast("long").alias("freq"))
    )


def _adjacent_pairs(syms: Column) -> Column:
    """All adjacent symbol pairs (overlapping positions — the classic
    counting rule), encoded 'a<SEP>b'."""
    return F.zip_with(
        F.slice(syms, 1, F.size(syms) - 1),
        F.slice(syms, 2, F.size(syms) - 1),
        lambda a, b: F.concat_ws(SEP, a, b),
    )


def pair_counts(
    words: DataFrame, syms_col: str = "syms", width: int | None = None
) -> DataFrame:
    """Weighted adjacent-pair counts over the vocabulary frame:
    (pair, n) with n = sum of word freq per adjacent occurrence.

    The aggregation plans its own exchange with a MAP-SIDE PARTIAL SUM
    below it, so the shuffle carries at most the distinct adjacent
    pairs seen per map partition, never the raw per-occurrence explode
    (round 13 — the former explicit repartition on the group key
    satisfied the agg's required distribution up front, which
    suppressed the partial and shipped every exploded row). ``width``,
    when given, narrows the post-aggregation layout for consumers that
    want few output partitions; the training loop's TakeOrdered top-1
    needs no layout, so it passes None and each round is exactly one
    partial+final aggregation."""
    exploded = words.select(
        F.explode(_adjacent_pairs(F.col(syms_col))).alias("pair"), "freq"
    )
    out = exploded.groupBy("pair").agg(F.sum("freq").cast("long").alias("n"))
    if width is not None:
        out = out.repartition(width, "pair")
    return out


def _merge_fold(syms: Column, a: str, b: str) -> Column:
    """Left-to-right greedy non-overlapping merge of adjacent (a, b)
    into a+b — an array fold; a freshly merged symbol never re-merges as
    the left element of the same pair (a+b != a since b is non-empty)."""
    return F.aggregate(
        syms,
        F.array().cast("array<string>"),
        lambda acc, x: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(a))
            & (x == F.lit(b)),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1), F.array(F.lit(a + b))
            ),
        ).otherwise(F.concat(acc, F.array(x))),
    )


def bpe_train(
    df: DataFrame, text_col: str, n_merges: int
) -> tuple[list[tuple[str, str]], DataFrame]:
    """Learn ``n_merges`` BPE merges. Returns (merges, vocab) where
    merges is the ordered list of (left, right) symbol pairs and vocab
    is the MATERIALIZED (word, freq, syms) frame holding every word's
    final segmentation — the encode-time lookup table. Callers release
    vocab via release_materialized when done."""
    return bpe_train_from_words(word_counts(df, text_col), n_merges)


def bpe_train_from_words(
    words_freq: DataFrame, n_merges: int
) -> tuple[list[tuple[str, str]], DataFrame]:
    """Train from a precomputed (word, freq) frame — the entry point
    when the caller already reduced the corpus (shares the single
    corpus pass with other vocabulary consumers). Each round is ONE
    partial+final pair aggregation feeding a distributed top-1 (see
    pair_counts — the map-side partial keeps per-round shuffle bytes
    bounded by the distinct pair set at any vocabulary size)."""
    if n_merges < 1:
        raise ValueError(f"n_merges must be >= 1, got {n_merges}")
    words = checkpoint_nostats(
        words_freq.withColumn("syms", F.split("word", ""))
    )
    merges: list[tuple[str, str]] = []
    last_ck = words
    cur = words
    for r in range(n_merges):
        top = (
            pair_counts(cur)
            .orderBy(F.desc("n"), "pair")
            .limit(1)
            .collect()
        )
        if not top:  # vocabulary fully merged — nothing adjacent remains
            break
        a, b = top[0]["pair"].split(SEP, 1)
        merges.append((a, b))
        cur = cur.withColumn("syms", _merge_fold(F.col("syms"), a, b))
        if (r + 1) % 4 == 0 and r != n_merges - 1:
            cur = checkpoint_nostats(cur)
            release_materialized(last_ck)
            last_ck = cur
    out = checkpoint_nostats(cur)
    release_materialized(last_ck)
    return merges, out


def bpe_encode(
    df: DataFrame,
    id_col: str,
    text_col: str,
    vocab: DataFrame,
    broadcast_vocab: bool = True,
) -> DataFrame:
    """(id, pos, sym): the corpus encoded with a trained vocabulary —
    tokenize, join each word to its learned segmentation (broadcast by
    default: the vocab is tiny next to the corpus), explode symbols in
    order. Words absent from the vocab fall back to character symbols.
    ``pos`` is (word_index, sym_index)-ordered and dense per document."""
    toks = df.select(
        F.col(id_col).alias("id"),
        F.posexplode(tokens(F.col(text_col))).alias("wpos", "word"),
    ).where(F.length("word") > 0)
    v = vocab.select("word", F.col("syms").alias("__vsyms"))
    if broadcast_vocab:
        v = F.broadcast(v)
    seg = toks.join(v, "word", "left").select(
        "id",
        "wpos",
        F.coalesce(F.col("__vsyms"), F.split("word", "")).alias("__syms"),
    )
    return (
        seg.select("id", "wpos", F.posexplode("__syms").alias("spos", "sym"))
        .select(
            "id",
            (F.col("wpos").cast("long") * F.lit(1_000_000) + F.col("spos")).alias(
                "pos"
            ),
            "sym",
        )
    )
