"""Text-analysis operators for training-data pipelines (SURVEY.md SS7.8).

All hot-path math is built-in column expressions (JVM-side, codegen) — no
Python UDFs. Token model: whitespace-separated, identical to the DuckDB
oracle's string_split_regex(text, ' +') so results hash-match.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Small per-language stopword sets for the n-gram/stopword language-ID
# heuristic. Deliberately tiny + deterministic; the same inline lists are
# embedded in the DuckDB oracle.
STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "and", "of", "to", "in", "is"),
    "de": ("der", "die", "das", "und", "ist"),
    "es": ("el", "la", "los", "y", "es"),
    "fr": ("le", "les", "et", "est", "une"),
    "zh": ("de", "shi", "le"),
}

QUALITY_STOPWORDS = STOPWORDS["en"]


def tokens(text: Column) -> Column:
    """Whitespace tokens ('' never appears: split on runs of spaces)."""
    return F.split(F.trim(text), " +")


def token_count(text: Column) -> Column:
    return F.size(tokens(text))


def avg_token_length(text: Column) -> Column:
    toks = tokens(text)
    total = F.aggregate(toks, F.lit(0), lambda acc, t: acc + F.length(t))
    return total.cast("double") / F.size(toks)


def punct_count(text: Column) -> Column:
    """Characters outside [a-zA-Z0-9 ] — formula shared with the oracle
    (length minus punctuation-stripped length) to avoid regexp-count
    semantic drift. (Round 6 fix: the character class was previously
    un-negated, so this counted ALPHANUMERICS and quality_score rewarded
    punctuation-heavy text; Spark and oracle shared the inversion, so
    hashes matched while the semantics were backwards.)"""
    return F.length(text) - F.length(F.regexp_replace(text, "[^a-zA-Z0-9 ]", ""))


def punct_ratio(text: Column) -> Column:
    return punct_count(text).cast("double") / F.length(text)


def stopword_ratio(text: Column, stopwords: tuple[str, ...] = QUALITY_STOPWORDS) -> Column:
    toks = tokens(text)
    hits = F.size(F.filter(toks, lambda t: t.isin(*stopwords)))
    return hits.cast("double") / F.size(toks)


def quality_score(text: Column) -> Column:
    """Composite document-quality score in [0,1]:
    0.4*min(1, n_tokens/50) + 0.3*(1-punct_ratio) + 0.3*stopword_presence."""
    return (
        F.lit(0.4) * F.least(F.lit(1.0), token_count(text).cast("double") / 50.0)
        + F.lit(0.3) * (F.lit(1.0) - punct_ratio(text))
        + F.lit(0.3) * stopword_ratio(text)
    )


def stopword_hits(text: Column, lang: str) -> Column:
    return F.size(F.filter(tokens(text), lambda t: t.isin(*STOPWORDS[lang])))


def predicted_lang(text: Column) -> Column:
    """Language-ID heuristic: most stopword hits wins; ties -> 'unknown' if
    zero hits, else lexicographically-smallest language code (deterministic,
    mirrored in the oracle CASE chain)."""
    hits = {lang: stopword_hits(text, lang) for lang in sorted(STOPWORDS)}
    best = F.greatest(*hits.values())
    pred = F.lit("unknown")
    # later (lexicographically larger) langs only win with strictly more hits,
    # so fold from largest to smallest code with >= on the way down
    for lang in sorted(STOPWORDS, reverse=True):
        pred = F.when(hits[lang] == best, F.lit(lang)).otherwise(pred)
    return F.when(best > 0, pred).otherwise(F.lit("unknown"))


BPE_ISH_REGEX = r"[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]"


def subword_tokens(text: Column) -> Column:
    """BPE-ish regex tokenization: letter runs, digit runs, and single
    punctuation marks as separate tokens (the pre-tokenization step of
    BPE-family tokenizers). regexp_extract_all keeps it JVM-side."""
    return F.regexp_extract_all(text, F.lit(BPE_ISH_REGEX), 0)


def subword_count(text: Column) -> Column:
    return F.size(subword_tokens(text))


def fingerprint(text: Column) -> Column:
    """Deterministic document fingerprint: md5 of whitespace-collapsed,
    lowercased text (a cheap rolling-hash stand-in; identical in DuckDB)."""
    return F.md5(F.lower(F.regexp_replace(F.trim(text), " +", " ")).cast("binary"))


def pack_sequences(
    df,
    order_cols: list[str],
    token_count_col,
    budget: int,
    group_cols: list[str] | None = None,
    pack_col: str = "pack_id",
):
    """Concat-and-chunk sequence packing — the standard LLM-pretraining pack
    layout: documents are laid end-to-end in a deterministic order and the
    token stream is cut every `budget` tokens; a document belongs to the
    pack its START offset falls into.

    pack_id = floor((cumsum(tokens) - tokens) / budget), a window cumsum —
    one shuffle on the grouping keys, no stateful iteration. With
    `group_cols` the stream (and the window partition) is per group, which
    is also what bounds the window at scale: pack within shards/languages,
    never over one global ordering.
    """
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    group_cols = group_cols or []
    w = Window.partitionBy(*group_cols).orderBy(*order_cols).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    start_offset = F.sum(token_count_col).over(w) - token_count_col
    return df.withColumn(
        pack_col, F.floor(start_offset / F.lit(budget)).cast("long")
    ).withColumn("pack_offset", (start_offset % F.lit(budget)).cast("long"))


def pack_sequences_ffd(
    df,
    id_col: str,
    token_count_col: str,
    budget: int,
    group_cols: list[str] | None = None,
):
    """First-fit-decreasing bin packing of documents into token-budget
    packs — the padding-minimizing alternative to pack_sequences'
    concat-and-chunk layout (FFD uses at most 11/9*OPT + 2/3 bins,
    Dosa 2007; concat-chunk splits documents across pack boundaries
    instead). Documents longer than the budget get a pack of their own,
    flagged oversize.

    Returns (group_cols..., id, n_tokens, pack_id, pack_fill, oversize)
    with pack_id dense from 0 per group and pack_fill the pack's total
    AFTER this document (the last row per pack carries its final fill).

    Scale shape: FFD is inherently sequential per group, so it runs as
    applyInPandas over the caller's groups — the same contract as
    pack_sequences' group_cols: pack within shards/languages/date
    buckets, never one global group, and the per-group doc list must fit
    an Arrow batch group (millions of rows is fine; the state is one int
    per open bin). Deterministic: sort by (tokens desc, id)."""
    from pyspark.sql import functions as F

    group_cols = group_cols or []

    def _pack(pdf):
        import pandas as pd

        pdf = pdf.sort_values(
            [token_count_col, id_col], ascending=[False, True]
        ).reset_index(drop=True)
        fills: list[int] = []  # current fill per open bin
        assign, fill_after, oversize = [], [], []
        for n in pdf[token_count_col].astype(int):
            if n > budget:
                fills.append(n)
                assign.append(len(fills) - 1)
                fill_after.append(n)
                oversize.append(True)
                continue
            for b, f in enumerate(fills):
                if f + n <= budget:
                    fills[b] = f + n
                    assign.append(b)
                    fill_after.append(fills[b])
                    oversize.append(False)
                    break
            else:
                fills.append(n)
                assign.append(len(fills) - 1)
                fill_after.append(n)
                oversize.append(False)
        out = pdf[group_cols + [id_col, token_count_col]].copy()
        out["pack_id"] = pd.array(assign, dtype="int64")
        out["pack_fill"] = pd.array(fill_after, dtype="int64")
        out["oversize"] = oversize
        return out

    gschema = ", ".join(
        f"`{c}` {df.schema[c].dataType.simpleString()}"
        for c in group_cols + [id_col, token_count_col]
    )
    schema = f"{gschema}, pack_id long, pack_fill long, oversize boolean"
    grouped = df.groupBy(*group_cols) if group_cols else df.groupBy(F.lit(1).alias("__g"))
    out = grouped.applyInPandas(_pack, schema=schema)
    return out


def ffd_audit(packed, docs, budget: int, group_col: str = "lang"):
    """Invariant flags for a pack layout (factored out of the q80 driver
    query so falsifiability is directly testable): per group over the
    PACKED frame (group, id, n_tokens, pack_id, oversize) and the source
    docs (group, id, n_tokens):

      all_fit = every non-oversize pack's fill <= budget
      lb_ok   = (non-oversize pack count) * budget >= their token mass

    An overfilled pack flips all_fit; a lost/duplicated assignment moves
    total token mass between the two sides and flips lb_ok (or the
    exact totals the oracle recomputes)."""
    from pyspark.sql import functions as F

    packs = packed.groupBy(group_col, "pack_id").agg(
        F.sum("n_tokens").alias("fill"),
        F.max(F.col("oversize").cast("int")).alias("has_oversize"),
    )
    return (
        packs.groupBy(group_col)
        .agg(
            F.count("*").alias("n_packs"),
            F.sum(
                F.when(F.col("has_oversize") == 0, F.col("fill")).otherwise(0)
            ).alias("__no_total"),
            F.sum((F.col("has_oversize") == 0).cast("long")).alias("__no_packs"),
            F.min((F.col("has_oversize") == 1) | (F.col("fill") <= budget))
            .cast("int")
            .alias("all_fit"),
        )
        .join(
            docs.groupBy(group_col).agg(
                F.count("*").alias("n_docs"),
                F.sum("n_tokens").cast("long").alias("total_tokens"),
            ),
            group_col,
        )
        .select(
            group_col,
            "n_docs",
            "total_tokens",
            F.ceil(F.col("total_tokens") / budget).cast("long").alias("lb"),
            "all_fit",
            (F.col("__no_packs") * budget >= F.col("__no_total"))
            .cast("int")
            .alias("lb_ok"),
        )
    )


def chunk_documents(
    df,
    id_col: str,
    text_col: str,
    window: int = 128,
    overlap: int = 32,
):
    """Split each document into overlapping fixed-size token windows — the
    SPLITTING counterpart of pack_sequences (long documents -> training-
    sized chunks with context overlap, the standard RAG/pretraining
    chunker). Pure JVM expressions: tokenize once, explode a sequence of
    window starts (stride = window - overlap), slice the token array per
    start — no Python, no shuffle beyond the explode's row growth, and
    the ~window/stride row multiplier is the documented storage trade.

    Chunk starts are 0, stride, 2*stride, ...; the last chunk starts at
    the final stride multiple that still has unseen tokens, so every
    token lands in >=1 chunk and short documents produce exactly one
    chunk. Returns (id, chunk_id, start_token, n_chunk_tokens,
    chunk_text) with chunk_id dense from 0 in document order.
    """
    if overlap >= window:
        raise ValueError(f"overlap ({overlap}) must be < window ({window})")
    stride = window - overlap
    toks = tokens(F.col(text_col))
    n = F.size(toks)
    # ceil((n - window) / stride) using integer math, floored at 0
    last_start_idx = F.greatest(
        F.lit(0), F.floor((n - F.lit(window) + F.lit(stride) - 1) / F.lit(stride))
    ).cast("int")
    return (
        df.select(
            F.col(id_col).alias("id"),
            toks.alias("__toks"),
            F.explode(F.sequence(F.lit(0), last_start_idx)).alias("chunk_id"),
        )
        .select(
            "id",
            "chunk_id",
            (F.col("chunk_id") * stride).alias("start_token"),
            F.slice(F.col("__toks"), F.col("chunk_id") * stride + 1, window).alias(
                "__chunk"
            ),
        )
        .select(
            "id",
            "chunk_id",
            "start_token",
            F.size("__chunk").alias("n_chunk_tokens"),
            F.array_join("__chunk", " ").alias("chunk_text"),
        )
    )


def hashed_feature_bucket(tok: Column, dim: int) -> Column:
    """Feature-hashing bucket for one token (Weinberger et al., "Feature
    Hashing for Large Scale Multitask Learning", ICML'09): first 8 hex
    chars of md5 as an integer, mod dim. md5 keeps the bucket assignment
    engine-portable (DuckDB: CAST('0x'||substr(md5(t),1,8) AS BIGINT)) —
    the same hash family the MinHash/split operators already use."""
    return F.conv(F.substring(F.md5(tok), 1, 8), 16, 10).cast("long") % dim


def hashed_linear_score(
    text: Column, dim: int = 4096, seed: int = 0
) -> tuple[Column, Column]:
    """(score_micro, label) of a hashed bag-of-words linear classifier —
    the fastText-style quality-model scoring path with the model weights
    generated deterministically from the bucket index (a Knuth
    multiplicative mix into [-1e6, 1e6] micro-units), so the full scoring
    pipeline — tokenize, feature-hash, weight lookup, accumulate — is
    exercised without shipping a weight file. Swapping in trained weights
    means replacing `w` with element_at(<broadcast weight array>, bucket).

    Integer micro-units end to end: the per-token weight and the document
    sum are exact BIGINT math, so the DuckDB oracle hash-matches without
    float tolerance. Pure JVM expressions (one transform + aggregate per
    row), zero shuffle, zero Python.
    """
    toks = tokens(text)

    def w(tok: Column) -> Column:
        b = hashed_feature_bucket(tok, dim)
        return (b * F.lit(2654435761) + F.lit(seed) * F.lit(1000003)) % F.lit(
            2000001
        ) - F.lit(1000000)

    score = F.aggregate(toks, F.lit(0).cast("long"), lambda acc, t: acc + w(t))
    return score.alias("score_micro"), (score > 0).alias("label")


def bigrams(text: Column) -> Column:
    """Adjacent word-2-grams of the whitespace token stream."""
    toks = tokens(text)
    return F.zip_with(
        F.slice(toks, 1, F.size(toks) - 1),
        F.slice(toks, 2, F.size(toks) - 1),
        lambda a, b: F.concat_ws(" ", a, b),
    )


def repetition_stats(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Gopher-style repetition quality signals (Rae et al. 2021 use
    duplicate-line / top-n-gram character fractions; this corpus is
    single-line word-bag text, so the signals are computed over the token
    stream — same intent, token granularity):

      distinct_token_ratio  |distinct tokens| / |tokens|
      top_token_frac        occurrences of the most frequent token / |tokens|
      dup_bigram_frac       1 - |distinct 2-grams| / |2-grams|
      keep                  the composite filter rule

    Shapes: ratios are pure array expressions (JVM codegen, zero shuffle);
    the top-token count is explode -> (doc, token) partial+final count ->
    max per doc — ONE shuffle keyed by doc id, which also keeps per-task
    memory flat however long single documents get (the all-array
    formulation would be O(|doc|^2) per row).
    """
    t = F.col(text_col)
    toks = tokens(t)
    bg = bigrams(t)
    base = df.select(
        F.col(id_col).alias("id"),
        F.size(toks).alias("n_tokens"),
        F.round(F.size(F.array_distinct(toks)) / F.size(toks), 6).alias(
            "distinct_token_ratio"
        ),
        F.when(F.size(bg) > 0, F.round(1.0 - F.size(F.array_distinct(bg)) / F.size(bg), 6))
        .otherwise(0.0)
        .alias("dup_bigram_frac"),
    )
    top = (
        df.select(F.col(id_col).alias("id"), F.explode(tokens(t)).alias("tok"))
        .groupBy("id", "tok")
        .agg(F.count("*").alias("c"))
        .groupBy("id")
        .agg(F.max("c").alias("top_c"))
    )
    out = base.join(top, "id").select(
        "id",
        "n_tokens",
        "distinct_token_ratio",
        F.round(F.col("top_c") / F.col("n_tokens"), 6).alias("top_token_frac"),
        "dup_bigram_frac",
    )
    return out.withColumn(
        "keep",
        (F.col("distinct_token_ratio") >= 0.2)
        & (F.col("top_token_frac") <= 0.2)
        & (F.col("dup_bigram_frac") <= 0.9),
    )


# ---------------------------------------------------------------------------
# Gopher-style quality rules (Rae et al. 2021, "Scaling Language Models:
# Methods, Analysis & Insights from Training Gopher", table A1) — the
# standard pre-training document filter battery. All rules are evaluated
# with EXACT integer arithmetic (cross-multiplied ratio comparisons, no
# doubles), so flags hash-match the DuckDB oracle bit-for-bit, and all of
# it is pure JVM expressions — per-row, zero shuffle, codegen-friendly.
# ---------------------------------------------------------------------------

GOPHER_BULLETS = ("- ", "* ", "•")


def _count_occurrences(text: Column, needle: str) -> Column:
    """Non-overlapping occurrences of a literal substring (both engines
    scan-and-replace left to right, so counts agree)."""
    return (
        (F.length(text) - F.length(F.replace(text, F.lit(needle), F.lit(""))))
        / len(needle)
    ).cast("long")


def gopher_quality_flags(
    text: Column,
    min_words: int = 50,
    max_words: int = 100_000,
    stopwords: tuple[str, ...] = QUALITY_STOPWORDS,
) -> Column:
    """Struct of the Gopher rule verdicts for one document:

    - ``word_count_ok``: min_words <= n_words <= max_words
    - ``mean_word_len_ok``: mean word length in [3, 10] characters,
      tested as ``3*n_words <= total_chars <= 10*n_words`` (exact)
    - ``symbol_ratio_ok``: (# of '#' + # of '...') / n_words <= 0.1,
      tested as ``10*symbols <= n_words``
    - ``bullet_ratio_ok``: <= 90% of lines start with a bullet,
      tested as ``10*bullet_lines <= 9*n_lines``
    - ``ellipsis_ratio_ok``: <= 30% of lines end with '...',
      tested as ``10*ellipsis_lines <= 3*n_lines``
    - ``alpha_ratio_ok``: >= 80% of words contain at least one
      alphabetic character, tested as ``5*alpha_words >= 4*n_words``
    - ``stopword_ok``: document contains >= 2 distinct stopwords
    - ``pass_all``: conjunction of the above

    Counts ride along (n_words, n_lines) for downstream scoring."""
    toks = tokens(text)
    n_words = F.size(toks)
    total_chars = F.aggregate(toks, F.lit(0).cast("long"), lambda a, t: a + F.length(t))
    symbols = _count_occurrences(text, "#") + _count_occurrences(text, "...")
    lines = F.split(text, "\n")
    n_lines = F.size(lines)
    bullet_lines = F.size(
        F.filter(
            lines,
            lambda ln: F.reduce(
                F.array([F.lit(b) for b in GOPHER_BULLETS]),
                F.lit(False),
                lambda acc, b: acc | ln.startswith(b),
            ),
        )
    )
    ellipsis_lines = F.size(F.filter(lines, lambda ln: ln.endswith("...")))
    alpha_words = F.size(F.filter(toks, lambda t: t.rlike("[a-zA-Z]")))
    n_stop = F.reduce(
        F.array([F.lit(s) for s in stopwords]),
        F.lit(0),
        lambda acc, s: acc + F.array_contains(toks, s).cast("int"),
    )
    flags = {
        "word_count_ok": (F.lit(min_words) <= n_words) & (n_words <= F.lit(max_words)),
        "mean_word_len_ok": (F.lit(3) * n_words <= total_chars)
        & (total_chars <= F.lit(10) * n_words),
        "symbol_ratio_ok": F.lit(10) * symbols <= n_words,
        "bullet_ratio_ok": F.lit(10) * bullet_lines <= F.lit(9) * n_lines,
        "ellipsis_ratio_ok": F.lit(10) * ellipsis_lines <= F.lit(3) * n_lines,
        "alpha_ratio_ok": F.lit(5) * alpha_words >= F.lit(4) * n_words,
        "stopword_ok": n_stop >= F.lit(2),
    }
    pass_all = F.lit(True)
    for c in flags.values():
        pass_all = pass_all & c
    return F.struct(
        *[c.alias(name) for name, c in flags.items()],
        pass_all.alias("pass_all"),
        n_words.cast("long").alias("n_words"),
        n_lines.cast("long").alias("n_lines"),
    )


def gopher_rule_summary(
    df: DataFrame, text_col: str = "text", group_cols: list[str] | None = None
) -> DataFrame:
    """Per-group Gopher audit: document counts, pass count, and per-rule
    FAIL counts — the corpus-curation dashboard row. One partial+final
    aggregation; the flag evaluation itself is per-row JVM expressions."""
    group_cols = group_cols or ["lang"]
    g = df.withColumn("__g", gopher_quality_flags(F.col(text_col)))
    rules = [
        "word_count_ok",
        "mean_word_len_ok",
        "symbol_ratio_ok",
        "bullet_ratio_ok",
        "ellipsis_ratio_ok",
        "alpha_ratio_ok",
        "stopword_ok",
    ]
    aggs = [
        F.count("*").alias("n_docs"),
        F.sum(F.col("__g.pass_all").cast("long")).alias("n_pass"),
        *[
            F.sum((~F.col(f"__g.{r}")).cast("long")).alias(f"n_fail_{r[:-3]}")
            for r in rules
        ],
    ]
    return g.groupBy(*group_cols).agg(*aggs)


def strip_markup(text: Column) -> Column:
    """Plain text from HTML-ish markup: drop tags (replaced by a space
    so adjacent words never fuse), unescape the common entities, and
    collapse whitespace runs. The text-extraction step between a crawl
    and every quality/dedup operator in this module — pure JVM
    regexp_replace chain (RE2-safe patterns, reproducible in DuckDB
    with the 'g' flag, so cleaned output hash-matches the oracle).
    Deliberately not a full HTML5 parser: no entity numeric forms, no
    script/style content removal beyond their tags — a real extractor
    (trafilatura-class) plugs in as a Pandas UDF where fidelity
    matters; this is the bulk path."""
    out = F.regexp_replace(text, r"<[^>]*>", " ")
    for ent, rep in (
        ("&amp;", "&"),
        ("&lt;", "<"),
        ("&gt;", ">"),
        ("&quot;", '"'),
        ("&#39;", "'"),
        ("&nbsp;", " "),
    ):
        out = F.regexp_replace(out, ent, rep)
    return F.trim(F.regexp_replace(out, " +", " "))


def collocations(
    docs: DataFrame,
    text_col: str,
    min_count: int = 5,
    k: int = 40,
    scale: int = 1_000_000,
) -> DataFrame:
    """Top-k adjacent-bigram collocations by integer LIFT — the
    pointwise-mutual-information collocation miner (Church & Hanks 1990)
    with the monotone float-free score

        lift_micro = (n_ab * scale div n_a) * N div n_b

    (PMI = log of n_ab*N / (n_a*n_b); the ratio itself ranks in the
    package's exact-integer discipline — the divide-then-multiply order
    keeps every intermediate under n_total * scale, so the int64 bound
    holds to ~9e12 corpus tokens rather than the naive triple product's
    ~3e6). Returns (w1, w2, n_ab, n_a, n_b, lift_micro, rnk), ties
    broken by (w1, w2).

    Scale shape: bigrams come from ONE zip_with over each document's
    token array (no self-join — adjacency is positional); unigram and
    bigram counts are partial+final aggregations; the support filter
    (``min_count``) prunes the bigram frame BEFORE the two unigram
    joins; the top-k is a distributed TakeOrderedAndProject."""
    from pyspark.sql import Window

    from snowplow_s3_loader_spark.materialize import checkpoint_nostats

    if min_count < 1:
        raise ValueError(f"min_count must be >= 1, got {min_count}")
    toks = docs.select(tokens(F.col(text_col)).alias("t"))
    # the unigram frame has THREE consumers (two joins + the total) —
    # materialize the |vocab|-sized frame once instead of re-tokenizing
    # the corpus per consumer
    uni = checkpoint_nostats(
        toks.select(F.explode("t").alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("n"))
    )
    bi = (
        toks.where(F.size("t") >= 2)
        .select(
            F.explode(
                F.zip_with(
                    F.expr("slice(t, 1, size(t) - 1)"),
                    F.expr("slice(t, 2, size(t) - 1)"),
                    lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
                )
            ).alias("p")
        )
        .groupBy(F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
        .agg(F.count("*").alias("n_ab"))
        .where(F.col("n_ab") >= min_count)
    )
    total = uni.agg(F.sum("n").alias("n_total"))
    scored = (
        bi.join(uni.select(F.col("w").alias("w1"), F.col("n").alias("n_a")), "w1")
        .join(uni.select(F.col("w").alias("w2"), F.col("n").alias("n_b")), "w2")
        .crossJoin(F.broadcast(total))
        .select(
            "w1",
            "w2",
            "n_ab",
            "n_a",
            "n_b",
            F.expr(
                f"(n_ab * {int(scale)} div n_a) * n_total div n_b"
            ).alias("lift_micro"),
        )
    )
    order = [F.desc("lift_micro"), F.asc("w1"), F.asc("w2")]
    top = scored.orderBy(*order).limit(k)
    return top.withColumn(
        "rnk", F.row_number().over(Window.orderBy(*order))
    )


def winnow_fingerprints(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    k: int = 3,
    w: int = 4,
) -> DataFrame:
    """Winnowing fingerprint selection (Schleimer, Wilkerson & Aiken,
    SIGMOD 2003 — the MOSS algorithm's base scheme): hash every token
    k-gram, then in each window of ``w`` consecutive k-grams select the
    RIGHTMOST minimal hash; the document's fingerprint set is the union
    of the per-window selections. The paper's guarantee carries over:
    any match of at least w+k-1 consecutive tokens between two
    documents shares at least one fingerprint, while only ~2/(w+1) of
    all k-grams are kept — the local, position-robust document
    signature for near-dup and plagiarism-style overlap detection.
    Documents shorter than ``w`` k-grams select the rightmost minimum
    of all their grams (the single clipped window).

    Spark-side selection avoids enumerating windows: position p is a
    rightmost window minimum iff for SOME offset j in its feasible
    range, the j trailing hashes are >= h(p) and the (w-1-j) leading
    hashes are > h(p) (ties before p allowed, ties after p forbidden —
    exactly the rightmost-tie rule). The trailing/leading hashes ride
    two bounded collect_list frames over ONE (doc, pos) sort, and the
    exists/forall runs as a pure expression: no self-join, no window
    enumeration, O(w^2) expression work per gram. The oracle replays
    winnowing INDEPENDENTLY — brute-force per-window rightmost-argmin
    SQL — so a hash match proves the formulation equivalence, not just
    the arithmetic (the q126 discipline).

    Output: (id_col, pos, h) — 0-based k-gram position and the 60-bit
    gram hash of each selected fingerprint."""
    if k < 1 or w < 2:
        raise ValueError(f"winnow_fingerprints: need k >= 1, w >= 2; got {k}, {w}")
    from pyspark.sql import Window

    # split('') yields [''] — filter it so an empty document has zero
    # grams even at k=1 (mirrored in the oracle with list_filter)
    toks = F.filter(
        F.split(F.trim(F.lower(F.col(text_col))), " +"),
        lambda t: t != "",
    )
    grams = F.when(
        F.size(toks) >= k,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - k + 1),
            lambda i: F.conv(
                F.substring(F.md5(F.array_join(F.slice(toks, i, k), " ")), 1, 15),
                16,
                10,
            ).cast("long"),
        ),
    ).otherwise(F.array().cast("array<bigint>"))
    g = df.select(F.col(id_col), F.posexplode(grams).alias("pos", "h"))
    ws = Window.partitionBy(id_col).orderBy("pos")
    prev = F.collect_list("h").over(ws.rowsBetween(-(w - 1), -1))
    nxt = F.collect_list("h").over(ws.rowsBetween(1, w - 1))
    n = F.count("*").over(Window.partitionBy(id_col))
    annotated = g.select(
        id_col, "pos", "h",
        prev.alias("prev"), nxt.alias("nxt"), n.alias("n"),
    )
    j_lo = F.greatest(F.lit(0), F.col("pos") - F.greatest(F.lit(0), F.col("n") - w))
    j_hi = F.least(F.lit(w - 1), F.col("pos"))
    sel = F.exists(
        F.sequence(j_lo, j_hi),
        lambda j: F.forall(
            F.slice(F.col("prev"), F.size(F.col("prev")) - j + 1, j),
            lambda x: x >= F.col("h"),
        )
        & F.forall(
            F.slice(F.col("nxt"), F.lit(1), F.lit(w - 1) - j),
            lambda x: x > F.col("h"),
        ),
    )
    return annotated.where(sel).select(id_col, "pos", "h")


def ngram_novelty(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
) -> DataFrame:
    """First-occurrence n-gram novelty — the curation diversity signal
    (how much of a document's n-gram mass is NEW at the point it enters
    the corpus, under the total ``id_col`` order): a document full of
    already-seen n-grams is template/near-dup mass even when no single
    pair-level duplicate exists; a sampling pass can downweight it
    without any pair generation.

        owner(g)        = min id among documents containing gram g
        n_novel(doc)    = count of DISTINCT grams the doc owns
        novelty_micro   = n_novel * 1e6 div n_distinct   (truncating)

    Exactness: counts and the min-id owner are integers; the ratio is
    the portable truncating division — hash-identical across engines.
    Documents with fewer than n tokens emit n_distinct = 0 and NULL
    novelty (no evidence, not zero).

    Scale shape: one explode to (doc, gram) DISTINCT pairs, ONE
    gram-keyed aggregation for the owners (vocabulary-sized output),
    one co-keyed join back (gram-keyed — never a pair space), one
    doc-keyed aggregation. No window, no self-join of documents.

    Output: (id, n_grams, n_distinct, n_novel, novelty_micro)."""
    from snowplow_s3_loader_spark.operators.hygiene import word_ngrams

    base = df.select(
        F.col(id_col).alias("id"),
        F.explode(word_ngrams(F.col(text_col), n)).alias("gram"),
    )
    per_doc_gram = base.groupBy("id", "gram").agg(
        F.count("*").alias("__occ")
    )
    owners = per_doc_gram.groupBy("gram").agg(F.min("id").alias("__owner"))
    stats = (
        per_doc_gram.join(owners, "gram")
        .groupBy("id")
        .agg(
            F.sum("__occ").alias("n_grams"),
            F.count("*").alias("n_distinct"),
            F.sum((F.col("id") == F.col("__owner")).cast("long")).alias(
                "n_novel"
            ),
        )
    )
    ids = df.select(F.col(id_col).alias("id"))
    return ids.join(stats, "id", "left").select(
        "id",
        F.coalesce("n_grams", F.lit(0)).cast("long").alias("n_grams"),
        F.coalesce("n_distinct", F.lit(0)).cast("long").alias("n_distinct"),
        F.coalesce("n_novel", F.lit(0)).cast("long").alias("n_novel"),
        F.when(
            F.col("n_distinct") > 0,
            F.expr("(n_novel * 1000000) div n_distinct"),
        ).alias("novelty_micro"),
    )


def substring_duplication(
    df: DataFrame,
    id_col: str,
    text_col: str,
    window: int = 40,
    stride: int = 20,
) -> DataFrame:
    """Exact-substring duplication scoring — the scalable sampled-hash
    form of Lee et al. 2022 ("Deduplicating Training Data Makes
    Language Models Better", ACL): their ExactSubstr pass finds char
    spans >= 50 shared verbatim across documents with a corpus suffix
    array, a structure with no distributed analogue. This operator
    hashes CONTENT-DEFINED anchor windows: a position p is an anchor
    iff the 60-bit md5 prefix of its first 8 chars is 0 mod ``stride``
    (the Broder mod-sampling rule), and each anchor contributes the
    md5 of its full ``window``-char substring. Anchor selection
    depends only on CONTENT — a verbatim span copied to ANY offset in
    any document selects the same anchors and the same window hashes
    (a position-aligned grid would silently miss misaligned copies).
    A window is duplicated when its content occurs 2+ times anywhere
    in the corpus (same doc included — a self-repeat is still
    duplicated training signal). Expected 1/stride of positions
    anchor; a shared span of length L >= window is detected
    deterministically-per-content with miss probability ~
    (1 - 1/stride)^(L - window + 1) — misses decay geometrically with
    span length, and a span either anchors in EVERY copy or in none
    (never inconsistently).

        n_windows      anchored windows in the doc (0 possible even
                       for len >= window — no position anchored)
        n_dup_windows  windows whose md5 occurs >= 2 times corpus-wide
        dup_micro      n_dup * 1e6 div n_windows   (NULL if no windows)

    Exactness: counts are integers over md5 equality (portable,
    collision odds ~n^2/2^128) and the ratio is the truncating
    division — hash-identical across engines. The anchor hash is the
    portable 60-bit md5 prefix (the ngram_bucket family) so both
    engines select identical anchors.

    Scale shape: ALL per-position work happens INSIDE one row's array
    expression — filter the candidate positions by the cheap 8-char
    anchor hash, then md5 the full window ONLY at anchors — and only
    the resulting ~len/stride hash array explodes. Exploding raw
    positions while carrying the text column would amplify the
    Generate output to O(len^2) bytes per document (each position row
    copies the whole text); the array form keeps per-doc bytes at
    ~1.6x the text (the anchor-hash array) and row amplification at
    anchors only. Then one hash-keyed count aggregation
    (partial+final map-side combine), one hash-keyed join back, one
    doc-keyed aggregation. ZERO pair space: duplicated spans are
    found by key equality, never by comparing documents. In
    production swap the anchor md5 for xxhash64 (~10x cheaper; md5 is
    the cross-engine-oracle choice).

    Output: (id, n_windows, n_dup_windows, dup_micro)."""
    if window < 9 or stride < 1:
        raise ValueError(
            f"substring_duplication: need window >= 9 (anchor reads 8 "
            f"chars) and stride >= 1, got ({window}, {stride})"
        )
    t = F.col(text_col)
    hash_arr = F.expr(
        f"""transform(
              filter(sequence(1, length(__t) - {int(window)} + 1),
                     p -> CAST(conv(substr(md5(substr(__t, p, 8)), 1, 15),
                                    16, 10) AS BIGINT) % {int(stride)} = 0),
              p -> md5(substr(__t, p, {int(window)})))"""
    )
    wins = df.select(
        F.col(id_col).alias("id"), t.alias("__t")
    ).select(
        "id",
        F.explode(
            F.when(F.length("__t") >= window, hash_arr).otherwise(
                F.array().cast("array<string>")
            )
        ).alias("__h"),
    )
    occ = wins.groupBy("__h").agg(F.count("*").alias("__n"))
    stats = (
        wins.join(occ, "__h")
        .groupBy("id")
        .agg(
            F.count("*").alias("n_windows"),
            F.sum((F.col("__n") >= 2).cast("long")).alias("n_dup_windows"),
        )
    )
    ids = df.select(F.col(id_col).alias("id"))
    return ids.join(stats, "id", "left").select(
        "id",
        F.coalesce("n_windows", F.lit(0)).cast("long").alias("n_windows"),
        F.coalesce("n_dup_windows", F.lit(0))
        .cast("long")
        .alias("n_dup_windows"),
        F.when(
            F.col("n_windows") > 0,
            F.expr("(n_dup_windows * 1000000) div n_windows"),
        ).alias("dup_micro"),
    )


def zipf_fit(
    df: DataFrame,
    text_col: str,
    top_k: int = 1000,
) -> DataFrame:
    """Zipf power-law fit over the corpus token-frequency spectrum —
    the classic corpus-health diagnostic (Zipf 1949; natural text shows
    log-freq ~ -1 * log-rank; template/boilerplate-heavy or synthetic
    corpora bend the slope): least-squares slope of (ln rank, ln freq)
    over the ``top_k`` most frequent tokens.

    Exactness (the q146 micro-quantization discipline, milli-scale so
    every moment stays exact in BOTH int64 and double): per ranked
    token x = round(ln(rank)*1e3), y = round(ln(freq)*1e3) as int64;
    the four moment sums are exact int64 (|k*sxy| <= ~2e14 << 2^53, so
    the one closing slope division computes on EXACTLY represented
    doubles and rounds identically in any engine):

        slope_micro = round((k*sxy - sx*sy) / (k*sxx - sx^2) * 1e6)

    NULL when fewer than 2 distinct tokens exist (no line to fit).
    Ranking ties (equal freq) break by token ASC — a total order both
    engines replay.

    Scale shape: one explode + token-keyed count (partial+final), a
    distributed top-k (orderBy().limit() -> TakeOrderedAndProject),
    then ALL remaining work (rank window, moments, slope) happens on a
    <= top_k-row frame — the bounded-k-row tail pattern (the
    unpartitioned window is k-row bounded, the q151 discipline).

    Output: one row (n_terms, sx, sy, sxx, sxy, slope_micro)."""
    if top_k < 2:
        raise ValueError(f"zipf_fit: top_k must be >= 2, got {top_k}")
    from pyspark.sql import Window

    counts = (
        df.select(F.explode(tokens(F.col(text_col))).alias("tok"))
        .where(F.col("tok") != "")
        .groupBy("tok")
        .agg(F.count("*").alias("freq"))
    )
    top = counts.orderBy(F.desc("freq"), "tok").limit(top_k)
    # k-row bounded frame: the unpartitioned window is benign here
    ranked = top.withColumn(
        "rank",
        F.row_number().over(Window.orderBy(F.desc("freq"), "tok")),
    ).select(
        F.round(F.log(F.col("rank").cast("double")) * 1000, 0)
        .cast("long")
        .alias("x"),
        F.round(F.log(F.col("freq").cast("double")) * 1000, 0)
        .cast("long")
        .alias("y"),
    )
    m = ranked.agg(
        F.count("*").alias("n_terms"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    num = (F.col("n_terms") * F.col("sxy") - F.col("sx") * F.col("sy")).cast(
        "double"
    )
    den = (
        F.col("n_terms") * F.col("sxx") - F.col("sx") * F.col("sx")
    ).cast("double")
    return m.select(
        "n_terms",
        "sx",
        "sy",
        "sxx",
        "sxy",
        F.when(
            (F.col("n_terms") >= 2) & (den != 0),
            F.round(num / den * 1_000_000, 0).cast("long"),
        ).alias("slope_micro"),
    )


def char_entropy(
    df: DataFrame,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """Character-level Shannon entropy per document — the gibberish /
    random-bytes / encoding-garbage detector (Shannon 1948; the signal
    CCNet-style pipelines threshold alongside the word-level Gopher
    rules): natural text sits in a narrow entropy band, base64 blobs
    and key dumps score high, single-char floods score near zero.

        H = ln(n) - (sum_c c_i * ln(c_i)) / n      (nats; c_i = count
                                                    of character i)

    Exact engine-portable form (the per-term quantization discipline of
    the bigram LM / Moore-Lewis): each distinct character's term is
    quantized ONCE — t_i = round(ln(c_i) * 1e6) — then everything else
    is exact int64:

        entropy_micro = round(ln(n) * 1e6) - (sum_i c_i * t_i) div n

    (truncating div; both engines round the same two scalars and sum
    the same integers, so the hash matches bit for bit). Empty/NULL
    text emits n_chars = 0 and NULL entropy — no evidence, not zero.

    Int64 bound: sum c_i * t_i <= n * ln(n) * 1e6 — safe through
    ~2e11 chars PER DOCUMENT; no guard needed (a single document that
    size does not exist).

    Scale shape: one explode to (id, char) — O(len) rows per document,
    the q152 cost class — one (id, char)-keyed count (map-side partial
    combine collapses repeats before the shuffle), one id-keyed
    aggregation, one spine join back so every input row is present.
    No window, no pair space, no Python.

    Output: (id, n_chars, n_distinct_chars, entropy_micro)."""
    # sequence(1, 0) runs DESCENDING (the word_ngrams guard lesson), so
    # empty/NULL text must short-circuit to an empty array, not explode
    # two phantom positions
    base = df.select(
        F.col(id_col).alias("id"),
        F.explode(
            F.when(
                F.length(F.col(text_col)) >= 1,
                F.expr(
                    f"transform(sequence(1, length({text_col})), "
                    f"i -> substring({text_col}, i, 1))"
                ),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("ch"),
    )
    per_char = base.groupBy("id", "ch").agg(F.count("*").alias("c"))
    quant = per_char.select(
        "id",
        "c",
        F.round(F.log(F.col("c").cast("double")) * 1_000_000).cast(
            "long"
        ).alias("t"),
    )
    stats = quant.groupBy("id").agg(
        F.sum("c").alias("n_chars"),
        F.count("*").alias("n_distinct_chars"),
        F.sum(F.col("c") * F.col("t")).alias("__s"),
    )
    ids = df.select(F.col(id_col).alias("id"))
    return ids.join(stats, "id", "left").select(
        "id",
        F.coalesce("n_chars", F.lit(0)).cast("long").alias("n_chars"),
        F.coalesce("n_distinct_chars", F.lit(0)).cast("long").alias(
            "n_distinct_chars"
        ),
        F.when(
            F.col("n_chars") > 0,
            F.round(
                F.log(F.col("n_chars").cast("double")) * 1_000_000
            ).cast("long")
            - F.expr("__s div n_chars"),
        ).alias("entropy_micro"),
    )


def charset_mix(
    df: DataFrame,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """Character-class composition per document — the encoding-health
    companion to `char_entropy`: letters / digits / spaces / non-ASCII
    each as an exact truncating micro fraction, with
    punctuation-and-other as the derived remainder of the FRACTIONS
    (other = 1e6 - the four truncated fractions — itself exact given
    the truncation rule, mirrored in the oracle). Catches mojibake
    floods, digit dumps, and whitespace art that entropy alone scores
    as "normal".

    All counts are length-difference expressions over character-class
    regexes shared verbatim with the oracle ([A-Za-z], [0-9], a literal
    space, [^\\x00-\\x7F] — each valid and identical in Java regex and
    RE2); ONE projection, zero joins, zero explode (unlike
    char_entropy there is no per-char state to aggregate). Empty/NULL
    text emits n_chars = 0 and NULL fractions.

    Output: (id, n_chars, letter_micro, digit_micro, space_micro,
    nonascii_micro, other_micro)."""
    t = F.col(text_col)
    n = F.coalesce(F.length(t), F.lit(0))
    letters = n - F.length(F.regexp_replace(t, "[A-Za-z]", ""))
    digits = n - F.length(F.regexp_replace(t, "[0-9]", ""))
    spaces = n - F.length(F.regexp_replace(t, " ", ""))
    nonascii = n - F.length(F.regexp_replace(t, "[^\\x00-\\x7F]", ""))
    base = df.select(
        F.col(id_col).alias("id"),
        n.cast("long").alias("n_chars"),
        letters.cast("long").alias("__l"),
        digits.cast("long").alias("__d"),
        spaces.cast("long").alias("__s"),
        nonascii.cast("long").alias("__na"),
    )
    staged = base.select(
        "id",
        "n_chars",
        F.when(F.col("n_chars") > 0, F.expr("(__l * 1000000) div n_chars")).alias("letter_micro"),
        F.when(F.col("n_chars") > 0, F.expr("(__d * 1000000) div n_chars")).alias("digit_micro"),
        F.when(F.col("n_chars") > 0, F.expr("(__s * 1000000) div n_chars")).alias("space_micro"),
        F.when(F.col("n_chars") > 0, F.expr("(__na * 1000000) div n_chars")).alias("nonascii_micro"),
    )
    return staged.select(
        "*",
        F.when(
            F.col("n_chars") > 0,
            F.lit(1_000_000)
            - F.col("letter_micro")
            - F.col("digit_micro")
            - F.col("space_micro")
            - F.col("nonascii_micro"),
        ).alias("other_micro"),
    )
