"""Deduplication operators for training-data pipelines: exact, token-Jaccard,
MinHash+LSH, SimHash (SURVEY.md SS7.8; beyond the reference's surface).

Scale notes (100 TB):
  - exact dedup = hash groupBy on a digest column -> one shuffle keyed by
    digest; AQE handles skew (identical boilerplate docs salt naturally
    because the digest is the key).
  - MinHash/LSH avoids the O(n^2) pair space: candidates only join inside an
    LSH band bucket. The band join is a shuffle on (band_id, band_hash) —
    bounded by bucket sizes, not corpus size.
  - SimHash here uses an explode(tokens x bits) formulation for exact oracle
    parity; at extreme scale swap the per-token bit explode for a vectorized
    pandas_udf computing signatures per Arrow batch (same signature column,
    same downstream joins).

Determinism: every hash is md5 (identical across Spark/DuckDB), never
xxhash64/murmur (engine-specific seeds).

Materialization (checkpoint_nostats and the release helpers) lives in
`snowplow_s3_loader_spark.materialize`; the band-store probe uses it like
every other operator.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from snowplow_s3_loader_spark.operators.text import tokens


def exact_dedup(df: DataFrame, key_cols: list[str], order_cols: list[str]) -> DataFrame:
    """Keep exactly one deterministic representative per key (first by
    order_cols). Distributed: one window shuffle on key_cols."""
    w = Window.partitionBy(*key_cols).orderBy(*order_cols)
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def exact_dedup_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """1-row digest-dedup summary over a document corpus."""
    return df.agg(
        F.count("*").alias("n_docs"),
        F.count_distinct(F.md5(F.col(text_col).cast("binary"))).alias("n_unique_texts"),
        (F.count("*") - F.count_distinct(F.md5(F.col(text_col).cast("binary")))).alias(
            "n_dup_docs"
        ),
    )


def char_ngrams(s: Column, n: int = 3) -> Column:
    """Character n-gram shingles over lowercased, whitespace-collapsed text.

    Pure JVM expression (sequence + substr) — one array per row, no
    explode until the caller decides. Texts shorter than n yield their
    whole (normalized) text as the single shingle, so no row drops out of
    a similarity join for being short."""
    norm = F.regexp_replace(F.lower(s), r"\s+", " ")
    return F.transform(
        F.sequence(F.lit(1), F.greatest(F.length(norm) - (n - 1), F.lit(1))),
        lambda i: norm.substr(i, F.lit(n)),
    )


def word_ngrams(s: Column, n: int = 3) -> Column:
    """Word n-gram shingles (Broder w-shingling): each shingle is n
    consecutive whitespace tokens joined by one space. Texts with fewer
    than n tokens yield their whole token sequence as the single shingle.
    Pure JVM (sequence + slice + concat_ws) — ~|tokens| shingles per doc,
    far fewer and far more discriminative than character n-grams on long
    documents."""
    t = tokens(s)
    grams = F.transform(
        F.sequence(F.lit(1), F.size(t) - (n - 1)),
        lambda i: F.concat_ws(" ", F.slice(t, i, n)),
    )
    return F.when(F.size(t) < n, F.array(F.concat_ws(" ", t))).otherwise(grams)


def distinct_tokens(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    return df.select(
        F.col(id_col).alias("id"), F.explode(F.array_distinct(tokens(F.col(text_col)))).alias("tok")
    )


def minhash_bands(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_hashes: int = 16,
    band_size: int = 4,
) -> DataFrame:
    """MinHash signatures banded for LSH.

    h_s(doc) = min over tokens of md5('<s>:' + token) (lexicographic min of
    hex digests — total order identical in any engine). Bands concatenate
    band_size consecutive signature slots.
    Returns (id, band_id, band_hash).
    """
    tok = distinct_tokens(df, id_col, text_col)
    seeded = tok.select(
        "id", "tok", F.explode(F.sequence(F.lit(0), F.lit(n_hashes - 1))).alias("seed")
    )
    hashed = seeded.select(
        "id",
        "seed",
        F.md5(F.concat(F.col("seed").cast("string"), F.lit(":"), F.col("tok")).cast("binary")).alias("h"),
    )
    sig = hashed.groupBy("id", "seed").agg(F.min("h").alias("mh"))
    banded = sig.withColumn("band_id", (F.col("seed") / band_size).cast("int"))
    return (
        banded.groupBy("id", "band_id")
        .agg(
            F.concat_ws(
                "|",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("seed", "mh"))), lambda s: s["mh"]
                ),
            ).alias("band_hash")
        )
    )


def incremental_minhash_filter(
    new_docs: DataFrame,
    band_store: DataFrame,
    id_col: str,
    text_col: str,
    n_hashes: int = 16,
    band_size: int = 4,
) -> DataFrame:
    """Cross-snapshot near-dup gate — the production incremental-dedup
    shape (a daily crawl arrives against a PERSISTED fingerprint store):
    band only the NEW documents and flag any whose MinHash bands collide
    with the store (a Jaccard-similar historical document shares a full
    band w.h.p. — the standard LSH guarantee). History is NEVER
    re-banded or re-shuffled; the store is an append-only
    (band_id, band_hash) relation the caller maintains by unioning the
    survivors' bands after each snapshot.

    Semantics: the gate is STRICTLY cross-snapshot — new docs are
    probed against the STORE only, never against each other, so two
    near-identical documents arriving in the SAME snapshot both report
    n_hit_bands=0 and both survive (and both fold into the store).
    Run the batch dedup path (url_dedup / minhash LSH) WITHIN the
    snapshot first; this operator owns the new-vs-history axis only.
    n_hit_bands counts how many of the NEW document's
    n_hashes/band_size bands exist in the store (semi-join membership —
    store multiplicity is irrelevant, so the caller never needs to
    dedupe the store); is_dup = (n_hit_bands >= 1). Exact given the
    portable md5 minhash (both engines replay it bit-for-bit).

    Scale shape: the only wide operations are the new snapshot's
    banding aggregations (snapshot-sized) and ONE
    (band_id, band_hash)-keyed semi join against the store — membership
    only, no candidate-PAIR space ever materializes, and the join key
    is the high-cardinality band hash (no skew). Every new document
    appears in the output (survivors carry 0/0).

    Always-on store discipline: maintain the store as
    ``checkpoint_nostats(store, n_parts=P,
    partition_cols=["band_id", "band_hash"])`` — the advertised hash
    layout makes every probe's semi join plan with ZERO Exchange on the
    store side, so the growing store is only ever SCANNED per probe
    (memory/disk-local blocks), never re-shuffled across the cluster
    (the incdedup_soak weak-scaling case measures the shape: walls stay
    near-flat across 7 folds while the store grows 8x; a production
    deployment additionally bounds the scan by bucketing the persisted
    store on band_hash ranges)."""
    bands = minhash_bands(new_docs, id_col, text_col, n_hashes, band_size)
    hits = bands.join(
        band_store.select("band_id", "band_hash"),
        ["band_id", "band_hash"],
        "left_semi",
    )
    per_doc = hits.groupBy("id").agg(F.count("*").alias("n_hit_bands"))
    ids = new_docs.select(F.col(id_col).alias("id"))
    return ids.join(per_doc, "id", "left").select(
        "id",
        F.coalesce("n_hit_bands", F.lit(0)).cast("long").alias("n_hit_bands"),
        (F.coalesce("n_hit_bands", F.lit(0)) >= 1)
        .cast("int")
        .alias("is_dup"),
    )


def _band_store_bucket(n_buckets: int) -> Column:
    """Bucket id for a band row: xxhash64 of the full band key, modded.
    Pure function of (band_id, band_hash) — the same expression buckets
    the persisted store at write time and the probe at read time, so
    membership never crosses buckets."""
    return F.pmod(F.xxhash64("band_id", "band_hash"), F.lit(n_buckets)).cast(
        "int"
    )


def write_band_store(
    bands: DataFrame,
    path: str,
    n_buckets: int = 1024,
    mode: str = "append",
    epoch: int | None = None,
) -> None:
    """Persist (band_id, band_hash) rows partitioned by the band-key
    bucket — the production store layout that BOUNDS probe I/O: a probe
    reads only the partition directories its own bands hash into
    (partition-value pruning at the file index, before any scan), so
    per-probe I/O is ~ store_size * distinct_probe_buckets / n_buckets
    instead of O(store).

    Sizing rule: pruning pays when a probe's band count is WELL UNDER
    ``n_buckets`` (the always-on trickle/micro-batch shape — a probe of
    B bands touches <= B buckets); a bulk probe with B >> n_buckets
    hits every bucket and degrades to the full scan, which is the
    correct cost for that shape. Appends accumulate small files per
    bucket directory; compact periodically (rewrite with mode
    'overwrite' per bucket) on long-lived stores.

    ``epoch``: the EXACTLY-ONCE layout for streaming folds — the write
    lands under ``path/epoch=<epoch>/bucket=.../`` with mode
    'overwrite' on that epoch directory only, so a replayed micro-batch
    rewrites its own epoch instead of double-appending. A store must be
    built consistently (every write epoch'd, or none — Hive partition
    discovery needs one directory depth); seed history as epoch 0."""
    if n_buckets < 1:
        raise ValueError(f"n_buckets must be >= 1, got {n_buckets}")
    out = bands.select("band_id", "band_hash").withColumn(
        "bucket", _band_store_bucket(n_buckets)
    )
    if epoch is None:
        out.write.partitionBy("bucket").mode(mode).parquet(path)
    else:
        out.write.partitionBy("bucket").mode("overwrite").parquet(
            f"{path}/epoch={int(epoch)}"
        )


def read_band_store_pruned(
    probe_bands: DataFrame,
    path: str,
    n_buckets: int = 1024,
    exclude_epoch: int | None = None,
) -> DataFrame:
    """The pruned view of a `write_band_store` store for ONE probe:
    collect the probe's distinct bucket ids (<= n_buckets ints — a
    bounded driver collect however large the snapshot) and push them as
    a partition filter, so the file index lists only the hit bucket
    directories. Returns the (band_id, band_hash) store frame the
    membership semi join consumes.

    ``exclude_epoch``: on an epoch'd store, additionally filter OUT
    that epoch's partition (also directory-pruned) — a replayed
    micro-batch must never probe against its own half-written fold."""
    spark = probe_bands.sparkSession
    hit = [
        r["b"]
        for r in probe_bands.select(
            _band_store_bucket(n_buckets).alias("b")
        )
        .distinct()
        .collect()
    ]
    store = spark.read.parquet(path)
    if "bucket" not in store.columns:
        raise ValueError(
            f"{path} is not a write_band_store layout (no bucket column)"
        )
    pruned = store.where(F.col("bucket").isin(hit))
    if exclude_epoch is not None:
        if "epoch" not in store.columns:
            raise ValueError(
                f"{path} is not an epoch'd store; exclude_epoch needs "
                "every write_band_store call to pass epoch"
            )
        pruned = pruned.where(F.col("epoch") != int(exclude_epoch))
    return pruned.select("band_id", "band_hash")


def compact_band_store(
    spark,
    path: str,
    up_to_epoch: int | None = None,
    dedupe: bool = True,
) -> dict[str, int]:
    """Compact a `write_band_store` store — the maintenance operator the
    always-on trickle shape needs: every micro-batch fold appends a few
    files per bucket directory, so an unmaintained store's file count
    grows per batch until LISTING dominates the pruned read. Compaction
    rewrites the CLOSED portion of the store into one file set per
    bucket, preserving the layout (and so `read_band_store_pruned`
    results) exactly.

    Epoch'd stores (the streaming exactly-once layout): all epochs
    <= ``up_to_epoch`` (default: every epoch present) are merged into a
    single epoch directory at the LOWEST compacted epoch number — the
    "seed history" slot, so later replays (which exclude their own,
    higher, epoch) still see the full compacted history. Only compact
    epochs that are CLOSED (no in-flight micro-batch writes or replays
    can target them); the active epoch must stay out of ``up_to_epoch``.

    Flat stores (plain appends, no epoch): the whole store is rewritten
    bucket directory by bucket directory.

    ``dedupe`` drops duplicate (band_id, band_hash) rows while
    rewriting — safe because every store consumer is a left-semi
    membership probe (set semantics), and appends across epochs
    re-land the same band rows whenever near-dup survivors share bands.

    Swap protocol (single-writer contract, same as the store's): the
    compacted data is written to a dot-prefixed temp dir (invisible to
    Spark/Hive readers), source dirs are renamed into dot-prefixed
    trash, the temp is renamed into place, then trash is deleted. A
    crash mid-swap leaves dot-dirs to restore by hand — never a
    double-counted row; probes running DURING the swap window may miss
    the in-flight portion, so schedule compaction like any other store
    write (it IS one).

    Returns {files_before, files_after, epochs_compacted, target_epoch}
    (file counts over data files in the compacted scope; -1 target for
    flat stores)."""
    jvm = spark._jvm
    hconf = spark._jsc.hadoopConfiguration()
    HPath = jvm.org.apache.hadoop.fs.Path
    root = HPath(path)
    fs = root.getFileSystem(hconf)
    if not fs.exists(root):
        raise ValueError(f"compact_band_store: {path} does not exist")

    def _data_files(p) -> int:
        n = 0
        it = fs.listFiles(p, True)
        while it.hasNext():
            f = it.next().getPath().getName()
            if not f.startswith(("_", ".")):
                n += 1
        return n

    top = [s.getPath() for s in fs.listStatus(root)]
    epoch_dirs = {
        int(p.getName().split("=", 1)[1]): p
        for p in top
        if p.getName().startswith("epoch=")
    }
    is_epoched = bool(epoch_dirs)
    if is_epoched:
        closed = sorted(
            e
            for e in epoch_dirs
            if up_to_epoch is None or e <= up_to_epoch
        )
        if len(closed) < 2 and not (closed and dedupe):
            return {
                "files_before": 0,
                "files_after": 0,
                "epochs_compacted": len(closed),
                "target_epoch": closed[0] if closed else -1,
            }
        sources = [epoch_dirs[e] for e in closed]
        target_epoch = closed[0]
    else:
        if up_to_epoch is not None:
            raise ValueError(
                f"compact_band_store: {path} is not an epoch'd store; "
                "up_to_epoch only applies to epoch'd layouts"
            )
        sources = [p for p in top if p.getName().startswith("bucket=")]
        if not sources:
            raise ValueError(
                f"{path} is not a write_band_store layout (no bucket=/"
                "epoch= directories)"
            )
        closed, target_epoch = [], -1
    files_before = sum(_data_files(p) for p in sources)

    scope = spark.read.parquet(path)
    if is_epoched:
        scope = scope.where(F.col("epoch").isin([int(e) for e in closed]))
    scope = scope.select("band_id", "band_hash", "bucket")
    if dedupe:
        scope = scope.distinct()
    tmp = HPath(root, ".compact-tmp")
    if fs.exists(tmp):
        fs.delete(tmp, True)
    # repartition by bucket so each bucket directory lands as ONE file
    # per shuffle partition that actually holds it (the file-count
    # bound compaction exists to restore)
    scope.repartition(F.col("bucket")).write.partitionBy("bucket").mode(
        "overwrite"
    ).parquet(tmp.toString())
    trash = []
    for i, p in enumerate(sources):
        t = HPath(root, f".compact-trash-{i}-{p.getName()}")
        if not fs.rename(p, t):
            raise IOError(f"compact_band_store: rename {p} -> {t} failed")
        trash.append(t)
    if is_epoched:
        dest = HPath(root, f"epoch={target_epoch}")
        if not fs.rename(tmp, dest):
            raise IOError(
                f"compact_band_store: rename {tmp} -> {dest} failed; "
                "restore the .compact-trash-* directories"
            )
        files_after = _data_files(dest)
    else:
        files_after = 0
        for s in fs.listStatus(tmp):
            c = s.getPath()
            if c.getName().startswith("bucket="):
                dest = HPath(root, c.getName())
                if not fs.rename(c, dest):
                    raise IOError(
                        f"compact_band_store: rename {c} -> {dest} "
                        "failed; restore the .compact-trash-* dirs"
                    )
                files_after += _data_files(dest)
        fs.delete(tmp, True)
    for t in trash:
        fs.delete(t, True)
    return {
        "files_before": int(files_before),
        "files_after": int(files_after),
        "epochs_compacted": len(closed),
        "target_epoch": int(target_epoch),
    }


def incremental_minhash_filter_store(
    new_docs: DataFrame,
    store_path: str,
    id_col: str,
    text_col: str,
    n_hashes: int = 16,
    band_size: int = 4,
    n_buckets: int = 1024,
    fold_survivors: bool = True,
    epoch: int | None = None,
) -> DataFrame:
    """`incremental_minhash_filter` against a DISK-persisted
    `write_band_store` store with bucket pruning — the full always-on
    production loop in one call: band the new snapshot ONCE
    (materialized — bounded by the new snapshot, it feeds the bucket
    collect, the semi join, and the survivor fold), read only the hit
    store buckets, probe, and (``fold_survivors``) append the
    survivors' bands back into the store under the same bucket layout.

    Returns the same (id, n_hit_bands, is_dup) frame as the in-memory
    gate — COLLECTED-equivalent, not lazy over the store fold: the
    result is materialized before the fold appends, so the returned
    frame never observes the store growing under it. Same
    cross-snapshot-only contract (intra-snapshot dups pass; run batch
    dedup within the snapshot first).

    ``epoch``: the exactly-once replay contract for streaming callers —
    the probe reads the store with this epoch EXCLUDED and the survivor
    fold OVERWRITES this epoch's partition, so a retried micro-batch
    reproduces its result instead of colliding with its own
    half-written fold (see write_band_store)."""
    from snowplow_s3_loader_spark.materialize import (
        checkpoint_nostats,
        release_materialized,
    )

    bands = checkpoint_nostats(
        minhash_bands(new_docs, id_col, text_col, n_hashes, band_size)
    )
    store = read_band_store_pruned(
        bands, store_path, n_buckets, exclude_epoch=epoch
    )
    hits = bands.join(
        store, ["band_id", "band_hash"], "left_semi"
    )
    per_doc = hits.groupBy("id").agg(F.count("*").alias("n_hit_bands"))
    ids = new_docs.select(F.col(id_col).alias("id"))
    out = checkpoint_nostats(
        ids.join(per_doc, "id", "left").select(
            "id",
            F.coalesce("n_hit_bands", F.lit(0))
            .cast("long")
            .alias("n_hit_bands"),
            (F.coalesce("n_hit_bands", F.lit(0)) >= 1)
            .cast("int")
            .alias("is_dup"),
        )
    )
    if fold_survivors:
        survivor_bands = bands.join(
            out.where(F.col("is_dup") == 0).select("id"), "id", "left_semi"
        )
        write_band_store(
            survivor_bands, store_path, n_buckets, mode="append", epoch=epoch
        )
    release_materialized(bands)
    return out


def lsh_candidate_pairs(
    bands: DataFrame, max_bucket_size: int | None = None
) -> DataFrame:
    """Distinct candidate pairs (id_a < id_b) sharing any band bucket.
    Join is co-partitioned on (band_id, band_hash) — never all-pairs.

    `max_bucket_size` caps the hot-bucket blowup: a bucket holding B docs
    emits B^2/2 pairs, and large exact-duplicate clusters (boilerplate at
    corpus scale) share EVERY band, going quadratic — measured 6.7M -> 674M
    candidates on a 10x corpus of 10-clone clusters. Buckets above the cap
    are dropped from candidate generation; their members are near-identical
    cliques that exact dedup (one hash groupBy) already collapses upstream,
    which is the standard LSH pipeline ordering. None = exact contract
    (every co-bucketed pair)."""
    a = bands.alias("a")
    b = bands.alias("b")
    if max_bucket_size is not None:
        w = Window.partitionBy("band_id", "band_hash")
        bands_capped = (
            bands.withColumn("_bsz", F.count("*").over(w))
            .where(F.col("_bsz") <= max_bucket_size)
            .drop("_bsz")
        )
        a = bands_capped.alias("a")
        b = bands_capped.alias("b")
    return (
        a.join(b, on=["band_id", "band_hash"])
        .where(F.col("a.id") < F.col("b.id"))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )


def _prefix_postings(base: DataFrame, threshold: float) -> DataFrame:
    """PPJoin prefix filter (Xiao et al., WWW'08): order each doc's tokens by
    ascending global document frequency (rarest first, token as tiebreak) and
    keep only the first |x| - ceil(t*|x|) + 1 as postings.

    Lossless for Jaccard >= t: any qualifying pair has overlap
    o >= t/(1+t)*(|x|+|y|) >= ceil(t*|x|), so it must share a token within
    that prefix. Frequent tokens (stopwords shared by millions of docs) sort
    LAST and fall outside every non-trivial prefix — the posting-list blowup
    a plain inverted-index join hits at corpus scale never materializes.

    base: (id, blk, toks sorted-distinct). Returns (id, blk, tok) postings.
    """
    postings = base.select("id", "blk", F.size("toks").alias("sz"), F.explode("toks").alias("tok"))
    tok_df = postings.groupBy("tok").agg(F.count("*").alias("tok_freq"))
    w = Window.partitionBy("blk", "id").orderBy("tok_freq", "tok")
    return (
        postings.join(tok_df, "tok")
        .withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= F.col("sz") - F.ceil(F.lit(threshold) * F.col("sz")) + 1)
        .select("id", "blk", "tok")
    )


def token_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    block_cols: list[str],
    threshold: float = 0.5,
    tokens_expr: Column | None = None,
    materialize: bool = True,
) -> DataFrame:
    """Exact token-set Jaccard over pairs sharing a blocking key.

    Candidate generation goes through PREFIX postings only (see
    _prefix_postings) — the set-similarity join never builds the quadratic
    pair space of a frequent token. Candidates are then length-filtered
    (t*|x| <= |y| — a necessary condition for J >= t) and verified exactly
    with array_intersect over the full token arrays.
    Output: (id_a, id_b, jaccard) with jaccard >= threshold.

    `tokens_expr` swaps the set definition (default: whitespace tokens);
    pass char_ngrams(...) for shingle/n-gram Jaccard — same join machinery,
    same prefix-filter guarantees.

    With `materialize=True` (default) the result is computed eagerly
    (localCheckpoint) and the two internal caches are unpersisted before
    returning, so repeated calls in one session leave no cached blocks
    behind (the round-2 leak degraded every query that followed).
    `materialize=False` returns the lazy plan with the caches live —
    callers that iterate the pair set must unpersist via the session
    catalog themselves.
    """
    toks = tokens(F.col(text_col)) if tokens_expr is None else tokens_expr
    # parallelism floor: tokenizing/shingling is per-row CPU-heavy; when the
    # upstream scan has fewer splits than the cluster (single-row-group test
    # parquet, a small filtered corpus), one task would serialize all of it.
    # A cheap pre-shuffle of the raw rows spreads the compute; no-op
    # condition on a real many-split layout (splits >> cores).
    # (inputFiles() is driver metadata — cheaper than df.rdd planning.)
    par = df.sparkSession.sparkContext.defaultParallelism
    in_files = df.inputFiles()
    n_parts = len(in_files) if in_files else df.rdd.getNumPartitions()
    if n_parts < par:
        df = df.repartition(par)
    # persist: the tokenized corpus feeds the prefix-filter, the frequency
    # count, and both verify sides — without it the scan+tokenize recomputes
    # ~6x. MEMORY_AND_DISK so an oversized corpus spills instead of
    # evicting mid-query. Prefix postings likewise feed both sides of the
    # candidate self-join.
    from pyspark import StorageLevel

    base = df.select(
        F.col(id_col).alias("id"),
        F.struct(*[F.col(c) for c in block_cols]).alias("blk"),
        F.array_sort(F.array_distinct(toks)).alias("toks"),
    ).persist(StorageLevel.MEMORY_AND_DISK)
    prefixes = _prefix_postings(base, threshold).persist(StorageLevel.MEMORY_AND_DISK)
    candidates = (
        prefixes.alias("a")
        .join(prefixes.alias("b"), on=["blk", "tok"])
        .where(F.col("a.id") < F.col("b.id"))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"), "blk")
        .distinct()
    )
    docs_a = base.select(
        F.col("id").alias("id_a"), F.col("blk"), F.col("toks").alias("toks_a")
    )
    docs_b = base.select(
        F.col("id").alias("id_b"), F.col("blk"), F.col("toks").alias("toks_b")
    )
    out = (
        candidates.join(docs_a, ["id_a", "blk"])
        .join(docs_b, ["id_b", "blk"])
        # length filter: J >= t forces t*max(|x|,|y|) <= min(|x|,|y|)
        .where(
            F.least(F.size("toks_a"), F.size("toks_b"))
            >= F.lit(threshold) * F.greatest(F.size("toks_a"), F.size("toks_b"))
        )
        .withColumn("common", F.size(F.array_intersect("toks_a", "toks_b")))
        .withColumn(
            "jaccard",
            F.round(
                F.col("common").cast("double")
                / (F.size("toks_a") + F.size("toks_b") - F.col("common")),
                6,
            ),
        )
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )
    if materialize:
        # one eager pass: the checkpoint blocks are sized to the PAIR
        # RESULT (small — near-dup density bounded) and the big
        # corpus/posting caches are dropped immediately — SQL-layer
        # persist() caches are not otherwise reclaimable, which is exactly
        # how the round-2 version leaked them for the session lifetime and
        # smeared the whole 64-query bench. Call release_materialized(out)
        # when done with the result to drop its checkpoint blocks too.
        out = out.localCheckpoint(eager=True)
        base.unpersist()
        prefixes.unpersist()
    return out


def _token_hash60(tok: Column) -> Column:
    """First 60 bits of md5(token) as a non-negative bigint (15 hex chars),
    reproducible in DuckDB via CAST('0x'||substr(md5(t),1,15) AS BIGINT)."""
    return F.conv(F.substring(F.md5(tok.cast("binary")), 1, 15), 16, 10).cast("long")


def simhash60(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """60-bit SimHash per document.

    Bit b of the fingerprint is set iff sum over distinct tokens of
    (+1 if bit b of md5-60(token) else -1) > 0. Exact-parity formulation
    (explode tokens x 60 bits); see module docstring for the 100 TB variant.
    Returns (id, simhash).
    """
    tok = distinct_tokens(df, id_col, text_col).withColumn("h", _token_hash60(F.col("tok")))
    bits = tok.select(
        "id", "h", F.explode(F.sequence(F.lit(0), F.lit(59))).alias("bit")
    ).withColumn(
        # pyspark's F.shiftright wants a literal bit count; the SQL form
        # accepts a column operand
        "vote",
        F.when(F.expr("shiftright(h, bit) & 1") == 1, 1).otherwise(-1),
    )
    return (
        bits.groupBy("id", "bit")
        .agg(F.sum("vote").alias("v"))
        .groupBy("id")
        .agg(
            F.sum(
                F.when(F.col("v") > 0, F.expr("shiftleft(1L, bit)")).otherwise(
                    F.lit(0).cast("long")
                )
            ).alias("simhash")
        )
    )


def simhash60_fast(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Vectorized SimHash — the 100 TB path. Bit-identical to simhash60()
    (same md5-60 token hashes, same vote rule) but computed per Arrow batch
    in numpy instead of exploding tokens x 60 bits through a shuffle:
    zero shuffles, one pass, ~60x less intermediate data."""
    import hashlib
    import re

    import numpy as np
    import pandas as pd

    from pyspark.sql.types import LongType, StructField, StructType

    out_schema = StructType(
        [StructField("id", LongType()), StructField("simhash", LongType())]
    )

    def _batch(pdfs):
        bits = np.arange(60, dtype=np.uint64)
        for pdf in pdfs:
            ids, hashes = [], []
            for doc_id, text in zip(pdf[id_col], pdf[text_col]):
                if text is None:
                    # expression path: explode(NULL array) emits no rows,
                    # so null-text docs are absent from simhash60() output
                    continue
                # EXACT twin of tokens() = split(trim(text), ' +'):
                # trim strips ASCII spaces only; split on runs of spaces only
                # (tabs/newlines stay inside tokens); '' yields the
                # empty-string token, not an empty set
                toks = set(re.split(" +", str(text).strip(" ")))
                votes = np.zeros(60, dtype=np.int64)
                for tok in toks:
                    h = int(hashlib.md5(tok.encode()).hexdigest()[:15], 16)
                    tok_bits = (np.uint64(h) >> bits) & np.uint64(1)
                    votes += np.where(tok_bits.astype(bool), 1, -1)
                fp = int(((votes > 0).astype(np.uint64) << bits).sum())
                ids.append(int(doc_id))
                hashes.append(fp)
            yield pd.DataFrame({"id": ids, "simhash": hashes})

    return df.select(F.col(id_col), F.col(text_col)).mapInPandas(_batch, schema=out_schema)


def hamming60(a: Column, b: Column) -> Column:
    """Hamming distance between two 60-bit simhashes: popcount of xor."""
    return F.bit_count(a.bitwiseXOR(b))


def containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    block_cols: list[str],
    threshold: float = 0.8,
    tokens_expr: Column | None = None,
    materialize: bool = True,
) -> DataFrame:
    """Asymmetric CONTAINMENT near-dup pairs: |A ∩ B| / |A| >= threshold
    (Broder 1997's containment, vs the resemblance token_jaccard_pairs
    computes). Catches sub-document duplication — a short document
    quoted wholesale inside a long one has Jaccard <= |A|/|B| (tiny) but
    containment ~1, so symmetric dedup never sees it.

    Output: ordered (id_a, id_b, containment) rows — id_a's token set is
    contained in id_b at the given rate; both directions are evaluated
    independently (A-in-B and B-in-A can differ arbitrarily).

    Candidate generation: containment >= t forces overlap >= ceil(t*|A|),
    so a qualifying pair shares a token within A's PPJoin prefix (first
    |A| - ceil(t*|A|) + 1 rarity-ordered tokens) — the same lossless
    prefix _prefix_postings builds for Jaccard. The CONTAINEE side
    cannot be prefix-pruned (B may be arbitrarily larger than A), so it
    posts all tokens; the rarity ordering still keeps A's prefix tokens
    infrequent, which is what bounds the candidate join. The exact
    verify (array_intersect) then removes every false candidate. Size
    filter |B| >= ceil(t*|A|) applies before the intersect.
    """
    from pyspark import StorageLevel

    toks = tokens(F.col(text_col)) if tokens_expr is None else tokens_expr
    par = df.sparkSession.sparkContext.defaultParallelism
    in_files = df.inputFiles()
    n_parts = len(in_files) if in_files else df.rdd.getNumPartitions()
    if n_parts < par:
        df = df.repartition(par)
    base = df.select(
        F.col(id_col).alias("id"),
        F.struct(*[F.col(c) for c in block_cols]).alias("blk"),
        F.array_sort(F.array_distinct(toks)).alias("toks"),
    ).persist(StorageLevel.MEMORY_AND_DISK)
    pre = _prefix_postings(base, threshold).persist(StorageLevel.MEMORY_AND_DISK)
    full = base.select(
        F.col("id").alias("id_b"), "blk", F.explode("toks").alias("tok")
    )
    candidates = (
        pre.select(F.col("id").alias("id_a"), "blk", "tok")
        .join(full, ["blk", "tok"])
        .where(F.col("id_a") != F.col("id_b"))
        .select("id_a", "id_b", "blk")
        .distinct()
    )
    docs_a = base.select(
        F.col("id").alias("id_a"), F.col("blk"), F.col("toks").alias("toks_a")
    )
    docs_b = base.select(
        F.col("id").alias("id_b"), F.col("blk"), F.col("toks").alias("toks_b")
    )
    out = (
        candidates.join(docs_a, ["id_a", "blk"])
        .join(docs_b, ["id_b", "blk"])
        .where(F.size("toks_b") >= F.ceil(F.lit(threshold) * F.size("toks_a")))
        .withColumn("common", F.size(F.array_intersect("toks_a", "toks_b")))
        .withColumn(
            "containment",
            F.round(F.col("common").cast("double") / F.size("toks_a"), 6),
        )
        .where(F.col("containment") >= threshold)
        .select("id_a", "id_b", "containment")
    )
    if materialize:
        out = out.localCheckpoint(eager=True)
        base.unpersist()
        pre.unpersist()
    return out
