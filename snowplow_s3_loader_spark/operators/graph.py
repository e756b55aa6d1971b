"""Connected components over near-duplicate pair graphs — the step that
turns pairwise dedup output (token_jaccard_pairs / lsh_candidate_pairs /
embedding_near_dup) into dedup CLUSTERS, so a pipeline can keep one
canonical document per cluster. (Beyond the reference's surface —
SURVEY.md SS7.8 training-data extensions; the reference loader has no
relational layer at all, Processing.scala:69-77.)

Algorithm: iterative min-label propagation, with an automatic fallback.
Every vertex starts labeled with itself; each round every vertex takes
the minimum label among itself and its neighbors; converged when no
label changes. Rounds needed equals the graph diameter — near-dup
clusters are small and dense (diameter is single digits), which makes
plain propagation the right first choice. But web-scale dedup graphs DO
contain long chains (boilerplate ladders), so when propagation hasn't
converged after max_iter/2 rounds the loop switches to the alternating
large-star/small-star formulation (Kiveris et al., "Connected Components
in MapReduce and Beyond", SoCC'14) — same keyed join+agg shape per
round, O(log n) rounds regardless of diameter — instead of raising.

Scale mechanics:
- each iteration is one shuffle join (edges x labels) + one aggregation —
  both keyed, both AQE-coalesced;
- lineage is truncated every round via checkpoint_nostats
  (iterative Spark plans otherwise grow an exponential DAG — and plain
  localCheckpoint would carry the origin plan's statistics forward,
  which COMPOUND multiplicatively through each round's join until
  Catalyst's size estimator spends minutes in BigInteger math; see
  materialize.checkpoint_nostats), and the previous round's blocks are
  released immediately, so storage is bounded at 2 x |V| rows
  regardless of iteration count;
- the convergence check is a count() on changed labels — one tiny action
  per round, the standard cost of driver-controlled iteration.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from snowplow_s3_loader_spark.materialize import (
    checkpoint_nostats,
    checkpoint_nostats_counted,
    release_materialized,
)


def _loop_width(spark, n_edges: int) -> int:
    """Shuffle width for the iterative loops: sized to the graph
    (~50k edges per partition), clamped to the session width so it never
    widens beyond what the session would use anyway. A non-numeric
    session value (e.g. 'auto' on platforms with adaptive width) falls
    back to the cluster's default parallelism."""
    try:
        sess_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    except (TypeError, ValueError):
        sess_parts = spark.sparkContext.defaultParallelism
    return min(sess_parts, max(4, n_edges // 50_000 + 1))


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 25,
    driver_threshold: int = 100_000,
) -> DataFrame:
    """(node, component) for every node appearing in `pairs`; component is
    the minimum node id reachable through the pair graph — a stable,
    engine-portable cluster id.

    Hybrid execution (round 5): a graph at or under ``driver_threshold``
    distinct pairs is solved with UNION-FIND ON THE DRIVER — 100k pairs
    is ~1.6 MB collected, and chain-shaped graphs (semantic near-dups)
    that cost the distributed loop a dozen fixed-overhead Spark rounds
    solve in milliseconds (measured: a 1.4k-pair chain graph 16.6s ->
    0.6s). Larger graphs run the distributed loop: min-label propagation
    for the first max_iter/2 rounds (optimal for shallow near-dup
    clusters), then the O(log n) large-star/small-star fallback for
    diameters that outlive the budget. The same bounded-driver-work
    pattern as the IVF training sample; set driver_threshold=0 to force
    the distributed path."""
    # Size the loop's shuffle width to the graph, not the session default:
    # a small dedup graph would otherwise pay full-width task scheduling k
    # times over (measured 3.8s -> 2.2s on a 23k-edge graph by dropping
    # 32 -> 4). Width is applied with EXPLICIT hash repartitioning of the
    # loop frames — the session's spark.sql.shuffle.partitions is never
    # mutated, so concurrent queries in the same session are unaffected
    # (round-4 VERDICT watch item). Co-partitioning edges on `d` and
    # labels on `v` at the same width also removes the per-round join
    # exchanges entirely: only the groupBy repartition shuffles. Clamped
    # to the session width (never widens — at corpus scale this is a
    # no-op); a non-numeric session value falls back to the cluster's
    # default parallelism.
    spark = pairs.sparkSession
    # Null ids are dropped up front so BOTH execution paths see the same
    # graph: the distributed loop's equi-joins silently never match null
    # keys, while the driver union-find would crash on them (Python can't
    # order None against ints) — filtering here makes the
    # driver_threshold boundary invisible to callers with dirty input.
    # row count fused into the checkpoint's own materializing action
    # (round 14 — checkpoint + count was two jobs everywhere in the
    # loop family; the census measured the job floor as ~half the wall)
    distinct_pairs, n_pairs = checkpoint_nostats_counted(
        pairs.select(F.col(id_a).alias("s"), F.col(id_b).alias("d"))
        .where(F.col("s").isNotNull() & F.col("d").isNotNull())
        .distinct()
    )
    id_type = distinct_pairs.schema["s"].dataType.simpleString()
    if n_pairs <= driver_threshold:
        try:
            return _driver_components(spark, distinct_pairs.collect(), id_type)
        finally:
            release_materialized(distinct_pairs)
    edges0 = distinct_pairs.union(
        distinct_pairs.select(F.col("d").alias("s"), F.col("s").alias("d"))
    )
    n_edges = 2 * n_pairs
    loop_parts = _loop_width(spark, n_edges)
    # every loop materialization uses checkpoint_nostats, NOT plain
    # localCheckpoint: inherited stats compound multiplicatively through
    # the per-round joins (see checkpoint_nostats docstring). edges are
    # checkpointed WITH an advertised hash(d) partitioning and labels
    # with hash(v) at the same width, so the per-round join plans with
    # zero Exchange — without the advertisement a checkpointed frame
    # reports UnknownPartitioning and the FULL edge set re-shuffles
    # every round (O(rounds x |E|) at corpus scale).
    edges = checkpoint_nostats(edges0.distinct(), loop_parts, ["d"])
    release_materialized(distinct_pairs)
    try:
        labels = checkpoint_nostats(
            edges.select(F.col("s").alias("v"))
            .distinct()
            .withColumn("lbl", F.col("v")),
            loop_parts,
            ["v"],
        )
        for _ in range(max(1, max_iter // 2)):
            # groupBy plans its own exchange WITH a map-side partial min
            # below it, so the per-round shuffle carries at most |V|
            # partial minima per map partition instead of all |E| label
            # fan-out rows (round 13 — the former explicit
            # .repartition(s) BEFORE the groupBy suppressed the partial
            # aggregate: the agg saw its layout already satisfied and
            # ran as one post-shuffle pass over the raw fan-out). The
            # |V|-row repartition AFTER the agg restores hash(s,
            # loop_parts) for the zero-Exchange label-align join below.
            neigh = (
                edges.join(labels, edges.d == labels.v)  # co-partitioned
                .select("s", "lbl")
                .groupBy("s")
                .agg(F.min("lbl").alias("nl"))
                .repartition(loop_parts, "s")
            )
            # labels is hash(v, loop_parts), neigh is hash(s, loop_parts)
            # after its agg: the left join is co-partitioned too, and the
            # projection keeps `v` intact — so the result still carries
            # labels' layout and the checkpoint may TRUST it (gated by
            # test_plans.py round-join test + the differential suites)
            # the round's checkpoint carries a __chg flag (labels only
            # DECREASE, so changed == neighbor-min strictly below the
            # old label), making the convergence check one predicate
            # count over the just-persisted blocks instead of a
            # new-vs-old join that re-read both label frames (round 14
            # — guide §1.2 step 1, don't recompute what the round's own
            # pass already knew). The flag never escapes: the loop join
            # reads (v, lbl) and both exits re-project.
            new_labels = checkpoint_nostats(
                labels.join(neigh, labels.v == neigh.s, "left")
                .select(
                    "v",
                    F.least(F.col("lbl"), F.coalesce("nl", F.col("lbl"))).alias(
                        "lbl"
                    ),
                    F.coalesce(
                        F.col("nl") < F.col("lbl"), F.lit(False)
                    ).alias("__chg"),
                ),
                loop_parts,
                ["v"],
                trust_partitioning=True,
            )
            changed = new_labels.where("__chg").count()
            release_materialized(labels)
            labels = new_labels
            if changed == 0:
                # materialize the RENAMED result and release the internal
                # label frame: the caller holds exactly one releasable
                # checkpoint (release_materialized(result) frees all blocks
                # this operator created) — both branches honor this contract
                out = checkpoint_nostats(
                    labels.select(
                        F.col("v").alias("node"), F.col("lbl").alias("component")
                    )
                )
                release_materialized(labels)
                return out
        # diameter outlived the propagation budget: long-chain graph.
        # nodes must derive from `edges` (still checkpointed), NOT from
        # `labels`, which is released next — its lineage is truncated and
        # a frame built on it would be unreadable.
        nodes = edges.select(F.col("s").alias("v")).distinct()
        release_materialized(labels)
        return _star_components(edges, nodes, loop_parts=loop_parts)
    finally:
        release_materialized(edges)


def _driver_components(spark, rows, id_type: str) -> DataFrame:
    """Union-find over a collected (small) pair list; roots are component
    minima because every union parents the larger root under the smaller.
    Returns the same checkpointed (node, component) contract as the
    distributed path (release_materialized-compatible)."""
    parent: dict = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for r in rows:
        ra, rb = find(r["s"]), find(r["d"])
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    out = [(n, find(n)) for n in parent]
    return checkpoint_nostats(
        spark.createDataFrame(out, f"node {id_type}, component {id_type}")
    )


def _star_components(
    edges: DataFrame,
    nodes: DataFrame,
    max_rounds: int = 60,
    loop_parts: int = 8,
) -> DataFrame:
    """Alternating large-star/small-star connected components (Kiveris et
    al., SoCC'14), implemented from the paper's operator definitions:

    * large-star(u): connect every strictly-larger neighbor of u to
      ``m = min(N(u) ∪ {u})``;
    * small-star(u): connect every neighbor ``v <= u`` (each undirected
      edge processed once, from its larger endpoint) and u itself to m.

    Both operators preserve connectivity and strictly shrink star height,
    converging in O(log n) rounds on ANY diameter — each round is two
    (groupBy + keyed join) pairs plus one set-difference action, the same
    shuffle shape as one propagation round. `edges` must be the
    symmetrized (s, d) relation; `nodes` the full vertex set (so isolated
    vertices label themselves). Returns (node, component). Shuffle width
    is pinned per-frame via explicit repartition on the round key `s`
    (same graph-sized width discipline as the propagation loop — the
    session conf is never touched)."""
    sym = checkpoint_nostats(
        edges.where(F.col("s") != F.col("d")), loop_parts, ["s"]
    )
    try:
        for _ in range(max_rounds):
            # -- large-star over the symmetric relation ---------------------
            mins = (
                sym.groupBy("s")
                .agg(F.min("d").alias("mn"))
                .select("s", F.least("mn", F.col("s")).alias("m"))
            )
            large = (
                sym.join(mins, "s")
                .where(F.col("d") > F.col("s"))
                .select(F.col("d").alias("a"), F.col("m").alias("b"))
                .where(F.col("a") != F.col("b"))
                # distinct plans its own exchange with a MAP-SIDE
                # partial dedup below it (an explicit repartition on
                # the keys would satisfy the distribution up front and
                # ship every duplicate — round 13); downstream pins
                # width when it repartitions by `s`
                .distinct()
            )
            lsym = large.select(F.col("a").alias("s"), F.col("b").alias("d")).union(
                large.select(F.col("b").alias("s"), F.col("a").alias("d"))
            )
            # -- small-star: each undirected edge from its larger endpoint --
            directed = lsym.where(F.col("d") < F.col("s")).repartition(loop_parts, "s")
            smins = directed.groupBy("s").agg(F.min("d").alias("m"))
            small = (
                directed.join(smins, "s")
                .select(F.col("d").alias("a"), F.col("m").alias("b"))
                .union(smins.select(F.col("s").alias("a"), F.col("m").alias("b")))
                .where(F.col("a") != F.col("b"))
                .distinct()  # partial dedup below its own exchange (as above)
            )
            new_sym = checkpoint_nostats(
                small.select(F.col("a").alias("s"), F.col("b").alias("d"))
                .union(small.select(F.col("b").alias("s"), F.col("a").alias("d")))
                .repartition(loop_parts, "s")
                .distinct(),
                loop_parts,
                ["s"],
                trust_partitioning=True,  # distinct preserved the hash(s) layout
            )
            # two-way difference: one-way exceptAll is 0 for a strict
            # subset, which is not convergence
            changed = (
                new_sym.exceptAll(sym).count() + sym.exceptAll(new_sym).count()
            )
            release_materialized(sym)
            sym = new_sym
            if changed == 0:
                break
        else:
            raise RuntimeError(
                f"connected_components: star algorithm did not converge in "
                f"{max_rounds} rounds (malformed edge input?)"
            )
        # converged: disjoint stars — every edge points non-root -> root
        star = (
            sym.where(F.col("s") > F.col("d"))
            .groupBy("s")
            .agg(F.min("d").alias("root"))
        )
        # materialize BEFORE the finally releases sym (the result would
        # otherwise read from truncated-lineage blocks that no longer exist)
        return checkpoint_nostats(
            nodes.join(star, nodes.v == star.s, "left").select(
                F.col("v").alias("node"),
                F.coalesce("root", F.col("v")).alias("component"),
            )
        )
    finally:
        release_materialized(sym)


class ComponentMap:
    """Incremental connected-components maintenance for streaming dedup.

    The batch operator above answers "what are the clusters of THIS pair
    set"; a loader is a streaming system (Processing.scala:69-77) and at
    100 TB near-dup pairs arrive continuously — recomputing components
    over the full history every batch would be O(corpus) per batch. This
    maintainer keeps the (node, component) map and folds each new batch
    of pairs in with work proportional to the DELTA:

    1. map both endpoints of the new pairs through the current component
       map (left join; unseen nodes label themselves) — one keyed join
       against state per endpoint;
    2. project the batch into COMPONENT space: edge (a, b) becomes
       (comp(a), comp(b)), self-edges dropped. Merges triggered by the
       batch are exactly the connected components of this projected
       graph, whose size is bounded by the batch (never the corpus);
    3. run the batch connected_components on the tiny projected graph;
    4. relabel: one keyed left join of state against the (old component
       -> new root) delta. Untouched components join to nothing and keep
       their label; new nodes union in with their resolved root.

    Component ids stay "minimum reachable node id", so after any number
    of increments the map is ROW-IDENTICAL to the batch operator run on
    the union of all pairs ever seen (the equivalence the pytest
    asserts). State is localCheckpoint-materialized per update with the
    previous generation's blocks released — the same bounded-storage
    discipline as the batch loop.

    The relabel join broadcasts the (old component -> new root) remap
    only while it stays under ``broadcast_threshold`` rows (its exact
    size is known — the delta CC is already materialized). Steady
    streaming merges a handful of components per batch and always
    broadcasts; a giant replay/backfill batch that merges millions falls
    through to a plain shuffle join and lets AQE pick the strategy,
    instead of forcing an over-sized broadcast (round-4 VERDICT watch
    item).

    **Restart contract**: the map lives in driver/executor memory. When
    used as a ``foreachBatch`` sink, streaming offsets commit when the
    callback returns — so after a query restart, a fresh ComponentMap
    would silently lose all pre-restart components (replay only covers
    the uncommitted tail). Pass ``checkpoint_path`` to make the sink
    restart-safe: every batch writes the new map to
    ``{checkpoint_path}/v{batch_id}`` (parquet, committed by its
    _SUCCESS marker) BEFORE offsets commit, older generations are pruned
    to the last two, and ``ComponentMap.load`` resumes from the newest
    committed generation. Replayed batches re-fold the same pairs — a
    structural no-op — and overwrite their own generation, so the scheme
    is at-least-once-safe end to end.

    Use directly (``m.update(pairs)``) or as a foreachBatch sink
    (``stream.writeStream.foreachBatch(m.foreach_batch)``).
    """

    def __init__(
        self,
        id_a: str = "id_a",
        id_b: str = "id_b",
        broadcast_threshold: int = 1_000_000,
        checkpoint_path: str | None = None,
        state_partitions: int | None = None,
    ) -> None:
        self.id_a = id_a
        self.id_b = id_b
        self.broadcast_threshold = broadcast_threshold
        self.checkpoint_path = checkpoint_path
        # state is kept hash-partitioned on `node` at a CONSTANT width so
        # every per-batch lookup join co-partitions against it — the
        # batch side repartitions to match and the (huge) state side
        # never shuffles inside an update; the one state-sized move per
        # generation is the new-state checkpoint itself. Resolved from
        # the session on first update when not given.
        self.state_partitions = state_partitions
        self.state: DataFrame | None = None  # (node, component)

    def _w(self, spark) -> int:
        if self.state_partitions is None:
            try:
                self.state_partitions = int(
                    spark.conf.get("spark.sql.shuffle.partitions")
                )
            except (TypeError, ValueError):
                self.state_partitions = spark.sparkContext.defaultParallelism
        return self.state_partitions

    def update(self, new_pairs: DataFrame) -> DataFrame:
        """Fold one batch of pairs into the map; returns the new map."""
        w = self._w(new_pairs.sparkSession)
        if self.state is None:
            first = connected_components(new_pairs, self.id_a, self.id_b)
            # re-materialize with the advertised node partitioning the
            # per-batch joins rely on; one extra narrow shuffle, once
            self.state = checkpoint_nostats(first, w, ["node"])
            release_materialized(first)
            return self.state

        state = self.state
        edges = new_pairs.select(
            F.col(self.id_a).alias("ea"), F.col(self.id_b).alias("eb")
        ).distinct()

        # endpoints -> current component (unseen nodes label themselves).
        # state advertises hash(node, w); the aliases propagate the
        # layout (alias-aware output partitioning), and the batch side is
        # explicitly repartitioned to match before each lookup — so both
        # joins co-partition and STATE NEVER SHUFFLES here.
        ca = state.select(F.col("node").alias("ea"), F.col("component").alias("comp_a"))
        cb = state.select(F.col("node").alias("eb"), F.col("component").alias("comp_b"))
        mapped = (
            edges.repartition(w, "ea")
            .join(ca, "ea", "left")
            .repartition(w, "eb")
            .join(cb, "eb", "left")
            .select(
                "ea",
                "eb",
                F.coalesce("comp_a", F.col("ea")).alias("comp_a"),
                F.coalesce("comp_b", F.col("eb")).alias("comp_b"),
            )
        )
        mapped = checkpoint_nostats(mapped)  # reused thrice below: compute once
        try:
            comp_edges = (
                mapped.select("comp_a", "comp_b")
                .where(F.col("comp_a") != F.col("comp_b"))
                .distinct()
            )
            # merges in component space: bounded by the batch, not the corpus
            delta = connected_components(comp_edges, "comp_a", "comp_b")
        except BaseException:
            release_materialized(mapped)
            raise
        try:
            remap = delta.where(F.col("node") != F.col("component")).select(
                F.col("node").alias("component"), F.col("component").alias("new_comp")
            )
            # delta is checkpoint-materialized, so this count is a cheap
            # local scan; gate the broadcast on the KNOWN remap size
            # rather than forcing the hint regardless of batch shape
            if remap.count() <= self.broadcast_threshold:
                remap = F.broadcast(remap)

            relabeled = (
                state.join(remap, "component", "left")
                .select(
                    "node",
                    F.coalesce("new_comp", F.col("component")).alias("component"),
                )
            )
            # nodes first seen this batch: their comp-space label was their
            # own id, so the same remap (already broadcast-gated above)
            # resolves their final root
            new_nodes = (
                mapped.select(F.col("ea").alias("node"), F.col("comp_a").alias("component"))
                .union(
                    mapped.select(F.col("eb").alias("node"), F.col("comp_b").alias("component"))
                )
                .where(F.col("node") == F.col("component"))  # self-labeled = unseen
                .join(state.select("node"), "node", "left_anti")
                .distinct()
                .join(remap, "component", "left")
                .select(
                    "node", F.coalesce("new_comp", F.col("component")).alias("component")
                )
            )
            new_state = checkpoint_nostats(
                relabeled.union(new_nodes), w, ["node"]
            )
        finally:
            release_materialized(mapped)
            release_materialized(delta)
        release_materialized(state)
        self.state = new_state
        return new_state

    def foreach_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        """Structured Streaming sink body: fold the micro-batch in. Offsets
        commit when this returns, so a replayed batch re-folds the same
        pairs — a no-op for component structure (idempotent merge). With
        ``checkpoint_path`` set, the new map is durably written BEFORE
        this returns (i.e. before offsets commit), making the sink
        restart-safe; without it, a query restart starts from an empty
        map and pre-restart components are lost (see class docstring)."""
        self.update(batch_df)
        if self.checkpoint_path is not None:
            self._persist(batch_id)

    # -- durable state (restart safety) ---------------------------------

    @staticmethod
    def _fs(spark, path: str):
        jvm = spark._jvm
        jpath = jvm.org.apache.hadoop.fs.Path(path)
        return jpath.getFileSystem(spark._jsc.hadoopConfiguration()), jvm

    @staticmethod
    def _committed_versions(spark, path: str) -> list[int]:
        """Generation numbers under `path` whose parquet write completed
        (has a _SUCCESS marker), ascending."""
        fs, jvm = ComponentMap._fs(spark, path)
        root = jvm.org.apache.hadoop.fs.Path(path)
        if not fs.exists(root):
            return []
        out = []
        for st in fs.listStatus(root):
            name = st.getPath().getName()
            if name.startswith("v") and name[1:].isdigit():
                if fs.exists(jvm.org.apache.hadoop.fs.Path(st.getPath(), "_SUCCESS")):
                    out.append(int(name[1:]))
        return sorted(out)

    def _persist(self, batch_id: int) -> None:
        """Write the current map to {checkpoint_path}/v{batch_id} and prune
        generations older than the previous one. The parquet _SUCCESS
        marker is the commit point, so a crash mid-write leaves the prior
        generation authoritative; a replayed batch overwrites its own
        generation with identical content."""
        assert self.state is not None and self.checkpoint_path is not None
        spark = self.state.sparkSession
        target = f"{self.checkpoint_path}/v{batch_id}"
        self.state.write.mode("overwrite").parquet(target)
        fs, jvm = self._fs(spark, self.checkpoint_path)
        for v in self._committed_versions(spark, self.checkpoint_path)[:-2]:
            fs.delete(jvm.org.apache.hadoop.fs.Path(f"{self.checkpoint_path}/v{v}"), True)

    @classmethod
    def load(
        cls,
        spark,
        checkpoint_path: str,
        id_a: str = "id_a",
        id_b: str = "id_b",
        broadcast_threshold: int = 1_000_000,
    ) -> "ComponentMap":
        """Resume a persisted map from its newest committed generation (a
        fresh, empty map if none exists yet — first run)."""
        m = cls(id_a, id_b, broadcast_threshold, checkpoint_path)
        versions = cls._committed_versions(spark, checkpoint_path)
        if versions:
            m.state = checkpoint_nostats(
                spark.read.parquet(f"{checkpoint_path}/v{versions[-1]}"),
                m._w(spark),
                ["node"],
            )
        return m

    def components(self) -> DataFrame:
        """Current (node, component) map (empty-safe)."""
        if self.state is None:
            raise ValueError("ComponentMap has seen no pairs yet")
        return self.state

    def release(self) -> None:
        """Drop the map's cached blocks (the map is dead afterwards)."""
        if self.state is not None:
            release_materialized(self.state)
            self.state = None


def dedup_keep_canonical(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str,
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """The full near-dup dedup step: drop every document that belongs to a
    pair cluster but is not its canonical (minimum-id) member. Documents
    in no cluster pass through untouched — one left-anti join against the
    (small) non-canonical member list."""
    comps = connected_components(pairs, id_a, id_b)
    losers = comps.where(F.col("node") != F.col("component")).select(
        F.col("node").alias(id_col)
    )
    return docs.join(losers, id_col, "left_anti")


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 3,
    damping_num: int = 85,
    damping_den: int = 100,
    scale: int = 10**12,
    seeds: DataFrame | None = None,
    seed_col: str = "node",
) -> DataFrame:
    """Exact-integer PageRank power iteration: (node, rank_micro) after
    ``iterations`` rounds, with all arithmetic in BIGINT micro-units so
    the result is bit-identical across engines (the same trick as the
    bigram-LM micro-nats — floating-point PageRank is order-dependent
    and cannot hash-match an oracle).

    Semantics: ranks start at ``scale div n`` for each of the n distinct
    nodes; each round every node receives

        tele + sum over in-edges (u, v) of (rank[u] * damping_num)
                                       div (damping_den * outdeg[u])

    where ``tele = (scale * (damping_den - damping_num)) div
    (damping_den * n)`` and ``div`` is truncating integer division
    (all quantities are non-negative, so truncation == floor in every
    engine). Mass lost to dangling nodes (out-degree 0) and to floor
    rounding is NOT redistributed — the standard "pseudo-PageRank"
    simplification; node ORDERING converges to the same ranking, and
    exactness is what makes the operator verifiable. Beyond the
    reference's surface (its loader has no relational layer,
    Processing.scala:69-77); the operator exists for link-graph /
    citation-graph quality weighting in curation pipelines.

    Scale mechanics (mirrors connected_components): the narrow (src,
    dst) adjacency frame is checkpointed ONCE with an advertised
    hash(src) layout and ranks with hash(node) at the same width, so
    the per-round rank-to-edges join plans with ZERO Exchange on the
    edge side; only the per-round groupBy(dst) and the node-align join
    shuffle, both at graph-sized width. Lineage is truncated every
    round via checkpoint_nostats (stats otherwise compound
    multiplicatively — see its docstring); the previous round's blocks
    are released immediately, so storage is bounded at
    |E| + 2 x |V| rows regardless of iteration count.

    ``seeds`` switches to PERSONALIZED PageRank (Haveliwala 2002 /
    Jeh & Widom 2002): the initial mass and every round's teleport go
    only to the seed node set (a one-column frame named ``seed_col``) —
    the graph-proximity score for "expand this curated set along the
    link graph". Seeds not present in the edge set are ignored; the
    same integer arithmetic keeps it oracle-exact.

    Returns a materialized (checkpointed) frame; callers that run many
    operators in one session should release_materialized() it when done.
    """
    if iterations < 1:
        raise ValueError(f"iterations must be >= 1, got {iterations}")
    if not (0 < damping_num < damping_den):
        raise ValueError(
            f"need 0 < damping_num < damping_den, got {damping_num}/{damping_den}"
        )
    spark = edges.sparkSession
    e, n_edges = checkpoint_nostats_counted(
        edges.select(
            F.col(src).cast("long").alias("s"), F.col(dst).cast("long").alias("d")
        )
        .where(F.col("s").isNotNull() & F.col("d").isNotNull())
        .distinct()
    )
    loop_parts = _loop_width(spark, n_edges)
    # the edge frame stays NARROW (s, d) and is laid out on hash(s) —
    # out-degree lives on the |V|-sized node frame instead of being
    # duplicated onto all |E| edge rows (a dense graph would pay
    # |E|/|V| x the bytes for nothing — 140x on the q83 trade graph),
    # and the former e x outdeg self-join disappears entirely.
    # groupBy("s") below needs no Exchange (co-partitioned with the
    # advertised layout).
    adj = checkpoint_nostats(e, loop_parts, ["s"])
    # node set AND out-degree in ONE tagged aggregation (round 7): each
    # adjacency row contributes 1 at its source and 0 at its dest, so
    # sum-per-node IS the out-degree and the group keys ARE the node
    # set — replacing the former union-distinct + separate groupBy +
    # left join (two shuffles and a join over 2|E| rows -> one shuffle
    # with map-side partial aggregation)
    node_base = (
        adj.select(F.col("s").alias("node"), F.lit(1).alias("o"))
        .union(adj.select(F.col("d").alias("node"), F.lit(0).alias("o")))
        .groupBy("node")
        .agg(F.sum("o").cast("long").alias("outdeg"))
    )
    if seeds is not None:
        seed_ids = seeds.select(F.col(seed_col).cast("long").alias("node")).distinct()
        node_base = node_base.join(
            seed_ids.withColumn("__seed", F.lit(True)), "node", "left"
        ).select("node", "outdeg", F.coalesce("__seed", F.lit(False)).alias("seed"))
    else:
        node_base = node_base.withColumn("seed", F.lit(True))
    # in the un-personalized case every node is a seed, so the seed
    # count IS the node count the checkpoint's own action already
    # returns; only the personalized path pays a filtered count job
    nodes, n_nodes = checkpoint_nostats_counted(node_base, loop_parts, ["node"])
    release_materialized(e)
    try:
        n = n_nodes if seeds is None else nodes.where("seed").count()
        if n == 0:
            raise ValueError("pagerank: no seed node appears in the edge set")
        init = int(scale) // n
        tele = (int(scale) * (damping_den - damping_num)) // (damping_den * n)
        # lazy NARROW projection over the just-checkpointed nodes frame:
        # it inherits nodes' advertised hash(node) layout through the
        # Project, so the round-1 join still plans co-partitioned — a
        # third checkpoint here paid a repartition + |V| block write for
        # a frame that is one withColumn away from a materialized one
        # (round 13; release_materialized on the lazy frame is a
        # documented no-op, so the release bookkeeping below is safe).
        ranks = nodes.withColumn(
            "pr",
            F.when(F.col("seed"), F.lit(init)).otherwise(F.lit(0)).cast("long"),
        )
        # Rounds are chained LAZILY and only materialized every
        # `checkpoint_interval` rounds: a 3-iteration PageRank is ONE
        # Spark job instead of three (fewer scheduling round-trips; the
        # arithmetic is identical either way and pinned by the
        # differential tests). The interval bounds both plan depth and
        # the stats compounding checkpoint_nostats exists to stop
        # (sizeInBytes multiplies once per lazy round from a
        # constant-stats base — bounded by the interval, vs unbounded
        # growth without any checkpointing).
        checkpoint_interval = 4
        last_ck = ranks
        cur = ranks
        for i in range(iterations):
            # per-NODE share first (|V| rows), then the edge join fans it
            # out — the arithmetic never rides |E|-wide rows. A dangling
            # node's outdeg=0 makes `div` yield null, but such a node
            # matches no adj.s row, so the null never reaches the sum.
            shares = cur.select(
                "node",
                F.expr(
                    f"(pr * {damping_num}) div ({damping_den} * outdeg)"
                ).alias("share"),
            )
            # groupBy plans its own exchange WITH a map-side partial
            # aggregate below it, so the per-round shuffle carries at
            # most |V| partial sums per map partition instead of all
            # |E| share rows (round 13 — the former explicit
            # .repartition(d) BEFORE the groupBy suppressed the partial:
            # the agg saw its required layout already satisfied and ran
            # as a single post-shuffle pass over raw edge fan-out). The
            # cheap |V|-row repartition AFTER the agg restores the
            # hash(d, loop_parts) layout the node-align join expects.
            contribs = (
                adj.join(shares, adj.s == shares.node)  # co-partitioned
                .select("d", "share")
                .groupBy("d")
                .agg(F.sum("share").cast("long").alias("contrib"))
                .repartition(loop_parts, "d")
            )
            # nodes is hash(node, loop_parts); contribs hash(d, loop_parts)
            # after its agg — the align join is co-partitioned, and the
            # projection keeps `node`, so the result carries nodes' layout.
            cur = nodes.join(contribs, nodes.node == contribs.d, "left").select(
                "node",
                "outdeg",
                (
                    F.when(F.col("seed"), F.lit(tele)).otherwise(F.lit(0))
                    + F.coalesce("contrib", F.lit(0))
                )
                .cast("long")
                .alias("pr"),
            )
            last_round = i == iterations - 1
            if (i + 1) % checkpoint_interval == 0 and not last_round:
                cur = checkpoint_nostats(
                    cur, loop_parts, ["node"], trust_partitioning=True
                )
                release_materialized(last_ck)
                last_ck = cur
        out = checkpoint_nostats(
            cur.select("node", F.col("pr").alias("rank_micro"))
        )
        release_materialized(last_ck)
        return out
    finally:
        release_materialized(adj)
        release_materialized(nodes)


def triangle_count(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    broadcast_threshold: int = 2_000_000,
) -> DataFrame:
    """Per-node triangle counts over an undirected graph, plus the
    graph total in every row's ``total_triangles`` — the clustering /
    community-density signal for link-graph curation.

    Degree-oriented node-iterator join (the MapReduce-era standard, cf.
    Suri & Vassilvitskii WWW'11): orient every undirected edge from its
    LOWER-degree endpoint to the higher (ties by id), so wedges are
    enumerated only at their lowest-degree vertex — the intermediate
    wedge count drops from sum(deg^2) to O(|E|^1.5) on skewed graphs
    (a hub of degree d generates 0 wedges instead of d^2). Two keyed
    equi-joins, no cartesian: wedges (u,v,w) from oriented u->v, u->w
    (v < w by the same order), closed by an oriented-edge semi join.

    Output: (node, n_triangles, total_triangles) for every node with at
    least one triangle.

    Execution (round 7): the oriented edge frame is materialized ONCE
    with an advertised hash(a) layout — it feeds three consumers (both
    legs of the wedge self-join and the closure semi join), each of
    which previously re-derived the union-distinct plus two degree
    joins from scratch; the advertised layout additionally makes the
    wedge self-join on `u` co-partitioned (zero Exchange, plan-gated).
    When the undirected edge list is at or under
    ``broadcast_threshold`` rows, the degree lookups AND the closure
    semi join broadcast the small side — the O(|E|^1.5) wedge stream
    then never shuffles at all (the expensive Exchange of the whole
    pipeline); larger graphs fall back to the two-sided shuffle semi
    join. The graph total is derived from the per-node counts (sum/3 —
    every triangle lands on its three corners) instead of a second
    full pipeline evaluation.

    Returns a materialized (checkpointed) frame; callers that run many
    operators in one session should release_materialized() it when
    done."""
    ranked, closed = _oriented_closed_wedges(pairs, id_a, id_b, broadcast_threshold)
    per_node = checkpoint_nostats(
        closed.select(F.explode(F.array("u", "v", "w")).alias("node"))
        .groupBy("node")
        .agg(F.count("*").alias("n_triangles"))
    )
    release_materialized(ranked)
    row = per_node.agg(F.sum("n_triangles").alias("s")).collect()[0]
    total = int(row["s"] or 0) // 3
    return per_node.withColumn("total_triangles", F.lit(total).cast("long"))


def _oriented_closed_wedges(
    pairs: DataFrame, id_a: str, id_b: str, broadcast_threshold: int
) -> tuple[DataFrame, DataFrame]:
    """(ranked, closed): the materialized degree-oriented edge frame and
    the LAZY closed-wedge frame built on it. Split out so the plan gate
    can assert the shuffle structure of `closed` before aggregation:
    with `ranked` advertising hash(a) at loop width, the wedge
    self-join is co-partitioned, so the remaining Exchanges are the two
    sides of the (v, w) closure semi join on the fallback path — and
    ZERO on the broadcast path, where degrees and the closure side ride
    broadcasts and the wedge stream never shuffles. Caller owns
    releasing `ranked` (closed's blocks) once consumed."""
    spark = pairs.sparkSession
    e = (
        pairs.select(F.col(id_a).alias("a"), F.col(id_b).alias("b"))
        .where(F.col("a").isNotNull() & F.col("b").isNotNull() & (F.col("a") != F.col("b")))
    )
    und, n_und = checkpoint_nostats_counted(
        e.union(e.select(F.col("b").alias("a"), F.col("a").alias("b"))).distinct()
    )
    loop_parts = _loop_width(spark, n_und)
    # |deg| = |V| <= n_und and a (long, long) row is ~16 bytes, so at or
    # under the threshold the degree lookup is a few-MB broadcast — both
    # orientation joins become BHJs that PRESERVE und's layout.
    small = n_und <= broadcast_threshold
    deg = und.groupBy("a").agg(F.count("*").alias("deg"))
    deg_a = deg.select(F.col("a"), F.col("deg").alias("da"))
    deg_b = deg.select(F.col("a").alias("b"), F.col("deg").alias("db"))
    if small:
        deg_a, deg_b = F.broadcast(deg_a), F.broadcast(deg_b)
    # orient low-degree -> high-degree (ties by id): rank = (deg, id)
    ranked = checkpoint_nostats(
        und.join(deg_a, "a")
        .join(deg_b, "b")
        .where(
            (F.col("da") < F.col("db"))
            | ((F.col("da") == F.col("db")) & (F.col("a") < F.col("b")))
        )
        .select("a", "b", "db"),
        loop_parts,
        ["a"],
    )
    release_materialized(und)
    lo = ranked.select(F.col("a").alias("u"), F.col("b").alias("v"), F.col("db").alias("dv"))
    # wedges at u: pairs of oriented out-neighbors, ordered by (deg, id)
    w1 = lo.select("u", "v", "dv")
    w2 = lo.select(F.col("u"), F.col("v").alias("w"), F.col("dv").alias("dw"))
    wedges = (
        w1.join(w2, "u")  # co-partitioned on hash(a)=hash(u): no Exchange
        .where(
            (F.col("dv") < F.col("dw"))
            | ((F.col("dv") == F.col("dw")) & (F.col("v") < F.col("w")))
        )
        .select("u", "v", "w")
    )
    # closure: the oriented edge set is |E| rows of two longs — when it
    # fits a broadcast, the O(|E|^1.5) wedge stream (the DOMINANT
    # intermediate) is probed in place and never shuffles.
    closure = ranked.select(F.col("a").alias("v"), F.col("b").alias("w"))
    if small:
        closure = F.broadcast(closure)
    closed = wedges.join(closure, ["v", "w"], "left_semi")
    return ranked, closed


def random_walks(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    walk_length: int = 3,
    seed: int = 0,
) -> DataFrame:
    """Deterministic hash-seeded random walks — one walk per distinct
    source node, ``walk_length`` steps: the graph-sampling primitive
    behind DeepWalk/node2vec-style embedding corpora (Perozzi et al.
    KDD'14), made engine-reproducible the way every sampler here is
    (q58's md5-threshold discipline): at step i the walk at node u moves
    to the out-neighbor v minimizing md5(seed|walk|i|v). The choice is
    uniform-ish over neighbors, stable across runs, engines, and
    partitionings, and the DuckDB oracle replays it exactly with
    arg_min over the same md5 string. Walks stop early at dead ends
    (nodes with no out-edges).

    Output: (walk, step, node) with step 0 = the start node.

    Scale mechanics (the pagerank loop shape): the adjacency is
    checkpointed ONCE with an advertised hash(s) layout at graph-sized
    width; each step repartitions the |V|-sized walk state to match
    (the |E|-sized adjacency side never shuffles) and reduces candidates
    with one min_by aggregation keyed by walk — 2 graph-width shuffles
    of frontier-sized data per step, never corpus-scale. The walk
    history rides the state frame as a path array and a single
    posexplode emits (walk, step, node) at the end, so the whole walk
    is ONE linear lazy chain: every step's join/agg is evaluated
    exactly once. (The round-7 shape unioned a per-step output frame
    instead — with nothing materialized between steps, level i's union
    branch re-evaluated steps 1..i-1, an O(L^2) plan that measured as
    ~60% of q99's wall at L=3 and would grow quadratically for the
    DeepWalk-typical L=40-80. The path array costs O(step) extra bytes
    per candidate row instead — the strictly better trade at any L.)
    A dead-ended walk survives as a left-join null and simply stops
    extending its path; steps checkpoint every 8 rounds to keep lineage
    bounded for long walks.

    Returns a MATERIALIZED (checkpointed) frame — the internal
    adjacency checkpoint is released before returning (a lazy union
    over it would make the adjacency blocks unreleasable: the round-7
    review found release_materialized is a silent no-op on non-leaf
    plans). Callers release_materialized() the result when done.
    """
    if walk_length < 1:
        raise ValueError(f"walk_length must be >= 1, got {walk_length}")
    spark = edges.sparkSession
    e, n_e = checkpoint_nostats_counted(
        edges.select(
            F.col(src).cast("long").alias("s"), F.col(dst).cast("long").alias("d")
        )
        .where(F.col("s").isNotNull() & F.col("d").isNotNull())
        .distinct()
    )
    loop_parts = _loop_width(spark, n_e)
    adj = checkpoint_nostats(e, loop_parts, ["s"])
    release_materialized(e)
    # state: one row per walk — (walk, path so far, current node). cur is
    # null once the walk dead-ends; the left join then finds no match and
    # the path stops growing, with no per-step branch to re-evaluate.
    state = adj.select(F.col("s").alias("walk")).distinct().select(
        "walk", F.array("walk").alias("path"), F.col("walk").alias("cur")
    )
    ckpts: list[DataFrame] = []
    for i in range(1, walk_length + 1):
        cand = (
            state.repartition(loop_parts, "cur")
            .join(adj, state.cur == adj.s, "left")  # adjacency: no shuffle
            .select(
                "walk",
                "path",
                F.col("d"),
                F.md5(
                    F.concat_ws(
                        "|",
                        F.lit(seed),
                        F.col("walk"),
                        F.lit(i),
                        F.col("d"),
                    ).cast("binary")
                ).alias("h"),
            )
        )
        # adjacency is distinct, so (walk, d) is unique and min_by has no
        # ties to break (md5 collisions aside). A dead-ended walk is a
        # single unmatched row (d null) -> min_by yields null -> the path
        # is carried unchanged. path is constant within a walk group.
        state = (
            cand.groupBy("walk")
            .agg(
                F.min_by("d", "h").alias("cur"),
                F.first("path").alias("path"),
            )
            .select(
                "walk",
                F.when(F.col("cur").isNull(), F.col("path"))
                .otherwise(F.array_append("path", F.col("cur")))
                .alias("path"),
                "cur",
            )
        )
        if i % 8 == 0 and i < walk_length:
            nxt = checkpoint_nostats(state, loop_parts, ["cur"])
            for c in ckpts:
                release_materialized(c)
            ckpts = [nxt]
            state = nxt
    out = checkpoint_nostats(
        state.select("walk", F.posexplode("path").alias("step", "node"))
    )
    for c in ckpts:
        release_materialized(c)
    release_materialized(adj)
    return out


def k_core(
    pairs: DataFrame,
    k: int,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 50,
    broadcast_threshold: int = 2_000_000,
) -> DataFrame:
    """The k-core of an undirected graph: the maximal subgraph in which
    every node has degree >= k (Seidman 1983) — the dense-subgraph
    filter for link-graph curation (drop weakly-connected spam tails,
    keep the well-embedded core).

    Standard peeling, expressed as the engine's iterative-loop shape:
    each round computes degrees inside the surviving subgraph (one
    keyed aggregation) and drops nodes under k; edges shrink
    monotonically, so the loop converges in <= rounds-to-empty and
    every round's work is bounded by the surviving |E|. Loop frames are
    checkpointed with advertised layouts every round (lineage/stat
    truncation per the checkpoint_nostats doctrine); convergence is
    detected from the materialized edge count the checkpoint already
    paid for.

    While the surviving edge count stays at or under
    ``broadcast_threshold`` (a (long) survivor list is ~8 bytes/row, and
    |keep| <= |V| <= |E|), the survivor set rides a BROADCAST into both
    endpoint prunes — the surviving edge frame then never shuffles and
    each round's checkpoint trusts the preserved hash(a) layout, making
    the whole round zero-Exchange (round 8: the same gating as
    triangle_count's closure broadcast; larger graphs fall back to the
    shuffled semi joins, which is the only plan that scales past
    broadcast size).

    Returns (node, core_degree): the surviving nodes with their degree
    INSIDE the core (>= k by construction — the falsifiable invariant
    the driver row audits). Materialized; release when done."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    e = (
        pairs.select(F.col(id_a).alias("a"), F.col(id_b).alias("b"))
        .where(F.col("a").isNotNull() & F.col("b").isNotNull() & (F.col("a") != F.col("b")))
    )
    spark = pairs.sparkSession
    und, n = checkpoint_nostats_counted(
        e.union(e.select(F.col("b").alias("a"), F.col("a").alias("b"))).distinct()
    )
    loop_parts = _loop_width(spark, n)
    cur = checkpoint_nostats(und, loop_parts, ["a"])
    release_materialized(und)
    for _ in range(max_iter):
        deg = cur.groupBy("a").agg(F.count("*").alias("deg"))  # co-partitioned
        keep = deg.where(F.col("deg") >= k).select("a")
        small = n <= broadcast_threshold
        if small:
            keep = F.broadcast(keep)
        # prune both endpoints: an edge survives iff BOTH ends survive.
        # On the broadcast path both semi joins are BHJs that preserve
        # cur's hash(a) layout, so the checkpoint trusts it (verified
        # against the post-AQE plan) instead of re-shuffling.
        nxt_plan = (
            cur.join(keep, "a", "left_semi")
            .join(keep.select(F.col("a").alias("b")), "b", "left_semi")
            .select("a", "b")
        )
        nxt, n_next = checkpoint_nostats_counted(
            nxt_plan, loop_parts, ["a"], trust_partitioning=small
        )
        release_materialized(cur)
        cur = nxt
        if n_next == n:
            break
        n = n_next
    else:
        raise RuntimeError(f"k_core did not converge in {max_iter} rounds")
    out = checkpoint_nostats(
        cur.groupBy("a").agg(F.count("*").alias("core_degree")).select(
            F.col("a").alias("node"), "core_degree"
        )
    )
    release_materialized(cur)
    return out


def hits(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 2,
    scale: int = 10**6,
) -> DataFrame:
    """Exact-integer HITS (Kleinberg 1999): (node, hub_micro, auth_micro)
    after ``iterations`` mutual-reinforcement rounds — the
    hubs-and-authorities complement to PageRank for link-graph curation
    (a page can matter as a DIRECTORY of good content even when nothing
    links to it).

    Integer semantics (the pagerank/bigram-LM micro-unit discipline, so
    the result is bit-identical across engines and the DuckDB oracle's
    unrolled SQL hash-matches): hubs and authorities start at ``scale``
    for every node; each round computes

        auth'(v) = sum over in-edges (u, v) of hub(u)
        hub'(u)  = sum over out-edges (u, v) of auth'(v)

    then MAX-normalizes each vector back into micro-units
    (x * scale div max, truncating division — max-norm keeps everything
    in integers where the classical L2 norm could not). Nodes with no
    in-edges end at authority 0, sources at hub 0 — standard.
    int64 bound: max_degree * scale^2 must stay under 2^63 (at the
    default scale=1e6 that is max degree ~9.2e6); the bound is ENFORCED
    with one cheap degree aggregation after the adjacency builds —
    a denser graph raises ValueError advising a smaller `scale` instead
    of wrapping silently under non-ANSI arithmetic.

    Scale mechanics: the narrow (s, d) adjacency is checkpointed once
    with an advertised hash(s) layout and a d-keyed twin with hash(d),
    so each half-round's join co-partitions against one of them; scores
    live on |V|-sized frames KEYED BY THE NEXT JOIN'S SIDE (auth by d,
    hub by s) — alignment onto the full node spine happens ONCE at the
    end, not per half-round (round 8: the per-half-round spine joins
    bought nothing — a node missing from a score frame is exactly a
    node no edge reads — and cost a join per half-round of both plan
    construction and execution). Iteration 1's first half-round is a
    PURE EXPRESSION over the materialized degree frame: with all hubs
    at `scale`, raw auth(v) = in_deg(v)*scale and its max-normalizer is
    the literal max in-degree, so auth_1 = in_deg*scale div max_in_deg
    — bit-identical to the generic path since (a*k) div (b*k) = a div b
    for truncating division. Each later half-round MATERIALIZES its raw
    sum frame (one checkpoint job — the raw frame feeds BOTH its
    broadcast max-normalizer and the next half-round, and round 8
    measured the alternatives: per-half-round max COLLECTS cost two
    blocking jobs per half-round, while fully lazy persist() chaining
    exploded into ~50 AQE stage re-executions per query because
    concurrent query-stage submission races the un-populated cache —
    2.5s of scheduling for a 150k-edge graph). The normalizer stays a
    1-row aggregate cross-joined back as a broadcast scalar, computed
    from the materialized leaf inside the next half-round's job — no
    separate driver round-trip — so a deep run costs exactly one
    |E|-join job per half-round with flat marginal cost (the
    weak-scaling hits_soak pins this at 8/16/24 iterations). Raw
    checkpoints are released as soon as no live frame reads them (at
    most two are held). Returns a materialized frame; release when
    done."""
    if iterations < 1:
        raise ValueError(f"iterations must be >= 1, got {iterations}")
    spark = edges.sparkSession
    e, n_e = checkpoint_nostats_counted(
        edges.select(
            F.col(src).cast("long").alias("s"), F.col(dst).cast("long").alias("d")
        )
        .where(F.col("s").isNotNull() & F.col("d").isNotNull())
        .distinct()
    )
    loop_parts = _loop_width(spark, n_e)
    adj_s = checkpoint_nostats(e, loop_parts, ["s"])
    adj_d = checkpoint_nostats(adj_s, loop_parts, ["d"])
    release_materialized(e)
    # node spine FUSED with the degree frame: one |E|-pass builds both
    # the distinct-node frame every round's align join needs AND the
    # per-node in/out degrees the int64 bound check needs (round 8 —
    # previously two separate full passes over the adjacency).
    deg = checkpoint_nostats(
        adj_s.select(F.col("s").alias("node"), F.lit(1).alias("o"), F.lit(0).alias("i"))
        .union(adj_s.select(F.col("d").alias("node"), F.lit(0).alias("o"), F.lit(1).alias("i")))
        .groupBy("node")
        .agg(F.sum("o").alias("od"), F.sum("i").alias("id")),
        loop_parts,
        ["node"],
    )
    # projection preserves the advertised hash(node) layout
    nodes = deg.select("node")
    try:
        # enforce the documented int64 bound BEFORE iterating: each raw
        # sum is bounded by degree * scale and the normalization
        # multiplies by scale again, so max(in_deg, out_deg) * scale^2
        # must fit in int64 or the sums wrap silently (ANSI off). Reads
        # the already-materialized degree frame — |V|-sized, not |E|.
        # max in-degree doubles as iteration 1's literal max-normalizer.
        [deg_row] = deg.agg(
            F.max("od").alias("mo"), F.max("id").alias("mi")
        ).collect()
        max_out, max_in = int(deg_row["mo"] or 0), int(deg_row["mi"] or 0)
        max_deg = max(max_out, max_in)
        if max_deg * int(scale) * int(scale) >= 2**63:
            raise ValueError(
                f"hits: max degree {max_deg} at scale {scale} exceeds the "
                f"int64 bound max_degree * scale^2 < 2^63; lower `scale` "
                f"(e.g. {10 ** 4}) for this graph density"
            )
        # score frames are keyed by the side the NEXT join consumes:
        # auth by d (feeds the adj_d join), hub by s (feeds the adj_s
        # join). Every dst has in-degree >= 1 and every src has
        # out-degree >= 1, so the inner joins lose nothing; nodes absent
        # from a score frame are exactly the nodes no edge reads, and
        # they align to 0 once at the end.
        # iteration 1, first half: all hubs are `scale`, so raw auth(v)
        # is in_deg(v)*scale and the normalizer is the literal
        # max_in*scale — auth_1 = in_deg*scale div max_in, zero stages
        # beyond the already-materialized degree frame.
        auth = deg.where(F.col("id") > 0).select(
            F.col("node").alias("d"),
            F.expr(f"(id * cast({int(scale)} as bigint)) div {max(max_in, 1)}")
            .alias("auth"),
        )
        hub = None  # placeholder; set in the loop's second half-round
        live: list = []  # raw checkpoints still feeding auth/hub
        for i in range(iterations):
            if i > 0:
                # auth'(v) = sum of hub(u) over in-edges; co-partitioned
                # on s. The explicit repartition keys the aggregation at
                # loop width, so the checkpoint trusts (and verifies)
                # the layout instead of re-shuffling.
                # map-side partial sums below the agg's own exchange
                # (<= |V| rows per map partition) instead of shuffling
                # every edge fan-out row; the |V|-row repartition after
                # the agg restores the trusted hash(d, loop_parts)
                # layout (round 13 — see the pagerank loop note).
                raw_auth = checkpoint_nostats(
                    adj_s.join(hub, "s")
                    .select("d", "hub")
                    .groupBy("d")
                    .agg(F.sum("hub").alias("raw"))
                    .repartition(loop_parts, "d"),
                    loop_parts,
                    ["d"],
                    trust_partitioning=True,
                )
                live.append(raw_auth)
                mx_a = raw_auth.agg(
                    F.greatest(F.max("raw"), F.lit(1).cast("long")).alias("__mx")
                )
                auth = raw_auth.crossJoin(F.broadcast(mx_a)).select(
                    "d",
                    F.expr(f"(raw * {int(scale)}) div __mx").alias("auth"),
                )
            # hub'(u) = sum of auth'(v) over out-edges; co-partitioned on d
            raw_hub = checkpoint_nostats(
                adj_d.join(auth, "d")
                .select("s", "auth")
                .groupBy("s")
                .agg(F.sum("auth").alias("raw"))
                .repartition(loop_parts, "s"),
                loop_parts,
                ["s"],
                trust_partitioning=True,
            )
            live.append(raw_hub)
            mx_h = raw_hub.agg(
                F.greatest(F.max("raw"), F.lit(1).cast("long")).alias("__mx")
            )
            hub = raw_hub.crossJoin(F.broadcast(mx_h)).select(
                "s",
                F.expr(f"(raw * {int(scale)}) div __mx").alias("hub"),
            )
            # retire raw checkpoints no longer read by the live auth/hub
            for f in live[:-2]:
                release_materialized(f)
            live = live[-2:]
        # single final alignment onto the full node spine (deg is hash
        # (node)-partitioned at loop width, as are both score frames
        # after their key renames — zero-Exchange joins)
        out = checkpoint_nostats(
            nodes
            .join(hub.select(F.col("s").alias("node"), "hub"), "node", "left")
            .join(auth.select(F.col("d").alias("node"), "auth"), "node", "left")
            .select(
                "node",
                F.coalesce("hub", F.lit(0)).cast("long").alias("hub_micro"),
                F.coalesce("auth", F.lit(0)).cast("long").alias("auth_micro"),
            )
        )
        for f in live:
            release_materialized(f)
        return out
    finally:
        release_materialized(adj_s)
        release_materialized(adj_d)
        release_materialized(deg)


def bfs_distances(
    edges: DataFrame,
    sources: DataFrame,
    src: str = "src",
    dst: str = "dst",
    node_col: str = "node",
    max_depth: int = 8,
) -> DataFrame:
    """Minimum hop distance from a seed SET to every reachable node
    within ``max_depth`` hops: level-synchronous multi-source BFS over
    directed edges, returned as a checkpointed ``(node, dist)`` frame
    (``release_materialized``-compatible; callers symmetrize for
    undirected graphs).

    The engine's iterative-loop shape (connected_components /
    pagerank discipline): the adjacency is checkpointed ONCE with an
    advertised hash(src) layout and never moves again. The frontier is
    NOT a separate frame — it is the ``dist == depth-1`` slice of the
    single visited checkpoint (a lazy filter costs nothing and keeps the
    layout), so each round materializes exactly ONE frame: the new
    visited set. The expansion join is co-partitioned on the adjacency
    side, the dedup/anti path is keyed on the neighbor id, and
    convergence reads the visited row-count delta off the already-paid
    checkpoint — no extra job. Work per round is O(edges out of the
    frontier); total traffic is O(depth x |V|), never O(depth x |E|).
    Rounds stop early when a level is empty, so ``max_depth`` is a cap,
    not a cost.
    """
    spark = edges.sparkSession
    # materialize the edge build ONCE, then count the checkpoint (the CC
    # discipline — counting the lazy plan would evaluate the upstream
    # join twice: once for the count, again for the checkpoint)
    e0, n_edges = checkpoint_nostats_counted(
        edges.select(F.col(src).alias("s"), F.col(dst).alias("d"))
        .where(F.col("s").isNotNull() & F.col("d").isNotNull())
        .distinct()
    )
    loop_parts = _loop_width(spark, n_edges)
    adj = checkpoint_nostats(e0, loop_parts, ["s"])
    release_materialized(e0)
    try:
        visited, n_seen = checkpoint_nostats_counted(
            sources.select(F.col(node_col).alias("v")).where(F.col("v").isNotNull())
            .distinct()
            .select("v", F.lit(0).alias("dist")),
            loop_parts,
            ["v"],
        )
        for depth in range(1, max_depth + 1):
            frontier = visited.where(F.col("dist") == depth - 1).select("v")
            # distinct() plans its own exchange WITH a map-side partial
            # dedup below it — a dense frontier reaches the same target
            # from many sources, and the partial collapses those within
            # each map partition before anything shuffles (round 13 —
            # the former explicit .repartition(v) BEFORE the distinct
            # suppressed the partial). The |frontier-neighborhood|-row
            # repartition after restores hash(v, loop_parts) for the
            # zero-Exchange anti join below.
            neigh = (
                adj.join(frontier, adj.s == frontier.v)  # co-partitioned on s
                .select(F.col("d").alias("v"))
                .distinct()
                .repartition(loop_parts, "v")
            )
            # neigh and visited are both hash(v) at loop width -> the anti
            # join is zero-Exchange; the union's new branch carries the
            # round's distance
            new_visited, n_now = checkpoint_nostats_counted(
                visited.unionByName(
                    neigh.join(visited, "v", "left_anti").select(
                        "v", F.lit(depth).alias("dist")
                    )
                ),
                loop_parts,
                ["v"],
            )
            release_materialized(visited)
            visited = new_visited
            if n_now == n_seen:
                break
            n_seen = n_now
        out = checkpoint_nostats(
            visited.select(F.col("v").alias(node_col), F.col("dist"))
        )
        release_materialized(visited)
        return out
    finally:
        release_materialized(adj)


def _driver_label_propagation(spark, rows, iterations: int, id_type: str) -> DataFrame:
    """Semi-synchronous LPA on a collected (bounded) pair list — exactly
    the distributed schedule (most frequent neighbor label, ties to the
    minimum), so the two paths are row-identical (contract-tested).
    Same checkpointed-return contract as the distributed path."""
    adj: dict = {}
    for a, b in rows:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    lbl = {v: v for v in adj}
    for _ in range(iterations):
        new = {}
        for v, nbrs in adj.items():
            counts: dict = {}
            for u in nbrs:
                counts[lbl[u]] = counts.get(lbl[u], 0) + 1
            new[v] = min(counts, key=lambda c: (-counts[c], c))
        lbl = new
    return checkpoint_nostats(
        spark.createDataFrame(
            sorted(lbl.items()), f"node {id_type}, label {id_type}"
        )
    )


def label_propagation(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    iterations: int = 2,
    driver_threshold: int = 100_000,
) -> DataFrame:
    """Community detection by semi-synchronous label propagation
    (Raghavan, Albert, Kumara 2007) over the undirected pair graph:
    labels start as node ids; each round every node adopts the MOST
    FREQUENT label among its neighbors, ties broken by the minimum
    label — a fully deterministic schedule, so a fixed iteration count
    replays exactly in an unrolled SQL oracle (the HITS discipline;
    classic async LPA is order-dependent and untestable). Returns a
    checkpointed ``(node, label)`` frame.

    Loop shape: adjacency symmetrized and checkpointed ONCE with an
    advertised hash(d) layout; per round one co-partitioned
    labels-join, one (node, label) count keyed on the node, and one
    per-node arg-max window over the count frame — every shuffle is
    O(|E|) keyed traffic with map-side combine, labels stay |V|-sized,
    lineage truncated per round (checkpoint_nostats), blocks released.
    Convergence on community-structured graphs is a handful of rounds;
    ``iterations`` is a fixed budget by design (determinism), not a
    convergence test.

    Hybrid execution (the CC doctrine): a graph at or under
    ``driver_threshold`` distinct pairs runs the identical schedule on
    the driver (bounded collect, contract-tested row-identical); set
    ``driver_threshold=0`` to force the distributed loop.
    """
    spark = pairs.sparkSession
    base, n_pairs = checkpoint_nostats_counted(
        pairs.select(F.col(id_a).alias("s"), F.col(id_b).alias("d"))
        .where(F.col("s").isNotNull() & F.col("d").isNotNull())
        .distinct()
    )
    id_type = base.schema["s"].dataType.simpleString()
    if n_pairs <= driver_threshold:
        try:
            return _driver_label_propagation(
                spark, [(r["s"], r["d"]) for r in base.collect()], iterations, id_type
            )
        finally:
            release_materialized(base)
    loop_parts = _loop_width(spark, 2 * n_pairs)
    edges = checkpoint_nostats(
        base.unionByName(base.select(F.col("d").alias("s"), F.col("s").alias("d"))),
        loop_parts,
        ["d"],
    )
    release_materialized(base)
    try:
        labels = checkpoint_nostats(
            edges.select(F.col("s").alias("v")).distinct().withColumn(
                "lbl", F.col("v")
            ),
            loop_parts,
            ["v"],
        )
        for _ in range(iterations):
            # two partial-aggregatable stages replace the former
            # repartition + complete agg + row_number window (round 13):
            # the (s, lbl) count gets a map-side partial below its own
            # exchange (the explicit pre-repartition used to suppress
            # it, shuffling every raw fan-out row), and the per-node
            # winner — max count, ties to the smallest label, exactly
            # the old window's (n DESC, lbl ASC) first row — is
            # min(struct(-n, lbl)), which partial-aggregates too where
            # a row_number window cannot (and drops the window's sort).
            # n >= 1 so -n never overflows.
            counts = (
                edges.join(labels, edges.d == labels.v)  # co-partitioned
                .select("s", "lbl")
                .groupBy("s", "lbl")
                .agg(F.count("*").alias("n"))
            )
            new_labels = checkpoint_nostats(
                counts.groupBy("s")
                .agg(
                    F.min(
                        F.struct(
                            (-F.col("n")).alias("nn"), F.col("lbl").alias("l")
                        )
                    ).alias("m")
                )
                .select(F.col("s").alias("v"), F.col("m.l").alias("lbl")),
                loop_parts,
                ["v"],
            )
            release_materialized(labels)
            labels = new_labels
        out = checkpoint_nostats(
            labels.select(F.col("v").alias("node"), F.col("lbl").alias("label"))
        )
        release_materialized(labels)
        return out
    finally:
        release_materialized(edges)


def _driver_topo_layers(
    spark,
    edge_rows,
    extra_nodes,
    max_rounds: int,
    id_type: str,
) -> DataFrame:
    """Kahn longest-path layering over a collected (small) edge list —
    the connected_components driver-union-find pattern. layer(v) is the
    round at which v reaches in-degree 0 in the level-synchronous peel
    = the longest path from any source, so this is bit-identical to the
    distributed loop; nodes that never reach in-degree 0 (in or
    strictly downstream of a cycle) come back -1, and a finite layer at
    or past ``max_rounds`` raises exactly like the loop's round budget
    (cycle survivors do NOT raise — the loop breaks on a no-peel round
    before exhausting the budget)."""
    from collections import defaultdict, deque

    adj = defaultdict(list)
    indeg: dict = defaultdict(int)
    ns = set(extra_nodes)
    for r in edge_rows:
        a, b = r["a"], r["b"]
        ns.add(a)
        ns.add(b)
        adj[a].append(b)
        indeg[b] += 1
    lay = {v: 0 for v in ns if indeg[v] == 0}
    q = deque(lay)
    done: dict = {}
    while q:
        u = q.popleft()
        done[u] = lay[u]
        for w in adj[u]:
            indeg[w] -= 1
            nl = lay[u] + 1
            if nl > lay.get(w, 0):
                lay[w] = nl
            if indeg[w] == 0:
                q.append(w)
    if done and max(done.values()) >= max_rounds:
        raise RuntimeError(
            f"topological_layers: depth exceeds max_rounds={max_rounds}; "
            "raise it for deeper DAGs"
        )
    out = [(v, done.get(v, -1)) for v in ns]
    return checkpoint_nostats(
        spark.createDataFrame(out, f"node {id_type}, layer int")
    )


def topological_layers(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_rounds: int = 200,
    broadcast_threshold: int = 2_000_000,
    nodes: DataFrame | None = None,
    driver_threshold: int = 100_000,
) -> DataFrame:
    """Topological layering of a directed graph (Kahn 1962, the
    level-synchronous form): layer(v) = length of the LONGEST path from
    any in-degree-0 source to v — the stage schedule for pipeline /
    dependency DAGs. Nodes inside or strictly downstream of a cycle can
    never reach in-degree 0, so they come back flagged ``layer = -1``
    (cycle detection rides for free; the caller gets both the schedule
    AND the "this is not a DAG" evidence in one frame).

    The engine's peel-loop shape (the k-core discipline): each round
    drops the current zero-in-degree set, per-round work is bounded by
    the surviving |E| (monotonically shrinking), loop frames are
    checkpointed with advertised hash(src) layouts, and while the
    survivor set fits ``broadcast_threshold`` the per-round prunes ride
    broadcasts so the surviving edge frame never re-shuffles.
    ``max_rounds`` caps the loop at the longest-path depth the caller
    expects (the bfs_distances envelope rule).

    ``nodes`` (optional, single column named like ``src``): the full
    node universe when it exceeds the edge-incident set — ISOLATED
    nodes are sources by definition and come back at layer 0; without
    the frame, only edge-incident nodes are layered.

    Returns a MATERIALIZED (node, layer) frame — release when done."""
    e = edges.select(F.col(src).alias("a"), F.col(dst).alias("b")).where(
        F.col("a").isNotNull() & F.col("b").isNotNull() & (F.col("a") != F.col("b"))
    ).distinct()
    spark = edges.sparkSession
    cur, n_edges = checkpoint_nostats_counted(e)
    if n_edges <= driver_threshold:
        # hybrid execution (round 13, the connected_components
        # driver-union-find discipline): a DAG at or under
        # ``driver_threshold`` distinct edges peels on the driver in
        # milliseconds, where the distributed loop pays a fixed
        # per-layer job cost times the DAG depth (measured: the 8k-edge
        # divisor DAG, depth ~12, 6.2 s -> <1 s). The optional node
        # universe only joins the driver path while it stays bounded
        # too — an edge-light graph with a huge isolated-node universe
        # still runs distributed.
        n_extra = 0 if nodes is None else (
            nodes.select(F.col(src).alias("a"))
            .where(F.col("a").isNotNull())
            .distinct()
            .count()
        )
        if n_edges + n_extra <= driver_threshold:
            try:
                extra = (
                    []
                    if nodes is None
                    else [
                        r["a"]
                        for r in nodes.select(F.col(src).alias("a"))
                        .where(F.col("a").isNotNull())
                        .distinct()
                        .collect()
                    ]
                )
                return _driver_topo_layers(
                    spark,
                    cur.collect(),
                    extra,
                    max_rounds,
                    cur.schema["a"].dataType.simpleString(),
                )
            finally:
                release_materialized(cur)
    loop_parts = _loop_width(spark, max(n_edges, 1))
    cur_e = checkpoint_nostats(cur, loop_parts, ["a"])
    release_materialized(cur)
    node_plan = cur_e.select("a").union(cur_e.select(F.col("b").alias("a")))
    if nodes is not None:
        node_plan = node_plan.union(
            nodes.select(F.col(src).alias("a")).where(F.col("a").isNotNull())
        )
    nodes, n_nodes = checkpoint_nostats_counted(node_plan.distinct())
    done: list = []  # (frame, layer) checkpoints, unioned at the end
    remaining = nodes
    layer = 0
    while n_nodes > 0 and layer < max_rounds:
        small = n_nodes <= broadcast_threshold
        # distinct-then-anti (round 13): raw edge targets prune
        # identically, but shuffling them shipped every surviving edge
        # row per layer — the distinct's map-side partial dedup bounds
        # the exchange at the in-degree-positive node set, and while the
        # survivor set fits the broadcast budget the pruned target set
        # (<= n_nodes rows by construction) broadcasts, so `remaining`
        # is never shuffled for the peel at all.
        has_in = cur_e.select(F.col("b").alias("a")).distinct()
        zero_in = checkpoint_nostats(
            remaining.join(
                F.broadcast(has_in) if small else has_in, "a", "left_anti"
            )
        )
        done.append((zero_in, layer))
        nxt_nodes, n_next = checkpoint_nostats_counted(
            remaining.join(
                F.broadcast(zero_in) if small else zero_in, "a", "left_anti"
            )
        )
        if n_next == n_nodes:  # nothing peeled: survivors sit in cycles
            done.pop()
            release_materialized(zero_in)
            release_materialized(nxt_nodes)
            break
        nxt_e_plan = cur_e.join(
            F.broadcast(zero_in) if small else zero_in, "a", "left_anti"
        )
        nxt_e = checkpoint_nostats(
            nxt_e_plan, loop_parts, ["a"], trust_partitioning=small
        )
        release_materialized(remaining)
        release_materialized(cur_e)
        remaining, cur_e = nxt_nodes, nxt_e
        n_nodes = n_next
        layer += 1
    if n_nodes > 0 and layer >= max_rounds:
        raise RuntimeError(
            f"topological_layers: depth exceeds max_rounds={max_rounds}; "
            "raise it for deeper DAGs"
        )
    parts = [f.select("a", F.lit(l).alias("layer")) for f, l in done]
    parts.append(remaining.select("a", F.lit(-1).alias("layer")))
    plan = parts[0]
    for p in parts[1:]:
        plan = plan.unionByName(p)
    out = checkpoint_nostats(plan.select(F.col("a").alias("node"), "layer"))
    for f, _ in done:
        release_materialized(f)
    release_materialized(remaining)
    release_materialized(cur_e)
    return out


def link_prediction(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    *,
    min_common: int = 1,
    max_wedge_degree: int | None = None,
    broadcast_threshold: int = 2_000_000,
    scale: int = 1_000_000,
) -> DataFrame:
    """Link-prediction scores for non-adjacent node pairs at distance 2
    in an undirected graph: common-neighbor count, resource-allocation
    index (Zhou/Lu/Zhang, EPJ B 2009 — sum over shared neighbors w of
    1/deg(w), here in truncating integer micro-units so both engines
    agree bit-for-bit), and the neighborhood Jaccard
    |N(u) and N(v)| / |N(u) or N(v)| in micro-units. The standard
    "which nodes should be connected" signal for graph curation and
    recommendation candidate generation. (Beyond the reference's
    surface — SURVEY.md SS7.8 extensions; the reference loader has no
    graph layer, Processing.scala:69-77.)

    Candidate generation enumerates wedges (u - w - v) at their center
    w, so the intermediate volume is sum over w of deg(w)^2. That is the
    inherent cost of EXACT common-neighbor counting, and a single hub
    squares it — ``max_wedge_degree`` is the documented scale knob:
    centers with deg(w) above it are excluded from candidate generation
    (their per-pair resource-allocation weight, scale div deg, is
    already ~0, so the ranking signal loses almost nothing; the oracle
    mirrors the same cutoff, so correctness is defined WITH the knob).
    Degrees in the Jaccard/RA arithmetic are always the TRUE full-graph
    degrees regardless of the cutoff.

    Scale mechanics (the triangle_count discipline):
    - the symmetric-closure adjacency is checkpointed ONCE with an
      advertised hash(center) layout, so the wedge self-join is
      co-partitioned (zero Exchange on either leg);
    - existing edges are removed with a keyed LEFT ANTI join (broadcast
      under ``broadcast_threshold`` undirected rows), never a filter
      over an all-pairs frame;
    - the |V|-sized degree frame broadcasts to the pair-sized result
      for the u/v degree lookups.

    Output: (u, v, common_neighbors, ra_micro, jaccard_micro) with
    u < v, only non-adjacent pairs with at least ``min_common`` shared
    neighbors. Returns a materialized (checkpointed) frame — bounded by
    the candidate-pair volume, which min_common prunes — with the
    adjacency intermediates already released; callers running many
    operators per session should release_materialized() it when done."""
    frames, lazy = _linkpred_plan(
        pairs, id_a, id_b,
        min_common=min_common,
        max_wedge_degree=max_wedge_degree,
        broadcast_threshold=broadcast_threshold,
        scale=scale,
    )
    out = checkpoint_nostats(lazy)
    for f in frames:
        release_materialized(f)
    return out


def _linkpred_plan(
    pairs: DataFrame,
    id_a: str,
    id_b: str,
    *,
    min_common: int,
    max_wedge_degree: int | None,
    broadcast_threshold: int,
    scale: int,
) -> tuple[list[DataFrame], DataFrame]:
    """(materialized_frames, lazy_result): the checkpointed adjacency /
    center / degree frames and the LAZY scoring pipeline built on them —
    split out so the plan gate can assert the shuffle structure
    (co-partitioned wedge join, keyed anti join, no cartesian) before
    the public wrapper checkpoints the result. Caller owns releasing
    the frames once lazy is consumed."""
    spark = pairs.sparkSession
    e = pairs.select(F.col(id_a).alias("a"), F.col(id_b).alias("b")).where(
        F.col("a").isNotNull() & F.col("b").isNotNull() & (F.col("a") != F.col("b"))
    )
    und, n_und = checkpoint_nostats_counted(
        e.union(e.select(F.col("b").alias("a"), F.col("a").alias("b"))).distinct()
    )
    loop_parts = _loop_width(spark, n_und)
    small = n_und <= broadcast_threshold
    # |V|-sized and consumed by four plan branches (hub filter, center
    # weights, u/v lookups): materialize once instead of re-aggregating
    # the |E| adjacency per consumer
    deg = checkpoint_nostats(und.groupBy("a").agg(F.count("*").alias("deg")))
    # wedge centers: adjacency keyed by the center node w = a
    ctr = und
    if max_wedge_degree is not None:
        keep = deg.where(F.col("deg") <= max_wedge_degree).select("a")
        ctr = und.join(F.broadcast(keep) if small else keep, "a", "left_semi")
    # the center's RA weight (scale div deg(w)) rides the adjacency row,
    # so the wedge join needs no further degree lookup on the hot path
    ctr = checkpoint_nostats(
        ctr.join(F.broadcast(deg) if small else deg, "a")
        .select(F.col("a").alias("w"), F.col("b").alias("n"),
                F.expr(f"{scale} div deg").alias("rw")),
        loop_parts,
        ["w"],
    )
    lhs = ctr.select("w", F.col("n").alias("u"), "rw")
    rhs = ctr.select("w", F.col("n").alias("v"))
    cand = (
        lhs.join(rhs, "w")  # co-partitioned on hash(w): no Exchange
        .where(F.col("u") < F.col("v"))
        .groupBy("u", "v")
        .agg(
            F.count("*").alias("common_neighbors"),
            F.sum("rw").alias("ra_micro"),
        )
        .where(F.col("common_neighbors") >= min_common)
    )
    # drop pairs that are already edges (und holds both directions, so
    # the u<v candidate matches the (a,b)=(u,v) row exactly once)
    edge_uv = und.select(F.col("a").alias("u"), F.col("b").alias("v"))
    cand = cand.join(F.broadcast(edge_uv) if small else edge_uv,
                     ["u", "v"], "left_anti")
    deg_u = deg.select(F.col("a").alias("u"), F.col("deg").alias("du"))
    deg_v = deg.select(F.col("a").alias("v"), F.col("deg").alias("dv"))
    if small:
        deg_u, deg_v = F.broadcast(deg_u), F.broadcast(deg_v)
    lazy = (
        cand.join(deg_u, "u")
        .join(deg_v, "v")
        .select(
            "u", "v", "common_neighbors", "ra_micro",
            F.expr(
                f"(common_neighbors * {scale}) div (du + dv - common_neighbors)"
            ).alias("jaccard_micro"),
        )
    )
    return [und, ctr, deg], lazy
