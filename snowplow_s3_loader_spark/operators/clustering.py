"""Distributed clustering + decomposition: exact-integer Lloyd k-means
and one-pass covariance / PCA.

(Beyond the reference's surface — SURVEY.md §7.8 training-data
extensions; the reference loader has no relational layer at all,
Processing.scala:69-77.)

K-means (Lloyd 1982; the MLlib-style Spark shape) is the workhorse for
organizing embedding corpora: IVF coarse quantizers, SemDeDup cells,
and topic bucketing all start from it. The implementation follows the
package's engine-exact discipline so the DuckDB oracle can replay it
bit for bit:

- vectors quantize to BIGINT via ``floor(v * scale)`` — floor of IEEE
  double math is engine-portable (the q87 pattern), unlike round();
- distances are exact integer squared-L2; the argmin breaks ties to the
  lowest centroid id (array_min over (dist, cid) structs);
- centroid updates divide with truncation TOWARD ZERO, sign applied
  separately (the q116 lesson: Spark div truncates, DuckDB // floors —
  they agree only on non-negative operands);
- initialization is the k lowest-id vectors — deterministic, and
  reproducible in SQL as ``ORDER BY id LIMIT k``.

Scale shape: the quantized corpus is checkpointed once and scanned once
per iteration (assignment is pure broadcast-literal expressions —
zip_with/aggregate, zero joins); the per-iteration reduction is one
(cid, dim)-keyed partial+final aggregation whose output is k*d rows;
only that k*d frame (the centroid table) is ever collected — the
classic bounded-model / unbounded-data split, same as PQ/IVF training.

Covariance/PCA: the d*(d+1)/2 second-moment sums come from ONE scan
(explode over a literal (i, j) pair array — |rows| * d^2/2 expansion,
bounded by choosing the leading dims to audit); eigendecomposition of
the d x d matrix is driver-side numpy (bounded model again), and
projection is a broadcast-literal expression.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from snowplow_s3_loader_spark.materialize import checkpoint_nostats

MICRO = 1_000_000


def quantize_vec(vec: Column, scale: int) -> Column:
    """``floor(v * scale)`` per dimension as BIGINT — the engine-portable
    float->int bridge (floor of IEEE doubles is deterministic; round is
    not, see the q87/q90 notes)."""
    return F.transform(
        vec, lambda x: F.floor(x.cast("double") * F.lit(float(scale))).cast("long")
    )


def _sq_dist(v: Column, centroid: list[int]) -> Column:
    lit = F.array(*[F.lit(int(c)) for c in centroid])
    return F.aggregate(
        F.zip_with(v, lit, lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def assign_clusters(
    df: DataFrame, id_col: str, qvec_col: str, centroids: list[list[int]]
) -> DataFrame:
    """(id, cluster, dist2) for literal integer ``centroids``: exact
    squared-L2 argmin, ties to the lowest centroid id. Pure broadcast
    expressions — zero joins, zero shuffles, whole-stage-codegen'd."""
    cands = F.array(
        *[
            F.struct(
                _sq_dist(F.col(qvec_col), c).alias("d"), F.lit(j).alias("c")
            )
            for j, c in enumerate(centroids)
        ]
    )
    best = F.array_min(cands)
    return df.select(
        F.col(id_col).alias("id"),
        F.col(qvec_col).alias("__v"),
        best["c"].alias("cluster"),
        best["d"].alias("dist2"),
    )


def _trunc_div(s: int, n: int) -> int:
    """Truncate toward zero (Spark div / DuckDB-on-positive semantics);
    Python's // floors, so the sign rides separately."""
    return -((-s) // n) if s < 0 else s // n


def kmeans(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int,
    n_iter: int,
    scale: int = 1000,
) -> tuple[DataFrame, list[list[int]]]:
    """Exact-integer Lloyd k-means: returns ``(assignments, centroids)``
    where assignments is the (id, cluster, dist2) frame under the FINAL
    centroids and centroids is the k x d integer table after ``n_iter``
    updates. Empty clusters keep their previous centroid (the standard
    Lloyd rule that keeps k stable).

    Driver collects are bounded by k*d (the centroid table) per
    iteration — never by the corpus."""
    if k < 1 or n_iter < 0:
        raise ValueError(f"need k >= 1 and n_iter >= 0, got k={k}, n_iter={n_iter}")
    base = checkpoint_nostats(
        df.select(
            F.col(id_col).alias("id"),
            quantize_vec(F.col(vec_col), scale).alias("__v"),
        ).where(F.col("__v").isNotNull())
    )
    # int64 bound, ENFORCED (the hits() discipline): the squared-L2 sum
    # is <= dims * (2 * max|q|)^2, and a centroid-update sum is
    # <= n * max|q| — both must stay under 2^63 or the aggregation
    # wraps silently under non-ANSI mode
    stats = base.select(
        F.max(F.array_max(F.transform("__v", F.abs))).alias("b"),
        F.max(F.size("__v")).alias("d"),
        F.count("*").alias("n"),
    ).first()
    if stats["n"]:
        b, d = int(stats["b"] or 0), int(stats["d"] or 1)
        if d * (2 * b) ** 2 >= 2**63 or stats["n"] * b >= 2**63:
            raise ValueError(
                f"kmeans: quantized magnitude {b} over {d} dims at n="
                f"{stats['n']} exceeds the exact int64 bound; lower scale"
            )
    seed_rows = base.orderBy("id").limit(k).select("__v").collect()
    if len(seed_rows) < k:
        raise ValueError(f"kmeans: k={k} but only {len(seed_rows)} vectors")
    centroids = [list(r["__v"]) for r in seed_rows]
    for _ in range(n_iter):
        assigned = assign_clusters(base, "id", "__v", centroids)
        sums = (
            assigned.select("cluster", F.posexplode("__v").alias("pos", "val"))
            .groupBy("cluster", "pos")
            .agg(F.sum("val").alias("s"), F.count("*").alias("n"))
            .collect()
        )
        nxt = [list(c) for c in centroids]  # empty clusters keep position
        for r in sums:
            nxt[r["cluster"]][r["pos"]] = _trunc_div(int(r["s"]), int(r["n"]))
        centroids = nxt
    return (
        assign_clusters(base, "id", "__v", centroids).select(
            "id", "cluster", "dist2"
        ),
        centroids,
    )


def covariance_moments(
    df: DataFrame, vec_col: str, dims: int, scale: int = 1000
) -> DataFrame:
    """Exact second-moment sums for the leading ``dims`` dimensions from
    ONE scan: (i, j, n, s_i, s_j, s_ij, cov_num) for every 1 <= i <= j
    <= dims, where ``cov_num = n * s_ij - s_i * s_j`` is the exact
    integer numerator of covariance * n^2 (callers divide, or feed
    `pca_components` which rescales in float).

    Scale shape: the (i, j) pair table is a LITERAL array (d*(d+1)/2
    entries) exploded against each row — |rows| * pairs intermediate,
    one partial+final aggregation keyed on (i, j); the result is
    pair-table-sized. Bound ``dims`` so the expansion stays linear-ish
    (the audit use-case reads the leading block, not all d^2)."""
    if dims < 1:
        raise ValueError(f"dims must be >= 1, got {dims}")
    pair_lit = F.array(
        *[
            F.struct(F.lit(i).alias("i"), F.lit(j).alias("j"))
            for i in range(1, dims + 1)
            for j in range(i, dims + 1)
        ]
    )
    q = quantize_vec(F.col(vec_col), scale)
    ex = (
        df.select(q.alias("__v"))
        .where(F.size("__v") >= dims)
        .select(F.explode(pair_lit).alias("p"), "__v")
        .select(
            F.col("p.i").alias("i"),
            F.col("p.j").alias("j"),
            F.element_at("__v", F.col("p.i")).alias("__xi"),
            F.element_at("__v", F.col("p.j")).alias("__xj"),
        )
    )
    agg = ex.groupBy("i", "j").agg(
        F.count("*").alias("n"),
        F.sum("__xi").alias("s_i"),
        F.sum("__xj").alias("s_j"),
        F.sum(F.col("__xi") * F.col("__xj")).alias("s_ij"),
        F.max(F.abs("__xi")).alias("__mi"),
        F.max(F.abs("__xj")).alias("__mj"),
    )
    # |cov_num| <= 2 * n^2 * max|x_i| * max|x_j| — ENFORCED in double
    # (a guard needs magnitude, not exactness) so the int64 product
    # below never wraps silently; rides the same aggregation, no
    # second scan
    guard = (
        2.0
        * F.col("n").cast("double")
        * F.col("n").cast("double")
        * F.col("__mi").cast("double")
        * F.col("__mj").cast("double")
    )
    return agg.select(
        "i",
        "j",
        F.when(
            guard >= F.lit(float(2**62)),
            F.raise_error(
                F.lit(
                    "covariance_moments: n^2 * max|x|^2 exceeds the exact "
                    "int64 bound; lower scale or dims"
                )
            ).cast("long"),
        ).otherwise(F.col("n")).alias("n"),
        "s_i",
        "s_j",
        "s_ij",
        (F.col("n") * F.col("s_ij") - F.col("s_i") * F.col("s_j")).alias(
            "cov_num"
        ),
    )


def pca_components(moment_rows: list, dims: int, n_components: int):
    """Eigendecomposition of the covariance matrix assembled from
    `covariance_moments` output rows (driver-side numpy on the bounded
    d x d model). Returns (eigenvalues desc, components) as plain
    python lists; each component's sign is normalized so its
    largest-magnitude coordinate is positive (eigenvectors are
    sign-ambiguous)."""
    import numpy as np

    cov = np.zeros((dims, dims), dtype=np.float64)
    n = None
    for r in moment_rows:
        i, j = r["i"] - 1, r["j"] - 1
        n = int(r["n"])
        c = float(r["cov_num"]) / (n * n)
        cov[i, j] = c
        cov[j, i] = c
    if n is None:
        raise ValueError("no moment rows")
    vals, vecs = np.linalg.eigh(cov)
    order = np.argsort(vals)[::-1][:n_components]
    comps = []
    for idx in order:
        v = vecs[:, idx]
        if abs(v.min()) > abs(v.max()):
            v = -v
        comps.append([float(x) for x in v])
    return [float(vals[i]) for i in order], comps


def pca_project(
    df: DataFrame, vec_col: str, components: list[list[float]]
) -> DataFrame:
    """Append ``pc1..pcN``: dot products against broadcast-literal float
    components over the leading len(component) dims — pure zip_with /
    aggregate expressions, zero shuffle (float output: projection is an
    analysis feature, not a hash-checked exact surface)."""
    out = df
    for idx, comp in enumerate(components, start=1):
        lit = F.array(*[F.lit(float(x)) for x in comp])
        head = F.slice(F.col(vec_col).cast("array<double>"), 1, len(comp))
        out = out.withColumn(
            f"pc{idx}",
            F.aggregate(
                F.zip_with(head, lit, lambda a, b: a * b),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ),
        )
    return out


def label_scatter(
    df: DataFrame, label_col: str, vec_col: str, scale: int = 1000
) -> DataFrame:
    """Per-label embedding-space diagnostics from exact integer sums —
    the class-separation health check (the trace form of Fisher's
    within-class scatter): per label,

        n, norm2_sum = sum(|x|^2),
        trace_num    = n * norm2_sum - sum_d (s_d)^2

    where s_d is the per-dimension coordinate sum — trace_num is n^2 *
    (trace of the within-class scatter / n), exact BIGINT, so label
    collapse (trace ~ 0) and label explosion both read directly off the
    frame with zero float-summation leakage.

    Scale shape: ONE scan — the posexplode feeds a single (label, dim)-
    keyed aggregation carrying the coordinate sums, square sums, AND
    per-dim counts together; everything per-label then folds on that
    |labels| * d frame (n recovers as the per-dim count — vectors are
    assumed uniform-width, the embedding-table contract). No joins
    touch the corpus."""
    q = quantize_vec(F.col(vec_col), scale)
    base = df.select(F.col(label_col).alias("label"), q.alias("__v")).where(
        F.col("__v").isNotNull()
    )
    dim_sums = (
        base.select("label", F.posexplode("__v").alias("pos", "val"))
        .groupBy("label", "pos")
        .agg(
            F.sum("val").alias("s_d"),
            F.sum(F.col("val") * F.col("val")).alias("q_d"),
            F.count("*").alias("c_d"),
        )
        .groupBy("label")
        .agg(
            F.max("c_d").alias("n"),
            F.sum("q_d").alias("norm2_sum"),
            F.sum(F.col("s_d") * F.col("s_d")).alias("sum_sd2"),
        )
    )
    return dim_sums.select(
        "label",
        "n",
        "norm2_sum",
        (F.col("n") * F.col("norm2_sum") - F.col("sum_sd2")).alias(
            "trace_num"
        ),
    )
