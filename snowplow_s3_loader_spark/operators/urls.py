"""URL canonicalization + URL/domain-level deduplication — the one
standard pretraining-dedup axis running before any content-based pass
(CCNet/RefinedWeb/Dolma all dedup by normalized URL first and cap
per-domain document counts to stop template farms from dominating the
mixture).

Everything here is PURE EXPRESSIONS (whole-stage codegen, no UDF):
canonicalization is a chain of regexp/array builtins both engines
evaluate identically; dedup is ONE keyed aggregation on the canonical
URL; the per-domain cap is one domain-keyed window ranked by the
engine-portable md5 of the canonical URL (deterministic, and
composable with the q58 deterministic-split discipline — the same
hash-ordering idea).

Canonicalization contract (applied in this order):
  1. trim; strip the fragment (#...)
  2. scheme and host lowercase; userinfo (user:pass@) dropped; a
     string without a scheme://host shape canonicalizes to NULL
     (loudly visible, never silently kept); bracketed IPv6 hosts are
     kept whole (ports still split correctly)
  3. leading 'www.' dropped from the host
  4. default ports dropped (http:80, https:443); other ports kept
  5. duplicate slashes in the path collapsed; trailing slash dropped
     (the root path stays '/'; an empty path becomes '/')
  6. tracking params (utm_*, fbclid, gclid) removed; surviving params
     sorted bytewise and re-joined (param ORDER never splits a URL)

Registered-domain extraction is the standard last-two-labels rule with
two-level public suffixes (co.uk-style) promoting to three labels.
The suffix set defaults to the vendored snapshot in
data/public_suffixes.txt (~1.5k entries — ccTLD conventions + two-level
private registries like github.io); the q143 oracle row pins the tiny
legacy TWO_LEVEL_SUFFIXES tuple so its hash never moves under snapshot
updates.

Scale shape at 100 TB: canonicalization is codegen'd row-local work;
the only shuffles are the canonical-URL aggregation and the
domain-keyed rank window (both on the reduced URL frame, not raw rows).
"""

from __future__ import annotations

import os
from functools import lru_cache

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# legacy two-level public-suffix approximation — kept ONLY as the
# pinned tuple behind the q143 oracle row (hash-stable forever); the
# DEFAULT for all operators is the vendored snapshot in
# data/public_suffixes.txt (public_suffixes()), which groups
# github.io / com.mx / co.in correctly
TWO_LEVEL_SUFFIXES = (
    "co.uk", "org.uk", "gov.uk", "ac.uk",
    "com.au", "net.au", "org.au",
    "co.jp", "co.kr", "com.br", "com.cn",
)

_PSL_PATH = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "data",
    "public_suffixes.txt",
)


@lru_cache(maxsize=1)
def public_suffixes() -> tuple[str, ...]:
    """The vendored two-level public-suffix snapshot (~1.5k entries —
    ccTLD second-level registration conventions + well-known two-level
    private registries like github.io; see the data file's header for
    provenance and its honest delta vs the full Mozilla PSL). Loaded
    once per process; Catalyst compiles the membership test to an
    InSet hash lookup, so list size does not change the plan shape."""
    out: list[str] = []
    with open(_PSL_PATH, encoding="utf-8") as f:
        for line in f:
            line = line.strip()
            if line and not line.startswith("#"):
                out.append(line)
    return tuple(out)

_TRACKING = "^(utm_|fbclid|gclid)"


def canonicalize_url(url: Column) -> Column:
    """Canonical form of ``url`` per the module contract; NULL when the
    input has no scheme://host shape.

    NOTE (plan size): this single-Column form inlines every Python-level
    intermediate (rest/hostport/hp/...) into each of its uses at
    CONSTRUCTION time, multiplicatively duplicating the regexp chain
    (measured: ~3.5k regexp nodes, MB-scale serialized task binaries
    once a plan references the result more than once). It is kept for
    expression contexts; pipelines should use ``canonicalized`` below,
    whose staged projections keep the tree linear."""
    u = F.regexp_replace(F.trim(url), "#.*$", "")
    scheme = F.lower(F.regexp_extract(u, r"^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    rest = F.regexp_replace(u, r"^[A-Za-z][A-Za-z0-9+.-]*://", "")
    hostport = F.regexp_extract(rest, r"^([^/?]*)", 1)
    # drop userinfo; split host/port IPv6-aware (a bracketed host may
    # contain colons, so the port is only what follows the brackets)
    hp = F.regexp_replace(hostport, r"^[^@/]*@", "")
    host = F.regexp_replace(
        F.lower(F.regexp_extract(hp, r"^(\[[^\]]*\]|[^:]*)", 1)),
        r"^www\.",
        "",
    )
    port = F.regexp_extract(hp, r"^(?:\[[^\]]*\]|[^:]*):([0-9]+)$", 1)
    keep_port = (
        F.when(port == "", "")
        .when((scheme == "http") & (port == "80"), "")
        .when((scheme == "https") & (port == "443"), "")
        .otherwise(F.concat(F.lit(":"), port))
    )
    pathq = rest.substr(F.length(hostport) + 1, F.length(rest))
    raw_path = F.regexp_extract(pathq, r"^([^?]*)", 1)
    path = F.regexp_replace(raw_path, "/{2,}", "/")
    path = F.when(path == "", "/").otherwise(
        F.when(path != "/", F.regexp_replace(path, "/$", "")).otherwise(path)
    )
    query = F.regexp_extract(pathq, r"\?(.*)$", 1)
    kept_params = F.array_join(
        F.array_sort(
            F.filter(
                F.split(query, "&"),
                lambda p: (~p.rlike(_TRACKING)) & (p != ""),
            )
        ),
        "&",
    )
    canon = F.concat(
        scheme,
        F.lit("://"),
        host,
        keep_port,
        path,
        F.when(kept_params != "", F.concat(F.lit("?"), kept_params)).otherwise(
            F.lit("")
        ),
    )
    return F.when((scheme != "") & (host != ""), canon)


def canonicalized(
    df: DataFrame, url_col: str, out_col: str = "canonical_url"
) -> DataFrame:
    """Append ``out_col`` = the canonical form of ``url_col`` — the
    SAME contract (and bit-identical output) as canonicalize_url, built
    as a chain of projections over intermediate ATTRIBUTES so the
    expression tree stays LINEAR: Catalyst's CollapseProject refuses to
    merge projections when that would duplicate a non-cheap expression
    referenced more than once, so each regexp runs (and serializes)
    once. This is the pipeline form; the Column form above is for
    one-off expression contexts only."""
    u = F.regexp_replace(F.trim(F.col(url_col)), "#.*$", "")
    step1 = df.withColumn("__cu_u", u)
    step2 = step1.withColumn(
        "__cu_scheme",
        F.lower(
            F.regexp_extract(F.col("__cu_u"), r"^([A-Za-z][A-Za-z0-9+.-]*)://", 1)
        ),
    ).withColumn(
        "__cu_rest",
        F.regexp_replace(F.col("__cu_u"), r"^[A-Za-z][A-Za-z0-9+.-]*://", ""),
    )
    step3 = step2.withColumn(
        "__cu_hostport", F.regexp_extract(F.col("__cu_rest"), r"^([^/?]*)", 1)
    )
    step4 = step3.withColumn(
        "__cu_hp", F.regexp_replace(F.col("__cu_hostport"), r"^[^@/]*@", "")
    ).withColumn(
        "__cu_pathq",
        F.col("__cu_rest").substr(
            F.length("__cu_hostport") + 1, F.length("__cu_rest")
        ),
    )
    step5 = (
        step4.withColumn(
            "__cu_host",
            F.regexp_replace(
                F.lower(
                    F.regexp_extract(F.col("__cu_hp"), r"^(\[[^\]]*\]|[^:]*)", 1)
                ),
                r"^www\.",
                "",
            ),
        )
        .withColumn(
            "__cu_port",
            F.regexp_extract(
                F.col("__cu_hp"), r"^(?:\[[^\]]*\]|[^:]*):([0-9]+)$", 1
            ),
        )
        .withColumn(
            "__cu_rawpath",
            F.regexp_replace(
                F.regexp_extract(F.col("__cu_pathq"), r"^([^?]*)", 1),
                "/{2,}",
                "/",
            ),
        )
        .withColumn(
            "__cu_query", F.regexp_extract(F.col("__cu_pathq"), r"\?(.*)$", 1)
        )
    )
    step6 = (
        step5.withColumn(
            "__cu_keep_port",
            F.when(F.col("__cu_port") == "", "")
            .when(
                (F.col("__cu_scheme") == "http") & (F.col("__cu_port") == "80"),
                "",
            )
            .when(
                (F.col("__cu_scheme") == "https")
                & (F.col("__cu_port") == "443"),
                "",
            )
            .otherwise(F.concat(F.lit(":"), F.col("__cu_port"))),
        )
        .withColumn(
            "__cu_path",
            F.when(F.col("__cu_rawpath") == "", "/").otherwise(
                F.when(
                    F.col("__cu_rawpath") != "/",
                    F.regexp_replace(F.col("__cu_rawpath"), "/$", ""),
                ).otherwise(F.col("__cu_rawpath"))
            ),
        )
        .withColumn(
            "__cu_params",
            F.array_join(
                F.array_sort(
                    F.filter(
                        F.split(F.col("__cu_query"), "&"),
                        lambda p: (~p.rlike(_TRACKING)) & (p != ""),
                    )
                ),
                "&",
            ),
        )
    )
    canon = F.concat(
        F.col("__cu_scheme"),
        F.lit("://"),
        F.col("__cu_host"),
        F.col("__cu_keep_port"),
        F.col("__cu_path"),
        F.when(
            F.col("__cu_params") != "",
            F.concat(F.lit("?"), F.col("__cu_params")),
        ).otherwise(F.lit("")),
    )
    out = step6.withColumn(
        out_col,
        F.when(
            (F.col("__cu_scheme") != "") & (F.col("__cu_host") != ""), canon
        ),
    )
    return out.drop(
        "__cu_u", "__cu_scheme", "__cu_rest", "__cu_hostport", "__cu_hp",
        "__cu_pathq", "__cu_host", "__cu_port", "__cu_rawpath", "__cu_query",
        "__cu_keep_port", "__cu_path", "__cu_params",
    )


def url_host(canonical: Column) -> Column:
    """Host of an already-canonical URL (lowercase, no www, no port
    stripping needed beyond the canonical form's own); bracketed IPv6
    hosts come back whole."""
    return F.regexp_extract(
        canonical, r"^[a-z0-9+.-]+://(\[[^\]]*\]|[^/:?]*)", 1
    )


def registered_domain(
    host: Column, suffixes: tuple[str, ...] | None = None
) -> Column:
    """Last-two-labels registered domain, promoting to three labels for
    the two-level public suffixes in ``suffixes`` (co.uk style).
    Defaults to the vendored snapshot (public_suffixes() — github.io,
    com.mx, co.in, ... group correctly); pass urls.TWO_LEVEL_SUFFIXES
    for the hash-pinned legacy behavior the q143 oracle replays.
    IP-literal hosts (IPv4 dotted quads, bracketed IPv6)
    have no registrable domain and return whole.

    The membership test is `isin`, which Catalyst compiles to an
    In/InSet predicate (hash-set lookup past
    spark.sql.optimizer.inSetConversionThreshold, default 10) — still
    row-local codegen'd work even for the ~9k-entry real PSL, no join
    required."""
    is_ip = host.rlike(r"^(\[|[0-9.]+$)")
    labels = F.split(host, r"\.")
    n = F.size(labels)
    last2 = F.concat_ws(".", F.element_at(labels, -2), F.element_at(labels, -1))
    last3 = F.concat_ws(
        ".",
        F.element_at(labels, -3),
        F.element_at(labels, -2),
        F.element_at(labels, -1),
    )
    if suffixes is None:
        suffixes = public_suffixes()
    is_two_level = last2.isin(*suffixes)
    return (
        F.when(is_ip | (n <= 2), host)
        .when(is_two_level & (n >= 3), last3)
        .otherwise(last2)
    )


def url_dedup(
    df: DataFrame,
    url_col: str,
    id_col: str,
    suffixes: tuple[str, ...] | None = None,
) -> DataFrame:
    """Exact URL-level dedup: ONE aggregation keyed by the canonical
    URL. Output: (canonical_url, domain, n_dups, keep_id) — keep_id is
    the smallest id (deterministic winner). Rows whose URL fails to
    canonicalize are EXCLUDED (they carry no dedup key; route them to a
    bad-row path upstream if they must be kept). ``suffixes`` feeds
    registered_domain (default: the vendored public-suffix snapshot;
    the q143 oracle row pins urls.TWO_LEVEL_SUFFIXES explicitly)."""
    base = canonicalized(
        df.select(F.col(url_col).alias("__url"), F.col(id_col).alias("__id")),
        "__url",
    )
    return (
        base.select("canonical_url", "__id")
        .where(F.col("canonical_url").isNotNull())
        .groupBy("canonical_url")
        .agg(
            F.count("*").alias("n_dups"),
            F.min("__id").alias("keep_id"),
        )
        .withColumn(
            "domain",
            registered_domain(url_host(F.col("canonical_url")), suffixes),
        )
    )


def domain_cap(deduped: DataFrame, cap: int, salt_chars: int = 2) -> DataFrame:
    """Per-domain document cap over the url_dedup output: rank the
    domain's canonical URLs by (md5(url), url) — engine-portable and
    deterministic, like the q58 split hash — and flag rank <= cap as
    kept.

    Skew-proof two-phase rank (a mega-domain is the REALITY of web
    corpora — one wiki/blog host with 1e8 canonical URLs must not
    become one task's full sort): the salt is a PREFIX of the md5 rank
    key itself, so the 16^salt_chars salt buckets are CONTIGUOUS ranges
    of the per-domain (md5, url) order and the global rank is exactly
    local_rank + sum(counts of lower buckets) — offset addition, no
    re-sort of survivors, bit-identical to the single-window rank.

    Scale shape: the salted input is eagerly checkpointed ONCE (it
    feeds the local-rank window, the counts aggregation and the output
    join — the global_row_number multi-consumer discipline; this also
    cuts the canonicalization expression lineage, which Catalyst
    otherwise re-inlines into every consumer branch: measured 1,637
    duplicated regexp nodes / MB-scale task binaries without the cut).
    Then one (domain, salt)-keyed window sort (a mega-domain splits
    across 16^salt_chars tasks), one count aggregation, a domain-keyed
    cumulative-offset window over the <= 16^salt_chars rows per domain,
    and one join back on (domain, salt) whose big side is already
    partitioned by the join key. No Exchange SinglePartition anywhere
    (plan-gated)."""
    from snowplow_s3_loader_spark.materialize import checkpoint_nostats

    if cap < 1:
        raise ValueError(f"domain_cap: cap must be >= 1, got {cap}")
    if not (1 <= salt_chars <= 8):
        raise ValueError(
            f"domain_cap: salt_chars must be in 1..8, got {salt_chars}"
        )
    cols = deduped.columns
    salted = checkpoint_nostats(
        deduped.withColumn("__h", F.md5(F.col("canonical_url"))).withColumn(
            "__salt", F.substring("__h", 1, salt_chars)
        )
    )
    lw = Window.partitionBy("domain", "__salt").orderBy(
        "__h", "canonical_url"
    )
    local = salted.withColumn("__lrn", F.row_number().over(lw))
    counts = salted.groupBy("domain", "__salt").agg(
        F.count("*").alias("__cnt")
    )
    ow = (
        Window.partitionBy("domain")
        .orderBy("__salt")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offs = counts.select(
        "domain",
        "__salt",
        F.coalesce(F.sum("__cnt").over(ow), F.lit(0)).alias("__off"),
    )
    return (
        local.join(offs, ["domain", "__salt"])
        .withColumn("drank", (F.col("__lrn") + F.col("__off")).cast("int"))
        .withColumn("kept", (F.col("drank") <= cap).cast("int"))
        .select(*cols, "drank", "kept")
    )
