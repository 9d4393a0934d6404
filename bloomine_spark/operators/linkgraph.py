"""Link-graph operators: anchor extraction from HTML, host-level edge
building, and PageRank — the centrality signal CommonCrawl-derived
corpora (OSCAR, RefinedWeb, FineWeb) use to weight hosts ahead of the
text filters.

Extraction is the same pure-codegen regex tier as
``operators.webops`` (one ``regexp_extract_all`` + explode, patterns in
the Java∩RE2 subset so the DuckDB oracles run them verbatim).
Resolution handles absolute http(s), protocol-relative (``//host/…``)
and root-relative (``/path``) hrefs; directory-relative hrefs and
non-web schemes (mailto:, javascript:, …) are dropped — a documented
boundary: directory-relative resolution needs dot-segment collapsing,
which is not expressible as a bounded regex chain and is a vanishingly
small fraction of crawl anchors.

PageRank is the classic damped power iteration with uniform dangling-
mass redistribution (Page 1999; the formulation every Spark example
ships). Per round the plan is two narrow shuffles over (node, double)
rows — ranks hash to the statically partitioned edge list on ``src``,
partial-aggregated contributions hash on ``dst`` — with the edge list
itself repartitioned ONCE and reused every round, which is the shape
that survives a 100 TB crawl graph. Lineage is truncated per round
with ``localCheckpoint`` (swap to ``checkpoint`` + a durable
checkpoint dir on a real cluster), same discipline as
``dedup.connected_components``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = ["extract_links", "host_of", "host_edges", "pagerank", "hits"]

# href value in single or double quotes; one capture group (the
# character class excludes both quote kinds so the group never spans a
# quote boundary); fragments are cut later, not here, so '#' stays out
# of the class only at the resolution step
_HREF = r"""(?is)<a\b[^>]*?href\s*=\s*["']([^"'<>]+)["']"""


def host_of(url: Column) -> Column:
    """Host part of an absolute lowercase-scheme URL (webops canonical
    form or resolver output)."""
    return F.regexp_extract(url, r"^[a-z][a-z0-9+.-]*://([^/?#]*)", 1)


def extract_links(
    df: DataFrame,
    html_col: str = "html",
    url_col: str = "url",
    id_col: str = "doc_id",
) -> DataFrame:
    """(id, url, link) — one row per resolvable anchor href, resolved to
    an absolute lowercased-scheme/host URL against the page URL.
    Zero-exchange codegen map + explode; unresolvable hrefs drop."""
    page = F.col(url_col)
    scheme = F.lower(F.regexp_extract(page, r"^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    root = F.concat(
        scheme,
        F.lit("://"),
        F.lower(F.regexp_extract(page, r"^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)", 1)),
    )
    href = F.regexp_replace(F.col("_href"), r"#.*$", "")  # fragment off first
    resolved = (
        F.when(
            href.rlike(r"^(?i)https?://"),
            F.concat(
                F.lower(F.regexp_extract(href, r"^([A-Za-z]+)://", 1)),
                F.lit("://"),
                F.lower(F.regexp_extract(href, r"^[A-Za-z]+://([^/?#]*)", 1)),
                F.regexp_extract(href, r"^[A-Za-z]+://[^/?#]*(.*)$", 1),
            ),
        )
        .when(
            href.rlike(r"^//"),
            F.concat(
                scheme,
                F.lit("://"),
                F.lower(F.regexp_extract(href, r"^//([^/?#]*)", 1)),
                F.regexp_extract(href, r"^//[^/?#]*(.*)$", 1),
            ),
        )
        .when(href.rlike(r"^/"), F.concat(root, href))
    )
    return (
        df.select(
            F.col(id_col),
            F.col(url_col),
            F.explode(
                F.regexp_extract_all(F.col(html_col), F.lit(_HREF), F.lit(1))
            ).alias("_href"),
        )
        .select(F.col(id_col), F.col(url_col), resolved.alias("link"))
        .filter(F.col("link").isNotNull() & (F.col("link") != ""))
    )


def host_edges(
    links: DataFrame, url_col: str = "url", link_col: str = "link"
) -> DataFrame:
    """Distinct (src, dst) host pairs from resolved links, self-loops
    dropped — the host-graph input to :func:`pagerank`. One exchange
    (the distinct)."""
    return (
        links.select(
            host_of(F.col(url_col)).alias("src"),
            host_of(F.col(link_col)).alias("dst"),
        )
        .filter((F.col("src") != F.col("dst")) & (F.col("dst") != ""))
        .distinct()
    )


def pagerank(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    damping: float = 0.85,
    iterations: int = 20,
    tol: float | None = None,
    reset: DataFrame | None = None,
    stats: dict | None = None,
    checkpoint_every: int = 1,
) -> DataFrame:
    """PageRank over a directed edge list → (node, pr), ranks summing
    to 1 over the node set (sources ∪ destinations).

    Runs exactly ``iterations`` damped power-iteration rounds (fixed
    count keeps the result a pure function of the graph — the driver
    oracle unrolls the same rounds in SQL); pass ``tol`` to stop early
    once the L1 delta between rounds drops below it. Dangling nodes
    (no out-edges) spread their mass uniformly, so total mass is
    conserved every round (pinned in tests).

    ``reset`` personalizes the teleport: a (node, weight) DataFrame —
    weights are normalized to sum 1, listed-only nodes receive teleport
    and dangling mass, and ranks start at the reset distribution. With
    trusted seed hosts as the reset set this is TrustRank (Gyöngyi
    2004), the spam-demotion ranking crawl pipelines run beside plain
    PageRank; the per-round plan is unchanged (the weight column rides
    the (node, double) relation).

    Scale shape: the edge list is hash-partitioned on ``src`` once and
    persisted; per round only (node, double) rows move — one exchange
    of ranks onto the edges, one of partial contribution sums onto
    ``dst``. The dangling mass and L1 delta are single scalars
    (1-row aggregates). Rounds needed ≈ log(tol)/log(damping), graph-
    size-independent, so a 100 TB crawl graph costs the same ~20-60
    narrow-shuffle rounds as a toy one.

    ``checkpoint_every`` (perf-only, never changes the ranks): truncate
    lineage with a local checkpoint every that many fixed-count rounds
    (and after the last); 1 checkpoints every round.
    """
    e = edges.select(
        F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
    ).filter(F.col("src") != F.col("dst"))
    e = e.repartition("src").persist()
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
        .persist()
    )
    n = nodes.count()
    if n == 0:
        e.unpersist()
        nodes.unpersist()
        return edges.sparkSession.createDataFrame([], "node string, pr double")
    outdeg = e.groupBy(F.col("src").alias("node")).agg(
        F.count("*").alias("outdeg")
    ).persist()

    if reset is not None:
        w_raw = reset.select("node", F.col("weight").cast("double"))
        total_w = w_raw.agg(F.sum("weight")).head()[0]
        if not total_w or total_w <= 0:
            raise ValueError("reset weights must sum to a positive value")
        weights = nodes.join(w_raw, "node", "left").select(
            "node",
            (F.coalesce(F.col("weight"), F.lit(0.0)) / F.lit(float(total_w)))
            .alias("w"),
        ).persist()
        ranks = weights.select("node", F.col("w").alias("pr"))
    else:
        weights = nodes.select("node", F.lit(1.0 / n).alias("w")).persist()
        ranks = nodes.select("node", F.lit(1.0 / n).alias("pr"))
    rounds = 0
    for _ in range(iterations):
        rounds += 1
        with_deg = ranks.join(outdeg, "node", "left")
        # the dangling mass rides the SAME plan as a broadcast 1-row
        # relation instead of a per-round driver collect: one barrier per
        # round (the checkpoint), not two — the collect variant paid a
        # full extra job every round, pure fixed overhead at any graph
        # size (same fix HITS got for its L2 norms in round 6). The
        # arithmetic is unchanged: the summed values are identical.
        dangling = (
            with_deg.filter(F.col("outdeg").isNull())
            .agg(F.coalesce(F.sum("pr"), F.lit(0.0)).alias("_dang"))
        )
        contribs = (
            with_deg.filter(F.col("outdeg").isNotNull())
            .withColumnRenamed("node", "src")
            .join(e, "src")
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum(F.col("pr") / F.col("outdeg")).alias("contrib"))
        )
        new_ranks = (
            weights.join(contribs, "node", "left")
            .crossJoin(F.broadcast(dangling))
            .select(
                "node",
                (
                    F.lit(1.0 - damping) * F.col("w")
                    + F.lit(damping)
                    * (
                        F.coalesce(F.col("contrib"), F.lit(0.0))
                        + F.col("_dang") * F.col("w")
                    )
                ).alias("pr"),
            )
        )
        if tol is not None:
            delta = (
                new_ranks.join(ranks.withColumnRenamed("pr", "prev"), "node")
                .agg(F.sum(F.abs(F.col("pr") - F.col("prev"))))
                .head()[0]
            )
            ranks = new_ranks.localCheckpoint(eager=True)
            if delta < tol:
                break
        elif rounds % max(int(checkpoint_every), 1) == 0 or rounds == iterations:
            # round fusion (checkpoint_every=2) was measured and
            # REJECTED as the default: the unfused round's plan is
            # referenced by the next round's dangling branch AND its
            # contribution join, AQE does not reuse exchanges across
            # those references, and the recompute costs more than the
            # saved job barrier (interleaved same-session A/B at sf0.1:
            # ce=1 4.05-4.9s vs ce=2 4.8-6.7s per query across
            # pagerank/trustrank/textrank; ce=4/8 blow up exponentially,
            # 10s/115s). The knob stays for clusters where the barrier
            # is pricier than local-mode recompute. Values never change:
            # the same expressions run either side of a truncation.
            ranks = new_ranks.localCheckpoint(eager=True)
        else:
            ranks = new_ranks
    e.unpersist()
    nodes.unpersist()
    outdeg.unpersist()
    weights.unpersist()
    if stats is not None:
        stats["rounds"] = rounds
    return ranks


def hits(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    iterations: int = 8,
    stats: dict | None = None,
    checkpoint_half_steps: bool = True,
) -> DataFrame:
    """HITS hubs & authorities (Kleinberg 1999) over a directed edge
    list → (node, hub, auth), each vector L2-normalized per round — the
    other classic crawl-graph ranking beside PageRank/TrustRank: hubs
    are pages that point at good authorities, authorities pages pointed
    at by good hubs. Crawl pipelines use the authority score as a
    host-quality prior and the hub score to seed frontier expansion.

    Runs exactly ``iterations`` fixed mutual-reinforcement rounds
    (fixed count keeps the result a pure function of the graph so the
    driver oracle can unroll the same rounds in SQL):
    ``auth ∝ Aᵀ·hub`` then ``hub ∝ A·auth``, L2-normalizing after each
    half-step. Nodes with no in-edges get auth 0, no out-edges hub 0.

    Scale shape (same discipline as :func:`pagerank`): the edge list is
    hash-partitioned once and persisted; per half-step only
    (node, double) rows move — one exchange of scores onto the edges,
    one of partial sums onto the opposite endpoint; each L2 norm is a
    1-row aggregate. Lineage truncates per round with localCheckpoint.
    Rounds are graph-size-independent, so a 100 TB crawl graph costs
    the same ~8-20 narrow-shuffle rounds.

    ``checkpoint_half_steps`` (perf-only, never changes the scores):
    also checkpoint the authority half-step; False fuses it into the
    hub half-step's job.
    """
    if iterations < 1:
        raise ValueError("iterations must be >= 1")
    e = edges.select(
        F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
    ).filter(F.col("src") != F.col("dst"))
    e = e.repartition("src").persist()
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
        .persist()
    )
    n = nodes.count()
    if n == 0:
        e.unpersist()
        nodes.unpersist()
        # empty-graph schema derives from the input's node type (a
        # hard-coded string schema would break unions/joins with
        # long-keyed graphs on exactly the empty path — review finding)
        return nodes.select(
            "node", F.lit(0.0).alias("hub"), F.lit(0.0).alias("auth")
        )
    hubs = nodes.select("node", F.lit(1.0 / n ** 0.5).alias("s"))
    auths = None

    def _normalized(raw: DataFrame, checkpoint: bool = True) -> DataFrame:
        # the L2 norm rides the SAME plan as a broadcast 1-row relation
        # instead of a per-half-step driver collect: one barrier per
        # half-step (the checkpoint), not two — on the shared raw
        # subtree Catalyst reuses the aggregation exchange, so the norm
        # costs no second scan either. (Measured: the collect variant
        # spent ~half its wall time in 32 serial driver round-trips.)
        # SPARSE per round (r7): zero-score nodes are simply absent —
        # they contribute nothing to the norm (0²) or to the next
        # half-step's sums (no join match = no contribution), so the
        # per-half-step nodes left-join that materialized them bought
        # nothing; the dense (node, hub, auth) view with exact 0.0s is
        # rebuilt once at the end.
        nrm = raw.agg(
            F.sqrt(F.sum(F.col("raw") * F.col("raw"))).alias("nrm")
        )
        out = (
            raw.crossJoin(F.broadcast(nrm))
            .select("node", (F.col("raw") / F.col("nrm")).alias("s"))
        )
        return out.localCheckpoint(eager=True) if checkpoint else out

    for _ in range(iterations):
        # auth half-step: score mass flows src -> dst. Skipping this
        # checkpoint (half-step fusion into the hub job) was measured
        # and REJECTED as the default, same verdict as pagerank's round
        # fusion: the hub half-step's norm branch and main branch both
        # re-derive the unfused auth subtree, AQE does not reuse those
        # exchanges, and the recompute costs more than the barrier
        # (interleaved same-session A/B at sf0.1: checkpointed 5.9-6.8s
        # vs fused 6.9-7.6s). The knob stays for barrier-pricey
        # clusters; values are identical either way.
        auths = _normalized(
            hubs.withColumnRenamed("node", "src")
            .join(e, "src")
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum("s").alias("raw")),
            checkpoint=checkpoint_half_steps,
        )
        # hub half-step: authority flows back dst -> src — checkpointed,
        # truncating the round's lineage in one job
        hubs = _normalized(
            auths.withColumnRenamed("node", "dst")
            .join(e, "dst")
            .groupBy(F.col("src").alias("node"))
            .agg(F.sum("s").alias("raw")),
            checkpoint=True,
        )
    out = (
        nodes.join(hubs.withColumnRenamed("s", "hub"), "node", "left")
        .join(auths.withColumnRenamed("s", "auth"), "node", "left")
        .select(
            "node",
            F.coalesce("hub", F.lit(0.0)).alias("hub"),
            F.coalesce("auth", F.lit(0.0)).alias("auth"),
        )
    )
    e.unpersist()
    nodes.unpersist()
    if stats is not None:
        stats["rounds"] = iterations
    return out
