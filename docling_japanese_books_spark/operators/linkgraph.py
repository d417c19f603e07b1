"""Crawl link-graph operators over WAT metadata.

Common Crawl publishes its host-level web graph (in/out degrees, rank)
computed from the WAT sidecars' ``Links`` arrays; crawl-frontier ranking
and domain-quality heuristics in webtext pipelines consume exactly these
aggregates. Built Spark-first over the ``read_wat`` schema:

- ``host_link_edges``: pages ``(url, links array<struct<url,text>>)`` ->
  host-level edge list ``(src_host, dst_host, n_links)``. Explode is the
  only row expansion (bounded by total link count — the data itself);
  host extraction is the JVM-side regex from ``functions.urls``; the
  aggregate is a plain groupBy with map-side combine. Self-links are
  kept — dropping them is a caller-side filter, not a graph property.
- ``host_degrees``: edge list -> per-host fan-in/fan-out ``(host,
  in_degree, out_degree, in_hosts, out_hosts)`` where degrees count link
  occurrences and ``*_hosts`` count distinct neighbor hosts. Computed as
  two grouped aggregates unioned by host via a full outer join on the
  (already small) edge aggregate — never a second pass over the pages.

Scale: the edge list after the first groupBy is |distinct host pairs|,
orders of magnitude below the raw link count; everything downstream of
the explode is partial-aggregable. Skewed hubs (a host every page links
to) concentrate on the DST key of the first groupBy — AQE skew-join
handling applies, and the map-side combine already collapses per-task
duplicates before the shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.urls import host_of


def host_link_edges(
    pages: DataFrame, url_col: str = "url", links_col: str = "links"
) -> DataFrame:
    """(src_host, dst_host, n_links) from a WAT-schema pages frame.

    Links whose href has no extractable host (relative urls, mailto:,
    javascript:) aggregate under dst_host '' — kept, because the fraction
    of non-navigational hrefs is itself a crawl-quality signal; callers
    filter them with one predicate.
    """
    link = F.explode(F.col(links_col)).alias("link")
    return (
        pages.select(
            host_of(F.col(url_col)).alias("src_host"),
            link,
        )
        .select(
            "src_host", host_of(F.col("link.url")).alias("dst_host")
        )
        .groupBy("src_host", "dst_host")
        .agg(F.count("*").alias("n_links"))
    )


def top_anchors(
    pages: DataFrame,
    k: int = 5,
    url_col: str = "url",
    links_col: str = "links",
) -> DataFrame:
    """Per destination host, the ``k`` most frequent anchor texts —
    the classic off-page relevance/quality signal (anchor text describes
    the TARGET, which is why retrieval systems index it): ``(dst_host,
    anchor, n, rank)``, rank 1 = most frequent, ties broken
    lexicographically.

    Shape: explode -> map-side-combined groupBy (dst_host, anchor) ->
    rank window over the AGGREGATE. The window partitions by dst_host,
    so its sort is bounded by distinct anchors per host (a hub with 1e6
    distinct anchors sorts 1e6 pre-aggregated rows in one task —
    spill-backed and cheap), never by raw link count. Empty/blank
    anchors are dropped: they carry no signal and on real crawls would
    dominate every host's top-k.
    """
    from pyspark.sql import Window

    link = F.explode(F.col(links_col)).alias("link")
    counts = (
        pages.select(link)
        .select(
            host_of(F.col("link.url")).alias("dst_host"),
            F.trim(F.col("link.text")).alias("anchor"),
        )
        .filter((F.col("anchor") != "") & (F.col("dst_host") != ""))
        .groupBy("dst_host", "anchor")
        .agg(F.count("*").alias("n"))
    )
    w = Window.partitionBy("dst_host").orderBy(
        F.desc("n"), F.asc("anchor")
    )
    return (
        counts.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def host_pagerank(
    edges: DataFrame,
    iterations: int = 3,
    damping: float = 0.85,
    checkpoint_every: int = 0,
) -> DataFrame:
    """Weighted PageRank over a ``host_link_edges`` edge list — the
    host-rank signal Common Crawl publishes with its web graph, used for
    crawl-frontier ordering and as a domain-quality prior in webtext
    curation.

    (host, rank) after ``iterations`` synchronous power-iteration steps
    from the uniform vector, link mass split proportionally to edge
    weight (``n_links``), dangling-host mass redistributed uniformly —
    the standard formulation:

        r'(v) = (1-d)/N + d * (sum_{u->v} r(u) * w(uv)/out(u) + dang/N)

    Spark-first scale shape: each iteration is ONE shuffle (the
    contribution groupBy on dst) plus two scalar aggregates; the rank
    vector is |hosts| rows (~1e8 for the full web — a few GB, fine to
    shuffle, never collected); edges are re-read per iteration. Fixed
    iteration count keeps the operator deterministic
    and oracle-expressible; production crawl ranking runs a fixed small
    number of iterations anyway (convergence beyond ~10 moves ordering
    little).

    ``checkpoint_every = k`` truncates the rank frame's lineage with an
    eager ``localCheckpoint`` every k iterations: the iterative plan
    otherwise grows linearly (each round nests the last), and past ~6
    rounds analysis time dominates. Same caveat as the dedup/semdedup
    checkpoints — localCheckpoint pins executor blocks, so on a
    preemptible cluster substitute a table write; values are unchanged
    either way (pinned by test).

    The edge frame is local-checkpointed lazily before iterating: it
    appears in every iteration's contribution join AND in the
    node/out-degree seeds, so a bare lineage would re-derive the
    upstream edge build once per appearance. It is the |distinct host
    pairs| aggregate — orders of magnitude below raw link volume — so
    materializing it is cheap even at full-web scale.
    """
    edges = edges.localCheckpoint(eager=False)
    out_w = edges.groupBy(F.col("src_host").alias("host")).agg(
        F.sum("n_links").cast("double").alias("_out")
    )
    nodes = (
        edges.select(F.col("src_host").alias("host"))
        .union(edges.select(F.col("dst_host").alias("host")))
        .distinct()
    )
    n_nodes = nodes.agg(F.count("*").cast("double").alias("_n"))
    # ranks carries _out (null for dangling hosts) so the dangling-mass
    # aggregate and the contribution join never re-join the out table
    ranks = (
        nodes.crossJoin(F.broadcast(n_nodes))
        .join(out_w, "host", "left")
        .select("host", (F.lit(1.0) / F.col("_n")).alias("rank"), "_out")
    )
    for it in range(iterations):
        dang = ranks.agg(
            F.coalesce(
                F.sum(F.when(F.col("_out").isNull(), F.col("rank"))), F.lit(0.0)
            ).alias("_dang")
        )
        contribs = (
            edges.join(
                ranks.filter(F.col("_out").isNotNull()),
                edges["src_host"] == ranks["host"],
            )
            .groupBy(F.col("dst_host").alias("host"))
            .agg(
                F.sum(
                    F.col("rank") * F.col("n_links").cast("double") / F.col("_out")
                ).alias("_c")
            )
        )
        ranks = (
            ranks.drop("rank")
            .join(contribs, "host", "left")
            .crossJoin(F.broadcast(dang))
            .crossJoin(F.broadcast(n_nodes))
            .select(
                "host",
                (
                    (1.0 - damping) / F.col("_n")
                    + damping
                    * (
                        F.coalesce(F.col("_c"), F.lit(0.0))
                        + F.col("_dang") / F.col("_n")
                    )
                ).alias("rank"),
                "_out",
            )
        )
        if (
            checkpoint_every
            and (it + 1) % checkpoint_every == 0
            and it + 1 < iterations
        ):
            ranks = ranks.localCheckpoint(eager=True)
    return ranks.select("host", "rank")


def host_degrees(edges: DataFrame) -> DataFrame:
    """Per-host degree summary from a ``host_link_edges`` output:
    (host, in_degree, out_degree, in_hosts, out_hosts), zeros where a
    host appears on only one side of the graph."""
    outs = edges.groupBy(F.col("src_host").alias("host")).agg(
        F.sum("n_links").alias("out_degree"),
        F.count("*").alias("out_hosts"),
    )
    ins = edges.groupBy(F.col("dst_host").alias("host")).agg(
        F.sum("n_links").alias("in_degree"),
        F.count("*").alias("in_hosts"),
    )
    return (
        outs.join(ins, "host", "full_outer")
        .select(
            "host",
            F.coalesce("in_degree", F.lit(0)).alias("in_degree"),
            F.coalesce("out_degree", F.lit(0)).alias("out_degree"),
            F.coalesce("in_hosts", F.lit(0)).cast("long").alias("in_hosts"),
            F.coalesce("out_hosts", F.lit(0)).cast("long").alias("out_hosts"),
        )
    )


def resolve_redirects(
    edges: DataFrame,
    max_rounds: int = 6,
    src_col: str = "url",
    dst_col: str = "location",
) -> DataFrame:
    """Redirect-chain resolution by POINTER DOUBLING: (url, final_url,
    resolved) where final_url follows the redirect function until a
    non-redirecting url (resolved=true) or until 2**max_rounds hops have
    been followed without terminating (resolved=false — a cycle or an
    absurdly long chain, both of which real crawlers refuse).

    The naive loop follows one hop per join — O(longest chain) shuffles.
    Doubling composes the partial function with itself each round
    (f <- f(f)), so a 64-hop chain resolves in 6 self-joins; crawl
    redirect chains are <=~10 hops (browsers cap at 20), making
    ``max_rounds=6`` exhaustive in practice. Each round is ONE
    equi-self-join of the (url -> target, done) frame — the same
    log-rounds shape as the dedup module's connected components, and the
    reason this works at web scale where per-hop iteration would not.

    Input: one row per KNOWN redirect (src_col -> dst_col). Urls that
    never appear as a source are their own final_url by definition and
    need no row. Self-redirects (url -> itself) are degenerate cycles:
    resolved=false.
    """
    f = edges.select(
        F.col(src_col).alias("u"), F.col(dst_col).alias("t")
    ).filter(F.col("t").isNotNull())
    for _round in range(max_rounds):
        g = f.select(F.col("u").alias("_gu"), F.col("t").alias("_gt"))
        f = f.join(g, f["t"] == g["_gu"], "left_outer").select(
            "u", F.coalesce(F.col("_gt"), F.col("t")).alias("t")
        )
    # resolved iff the final target is not itself a redirect source —
    # checked once AFTER the doubling (an in-loop flag misses terminals
    # reached on the last round); cycles and over-long chains always end
    # on a source, so they read false without any special casing
    srcs = f.select(F.col("u").alias("t")).distinct().withColumn(
        "_is_src", F.lit(True)
    )
    return f.join(srcs, "t", "left_outer").select(
        F.col("u").alias(src_col),
        F.col("t").alias("final_url"),
        F.col("_is_src").isNull().alias("resolved"),
    )


def host_hits(
    edges: DataFrame,
    iterations: int = 3,
    checkpoint_every: int = 1,
) -> DataFrame:
    """Kleinberg HITS over a ``host_link_edges`` edge list: ``(host,
    hub, authority)`` after ``iterations`` synchronous update rounds —
    the other classic crawl-graph signal next to PageRank (authorities
    ~ pages worth fetching, hubs ~ directories/feeds worth re-crawling
    for discovery; the two-sided view PageRank's single score folds
    together).

    Each round is the textbook pair of sweeps with edge weights
    (``n_links``): ``auth(v) = sum_{u->v} w * hub(u)`` then
    ``hub(u) = sum_{u->v} w * auth(v)``, each L1-normalized (divide by
    the score total — same ordering as L2, but the arithmetic stays
    +,/ so an external replay agrees to float ulps). Hosts with no
    in-links read authority 0, no out-links hub 0; an edgeless graph
    stays all-zero instead of dividing by it.

    Scale shape mirrors ``host_pagerank``: the score vector is |hosts|
    rows and never collected; each sweep is ONE shuffle (the groupBy on
    the updated side) plus a broadcast scalar total; edges appear in
    every sweep, so they are local-checkpointed lazily, as in
    ``host_pagerank``.

    ``checkpoint_every`` truncates the iterative lineage as in
    ``host_pagerank`` — but here it DEFAULTS ON (every iteration),
    because each HITS sweep references the score frame three times (the
    contribution join, the normalization total, the rejoin), so an
    untruncated lineage re-derives the seed 3^(2*iterations) times —
    measured 17 s -> 81 s -> 97 s for 1/2/3 iterations on a 3-edge graph
    versus linear when truncated. Values are unchanged either way
    (test-pinned); ``checkpoint_every=0`` restores the pure-lazy plan,
    and the localCheckpoint caveat on preemptible clusters applies.
    """
    edges = edges.localCheckpoint(eager=False)
    nodes = (
        edges.select(F.col("src_host").alias("host"))
        .union(edges.select(F.col("dst_host").alias("host")))
        .distinct()
    )
    scores = nodes.select(
        "host", F.lit(1.0).alias("hub"), F.lit(1.0).alias("authority")
    )

    def _sweep(scores: DataFrame, from_col: str, to_col: str,
               src_col: str, dst_col: str, keep: str) -> DataFrame:
        raw = (
            edges.join(
                scores.select(F.col("host").alias("_j"), from_col),
                edges[src_col] == F.col("_j"),
            )
            .groupBy(F.col(dst_col).alias("host"))
            .agg(
                F.sum(
                    F.col(from_col) * F.col("n_links").cast("double")
                ).alias("_raw")
            )
        )
        tot = raw.agg(
            F.coalesce(F.sum("_raw"), F.lit(0.0)).alias("_tot")
        )
        return (
            scores.drop(to_col)
            .join(raw, "host", "left")
            .crossJoin(F.broadcast(tot))
            .select(
                "host",
                F.col(keep),
                F.when(F.col("_tot") == 0.0, F.lit(0.0))
                .otherwise(F.coalesce(F.col("_raw"), F.lit(0.0)) / F.col("_tot"))
                .alias(to_col),
            )
        )

    for it in range(iterations):
        # authority sweep reads hub along src -> dst, hub sweep reads the
        # fresh authority along dst -> src
        scores = _sweep(
            scores, "hub", "authority", "src_host", "dst_host", "hub"
        )
        scores = _sweep(
            scores, "authority", "hub", "dst_host", "src_host", "authority"
        )
        if (
            checkpoint_every
            and (it + 1) % checkpoint_every == 0
            and it + 1 < iterations
        ):
            scores = scores.localCheckpoint(eager=True)
    return scores.select("host", "hub", "authority")
