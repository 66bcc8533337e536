"""Link-graph citation priority: PageRank power iteration, in-degree
scoring, and anchor-text aggregation — all pure DataFrame ops.

The north star's fetch ordering is a heap over (host-budget,
discovery-depth, citation-priority).  Rounds 1–2 took
``citation_priority`` as a datagen *input*; this module computes it from
the crawl's own link graph, the way the reference derives seed priority
from fatcat citation counts and CDX discovery (SURVEY §2.8; the
reference feeds `seedlist` priorities from external citation data —
e.g. scalding/main sort keys over join counts — rather than computing
PageRank itself, so the power iteration here is the Spark-native
generalization, not a port).

Scale design (10^10 edges):

- edges are hash-partitioned by ``src`` ONCE and cached; the per-
  iteration rank join then reuses that partitioning (one shuffle per
  iteration for the ``dst`` aggregation, none for the join side).
- ranks are ``localCheckpoint``-ed every iteration — power iteration
  otherwise builds a lineage chain that re-executes from iteration 0
  and overwhelms the planner by iteration ~10.
- dangling mass (nodes with no outlinks) is a single scalar ``agg`` per
  iteration (driver receives ONE double, never rows).
- contributions use map-side partial aggregation (groupBy sum), so the
  shuffle moves one partial per (partition, dst), not one row per edge.

Determinism: fp summation order varies with partitioning, so ranks are
bit-stable only to ~1e-15; callers that need a total order (battery
oracles, fetch keys) round with ``bround(_, 6)`` — document counts make
rank gaps >> 1e-6 apart for top-priority nodes, and ties break by node
id.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def graph_nodes(edges: DataFrame) -> DataFrame:
    """Distinct node set of a (src, dst) edge list → one column ``node``."""
    return (
        edges.select(F.col("src").alias("node"))
        .unionByName(edges.select(F.col("dst").alias("node")))
        .distinct()
    )


def pagerank(
    edges: DataFrame,
    iterations: int = 3,
    damping: float = 0.85,
    checkpoint: bool = True,
) -> DataFrame:
    """Power-iteration PageRank over a (src, dst) edge DataFrame.

    Returns ``(node, rank)``.  Handles dangling nodes (rank mass of
    nodes with no outlinks is redistributed uniformly each iteration),
    so ranks sum to 1 at every step.

    ``checkpoint=True`` localCheckpoints ranks per iteration (lineage
    truncation); tests that want a pure-lazy plan can disable it.
    """
    e = edges.select(F.col("src").alias("src"), F.col("dst").alias("dst"))
    nodes = graph_nodes(e).cache()

    out_deg = e.groupBy("src").agg(F.count("*").alias("out_deg"))
    # ONE driver action for both static scalars (round 6; was a count
    # plus a separate dangling head(1) — each a full job whose
    # scheduling latency dominates on small graphs): node count and
    # dangling-node count from a single left join over the cached node
    # set.
    stats = (
        nodes.join(out_deg, nodes.node == out_deg.src, "left")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("out_deg").isNull().cast("long")).alias("n_dangling"),
        )
        .first()
    )
    n_nodes = stats["n"]
    if n_nodes == 0:
        return nodes.select("node", F.lit(0.0).alias("rank"))
    has_dangling = (stats["n_dangling"] or 0) > 0

    # partition edges by src once; every iteration's join reuses it
    e_by_src = (
        e.join(out_deg, "src")
        .repartition("src")
        .persist()
    )

    # dangling node SET is static (mass changes per iteration, membership
    # doesn't): only materialized when it is non-empty
    dangling_nodes = nodes.join(
        out_deg, nodes.node == out_deg.src, "left_anti"
    )
    if has_dangling:
        dangling_nodes = dangling_nodes.cache()

    ranks = nodes.select("node", F.lit(1.0 / n_nodes).alias("rank"))
    base = (1.0 - damping) / n_nodes

    for _ in range(iterations):
        # mass sitting on dangling nodes (no outgoing edges): one scalar
        dangling = 0.0
        if has_dangling:
            dangling = (
                ranks.join(dangling_nodes, "node", "left_semi")
                .agg(F.coalesce(F.sum("rank"), F.lit(0.0)))
                .first()[0]
            )
        contribs = (
            e_by_src.join(ranks, e_by_src.src == ranks.node)
            .select("dst", (F.col("rank") / F.col("out_deg")).alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("contrib"))
        )
        redistribute = damping * dangling / n_nodes
        ranks = (
            nodes.join(contribs, nodes.node == contribs.dst, "left")
            .select(
                "node",
                (
                    F.lit(base)
                    + F.lit(damping) * F.coalesce(F.col("contrib"), F.lit(0.0))
                    + F.lit(redistribute)
                ).alias("rank"),
            )
        )
        # lineage truncation: without it, iteration k replans/re-executes
        # from iteration 0 (lazy for short chains; eager not needed)
        if checkpoint:
            ranks = ranks.localCheckpoint(eager=False)

    e_by_src.unpersist()
    nodes.unpersist()
    dangling_nodes.unpersist()
    return ranks


def hits(
    edges: DataFrame,
    iterations: int = 2,
    checkpoint: bool = True,
) -> DataFrame:
    """HITS hubs-and-authorities power iteration — the citation-graph
    complement to :func:`pagerank` (Kleinberg 1999; public algorithm,
    no reference counterpart): ``authority = Σ hub(inlinks)``,
    ``hub = Σ authority(outlinks)``, L1-normalized.

    Normalization is DEFERRED: the iteration is linear in the score
    vector, so per-step rescaling only changes magnitude, never
    direction — running every gather raw and dividing ONCE at the end
    by the final L1 sums is exactly the per-step-normalized result (up
    to fp noise far below the battery's 6dp rounding).  That makes the
    whole computation one lazy plan: zero mid-iteration Spark jobs,
    lineage truncated per iteration by lazy localCheckpoint (persisted
    on first materialization, shared by the final frame's two
    consumers).  Raw magnitudes grow like (max_degree)^iterations, so
    every 20 iterations the hub vector is renormalized by a collected
    scalar (ONE double to the driver) to stay inside double range;
    2–5 iterations — the useful depth — never trigger it.

    Returns ``(node, hub, auth)``.  Scale shape matches pagerank: one
    edge equi-join per half-step, map-side-combined aggregation keyed
    by the gathering endpoint; the final normalization is a scalar
    tree-aggregate broadcast back as a 1-row frame — never a
    single-partition global window.
    """
    if iterations < 1:
        raise ValueError("hits requires iterations >= 1")
    e = edges.select(F.col("src").alias("src"), F.col("dst").alias("dst"))
    nodes = graph_nodes(e).cache()
    hub = nodes.select("node", F.lit(1.0).alias("hub"))
    auth = None

    for i in range(iterations):
        gathered_a = (
            e.join(hub.withColumnRenamed("node", "src"), "src")
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum("hub").alias("auth"))
        )
        auth = nodes.join(gathered_a, "node", "left").select(
            "node", F.coalesce("auth", F.lit(0.0)).alias("auth")
        )
        gathered_h = (
            e.join(auth.withColumnRenamed("node", "dst"), "dst")
            .groupBy(F.col("src").alias("node"))
            .agg(F.sum("auth").alias("hub"))
        )
        hub = nodes.join(gathered_h, "node", "left").select(
            "node", F.coalesce("hub", F.lit(0.0)).alias("hub")
        )
        if checkpoint:
            auth = auth.localCheckpoint(eager=False)
            hub = hub.localCheckpoint(eager=False)
        if (i + 1) % 20 == 0 and i + 1 < iterations:
            scale = hub.agg(F.sum("hub")).first()[0] or 1.0
            hub = hub.select("node", (F.col("hub") / F.lit(scale)).alias("hub"))

    a_sum = auth.agg(F.sum("auth").alias("_as"))
    h_sum = hub.agg(F.sum("hub").alias("_hs"))
    out = (
        auth.join(hub, "node")
        .crossJoin(F.broadcast(a_sum))
        .crossJoin(F.broadcast(h_sum))
        .select(
            "node",
            F.when(F.col("_hs") > 0, F.col("hub") / F.col("_hs"))
            .otherwise(F.lit(0.0))
            .alias("hub"),
            F.when(F.col("_as") > 0, F.col("auth") / F.col("_as"))
            .otherwise(F.lit(0.0))
            .alias("auth"),
        )
    )
    nodes.unpersist()
    return out


def indegree_citation(edges: DataFrame) -> DataFrame:
    """In-degree citation score normalized to [0, 1]:
    ``citation = in_deg / max(in_deg)``.  The cheap one-shuffle
    alternative to PageRank for priority seeding — exactly the shape the
    reference uses when it sorts seedlists by external citation counts.

    Returns ``(node, in_deg, citation)``; nodes with no inlinks get 0.
    """
    indeg = edges.groupBy(F.col("dst").alias("node")).agg(
        F.count("*").alias("in_deg")
    )
    all_nodes = graph_nodes(edges)
    scored = all_nodes.join(indeg, "node", "left").select(
        "node", F.coalesce("in_deg", F.lit(0)).alias("in_deg")
    )
    # max over a tiny agg — broadcast scalar via crossJoin of a 1-row df
    mx = scored.agg(F.max("in_deg").alias("mx"))
    return (
        scored.crossJoin(F.broadcast(mx))
        .select(
            "node",
            "in_deg",
            F.when(F.col("mx") > 0, F.col("in_deg") / F.col("mx"))
            .otherwise(F.lit(0.0))
            .alias("citation"),
        )
    )


def anchor_text_topk(edges: DataFrame, k: int = 3) -> DataFrame:
    """Top-k inbound anchor texts per target URL.

    The classic web-IR signal: what OTHER pages call this page.
    Grouped count per (dst, anchor), then a window top-k with a total
    order (count desc, anchor asc) so results are
    parallelism-independent.  Two shuffles, both keyed by dst, and AQE
    coalesces them at scale; no Python.
    """
    counts = (
        edges.filter(F.length(F.trim(F.col("anchor"))) > 0)
        .groupBy(F.col("dst").alias("url"), F.trim(F.col("anchor")).alias("anchor"))
        .agg(F.count("*").alias("n"))
    )
    w = Window.partitionBy("url").orderBy(F.col("n").desc(), F.col("anchor").asc())
    return (
        counts.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("url", "anchor", "n", "rk")
    )


def crawl_edges(spark, state_dir: str) -> DataFrame:
    """(src, dst) link edges discovered by a committed crawl.

    Read from the snapshot store's per-round ``frontier_add`` deltas:
    every addition row records the page it was discovered on as the
    last element of its ``hops`` chain (redirect Location hops and
    outlink hrefs alike, frontier.py expansion 1+2).  Raw round deltas
    are append-only on disk (compaction adds a base table but never
    deletes round dirs), so this sees EVERY discovered edge, including
    ones later filtered by the seen anti-join — exactly what a citation
    graph wants.
    """
    adds = spark.read.parquet(f"{state_dir}/rounds/round=*/frontier_add")
    return (
        adds.select(
            F.element_at("hops", -1).alias("src"),
            F.col("canonical_url").alias("dst"),
        )
        .filter(F.col("src").isNotNull() & F.col("dst").isNotNull())
    )


def refresh_seed_citations(
    spark,
    data_dir: str,
    state_dir: str,
    out_path: str,
) -> int:
    """Offline citation refresh between crawl generations — the
    reference's model (seedlist priorities recomputed offline from
    citation data, then fed into the next crawl) with the citation
    signal coming from the previous crawl's OWN link graph.

    Reads ``data_dir/seeds.parquet``, joins PageRank scores from the
    committed crawl at ``state_dir`` on the seeds' canonical URLs, and
    writes a refreshed seeds parquet (same schema, new
    ``citation_priority``) to ``out_path``.  The next crawl — engine or
    single-threaded oracle — consumes it unchanged, so order parity is
    preserved by construction.  Returns the number of seeds rescored.

    Writes ONE parquet file via Arrow, matching the datagen file
    contract that the oracle and duckdb checks glob (`datagen.py`
    writes seeds with ``pq.write_table``); rows are ordered by ``seq``
    so the file is byte-deterministic. This collects the seed table on
    the driver — fine to ~10^7 seeds (seeds are the curated frontier
    input, not the 10^10 crawl data).
    """
    import pyarrow.parquet as pq

    from sandcrawler_spark.functions.urlkeys import canonical_url_udf

    scores = pagerank(crawl_edges(spark, state_dir))
    seeds = spark.read.parquet(f"{data_dir}/seeds.parquet")
    keyed = seeds.withColumn("_cu", canonical_url_udf("base_url"))
    sc = scores.select(
        F.col("node").alias("_cu"), F.bround("rank", 6).alias("_cite")
    )
    refreshed = (
        keyed.join(sc, "_cu", "left")
        .withColumn(
            "citation_priority", F.coalesce("_cite", F.col("citation_priority"))
        )
        .drop("_cu", "_cite")
        .select(seeds.columns)
    )
    tbl = refreshed.orderBy("seq").toArrow()
    pq.write_table(tbl, out_path, row_group_size=65536)
    return tbl.num_rows - tbl.column("citation_priority").null_count


def bfs_depths(
    edges: DataFrame,
    seeds: DataFrame,
    max_depth: int = 3,
    early_stop: bool = True,
    checkpoint: bool = True,
) -> DataFrame:
    """Minimum-hop discovery depth from a seed set — the link-graph
    generalization of the crawl's hop accounting (the frontier's
    ``hops`` chain / max_hops gate in ``plans/frontier.py`` IS this
    BFS, interleaved with fetch simulation; this runs it standalone
    over any edge list).  Discovery depth is heap key #2 of the north
    rule's fetch ordering.

    ``edges`` is (src, dst), ``seeds`` has a ``node`` column.
    Level-synchronous frontier expansion: each level is one equi-join
    (frontier ⋈ edges on src) + distinct + anti-join against visited —
    the same dedup-then-anti-join shape as a crawl round.  Returns
    ``(node, depth)`` for reached nodes only (depth 0 = seed).

    Scale: visited grows monotonically, so the per-level anti-join is
    O(visited); at the 10^10 design point the crawl replaces the plain
    anti-join with its bloom prefilter + exact confirm
    (``operators/bloom.py``) — this standalone version keeps the exact
    join only.  ``early_stop=False`` keeps the whole loop lazy (no
    per-level driver action); with it True an empty frontier ends the
    loop with a 1-row ``head`` probe per level.
    """
    e = edges.select(F.col("src").alias("src"), F.col("dst").alias("dst"))
    visited = (
        seeds.select(F.col("node").alias("node"))
        .distinct()
        .withColumn("depth", F.lit(0).cast("int"))
    )
    frontier = visited.select("node")
    for d in range(1, max_depth + 1):
        nxt = (
            frontier.join(e, frontier.node == e.src)
            .select(F.col("dst").alias("node"))
            .distinct()
            .join(visited, "node", "left_anti")
            .withColumn("depth", F.lit(d).cast("int"))
        )
        if checkpoint:
            nxt = nxt.localCheckpoint(eager=False)
        if early_stop and not nxt.head(1):
            break
        visited = visited.unionByName(nxt)
        frontier = nxt.select("node")
        if checkpoint:
            visited = visited.localCheckpoint(eager=False)
    return visited
