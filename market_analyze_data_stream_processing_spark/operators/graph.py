"""Fixed-iteration PageRank over an edge DataFrame — the influence /
centrality analytics tier on graphs derived from relational data
(who-buys-from-whom, doc-link, dup-candidate graphs).

Scale shape per iteration: one equi-join of edges to the current rank
vector on src (edges can be pre-partitioned/bucketed on src once and
reused every iteration), one hash aggregate on dst (map-side combined),
and one left join back to the node set — all key-partitioned shuffles,
no driver round-trip, no collect. The node count rides along as a
1-row broadcast contract scalar. A fixed iteration count keeps the
lineage bounded (for convergence-driven runs, add the eager-checkpoint-
every-k-rounds pattern connected_components already uses;
operators/dedup.py).

Dangling nodes (outdegree 0) simply contribute nothing — the common
simplified variant; ranks then sum to < 1 but the ORDERING, which is
what centrality consumers use, is unaffected.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def pagerank(
    edges: DataFrame,
    iterations: int = 3,
    damping: float = 0.85,
    src: str = "src",
    dst: str = "dst",
    broadcast_ranks: bool = False,
) -> DataFrame:
    """Ranks after ``iterations`` synchronous PageRank steps from the
    uniform 1/N start: r(v) = (1-d)/N + d * Σ_{u→v} r(u)/outdeg(u).

    Returns (node, rank). Float discipline: 1/outdeg is precomputed
    once (so every engine multiplies by the identical double), and the
    teleport constant is (1-d) evaluated in Python — mirror it into any
    oracle verbatim rather than re-deriving it in SQL.
    """
    teleport = 1.0 - damping
    # The edge list, node set, and join-weights are loop-invariant but
    # appear in every iteration's lineage — without a pin, each of the
    # k iterations re-executes edge derivation (often a join+distinct
    # over fact tables) from scratch, k+1 times by the last. Lazy
    # localCheckpoints materialize each ONCE, into whichever iteration's
    # job runs first (no standalone job), exactly the CC discipline
    # (operators/dedup.py); callers release pins post-collect as usual.
    e = (
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        .localCheckpoint(eager=False)
    )
    # The node set is consumed by BOTH n_row evaluations (weighted's and
    # the final projection's) and the final join — unpinned, each
    # consumer re-runs the full 2|E| union+distinct over the edge pin
    # (measured at sf1: 3 distinct evaluations ≈ 3 edge-pin passes per
    # execution). One |V|-row pin serves all of them.
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    n_row = nodes.agg(F.count(F.lit(1)).cast("double").alias("n"))
    # (node, n) contract-scalar frame: since round 15 the rank loop no
    # longer consumes it (contribs carry the recurrence), so its only
    # reader is the final projection — derived cheaply from the nodes
    # pin, no checkpoint of its own.
    base = nodes.crossJoin(F.broadcast(n_row))
    deg = e.groupBy("src").agg((F.lit(1.0) / F.count(F.lit(1))).alias("inv"))
    # n rides the weighted pin (one broadcast at build): the
    # per-iteration rank expression teleport/n + d·contrib is then
    # computable EDGE-SIDE, so the loop never materializes a full rank
    # table — round-15 restructure, see below.
    weighted = (
        e.join(deg, "src")
        .crossJoin(F.broadcast(n_row))
        .localCheckpoint(eager=False)
    )  # (src, dst, inv, n): reused per iter
    # broadcast_ranks: when the caller knows |nodes| ≪ |edges| (bipartite
    # order graphs, web-domain graphs), shipping the O(nodes) contrib
    # frame to the pinned edge partitions skips re-shuffling O(edges)
    # rows every iteration. Off by default: on a graph where nodes rival
    # edges (social follower graphs) the broadcast would not fit.
    maybe_b = F.broadcast if broadcast_ranks else (lambda df: df)
    # Round-15 iteration shape (guide §2.4 — remove per-round work the
    # fixpoint doesn't need): rank_k(u) = teleport/n + d·contrib_k(u)
    # is a pure row-local expression of the previous round's contrib
    # aggregate, so materializing the |V|-row rank table every round
    # (base ⋈ contribs left join + a broadcast build of the result) buys
    # nothing — the loop now carries ONLY the contrib aggregate
    # (dst-keyed, ≤ |nodes-with-in-edges| rows, strictly smaller than
    # the rank table) and evaluates the rank expression edge-side in
    # the next round's sum. One shuffle (the dst aggregate) and one
    # broadcast per iteration instead of one shuffle + two broadcasts +
    # an extra |V|-row join. The base join runs ONCE, on the final
    # contribs. Arithmetic is unchanged: the same double expression
    # teleport/n + d·coalesce(contrib, 0.0) evaluated on the same
    # (n, contrib) doubles, multiplied by the same precomputed inv —
    # identical per-row products, identical aggregates.
    if iterations <= 0:
        return base.select(
            "node", (F.lit(1.0) / F.col("n")).alias("rank")
        )
    rank0 = F.lit(1.0) / F.col("n")  # uniform start, per edge row
    contribs = None
    for _ in range(iterations):
        if contribs is None:
            j, rank = weighted, rank0
        else:
            j = weighted.join(
                maybe_b(contribs), weighted["src"] == contribs["c_dst"], "left"
            )
            rank = F.lit(teleport) / F.col("n") + F.lit(damping) * F.coalesce(
                F.col("contrib"), F.lit(0.0)
            )
        contribs = (
            j.groupBy(weighted["dst"])
            .agg(F.sum(rank * F.col("inv")).alias("contrib"))
            .select(F.col("dst").alias("c_dst"), "contrib")
        )
    return base.join(
        maybe_b(contribs), base["node"] == contribs["c_dst"], "left"
    ).select(
        base["node"],
        (
            F.lit(teleport) / F.col("n")
            + F.lit(damping) * F.coalesce(F.col("contrib"), F.lit(0.0))
        ).alias("rank"),
    )


def triangle_count(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """Per-node triangle counts on an undirected graph.

    Edges are canonicalized to (a < b) and deduped, so each triangle
    {a<b<c} is formed exactly once by closing the wedge (a,b)+(b,c)
    with the edge (a,c) — two equi-joins on node ids, no enumeration of
    non-edges. The id-orientation bounds each node's join fan-out by
    its HIGHER-id degree; the production skew upgrade is degree
    ordering (orient from low-degree to high-degree endpoint), which
    caps wedge counts at O(E^1.5) total — same plan, different
    orientation key. Returns (node, n_tri) for nodes in ≥1 triangle."""
    a, b = F.col(src), F.col(dst)
    # The canonical edge set feeds all three triangle corners — without
    # a pin, edge derivation (often a join+aggregate over fact tables)
    # executes once per corner. Lazy localCheckpoint: materialized once
    # by the first job that needs it (see pagerank above).
    e = (
        edges.where(a != b)
        .select(F.least(a, b).alias("a"), F.greatest(a, b).alias("b"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    ab = e.select(F.col("a").alias("t_a"), F.col("b").alias("t_b"))
    bc = e.select(F.col("a").alias("t_b2"), F.col("b").alias("t_c"))
    ac = e.select(F.col("a").alias("t_a3"), F.col("b").alias("t_c3"))
    tri = (
        ab.join(bc, ab["t_b"] == bc["t_b2"])
        .join(ac, (F.col("t_a") == F.col("t_a3")) & (F.col("t_c") == F.col("t_c3")))
        .select("t_a", "t_b", "t_c")
    )
    corners = (
        tri.select(F.col("t_a").alias("node"))
        .union(tri.select(F.col("t_b").alias("node")))
        .union(tri.select(F.col("t_c").alias("node")))
    )
    return corners.groupBy("node").agg(F.count(F.lit(1)).alias("n_tri"))


def node_overlap(
    memberships: DataFrame,
    node: str = "node",
    item: str = "item",
    max_item_df: int = 50,
    top_k: int = 25,
    round_digits: int | None = 6,
) -> DataFrame:
    """Top-k node pairs by Jaccard similarity of their item sets
    (e.g. suppliers by shared parts, users by shared purchases).

    The inverted-index lowering (the dedup-family discipline, not an
    all-pairs cross join): distinct (node, item) edges -> drop items
    touching more than ``max_item_df`` nodes (a hot item contributes
    O(df²) pairs but almost no signal — exactly the stopword-shingle
    argument of operators.dedup) -> per-item ordered pairs -> count
    common items per pair -> Jaccard against the UNPRUNED set sizes.
    Pair growth is Σ df², bounded by max_item_df·|edges| — linear in
    postings. Output is the global top_k by (jaccard, a, b): a
    deterministic total order, taken with one TakeOrderedAndProject
    (no full sort materialization)."""
    # The distinct postings feed THREE consumers (sizes, df_ok, the
    # pair expansion). AQE materializes independent query stages
    # concurrently, so the identical distinct subtree executes once per
    # consumer instead of being exchange-reused (measured: 3 identical
    # scan+partial-distinct stages per execution at sf0.1). The lazy
    # localCheckpoint pins it into whichever job runs first — the
    # standard multi-consumer discipline of pagerank/triangle_count
    # above; at 100 TB one materialized postings set beats three full
    # scans+distincts of the fact table.
    m = (
        memberships.select(F.col(node).alias("a"), F.col(item).alias("i"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    sizes = m.groupBy("a").agg(F.count(F.lit(1)).alias("n_items"))
    df_ok = (
        m.groupBy("i")
        .agg(F.count(F.lit(1)).alias("df"))
        .where(F.col("df") <= max_item_df)
        .select("i")
    )
    # The per-item self-join FANS OUT: Σdf² pair rows from |postings|
    # input rows. AQE sizes the post-shuffle stage by its INPUT bytes
    # (a few MB here → it coalesced the expansion to 5 partitions and
    # serialized ~10 s of CPU onto 5 cores at sf0.1). The optimizer
    # cannot know the fan-out; we do (guide §8) — an explicit
    # hash-repartition on the join key at the shuffle-partition count
    # keeps the expansion stage at full parallelism, and both join
    # branches read the SAME exchange (hash(i) satisfies the join's
    # distribution on each side), so this adds zero extra shuffles.
    fanout = int(
        memberships.sparkSession.conf.get("spark.sql.shuffle.partitions", "200")
    )
    pruned = m.join(df_ok, "i").repartition(fanout, "i")
    left = pruned.select(F.col("i"), F.col("a"))
    right = pruned.select(F.col("i"), F.col("a").alias("b"))
    # Repartition the RAW pair stream by (a, b) before counting
    # (round 15). Hash(i)-partitioned expansion output scatters a
    # pair's copies across partitions (a pair sharing k items lands in
    # up to k partitions), so the map-side partial count barely
    # reduced — measured at sf1: 87.2M pair rows → 67.2M partial rows
    # for 175 s of aggTime + the GC of 2M-entry per-task hash maps;
    # the partial pass cost 40% of the query's executor CPU to save
    # 23% of the shuffle. Clustering the raw pairs by (a, b) first
    # makes the partial aggregate fully reductive (each partition
    # holds every copy of its pairs: 87.2M → 5.0M locally, ~160k-entry
    # maps) and the final aggregate a pass-through — trading ~20M
    # extra shuffled rows for the whole wasted probe. The explicit
    # partition count pins the fan-in at full parallelism (same AQE
    # fan-out argument as above).
    pairs = (
        left.join(right, "i")
        .where(F.col("a") < F.col("b"))
        .repartition(fanout, "a", "b")
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    sa = sizes.select(F.col("a"), F.col("n_items").alias("na"))
    sb = sizes.select(F.col("a").alias("b"), F.col("n_items").alias("nb"))
    scored = (
        pairs.join(sa, "a")
        .join(sb, "b")
        .select(
            "a",
            "b",
            "common",
            "na",
            "nb",
            _maybe_round(
                F.col("common")
                / (F.col("na") + F.col("nb") - F.col("common")).cast("double"),
                round_digits,
            ).alias("jaccard"),
        )
    )
    # Jaccard is rounded BEFORE the ordering (when round_digits is set)
    # so top-k boundary ties at equal similarity break identically by
    # (a, b) on any engine. orderBy+limit lowers to
    # TakeOrderedAndProject: per-partition top-k heaps, one k-row merge
    # on the driver — never a global sort.
    return scored.orderBy(F.desc("jaccard"), "a", "b").limit(top_k)


def _maybe_round(col: Column, digits: int | None) -> Column:
    if digits is None:
        return col
    p = float(10**digits)
    return F.floor(col * p + F.lit(0.5)) / F.lit(p)
