"""Graph operator library: weighted PageRank over an edge DataFrame.

Together with ``dedup.connected_components`` this is the iterative-
graph surface: CC contracts undirected similarity graphs; PageRank
scores directed weighted ones (link/influence analysis over entity
graphs derived from relational data — see ``plans/graph_ops``).

Scale shape per iteration: one join of the rank vector onto the edge
list (equi-join on the source key) + one grouped sum on the
destination — two shuffles, both on uniform entity keys; the rank
vector is materialized per round so the unrolled lineage never
replays earlier rounds. O(iters) rounds with no driver-side data
movement (ranks stay distributed; only the loop counter lives on the
driver). Optional dangling-mass redistribution adds one tiny 1-row
aggregate per round; optional early exit stops at the exact 10 dp
fixpoint (see ``pagerank``).

Determinism: contribution sums are floating-point and engine fold
order differs at ~1e-16, so ranks round to 10 dp per iteration (the
q83/q93 recipe) — the DuckDB oracle replays identical unrolled
iterations.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from portfolio1_etl_spark.operators.checkpointing import materialize


def out_weights(edges: DataFrame) -> DataFrame:
    """(src, outw): total outgoing edge weight per source node."""
    return edges.groupBy("src").agg(F.sum("w").alias("outw"))


def pagerank(
    edges: DataFrame,
    iters: int = 3,
    damping: float = 0.85,
    redistribute_dangling: bool = False,
    stop_when_stable: bool = True,
) -> DataFrame:
    """(node, rank): weighted PageRank after at most ``iters``
    synchronous rounds from a uniform start. ``edges`` is
    (src, dst, w). Nodes are the union of sources and destinations.

    ``redistribute_dangling=False``: dangling nodes (no out-edges)
    keep receiving but leak their mass — acceptable for ranking,
    documented, and identical in the oracle.

    ``redistribute_dangling=True``: each round the rank mass sitting
    on dangling nodes is summed (ONE extra tiny aggregate — a 1-row
    DataFrame broadcast back onto the rank update; nothing collects
    to the driver) and redistributed uniformly, so the rank vector
    conserves total mass ≈ 1 round over round (the standard
    formulation, Page et al. 1999 §2.7). The dangling sum rounds to
    10 dp before redistribution so engine fold order cannot diverge.

    ``stop_when_stable=True``: exit early when a round leaves every
    10 dp-rounded rank unchanged. The rounded rank vector IS the
    whole iteration state, so a stable round is an exact fixpoint —
    further rounds reproduce it bit-for-bit, and early exit never
    changes the result vs a fixed-``iters`` oracle; it only skips
    provably-idempotent work. The check is an exact ``exceptAll``
    emptiness test on the rank vector, not a probabilistic digest."""
    nodes = materialize(
        edges.select(F.col("src").alias("node"))
        .union(edges.select(F.col("dst").alias("node")))
        .distinct()
    )
    n_nodes = nodes.count()
    if n_nodes == 0:
        return nodes.select(
            "node", F.lit(0.0).alias("rank")
        )  # empty graph → empty ranks, schema intact
    base = (1.0 - damping) / n_nodes
    ranks = nodes.select(
        "node", F.round(F.lit(1.0 / n_nodes), 10).alias("rank")
    )
    ow = out_weights(edges)
    contrib_edges = materialize(
        edges.join(ow, "src").select(
            "src", "dst", (F.col("w") / F.col("outw")).alias("share")
        )
    )
    if redistribute_dangling:
        # flag dangling nodes ONCE (the leaky variant never reads
        # this); the flag rides along in the rank vector so each
        # round's dangling sum is a filter + aggregate, not a join
        nodes = materialize(
            nodes.join(
                ow.select(F.col("src").alias("node"), F.lit(True).alias("dang")),
                "node",
                "left",
            ).select("node", F.col("dang").isNull().alias("dang"))
        )
        ranks = nodes.select(
            "node", "dang", F.round(F.lit(1.0 / n_nodes), 10).alias("rank")
        )
    for it in range(iters):
        contribs = (
            contrib_edges.join(
                ranks.select(F.col("node").alias("src"), "rank"), "src"
            )
            .groupBy("dst")
            .agg(F.sum(F.col("rank") * F.col("share")).alias("inflow"))
        )
        inflow_term = F.coalesce("inflow", F.lit(0.0))
        joined = nodes.join(contribs, nodes.node == contribs.dst, "left")
        carry = ["node"]
        if redistribute_dangling:
            dm = ranks.filter(F.col("dang")).agg(
                F.round(F.coalesce(F.sum("rank"), F.lit(0.0)), 10).alias("dm")
            )
            joined = joined.crossJoin(F.broadcast(dm))
            inflow_term = inflow_term + F.col("dm") / F.lit(n_nodes)
            carry = ["node", "dang"]
        new_ranks = materialize(
            joined.select(
                *carry,
                F.round(
                    F.lit(base) + F.lit(damping) * inflow_term,
                    10,
                ).alias("rank"),
            )
        )
        # the check is pointless after the final round (we return
        # new_ranks either way) and can't fire after round 0 on any
        # non-degenerate graph (uniform start → first update moves) —
        # only pay for it on middle rounds
        if (
            stop_when_stable
            and 1 <= it < iters - 1
            and new_ranks.exceptAll(ranks).isEmpty()
        ):
            return new_ranks.select("node", "rank")
        ranks = new_ranks
    return ranks.select("node", "rank")


def triangle_counts(edges: DataFrame) -> DataFrame:
    """Per-node triangle counts over an undirected graph given as
    canonical DISTINCT edges (u, v) with u < v. Degree-oriented
    counting (the standard scalable algorithm): re-orient every edge
    from its (degree, id)-smaller endpoint to the larger one, so
    every node's OUT-degree is O(√m) even at power-law hubs — the
    wedge join's fan-out is bounded where a naive neighbor join
    explodes on the hub. Each triangle {p,q,r} (ordered by that total
    order) appears as exactly one wedge p→q→r closed by p→r, so no
    deduplication pass is needed. Returns (node, n_triangles) for
    nodes in ≥1 triangle.

    The differential oracle uses a DIFFERENT algorithm (id-ordered
    3-way self-join) — agreement gates the orientation logic itself.

    The edge input is MATERIALIZED before anything references it:
    ``edges`` feeds the degree aggregate plus both sides of the degree
    join, and the oriented set ``e`` feeds three join legs (wedge x/y
    + closure z). Without the cut, a caller handing in an expensive
    pipeline (q150 feeds the q77 near-dup pairs) sees that WHOLE
    pipeline replayed per reference — the r7 plan audit measured 242
    exchanges with zero reuse for q150; with the two cuts the edge
    pipeline runs once and the triangle join runs over tiny
    checkpointed leaves (edge sets are small relative to the corpus
    they summarize — the same size argument as read_changes' keyed
    path). With a session checkpoint directory the cuts are durable
    (see ``operators.checkpointing``)."""
    edges = materialize(edges)
    deg = (
        edges.select(F.col("u").alias("node"))
        .unionAll(edges.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    e = (
        edges.join(deg.withColumnsRenamed({"node": "u", "deg": "du"}), "u")
        .join(deg.withColumnsRenamed({"node": "v", "deg": "dv"}), "v")
        .select(
            F.when(
                (F.col("du") < F.col("dv"))
                | ((F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))),
                F.struct(F.col("u").alias("a"), F.col("v").alias("b")),
            )
            .otherwise(F.struct(F.col("v").alias("a"), F.col("u").alias("b")))
            .alias("o")
        )
        .select("o.a", "o.b")
    )
    e = materialize(e)
    w = (
        e.alias("x")
        .join(e.alias("y"), F.col("x.b") == F.col("y.a"))
        .select(
            F.col("x.a").alias("p"), F.col("x.b").alias("q"), F.col("y.b").alias("r")
        )
    )
    # SHUFFLE_HASH, not sort-merge, for the closure probe: the wedge
    # table is the quadratic side (Σ d_out² rows) and an SMJ would
    # SORT it. Below the broadcast threshold AQE broadcasts the edge
    # set and the hint is moot; past it (the r12 sf10 spot: the edge
    # set outgrew 64 MB and the silent SMJ flip sorted ~10× the wedge
    # volume, 20× wall-time for 10× data) the hash join builds on the
    # edge PARTITIONS — per-partition memory, no sort of either side —
    # which is also the 100 TB plan: edges partition-resident, wedges
    # streamed.
    tri = w.join(
        e.alias("z").hint("shuffle_hash"),
        (F.col("p") == F.col("z.a")) & (F.col("r") == F.col("z.b")),
        "left_semi",
    )
    return (
        tri.select(F.explode(F.array("p", "q", "r")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("n_triangles"))
    )


def kcore_peel(
    edges: DataFrame,
    k: int = 2,
    rounds: int | None = None,
) -> DataFrame:
    """k-core peeling over an undirected edge list (u, v): repeatedly
    drop nodes with degree < ``k`` (each drop lowers neighbors'
    degrees, cascading) and return the surviving nodes with their
    in-core degree. ``rounds=None`` peels to the FIXPOINT (the true
    k-core); a fixed ``rounds`` runs exactly that many peels — the
    deterministic contract an SQL oracle can replay as unrolled CTEs
    (the q123/q126 precedent for iterative ops), with fixpoint
    equivalence asserted in pytest on the scoreboard's data.

    Scale shape per round: one degree aggregation (shuffle on node)
    and two semi-joins of the edge list against the (shrinking)
    survivor set; the edge frame re-materializes each round
    (checkpointing.materialize) so lineage stays flat — the same
    iterative-state pattern as PageRank/k-means. Rounds are bounded
    by the peeling depth, which is tiny on real graphs (the cascade
    usually settles in a handful of rounds)."""
    e = materialize(edges.select("u", "v"))
    # carried edge count (r13): the fixpoint probe compares |e2| to
    # |e|, and e was already counted when IT was the round's e2 —
    # re-counting the unchanged checkpoint was one redundant job/round
    e_cnt = e.count() if rounds is None else None
    i = 0
    while rounds is None or i < rounds:
        deg = (
            e.select(F.col("u").alias("node"))
            .unionAll(e.select(F.col("v").alias("node")))
            .groupBy("node")
            .agg(F.count(F.lit(1)).alias("d"))
        )
        keep = deg.filter(F.col("d") >= k).select("node")
        e2 = (
            e.join(keep.withColumnRenamed("node", "u"), "u", "left_semi")
            .join(keep.withColumnRenamed("node", "v"), "v", "left_semi")
            .select("u", "v")
        )
        e2 = materialize(e2)
        if rounds is None:
            e2_cnt = e2.count()
            if e2_cnt == e_cnt:
                e = e2
                break
            e_cnt = e2_cnt
        e = e2
        i += 1
    return (
        e.select(F.col("u").alias("node"))
        .unionAll(e.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("degree"))
        .filter(F.col("degree") >= k)
    )


def bfs_levels(
    edges: DataFrame,
    source: DataFrame,
    max_depth: int,
) -> DataFrame:
    """Breadth-first search levels from ``source`` nodes over an
    UNDIRECTED edge list (u, v): returns (node, level) where level is
    the minimum hop count ≤ ``max_depth`` (unreached nodes absent).

    Each round is frontier ⋈ edges → distinct → anti-join visited —
    shuffles keyed on node ids, frontier re-materialized per round so
    lineage stays flat (the pagerank/kcore pattern). BFS's frontier
    never revisits nodes, so per-round cost is bounded by the edge
    cut of the frontier, not the graph; ``max_depth`` is the fixed
    deterministic contract the unrolled oracles need (the q163
    precedent — production callers can raise it to the graph
    diameter)."""
    sym = edges.select("u", "v").unionByName(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    sym = materialize(sym)
    visited = materialize(
        source.select(F.col("node")).distinct().withColumn(
            "level", F.lit(0).cast("long")
        )
    )
    frontier = visited.select("node")
    for depth in range(1, max_depth + 1):
        nxt = (
            frontier.join(sym, frontier["node"] == sym["u"])
            .select(F.col("v").alias("node"))
            .distinct()
            .join(visited.select("node"), "node", "left_anti")
            .withColumn("level", F.lit(depth).cast("long"))
        )
        nxt = materialize(nxt)
        visited = materialize(visited.unionByName(nxt))
        frontier = nxt.select("node")
    return visited


def personalized_pagerank(
    edges: DataFrame,
    seeds: DataFrame,
    iters: int = 3,
    damping: float = 0.85,
) -> DataFrame:
    """(node, rank): personalized PageRank — the teleport vector
    concentrates on ``seeds`` (one column ``node``) instead of the
    uniform vector, so rank measures proximity TO THE SEED SET: the
    similar-items / related-entities primitive (Jeh & Widom 2003's
    PPR formulation). r_{t+1}(v) = (1−d)·1[v∈S]/|S| + d·inflow(v),
    started from the seed-uniform vector; leaky on dangling nodes
    like the base ranker's default (identical in the oracle).

    Scale shape mirrors ``pagerank``: the seed flag is joined ONCE
    into the node table (never per round), each round is one
    rank⋈edges equi-join plus a grouped sum, ranks round to 10 dp and
    re-materialize per round (flat lineage), nothing collects to the
    driver. Seeds outside the graph are ignored (inner join); an
    empty effective seed set raises ValueError — the teleport vector
    would be all-zero."""
    nodes = materialize(
        edges.select(F.col("src").alias("node"))
        .union(edges.select(F.col("dst").alias("node")))
        .distinct()
    )
    flagged = materialize(
        nodes.join(
            seeds.select("node").distinct().withColumn("s", F.lit(True)),
            "node",
            "left",
        ).select("node", F.coalesce("s", F.lit(False)).alias("is_seed"))
    )
    n_seeds = flagged.filter(F.col("is_seed")).count()
    if n_seeds == 0:
        raise ValueError("personalized_pagerank: no seed is in the graph")
    teleport = F.when(
        F.col("is_seed"), F.lit((1.0 - damping) / n_seeds)
    ).otherwise(F.lit(0.0))
    ranks = flagged.select(
        "node",
        "is_seed",
        F.round(
            F.when(F.col("is_seed"), F.lit(1.0 / n_seeds)).otherwise(
                F.lit(0.0)
            ),
            10,
        ).alias("rank"),
    )
    ow = out_weights(edges)
    contrib_edges = materialize(
        edges.join(ow, "src").select(
            "src", "dst", (F.col("w") / F.col("outw")).alias("share")
        )
    )
    for _ in range(iters):
        contribs = (
            contrib_edges.join(
                ranks.select(F.col("node").alias("src"), "rank"), "src"
            )
            .groupBy("dst")
            .agg(F.sum(F.col("rank") * F.col("share")).alias("inflow"))
        )
        ranks = materialize(
            flagged.join(contribs, flagged.node == contribs.dst, "left")
            .select(
                "node",
                "is_seed",
                F.round(
                    teleport
                    + F.lit(damping)
                    * F.coalesce("inflow", F.lit(0.0)),
                    10,
                ).alias("rank"),
            )
        )
    return ranks.select("node", "rank")
