"""Bridge detection (reference ``gds.bridges`` — production tier):
edges whose removal disconnects their component.

The reference runs Tarjan's DFS low-link — inherently sequential. The
BSP-native equivalent uses the ANY-spanning-tree covering theorem, which
(unlike DFS low-link) is valid for BFS trees too:

    a tree edge is a bridge  ⇔  no non-tree edge's endpoints' tree path
    crosses it; and every non-tree edge lies on a cycle, so only tree
    edges can be bridges.

Plan (all joins/groupBys, rounds bounded by tree depth ≈ graph diameter
— the same bound every BFS in this engine has):

1. root every component at its min vid; ONE multi-source BFS (hop
   distances, ``plans.pregel.expand_levels``), parents by the
   deterministic min-pred post-pass;
2. non-tree edges = canonical symmetrized pairs minus parent-child
   pairs;
3. covering walk: each non-tree edge walks its two endpoints up the
   tree in lock-step (the deeper side lifts; equal depths lift both),
   emitting every traversed tree edge, until the walkers meet at the
   LCA — O(depth) rounds, each one join against the broadcast-sized
   parent map, state = one row per still-walking non-tree edge side;
4. bridges = tree edges never emitted.

Parallel edges are already collapsed by projection aggregation, so the
result is bridge-ness of the SIMPLE graph (GDS semantics on a multigraph
differ only for exact duplicate pairs, which it also collapses).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from graph_data_science_spark.plans.pregel import expand_levels, observed_checkpoint, release_checkpoint
from graph_data_science_spark.projection import ProjectedGraph, undirect_edges


@dataclass
class BridgesResult:
    bridges: DataFrame  # (src, dst) canonical src < dst, vid space
    tree_edges: int
    rounds: int
    # internals shared with articulation_points (tree edges; covering
    # pairs (ea, eb, src, dst) — non-tree edge (ea,eb) covers tree (src,dst))
    _tree: DataFrame | None = None
    _covered: DataFrame | None = None


def bridges(graph: ProjectedGraph, max_iterations: int = 1000) -> BridgesResult:
    from graph_data_science_spark.algorithms.wcc import wcc

    sym = (
        graph.edges
        if graph.orientation == "UNDIRECTED"
        else undirect_edges(graph.edges)
    )
    adj = (
        sym.select("src", "dst").filter(F.col("src") != F.col("dst")).distinct()
    ).persist(StorageLevel.MEMORY_AND_DISK)
    adj.count()

    comps = wcc(graph).components  # (vid, component) — component = min vid

    # multi-source BFS from every component root over the symmetrized adj
    depth, rounds = expand_levels(
        comps.select(F.col("component").alias("vid")).distinct(),
        lambda frontier: frontier.join(adj, frontier["vid"] == adj["src"]).select(
            F.col("dst").alias("vid")
        ),
        max_iterations,
    )
    d_u = depth.select(F.col("vid").alias("src"), F.col("level").alias("du"))
    d_v = depth.select(F.col("vid").alias("dst"), F.col("level").alias("dv"))
    # deterministic parent: min neighbor one level up
    parent = (
        adj.join(d_u, "src")
        .join(d_v, "dst")
        .filter(F.col("du") + 1 == F.col("dv"))
        .groupBy(F.col("dst").alias("vid"))
        .agg(F.min("src").alias("parent"))
        .join(d_v.select(F.col("dst").alias("vid"), F.col("dv").alias("depth")), "vid")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    parent.count()
    tree = parent.select(
        F.least("vid", "parent").alias("src"), F.greatest("vid", "parent").alias("dst")
    )

    pairs = adj.filter(F.col("src") < F.col("dst"))
    nontree = pairs.join(tree, ["src", "dst"], "left_anti")

    # covering walk: (eid=(a0,b0), wa, da, wb, db); lift deeper walker(s)
    walking = {"rows": F.count(F.lit(1))}
    walk, m = observed_checkpoint(
        nontree.join(d_u.select(F.col("src"), F.col("du").alias("da")), "src")
        .join(d_v.select(F.col("dst"), F.col("dv").alias("db")), "dst")
        .select(
            F.col("src").alias("ea"),
            F.col("dst").alias("eb"),
            F.col("src").alias("wa"),
            "da",
            F.col("dst").alias("wb"),
            "db",
        )
        .filter(F.col("wa") != F.col("wb")),
        walking,
    )
    # Per-hop increments are collected and union+distinct'ed ONCE after the
    # loop — re-distincting the full accumulated cover set every hop was
    # O(hops × |covered|) total shuffle, quadratic in tree depth. Each
    # increment is checkpointed (so its parent `stepped` can be released)
    # and holds only that hop's emissions.
    cov_parts: list[DataFrame] = []
    pmap_a = parent.select(F.col("vid").alias("wa"), F.col("parent").alias("pa"))
    pmap_b = parent.select(F.col("vid").alias("wb"), F.col("parent").alias("pb"))
    hops = 0
    while m["rows"] and hops < max_iterations:
        lift_a = F.col("da") >= F.col("db")
        lift_b = F.col("db") >= F.col("da")
        # ca/cb read the pre-lift wa/wb: a name in a select resolves to
        # its input's column before any alias made in the same select
        stepped = (
            walk.join(pmap_a, "wa", "left")
            .join(pmap_b, "wb", "left")
            .select(
                "ea",
                "eb",
                F.when(lift_a, F.col("pa")).otherwise(F.col("wa")).alias("wa"),
                F.when(lift_a, F.col("da") - 1).otherwise(F.col("da")).alias("da"),
                F.when(lift_b, F.col("pb")).otherwise(F.col("wb")).alias("wb"),
                F.when(lift_b, F.col("db") - 1).otherwise(F.col("db")).alias("db"),
                F.when(lift_a, F.struct(F.least("wa", "pa").alias("src"), F.greatest("wa", "pa").alias("dst"))).alias("ca"),
                F.when(lift_b, F.struct(F.least("wb", "pb").alias("src"), F.greatest("wb", "pb").alias("dst"))).alias("cb"),
            )
            .localCheckpoint(eager=True)
        )
        step_cov = (
            stepped.select("ea", "eb", F.explode(F.array("ca", "cb")).alias("e"))
            .filter(F.col("e").isNotNull())
            .select("ea", "eb", "e.src", "e.dst")
            .distinct()
            .localCheckpoint(eager=True)
        )
        cov_parts.append(step_cov)
        new_walk, m = observed_checkpoint(
            stepped.drop("ca", "cb").filter(F.col("wa") != F.col("wb")), walking
        )
        release_checkpoint(stepped)
        release_checkpoint(walk)
        walk = new_walk
        hops += 1
    release_checkpoint(walk)

    covered = None
    if cov_parts:
        covered = cov_parts[0]
        for part in cov_parts[1:]:
            covered = covered.unionByName(part)
        covered = covered.distinct().localCheckpoint(eager=True)
        for part in cov_parts:
            release_checkpoint(part)

    out = (
        tree.join(covered.select("src", "dst").distinct(), ["src", "dst"], "left_anti")
        if covered is not None
        else tree
    )
    n_tree = tree.count()
    adj.unpersist()
    parent.unpersist()
    return BridgesResult(
        bridges=out, tree_edges=n_tree, rounds=rounds, _tree=tree, _covered=covered
    )


@dataclass
class ArticulationPointsResult:
    points: DataFrame  # (vid) — articulation points
    blocks: DataFrame  # (src, dst, block) — canonical edge → block label


def articulation_points(graph: ProjectedGraph, max_iterations: int = 1000) -> ArticulationPointsResult:
    """Articulation points (reference ``gds.articulationPoints``) —
    vertices whose removal disconnects their component.

    DFS low-link is invalid over a BFS tree (cross edges break it), so
    this uses the tree-independent BLOCK characterization instead:

    - every non-tree edge's fundamental cycle ties the edges it covers
      into one biconnected component, so blocks = connected components of
      the edge-graph whose links are the covering pairs the bridge walk
      already emits (each non-tree edge linked to every tree edge of its
      cycle; bridges stay singleton blocks);
    - components of the edge-graph via the engine's WCC (the hardened
      star-contraction primitive — no new fixpoint code);
    - a vertex is an articulation point iff its incident edges span ≥ 2
      distinct blocks (the classic block-cut-tree fact, valid for any
      root, no special cases).
    """
    from graph_data_science_spark.algorithms.wcc import wcc as _wcc
    from graph_data_science_spark.projection import ProjectedGraph as PG

    res = bridges(graph, max_iterations=max_iterations)
    tree, covered = res._tree, res._covered
    n = max(graph.node_count, 1)
    eid = lambda s, d: F.col(s) * F.lit(n) + F.col(d)  # noqa: E731

    all_edges = tree.select("src", "dst")
    if covered is not None:
        all_edges = all_edges.unionByName(
            covered.select(
                F.least("ea", "eb").alias("src"), F.greatest("ea", "eb").alias("dst")
            )
        ).distinct()
    enodes = all_edges.select(eid("src", "dst").alias("vid"), "src", "dst")
    enodes = enodes.localCheckpoint(eager=True)

    if covered is not None:
        links = covered.select(
            (F.least("ea", "eb") * n + F.greatest("ea", "eb")).alias("src"),
            eid("src", "dst").alias("dst"),
            F.lit(1.0).alias("weight"),
        )
    else:
        links = graph.nodes.sparkSession.createDataFrame(
            [], "src long, dst long, weight double"
        )
    eg = PG(
        name="_blocks",
        nodes=enodes.select(F.col("vid").alias("orig_id"), "vid"),
        edges=links,
        orientation="NATURAL",
        aggregation="min",
        weighted=False,
        node_count=enodes.count(),
        edge_count=0,
    )
    blocks = _wcc(eg).components  # (vid = edge id, component = block label)
    eblocks = enodes.join(blocks, "vid").select("src", "dst", F.col("component").alias("block"))

    incident = eblocks.select(F.col("src").alias("vid"), "block").unionByName(
        eblocks.select(F.col("dst").alias("vid"), "block")
    )
    pts = (
        incident.distinct()
        .groupBy("vid")
        .agg(F.count(F.lit(1)).alias("nb"))
        .filter(F.col("nb") >= 2)
        .select("vid")
    )
    return ArticulationPointsResult(points=pts, blocks=eblocks)
