"""Steiner tree, 2-approximation (reference ``gds.steinerTree`` —
SURVEY.md §2.D Path family; Mehlhorn, Inf. Proc. Letters 1988).

The reference runs a sequential shortest-path-heuristic; Mehlhorn's
variant is the BSP-native equivalent with the same 2·OPT guarantee and is
built entirely from this engine's existing primitives:

1. **Voronoi labelling** — ONE multi-source weighted relax from all
   terminals at once over the symmetrized edges, state (vid, dist, term):
   every node learns its nearest terminal (ties → smallest terminal vid,
   deterministic) and the distance to it. Same (src,vid)-pair-free cost
   class as `sssp`; reuses EdgePlan's salted gather.
2. **Closure graph** — every edge (u,v,w) with term(u) ≠ term(v) proposes
   the terminal pair (t_u, t_v) at cost d(u)+w+d(v); min per pair (with
   the witness edge kept by `min(struct(...))`). Mehlhorn's theorem: the
   MST of THIS graph equals the MST of the full metric closure in cost.
3. **MST of the closure** — delegated to Borůvka
   (:func:`.spanning.minimum_spanning_forest`).
4. **Expansion** — each chosen closure edge unfolds into
   path(u → t_u) + (u,v) + path(v → t_v) by walking the Voronoi
   predecessor function (computed as a deterministic POST-PASS argmin,
   same rule as dijkstra's path reconstruction: pred(v) = min u with
   dist(u) + w(u,v) = dist(v) and term(u) = term(v)).
5. **Cleanup** — MST of the expanded union (drops cycles formed by
   overlapping paths) + iterative pruning of non-terminal leaves.

Total: one relax loop, one pred post-pass join, ≤ log n Borůvka phases
twice, and a ≤ depth pred-walk loop — every stage a join/groupBy over
edge-sized tables; no per-path Python, no collects beyond scalar counts.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from graph_data_science_spark.plans.messaging import EdgePlan
from graph_data_science_spark.plans.pregel import run_pregel
from graph_data_science_spark.projection import ProjectedGraph, undirect_edges

_INF = float("inf")


@dataclass
class SteinerResult:
    edges: DataFrame  # (src, dst, weight) tree edges, src < dst (vid space)
    total_weight: float
    terminal_count: int
    metrics: list[dict] = field(default_factory=list)


def _voronoi(
    sym_edges: DataFrame, nodes: DataFrame, terminals: DataFrame, max_iterations: int
) -> tuple[DataFrame, EdgePlan]:
    """Multi-source labelled relax → settled (vid, dist, term) rows
    (term = nearest terminal, min-vid tie-break). Terminals are pinned to
    (0, self) every step so zero-weight ties cannot relabel them."""
    plan = EdgePlan(sym_edges)
    init = (
        nodes.select("vid")
        .join(terminals.withColumn("_t", F.lit(1)), "vid", "left")
        .select(
            "vid",
            F.col("_t").isNotNull().alias("is_t"),
            F.when(F.col("_t").isNotNull(), F.lit(0.0)).otherwise(F.lit(_INF)).alias("dist"),
            F.when(F.col("_t").isNotNull(), F.col("vid")).otherwise(F.lit(-1)).alias("term"),
            F.when(F.col("_t").isNotNull(), F.lit(1)).otherwise(F.lit(0)).alias("changed"),
        )
    )

    def step(state: DataFrame, i: int) -> DataFrame:
        frontier = state.filter(F.col("changed") == 1).select("vid", "dist", "term")
        msgs = plan.messages(
            frontier,
            {"m": F.struct((F.col("dist") + F.col("weight")).alias("d"), F.col("term").alias("t"))},
            {"m": F.min("m")},
        )
        cur = F.struct(F.col("dist").alias("d"), F.col("term").alias("t"))
        best = F.when(F.col("is_t"), cur).otherwise(
            F.least(cur, F.coalesce(F.col("m"), cur))
        )
        return (
            state.join(msgs, "vid", "left")
            .withColumn("_b", best)
            .select(
                "vid",
                "is_t",
                F.col("_b.d").alias("dist"),
                F.col("_b.t").alias("term"),
                # strict (d, t) decrease — a term-only relabel at equal
                # dist must keep propagating for deterministic Voronoi
                (
                    F.struct(F.col("_b.d"), F.col("_b.t"))
                    < F.struct(F.col("dist"), F.col("term"))
                ).cast("int").alias("changed"),
            )
        )

    res = run_pregel(
        init,
        step,
        max_iterations=max_iterations,
        metrics={"changed": F.coalesce(F.sum("changed"), F.lit(0))},
        stop_fn=lambda m, i: m["changed"] == 0,
    )
    settled = res.state.filter(F.col("dist") < _INF).select("vid", "dist", "term", "is_t")
    return settled, plan


def steiner_tree(
    graph: ProjectedGraph,
    source_node,
    target_nodes,
    max_iterations: int = 1000,
    prune_rounds: int = 50,
) -> SteinerResult:
    """2-approx Steiner tree connecting ``{source_node} ∪ target_nodes``
    (original node ids) on the symmetrized weighted graph.
    → tree edges in vid space (src < dst) + total weight."""
    term_ids = sorted({source_node, *target_nodes})
    spark = graph.nodes.sparkSession
    tdf = spark.createDataFrame([(t,) for t in term_ids], ["orig_id"])
    terminals = (
        graph.nodes.join(F.broadcast(tdf), "orig_id").select("vid")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    n_term = terminals.count()
    sym = (
        graph.edges
        if graph.orientation == "UNDIRECTED"
        else undirect_edges(graph.edges)
    )
    sym = (
        sym.filter(F.col("src") != F.col("dst"))
        .groupBy("src", "dst")
        .agg(F.min("weight").alias("weight"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    sym.count()

    settled, plan = _voronoi(sym, graph.nodes, terminals, max_iterations)
    settled = settled.persist(StorageLevel.MEMORY_AND_DISK)
    settled.count()

    s_u = settled.select(
        F.col("vid").alias("src"), F.col("dist").alias("d_u"), F.col("term").alias("t_u")
    )
    s_v = settled.select(
        F.col("vid").alias("dst"), F.col("dist").alias("d_v"), F.col("term").alias("t_v")
    )

    # Deterministic predecessor post-pass (same argmin rule as dijkstra's
    # path reconstruction — pred captured during relaxation is not
    # arrival-order stable, the post-pass is):
    preds = (
        sym.join(s_u, "src")
        .join(s_v, "dst")
        .filter(
            (F.col("d_u") + F.col("weight") == F.col("d_v"))
            & (F.col("t_u") == F.col("t_v"))
        )
        .groupBy("dst")
        .agg(F.min("src").alias("pvid"))
    )
    # weight of the pred edge = the exact (pvid, dst) edge weight
    preds = (
        preds.select("dst", "pvid")
        .join(
            sym.select(
                F.col("src").alias("pvid"), F.col("dst"), F.col("weight").alias("w")
            ),
            ["pvid", "dst"],
        )
        .join(settled.filter(~F.col("is_t")).select(F.col("vid").alias("dst")), "dst")
        .select(F.col("dst").alias("vid"), "pvid", "w")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    preds.count()

    # Closure graph over terminal pairs, with witness edge per pair.
    cand = (
        sym.join(s_u, "src")
        .join(s_v, "dst")
        .filter(F.col("t_u") != F.col("t_v"))
        .select(
            F.least("t_u", "t_v").alias("lo"),
            F.greatest("t_u", "t_v").alias("hi"),
            (F.col("d_u") + F.col("weight") + F.col("d_v")).alias("cost"),
            "src",
            "dst",
            "weight",
        )
    )
    closure = (
        cand.groupBy("lo", "hi")
        .agg(F.min(F.struct("cost", "src", "dst", "weight")).alias("m"))
        .select(
            "lo",
            "hi",
            F.col("m.cost").alias("cost"),
            F.col("m.src").alias("wu"),
            F.col("m.dst").alias("wv"),
            F.col("m.weight").alias("ww"),
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    if closure.limit(1).count() == 0:
        # terminals already share one Voronoi cell (≤1 terminal reachable)
        for df in (terminals, sym, settled, preds, closure):
            df.unpersist()
        plan.unpersist()
        empty = spark.createDataFrame([], "src long, dst long, weight double")
        return SteinerResult(empty, 0.0, n_term)

    from graph_data_science_spark.algorithms.spanning import minimum_spanning_forest

    closure_pg = ProjectedGraph(
        name="_steiner_closure",
        nodes=terminals.select(F.col("vid").alias("orig_id"), "vid"),
        edges=closure.select(
            F.col("lo").alias("src"), F.col("hi").alias("dst"), F.col("cost").alias("weight")
        ),
        orientation="UNDIRECTED",
        aggregation="min",
        weighted=True,
        node_count=n_term,
        edge_count=0,
    )
    msf = minimum_spanning_forest(closure_pg)
    chosen = msf.edges.select(F.col("src").alias("lo"), F.col("dst").alias("hi"))
    witnesses = chosen.join(closure, ["lo", "hi"]).persist(StorageLevel.MEMORY_AND_DISK)
    witnesses.count()

    # Expand: witness direct edges + pred-walks from both endpoints.
    canon = lambda a, b, w: F.struct(  # noqa: E731
        F.least(a, b).alias("src"), F.greatest(a, b).alias("dst"), w.alias("weight")
    )
    acc = witnesses.select(canon(F.col("wu"), F.col("wv"), F.col("ww")).alias("e")).select(
        "e.src", "e.dst", "e.weight"
    )
    active = (
        witnesses.select(F.col("wu").alias("vid"))
        .unionByName(witnesses.select(F.col("wv").alias("vid")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    hops = 0
    while hops < max_iterations:
        stepe = active.join(preds, "vid")
        if stepe.limit(1).count() == 0:
            break
        acc = acc.unionByName(
            stepe.select(canon(F.col("pvid"), F.col("vid"), F.col("w")).alias("e")).select(
                "e.src", "e.dst", "e.weight"
            )
        )
        active = stepe.select(F.col("pvid").alias("vid")).distinct().localCheckpoint(eager=True)
        hops += 1

    union_edges = (
        acc.groupBy("src", "dst").agg(F.min("weight").alias("weight"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    union_nodes = (
        union_edges.select(F.col("src").alias("vid"))
        .unionByName(union_edges.select(F.col("dst").alias("vid")))
        .distinct()
    )
    n_union, m_union = union_nodes.count(), union_edges.count()
    if m_union == n_union - 1:
        # |E| = |V|−1 and the union of expanded paths is connected (every
        # path meets the closure MST at terminals) → already a tree, and
        # every leaf is a terminal by construction: skip the cycle-drop
        # MST and the prune loop entirely (the common case — overlapping
        # Voronoi paths are what create cycles, and they usually don't).
        tree = union_edges.localCheckpoint(eager=True)
    else:
        union_pg = ProjectedGraph(
            name="_steiner_union",
            nodes=union_nodes.select(F.col("vid").alias("orig_id"), "vid"),
            edges=union_edges,
            orientation="UNDIRECTED",
            aggregation="min",
            weighted=True,
            node_count=n_union,
            edge_count=0,
        )
        tree = minimum_spanning_forest(union_pg).edges.localCheckpoint(eager=True)

    # Prune non-terminal leaves (they can appear after the cycle-dropping
    # MST disconnects an overlapping path segment; the fast path above
    # cannot create them — all its leaves are terminals).
    is_term = terminals.select("vid", F.lit(1).alias("_t"))
    for _ in range(0 if m_union == n_union - 1 else prune_rounds):
        deg = (
            tree.select(F.col("src").alias("vid"))
            .unionByName(tree.select(F.col("dst").alias("vid")))
            .groupBy("vid")
            .agg(F.count(F.lit(1)).alias("deg"))
        )
        leaves = (
            deg.filter(F.col("deg") == 1)
            .join(is_term, "vid", "left_anti")
            .select("vid")
        )
        if leaves.limit(1).count() == 0:
            break
        nxt = (
            tree.join(leaves.withColumnRenamed("vid", "src"), "src", "left_anti")
            .join(leaves.withColumnRenamed("vid", "dst"), "dst", "left_anti")
            .select("src", "dst", "weight")
            .localCheckpoint(eager=True)
        )
        tree = nxt

    total = float(tree.agg(F.sum("weight")).collect()[0][0] or 0.0)
    result = tree.select("src", "dst", "weight").localCheckpoint(eager=True)
    for df in (terminals, sym, settled, preds, closure, witnesses, union_edges):
        df.unpersist()
    plan.unpersist()
    return SteinerResult(
        edges=result,
        total_weight=total,
        terminal_count=n_term,
        metrics=[{"expand_hops": hops}],
    )
