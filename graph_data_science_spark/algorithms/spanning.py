"""Minimum spanning forest (reference ``gds.spanningTree`` /
``gds.kSpanningTree`` base — SURVEY.md §2.D Path family) via Borůvka,
the parallel-native MST algorithm (the reference runs Prim from a source,
which is inherently sequential; Borůvka is what a BSP engine should run
and produces the same forest when weights are distinct):

Each phase, every component selects its minimum outgoing edge
(deterministic lexicographic (weight, src, dst) tie-break — makes the
forest unique even with duplicate weights), the chosen edges merge
components, repeat. Components at least halve per phase → ≤ ⌈log₂ n⌉
phases, each one join + one min-reduce over the live edge set.

Component merging reuses the engine's WCC (two-phase star contraction)
on the tiny chosen-edge graph — the same hardened primitive, not a
re-implementation.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from graph_data_science_spark.plans.pregel import observed_checkpoint, release_checkpoint
from graph_data_science_spark.projection import ProjectedGraph, undirect_edges


@dataclass
class SpanningForestResult:
    edges: DataFrame  # (src, dst, weight) — chosen tree edges (undirected canon)
    total_weight: float
    phases: int


def minimum_spanning_forest(graph: ProjectedGraph) -> SpanningForestResult:
    """→ the minimum spanning forest of the symmetrized graph."""
    from graph_data_science_spark.algorithms.wcc import wcc
    from graph_data_science_spark.projection import ProjectedGraph as PG

    sym = (
        graph.edges
        if graph.orientation == "UNDIRECTED"
        else undirect_edges(graph.edges)
    )
    # canonical undirected edge (lo, hi, weight), min weight per pair
    edges = (
        sym.filter(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("lo"),
            F.greatest("src", "dst").alias("hi"),
            "weight",
        )
        .groupBy("lo", "hi")
        .agg(F.min("weight").alias("weight"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    edges.count()
    comp = graph.nodes.select("vid", F.col("vid").alias("comp")).localCheckpoint(
        eager=True
    )
    chosen = graph.nodes.sparkSession.createDataFrame(
        [], "lo long, hi long, weight double"
    ).localCheckpoint(eager=True)
    phases = 0
    while True:
        phases += 1
        cl = comp.select(F.col("vid").alias("lo"), F.col("comp").alias("c_lo"))
        ch = comp.select(F.col("vid").alias("hi"), F.col("comp").alias("c_hi"))
        live = (
            edges.join(cl, "lo")
            .join(ch, "hi")
            .filter(F.col("c_lo") != F.col("c_hi"))
        )
        # min outgoing edge per component, from both endpoints' views
        picks, m = observed_checkpoint(
            live.select(F.col("c_lo").alias("c"), "weight", "lo", "hi")
            .unionByName(live.select(F.col("c_hi").alias("c"), "weight", "lo", "hi"))
            .groupBy("c")
            .agg(F.min(F.struct("weight", "lo", "hi")).alias("m"))
            .select(
                F.col("m.lo").alias("lo"),
                F.col("m.hi").alias("hi"),
                F.col("m.weight").alias("weight"),
            )
            .distinct(),
            {"rows": F.count(F.lit(1))},
        )
        if m["rows"] == 0:
            release_checkpoint(picks)
            break
        # merge components: WCC over the component graph induced by picks
        merge_edges = (
            picks.join(cl, "lo")
            .join(ch, "hi")
            .select(
                F.col("c_lo").alias("src"),
                F.col("c_hi").alias("dst"),
                F.lit(1.0).alias("weight"),
            )
        )
        comp_nodes = comp.select(F.col("comp").alias("vid")).distinct()
        mg = PG(
            name="_msf_merge",
            nodes=comp_nodes.select(F.col("vid").alias("orig_id"), "vid"),
            edges=merge_edges,
            orientation="NATURAL",
            aggregation="sum",
            weighted=False,
            node_count=comp_nodes.count(),
            edge_count=0,
        )
        merged = wcc(mg).components  # (vid = old comp, component = new comp)
        new_comp = (
            comp.join(
                merged.select(F.col("vid").alias("comp"), "component"), "comp"
            )
            .select("vid", F.col("component").alias("comp"))
            .localCheckpoint(eager=True)
        )
        # no edge is picked twice: its phase merges its endpoints' components
        new_chosen = chosen.unionByName(picks).localCheckpoint(eager=True)
        for df in (comp, chosen, picks):
            release_checkpoint(df)
        comp, chosen = new_comp, new_chosen
    release_checkpoint(comp)
    edges.unpersist()
    total = chosen.agg(F.sum("weight")).collect()[0][0]
    out = chosen.select(
        F.col("lo").alias("src"), F.col("hi").alias("dst"), "weight"
    )
    return SpanningForestResult(
        edges=out, total_weight=float(total or 0.0), phases=phases
    )


def k_spanning_tree(
    graph: ProjectedGraph, k: int, objective: str = "min"
) -> SpanningForestResult:
    """K-Spanning tree (reference ``gds.kSpanningTree`` with kmin/kmax
    objective): trim the minimum spanning forest down to ``k`` nodes by
    repeatedly removing one leaf edge at a time — the most expensive leaf
    edge for ``objective="min"`` (cheapest tree of k nodes), the cheapest
    for ``objective="max"`` — with a deterministic (weight, src, dst)
    tie-break (the reference trims from an RNG-seeded Prim run; our
    determinism is the engine-wide parity/resume contract).

    Each trim is one degree aggregation + one global argmax over the
    current leaf edges — a driver-paced point loop like Yen's, O(n − k)
    rounds; the bulk MSF underneath is the distributed Borůvka."""
    if objective not in ("min", "max"):
        raise ValueError(f"objective must be min or max, got {objective!r}")
    msf = minimum_spanning_forest(graph)
    tree = msf.edges.localCheckpoint(eager=True)
    n_nodes = (
        tree.select(F.col("src").alias("vid"))
        .unionByName(tree.select(F.col("dst").alias("vid")))
        .distinct()
        .count()
    )
    trims = max(0, n_nodes - k)
    order = (
        [F.col("weight").desc(), F.col("src").asc(), F.col("dst").asc()]
        if objective == "min"
        else [F.col("weight").asc(), F.col("src").asc(), F.col("dst").asc()]
    )
    for _ in range(trims):
        deg = (
            tree.select(F.col("src").alias("vid"))
            .unionByName(tree.select(F.col("dst").alias("vid")))
            .groupBy("vid")
            .agg(F.count(F.lit(1)).alias("deg"))
        )
        leaves = deg.filter(F.col("deg") == 1).select("vid")
        leaf_edges = tree.join(
            leaves.withColumnRenamed("vid", "src"), "src", "semi"
        ).unionByName(
            tree.join(leaves.withColumnRenamed("vid", "dst"), "dst", "semi")
            .select("src", "dst", "weight")
        ).distinct()
        pick = leaf_edges.orderBy(*order).limit(1).collect()
        if not pick:
            break
        p = pick[0]
        trimmed = tree.filter(
            ~((F.col("src") == p["src"]) & (F.col("dst") == p["dst"]))
        ).localCheckpoint(eager=True)
        release_checkpoint(tree)
        tree = trimmed
    total = tree.agg(F.sum("weight")).collect()[0][0]
    return SpanningForestResult(
        edges=tree, total_weight=float(total or 0.0), phases=msf.phases
    )
