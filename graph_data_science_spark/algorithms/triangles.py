"""Triangle count + local clustering coefficient (UNDIRECTED graphs only).

Reference semantics (SURVEY.md §2.C.5): per-node and global triangle
counts by sorted-adjacency intersection; requires an UNDIRECTED
projection (validated, as GDS does); self-loops never close a triangle;
``max_degree`` excludes super-hubs (excluded nodes report -1, the GDS
convention). Global count = Σ per-node / 3 = #distinct triangles.

Spark plan — the classic degree-ordered wedge join, which bounds wedge
fan-out by arboricity instead of max degree (essential under power laws):

1. orient each undirected edge from lower to higher (degree, vid) rank —
   every triangle {a,b,c} now has exactly one "apex" (its min-rank corner)
   and is generated exactly once;
2. wedges: self-join oriented edges on the apex, keeping rank(b) < rank(c);
3. close: semi-style inner join of wedges against oriented edges on (b,c);
4. per-corner counts: explode each triangle to its 3 corners, groupBy-count,
   left-join the full vertex set for zeros.

Three shuffles total, all on edge keys; no iteration, no Python.

The one action, the global ``count``, is planned statically
(``plans.pregel.static_planning``): its inputs are persisted relations
whose sizes the planner knows exactly, so adaptive re-planning at every
stage only adds jobs (traced on a 40k-edge transcript graph: 5 jobs and
about 2 s static against 15 jobs and 4–6.5 s under AQE). WCC star rounds make the
opposite choice because their size estimates grow every round (wcc.py).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graph_data_science_spark.plans.pregel import static_planning
from graph_data_science_spark.projection import ProjectedGraph


@dataclass
class TriangleCountResult:
    per_node: DataFrame  # (vid, triangles)
    triangles: DataFrame  # (a, b, c) distinct triangles (vid space)
    global_count: int


def _oriented_edges(graph: ProjectedGraph, max_degree: int | None) -> tuple[DataFrame, DataFrame]:
    """Unique undirected edges oriented low-rank → high-rank, with ranks.

    Returns (oriented, degrees). rank(v) = (degree(v), vid) lexicographic.
    """
    if graph.orientation != "UNDIRECTED":
        raise ValueError(
            "triangle count requires an UNDIRECTED projection "
            f"(got {graph.orientation}); use graph.to_undirected()"
        )
    edges = graph.edges.select("src", "dst").filter(F.col("src") != F.col("dst"))
    deg = edges.groupBy(F.col("src").alias("vid")).agg(F.count(F.lit(1)).alias("deg"))
    excluded = None
    if max_degree is not None:
        excluded = deg.filter(F.col("deg") > max_degree).select("vid")
        edges = edges.join(
            excluded.withColumnRenamed("vid", "src"), "src", "left_anti"
        ).join(excluded.withColumnRenamed("vid", "dst"), "dst", "left_anti")

    sdeg = deg.select(F.col("vid").alias("src"), F.col("deg").alias("sdeg"))
    ddeg = deg.select(F.col("vid").alias("dst"), F.col("deg").alias("ddeg"))
    ranked = edges.join(sdeg, "src").join(ddeg, "dst")
    lower_first = (F.col("sdeg") < F.col("ddeg")) | (
        (F.col("sdeg") == F.col("ddeg")) & (F.col("src") < F.col("dst"))
    )
    # The undirected edge set holds both directions; exactly one passes.
    oriented = ranked.filter(lower_first).select(
        F.col("src").alias("a"),
        F.col("dst").alias("b"),
        F.col("ddeg").alias("bdeg"),
    )
    return oriented, deg


def triangle_count(graph: ProjectedGraph, max_degree: int | None = None) -> TriangleCountResult:
    oriented, deg = _oriented_edges(graph, max_degree)
    e1 = oriented.select(F.col("a"), F.col("b"), F.col("bdeg"))
    e2 = oriented.select(
        F.col("a"), F.col("b").alias("c"), F.col("bdeg").alias("cdeg")
    )
    wedges = e1.join(e2, "a").filter(
        (F.col("bdeg") < F.col("cdeg"))
        | ((F.col("bdeg") == F.col("cdeg")) & (F.col("b") < F.col("c")))
    )
    closing = oriented.select(F.col("a").alias("b"), F.col("b").alias("c"))
    tris = wedges.join(closing, ["b", "c"], "inner").select("a", "b", "c")

    corners = tris.select(F.explode(F.array("a", "b", "c")).alias("vid"))
    counts = corners.groupBy("vid").agg(F.count(F.lit(1)).alias("triangles"))
    per_node = (
        graph.nodes.select("vid")
        .join(counts, "vid", "left")
        .select("vid", F.coalesce("triangles", F.lit(0)).alias("triangles"))
    )
    if max_degree is not None:
        over = deg.filter(F.col("deg") > max_degree).select("vid").withColumn(
            "_ex", F.lit(True)
        )
        per_node = per_node.join(over, "vid", "left").select(
            "vid",
            F.when(F.col("_ex").isNotNull(), F.lit(-1))
            .otherwise(F.col("triangles"))
            .alias("triangles"),
        )
    with static_planning(graph.edges.sparkSession):
        global_count = tris.count()
    return TriangleCountResult(per_node=per_node, triangles=tris, global_count=global_count)


def local_clustering_coefficient(
    graph: ProjectedGraph, max_degree: int | None = None
) -> DataFrame:
    """LCC(v) = 2·T_v / (deg_v · (deg_v − 1)); 0 when deg < 2 (GDS
    convention); -1 for max_degree-excluded nodes. → (vid, lcc)"""
    tc = triangle_count(graph, max_degree)
    deg = graph.degrees("out")  # undirected projection: out == degree
    return (
        tc.per_node.join(deg, "vid")
        .select(
            "vid",
            F.when(F.col("triangles") < 0, F.lit(-1.0))
            .when(
                F.col("degree") >= 2,
                2.0 * F.col("triangles") / (F.col("degree") * (F.col("degree") - 1.0)),
            )
            .otherwise(F.lit(0.0))
            .alias("lcc"),
        )
    )
