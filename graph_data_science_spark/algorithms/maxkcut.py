"""Approximate maximum k-cut (reference ``gds.maxkcut`` /
``gds.alpha.maxkcut`` — SURVEY.md §2.D Community family).

The reference runs GRASP-style randomized local search; the BSP-native
equivalent (same family as our modularity optimization) is synchronous
best-move local search with deterministic seeding:

1. init: node v starts in part ``v mod k`` (the reference seeds from an
   RNG; determinism is our parity/resume contract);
2. a round scores, for every node, its symmetrized edge weight into each
   part (one join + one groupBy over the edge table) and proposes the
   part minimizing internal weight (= maximizing the cut), ties → lowest
   part id;
3. only an alternating parity class may move per round (the same
   oscillation guard the coloring/modularity loops use — synchronous
   all-movers can swap two adjacent nodes forever);
4. stop when no node improves or ``max_iterations`` rounds ran.

Each round is one ``run_pregel`` superstep: one gather + one argmin, with
the move count observed on the round's checkpoint — no per-node Python.
Local search on max-k-cut cannot decrease the cut (moves apply only with
strict gain), so cut(result) ≥ cut(init).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from graph_data_science_spark.plans.pregel import run_pregel
from graph_data_science_spark.projection import ProjectedGraph, undirect_edges


@dataclass
class MaxKCutResult:
    assignments: DataFrame  # (vid, community)
    cut_weight: float
    iterations: int
    metrics: list[dict] = field(default_factory=list)


def cut_weight(graph: ProjectedGraph, assignments: DataFrame) -> float:
    """Total weight of edges crossing parts (each undirected edge counted
    once — symmetrized weight / 2)."""
    sym = (
        graph.edges
        if graph.orientation == "UNDIRECTED"
        else undirect_edges(graph.edges)
    )
    a1 = assignments.select(F.col("vid").alias("src"), F.col("community").alias("c_src"))
    a2 = assignments.select(F.col("vid").alias("dst"), F.col("community").alias("c_dst"))
    row = (
        sym.filter(F.col("src") != F.col("dst"))
        .join(a1, "src")
        .join(a2, "dst")
        .filter(F.col("c_src") != F.col("c_dst"))
        .agg(F.sum("weight"))
        .collect()[0][0]
    )
    return float(row or 0.0) / 2.0


def approx_max_k_cut(
    graph: ProjectedGraph,
    k: int = 2,
    max_iterations: int = 20,
) -> MaxKCutResult:
    if k < 2:
        raise ValueError("k must be >= 2")
    sym = (
        graph.edges
        if graph.orientation == "UNDIRECTED"
        else undirect_edges(graph.edges)
    )
    sym = (
        sym.filter(F.col("src") != F.col("dst"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    sym.count()
    init = graph.nodes.select(
        "vid", F.pmod(F.col("vid"), F.lit(k)).alias("community"), F.lit(0).alias("moved")
    )
    parts = F.sequence(F.lit(0), F.lit(k - 1))
    best = F.array_min(
        F.transform(
            parts,
            lambda p: F.struct(
                F.coalesce(F.element_at("wm", p.cast("long")), F.lit(0.0)).alias("w"),
                p.cast("long").alias("part"),
            ),
        )
    )
    cur_w = F.coalesce(F.element_at("wm", F.col("community").cast("long")), F.lit(0.0))

    def step(assign: DataFrame, i: int) -> DataFrame:
        a_dst = assign.select(F.col("vid").alias("dst"), F.col("community").alias("c_n"))
        # weight from each node into each part; parts with zero weight are
        # absent — the argmin falls back to the lowest absent part, found
        # by folding over the k-sequence (k is small, an expression fold).
        # A node without edges gets a NULL map and never moves.
        into = (
            sym.join(a_dst, "dst")
            .groupBy("src", "c_n")
            .agg(F.sum("weight").alias("w"))
            .groupBy(F.col("src").alias("vid"))
            .agg(F.map_from_entries(F.collect_list(F.struct("c_n", "w"))).alias("wm"))
        )
        move = (
            (F.pmod(F.col("vid"), F.lit(2)) == F.lit(i % 2))
            & (F.col("_b.part") != F.col("community"))
            & (F.col("_b.w") < cur_w - 1e-12)
        )
        return (
            assign.join(into, "vid", "left")
            .withColumn("_b", best)
            .select(
                "vid",
                F.when(move, F.col("_b.part")).otherwise(F.col("community")).alias("community"),
                move.cast("int").alias("moved"),
            )
        )

    prev = {"moved": None}

    def stop(m: dict, i: int) -> bool:
        # both parity classes settled: two supersteps in a row moved nothing
        settled = m["moved"] == prev["moved"] == 0
        prev["moved"] = m["moved"]
        return settled

    res = run_pregel(
        init,
        step,
        max_iterations=max_iterations,
        metrics={"moved": F.coalesce(F.sum("moved"), F.lit(0))},
        stop_fn=stop,
    )
    assign = res.state.select("vid", "community")
    cw = cut_weight(graph, assign)
    sym.unpersist()
    return MaxKCutResult(
        assignments=assign, cut_weight=cw, iterations=res.iterations, metrics=res.metrics
    )
