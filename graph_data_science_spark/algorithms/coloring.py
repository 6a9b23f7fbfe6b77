"""K-1 Coloring (reference ``gds.k1coloring`` — SURVEY.md §2.D Community
family): assign every node a color such that no two adjacent nodes share
one, using at most Δ+1 colors.

Jones-Plassmann-style synchronous rounds, deterministic:

1. Everyone starts with color 0.
2. A round finds CONFLICTED nodes — nodes sharing their color with a
   neighbor of smaller vid (the smaller endpoint keeps its color: a
   deterministic total-order priority, where the reference uses random
   priorities).
3. Each conflicted node re-colors to the MEX (minimum excluded value) of
   its neighbors' current colors — computed as a fold over the sorted
   distinct neighbor-color array, no Python.
4. Repeat until conflict-free. Each round permanently settles at least
   the smallest-vid node of every conflict chain, so ≤ Δ+1 rounds and
   colors never exceed Δ+1 (the mex of ≤ Δ values is ≤ Δ).

Each round is one ``run_pregel`` superstep: one join + one groupBy over
the symmetrized edge table — the same cost class as LPA — with the
recolor count observed on the round's checkpoint.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from graph_data_science_spark.plans.pregel import run_pregel
from graph_data_science_spark.projection import ProjectedGraph, undirect_edges


@dataclass
class ColoringResult:
    colors: DataFrame  # (vid, color)
    iterations: int
    metrics: list[dict] = field(default_factory=list)
    #: True only when a round recolored no node (the coloring is proper);
    #: False when ``max_iterations`` ran out first, also at 0 — the
    #: returned coloring MAY then be improper.
    converged: bool = True


def k1coloring(graph: ProjectedGraph, max_iterations: int = 100) -> ColoringResult:
    edges = (
        graph.edges
        if graph.orientation == "UNDIRECTED"
        else undirect_edges(graph.edges)
    )
    adj = (
        edges.select("src", "dst")
        .filter(F.col("src") != F.col("dst"))
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    adj.count()
    init = graph.nodes.select("vid", F.lit(0).alias("color"), F.lit(0).alias("_re"))

    def step(colors: DataFrame, i: int) -> DataFrame:
        cs = colors.select(F.col("vid").alias("src"), F.col("color").alias("c_src"))
        cd = colors.select(F.col("vid").alias("dst"), F.col("color").alias("c_dst"))
        tagged = adj.join(cs, "src").join(cd, "dst")
        # conflicted: same color as a SMALLER-vid neighbor → must recolor
        conflicted = (
            tagged.filter(
                (F.col("c_src") == F.col("c_dst")) & (F.col("dst") < F.col("src"))
            )
            .select(F.col("src").alias("vid"))
            .distinct()
        )
        # mex over the node's full neighbor color set
        ncolors = (
            adj.join(conflicted.withColumnRenamed("vid", "src"), "src")
            .join(cd, "dst")
            .groupBy("src")
            .agg(F.array_sort(F.array_distinct(F.collect_list("c_dst"))).alias("nc"))
            .select(
                F.col("src").alias("vid"),
                F.aggregate(
                    "nc",
                    F.lit(0),
                    lambda acc, x: F.when(x == acc, acc + 1).otherwise(acc),
                ).alias("_new"),
            )
        )
        return colors.join(ncolors, "vid", "left").select(
            "vid",
            F.coalesce("_new", F.col("color")).alias("color"),
            F.col("_new").isNotNull().cast("int").alias("_re"),
        )

    res = run_pregel(
        init,
        step,
        max_iterations=max_iterations,
        metrics={"recolored": F.coalesce(F.sum("_re"), F.lit(0))},
        stop_fn=lambda m, i: m["recolored"] == 0,
    )
    adj.unpersist()
    return ColoringResult(
        colors=res.state.select("vid", "color"),
        iterations=res.iterations,
        metrics=res.metrics,
        converged=res.converged,
    )
