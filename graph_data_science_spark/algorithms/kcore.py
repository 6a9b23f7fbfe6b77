"""K-core decomposition (reference ``gds.kcore`` — SURVEY.md §2.D
Community family): per-node core number on an UNDIRECTED graph.

Distributed algorithm: the **h-operator iteration** (Montresor, De
Pellegrini, Miorandi, "Distributed k-core decomposition", 2011 — the
standard BSP formulation). Initialize ``core(v) = deg(v)``; each
superstep sets

    core(v) ← H({core(u) : u ∈ Γ(v)})

where H is the h-index: the largest h such that ≥ h neighbors have core
≥ h. Values only decrease, and the fixpoint is exactly the core number.
Rounds ≤ max core value in practice (tiny for real graphs).

Relational H without any per-node collect: join state onto edges, rank
each destination's incoming neighbor-core values descending
(``row_number`` per dst), then ``H = max(min(rank, core_value))`` — a
plain window + aggregate, fully vectorized, skew-bounded by the window
partition (a hub's window sorts indeg values: same cost class as the
reference's per-node neighbor scan).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from graph_data_science_spark.plans.pregel import run_pregel
from graph_data_science_spark.projection import ProjectedGraph


@dataclass
class KCoreResult:
    cores: DataFrame  # (vid, core)
    iterations: int
    metrics: list[dict] = field(default_factory=list)


def k_core(graph: ProjectedGraph, max_iterations: int = 100) -> KCoreResult:
    if graph.orientation != "UNDIRECTED":
        raise ValueError(
            "k-core requires an UNDIRECTED projection; use graph.to_undirected()"
        )
    from pyspark.storagelevel import StorageLevel

    edges = graph.edges.select("src", "dst").filter(
        F.col("src") != F.col("dst")
    ).persist(StorageLevel.MEMORY_AND_DISK)
    edges.count()

    deg = edges.groupBy(F.col("dst").alias("vid")).agg(F.count(F.lit(1)).alias("core"))
    init = (
        graph.nodes.select("vid")
        .join(deg, "vid", "left")
        .select("vid", F.coalesce("core", F.lit(0)).cast("long").alias("core"),
                F.lit(1).alias("changed"))
    )

    def step(state: DataFrame, i: int) -> DataFrame:
        nbr = edges.join(
            state.select(F.col("vid").alias("src"), F.col("core").alias("c_src")), "src"
        ).select(F.col("dst").alias("vid"), "c_src")
        w = Window.partitionBy("vid").orderBy(F.desc("c_src"))
        h = (
            nbr.withColumn("rn", F.row_number().over(w))
            .groupBy("vid")
            .agg(F.max(F.least(F.col("rn").cast("long"), F.col("c_src"))).alias("h"))
        )
        new_core = F.least(F.col("core"), F.coalesce(F.col("h"), F.lit(0)))
        return state.join(h, "vid", "left").select(
            "vid",
            new_core.alias("core"),
            (new_core < F.col("core")).cast("int").alias("changed"),
        )

    res = run_pregel(
        init, step, max_iterations=max_iterations,
        metrics={"changed": F.coalesce(F.sum("changed"), F.lit(0))},
        stop_fn=lambda m, i: m["changed"] == 0,
    )
    edges.unpersist()
    return KCoreResult(
        cores=res.state.select("vid", "core"),
        iterations=res.iterations,
        metrics=res.metrics,
    )
