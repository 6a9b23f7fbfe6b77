"""DAG algorithms (reference ``gds.dag.topologicalSort`` /
``gds.dag.longestPath`` — SURVEY.md §2.D Path family).

- ``topological_levels``: level(v) = length of the longest path ending at
  v (0 for sources). A valid topological order is (level, vid) — the
  deterministic tie-break the reference's parallel order lacks. Computed
  as max-relaxation supersteps: ``level(v) = 1 + max_{u→v} level(u)``,
  frontier = nodes whose level grew; converges in longest-path-length
  rounds. Cycles are detected (a node's level exceeding node_count is
  impossible in a DAG) and raise.
- ``longest_path``: same recurrence with edge weights — the classic
  critical-path computation; returns per-node longest distance from any
  source.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graph_data_science_spark.plans.messaging import EdgePlan
from graph_data_science_spark.plans.pregel import run_pregel
from graph_data_science_spark.projection import ProjectedGraph


@dataclass
class DagResult:
    levels: DataFrame  # (vid, level) — longest path (hops or weight) into v
    iterations: int


def _longest_relax(graph: ProjectedGraph, weighted: bool, max_rounds: int) -> DagResult:
    plan = EdgePlan(graph.edges)
    init = graph.nodes.select(
        "vid", F.lit(0.0).alias("level"), F.lit(1).alias("changed")
    )
    step_w = F.col("weight") if weighted else F.lit(1.0)

    def step(state: DataFrame, i: int) -> DataFrame:
        frontier = state.filter(F.col("changed") == 1).select("vid", "level")
        msgs = plan.messages(frontier, {"m": F.col("level") + step_w}, {"m": F.max("m")})
        grown = F.greatest(F.col("level"), F.coalesce(F.col("m"), F.col("level")))
        return state.join(msgs, "vid", "left").select(
            "vid",
            grown.alias("level"),
            (grown > F.col("level")).cast("int").alias("changed"),
        )

    res = run_pregel(
        init,
        step,
        max_iterations=max_rounds,
        metrics={"changed": F.coalesce(F.sum("changed"), F.lit(0))},
        stop_fn=lambda m, i: m["changed"] == 0,
    )
    plan.unpersist()
    if res.iterations >= max_rounds and not res.converged:
        raise ValueError(
            "relaxation did not converge within the node-count bound — the "
            "graph has a cycle (topological sort requires a DAG)"
        )
    return DagResult(levels=res.state.select("vid", "level"), iterations=res.iterations)


def topological_levels(graph: ProjectedGraph, max_rounds: int | None = None) -> DagResult:
    """(vid, level): longest-path hop depth; order by (level, vid) for a
    deterministic topological sort."""
    res = _longest_relax(
        graph, weighted=False, max_rounds=max_rounds or graph.node_count + 1
    )
    return DagResult(
        levels=res.levels.select("vid", F.col("level").cast("long").alias("level")),
        iterations=res.iterations,
    )


def longest_path(graph: ProjectedGraph, max_rounds: int | None = None) -> DagResult:
    """(vid, level): weighted longest (critical-path) distance into v."""
    return _longest_relax(
        graph, weighted=True, max_rounds=max_rounds or graph.node_count + 1
    )
