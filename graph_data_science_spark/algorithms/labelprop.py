"""Label propagation (community detection), synchronous + deterministic.

Reference semantics (SURVEY.md §2.C.4): every node repeatedly adopts the
label with the largest total vote among its neighbors, where a neighbor
u's vote for its label is ``node_weight(u) · relationship_weight(u→v)``;
initial label = ``seed`` property or the node's own vid; stop after
``max_iterations`` (default 10, upstream ``LabelPropagationBaseConfig``)
or when no label changes.

The reference runs node batches in parallel and is documented as
potentially non-deterministic; for exact parity this engine is
**synchronous** with a total tie-break order: winner = max total vote,
ties broken by **minimum label id** (implemented as
``max(struct(vote, -label))`` — a single associative aggregate, so the
two-level salted reduce stays legal). Vote tallying is one gather/scatter
grouped by (node, label) + one argmax aggregate per superstep.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graph_data_science_spark.plans.messaging import GatherPlan, gather_plan
from graph_data_science_spark.plans.pregel import run_pregel
from graph_data_science_spark.projection import ProjectedGraph


@dataclass
class LabelPropagationResult:
    labels: DataFrame  # (vid, label)
    iterations: int
    did_converge: bool
    metrics: list[dict] = field(default_factory=list)


def label_propagation(
    graph: ProjectedGraph,
    max_iterations: int = 10,
    weighted: bool = False,
    seed: DataFrame | None = None,  # (vid, seed_label)
    node_weights: DataFrame | None = None,  # (vid, node_weight)
    edge_plan: GatherPlan | None = None,
    executor: str = "relational",
) -> LabelPropagationResult:
    plan = edge_plan or gather_plan(graph.edges, graph.node_count, executor)

    init = graph.nodes.select("vid", F.col("vid").alias("label"))
    if seed is not None:
        init = (
            graph.nodes.select("vid")
            .join(seed.select("vid", F.col(seed.columns[1]).alias("_s")), "vid", "left")
            .select("vid", F.coalesce("_s", F.col("vid")).alias("label"))
        )
    if node_weights is not None:
        nw = node_weights.select("vid", F.col(node_weights.columns[1]).alias("node_w"))
        init = init.join(nw, "vid", "left").withColumn(
            "node_w", F.coalesce("node_w", F.lit(1.0))
        )
    else:
        init = init.withColumn("node_w", F.lit(1.0))
    init = init.withColumn("changed", F.lit(1))

    def step(state: DataFrame, i: int) -> DataFrame:
        votes = plan.votes(state, "label", "node_w", weighted)
        # argmax with deterministic tie-break: max vote, then min label.
        winner = votes.groupBy("vid").agg(
            F.max(F.struct(F.col("vote"), (-F.col("label")).alias("neg"))).alias("w")
        ).select("vid", (-F.col("w.neg")).alias("new_label"))
        return (
            state.join(winner, "vid", "left")
            .select(
                "vid",
                F.coalesce("new_label", F.col("label")).alias("label"),
                "node_w",
                (F.coalesce("new_label", F.col("label")) != F.col("label"))
                .cast("int")
                .alias("changed"),
            )
        )

    res = run_pregel(
        init,
        step,
        max_iterations=max_iterations,
        metrics={"changed": F.coalesce(F.sum("changed"), F.lit(0))},
        stop_fn=lambda m, i: m["changed"] == 0,
    )
    if edge_plan is None:
        plan.unpersist()
    return LabelPropagationResult(
        labels=res.state.select("vid", "label"),
        iterations=res.iterations,
        did_converge=res.converged,
        metrics=res.metrics,
    )
