"""Eigenvector-family centralities (SURVEY.md §2.D Centrality): ArticleRank,
Eigenvector, HITS — all sharing the PageRank superstep skeleton (gather →
sum-reduce → masterCompute normalization), per the reference where
ArticleRank/Eigenvector reuse the PageRank Pregel kernel and HITS is a
beta Pregel algorithm.

Semantics (upstream GDS):
- **ArticleRank**: PageRank with dampened fan-out —
  ``r_v ← (1−d) + d·Σ r_u / (outdeg_u + avg_outdeg)``. Dangling nodes
  contribute nothing (same as PageRank).
- **Eigenvector**: power iteration ``r ← A^T r`` with L2 normalization
  each step (masterCompute global aggregate); init 1/√n; convergence on
  max |Δ|.
- **HITS**: auth(v) = Σ_{u→v} hub(u); hub(v) = Σ_{v→w} auth(w); each
  normalized by its L2 norm per superstep (one forward gather on the
  NATURAL plan and one on the REVERSE plan per iteration).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graph_data_science_spark.plans.messaging import EdgePlan
from graph_data_science_spark.plans.pregel import release_checkpoint, run_pregel
from graph_data_science_spark.projection import ProjectedGraph


@dataclass
class CentralityResult:
    scores: DataFrame
    iterations: int
    did_converge: bool
    metrics: list[dict] = field(default_factory=list)


def article_rank(
    graph: ProjectedGraph,
    damping: float = 0.85,
    tolerance: float = 1e-7,
    max_iterations: int = 20,
    weighted: bool = False,
) -> CentralityResult:
    plan = EdgePlan(graph.edges)
    out_w = graph.degrees("out", weighted=weighted)
    avg_row = out_w.filter(F.col("degree") > 0).agg(F.avg("degree")).collect()[0][0]
    avg_deg = float(avg_row or 0.0)

    init = out_w.select(
        "vid", F.lit(1.0).alias("rank"), F.col("degree").alias("out_w"),
        F.lit(float("inf")).alias("delta"),
    )
    msg_val = F.col("contrib") * (F.col("weight") if weighted else F.lit(1.0))

    def step(state: DataFrame, i: int) -> DataFrame:
        contribs = state.filter(F.col("out_w") > 0).select(
            "vid", (F.col("rank") / (F.col("out_w") + F.lit(avg_deg))).alias("contrib")
        )
        msgs = plan.messages(contribs, {"msg": msg_val}, {"msg": F.sum("msg")})
        new_rank = F.lit(1.0 - damping) + F.lit(damping) * F.coalesce(F.col("msg"), F.lit(0.0))
        return state.join(msgs, "vid", "left").select(
            "vid", new_rank.alias("rank"), "out_w",
            F.abs(new_rank - F.col("rank")).alias("delta"),
        )

    res = run_pregel(
        init, step, max_iterations=max_iterations,
        metrics={"max_delta": F.coalesce(F.max("delta"), F.lit(0.0))},
        stop_fn=lambda m, i: m["max_delta"] < tolerance,
    )
    plan.unpersist()
    return CentralityResult(
        scores=res.state.select("vid", F.col("rank").alias("score")),
        iterations=res.iterations, did_converge=res.converged, metrics=res.metrics,
    )


def eigenvector(
    graph: ProjectedGraph,
    tolerance: float = 1e-7,
    max_iterations: int = 20,
    weighted: bool = False,
) -> CentralityResult:
    plan = EdgePlan(graph.edges)
    n = max(graph.node_count, 1)
    init = graph.nodes.select(
        "vid", F.lit(1.0 / n**0.5).alias("rank"), F.lit(float("inf")).alias("delta")
    )
    msg_val = F.col("rank") * (F.col("weight") if weighted else F.lit(1.0))

    def step(state: DataFrame, i: int) -> DataFrame:
        msgs = plan.messages(
            state.select("vid", "rank"), {"msg": msg_val}, {"msg": F.sum("msg")}
        )
        raw = state.join(msgs, "vid", "left").select(
            "vid", F.coalesce("msg", F.lit(0.0)).alias("raw"), F.col("rank").alias("old")
        )
        # masterCompute: L2 normalization needs the global norm — one tiny
        # aggregate; a zero norm (no edges) keeps the previous vector.
        norm_row = raw.agg(F.sqrt(F.sum(F.col("raw") * F.col("raw"))).alias("n")).collect()[0]
        norm = float(norm_row["n"] or 0.0)
        if norm == 0.0:
            return raw.select("vid", F.col("old").alias("rank"), F.lit(0.0).alias("delta"))
        new_rank = F.col("raw") / F.lit(norm)
        return raw.select(
            "vid", new_rank.alias("rank"), F.abs(new_rank - F.col("old")).alias("delta")
        )

    res = run_pregel(
        init, step, max_iterations=max_iterations,
        metrics={"max_delta": F.coalesce(F.max("delta"), F.lit(0.0))},
        stop_fn=lambda m, i: m["max_delta"] < tolerance,
    )
    plan.unpersist()
    return CentralityResult(
        scores=res.state.select("vid", F.col("rank").alias("score")),
        iterations=res.iterations, did_converge=res.converged, metrics=res.metrics,
    )


def hits(
    graph: ProjectedGraph,
    tolerance: float = 1e-7,
    max_iterations: int = 20,
) -> CentralityResult:
    """→ (vid, auth, hub), both L2-normalized per iteration."""
    fwd = EdgePlan(graph.edges)  # u→v: hub(u) feeds auth(v)
    rev_edges = graph.edges.select(
        F.col("dst").alias("src"), F.col("src").alias("dst"), "weight"
    )
    rev = EdgePlan(rev_edges)  # auth back onto hubs

    init = graph.nodes.select(
        "vid", F.lit(1.0).alias("auth"), F.lit(1.0).alias("hub"),
        F.lit(float("inf")).alias("delta"),
    )

    def _l2(df: DataFrame, col: str) -> float:
        row = df.agg(F.sqrt(F.sum(F.col(col) * F.col(col))).alias("n")).collect()[0]
        return float(row["n"] or 1.0) or 1.0

    # the last superstep's hub_raw: the state built from it is
    # materialized once run_pregel asks for the next step
    prev_hub: list[DataFrame] = []

    def step(state: DataFrame, i: int) -> DataFrame:
        if prev_hub:
            release_checkpoint(prev_hub.pop())
        a_msgs = fwd.messages(
            state.select("vid", F.col("hub").alias("val")),
            {"msg": F.col("val")}, {"msg": F.sum("msg")},
        )
        auth_raw = state.join(a_msgs, "vid", "left").select(
            "vid", F.coalesce("msg", F.lit(0.0)).alias("auth_raw"), "hub",
            F.col("auth").alias("old_auth"), F.col("hub").alias("old_hub"),
        ).localCheckpoint(eager=True)
        an = _l2(auth_raw, "auth_raw")
        with_auth = auth_raw.select(
            "vid", (F.col("auth_raw") / F.lit(an)).alias("auth"),
            "old_auth", "old_hub",
        )
        h_msgs = rev.messages(
            with_auth.select("vid", F.col("auth").alias("val")),
            {"msg": F.col("val")}, {"msg": F.sum("msg")},
        )
        hub_raw = with_auth.join(h_msgs, "vid", "left").select(
            "vid", "auth", F.coalesce("msg", F.lit(0.0)).alias("hub_raw"),
            "old_auth", "old_hub",
        ).localCheckpoint(eager=True)
        release_checkpoint(auth_raw)  # only hub_raw's plan read it
        hn = _l2(hub_raw, "hub_raw")
        prev_hub.append(hub_raw)
        return hub_raw.select(
            "vid", "auth", (F.col("hub_raw") / F.lit(hn)).alias("hub"),
            F.greatest(
                F.abs(F.col("auth") - F.col("old_auth")),
                F.abs(F.col("hub_raw") / F.lit(hn) - F.col("old_hub")),
            ).alias("delta"),
        )

    res = run_pregel(
        init, step, max_iterations=max_iterations,
        metrics={"max_delta": F.coalesce(F.max("delta"), F.lit(0.0))},
        stop_fn=lambda m, i: m["max_delta"] < tolerance,
    )
    if prev_hub:  # empty when max_iterations is 0
        release_checkpoint(prev_hub.pop())
    fwd.unpersist()
    rev.unpersist()
    return CentralityResult(
        scores=res.state.select("vid", "auth", "hub"),
        iterations=res.iterations, did_converge=res.converged, metrics=res.metrics,
    )
