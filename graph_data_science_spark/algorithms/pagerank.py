"""PageRank: damped power iteration with GDS semantics.

Update rule (the reference's unnormalized variant — scores are NOT scaled
to sum 1; on a dangling-free graph they sum ≈ node_count)::

    r_v  ←  (1 − d)  +  d · Σ_{u→v}  r_u · w_uv / W_u

where ``W_u`` is u's total out-weight (out-degree when unweighted) and
``d`` is the damping factor (default 0.85, tolerance 1e-7, max 20
iterations — upstream ``PageRankConfig`` defaults). Initial value 1.0.
**Dangling nodes** (W_u = 0) contribute nothing — their mass is lost, the
classic Neo4j behavior (SURVEY.md §2.C.1 SEMANTICS-CRITICAL; mirrored by
the numpy oracle in tests). Convergence: max per-vertex |Δ| < tolerance
(the Pregel vote-to-halt criterion — every vertex's delta must be under
tolerance for the run to halt).

Execution per superstep:
1. ``contrib = rank / W`` on the state (no shuffle),
2. one ``gather`` (sum) through the gather plan — the salted ``EdgePlan``
   (state shuffles to the persisted edge partitioning; messages reduce with
   map-side combine) or the CSR blocks of ``plans.csr``,
3. left join messages back onto the full vertex set (dangling targets get
   0) — same hash key both sides, so no extra exchange.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graph_data_science_spark.plans.checkpoint import CheckpointStore
from graph_data_science_spark.plans.messaging import GatherPlan, gather_plan
from graph_data_science_spark.plans.pregel import run_pregel
from graph_data_science_spark.projection import ProjectedGraph

SCALERS = ("none", "l1norm", "l2norm", "minmax", "max", "mean", "stdscore", "log")


@dataclass
class PageRankResult:
    scores: DataFrame  # (vid, score)
    iterations: int
    did_converge: bool
    metrics: list[dict] = field(default_factory=list)


def _scale(scores: DataFrame, scaler: str) -> DataFrame:
    """Post-scaling of scores (reference ``scaler`` config): pure
    aggregate-then-select, one extra pass."""
    s = scaler.lower()
    if s == "none":
        return scores
    if s == "log":
        return scores.select("vid", F.log("score").alias("score"))
    agg = scores.agg(
        F.sum(F.abs(F.col("score"))).alias("l1"),
        F.sqrt(F.sum(F.col("score") * F.col("score"))).alias("l2"),
        F.min("score").alias("mn"),
        F.max("score").alias("mx"),
        F.avg("score").alias("avg"),
        F.stddev_pop("score").alias("std"),
    ).collect()[0]
    if s == "l1norm":
        e = F.col("score") / agg["l1"]
    elif s == "l2norm":
        e = F.col("score") / agg["l2"]
    elif s == "minmax":
        span = (agg["mx"] - agg["mn"]) or 1.0
        e = (F.col("score") - agg["mn"]) / span
    elif s == "max":
        e = F.col("score") / agg["mx"]
    elif s == "mean":
        span = (agg["mx"] - agg["mn"]) or 1.0
        e = (F.col("score") - agg["avg"]) / span
    elif s == "stdscore":
        e = (F.col("score") - agg["avg"]) / (agg["std"] or 1.0)
    else:
        raise ValueError(f"scaler must be one of {SCALERS}, got {scaler!r}")
    return scores.select("vid", e.alias("score"))


def page_rank(
    graph: ProjectedGraph,
    damping: float = 0.85,
    tolerance: float = 1e-7,
    max_iterations: int = 20,
    weighted: bool = False,
    scaler: str = "none",
    source_nodes: list | None = None,
    edge_plan: GatherPlan | None = None,
    checkpoint: CheckpointStore | None = None,
    checkpoint_every: int = 5,
    executor: str = "relational",
    track_metrics: bool = True,
) -> PageRankResult:
    """``executor``: 'relational' (state⋈edges join, the correctness
    anchor) or 'csr' (per-block CSR Arrow buffers + vectorized pandas-UDF
    gather-scatter — the north_rule physical path); see
    ``plans.messaging.gather_plan``. The tests hold the two to |Δscore| <
    1e-12 on the golden fixtures and < 1e-10 on a weighted random graph.
    ``edge_plan`` (either kind, owned by the caller) is used instead of
    building one.

    ``track_metrics=False`` (fixed-iteration runs only, tolerance ≤ 0)
    only skips the per-superstep convergence aggregate (max delta, rank
    sum). It saves no Spark job: the aggregate is observed on the
    checkpoint that materializes each superstep."""
    if not track_metrics and tolerance > 0:
        raise ValueError("track_metrics=False requires tolerance <= 0 (fixed iterations)")
    plan = edge_plan or gather_plan(graph.edges, graph.node_count, executor)
    out_w = graph.degrees("out", weighted=weighted)  # (vid, degree); 0 for dangling

    # Personalized PR (reference ``sourceNodes``): the teleport term
    # (1 − d) applies only at the source set; everyone else starts at 0
    # and receives mass solely through links (GDS semantics).
    if source_nodes is not None:
        spark = graph.nodes.sparkSession
        src_df = spark.createDataFrame([(s,) for s in source_nodes], ["orig_id"])
        src_vids = graph.nodes.join(F.broadcast(src_df), "orig_id").select(
            "vid", F.lit(1.0).alias("_is_src")
        )
        base = out_w.join(src_vids, "vid", "left").select(
            "vid", "degree", F.coalesce("_is_src", F.lit(0.0)).alias("teleport")
        )
    else:
        base = out_w.withColumn("teleport", F.lit(1.0))

    init = base.select(
        "vid",
        F.col("teleport").alias("rank"),
        F.col("degree").alias("out_w"),
        "teleport",
        F.lit(float("inf")).alias("delta"),
    )

    def step(state: DataFrame, i: int) -> DataFrame:
        contribs = state.filter(F.col("out_w") > 0).select(
            "vid", (F.col("rank") / F.col("out_w")).alias("contrib")
        )
        msgs = plan.gather(contribs, "contrib", "sum", weighted)
        new_rank = F.lit(1.0 - damping) * F.col("teleport") + F.lit(damping) * F.coalesce(
            F.col("msg"), F.lit(0.0)
        )
        return (
            state.join(msgs, "vid", "left")
            .select(
                "vid",
                new_rank.alias("rank"),
                "out_w",
                "teleport",
                F.abs(new_rank - F.col("rank")).alias("delta"),
            )
        )

    res = run_pregel(
        init,
        step,
        max_iterations=max_iterations,
        metrics={
            "max_delta": F.coalesce(F.max("delta"), F.lit(0.0)),
            "rank_sum": F.coalesce(F.sum("rank"), F.lit(0.0)),
        } if track_metrics else None,
        stop_fn=(lambda m, i: m["max_delta"] < tolerance) if track_metrics else None,
        checkpoint=checkpoint,
        checkpoint_every=checkpoint_every,
    )
    scores = _scale(res.state.select("vid", F.col("rank").alias("score")), scaler)
    if edge_plan is None:
        plan.unpersist()
    return PageRankResult(
        scores=scores,
        iterations=res.iterations,
        did_converge=res.converged,
        metrics=res.metrics,
    )
