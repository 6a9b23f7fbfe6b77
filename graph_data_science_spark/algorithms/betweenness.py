"""Betweenness centrality (reference ``gds.betweenness`` — Brandes 2001
with source sampling, SURVEY.md §2.D Centrality).

ALL sampled sources advance together through two level-synchronous passes
over (source, vid) pair state — the multi-source Brandes batching (the
reference's MS-BFS idea, relationally):

1. **Forward** (BFS wave): per pair, ``dist(s,v)`` and the shortest-path
   counts ``σ(s,v) = Σ σ(s,u)`` over predecessors u one level up. One
   join + sum-reduce per LEVEL — not per (source × level): batching cuts
   the job count from O(S·D) to O(D).
2. **Backward** (dependency accumulation, deepest level first):
   ``δ(s,v) += σ(s,v)/σ(s,w) · (1 + δ(s,w))`` over successors w one level
   deeper, again one join per level for all sources at once.

``betweenness(v) = Σ_s δ_s(v)``. Exact when ``sampling_size`` ≥ node
count (every node a source — pair state is then O(n·reach), the known
exact-Brandes cost; sample at scale). Sampling is deterministic: the
``sampling_size`` smallest vids (upstream samples randomly; determinism
is load-bearing for our parity and resume story).

The pair-state shuffles key on (src, vid), so S sources spread S× wider
than one BFS — skew from a single wave concentrating on few vids is
diluted by construction.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from graph_data_science_spark.plans.pregel import release_checkpoint
from graph_data_science_spark.projection import ProjectedGraph


def _exact_sum(c: Column) -> Column:
    """Sum of doubles in exact decimal arithmetic, so the order in which
    the shuffle delivers them cannot change the last bit (the ``sigma``
    sums are whole numbers and exact in any order). Each term is rounded
    to 18 decimals; the values here stay far below the type's 1e20."""
    return F.sum(c.cast("decimal(38,18)")).cast("double")


@dataclass
class BetweennessResult:
    scores: DataFrame  # (vid, score)
    sources_used: int


def betweenness(
    graph: ProjectedGraph,
    sampling_size: int | None = None,
) -> BetweennessResult:
    """→ (vid, score). ``sampling_size=None`` uses every node (exact
    Brandes); otherwise the ``sampling_size`` smallest vids are sources."""
    edges = graph.edges.select(
        F.col("src").alias("u"), F.col("dst").alias("v")
    ).distinct().persist(StorageLevel.MEMORY_AND_DISK)
    edges.count()
    n_sources = (
        graph.node_count if sampling_size is None else min(sampling_size, graph.node_count)
    )
    nodes = graph.nodes.select("vid")
    if n_sources == 0:
        edges.unpersist()
        return BetweennessResult(
            scores=nodes.select("vid", F.lit(0.0).alias("score")), sources_used=0
        )

    # forward: levels[d] = (src, vid, sigma) for pairs at distance d
    seed = nodes.filter(F.col("vid") < n_sources).select(
        F.col("vid").alias("src"), F.col("vid").alias("vid"), F.lit(1.0).alias("sigma")
    )
    levels = [seed.localCheckpoint(eager=True)]
    settled = levels[0].select("src", "vid").localCheckpoint(eager=True)
    while True:
        frontier = levels[-1]
        nxt = (
            frontier.join(edges, frontier["vid"] == edges["u"])
            .select("src", F.col("v").alias("vid"), "sigma")
            .join(settled, ["src", "vid"], "left_anti")
            .groupBy("src", "vid")
            .agg(F.sum("sigma").alias("sigma"))
            .localCheckpoint(eager=True)
        )
        if nxt.limit(1).count() == 0:
            release_checkpoint(nxt)
            break
        levels.append(nxt)
        new_settled = settled.unionByName(nxt.select("src", "vid")).localCheckpoint(
            eager=True
        )
        release_checkpoint(settled)
        settled = new_settled

    # backward: deepest level first, all sources at once
    acc = [levels[-1].select("src", "vid", F.lit(0.0).alias("delta"))]
    for l in range(len(levels) - 1, 0, -1):
        below = acc[-1].join(levels[l], ["src", "vid"]).select(
            "src",
            F.col("vid").alias("w"),
            "sigma",
            (F.lit(1.0) + F.col("delta")).alias("factor"),
        )
        contrib = (
            edges.join(below, edges["v"] == below["w"])
            .select("src", F.col("u").alias("vid"), "sigma", "factor")
            .join(
                levels[l - 1].select(
                    "src", "vid", F.col("sigma").alias("sigma_u")
                ),
                ["src", "vid"],
            )
            .groupBy("src", "vid")
            .agg(_exact_sum(F.col("sigma_u") / F.col("sigma") * F.col("factor")).alias("d_in"))
        )
        up = (
            levels[l - 1].select("src", "vid")
            .join(contrib, ["src", "vid"], "left")
            .select("src", "vid", F.coalesce("d_in", F.lit(0.0)).alias("delta"))
            .localCheckpoint(eager=True)
        )
        acc.append(up)

    deps = acc[0]
    for a in acc[1:]:
        deps = deps.unionByName(a)
    summed = (
        deps.filter(F.col("vid") != F.col("src"))
        .groupBy("vid")
        .agg(_exact_sum(F.col("delta")).alias("score"))
    )
    scores = (
        nodes.join(summed, "vid", "left")
        .select("vid", F.coalesce("score", F.lit(0.0)).alias("score"))
        .localCheckpoint(eager=True)
    )
    # scores is materialized: free the pair states it was built from
    for df in [*levels, settled, *acc[1:]]:
        release_checkpoint(df)
    edges.unpersist()
    return BetweennessResult(scores=scores, sources_used=n_sources)
