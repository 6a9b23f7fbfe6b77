"""Influence maximization (reference ``gds.influenceMaximization.celf`` —
Goyal et al. CELF++ / Kempe-Kleinberg-Tardos IC model, SURVEY.md §2.D
Centrality family).

Independent-cascade spread is estimated over ``mc_simulations``
deterministic live-edge worlds: edge e is live in world s iff
``xxhash64(src, dst, s, seed) ‰ < p·1000`` (the reference flips RNG coins;
determinism is load-bearing for our parity/resume story).

The Spark-first restructuring of CELF: in the live-edge model,
``reach(S ∪ {v}) = reach(S) ∪ reach({v})`` on the same world — so the
expensive part, per-candidate reachability, is computed ONCE for every
candidate and world together as a single batched multi-source BFS over
(candidate, world, node) pair state (``plans.pregel.expand_levels``, the
same batching as multi-source Brandes). The greedy loop then needs only
one anti-join aggregate per seed chosen — CELF's lazy-queue bookkeeping
exists to avoid repeated cascade simulations, and batching removes those
entirely, giving the EXACT same greedy result over the candidate set.

Candidates default to the ``candidate_pool`` highest-out-degree nodes
(ties → min vid) — the standard practical restriction; the pair state is
O(pool · worlds · reach) instead of O(n · worlds · reach).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from graph_data_science_spark.plans.pregel import expand_levels, release_checkpoint
from graph_data_science_spark.projection import ProjectedGraph


@dataclass
class InfluenceResult:
    seeds: DataFrame  # (rank, vid, expected_spread_after)
    expected_spread: float
    simulations: int


def live_edges(
    graph: ProjectedGraph,
    mc_simulations: int,
    propagation_probability: float,
    seed: int = 42,
) -> DataFrame:
    """(sim, src, dst): the deterministic live-edge worlds."""
    pm = int(propagation_probability * 1000)
    sims = F.sequence(F.lit(0), F.lit(mc_simulations - 1))
    return (
        graph.edges.select("src", "dst")
        .distinct()
        .select(F.explode(sims).alias("sim"), "src", "dst")
        .filter(
            F.pmod(F.xxhash64("src", "dst", "sim", F.lit(seed)), F.lit(1000)) < pm
        )
    )


def celf_influence_maximization(
    graph: ProjectedGraph,
    seed_set_size: int = 3,
    mc_simulations: int = 16,
    propagation_probability: float = 0.1,
    candidate_pool: int = 32,
    seed: int = 42,
    max_iterations: int = 100,
) -> InfluenceResult:
    spark = graph.nodes.sparkSession
    live = live_edges(graph, mc_simulations, propagation_probability, seed).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    live.count()
    # candidates: highest out-degree, deterministic tie-break
    cands = (
        graph.edges.groupBy("src")
        .agg(F.count(F.lit(1)).alias("_d"))
        .orderBy(F.desc("_d"), F.asc("src"))
        .limit(candidate_pool)
        .select(F.col("src").alias("cand"))
        .localCheckpoint(eager=True)
    )
    # batched BFS: (cand, sim, vid) ← every candidate × world at once
    sims = spark.range(mc_simulations).select(F.col("id").cast("int").alias("sim"))
    by_vid = live.select("sim", F.col("src").alias("vid"), "dst")
    reach, _ = expand_levels(  # (cand, sim, vid, level)
        cands.crossJoin(sims).select("cand", "sim", F.col("cand").alias("vid")),
        lambda frontier: frontier.join(by_vid, ["vid", "sim"]).select(
            "cand", "sim", F.col("dst").alias("vid")
        ),
        max_iterations,
    )
    live.unpersist()

    # greedy over the batched reachabilities: marginal(v | S) =
    # |reach_v \ reach_S| summed over worlds — one anti-join agg per pick
    chosen: list[tuple[int, float]] = []
    reach_s = None  # (sim, vid) of the current seed set
    spread = 0.0
    for rank in range(min(seed_set_size, candidate_pool)):
        rem = reach
        rem_cands = cands
        if chosen:
            picked = [c for c, _ in chosen]
            rem = reach.filter(~F.col("cand").isin(picked))
            rem_cands = cands.filter(~F.col("cand").isin(picked))
        if reach_s is not None:
            rem = rem.join(reach_s, ["sim", "vid"], "left_anti")
        # Left-join the remaining candidate list so fully-covered candidates
        # (zero marginal gain → no rows in the anti-joined agg) stay
        # selectable: the reference CELF returns exactly k seeds, breaking
        # gain-0 ties by id.
        row = (
            rem_cands.join(
                rem.groupBy("cand").agg(F.count(F.lit(1)).alias("_g")), "cand", "left"
            )
            .select("cand", F.coalesce("_g", F.lit(0)).alias("gain"))
            .orderBy(F.desc("gain"), F.asc("cand"))
            .limit(1)
            .collect()
        )
        if not row:
            break
        best, gain = int(row[0]["cand"]), int(row[0]["gain"])
        spread += gain / mc_simulations
        chosen.append((best, spread))
        new_r = reach.filter(F.col("cand") == best).select("sim", "vid")
        new_s = (
            new_r if reach_s is None else reach_s.unionByName(new_r).distinct()
        ).localCheckpoint(eager=True)
        if reach_s is not None:
            release_checkpoint(reach_s)
        reach_s = new_s
    # the seeds are built on the driver: free every checkpoint
    for df in (cands, reach, reach_s):
        if df is not None:
            release_checkpoint(df)
    seeds = spark.createDataFrame(
        [(i, c, float(s)) for i, (c, s) in enumerate(chosen)],
        "rank int, vid long, expected_spread_after double",
    )
    return InfluenceResult(
        seeds=seeds, expected_spread=spread, simulations=mc_simulations
    )
