"""Strongly connected components: trim + forward/backward min-label coloring.

The reference implements sequential iterative Tarjan (SURVEY.md §2.C.3) —
inherently single-threaded, so this engine uses the standard distributed
scheme (Orzan-style coloring, the trim + coloring pipeline of Slota,
Rajamanickam and Madduri, IPDPS 2014):

repeat until no nodes remain:
  1. **trim** (bounded rounds): nodes with in- or out-degree 0 within the
     remaining subgraph are singleton SCCs — peel them;
  2. **color**: ``color(v) = min vid forward-reachable from v``, computed
     by min-propagation to fixpoint *along reverse edges* (a node pulls
     the min of its successors' colors);
  3. **collect**: within each color class c (which satisfies
     class(c) ⊆ backward-closure(c)), forward-propagate a mark from the
     root c restricted to same-color edges; marked nodes form SCC(c)
     (SCC(c) = class(c) ∩ forward-closure(c));
  4. remove assigned nodes, repeat on the remainder.

Steps 2 and 3 are the same min-label fixpoint (``_fixpoint_min``, one
``run_pregel`` loop): coloring starts every node at its own vid over the
edges; marking starts roots at 0 and every other node at 1 over the
reversed same-color edges, and a node is marked once its label reaches 0.
Both are semi-naive — each superstep joins only the nodes whose label
changed in the previous one.

SCC ids are the minimum member vid — canonical for parity just like WCC
(vid is the dense rank of the original id). Round complexity is
O(#SCC-chain-depth × diameter); fine for real link graphs (small
diameter), worst-case linear on pathological chains — the same trade
every distributed SCC makes vs. unparallelizable Tarjan. Every
intermediate checkpoint is released once superseded; ``components``
reads one checkpoint.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graph_data_science_spark.plans.pregel import observed_checkpoint, release_checkpoint, run_pregel
from graph_data_science_spark.projection import ProjectedGraph


@dataclass
class SccResult:
    components: DataFrame  # (vid, component)
    outer_rounds: int
    metrics: list[dict] = field(default_factory=list)


def _ckpt(df: DataFrame) -> DataFrame:
    return df.localCheckpoint(eager=True)


def _counted(df: DataFrame) -> tuple[DataFrame, int]:
    """Checkpoint ``df`` and count its rows in the same Spark action."""
    done, m = observed_checkpoint(df, {"n": F.count(F.lit(1))})
    return done, int(m["n"])


def _restrict(edges: DataFrame, nodes: DataFrame) -> DataFrame:
    """Checkpoint the edges whose both ends are in ``nodes``."""
    return _ckpt(
        edges.join(nodes.withColumnRenamed("vid", "src"), "src", "left_semi")
        .join(nodes.withColumnRenamed("vid", "dst"), "dst", "left_semi")
    )


def _fixpoint_min(labels: DataFrame, edges: DataFrame, max_rounds: int = 10_000) -> DataFrame:
    """label(v) ← min(label(v), min over out-neighbors' labels) to fixpoint.

    ``labels`` (vid, label, chg): ``chg = 1`` marks the first superstep's
    senders. ``edges`` (src, dst): v pulls from its successors, i.e.
    messages flow dst→src, and only nodes whose label changed re-send.
    Returns the final (vid, label, chg) checkpoint; raises if the labels
    still change after ``max_rounds`` supersteps.
    """

    def step(state: DataFrame, i: int) -> DataFrame:
        frontier = state.filter(F.col("chg") == 1).select(
            F.col("vid").alias("dst"), "label"
        )
        msgs = (
            edges.join(frontier, "dst")
            .groupBy(F.col("src").alias("vid"))
            .agg(F.min("label").alias("m"))
        )
        m = F.coalesce("m", F.col("label"))
        return state.join(msgs, "vid", "left").select(
            "vid",
            F.least(F.col("label"), m).alias("label"),
            (m < F.col("label")).cast("int").alias("chg"),
        )

    res = run_pregel(
        labels,
        step,
        max_iterations=max_rounds,
        metrics={"changed": F.coalesce(F.sum("chg"), F.lit(0))},
        stop_fn=lambda m, i: m["changed"] == 0,
    )
    if not res.converged:
        release_checkpoint(res.state)
        raise RuntimeError(
            f"SCC min-label fixpoint did not converge within max_rounds={max_rounds} supersteps"
        )
    return res.state


def scc(graph: ProjectedGraph, max_outer_rounds: int = 1000, trim_rounds: int = 3) -> SccResult:
    nodes, remaining = _counted(graph.nodes.select("vid"))
    edges = _ckpt(
        graph.edges.select("src", "dst").filter(F.col("src") != F.col("dst")).distinct()
    )
    parts: list[DataFrame] = []  # (vid, component) checkpoints
    metrics: list[dict] = []
    outer = 0

    while remaining > 0:
        if outer == max_outer_rounds:
            for df in (nodes, edges, *parts):
                release_checkpoint(df)
            raise RuntimeError(
                f"SCC left {remaining} vertices unassigned after max_outer_rounds={max_outer_rounds}"
            )
        outer += 1
        # 1. trim: peel in/out-degree-0 nodes (singleton SCCs), few rounds.
        # Edges only join remaining nodes, so core ⊆ nodes.
        for _ in range(trim_rounds):
            srcs = edges.select(F.col("src").alias("vid")).distinct()
            dsts = edges.select(F.col("dst").alias("vid")).distinct()
            core, n_core = _counted(srcs.join(dsts, "vid"))
            if n_core == remaining:
                release_checkpoint(core)
                break
            peeled = nodes.join(core, "vid", "left_anti")
            parts.append(_ckpt(peeled.select("vid", F.col("vid").alias("component"))))
            core_edges = _restrict(edges, core)
            for df in (nodes, edges):
                release_checkpoint(df)
            nodes, edges, remaining = core, core_edges, n_core
        if remaining <= 0:
            break

        # 2. color(v) = min forward-reachable vid.
        colored = _fixpoint_min(
            nodes.select("vid", F.col("vid").alias("label"), F.lit(1).alias("chg")), edges
        )

        # 3. forward-propagate the root's mark within each color class.
        same_color_reversed = _ckpt(
            edges.join(
                colored.select(F.col("vid").alias("src"), F.col("label").alias("sc")), "src"
            )
            .join(
                colored.select(F.col("vid").alias("dst"), F.col("label").alias("dc")), "dst"
            )
            .filter(F.col("sc") == F.col("dc"))
            .select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        is_root = F.col("vid") == F.col("label")
        marks = _fixpoint_min(
            colored.select(
                "vid",
                F.when(is_root, 0).otherwise(1).alias("label"),
                is_root.cast("int").alias("chg"),
            ),
            same_color_reversed,
        )
        # marked = ⋃ SCC(root) over this round's roots; component id = color.
        part, n_assigned = _counted(
            marks.filter(F.col("label") == 0)
            .join(colored.select("vid", F.col("label").alias("component")), "vid")
            .select("vid", "component")
        )
        parts.append(part)
        metrics.append({"outer_round": outer, "assigned": n_assigned, "remaining": remaining})

        rest = _ckpt(nodes.join(part, "vid", "left_anti"))
        rest_edges = _restrict(edges, rest)
        for df in (colored, same_color_reversed, marks, nodes, edges):
            release_checkpoint(df)
        nodes, edges = rest, rest_edges
        remaining -= n_assigned

    # nodes is empty by now; it keeps the schema when no part exists.
    components = _ckpt(
        reduce(DataFrame.unionByName, parts, nodes.select("vid", F.col("vid").alias("component")))
    )
    for df in (nodes, edges, *parts):
        release_checkpoint(df)
    return SccResult(components=components, outer_rounds=outer, metrics=metrics)
