"""Speaker-Listener Label Propagation (reference ``gds.sllpa`` /
``alpha.sllpa`` — Xie et al. 2011 SLPA, SURVEY.md §2.D Community):
OVERLAPPING community detection.

Every node keeps a label MEMORY (multiset). Per iteration, every
neighbor u of a listener v "speaks" one label drawn from u's memory with
probability ∝ its count; v adopts the most frequent spoken label and
appends it to memory. After T iterations a node belongs to every label
holding ≥ ``threshold`` of its memory — hence overlaps.

Deterministic replacements for the reference's RNG (parity = "valid
overlapping cover with the same construction", pinned by structure
tests):

- the speaker's draw is the cumulative-weight trick keyed by
  ``xxhash64(speaker, listener, iteration, seed)`` — one window over the
  (edge ⋈ memory) rows per iteration, the same deterministic weighted
  choice as the Node2Vec walker;
- the listener's argmax breaks ties by min label.

State is relational: memory = (vid, label, cnt) rows, ≤ T+1 labels per
node, so each iteration is one join + two windows + one groupBy over
O(|E| · memory) rows — bounded, shuffle-keyed on the listener.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from graph_data_science_spark.plans.pregel import release_checkpoint, run_pregel
from graph_data_science_spark.projection import ProjectedGraph, undirect_edges


@dataclass
class SllpaResult:
    communities: DataFrame  # (vid, label) — possibly several rows per vid
    iterations: int


def sllpa(
    graph: ProjectedGraph,
    max_iterations: int = 7,
    threshold: float = 0.15,
    seed: int = 42,
) -> SllpaResult:
    edges = (
        graph.edges
        if graph.orientation == "UNDIRECTED"
        else undirect_edges(graph.edges)
    )
    adj = (
        edges.select("src", "dst").filter(F.col("src") != F.col("dst")).distinct()
    ).localCheckpoint(eager=True)
    init = graph.nodes.select("vid", F.col("vid").alias("label"), F.lit(1).alias("cnt"))
    win = Window.partitionBy("src", "dst").orderBy("label")
    tot = Window.partitionBy("src", "dst")

    def step(memory: DataFrame, i: int) -> DataFrame:
        # speakers: each (u → v) edge draws ONE label from u's memory
        spoken_cand = adj.join(
            memory.withColumnRenamed("vid", "src"), "src"
        )  # (src, dst, label, cnt)
        r = (
            F.pmod(
                F.xxhash64(F.col("src"), F.col("dst"), F.lit(i + 1), F.lit(seed)),
                F.lit(1 << 62),
            ).cast("double")
            / float(1 << 62)
        )
        spoken = (
            spoken_cand.withColumn("cum", F.sum("cnt").over(win))
            .withColumn("total", F.sum("cnt").over(tot))
            .filter(F.col("cum") >= r * F.col("total"))
            .withColumn("rn", F.row_number().over(win))
            .filter(F.col("rn") == 1)
            .select(F.col("dst").alias("vid"), "label")
        )
        # listeners: most frequent spoken label, ties → min label
        heard = spoken.groupBy("vid", "label").agg(F.count(F.lit(1)).alias("n"))
        best = heard.groupBy("vid").agg(
            F.max(F.struct(F.col("n"), (-F.col("label")).alias("neg"))).alias("b")
        ).select("vid", (-F.col("b.neg")).alias("label"))
        # append to memory (increment the chosen label's count)
        return (
            memory.unionByName(best.withColumn("cnt", F.lit(1)))
            .groupBy("vid", "label")
            .agg(F.sum("cnt").alias("cnt"))
        )

    memory = run_pregel(init, step, max_iterations=max_iterations).state
    release_checkpoint(adj)

    total = memory.groupBy("vid").agg(F.sum("cnt").alias("_tot"))
    out = (
        memory.join(total, "vid")
        .filter(F.col("cnt") >= F.lit(threshold) * F.col("_tot"))
        .select("vid", "label")
    )
    # canonicalize each label to its min member (stable ids)
    canon = out.groupBy("label").agg(F.min("vid").alias("_cid"))
    communities = out.join(canon, "label").select(
        "vid", F.col("_cid").alias("label")
    ).distinct()
    return SllpaResult(communities=communities, iterations=max_iterations)
