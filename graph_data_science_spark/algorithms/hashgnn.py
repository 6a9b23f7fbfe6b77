"""HashGNN (reference ``gds.hashgnn`` / ``beta.hashgnn`` — Bloemheuvel
et al. / the GDS "hashing-based GNN", SURVEY.md §2.D Embeddings): binary
node embeddings WITHOUT training — each iteration min-hash-samples
features from the node's own set and its neighbors' sets, approximating
a WL-style neighborhood signature. Two nodes with similar neighborhoods
get overlapping feature sets (locality-sensitive by construction).

Deterministic simplification of the reference (which samples K features
via random hash functions per iteration): feature sets are arrays of
64-bit tokens; iteration t keeps the ``embedding_density`` smallest
values of ``xxhash64(token, t, seed)`` over (own ∪ neighbors') tokens.
Relational plan per iteration: explode feature rows → one edge join to
gather neighbor features → groupBy(node) with a bounded ``slice
(array_sort(collect_set(...)))`` — no Python, state is O(n · density)
rows.

Input features default to one token per node (its vid) — callers with
real binary features pass (vid, feature) rows.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from graph_data_science_spark.plans.pregel import release_checkpoint, run_pregel
from graph_data_science_spark.projection import ProjectedGraph, undirect_edges


@dataclass
class HashGnnResult:
    embeddings: DataFrame  # (vid, embedding: array<long>)
    iterations: int


def hash_gnn(
    graph: ProjectedGraph,
    iterations: int = 2,
    embedding_density: int = 8,
    features: DataFrame | None = None,
    undirected: bool = True,
    seed: int = 42,
) -> HashGnnResult:
    """→ (vid, embedding) with ``embedding_density`` hashed feature tokens
    per node after ``iterations`` neighborhood-mixing rounds."""
    edges = (
        undirect_edges(graph.edges)
        if undirected and graph.orientation != "UNDIRECTED"
        else graph.edges
    )
    adj = edges.select("src", "dst").filter(
        F.col("src") != F.col("dst")
    ).distinct().localCheckpoint(eager=True)
    if features is None:
        feats = graph.nodes.select(
            "vid", F.xxhash64(F.col("vid"), F.lit(seed)).alias("feature")
        )
    else:
        feats = features.select("vid", F.col("feature").cast("long").alias("feature"))
    # bottom-k per node via a rank window (NOT collect_set into one
    # array — a hub's pool is deg × density rows and an array that
    # size is a straight OOM at scale; the window sort spills)
    win = Window.partitionBy("vid").orderBy("_h", "feature")

    def step(feats: DataFrame, i: int) -> DataFrame:
        nbr = adj.join(
            feats.withColumnRenamed("vid", "src"), "src"
        ).select(F.col("dst").alias("vid"), "feature")
        # min-hash selection: keep the k tokens with the smallest
        # iteration-salted hash — a deterministic sample of the
        # neighborhood multiset (standard bottom-k sketch)
        hashed = feats.unionByName(nbr).select(
            "vid",
            "feature",
            F.xxhash64(F.col("feature"), F.lit(i + 1), F.lit(seed)).alias("_h"),
        ).distinct()
        return (
            hashed.withColumn("_rn", F.row_number().over(win))
            .filter(F.col("_rn") <= embedding_density)
            .select("vid", "feature")
        )

    feats = run_pregel(feats.distinct(), step, max_iterations=iterations).state
    release_checkpoint(adj)
    emb = feats.groupBy("vid").agg(
        F.array_sort(F.collect_set("feature")).alias("embedding")
    )
    # isolated nodes keep their own (unmixed) token set
    out = (
        graph.nodes.select("vid")
        .join(emb, "vid", "left")
        .select(
            "vid",
            F.coalesce(
                "embedding", F.array(F.xxhash64(F.col("vid"), F.lit(seed)))
            ).alias("embedding"),
        )
    )
    return HashGnnResult(embeddings=out, iterations=iterations)
