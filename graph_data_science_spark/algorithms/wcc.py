"""Weakly connected components: iterative min-label hash propagation.

Two executors, cross-checked in tests (SURVEY.md §2.C.2):

- ``algorithm="two_phase"`` (default): alternating **large-star /
  small-star** (Kiveris et al., "Connected Components in MapReduce and
  Beyond", SoCC 2014). Converges in O(log n) rounds regardless of graph
  diameter — the only viable choice at 10^12-edge scale where derived
  transcript graphs are chain-shaped (per-tool consecutive-conv links ⇒
  diameter ~ #convs, which plain propagation would need as many rounds).
  Each round is ONE Spark action: both stars take their neighbour minimum
  with a window over the round's edges (no aggregate joined back onto the
  same edges, which planned the large-star subtree twice), and the
  round's (count, xor-hash) convergence fingerprint is collected by
  ``DataFrame.observe`` during the ``localCheckpoint`` that materializes
  it. The previous round's checkpoint is released through its RDD; the
  last one stays, since ``components`` reads it lazily.
- ``algorithm="propagation"``: plain frontier min-label propagation
  (``label_v ← min(label_v, min_{u~v} label_u)`` per superstep, only
  changed vertices re-emit). O(diameter) rounds; the semantic reference.

The rounds stay under adaptive execution, unlike ``run_pregel`` and the
triangle count. A ``localCheckpoint`` keeps the size estimate of the plan
it materialized, so the estimate grows every round while the edge set
shrinks: ~1.5× per round, 2.0 MB to 51 MB by round 9 for 10k real edges
on a 74k-edge transcript graph. Past the broadcast threshold a static plan
turns the final component join into a sort-merge join; AQE re-plans from
the measured sizes. Measured there on local[4]: 3.4–4.2 s under AQE
against 3.9–4.6 s static.

Component ids: the reference's union-find representatives are arbitrary
internal ids; parity is defined up to relabeling, so both executors here
return the **minimum vid of the component** — and because vid is the dense
rank of the original id (order-preserving, projection.py), min-vid maps
back to min-original-id, i.e. results are already canonical (SURVEY.md
§2.C.2 SEMANTICS-CRITICAL).

``threshold``: only edges with weight > threshold participate (reference
``threshold`` config). ``consecutive_ids``: remap components to 0..k-1 by
a dense rank over component ids.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from graph_data_science_spark.plans.messaging import gather_plan
from graph_data_science_spark.plans.pregel import observed_checkpoint, release_checkpoint, run_pregel
from graph_data_science_spark.projection import ProjectedGraph, assign_dense_ids


@dataclass
class WccResult:
    components: DataFrame  # (vid, component)
    iterations: int
    component_count: int = -1
    metrics: list[dict] = field(default_factory=list)


def _edge_pairs(graph: ProjectedGraph, threshold: float | None) -> DataFrame:
    e = graph.edges
    if threshold is not None:
        e = e.filter(F.col("weight") > threshold)
    return e.select("src", "dst").filter(F.col("src") != F.col("dst"))


def _canonical(pairs: DataFrame) -> DataFrame:
    """Undirected edge set as (u, v) with u > v, deduplicated."""
    return (
        pairs.select(
            F.greatest("src", "dst").alias("u"), F.least("src", "dst").alias("v")
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def _large_star(canon: DataFrame) -> DataFrame:
    """For each node u: link every neighbor v > u to min(Γ(u) ∪ {u}).

    Not deduplicated: each canonical edge yields at most one row, and
    ``_small_star`` only takes minima over it and deduplicates its output.
    """
    sym = canon.select(F.col("u").alias("a"), F.col("v").alias("b")).unionByName(
        canon.select(F.col("v").alias("a"), F.col("u").alias("b"))
    )
    m = F.least(F.min("b").over(Window.partitionBy("a")), F.col("a"))
    return (
        sym.select("a", "b", m.alias("m"))
        .filter(F.col("b") > F.col("a"))
        .select(F.col("b").alias("u"), F.col("m").alias("v"))
        .filter(F.col("u") != F.col("v"))
    )


def _small_star(canon: DataFrame) -> DataFrame:
    """For each node u over smaller neighbors: relink all of them (and u) to
    the minimum."""
    m = F.min("v").over(Window.partitionBy("u"))
    return (
        canon.select(F.explode(F.array("u", "v")).alias("u"), m.alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def _checkpoint(canon: DataFrame) -> tuple[DataFrame, tuple[int, int]]:
    """Materialize one round and return it with its (count, hash)
    fingerprint, observed in the same Spark action."""
    # bit_xor: order-insensitive and overflow-free (ANSI mode forbids a
    # wrapping sum of hashes — verified failure at a few hundred edges).
    done, fp = observed_checkpoint(
        canon,
        {"n": F.count(F.lit(1)), "h": F.coalesce(F.bit_xor(F.xxhash64("u", "v")), F.lit(0))},
    )
    return done, (int(fp["n"]), int(fp["h"]))


def _wcc_two_phase(graph: ProjectedGraph, threshold: float | None, max_rounds: int) -> WccResult:
    canon, fp = _checkpoint(_canonical(_edge_pairs(graph, threshold)))
    rounds = 0
    history: list[dict] = []
    for rounds in range(1, max_rounds + 1):
        nxt, nfp = _checkpoint(_small_star(_large_star(canon)))
        # nxt is materialized and its lineage cut: nothing reads canon again.
        release_checkpoint(canon)
        canon = nxt
        history.append({"round": rounds, "edges": nfp[0]})
        if nfp == fp:
            break
        fp = nfp
    # Converged: star forest — every (u, v) points u at its component min v.
    # The last round stays persisted: ``components`` reads it lazily.
    parent = canon.groupBy(F.col("u").alias("vid")).agg(F.min("v").alias("component"))
    components = (
        graph.nodes.select("vid")
        .join(parent, "vid", "left")
        .select("vid", F.coalesce("component", F.col("vid")).alias("component"))
    )
    return WccResult(components=components, iterations=rounds, metrics=history)


def _wcc_propagation(
    graph: ProjectedGraph,
    threshold: float | None,
    max_rounds: int,
    executor: str = "relational",
) -> WccResult:
    pairs = _edge_pairs(graph, threshold)
    sym = pairs.unionByName(
        pairs.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).withColumn("weight", F.lit(1.0))
    plan = gather_plan(sym, graph.node_count, executor)
    init = graph.nodes.select(
        "vid", F.col("vid").alias("label"), F.lit(1).alias("changed")
    )

    def step(state: DataFrame, i: int) -> DataFrame:
        frontier = state.filter(F.col("changed") == 1).select("vid", "label")
        msgs = plan.gather(frontier, "label", "min")
        new_label = F.least(F.col("label"), F.coalesce(F.col("msg"), F.col("label")))
        return state.join(msgs, "vid", "left").select(
            "vid",
            new_label.alias("label"),
            (new_label < F.col("label")).cast("int").alias("changed"),
        )

    res = run_pregel(
        init,
        step,
        max_iterations=max_rounds,
        metrics={"changed": F.coalesce(F.sum("changed"), F.lit(0))},
        stop_fn=lambda m, i: m["changed"] == 0,
    )
    plan.unpersist()
    comps = res.state.select("vid", F.col("label").alias("component"))
    return WccResult(components=comps, iterations=res.iterations, metrics=res.metrics)


def wcc(
    graph: ProjectedGraph,
    threshold: float | None = None,
    algorithm: str = "two_phase",
    max_rounds: int = 50,
    consecutive_ids: bool = False,
    with_stats: bool = False,
) -> WccResult:
    if algorithm == "two_phase":
        res = _wcc_two_phase(graph, threshold, max_rounds)
    elif algorithm == "propagation":
        res = _wcc_propagation(graph, threshold, max_rounds * 40)
    elif algorithm == "propagation_csr":
        res = _wcc_propagation(graph, threshold, max_rounds * 40, executor="csr")
    else:
        raise ValueError(
            "algorithm must be 'two_phase', 'propagation', or 'propagation_csr'"
        )
    if consecutive_ids:
        remap = assign_dense_ids(
            res.components.select(F.col("component").alias("orig_id")), "orig_id"
        ).select(F.col("orig_id").alias("component"), F.col("vid").alias("_cid"))
        res.components = (
            res.components.join(remap, "component")
            .select("vid", F.col("_cid").alias("component"))
        )
    if with_stats:
        res.component_count = res.components.select("component").distinct().count()
    return res
