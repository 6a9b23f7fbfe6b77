"""Path-finding algorithms (SURVEY.md §2.D Path family): BFS hop counts
and single-source shortest paths, both as frontier supersteps on the
Pregel harness — the same min-reduce kernel as WCC, with distance instead
of label.

- ``bfs``: level-synchronous — superstep i settles exactly the nodes at
  hop distance i; the frontier (newly settled nodes) is the only state
  that emits messages, so late supersteps touch only the growing wave,
  not the whole graph.
- ``sssp``: label-correcting Bellman-Ford (``dist_v ← min(dist_v,
  min_{u→v} dist_u + w_uv)``), frontier = nodes whose distance improved.
  Converges in ≤ longest-shortest-path-hops supersteps; negative weights
  are rejected (GDS Dijkstra/Delta-stepping semantics — non-negative
  weights only). This is the distributed delta-relaxation shape
  (delta-stepping without the bucket ordering, which a BSP frontier
  subsumes at the cost of re-relaxations).

Unreached nodes are omitted from the result (the reference streams only
reached nodes).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graph_data_science_spark.plans.messaging import EdgePlan
from graph_data_science_spark.plans.pregel import expand_levels, release_checkpoint, run_pregel
from graph_data_science_spark.projection import ProjectedGraph

_INF = float("inf")


@dataclass
class PathResult:
    distances: DataFrame  # (vid, distance)
    iterations: int
    metrics: list[dict] = field(default_factory=list)


def _source_vids(graph: ProjectedGraph, sources) -> DataFrame:
    """Original source ids → vid set."""
    src_df = graph.nodes.sparkSession.createDataFrame(
        [(s,) for s in sources], ["orig_id"]
    )
    return graph.nodes.join(F.broadcast(src_df), "orig_id").select("vid")


def _exclusion_cond(excluded_nodes, excluded_edges, src_col: str, dst_col: str):
    """Column condition matching excluded edges/endpoints, or None.
    Exclusion sets are tiny (Yen's spur roots), so literal isin/OR chains
    stay broadcast-free expressions — no plan rebuild per spur run."""
    cond = None
    if excluded_nodes:
        ns = [int(n) for n in excluded_nodes]
        cond = F.col(src_col).isin(ns) | F.col(dst_col).isin(ns)
    for u, v in sorted(excluded_edges or []):
        c = (F.col(src_col) == int(u)) & (F.col(dst_col) == int(v))
        cond = c if cond is None else (cond | c)
    return cond


def _relax(
    graph: ProjectedGraph,
    sources,
    weighted: bool,
    max_iterations: int,
    edge_plan: EdgePlan | None = None,
    sources_are_vids: bool = False,
    excluded_nodes=None,
    excluded_edges=None,
    allow_negative: bool = False,
) -> PathResult:
    if weighted and edge_plan is None and not allow_negative:
        neg = graph.edges.filter(F.col("weight") < 0).limit(1).count()
        if neg:
            raise ValueError("sssp requires non-negative edge weights")
    plan = edge_plan or EdgePlan(graph.edges)
    if isinstance(sources, DataFrame):
        srcs = sources.select("vid")
    elif sources_are_vids:
        srcs = graph.nodes.sparkSession.createDataFrame(
            [(int(s),) for s in sources], "vid long"
        )
    else:
        srcs = _source_vids(graph, sources)
    init = (
        graph.nodes.select("vid")
        .join(srcs.withColumn("_s", F.lit(1)), "vid", "left")
        .select(
            "vid",
            F.when(F.col("_s").isNotNull(), F.lit(0.0)).otherwise(F.lit(_INF)).alias("dist"),
            F.when(F.col("_s").isNotNull(), F.lit(1)).otherwise(F.lit(0)).alias("changed"),
        )
    )
    step_w = F.col("weight") if weighted else F.lit(1.0)
    # Masked edges send +inf (never improves) — this reuses ONE shared
    # EdgePlan across Yen's spur runs instead of re-partitioning and
    # re-persisting a filtered edge table per spur.
    excl = _exclusion_cond(excluded_nodes, excluded_edges, "_src", "_dst")
    m_expr = F.col("dist") + step_w
    if excl is not None:
        m_expr = F.when(excl, F.lit(_INF)).otherwise(m_expr)

    def step(state: DataFrame, i: int) -> DataFrame:
        frontier = state.filter(F.col("changed") == 1).select("vid", "dist")
        msgs = plan.messages(frontier, {"m": m_expr}, {"m": F.min("m")})
        better = F.least(F.col("dist"), F.coalesce(F.col("m"), F.col("dist")))
        return state.join(msgs, "vid", "left").select(
            "vid",
            better.alias("dist"),
            (better < F.col("dist")).cast("int").alias("changed"),
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
    reached = res.state.filter(F.col("dist") != _INF).select(
        "vid", F.col("dist").alias("distance")
    )
    return PathResult(distances=reached, iterations=res.iterations, metrics=res.metrics)


def bfs(
    graph: ProjectedGraph,
    sources,
    max_iterations: int = 1000,
    edge_plan: EdgePlan | None = None,
) -> PathResult:
    """Hop distance from the source set → (vid, distance)."""
    return _relax(graph, sources, weighted=False, max_iterations=max_iterations, edge_plan=edge_plan)


def sssp(
    graph: ProjectedGraph,
    sources,
    max_iterations: int = 1000,
    edge_plan: EdgePlan | None = None,
) -> PathResult:
    """Weighted shortest-path distance from the source set → (vid, distance)."""
    return _relax(graph, sources, weighted=True, max_iterations=max_iterations, edge_plan=edge_plan)


def delta_stepping(
    graph: ProjectedGraph,
    sources,
    delta: float | None = None,
    max_buckets: int = 100_000,
    edge_plan: EdgePlan | None = None,
) -> PathResult:
    """Delta-stepping SSSP (reference ``gds.allShortestPaths.delta``;
    Meyer & Sanders 2003) as a REAL bucketed implementation — distinct
    from :func:`sssp`'s plain label-correcting relax, which subsumes the
    buckets at the cost of re-relaxations.

    Buckets ``B_i = {v : ⌊dist_v/Δ⌋ = i}`` are processed in order; inside
    bucket *i*, LIGHT edges (w ≤ Δ) relax to a fixpoint (a node whose
    improved distance stays in bucket *i* re-enters the frontier), then
    HEAVY edges (w > Δ) relax ONCE from everything the bucket settled.
    Non-negative weights only (the bucket-ordering invariant requires it).

    Spark shape: ONE shared :class:`EdgePlan` (hash-partitioned edge
    cache) serves both phases — light/heavy selection is a masked message
    expression (``when(w ≤ Δ, dist+w).otherwise(inf)``), the same trick
    Yen's spur runs use, so no per-phase edge filter or re-partition.
    The driver loop advances the bucket cursor with one scalar aggregate
    per phase; each phase's state is a local checkpoint that frees the
    one it supersedes (``release_checkpoint``), so only the final state
    stays persisted. Default Δ = mean edge weight (each light phase then
    clears ~half the outgoing relaxations; the reference's default is a
    fixed 2.0 — pass ``delta=2.0`` for surface parity).

    Identical distances to :func:`sssp` (tests pin this on goldens and
    random weighted graphs); the win is ordering: each edge relaxes O(1)
    times per bucket instead of once per improving wave, which matters
    when the weight spread makes the plain relax re-touch hubs many
    times.
    """
    neg = graph.edges.filter(F.col("weight") < 0).limit(1).count()
    if neg:
        raise ValueError("delta_stepping requires non-negative edge weights")
    if delta is None:
        row = graph.edges.agg(F.avg("weight").alias("d")).collect()[0]
        delta = float(row["d"] or 1.0) or 1.0
    if delta <= 0:
        raise ValueError(f"delta must be positive, got {delta}")
    plan = edge_plan or EdgePlan(graph.edges)
    if isinstance(sources, DataFrame):
        srcs = sources.select("vid")
    else:
        srcs = _source_vids(graph, sources)

    state = (
        graph.nodes.select("vid")
        .join(srcs.withColumn("_s", F.lit(1)), "vid", "left")
        .select(
            "vid",
            F.when(F.col("_s").isNotNull(), F.lit(0.0))
            .otherwise(F.lit(_INF))
            .alias("dist"),
        )
        .localCheckpoint(eager=True)
    )
    # unreached rows (dist = inf) get a NULL bucket: floor(inf) has no
    # long value (ANSI overflow), and NULL correctly drops them from both
    # the cursor min-scan and the bucket-membership filters until a relax
    # reaches them.
    bucket = F.when(
        F.col("dist") < _INF, F.floor(F.col("dist") / F.lit(delta))
    )
    light_m = F.when(F.col("weight") <= delta, F.col("dist") + F.col("weight")).otherwise(F.lit(_INF))
    heavy_m = F.when(F.col("weight") > delta, F.col("dist") + F.col("weight")).otherwise(F.lit(_INF))

    def relax(cur: DataFrame, frontier: DataFrame, m_expr) -> DataFrame:
        msgs = plan.messages(frontier, {"m": m_expr}, {"m": F.min("m")})
        better = F.least(F.col("dist"), F.coalesce(F.col("m"), F.col("dist")))
        return cur.join(msgs, "vid", "left").select(
            "vid",
            better.alias("dist"),
            (better < F.col("dist")).cast("int").alias("changed"),
        )

    iterations = 0
    metrics: list[dict] = []
    cur_bucket = -1
    for _ in range(max_buckets):
        nxt = state.filter(bucket > cur_bucket).agg(
            F.min(bucket).alias("b")
        ).collect()[0]["b"]
        if nxt is None:
            break
        i = int(nxt)
        # light phase to fixpoint within bucket i
        frontier = state.filter(bucket == i).select("vid", "dist")
        while True:
            iterations += 1
            new_state = relax(state, frontier, light_m).localCheckpoint(eager=True)
            frontier = new_state.filter(
                (F.col("changed") == 1) & (bucket == i)
            ).select("vid", "dist")
            n_active = frontier.count()
            release_checkpoint(state)
            state = new_state
            if n_active == 0:
                break
        # one heavy relax from everything bucket i settled
        iterations += 1
        settled = state.filter(bucket == i).select("vid", "dist")
        new_state = relax(state, settled, heavy_m).localCheckpoint(eager=True)
        release_checkpoint(state)
        state = new_state
        metrics.append({"bucket": i})
        cur_bucket = i
    if edge_plan is None:
        plan.unpersist()
    reached = state.filter(F.col("dist") != _INF).select(
        "vid", F.col("dist").alias("distance")
    )
    return PathResult(distances=reached, iterations=iterations, metrics=metrics)


@dataclass
class BellmanFordResult:
    distances: DataFrame  # (vid, distance); -inf on/downstream of a neg cycle
    iterations: int
    negative_cycle: bool
    metrics: list[dict] = field(default_factory=list)


def bellman_ford(
    graph: ProjectedGraph,
    sources,
    max_iterations: int | None = None,
) -> BellmanFordResult:
    """Bellman-Ford SSSP (reference ``gds.bellmanFord``, SURVEY.md §2.D
    Path): weighted shortest paths allowing NEGATIVE edge weights, with
    negative-cycle detection.

    Same label-correcting frontier loop as :func:`sssp` (the BSP relax IS
    distributed Bellman-Ford — each superstep relaxes every edge leaving
    the changed frontier, map-side min-combined), minus the non-negativity
    guard, capped at ``node_count`` supersteps: a shortest simple path has
    ≤ n−1 edges, so an improvement in superstep n proves a negative cycle
    reachable from the source set (the reference flags such routes as
    negativeCycle). When one is detected, every node reachable from the
    still-improving frontier gets distance −inf — those labels would
    otherwise be arbitrary mid-iteration values; −inf is the well-defined
    infimum and makes the output deterministic. One extra BFS, only in
    the cycle case.
    """
    n = max(graph.node_count, 1)
    cap = n if max_iterations is None else min(max_iterations, n)
    res = _relax(
        graph,
        sources,
        weighted=True,
        max_iterations=cap,
        allow_negative=True,
    )
    still_improving = bool(
        res.iterations >= cap
        and res.metrics
        and res.metrics[-1].get("changed", 0) > 0
    )
    # "Still improving at the cap" proves a negative cycle ONLY when the
    # cap is the full n-round Bellman-Ford budget (a shortest simple path
    # has ≤ n−1 edges). With a user-trimmed budget it just means
    # "unconverged" — flagging it as a cycle would poison correct
    # finite distances to −inf.
    full_budget = max_iterations is None or max_iterations >= n
    neg = still_improving and full_budget
    if still_improving and not full_budget:
        import warnings

        warnings.warn(
            f"bellman_ford stopped at max_iterations={max_iterations} < "
            f"node_count={n} while distances were still improving: result "
            "is unconverged and negative-cycle detection was skipped",
            RuntimeWarning,
            stacklevel=2,
        )
    dist = res.distances
    if neg:
        # Seed the poisoned region: nodes whose label still improves in
        # one more relax round over the converged-at-cap distances; BFS
        # from them marks everything downstream of a negative cycle.
        plan = EdgePlan(graph.edges)
        msgs = plan.messages(
            dist.select("vid", F.col("distance").alias("dist")),
            {"m": F.col("dist") + F.col("weight")},
            {"m": F.min("m")},
        )
        seeds = (
            dist.join(msgs, "vid", "left")
            .filter(F.col("m") < F.col("distance"))
            .select("vid")
        )
        reach = _relax(
            graph,
            seeds,
            weighted=False,
            max_iterations=n,
            edge_plan=plan,
        )
        plan.unpersist()
        dist = (
            dist.join(reach.distances.select("vid").withColumn("_p", F.lit(1)), "vid", "left")
            .select(
                "vid",
                F.when(F.col("_p").isNotNull(), F.lit(float("-inf")))
                .otherwise(F.col("distance"))
                .alias("distance"),
            )
        )
    return BellmanFordResult(
        distances=dist,
        iterations=res.iterations,
        negative_cycle=neg,
        metrics=res.metrics,
    )


# ------------------------------------------------- source-target queries --

@dataclass
class SingleSourcePaths:
    distances: DataFrame  # (vid, distance) — reached nodes only
    predecessors: DataFrame  # (vid, pred) — deterministic min-pred tree
    iterations: int


def single_source_paths(
    graph: ProjectedGraph,
    source,
    weighted: bool = True,
    max_iterations: int = 1000,
    sources_are_vids: bool = False,
    edge_plan: EdgePlan | None = None,
    excluded_nodes=None,
    excluded_edges=None,
) -> SingleSourcePaths:
    """Shortest-path tree from ``source`` (the reference's Dijkstra
    source-target family needs paths, not just distances — SURVEY.md §2.D
    Path): distances plus a deterministic predecessor per reached node.

    Predecessors are NOT tracked during relaxation: the pred captured when
    a distance last improves depends on which superstep a message arrives
    in, which is neither deterministic across plans nor SQL-expressible.
    Instead ONE post-pass join recomputes ``pred(v) = min u`` with
    ``dist(u) + w(u,v) = dist(v)`` — the same argmin rule a SQL oracle can
    state. Exact for integer-valued weights (doubles are exact there); for
    general float weights the equality is still consistent engine-side
    because both sides replay identical additions.
    """
    res = _relax(
        graph,
        [source],
        weighted,
        max_iterations,
        edge_plan=edge_plan,
        sources_are_vids=sources_are_vids,
        excluded_nodes=excluded_nodes,
        excluded_edges=excluded_edges,
    )
    edges = graph.edges
    excl = _exclusion_cond(excluded_nodes, excluded_edges, "src", "dst")
    if excl is not None:
        edges = edges.filter(~excl)
    step_w = F.col("weight") if weighted else F.lit(1.0)
    dists = res.distances.localCheckpoint(eager=True)
    du = dists.select(F.col("vid").alias("src"), F.col("distance").alias("_du"))
    dv = dists.select(F.col("vid").alias("dst"), F.col("distance").alias("_dv"))
    preds = (
        edges.join(du, "src")
        .join(dv, "dst")
        .filter(F.col("_du") + step_w == F.col("_dv"))
        .groupBy(F.col("dst").alias("vid"))
        .agg(F.min("src").alias("pred"))
        .localCheckpoint(eager=True)
    )
    return SingleSourcePaths(distances=dists, predecessors=preds, iterations=res.iterations)


_PRED_COLLECT_THRESHOLD = 200_000


def _pred_map_or_none(preds: DataFrame) -> dict | None:
    """Collect the pred tree driver-side when small (walks become free);
    a huge tree stays distributed and the walk does per-hop lookups."""
    if preds.count() > _PRED_COLLECT_THRESHOLD:
        return None
    return {int(r["vid"]): int(r["pred"]) for r in preds.collect()}


def _walk_back(
    preds: DataFrame,
    source_vid: int,
    target_vid: int,
    max_len: int,
    pred_map: dict | None = None,
) -> list[int] | None:
    """Follow the predecessor tree target → source; returns the vid path
    source-first, or None if the chain breaks (unreached). With a
    driver-collected ``pred_map`` the walk is free; otherwise O(path
    length) one-row lookups on a checkpointed table — a point query, like
    the reference's path streaming."""
    chain = [int(target_vid)]
    cur = int(target_vid)
    while cur != int(source_vid):
        if pred_map is not None:
            if cur not in pred_map:
                return None
            cur = pred_map[cur]
        else:
            row = preds.filter(F.col("vid") == cur).collect()
            if not row:
                return None
            cur = int(row[0]["pred"])
        chain.append(cur)
        if len(chain) > max_len:
            raise ValueError("predecessor chain exceeded the node count")
    chain.reverse()
    return chain


def _vids_to_orig(graph: ProjectedGraph, vids: list[int]) -> list[int]:
    m = {
        r["vid"]: r["orig_id"]
        for r in graph.nodes.filter(
            F.col("vid").isin([int(v) for v in set(vids)])
        ).collect()
    }
    return [m[int(v)] for v in vids]


def _sp_schema(graph: ProjectedGraph):
    """Result schema follows the graph's original id type."""
    from pyspark.sql.types import ArrayType, DoubleType, StructField, StructType

    t = graph.nodes.schema["orig_id"].dataType
    return StructType(
        [
            StructField("source", t),
            StructField("target", t),
            StructField("total_cost", DoubleType()),
            StructField("node_ids", ArrayType(t)),
        ]
    )


def _yens_schema(graph: ProjectedGraph):
    from pyspark.sql.types import (
        ArrayType,
        DoubleType,
        IntegerType,
        StructField,
        StructType,
    )

    t = graph.nodes.schema["orig_id"].dataType
    return StructType(
        [
            StructField("index", IntegerType()),
            StructField("total_cost", DoubleType()),
            StructField("node_ids", ArrayType(t)),
        ]
    )


def path_to(
    graph: ProjectedGraph, sp: SingleSourcePaths, source, target
) -> DataFrame:
    """Reconstruct the path to ``target`` from an existing shortest-path
    tree: one row (source, target, total_cost, node_ids in original ids);
    empty DataFrame when unreachable. Reuse this to stream many targets
    off ONE ``single_source_paths`` run."""
    spark = graph.nodes.sparkSession
    trow = graph.nodes.filter(F.col("orig_id") == target).collect()
    srow = graph.nodes.filter(F.col("orig_id") == source).collect()
    if not trow or not srow:
        return spark.createDataFrame([], _sp_schema(graph))
    svid, tvid = srow[0]["vid"], trow[0]["vid"]
    drow = sp.distances.filter(F.col("vid") == tvid).collect()
    if not drow:
        return spark.createDataFrame([], _sp_schema(graph))
    chain = _walk_back(
        sp.predecessors, svid, tvid, graph.node_count + 1,
        pred_map=_pred_map_or_none(sp.predecessors),
    )
    if chain is None:
        return spark.createDataFrame([], _sp_schema(graph))
    return spark.createDataFrame(
        [(source, target, float(drow[0]["distance"]), _vids_to_orig(graph, chain))],
        _sp_schema(graph),
    )


def shortest_path(
    graph: ProjectedGraph,
    source,
    target,
    weighted: bool = True,
    max_iterations: int = 1000,
) -> DataFrame:
    """Source-target shortest path with path reconstruction (reference
    ``gds.shortestPath.dijkstra``): one row (source, target, total_cost,
    node_ids in original ids); empty DataFrame when unreachable."""
    sp = single_source_paths(graph, source, weighted, max_iterations)
    return path_to(graph, sp, source, target)


def astar(
    graph: ProjectedGraph,
    source,
    target,
    heuristic: DataFrame | None = None,
    weighted: bool = True,
    max_iterations: int = 1000,
) -> DataFrame:
    """A* source-target shortest path (reference ``gds.shortestPath.astar``
    — there the heuristic is haversine over lat/lon node properties; here
    any admissible per-node estimate ``heuristic``: (vid, h) toward the
    target, ``None`` → h ≡ 0 = plain Dijkstra-with-target).

    BSP shape: the label-correcting relax loop plus A*'s two prunings,
    both expression-level — (a) once the target has a known distance B,
    frontier entries with g(v) + h(v) > B cannot lie on a better
    source-target path (admissibility) and stop emitting messages; (b) B
    tightens every superstep via the masterCompute aggregate. Same
    result as Dijkstra; fewer relaxations on heuristically-guided
    graphs. Output: one row (source, target, total_cost, node_ids)."""
    spark = graph.nodes.sparkSession
    srow = graph.nodes.filter(F.col("orig_id") == source).collect()
    trow = graph.nodes.filter(F.col("orig_id") == target).collect()
    if not srow or not trow:
        return spark.createDataFrame([], _sp_schema(graph))
    svid, tvid = int(srow[0]["vid"]), int(trow[0]["vid"])
    plan = EdgePlan(graph.edges)
    h = (
        heuristic.select("vid", F.col("h").cast("double").alias("_h"))
        if heuristic is not None
        else None
    )
    init = graph.nodes.select(
        "vid",
        F.when(F.col("vid") == svid, F.lit(0.0)).otherwise(F.lit(_INF)).alias("dist"),
        F.when(F.col("vid") == svid, F.lit(1)).otherwise(F.lit(0)).alias("changed"),
    )
    step_w = F.col("weight") if weighted else F.lit(1.0)
    bound = {"b": _INF}

    def step(state: DataFrame, i: int) -> DataFrame:
        frontier = state.filter(F.col("changed") == 1).select("vid", "dist")
        if bound["b"] != _INF:
            if h is not None:
                frontier = frontier.join(h, "vid", "left").filter(
                    F.col("dist") + F.coalesce("_h", F.lit(0.0)) <= F.lit(bound["b"])
                ).select("vid", "dist")
            else:
                frontier = frontier.filter(F.col("dist") <= F.lit(bound["b"]))
        msgs = plan.messages(frontier, {"m": F.col("dist") + step_w}, {"m": F.min("m")})
        better = F.least(F.col("dist"), F.coalesce(F.col("m"), F.col("dist")))
        return state.join(msgs, "vid", "left").select(
            "vid",
            better.alias("dist"),
            (better < F.col("dist")).cast("int").alias("changed"),
        )

    def stop(m: dict, i: int) -> bool:
        bound["b"] = min(bound["b"], m["target_dist"])
        return m["changed"] == 0

    res = run_pregel(
        init,
        step,
        max_iterations=max_iterations,
        metrics={
            "changed": F.coalesce(F.sum("changed"), F.lit(0)),
            "target_dist": F.coalesce(
                F.min(F.when(F.col("vid") == tvid, F.col("dist"))), F.lit(_INF)
            ),
        },
        stop_fn=stop,
    )
    plan.unpersist()
    if bound["b"] == _INF:
        return spark.createDataFrame([], _sp_schema(graph))
    dists = res.state.filter(F.col("dist") != _INF).select(
        "vid", F.col("dist").alias("distance")
    ).localCheckpoint(eager=True)
    step_w2 = F.col("weight") if weighted else F.lit(1.0)
    du = dists.select(F.col("vid").alias("src"), F.col("distance").alias("_du"))
    dv = dists.select(F.col("vid").alias("dst"), F.col("distance").alias("_dv"))
    preds = (
        graph.edges.join(du, "src")
        .join(dv, "dst")
        .filter(F.col("_du") + step_w2 == F.col("_dv"))
        .groupBy(F.col("dst").alias("vid"))
        .agg(F.min("src").alias("pred"))
        .localCheckpoint(eager=True)
    )
    sp = SingleSourcePaths(distances=dists, predecessors=preds, iterations=res.iterations)
    return path_to(graph, sp, source, target)


def yens_k_shortest(
    graph: ProjectedGraph,
    source,
    target,
    k: int = 3,
    weighted: bool = True,
    max_iterations: int = 1000,
) -> DataFrame:
    """K loopless shortest paths (Yen's algorithm — reference
    ``gds.shortestPath.yens``) → (index, total_cost, node_ids) rows,
    deterministic: spur relaxations use the min-pred tree rule and
    candidates are ordered by (cost, path lexicographic).

    Driver-orchestrated point query: O(K·|path|) spur relaxations, each a
    BSP relax over the filtered edge set — the same repeated-bounded-
    Dijkstra shape the reference uses, with the per-run work distributed.
    """
    spark = graph.nodes.sparkSession
    schema = _yens_schema(graph)
    srow = graph.nodes.filter(F.col("orig_id") == source).collect()
    trow = graph.nodes.filter(F.col("orig_id") == target).collect()
    if not srow or not trow:
        return spark.createDataFrame([], schema)
    svid, tvid = int(srow[0]["vid"]), int(trow[0]["vid"])
    base = graph.edges.select("src", "dst", "weight").localCheckpoint(eager=True)
    # ONE shared edge plan for the initial run and every spur run — the
    # spur exclusions are expression-level masks, not new edge tables
    plan = EdgePlan(base)

    def _cum_costs(p: list[int]) -> list[float]:
        pairs = list(zip(p, p[1:]))
        if not pairs:
            return [0.0]
        cond = None
        for u, v in pairs:
            c = (F.col("src") == u) & (F.col("dst") == v)
            cond = c if cond is None else (cond | c)
        wmap = {
            (r["src"], r["dst"]): (float(r["weight"]) if weighted else 1.0)
            for r in base.filter(cond).collect()
        }
        cum = [0.0]
        for u, v in pairs:
            cum.append(cum[-1] + wmap[(u, v)])
        return cum

    sp = single_source_paths(
        graph, source, weighted, max_iterations, edge_plan=plan
    )
    drow = sp.distances.filter(F.col("vid") == tvid).collect()
    if not drow:
        plan.unpersist()
        return spark.createDataFrame([], schema)
    p0 = _walk_back(
        sp.predecessors, svid, tvid, graph.node_count + 1,
        pred_map=_pred_map_or_none(sp.predecessors),
    )
    cums: dict[tuple, list[float]] = {tuple(p0): _cum_costs(p0)}
    A: list[tuple[float, list[int]]] = [(cums[tuple(p0)][-1], p0)]
    B: list[tuple[float, list[int]]] = []
    for _ki in range(1, k):
        prev = A[-1][1]
        cum_prev = cums[tuple(prev)]
        for i in range(len(prev) - 1):
            spur = prev[i]
            root = prev[: i + 1]
            root_cost = cum_prev[i]
            removed_edges = {
                (p[i], p[i + 1])
                for _c, p in A
                if len(p) > i + 1 and p[: i + 1] == root
            }
            removed_nodes = [int(x) for x in root[:-1]]
            spd = single_source_paths(
                graph, spur, weighted, max_iterations,
                sources_are_vids=True, edge_plan=plan,
                excluded_nodes=removed_nodes, excluded_edges=removed_edges,
            )
            srow2 = spd.distances.filter(F.col("vid") == tvid).collect()
            if not srow2:
                continue
            spath = _walk_back(
                spd.predecessors, spur, tvid, graph.node_count + 1,
                pred_map=_pred_map_or_none(spd.predecessors),
            )
            if spath is None:
                continue
            cand = root[:-1] + spath
            total = root_cost + float(srow2[0]["distance"])
            if cand in [p for _c, p in A] or (total, cand) in B:
                continue
            B.append((total, cand))
        if not B:
            break
        B.sort(key=lambda t: (t[0], t[1]))
        best = B.pop(0)
        A.append(best)
        cums[tuple(best[1])] = _cum_costs(best[1])
    plan.unpersist()
    rows = [
        (i, float(c), _vids_to_orig(graph, p)) for i, (c, p) in enumerate(A)
    ]
    return spark.createDataFrame(rows, schema)


def all_pairs_hops(
    graph: ProjectedGraph, sources: DataFrame | None = None, max_iterations: int = 1000
) -> DataFrame:
    """Multi-source BFS: hop distances for every (source, node) pair in
    ONE level loop (``plans.pregel.expand_levels`` — the reference's
    MS-BFS idea, relationally: the frontier is (src, vid) pairs instead
    of per-source bitsets). → (src, vid, hops). ``sources=None`` uses
    every node (exact all-pairs; state is O(n · reach) — sample sources
    at scale).
    """
    from pyspark.storagelevel import StorageLevel

    edges = graph.edges.select(F.col("src").alias("u"), F.col("dst").alias("v")).distinct()
    edges = edges.persist(StorageLevel.MEMORY_AND_DISK)
    edges.count()
    if sources is None:
        sources = graph.nodes.select("vid")
    settled, _ = expand_levels(
        sources.select(F.col("vid").alias("src"), "vid"),
        lambda frontier: frontier.join(edges, frontier["vid"] == edges["u"]).select(
            "src", F.col("v").alias("vid")
        ),
        max_iterations,
    )
    edges.unpersist()
    return settled.withColumnRenamed("level", "hops")


def all_pairs_distances(
    graph: ProjectedGraph,
    sources: DataFrame | None = None,
    max_iterations: int = 1000,
) -> DataFrame:
    """Multi-source WEIGHTED shortest-path distances (reference
    ``gds.allShortestPaths`` stream): → (src, vid, distance) for every
    reached (source, node) pair, in ONE pair-state superstep loop (the
    weighted sibling of :func:`all_pairs_hops`). ``sources=None`` uses
    every node — exact APSP, state O(n · reach); pass a sampled source
    set at scale (the same pivot trade closeness makes). Requires
    non-negative weights (use :func:`bellman_ford` per source for
    negatives)."""
    from pyspark.storagelevel import StorageLevel

    neg = graph.edges.filter(F.col("weight") < 0).limit(1).count()
    if neg:
        raise ValueError("all_pairs_distances requires non-negative edge weights")
    edges = graph.edges.select(
        F.col("src").alias("u"), F.col("dst").alias("v"), "weight"
    ).persist(StorageLevel.MEMORY_AND_DISK)
    edges.count()
    if sources is None:
        sources = graph.nodes.select("vid")
    init = sources.select(
        F.col("vid").alias("src"),
        F.col("vid").alias("vid"),
        F.lit(0.0).alias("dist"),
        F.lit(1).alias("changed"),
    )

    def step(state: DataFrame, i: int) -> DataFrame:
        frontier = state.filter(F.col("changed") == 1).select("src", "vid", "dist")
        msgs = (
            frontier.join(edges, frontier["vid"] == edges["u"])
            .groupBy("src", F.col("v").alias("vid"))
            .agg(F.min(F.col("dist") + F.col("weight")).alias("m"))
        )
        return (
            state.select("src", "vid", "dist")
            .join(msgs, ["src", "vid"], "full_outer")
            .select(
                "src",
                "vid",
                F.least(
                    F.coalesce("dist", F.lit(_INF)), F.coalesce("m", F.lit(_INF))
                ).alias("dist"),
                (
                    F.coalesce("m", F.lit(_INF)) < F.coalesce("dist", F.lit(_INF))
                ).cast("int").alias("changed"),
            )
        )

    state = run_pregel(
        init,
        step,
        max_iterations=max_iterations,
        metrics={"changed": F.coalesce(F.sum("changed"), F.lit(0))},
        stop_fn=lambda m, i: m["changed"] == 0,
    ).state
    edges.unpersist()
    return state.select("src", "vid", F.col("dist").alias("distance"))


def closeness(
    graph: ProjectedGraph,
    wasserman_faust: bool = False,
    max_iterations: int = 1000,
    sample_sources: int | None = None,
) -> DataFrame:
    """Closeness centrality (reference ``gds.closeness``) via multi-source
    BFS: c(v) = (r−1) / Σ_u d(v,u) over the r nodes v reaches along
    out-edges; the Wasserman-Faust variant multiplies by (r−1)/(n−1).
    → (vid, closeness, harmonic): harmonic c_h(v) = Σ 1/d / (n−1) comes
    free from the same pair table. (Run on ``graph.to_undirected()`` or a
    REVERSE projection for undirected / in-distance variants.)

    ``sample_sources=None`` is the exact mode: pair state is O(n · reach)
    — a scale-killer on a connected 100-TB graph; it exists for parity and
    small/medium graphs. At scale pass ``sample_sources=k``: the k
    smallest vids become deterministic pivots (Eppstein–Wang style, but
    deterministic for the resume/oracle story). The pivot BFS runs over
    the REVERSED edge table, so a pivot reaching v at hop d means
    d(v, p) = d — the same out-distance quantity exact mode measures —
    and every node v is scored from its distances TO the pivots:
    ĉ(v) = |P_v| / Σ_{p∈P_v} d(v,p) (the inverse mean pivot distance;
    exact closeness when pivot-set = all), ĥ(v) = Σ_p 1/d(v,p) / k.
    O(k·n) pair state. Wasserman-Faust applies to the exact mode only.
    """
    if sample_sources is not None:
        from dataclasses import replace as _dc_replace

        k = min(sample_sources, graph.node_count)
        pivots = graph.nodes.select("vid").filter(F.col("vid") < k)
        # BFS from pivots along REVERSED edges: d_rev(p, v) == d(v, p).
        # (On an UNDIRECTED projection this is a no-op semantically.)
        rev = _dc_replace(
            graph,
            edges=graph.edges.select(
                F.col("dst").alias("src"), F.col("src").alias("dst"), "weight"
            ),
        )
        pairs = all_pairs_hops(rev, sources=pivots, max_iterations=max_iterations)
        per = pairs.filter(F.col("hops") > 0).groupBy("vid").agg(
            F.count(F.lit(1)).alias("p_r"),
            F.sum("hops").alias("sum_d"),
            F.sum(1.0 / F.col("hops")).alias("sum_inv"),
        )
        out = per.select(
            "vid",
            (F.col("p_r") / F.col("sum_d")).alias("closeness"),
            (F.col("sum_inv") / F.lit(float(k))).alias("harmonic"),
        )
    else:
        pairs = all_pairs_hops(graph, max_iterations=max_iterations)
        n = max(graph.node_count, 1)
        per = pairs.filter(F.col("hops") > 0).groupBy("src").agg(
            F.count(F.lit(1)).alias("r1"),  # reached minus self
            F.sum("hops").alias("sum_d"),
            F.sum(1.0 / F.col("hops")).alias("sum_inv"),
        )
        base = F.col("r1") / F.col("sum_d")
        c = base * ((F.col("r1")) / F.lit(float(n - 1))) if wasserman_faust else base
        out = per.select(
            F.col("src").alias("vid"),
            c.alias("closeness"),
            (F.col("sum_inv") / F.lit(float(n - 1))).alias("harmonic"),
        )
    return (
        graph.nodes.select("vid")
        .join(out, "vid", "left")
        .select(
            "vid",
            F.coalesce("closeness", F.lit(0.0)).alias("closeness"),
            F.coalesce("harmonic", F.lit(0.0)).alias("harmonic"),
        )
    )
