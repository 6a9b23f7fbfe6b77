"""WCC star rounds and the triangle count: results against oracles on
hub-heavy and long-chain graphs. The superstep loop: observed metrics,
checkpoint lifetime across calls of every algorithm built on it, and the
static-planning scope (the caller's AQE setting survives every exit)."""

import random

import pytest
from pyspark.sql import functions as F

from graph_data_science_spark.algorithms.betweenness import betweenness
from graph_data_science_spark.algorithms.bridges import bridges
from graph_data_science_spark.algorithms.centrality import hits
from graph_data_science_spark.algorithms.coloring import k1coloring
from graph_data_science_spark.algorithms.hashgnn import hash_gnn
from graph_data_science_spark.algorithms.influence import celf_influence_maximization
from graph_data_science_spark.algorithms.labelprop import label_propagation
from graph_data_science_spark.algorithms.maxkcut import approx_max_k_cut
from graph_data_science_spark.algorithms.pagerank import page_rank
from graph_data_science_spark.algorithms.paths import (
    all_pairs_distances,
    all_pairs_hops,
    delta_stepping,
)
from graph_data_science_spark.algorithms.scc import scc
from graph_data_science_spark.algorithms.sllpa import sllpa
from graph_data_science_spark.algorithms.spanning import minimum_spanning_forest
from graph_data_science_spark.algorithms.triangles import triangle_count
from graph_data_science_spark.algorithms.wcc import wcc
from graph_data_science_spark.plans.pregel import expand_levels, release_checkpoint, run_pregel
from graph_data_science_spark.projection import project

from tests import fixtures, oracles

AQE = "spark.sql.adaptive.enabled"


def _project(spark, nodes, edges, **kw):
    df = fixtures.to_df_int(spark, nodes, edges)
    nodes_df = spark.createDataFrame([(n,) for n in nodes], "id long")
    return project(df, nodes=nodes_df, **kw)


def _components_by_id(g, comp_df):
    """Original id → original id of its component (the min member id)."""
    orig = {r["vid"]: r["orig_id"] for r in g.nodes.collect()}
    return {orig[r["vid"]]: orig[r["component"]] for r in comp_df.collect()}


def _persisted(spark) -> set:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())


def test_wcc_two_phase_powerlaw_hubs(spark):
    # Hubs put hundreds of rows in one window partition of a star round.
    nodes, edges = fixtures.powerlaw(400, 1200, seed=5)
    g = _project(spark, nodes, edges)
    res = wcc(g, algorithm="two_phase")
    assert _components_by_id(g, res.components) == oracles.wcc_oracle(nodes, edges)


def test_wcc_two_phase_long_chain(spark):
    # A 240-node path with shuffled ids: many star rounds before the
    # fingerprint stops changing.
    ids = list(range(240))
    random.Random(3).shuffle(ids)
    edges = [(a, b, 1.0) for a, b in zip(ids, ids[1:])]
    g = _project(spark, ids, edges)
    res = wcc(g, algorithm="two_phase")
    assert res.iterations > 3
    assert _components_by_id(g, res.components) == oracles.wcc_oracle(ids, edges)


def test_wcc_two_phase_without_edges(spark):
    # Every edge is under the threshold: the observed fingerprint of an
    # empty round must still arrive, and each node is its own component.
    nodes, edges = [1, 2, 3], [(1, 2, 1.0), (2, 3, 1.0)]
    g = _project(spark, nodes, edges)
    res = wcc(g, threshold=5.0, with_stats=True)
    assert _components_by_id(g, res.components) == {1: 1, 2: 2, 3: 3}
    assert res.component_count == 3


def test_wcc_keeps_only_its_last_round(spark):
    nodes, edges = fixtures.gnm(150, 200, seed=9)
    g = _project(spark, nodes, edges)
    expected = oracles.wcc_oracle(nodes, edges)
    results = []
    for _ in range(2):
        before = _persisted(spark)
        results.append(wcc(g, algorithm="two_phase"))
        assert len(_persisted(spark) - before) <= 1
    # The kept round is what each lazy result reads.
    for res in results:
        assert _components_by_id(g, res.components) == expected


def _k1coloring(g):
    return k1coloring(g).colors


def _hash_gnn(g):
    # arrays are unhashable: compare each embedding as one string
    return hash_gnn(g, iterations=3).embeddings.select(
        "vid", F.array_join("embedding", ",")
    )


def _betweenness(g):
    return betweenness(g).scores


# (run, undirected projection, result has one row per node, bound on
# new persisted RDDs per call). Algorithms that symmetrize their edges
# run on an undirected projection; CELF builds its result on the driver.
@pytest.mark.parametrize(
    "run, undirected, per_node, bound",
    [
        pytest.param(
            lambda g: page_rank(g, max_iterations=5).scores, False, True, 1, id="pagerank"
        ),
        pytest.param(
            lambda g: page_rank(g, max_iterations=5, executor="csr").scores,
            False, True, 1, id="pagerank_csr",
        ),
        pytest.param(lambda g: label_propagation(g).labels, False, True, 1, id="labelprop"),
        pytest.param(
            lambda g: wcc(g, algorithm="propagation").components,
            False, True, 1, id="wcc_propagation",
        ),
        pytest.param(lambda g: scc(g).components, False, True, 1, id="scc"),
        pytest.param(_k1coloring, True, True, 1, id="k1coloring"),
        pytest.param(
            lambda g: approx_max_k_cut(g, k=3).assignments, True, True, 1, id="max_k_cut"
        ),
        pytest.param(lambda g: sllpa(g).communities, True, False, 1, id="sllpa"),
        pytest.param(_hash_gnn, True, True, 1, id="hash_gnn"),
        pytest.param(all_pairs_distances, False, False, 1, id="all_pairs_distances"),
        pytest.param(all_pairs_hops, False, False, 1, id="all_pairs_hops"),
        pytest.param(
            lambda g: delta_stepping(g, [0]).distances, False, False, 1, id="delta_stepping"
        ),
        pytest.param(
            lambda g: celf_influence_maximization(g).seeds, False, False, 0, id="celf"
        ),
        pytest.param(_betweenness, False, True, 1, id="betweenness"),
        pytest.param(lambda g: hits(g).scores, False, True, 1, id="hits"),
        # WCC's last round, the BFS levels and the covering pairs stay:
        # the lazy result and articulation_points read them
        pytest.param(lambda g: bridges(g).bridges, True, False, 3, id="bridges"),
    ],
)
def test_superstep_algorithms_keep_one_checkpoint(spark, run, undirected, per_node, bound):
    nodes, edges = fixtures.powerlaw(300, 900, seed=11)
    g = _project(spark, nodes, edges, orientation="UNDIRECTED" if undirected else "NATURAL")
    results = []
    for _ in range(2):
        before = _persisted(spark)
        results.append(run(g))
        assert len(_persisted(spark) - before) <= bound
    first, second = ({tuple(r) for r in res.collect()} for res in results)
    assert first == second
    if per_node:
        assert len(first) == len(nodes)
    else:
        assert first


def test_spanning_forest_keeps_chosen_and_one_wcc_round_per_merge(spark):
    # Every phase but the last (which picks no edge) merges components with
    # WCC, whose last round stays persisted: a WCC result has no handle to
    # free it by yet. So a call leaves the chosen edges plus one round per
    # merge phase, and a leak per phase would exceed the bound.
    nodes, edges = fixtures.powerlaw(300, 900, seed=11)
    g = _project(spark, nodes, edges, orientation="UNDIRECTED")
    results = []
    for _ in range(2):
        before = _persisted(spark)
        msf = minimum_spanning_forest(g)
        assert msf.phases >= 2
        assert len(_persisted(spark) - before) <= 1 + (msf.phases - 1)
        results.append({tuple(r) for r in msf.edges.collect()})
    assert results[0] == results[1] and results[0]


def _bfs(spark, seed, edges, max_levels):
    """expand_levels over (src, vid) pairs along (u, v) edges; each call
    leaves at most its result persisted. → ({(src, vid): level}, depth)."""
    edge_df = spark.createDataFrame(edges, "u long, v long")
    before = _persisted(spark)
    settled, depth = expand_levels(
        spark.createDataFrame(seed, "src long, vid long"),
        lambda f: f.join(edge_df, f["vid"] == edge_df["u"]).select(
            "src", F.col("v").alias("vid")
        ),
        max_levels,
    )
    assert len(_persisted(spark) - before) <= 1
    return {(r["src"], r["vid"]): r["level"] for r in settled.collect()}, depth


def test_expand_levels_settles_each_pair_once(spark):
    # 3 → 1 leads back to a level 1 already settled for source 0; from
    # source 2 it closes the cycle 2 → 3 → 1 → 2.
    edges = [(0, 1), (1, 2), (2, 3), (3, 1)]
    levels, depth = _bfs(spark, [(0, 0), (2, 2)], edges, 10)
    assert levels == {
        (0, 0): 0, (0, 1): 1, (0, 2): 2, (0, 3): 3,
        (2, 2): 0, (2, 3): 1, (2, 1): 2,
    }
    assert depth == 3


def test_expand_levels_empty_first_level(spark):
    levels, depth = _bfs(spark, [(5, 5)], [(0, 1)], 10)
    assert (levels, depth) == ({(5, 5): 0}, 0)


def test_expand_levels_stops_at_max_levels(spark):
    chain = [(i, i + 1) for i in range(5)]
    levels, depth = _bfs(spark, [(0, 0)], chain, 2)
    assert (levels, depth) == ({(0, 0): 0, (0, 1): 1, (0, 2): 2}, 2)


def test_release_checkpoint_rejects_a_derived_frame(spark):
    done = spark.range(3).localCheckpoint(eager=True)
    with pytest.raises(TypeError, match="localCheckpoint returned"):
        release_checkpoint(done.select("id"))
    release_checkpoint(done)


def test_run_pregel_observes_metrics_on_empty_state(spark):
    init = spark.createDataFrame([], "vid long, x int")
    res = run_pregel(
        init,
        lambda state, i: state.selectExpr("vid", "x + 1 AS x"),
        max_iterations=5,
        metrics={"total": F.coalesce(F.sum("x"), F.lit(0))},
        stop_fn=lambda m, i: m["total"] == 0,
    )
    assert (res.iterations, res.converged) == (1, True)
    assert res.metrics == [{"total": 0, "superstep": 0}]


def test_run_pregel_metric_history_and_stop(spark):
    # x counts down from vid to 0: after superstep i the largest x is
    # 3 - i, and the first state with no positive x follows superstep 3.
    init = spark.range(5).selectExpr("id AS vid", "CAST(id AS INT) AS x")
    stops = []

    def stop(m, i):
        stops.append(i)
        return m["positive"] == 0

    res = run_pregel(
        init,
        lambda state, i: state.selectExpr("vid", "greatest(x - 1, 0) AS x"),
        max_iterations=10,
        metrics={
            "top": F.coalesce(F.max("x"), F.lit(0)),
            "positive": F.coalesce(F.sum((F.col("x") > 0).cast("int")), F.lit(0)),
        },
        stop_fn=stop,
    )
    assert res.metrics == [
        {"top": 3 - i, "positive": 3 - i, "superstep": i} for i in range(4)
    ]
    assert stops == [0, 1, 2, 3]
    assert (res.iterations, res.converged) == (4, True)
    assert res.state.agg(F.max("x")).collect()[0][0] == 0


def test_triangle_count_powerlaw_undirected(spark):
    nodes, edges = fixtures.powerlaw(200, 900, seed=13)
    g = _project(spark, nodes, edges, orientation="UNDIRECTED")
    res = triangle_count(g)
    per, total = oracles.triangles_oracle(nodes, edges)
    orig = {r["vid"]: r["orig_id"] for r in g.nodes.collect()}
    assert {orig[r["vid"]]: r["triangles"] for r in res.per_node.collect()} == per
    assert res.global_count == total > 0


@pytest.mark.parametrize("aqe", ["true", "false"])
def test_triangle_count_restores_aqe(spark, aqe, monkeypatch):
    nodes, edges = fixtures.two_triangles_bridge()
    ids = {n: i for i, n in enumerate(nodes)}
    edges = [(ids[s], ids[d], w) for s, d, w in edges]
    g = _project(spark, list(ids.values()), edges, orientation="UNDIRECTED")
    spark.conf.set(AQE, aqe)
    try:
        assert triangle_count(g).global_count == 2
        assert spark.conf.get(AQE) == aqe

        seen = []

        def failing_count(df):
            seen.append(spark.conf.get(AQE))
            raise RuntimeError("count failed")

        monkeypatch.setattr(type(g.edges), "count", failing_count)
        with pytest.raises(RuntimeError, match="count failed"):
            triangle_count(g)
        assert seen == ["false"]
        assert spark.conf.get(AQE) == aqe
    finally:
        spark.conf.set(AQE, "true")


@pytest.mark.parametrize("aqe", ["true", "false"])
def test_run_pregel_restores_aqe(spark, aqe):
    init = spark.range(5).selectExpr("id AS vid", "0 AS x")
    seen = []

    def step(state, i):
        seen.append(spark.conf.get(AQE))
        return state.selectExpr("vid", "x + 1 AS x")

    def failing_step(state, i):
        seen.append(spark.conf.get(AQE))
        raise RuntimeError("step failed")

    spark.conf.set(AQE, aqe)
    try:
        res = run_pregel(init, step, max_iterations=2)
        assert res.iterations == 2
        assert spark.conf.get(AQE) == aqe
        with pytest.raises(RuntimeError, match="step failed"):
            run_pregel(init, failing_step, max_iterations=2)
        assert spark.conf.get(AQE) == aqe
        assert seen == ["false"] * 3
    finally:
        spark.conf.set(AQE, "true")
