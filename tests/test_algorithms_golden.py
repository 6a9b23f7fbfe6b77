"""Golden tiny-graph tests: engine vs independent oracles (SURVEY.md §5.2-1).

Parity contract (BASELINE.md): PageRank allclose 1e-6 per vertex; WCC /
SCC / LPA / triangles exact after min-original-id canonicalization.
"""

import numpy as np
import pytest
from pyspark.sql import functions as F

from graph_data_science_spark.algorithms.labelprop import label_propagation
from graph_data_science_spark.algorithms.pagerank import page_rank
from graph_data_science_spark.algorithms.scc import _fixpoint_min, scc
from graph_data_science_spark.algorithms.triangles import (
    local_clustering_coefficient,
    triangle_count,
)
from graph_data_science_spark.algorithms.wcc import wcc
from graph_data_science_spark.projection import project

from tests import fixtures, oracles


def _project(spark, nodes, edges, **kw):
    df = fixtures.to_df(spark, nodes, edges)
    nodes_df = spark.createDataFrame([(n,) for n in nodes], "id string")
    return project(df, nodes=nodes_df, **kw)


def _scores_by_id(g, result_df, value_col):
    rows = result_df.join(g.nodes, "vid").select("orig_id", value_col).collect()
    return {r["orig_id"]: r[value_col] for r in rows}


def _canonical_components(g, comp_df):
    """component vid → min original member id, keyed by original id."""
    vid_to_orig = {r["vid"]: r["orig_id"] for r in g.nodes.collect()}
    assign = {
        vid_to_orig[r["vid"]]: r["component"] for r in comp_df.collect()
    }
    groups = {}
    for node, c in assign.items():
        groups.setdefault(c, []).append(node)
    out = {}
    for members in groups.values():
        label = min(members)
        for m in members:
            out[m] = label
    return out


# ---------------------------------------------------------------- PageRank
@pytest.mark.parametrize("name", sorted(fixtures.GOLDEN))
def test_pagerank_golden(spark, name):
    nodes, edges = fixtures.GOLDEN[name]()
    g = _project(spark, nodes, edges)
    res = page_rank(g, max_iterations=20, tolerance=1e-7)
    expected, exp_iters, exp_conv = oracles.pagerank_oracle(nodes, edges)
    got = _scores_by_id(g, res.scores, "score")
    for n in nodes:
        assert got[n] == pytest.approx(expected[n], abs=1e-6), (name, n)
    assert res.iterations == exp_iters
    assert res.did_converge == exp_conv


def test_pagerank_weighted(spark):
    nodes = ["a", "b", "c"]
    edges = [("a", "b", 3.0), ("a", "c", 1.0), ("b", "c", 2.0)]
    g = _project(spark, nodes, edges)
    res = page_rank(g, weighted=True, max_iterations=20)
    expected, _, _ = oracles.pagerank_oracle(nodes, edges, weighted=True)
    got = _scores_by_id(g, res.scores, "score")
    for n in nodes:
        assert got[n] == pytest.approx(expected[n], abs=1e-6)


def test_pagerank_isolated_node_score(spark):
    # isolated node: no in-edges, no out-edges → score = 1 - d
    nodes, edges = fixtures.disconnected()
    g = _project(spark, nodes, edges)
    got = _scores_by_id(g, page_rank(g).scores, "score")
    assert got["z"] == pytest.approx(0.15, abs=1e-9)


def test_pagerank_scalers(spark):
    nodes, edges = fixtures.cycle()
    g = _project(spark, nodes, edges)
    s = _scores_by_id(g, page_rank(g, scaler="l1norm").scores, "score")
    assert sum(s.values()) == pytest.approx(1.0, abs=1e-9)
    mm = _scores_by_id(g, page_rank(g, scaler="minmax").scores, "score")
    assert min(mm.values()) >= 0.0 and max(mm.values()) <= 1.0


# ---------------------------------------------------------------- WCC
@pytest.mark.parametrize("name", sorted(fixtures.GOLDEN))
@pytest.mark.parametrize("algorithm", ["two_phase", "propagation"])
def test_wcc_golden(spark, name, algorithm):
    nodes, edges = fixtures.GOLDEN[name]()
    g = _project(spark, nodes, edges)
    res = wcc(g, algorithm=algorithm)
    got = _canonical_components(g, res.components)
    assert got == oracles.wcc_oracle(nodes, edges), name


def test_wcc_threshold(spark):
    nodes = ["a", "b", "c"]
    edges = [("a", "b", 5.0), ("b", "c", 1.0)]
    g = _project(spark, nodes, edges)
    got = _canonical_components(g, wcc(g, threshold=2.0).components)
    assert got == {"a": "a", "b": "a", "c": "c"}


def test_wcc_consecutive_ids(spark):
    nodes, edges = fixtures.disconnected()
    g = _project(spark, nodes, edges)
    res = wcc(g, consecutive_ids=True, with_stats=True)
    ids = {r["component"] for r in res.components.collect()}
    assert ids == set(range(res.component_count))


# ---------------------------------------------------------------- SCC
@pytest.mark.parametrize("name", sorted(fixtures.GOLDEN))
def test_scc_golden(spark, name):
    nodes, edges = fixtures.GOLDEN[name]()
    g = _project(spark, nodes, edges)
    res = scc(g)
    got = _canonical_components(g, res.components)
    assert got == oracles.scc_oracle(nodes, edges), name


def test_scc_two_cycles_bridged(spark):
    nodes = list("abcdef")
    edges = [
        ("a", "b", 1.0), ("b", "c", 1.0), ("c", "a", 1.0),
        ("c", "d", 1.0),
        ("d", "e", 1.0), ("e", "f", 1.0), ("f", "d", 1.0),
    ]
    g = _project(spark, nodes, edges)
    got = _canonical_components(g, scc(g).components)
    assert got == {"a": "a", "b": "a", "c": "a", "d": "d", "e": "d", "f": "d"}


def test_scc_bridge_into_lower_cycle_needs_two_rounds(spark):
    # d, e, f reach a's cycle, so all six share color a; the mark from a
    # assigns only a, b, c, and d, e, f take a second outer round.
    nodes = list("abcdef")
    edges = [
        ("a", "b", 1.0), ("b", "c", 1.0), ("c", "a", 1.0),
        ("d", "a", 1.0),
        ("d", "e", 1.0), ("e", "f", 1.0), ("f", "d", 1.0),
    ]
    g = _project(spark, nodes, edges)
    res = scc(g)
    assert res.outer_rounds == 2
    assert _canonical_components(g, res.components) == oracles.scc_oracle(nodes, edges)
    with pytest.raises(RuntimeError, match="max_outer_rounds=1"):
        scc(g, max_outer_rounds=1)


def test_scc_fixpoint_raises_at_its_cap(spark):
    # On the path 3→2→1→0 label 0 reaches node 3 in superstep 3, and
    # superstep 4 is the first without a change.
    labels = spark.createDataFrame([(v, v, 1) for v in range(4)], "vid long, label long, chg int")
    edges = spark.createDataFrame([(v + 1, v) for v in range(3)], "src long, dst long")
    with pytest.raises(RuntimeError, match="max_rounds=3"):
        _fixpoint_min(labels, edges, max_rounds=3)
    assert {r["label"] for r in _fixpoint_min(labels, edges, max_rounds=4).collect()} == {0}


# ---------------------------------------------------------------- LPA
def test_lpa_two_communities(spark):
    nodes, edges = fixtures.two_triangles_bridge()
    sym = fixtures.symmetrize(edges)
    g = _project(spark, nodes, sym)
    res = label_propagation(g, max_iterations=10)
    expected, exp_iters, exp_conv = oracles.lpa_oracle(nodes, sym)
    got = _canonical_labels(g, res.labels)
    assert got == _canonical_dict(expected)


def test_lpa_seed_property(spark):
    nodes, edges = fixtures.cycle()
    sym = fixtures.symmetrize(edges)
    g = _project(spark, nodes, sym)
    vid = {r["orig_id"]: r["vid"] for r in g.nodes.collect()}
    seed = g.nodes.sparkSession.createDataFrame(
        [(vid[n], 7) for n in nodes], "vid long, seed_label long"
    )
    res = label_propagation(g, seed=seed, max_iterations=5)
    labels = {r["label"] for r in res.labels.collect()}
    assert labels == {7}
    assert res.did_converge


def _canonical_labels(g, labels_df):
    vid_to_orig = {r["vid"]: r["orig_id"] for r in g.nodes.collect()}
    assign = {vid_to_orig[r["vid"]]: r["label"] for r in labels_df.collect()}
    return _canonical_dict(assign)


def _canonical_dict(assign):
    groups = {}
    for node, c in assign.items():
        groups.setdefault(c, []).append(node)
    out = {}
    for members in groups.values():
        label = min(members)
        for m in members:
            out[m] = label
    return out


# ---------------------------------------------------------------- Triangles
def test_triangles_golden(spark):
    nodes, edges = fixtures.two_triangles_bridge()
    g = _project(spark, nodes, fixtures.symmetrize(edges), orientation="UNDIRECTED")
    # symmetrize + UNDIRECTED projection double-materializes; projection
    # re-aggregates so the simple undirected graph is intact
    res = triangle_count(g)
    per, total = oracles.triangles_oracle(nodes, edges)
    got = _scores_by_id(g, res.per_node, "triangles")
    assert got == per
    assert res.global_count == total == 2


def test_triangles_requires_undirected(spark):
    g = _project(spark, *fixtures.chain())
    with pytest.raises(ValueError):
        triangle_count(g)


def test_triangles_ignore_self_loops(spark):
    nodes = ["a", "b", "c"]
    edges = [("a", "b", 1.0), ("b", "c", 1.0), ("c", "a", 1.0), ("a", "a", 1.0)]
    g = _project(spark, nodes, edges, orientation="UNDIRECTED")
    res = triangle_count(g)
    assert res.global_count == 1
    got = _scores_by_id(g, res.per_node, "triangles")
    assert got == {"a": 1, "b": 1, "c": 1}


def test_triangles_max_degree_exclusion(spark):
    nodes, edges = fixtures.star()
    sym_edges = edges + [("s01", "s02", 1.0)]
    g = _project(spark, nodes, sym_edges, orientation="UNDIRECTED")
    res = triangle_count(g, max_degree=5)
    got = _scores_by_id(g, res.per_node, "triangles")
    assert got["h"] == -1  # excluded hub reports -1 (GDS convention)


def test_local_clustering_coefficient(spark):
    nodes, edges = fixtures.two_triangles_bridge()
    g = _project(spark, nodes, fixtures.symmetrize(edges), orientation="UNDIRECTED")
    got = _scores_by_id(g, local_clustering_coefficient(g), "lcc")
    # a, b, e, f: deg 2, 1 triangle → 2*1/(2*1) = 1.0 ; c, d: deg 3 → 2*1/6
    assert got["a"] == pytest.approx(1.0)
    assert got["c"] == pytest.approx(1.0 / 3.0)
