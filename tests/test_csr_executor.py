"""Executor cross-check (SURVEY.md §4.1 / §5.2-2): the CSR gather-scatter
pandas-UDF path must agree with the relational join path on every
algorithm, on golden fixtures and seeded random graphs."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from graph_data_science_spark.algorithms.labelprop import label_propagation
from graph_data_science_spark.algorithms.pagerank import page_rank
from graph_data_science_spark.algorithms.wcc import _wcc_propagation, wcc
from graph_data_science_spark.plans.csr import CsrPlan
from graph_data_science_spark.plans.messaging import EdgePlan, gather_plan
from graph_data_science_spark.projection import project

from tests import fixtures


def _graph(spark, name, orientation="NATURAL"):
    nodes, edges = fixtures.GOLDEN[name]()
    df = fixtures.to_df(spark, nodes, edges)
    nodes_df = spark.createDataFrame([(n,) for n in nodes], "id string")
    return project(df, nodes=nodes_df, orientation=orientation)


@pytest.mark.parametrize("name", ["chain", "cycle", "star", "disconnected"])
def test_pagerank_executors_agree(spark, name):
    g = _graph(spark, name)
    rel = page_rank(g, tolerance=0.0, max_iterations=8)
    csr = page_rank(g, tolerance=0.0, max_iterations=8, executor="csr")
    a = {r["vid"]: r["score"] for r in rel.scores.collect()}
    b = {r["vid"]: r["score"] for r in csr.scores.collect()}
    assert a.keys() == b.keys()
    assert all(abs(a[k] - b[k]) < 1e-12 for k in a)


@pytest.mark.parametrize("name", ["two_triangles_bridge", "disconnected"])
def test_wcc_executors_agree(spark, name):
    g = _graph(spark, name)
    a = {r["vid"]: r["component"] for r in wcc(g, algorithm="propagation").components.collect()}
    b = {r["vid"]: r["component"] for r in wcc(g, algorithm="propagation_csr").components.collect()}
    assert a == b


def test_lpa_executors_agree(spark):
    g = _graph(spark, "two_triangles_bridge", orientation="UNDIRECTED")
    a = {r["vid"]: r["label"] for r in label_propagation(g, max_iterations=6).labels.collect()}
    b = {
        r["vid"]: r["label"]
        for r in label_propagation(g, max_iterations=6, executor="csr").labels.collect()
    }
    assert a == b


def test_executors_agree_on_random_graph(spark):
    nodes, edges = fixtures.gnm(n=60, m=240, seed=11)
    df = fixtures.to_df(spark, nodes, edges)
    nodes_df = spark.createDataFrame([(n,) for n in nodes], "id string")
    g = project(df, nodes=nodes_df)
    rel = page_rank(g, tolerance=0.0, max_iterations=6, weighted=True)
    csr = page_rank(g, tolerance=0.0, max_iterations=6, weighted=True, executor="csr")
    a = {r["vid"]: r["score"] for r in rel.scores.collect()}
    b = {r["vid"]: r["score"] for r in csr.scores.collect()}
    assert all(abs(a[k] - b[k]) < 1e-10 for k in a)


def test_csr_roundtrip_matches_edge_list(spark):
    """CSR blocks reproduce the exact edge multiset (block build audit)."""
    nodes, edges = fixtures.gnm(n=40, m=150, seed=3)
    df = fixtures.to_df(spark, nodes, edges)
    nodes_df = spark.createDataFrame([(n,) for n in nodes], "id string")
    g = project(df, nodes=nodes_df)
    plan = CsrPlan(g.edges, g.node_count, num_blocks=4)
    back = set()
    for row in plan.blocks.collect():
        lo, indptr, indices = row["lo"], row["indptr"], row["indices"]
        for li in range(len(indptr) - 1):
            for p in range(indptr[li], indptr[li + 1]):
                back.add((lo + li, indices[p]))
    want = {(r["src"], r["dst"]) for r in g.edges.collect()}
    assert back == want
    plan.unpersist()


def _int_graph(spark, nodes, edges, orientation="NATURAL"):
    df = fixtures.to_df_int(spark, nodes, edges)
    nodes_df = spark.createDataFrame([(n,) for n in nodes], "id long")
    return project(df, nodes=nodes_df, orientation=orientation)


def test_weighted_lpa_with_seed_and_node_weights_executors_agree(spark):
    """CSR's weighted ``votes``: integer-valued weights keep every vote sum
    exact, so both executors must pick the same winners."""
    nodes, edges = fixtures.gnm(n=50, m=200, seed=5)
    edges = [(s, d, float(1 + (s * 7 + d) % 4)) for s, d, _ in edges]
    g = _int_graph(spark, nodes, edges, orientation="UNDIRECTED")
    seed = spark.createDataFrame([(v, v % 6) for v in range(0, 50, 3)], "vid long, seed_label long")
    node_w = spark.createDataFrame([(v, float(1 + v % 3)) for v in range(50)], "vid long, w double")

    def labels(executor):
        res = label_propagation(
            g, max_iterations=6, weighted=True, seed=seed, node_weights=node_w, executor=executor
        )
        return {r["vid"]: r["label"] for r in res.labels.collect()}

    rel = labels("relational")
    assert rel == labels("csr")
    assert any(rel[v] != v for v in nodes if v % 3)  # unseeded vertices adopted labels


def _rows(df, cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def test_gather_and_votes_agree_between_plans(spark):
    """EdgePlan (salted) and CsrPlan answer ``gather`` and ``votes`` alike,
    on the full state, on a frontier subset, and on an empty state."""
    nodes, edges = fixtures.powerlaw(n=200, m=1200, seed=7)
    edges = [(s, d, float(1 + (s + 3 * d) % 5)) for s, d, _ in edges]
    g = _int_graph(spark, nodes, edges)
    rel = EdgePlan(g.edges, salt_threshold=8)
    assert rel.hot_count > 0
    csr = CsrPlan(g.edges, g.node_count, num_blocks=4)
    state = g.nodes.select(
        "vid", (F.col("vid") * 0.5 + 1).alias("x"), (F.col("vid") % 7).alias("label"),
        (F.col("vid") % 3 + 1.0).alias("nw"),
    )
    frontier = state.filter(F.col("vid") % 5 == 0)
    empty = state.filter(F.lit(False))
    for st in (state, frontier, empty):
        for op, weighted in (("sum", False), ("sum", True), ("min", False), ("min", True)):
            a = rel.gather(st, "x", op, weighted)
            b = csr.gather(st, "x", op, weighted)
            assert a.dtypes == b.dtypes
            ra, rb = _rows(a, ["vid", "msg"]), _rows(b, ["vid", "msg"])
            assert [r[0] for r in ra] == [r[0] for r in rb]
            assert all(abs(x[1] - y[1]) < 1e-9 for x, y in zip(ra, rb)), (op, weighted)
            assert (len(ra) == 0) == (st is empty)
        # an unweighted min keeps the value's type (WCC labels stay long)
        a, b = rel.gather(st, "label", "min"), csr.gather(st, "label", "min")
        assert a.dtypes == b.dtypes and dict(a.dtypes)["msg"] == "bigint"
        assert _rows(a, ["vid", "msg"]) == _rows(b, ["vid", "msg"])
        for weighted in (False, True):
            a = rel.votes(st, "label", "nw", weighted)
            b = csr.votes(st, "label", "nw", weighted)
            assert a.dtypes == b.dtypes
            assert _rows(a, ["vid", "label", "vote"]) == _rows(b, ["vid", "label", "vote"])
    rel.unpersist()
    csr.unpersist()


def test_prebuilt_csr_plan_is_reused_and_left_persisted(spark):
    g = _graph(spark, "cycle")
    def scores(**kw):
        res = page_rank(g, tolerance=0.0, max_iterations=5, **kw)
        return {r["vid"]: r["score"] for r in res.scores.collect()}

    want = scores(executor="csr")
    plan = gather_plan(g.edges, g.node_count, "csr")
    for _ in range(2):
        assert scores(edge_plan=plan) == want
    assert plan.blocks.is_cached  # the caller owns the plan
    plan.unpersist()


@pytest.mark.parametrize("executor", ["CSR", "csv"])
def test_unknown_executor_raises(spark, executor):
    g = _graph(spark, "chain")
    with pytest.raises(ValueError, match="executor"):
        page_rank(g, max_iterations=2, executor=executor)
    with pytest.raises(ValueError, match="executor"):
        label_propagation(g, max_iterations=2, executor=executor)
    with pytest.raises(ValueError, match="executor"):
        _wcc_propagation(g, None, 2, executor=executor)
