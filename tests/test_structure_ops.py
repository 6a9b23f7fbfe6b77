"""Tests for the round-2 breadth additions: collapse path, KNN,
K-1 coloring, RWR sampling, node2vec biased walks, spanning forest —
pure-Python / numpy oracles and structural invariants, never the operator
as its own oracle."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from graph_data_science_spark.algorithms.coloring import k1coloring
from graph_data_science_spark.algorithms.knn import knn
from graph_data_science_spark.algorithms.randomwalk import node2vec_walks
from graph_data_science_spark.algorithms.sampling import sample_rwr
from graph_data_science_spark.algorithms.spanning import minimum_spanning_forest
from graph_data_science_spark.operators.collapse import collapse_path
from graph_data_science_spark.projection import project

from tests import fixtures


def _project(spark, nodes, edges, **kw):
    df = fixtures.to_df(spark, nodes, edges)
    nodes_df = spark.createDataFrame([(n,) for n in nodes], "id string")
    return project(df, nodes=nodes_df, **kw)


class TestCollapsePath:
    def test_two_hop_counts_match_python(self, spark):
        nodes, edges = fixtures.gnm(n=25, m=80, seed=9)
        e = sorted({(s, d) for s, d, _ in edges if s != d})
        df = spark.createDataFrame([(s, d, 1.0) for s, d in e], ["src", "dst", "weight"])
        got = {
            (r["src"], r["dst"]): r["weight"]
            for r in collapse_path([df, df]).collect()
        }
        want: dict = {}
        for a, b in e:
            for c, d in e:
                if b == c and a != d:
                    want[(a, d)] = want.get((a, d), 0) + 1
        assert got == want

    def test_self_loops_optional(self, spark):
        df = spark.createDataFrame([(0, 1, 1.0), (1, 0, 1.0)], ["src", "dst", "weight"])
        assert collapse_path([df, df]).count() == 0
        loops = collapse_path([df, df], allow_self_loops=True).collect()
        assert {(r["src"], r["dst"]) for r in loops} == {(0, 0), (1, 1)}


class TestKnn:
    @pytest.fixture(scope="class")
    def vectors(self, spark):
        rng = np.random.default_rng(11)
        rows = [(i, [float(x) for x in rng.normal(size=12)]) for i in range(30)]
        return spark.createDataFrame(rows, ["vid", "vec"]), rows

    def test_exact_matches_numpy(self, spark, vectors):
        df, rows = vectors
        got = {}
        for r in knn(df, k=3).collect():
            got.setdefault(r["node1"], []).append(r["node2"])
        vecs = {i: np.array(v) for i, v in rows}
        for i in vecs:
            sims = sorted(
                (
                    (-(vecs[i] @ vecs[j]) / (np.linalg.norm(vecs[i]) * np.linalg.norm(vecs[j])), j)
                    for j in vecs
                    if j != i
                ),
            )[:3]
            assert got[i] == [j for _s, j in sims]

    def test_lsh_recall(self, spark, vectors):
        df, _rows = vectors
        exact = {(r["node1"], r["node2"]) for r in knn(df, k=3).collect()}
        approx = {
            (r["node1"], r["node2"])
            for r in knn(df, k=3, method="lsh", n_bits=2, n_tables=16).collect()
        }
        assert len(exact & approx) / len(exact) >= 0.9


class TestK1Coloring:
    def test_proper_coloring_within_bound(self, spark):
        nodes, edges = fixtures.gnm(n=30, m=120, seed=5)
        nodes = [str(n) for n in nodes]
        edges = [(s, d, 1.0) for s, d in sorted({(str(a), str(b)) for a, b, _ in edges if a != b})]
        g = _project(spark, nodes, edges, orientation="UNDIRECTED")
        res = k1coloring(g)
        col = {r["vid"]: r["color"] for r in res.colors.collect()}
        eset = {(r["src"], r["dst"]) for r in g.edges.collect() if r["src"] != r["dst"]}
        assert all(col[a] != col[b] for a, b in eset)
        deg: dict = {}
        for a, b in eset:
            deg[a] = deg.get(a, 0) + 1
        assert max(col.values()) <= max(deg.values())  # ≤ Δ+1 colors (0-based)

    def test_deterministic(self, spark):
        nodes, edges = fixtures.two_triangles_bridge()
        g = _project(spark, nodes, edges, orientation="UNDIRECTED")
        a = {r["vid"]: r["color"] for r in k1coloring(g).colors.collect()}
        b = {r["vid"]: r["color"] for r in k1coloring(g).colors.collect()}
        assert a == b


class TestSampleRwr:
    def test_sample_size_and_induced_edges(self, spark):
        nodes, edges = fixtures.gnm(n=60, m=300, seed=3)
        nodes = [str(n) for n in nodes]
        edges = [(s, d, 1.0) for s, d in sorted({(str(a), str(b)) for a, b, _ in edges})]
        g = _project(spark, nodes, edges)
        s = sample_rwr(g, sampling_ratio=0.25, n_walks=16, seed=7)
        assert s.node_count >= 0.25 * g.node_count * 0.8  # reached the target area
        sampled = {r["vid"] for r in s.nodes.collect()}
        for r in s.edges.collect():
            assert r["src"] in sampled and r["dst"] in sampled

    def test_deterministic(self, spark):
        nodes, edges = fixtures.two_triangles_bridge()
        edges = fixtures.symmetrize(edges)
        g = _project(spark, nodes, edges)
        a = sorted(r["vid"] for r in sample_rwr(g, sampling_ratio=0.5, n_walks=8).nodes.collect())
        b = sorted(r["vid"] for r in sample_rwr(g, sampling_ratio=0.5, n_walks=8).nodes.collect())
        assert a == b


class TestNode2Vec:
    def test_walks_follow_edges_and_are_deterministic(self, spark):
        nodes, edges = fixtures.gnm(n=20, m=80, seed=13)
        nodes = [str(n) for n in nodes]
        edges = [(s, d, 1.0) for s, d in sorted({(str(a), str(b)) for a, b, _ in edges if a != b})]
        g = _project(spark, nodes, edges)
        res = node2vec_walks(g, walks_per_node=1, walk_length=4)
        rows = res.walks.orderBy("walk_id", "step").collect()
        eset = {(r["src"], r["dst"]) for r in g.edges.collect()}
        bywalk: dict = {}
        for r in rows:
            bywalk.setdefault(r["walk_id"], []).append(r["vid"])
        for path in bywalk.values():
            for u, v in zip(path, path[1:]):
                assert (u, v) in eset
        res2 = node2vec_walks(g, walks_per_node=1, walk_length=4)
        assert sorted(map(tuple, res2.walks.collect())) == sorted(map(tuple, rows))

    def test_return_factor_biases_backtracking(self, spark):
        # triangle a↔b↔c↔a: from step-2 state the walker can return to the
        # previous node; tiny p makes returning ~certain, huge p ~never
        nodes = ["a", "b", "c"]
        edges = fixtures.symmetrize([("a", "b", 1.0), ("b", "c", 1.0), ("c", "a", 1.0)])
        g = _project(spark, nodes, edges)

        def return_rate(p):
            res = node2vec_walks(g, walks_per_node=40, walk_length=3, return_factor=p)
            rows = res.walks.orderBy("walk_id", "step").collect()
            bywalk: dict = {}
            for r in rows:
                bywalk.setdefault(r["walk_id"], []).append(r["vid"])
            rets = [
                1 if len(p3) >= 3 and p3[2] == p3[0] else 0
                for p3 in bywalk.values()
                if len(p3) >= 3
            ]
            return sum(rets) / max(len(rets), 1)

        assert return_rate(0.01) > 0.9
        assert return_rate(100.0) < 0.1


class TestSpanningForest:
    def _kruskal(self, nodes, edges):
        parent = {n: n for n in nodes}

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        total, cnt = 0.0, 0
        for w, a, b in sorted((w, a, b) for a, b, w in edges):
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[ra] = rb
                total += w
                cnt += 1
        return total, cnt

    def test_matches_kruskal_total_weight(self, spark):
        rng = np.random.default_rng(17)
        nodes = [str(i) for i in range(25)]
        seen = set()
        edges = []
        while len(edges) < 60:
            a, b = rng.integers(0, 25, size=2)
            if a == b or (min(a, b), max(a, b)) in seen:
                continue
            seen.add((min(a, b), max(a, b)))
            edges.append((str(a), str(b), float(rng.integers(1, 1000))))
        g = _project(spark, nodes, edges, orientation="UNDIRECTED")
        res = minimum_spanning_forest(g)
        want_total, want_cnt = self._kruskal(nodes, edges)
        assert abs(res.total_weight - want_total) < 1e-9
        assert res.edges.count() == want_cnt

    def test_forest_is_acyclic_and_spanning(self, spark):
        nodes, edges = fixtures.disconnected()
        g = _project(spark, nodes, edges, orientation="UNDIRECTED")
        res = minimum_spanning_forest(g)
        chosen = [(r["src"], r["dst"]) for r in res.edges.collect()]
        # acyclic: |E| = |V| - #components; this fixture has 3 components
        # over 8 nodes (chain of 4, triangle of 3, isolated z)
        assert len(chosen) == 8 - 3


def test_k1coloring_converged_flag(spark):
    # ADVICE r2: exhausting max_iterations with recolors in the last
    # round must be visible (converged=False) instead of silent.
    nodes, edges = fixtures.two_triangles_bridge()
    g = _project(spark, nodes, edges, orientation="UNDIRECTED")
    from graph_data_science_spark.algorithms.coloring import k1coloring

    full = k1coloring(g)
    assert full.converged is True
    truncated = k1coloring(g, max_iterations=1)
    # the single round recolors nodes (everyone starts at color 0), so
    # exit-with-recolors must be flagged
    assert truncated.converged is False


def test_k1coloring_without_rounds_is_not_converged(spark):
    # No round ran: every node still has color 0, which is improper on
    # any graph with an edge.
    nodes, edges = fixtures.two_triangles_bridge()
    g = _project(spark, nodes, edges, orientation="UNDIRECTED")
    res = k1coloring(g, max_iterations=0)
    assert (res.iterations, res.converged) == (0, False)
    assert {r["color"] for r in res.colors.collect()} == {0}


class TestGraphGenerate:
    def test_deterministic_and_shaped(self, spark):
        from graph_data_science_spark.sources.generate import generate_graph

        a = generate_graph(spark, 50, average_degree=3.0).collect()
        b = generate_graph(spark, 50, average_degree=3.0).collect()
        assert sorted(map(tuple, a)) == sorted(map(tuple, b))
        assert len(a) == 150
        assert all(0 <= r["src"] < 50 and 0 <= r["dst"] < 50 for r in a)
        assert all(r["src"] != r["dst"] for r in a)  # self-loops re-aimed

    def test_power_law_concentrates_in_degree(self, spark):
        from pyspark.sql import functions as F
        from graph_data_science_spark.sources.generate import generate_graph

        uni = generate_graph(spark, 200, 5.0, "UNIFORM")
        pl = generate_graph(spark, 200, 5.0, "POWER_LAW", power_law_exponent=3.0)

        def top10_share(df):
            deg = df.groupBy("dst").agg(F.count(F.lit(1)).alias("d"))
            rows = sorted((r["d"] for r in deg.collect()), reverse=True)
            return sum(rows[:10]) / sum(rows)

        assert top10_share(pl) > top10_share(uni) + 0.2

    def test_seed_changes_graph(self, spark):
        from graph_data_science_spark.sources.generate import generate_graph

        a = {tuple(r) for r in generate_graph(spark, 50, 3.0, relationship_seed=1).collect()}
        b = {tuple(r) for r in generate_graph(spark, 50, 3.0, relationship_seed=2).collect()}
        assert a != b
