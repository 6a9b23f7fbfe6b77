"""The benchmark's workloads.

Each workload builds its input from the seed in ``setup``, makes the
timed calls into the engine's public functions in ``run``, and checks
outputs two ways: ``verify`` compares one run against the oracles of
``gdsbench.oracles`` (which never use the engine), and ``checksum`` gives
an order-insensitive digest that every later run must reproduce.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from gdsbench import oracles
from gdsbench.spans import Spans
from graph_data_science_spark.algorithms.labelprop import label_propagation
from graph_data_science_spark.algorithms.pagerank import page_rank
from graph_data_science_spark.algorithms.scc import scc
from graph_data_science_spark.algorithms.triangles import triangle_count
from graph_data_science_spark.algorithms.wcc import wcc
from graph_data_science_spark.catalog import GraphCatalog
from graph_data_science_spark.plans.checkpoint import CheckpointStore
from graph_data_science_spark.plans.messaging import EdgePlan
from graph_data_science_spark.projection import ProjectedGraph, project
from graph_data_science_spark.sources import derive_edges, generate_transcripts
from graph_data_science_spark.sources.generate import generate_graph
from tests import oracles as test_oracles

PAGERANK_ATOL = 1e-6  # the per-vertex parity bar of BASELINE.json
FLOAT_RTOL = 1e-9  # repeat-to-repeat drift allowed in float checksums


# -- checksums --------------------------------------------------------------
def int_checksum(df: DataFrame, key: str, value: str) -> tuple:
    """(rows, xor of row hashes): exact and order-insensitive."""
    row = df.agg(
        F.count(F.lit(1)), F.coalesce(F.bit_xor(F.xxhash64(key, value)), F.lit(0))
    ).collect()[0]
    return (int(row[0]), int(row[1]))


def float_checksum(df: DataFrame, key: str, value: str) -> tuple:
    """(rows, xor of key hashes, sum, key-weighted sum). Float sums may
    differ in the last bits between runs (shuffle arrival order), so
    ``same`` compares the float parts with a relative tolerance; the
    key-weighted sum catches values swapped between keys."""
    w = F.pmod(F.xxhash64(key), F.lit(1009)) + 1
    row = df.agg(
        F.count(F.lit(1)),
        F.coalesce(F.bit_xor(F.xxhash64(key)), F.lit(0)),
        F.sum(value),
        F.sum(F.col(value) * w),
    ).collect()[0]
    return (int(row[0]), int(row[1]), float(row[2] or 0.0), float(row[3] or 0.0))


def same(a: dict, b: dict) -> bool:
    if a.keys() != b.keys():
        return False
    for k in a:
        if len(a[k]) != len(b[k]):
            return False
        for x, y in zip(a[k], b[k]):
            if isinstance(x, float) or isinstance(y, float):
                if not np.isclose(x, y, rtol=FLOAT_RTOL, atol=0.0):
                    return False
            elif x != y:
                return False
    return True


def fingerprint(graph: ProjectedGraph) -> dict:
    """Node count, edge count and xor-hash of the projected edges: equal
    for equal seeds, different otherwise."""
    h = graph.edges.agg(F.bit_xor(F.xxhash64("src", "dst", "weight"))).collect()[0][0]
    return {"nodes": graph.node_count, "edges": graph.edge_count, "edge_xor": int(h or 0)}


def with_orig_ids(graph: ProjectedGraph, df: DataFrame, *vid_cols: str) -> DataFrame:
    """Replace vid columns by the original ids of the graph's id map."""
    for c in vid_cols:
        ids = graph.nodes.select(F.col("vid").alias(c), F.col("orig_id").alias(f"_{c}"))
        df = df.join(ids, c).drop(c).withColumnRenamed(f"_{c}", c)
    return df


def dense(ids: np.ndarray, values: np.ndarray) -> np.ndarray:
    """Index positions of ``values`` in the sorted unique ``ids``."""
    pos = np.searchsorted(ids, values)
    if len(values) and (pos.max() >= len(ids) or not np.array_equal(ids[pos], values)):
        raise ValueError("output holds ids that are not in the input")
    return pos


def compare(name: str, got_ids, got, ids: np.ndarray, want: np.ndarray, atol=None) -> list[str]:
    """Per-vertex comparison of an engine output against an oracle array."""
    if len(got_ids) != len(ids):
        return [f"{name}: {len(got_ids)} vertices, oracle has {len(ids)}"]
    vals = np.empty(len(ids), dtype=want.dtype)
    try:
        vals[dense(ids, np.asarray(got_ids))] = np.asarray(got)
    except ValueError as e:
        return [f"{name}: {e}"]
    bad = ~np.isclose(vals, want, rtol=0.0, atol=atol) if atol is not None else vals != want
    if bad.any():
        i = int(np.flatnonzero(bad)[0])
        return [f"{name}: {int(bad.sum())} vertices differ, e.g. {ids[i]}: {vals[i]} != {want[i]}"]
    return []


class Workload:
    """One workload over one seed; subclasses name the calls."""

    name = ""

    def __init__(self, spark: SparkSession, spans: Spans, work_dir: str, seed: int) -> None:
        self.spark = spark
        self.spans = spans
        self.work_dir = work_dir
        self.seed = seed

    def fingerprint(self) -> dict:
        return fingerprint(self.graph)

    def shape_error(self) -> str | None:
        return None


class Transcript(Workload):
    """Relational PageRank plus undirected structure on transcript edges."""

    name = "transcript"
    n_convs = 10_000
    pr_iterations = 10

    def setup(self) -> None:
        with self.spans.span("sources.derive"):
            t = generate_transcripts(
                self.spark, n_convs=self.n_convs, n_tools=max(20, self.n_convs // 2000), seed=self.seed
            )
            self.edges = derive_edges(t).persist(StorageLevel.MEMORY_AND_DISK)
            self.edges.count()
        with self.spans.span("projection.project"):
            self.graph = project(self.edges, name="transcript")
        with self.spans.span("messaging.edge_plan"):
            self.plan = EdgePlan(self.graph.edges)
        self.catalog = GraphCatalog(self.spark, os.path.join(self.work_dir, "catalog"))

    def release_setup(self) -> None:
        self.plan.unpersist()
        self.graph.unpersist()
        self.edges.unpersist()

    def shape_error(self) -> str | None:
        if self.plan.hot_count != 0:
            return f"transcript graph has {self.plan.hot_count} hot vertices, expected 0"
        return None

    def run(self) -> dict:
        sp = self.spans
        with sp.span("pregel.pagerank"):
            pr = page_rank(
                self.graph, tolerance=0.0, max_iterations=self.pr_iterations, track_metrics=False,
                edge_plan=self.plan,
            )
        with sp.span("catalog.project"):
            und = self.catalog.project("transcript_undirected", self.edges, orientation="UNDIRECTED")
        with sp.span("algorithms.wcc"):
            cc = wcc(und, with_stats=True)
        with sp.span("algorithms.triangles"):
            tri = triangle_count(und)
        return {"pr": pr, "und": und, "cc": cc, "tri": tri}

    def edges_gathered(self, out: dict) -> int:
        return self.plan.edge_count * out["pr"].iterations

    def counts(self, out: dict) -> dict:
        return {
            "messaging.hot_vertices": self.plan.hot_count,
            "pregel.supersteps": out["pr"].iterations,
            "pagerank.iterations": out["pr"].iterations,
            "wcc.rounds": out["cc"].iterations,
            "triangles.count": out["tri"].global_count,
        }

    def checksum(self, out: dict) -> dict:
        return {
            "pagerank": float_checksum(out["pr"].scores, "vid", "score") + (out["pr"].iterations,),
            "wcc": int_checksum(out["cc"].components, "vid", "component") + (out["cc"].component_count,),
            "triangles": (out["tri"].global_count,),
        }

    def collect(self, out: dict) -> dict:
        und = out["und"]
        return {
            "pr": with_orig_ids(self.graph, out["pr"].scores, "vid").toPandas(),
            "cc": with_orig_ids(und, out["cc"].components, "vid", "component").toPandas(),
            "cc_count": out["cc"].component_count,
            "tri_count": out["tri"].global_count,
        }

    def release(self, out: dict) -> None:
        out["und"].unpersist()
        self.catalog.drop("transcript_undirected")

    def verify(self, got: dict) -> list[str]:
        e = self.edges.select("src", "dst").toPandas()
        ids = np.unique(np.concatenate([e["src"].to_numpy(), e["dst"].to_numpy()]))
        src, dst = dense(ids, e["src"].to_numpy()), dense(ids, e["dst"].to_numpy())
        n = len(ids)
        errors = []
        pr, _ = oracles.pagerank(src, dst, n, tolerance=0.0, max_iterations=self.pr_iterations)
        errors += compare("pagerank", got["pr"]["vid"], got["pr"]["score"], ids, pr, atol=PAGERANK_ATOL)
        comp = ids[oracles.wcc(src, dst, n)]
        errors += compare("wcc", got["cc"]["vid"], got["cc"]["component"].to_numpy(), ids, comp)
        if got["cc_count"] != len(np.unique(comp)):
            errors.append(f"wcc: {got['cc_count']} components, oracle {len(np.unique(comp))}")
        # Global count only: the engine's per-node counts are a lazy plan
        # that would run the whole wedge join again.
        total = oracles.triangle_count(src, dst)
        if got["tri_count"] != total:
            errors.append(f"triangles: {got['tri_count']} total, oracle {total}")
        return errors


class TimedCheckpoints:
    """Delegates to a CheckpointStore and times each save as a span."""

    def __init__(self, store: CheckpointStore, spans: Spans) -> None:
        self.store = store
        self.spans = spans
        self.saves = 0

    def save(self, state: DataFrame, superstep: int, metrics: list[dict]) -> str:
        with self.spans.span("checkpoint.save"):
            path = self.store.save(state, superstep, metrics)
        self.saves += 1
        return path

    def load_latest(self):
        return self.store.load_latest()

    def size_mb(self) -> float:
        total = 0
        for d, _, files in os.walk(self.store.dir):
            total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
        return total / (1024.0 * 1024.0)


class ConvergePowerLaw(Workload):
    """Salted LPA, CSR PageRank with checkpoints, and SCC on a power law."""

    name = "converge-powerlaw"
    node_count = 10_000
    average_degree = 8
    lpa_max_iterations = 30
    pr_tolerance = 1e-7
    pr_max_iterations = 4
    checkpoint_every = 2

    def setup(self) -> None:
        self.raw = generate_graph(
            self.spark, self.node_count, self.average_degree, "POWER_LAW",
            relationship_seed=self.seed, power_law_exponent=3.0,
        )
        with self.spans.span("projection.project"):
            # REVERSE: the power law concentrates in-degree, so hubs become sources.
            self.graph = project(self.raw, name="powerlaw", orientation="REVERSE")
        with self.spans.span("messaging.edge_plan"):
            self.plan = EdgePlan(self.graph.edges)

    def release_setup(self) -> None:
        self.plan.unpersist()
        self.graph.unpersist()

    def shape_error(self) -> str | None:
        if self.plan.hot_count <= 0:
            return "power-law graph has no hot vertices; the salted gather would not run"
        return None

    def run(self) -> dict:
        sp = self.spans
        with sp.span("pregel.labelprop"):
            lp = label_propagation(self.graph, max_iterations=self.lpa_max_iterations, edge_plan=self.plan)
        store = TimedCheckpoints(
            CheckpointStore(self.spark, os.path.join(self.work_dir, "checkpoints")), sp
        )
        with sp.span("csr.pagerank"):
            pr = page_rank(
                self.graph, tolerance=self.pr_tolerance, max_iterations=self.pr_max_iterations,
                executor="csr", checkpoint=store, checkpoint_every=self.checkpoint_every,
            )
        with sp.span("algorithms.scc"):
            sc = scc(self.graph)
        return {"lp": lp, "pr": pr, "scc": sc, "store": store}

    def edges_gathered(self, out: dict) -> int:
        return self.graph.edge_count * (out["lp"].iterations + out["pr"].iterations)

    def counts(self, out: dict) -> dict:
        return {
            "messaging.hot_vertices": self.plan.hot_count,
            "pregel.supersteps": out["lp"].iterations + out["pr"].iterations,
            "labelprop.iterations": out["lp"].iterations,
            "pagerank.iterations": out["pr"].iterations,
            "scc.outer_rounds": out["scc"].outer_rounds,
            "checkpoint.saves": out["store"].saves,
            "checkpoint.bytes_mb": out["store"].size_mb(),
        }

    def checksum(self, out: dict) -> dict:
        return {
            "labelprop": int_checksum(out["lp"].labels, "vid", "label") + (out["lp"].iterations,),
            "pagerank": float_checksum(out["pr"].scores, "vid", "score") + (out["pr"].iterations,),
            "scc": int_checksum(out["scc"].components, "vid", "component"),
        }

    def collect(self, out: dict) -> dict:
        g = self.graph
        return {
            "lp": with_orig_ids(g, out["lp"].labels, "vid", "label").toPandas(),
            "lp_iterations": out["lp"].iterations,
            "pr": with_orig_ids(g, out["pr"].scores, "vid").toPandas(),
            "pr_iterations": out["pr"].iterations,
            "scc": with_orig_ids(g, out["scc"].components, "vid", "component").toPandas(),
        }

    def release(self, out: dict) -> None:
        shutil.rmtree(out["store"].store.dir, ignore_errors=True)

    def verify(self, got: dict) -> list[str]:
        raw = self.raw.select("src", "dst").distinct().toPandas()
        # REVERSE orientation; parallel slots already collapsed by distinct.
        s, d = raw["dst"].to_numpy(), raw["src"].to_numpy()
        ids = np.unique(np.concatenate([s, d]))
        src, dst = dense(ids, s), dense(ids, d)
        n = len(ids)
        errors = []
        pr, it = oracles.pagerank(
            src, dst, n, tolerance=self.pr_tolerance, max_iterations=self.pr_max_iterations
        )
        errors += compare("pagerank", got["pr"]["vid"], got["pr"]["score"], ids, pr, atol=PAGERANK_ATOL)
        if got["pr_iterations"] != it:
            errors.append(f"pagerank: {got['pr_iterations']} iterations, oracle {it}")
        nodes = ids.tolist()
        edges = list(zip(s.tolist(), d.tolist(), [1.0] * len(s)))
        labels, it, _ = test_oracles.lpa_oracle(nodes, edges, max_iterations=self.lpa_max_iterations)
        want = np.array([labels[v] for v in nodes], dtype=np.int64)
        errors += compare("labelprop", got["lp"]["vid"], got["lp"]["label"].to_numpy(), ids, want)
        if got["lp_iterations"] != it:
            errors.append(f"labelprop: {got['lp_iterations']} iterations, oracle {it}")
        comp = test_oracles.scc_oracle(nodes, edges)
        want = np.array([comp[v] for v in nodes], dtype=np.int64)
        errors += compare("scc", got["scc"]["vid"], got["scc"]["component"].to_numpy(), ids, want)
        return errors


WORKLOADS = {w.name: w for w in (Transcript, ConvergePowerLaw)}
