"""Resume tests (SURVEY.md §5.2-3): kill after superstep k, resume from
the checkpoint store, final result must equal the uninterrupted run
exactly (determinism rules, SURVEY.md §4.3-2)."""

from __future__ import annotations

import json
import os

import pytest

from graph_data_science_spark.algorithms.pagerank import page_rank
from graph_data_science_spark.plans.checkpoint import CheckpointStore
from graph_data_science_spark.projection import project

from tests import fixtures


@pytest.fixture()
def graph(spark):
    nodes, edges = fixtures.gnm(n=50, m=200, seed=9)
    df = fixtures.to_df(spark, nodes, edges)
    nodes_df = spark.createDataFrame([(n,) for n in nodes], "id string")
    return project(df, nodes=nodes_df)


def _scores(res):
    return {r["vid"]: r["score"] for r in res.scores.collect()}


def test_resume_equals_uninterrupted(spark, graph, tmp_path):
    cfg = {"algo": "pagerank", "damping": 0.85, "iters": 12}
    uninterrupted = page_rank(graph, tolerance=0.0, max_iterations=12)

    # "crash" after 7 supersteps (checkpoint_every=3 → durable at 3, 6, 7)
    store1 = CheckpointStore(spark, str(tmp_path), run_id="run1", config=cfg)
    page_rank(
        graph, tolerance=0.0, max_iterations=7, checkpoint=store1, checkpoint_every=3
    )
    steps = [m["superstep"] for m in store1.manifests()]
    assert steps == [3, 6, 7]

    # resume in a NEW store object (same run_id + config), finish to 12
    store2 = CheckpointStore(spark, str(tmp_path), run_id="run1", config=cfg)
    resumed = page_rank(
        graph, tolerance=0.0, max_iterations=12, checkpoint=store2, checkpoint_every=3
    )
    # full metric history = 7 restored + 5 new supersteps, no restart
    assert [m["superstep"] for m in resumed.metrics] == list(range(12))
    assert _scores(resumed) == pytest.approx(_scores(uninterrupted), abs=1e-12)


def test_run_pregel_resumes_without_recomputation(spark, tmp_path):
    """Airtight resume evidence: step_fn is invoked only for the missing
    supersteps after a resume."""
    from pyspark.sql import functions as F

    from graph_data_science_spark.plans.pregel import run_pregel

    init = spark.range(100).select(F.col("id").alias("vid"), F.lit(0).alias("x"))
    calls = []

    def step(state, i):
        calls.append(i)
        return state.select("vid", (F.col("x") + 1).alias("x"))

    store1 = CheckpointStore(spark, str(tmp_path), run_id="p", config={"c": 1})
    run_pregel(init, step, max_iterations=6, checkpoint=store1, checkpoint_every=2)
    assert calls == [0, 1, 2, 3, 4, 5]

    calls.clear()
    store2 = CheckpointStore(spark, str(tmp_path), run_id="p", config={"c": 1})
    res = run_pregel(init, step, max_iterations=10, checkpoint=store2, checkpoint_every=2)
    assert calls == [6, 7, 8, 9]  # resumed at 6, no recomputation
    assert res.iterations == 10
    row = res.state.agg(F.min("x"), F.max("x")).collect()[0]
    assert (row[0], row[1]) == (10, 10)


def test_config_mismatch_restarts(spark, graph, tmp_path):
    store1 = CheckpointStore(spark, str(tmp_path), run_id="runX", config={"damping": 0.85})
    page_rank(graph, tolerance=0.0, max_iterations=4, checkpoint=store1, checkpoint_every=2)

    # different config fingerprint → checkpoints must NOT be reused
    store2 = CheckpointStore(spark, str(tmp_path), run_id="runX", config={"damping": 0.5})
    res = page_rank(
        graph, damping=0.5, tolerance=0.0, max_iterations=4, checkpoint=store2, checkpoint_every=2
    )
    assert res.metrics[0]["superstep"] == 0  # started from scratch


def test_manifest_lineage_is_auditable(spark, graph, tmp_path):
    store = CheckpointStore(spark, str(tmp_path), run_id="runL", config={})
    page_rank(graph, tolerance=0.0, max_iterations=4, checkpoint=store, checkpoint_every=2)
    m = store.manifests()[-1]
    assert m["total_rows"] == graph.node_count
    assert all("content_hash" in p and p["rows"] >= 0 for p in m["partitions"])
    assert [h["superstep"] for h in m["metrics"]] == list(range(4))
    # manifest is the atomic commit point: no stray .tmp left behind
    assert not [f for f in os.listdir(store.dir) if f.endswith(".tmp")]


def test_corrupt_checkpoint_detected(spark, graph, tmp_path):
    store = CheckpointStore(spark, str(tmp_path), run_id="runC", config={})
    page_rank(graph, tolerance=0.0, max_iterations=2, checkpoint=store, checkpoint_every=1)
    # tamper: claim a different row count
    m_path = os.path.join(store.dir, sorted(
        f for f in os.listdir(store.dir) if f.startswith("manifest-")
    )[-1])
    with open(m_path) as f:
        m = json.load(f)
    m["total_rows"] += 1
    with open(m_path, "w") as f:
        json.dump(m, f)
    store2 = CheckpointStore(spark, str(tmp_path), run_id="runC", config={})
    with pytest.raises(ValueError, match="corrupt"):
        store2.load_latest()

