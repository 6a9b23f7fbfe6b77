"""CSR gather-scatter executor: the north_rule's superstep physical path.

``CsrPlan`` materializes the adjacency as **per-partition CSR blocks in
Arrow buffers**: source vids are range-blocked (``block = src // B`` —
cheap because vids are dense, projection.py), and each block row holds the
classic CSR triple (indptr over the block's local src range, sorted dst
indices, weights) as Arrow ``array<long>/array<double>`` columns. The
reference keeps one process-wide CSR (``HugeGraph``); blocks are the
distributed equivalent — each fits one task and one Arrow record batch.

A superstep is then ONE cogrouped ``applyInPandas``: the vertex-state
slice for block b meets CSR block b (both sides hash-partitioned on the
same block key, so the state shuffle is the only data movement — edge
bytes never move after plan build), and the kernel runs the per-edge work
as numpy: ``np.repeat`` fans contributions out along indptr, a C-speed
groupby reduces per destination *within the block* (the map-side
combine), and only (dst, partial) rows — at most one per distinct dst per
block — hit the final ``groupBy(dst)`` shuffle. Hub skew is handled by
construction: a hub's in-edges are spread across all source blocks, so
its partial sums arrive pre-reduced, ≤ one row per block.

Kernels: ``CsrPlan`` answers the same two calls as
``plans.messaging.EdgePlan`` (``GatherPlan``), and both run through one
cogroup + ragged-gather helper (``_reduce``); reducers are associative and
commutative, as the two-level reduce requires:
- ``gather(state, value, op)`` — Σ val_src(·w) (PageRank contributions)
  or min val_src (WCC min-label propagation) per destination
- ``votes(state, label, node_w)`` — Σ node_w·w per (dst, label) (LPA
  weighted votes; grouped key)

Cross-check: ``tests/test_csr_executor.py`` holds CsrPlan to EdgePlan on
PageRank (|Δscore| < 1e-12 on the golden fixtures, < 1e-10 on a weighted
random graph), on LPA and WCC labels (equal), and on direct ``gather`` and
``votes`` calls (SURVEY.md §4.1 "both executors must agree").
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from graph_data_science_spark.plans.messaging import reducer

CSR_SCHEMA = (
    "block long, lo long, hi long, indptr array<long>, "
    "indices array<long>, weights array<double>"
)


class CsrPlan:
    def __init__(
        self,
        edges: DataFrame,
        node_count: int,
        num_blocks: int | None = None,
    ) -> None:
        spark = edges.sparkSession
        if num_blocks is None:
            num_blocks = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
        self.num_blocks = num_blocks
        self.node_count = node_count
        self.block_size = max(1, math.ceil(node_count / num_blocks))
        B = self.block_size

        def build_block(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
            block = int(key[0])
            lo, hi = block * B, min((block + 1) * B, node_count)
            pdf = pdf.sort_values(["src", "dst"], kind="stable")
            src = pdf["src"].to_numpy(dtype=np.int64)
            counts = np.bincount(src - lo, minlength=hi - lo)
            indptr = np.concatenate(([0], np.cumsum(counts)))
            return pd.DataFrame(
                {
                    "block": [block],
                    "lo": [lo],
                    "hi": [hi],
                    "indptr": [indptr.astype(np.int64)],
                    "indices": [pdf["dst"].to_numpy(dtype=np.int64)],
                    "weights": [pdf["weight"].to_numpy(dtype=np.float64)],
                }
            )

        blocked = edges.withColumn("block", (F.col("src") / B).cast("long"))
        self.blocks = (
            blocked.groupBy("block")
            .applyInPandas(build_block, CSR_SCHEMA)
            .repartition(num_blocks, "block")
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        self.blocks.count()  # materialize once; every superstep reuses

    # ------------------------------------ kernels (plans.messaging.GatherPlan) --
    def gather(
        self, state: DataFrame, value: str, op: str = "sum", weighted: bool = False
    ) -> DataFrame:
        msg = F.col(value).cast("double") if weighted or op == "sum" else F.col(value)
        return self._reduce(state.select("vid", msg.alias("msg")), (), "msg", op, weighted)

    def votes(
        self, state: DataFrame, label: str, node_w: str, weighted: bool = False
    ) -> DataFrame:
        st = state.select(
            "vid", F.col(label).alias("label"), F.col(node_w).cast("double").alias("vote")
        )
        return self._reduce(st, ("label",), "vote", "sum", weighted)

    def _reduce(
        self, state: DataFrame, keys: tuple[str, ...], value: str, op: str, weighted: bool
    ) -> DataFrame:
        """Cogroup state (vid, *keys, value) with the CSR blocks. Each block
        fans its active sources' rows out along indptr (value × edge weight
        when ``weighted``), reduces them per (dst, *keys) in-block, and the
        partials reduce once more per (vid, *keys) across blocks."""
        red = reducer(op)
        B = self.block_size
        group = ["vid", *keys]
        schema = state.schema

        def kernel(_, state_pdf: pd.DataFrame, csr_pdf: pd.DataFrame) -> pd.DataFrame:
            if csr_pdf.empty or state_pdf.empty:
                return pd.DataFrame(columns=schema.names)
            row = csr_pdf.iloc[0]
            indptr = np.asarray(row["indptr"], dtype=np.int64)
            local = state_pdf["vid"].to_numpy(dtype=np.int64) - int(row["lo"])
            starts = indptr[local]
            counts = indptr[local + 1] - starts
            # ragged gather: per-active-source neighbour slices, flattened
            offs = np.repeat(starts - np.concatenate(([0], np.cumsum(counts)[:-1])), counts)
            flat = offs + np.arange(int(counts.sum()), dtype=np.int64)
            src = np.repeat(np.arange(len(local)), counts)
            cols = {c: state_pdf[c].to_numpy()[src] for c in schema.names[1:]}
            if weighted:
                cols[value] = cols[value] * np.asarray(row["weights"], dtype=np.float64)[flat]
            fanned = pd.DataFrame({"vid": np.asarray(row["indices"], dtype=np.int64)[flat], **cols})
            return fanned.groupby(group, as_index=False)[value].agg(op)

        partials = (
            state.withColumn("block", (F.col("vid") / B).cast("long"))
            .groupBy("block")
            .cogroup(self.blocks.groupBy("block"))
            .applyInPandas(kernel, schema)
        )
        return partials.groupBy(*group).agg(red(value).alias(value))

    def unpersist(self) -> None:
        try:
            self.blocks.unpersist()
        except Exception:
            pass
