"""Message passing over edges: the gather/scatter step of every superstep.

``EdgePlan`` prepares an edge table once per algorithm run for repeated
supersteps:

- **pre-partitioned on (src, salt)** and persisted, so the per-superstep
  state⋈edges join reuses the edge partitioning (only the much smaller
  vertex-state side shuffles each superstep — the edge bytes never move
  again after plan construction);
- **hub salting** (the north_rule's degree-based repartitioning): sources
  whose out-degree exceeds ``salt_threshold`` have their out-edges spread
  over ``salt_buckets`` sub-partitions keyed by ``xxhash64(dst) % buckets``,
  and the (few) hot vertices' state rows are replicated across the buckets
  at join time. Without this, one task owns a hub's entire fan-out and the
  superstep's wall-clock is that single task. The hot set is tiny under a
  power law, so both the hot-set join and the replication are broadcasts.

Message *reduction* (``groupBy(dst).agg``) needs no salting: Catalyst's
partial aggregation emits at most one row per (task, dst) — an in-hub
receives ≤ #tasks partial rows regardless of its in-degree. This division
of labor (salt the join, trust the combiner) is SURVEY.md §4.1.

PageRank, LPA and WCC propagation gather only through ``gather`` and
``votes``, which ``plans.csr.CsrPlan`` answers too (:class:`GatherPlan`);
:func:`gather_plan` is the one place that picks the executor. The other
algorithms use the general ``EdgePlan.messages``.
"""

from __future__ import annotations

from typing import Callable, Protocol

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel


class GatherPlan(Protocol):
    """The superstep gather both executors answer: ``EdgePlan`` (relational
    join) and ``plans.csr.CsrPlan`` (CSR blocks), built by
    :func:`gather_plan`. ``state`` may be a frontier subset."""

    def gather(
        self, state: DataFrame, value: str, op: str = "sum", weighted: bool = False
    ) -> DataFrame:
        """state (vid, <value>) → (vid, msg): the sum or min (``op``) of the
        in-neighbours' values, × edge weight when ``weighted``. Sums are
        doubles; an unweighted min keeps the value's type."""

    def votes(
        self, state: DataFrame, label: str, node_w: str, weighted: bool = False
    ) -> DataFrame:
        """LPA tally: (vid, <label>, <node_w>) → (vid, label, vote), the vote
        being Σ node_w(u) · w(u→v) over in-edges (w = 1 when unweighted)."""

    def unpersist(self) -> None: ...


def gather_plan(edges: DataFrame, node_count: int, executor: str) -> GatherPlan:
    """Build the gather plan for ``executor``: 'relational' (state⋈edges
    join, the correctness anchor) or 'csr' (CSR Arrow blocks + numpy
    gather-scatter, the north_rule physical path)."""
    if executor == "relational":
        return EdgePlan(edges)
    if executor == "csr":
        from graph_data_science_spark.plans.csr import CsrPlan

        return CsrPlan(edges, node_count)
    raise ValueError(f"executor must be 'relational' or 'csr', got {executor!r}")


def reducer(op: str) -> Callable[[str], Column]:
    """The aggregate for a gather ``op``: 'sum' or 'min'."""
    if op not in ("sum", "min"):
        raise ValueError(f"op must be 'sum' or 'min', got {op!r}")
    return F.sum if op == "sum" else F.min


class EdgePlan:
    def __init__(
        self,
        edges: DataFrame,
        num_partitions: int | None = None,
        salt_threshold: int | None = None,
        salt_buckets: int = 8,
    ) -> None:
        spark = edges.sparkSession
        self.num_partitions = num_partitions or int(
            spark.conf.get("spark.sql.shuffle.partitions", "32")
        )
        self.salt_buckets = salt_buckets

        out_deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
        if salt_threshold is None:
            avg = float(out_deg.agg(F.avg("deg")).collect()[0][0] or 1.0)
            salt_threshold = int(max(256, 16 * avg))
        self.salt_threshold = salt_threshold

        self.hot = (
            out_deg.filter(F.col("deg") > salt_threshold)
            .select(F.col("src").alias("vid"))
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        self.hot_count = self.hot.count()

        if self.hot_count == 0:
            # Fast path — no hubs above threshold: single-key join on src.
            # The edge cache is hash-partitioned on _src and the vertex
            # state leaving superstep k is hash-partitioned on vid (it was
            # just joined/aggregated on vid), so with the same partition
            # count NEITHER side re-shuffles in the gather join; the only
            # per-superstep exchange is the reduced message table.
            # sortWithinPartitions: the cached relation's outputOrdering
            # [_src ASC] is preserved through InMemoryTableScan, so the
            # per-superstep SortMergeJoin gather streams the edge side
            # directly — without this, Catalyst inserts a Sort of the FULL
            # edge cache into EVERY superstep (measured in the round-5
            # steady-state plan: `Sort [_src ASC]` above the
            # InMemoryTableScan), re-sorting 27M-273M rows per iteration
            # for nothing. One sort at plan build, zero thereafter.
            self.edges = (
                edges.select(
                    F.col("src").alias("_src"),
                    F.col("dst").alias("_dst"),
                    F.col("weight").alias("_weight"),
                )
                .repartition(self.num_partitions, "_src")
                .sortWithinPartitions("_src")
                .persist(StorageLevel.MEMORY_AND_DISK)
            )
            self.edge_count = self.edges.count()
            return

        salted = (
            edges.join(
                F.broadcast(self.hot.withColumnRenamed("vid", "src").withColumn("_hot", F.lit(True))),
                "src",
                "left",
            )
            .select(
                F.col("src").alias("_src"),
                F.col("dst").alias("_dst"),
                F.col("weight").alias("_weight"),
                F.when(
                    F.col("_hot").isNotNull(),
                    F.pmod(F.xxhash64("dst"), F.lit(salt_buckets)),
                )
                .otherwise(F.lit(0))
                .cast("int")
                .alias("_salt"),
            )
            .repartition(self.num_partitions, "_src", "_salt")
            .sortWithinPartitions("_src", "_salt")
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        self.edge_count = salted.count()  # materialize once; supersteps reuse
        self.edges = salted

    def _salted_state(self, state: DataFrame) -> DataFrame:
        """Replicate hot vertices' state rows across salt buckets."""
        if self.hot_count == 0:
            return state.withColumn("_salt", F.lit(0))
        salts = F.array([F.lit(i) for i in range(self.salt_buckets)])
        hot_state = state.join(F.broadcast(self.hot), "vid", "inner").withColumn(
            "_salt", F.explode(salts)
        )
        cold_state = state.join(F.broadcast(self.hot), "vid", "left_anti").withColumn(
            "_salt", F.lit(0)
        )
        return cold_state.unionByName(hot_state)

    def messages(
        self,
        state: DataFrame,
        msg_exprs: dict[str, Column],
        reducers: dict[str, Column],
        group_keys: tuple[str, ...] = (),
    ) -> DataFrame:
        """One gather/scatter: join state onto out-edges, reduce per dst.

        ``state`` must carry a ``vid`` column (may be a frontier subset —
        inner join keeps only edges whose source is active). ``msg_exprs``
        are per-edge expressions over the joined row (state columns plus
        ``weight``); ``reducers`` are the per-message aggregate columns
        (must be associative+commutative — they run as partial+final).
        ``group_keys`` names msg_exprs that join ``vid`` as grouping keys
        instead of being reduced (e.g. LPA groups votes by (vid, label)).
        Returns one row per group: (vid, <keys>, <reduced messages>).
        """
        if self.hot_count == 0:
            joined = self.edges.join(
                state, self.edges["_src"] == state["vid"], "inner"
            ).withColumn("weight", F.col("_weight"))
        else:
            st = self._salted_state(state)
            joined = self.edges.join(
                st,
                (self.edges["_src"] == st["vid"]) & (self.edges["_salt"] == st["_salt"]),
                "inner",
            ).withColumn("weight", F.col("_weight"))
        per_edge = joined.select(
            F.col("_dst").alias("vid"),
            *[e.alias(k) for k, e in msg_exprs.items()],
        )
        keys = ["vid", *group_keys]
        return per_edge.groupBy(*keys).agg(
            *[reducers[k].alias(k) for k in msg_exprs if k not in group_keys]
        )

    def gather(
        self, state: DataFrame, value: str, op: str = "sum", weighted: bool = False
    ) -> DataFrame:
        red = reducer(op)
        msg = F.col(value)
        if weighted:
            msg = msg * F.col("weight")
        elif op == "sum":
            msg = msg * F.lit(1.0)  # sums are doubles, weighted or not
        return self.messages(state, {"msg": msg}, {"msg": red("msg")})

    def votes(
        self, state: DataFrame, label: str, node_w: str, weighted: bool = False
    ) -> DataFrame:
        w = F.col("weight") if weighted else F.lit(1.0)
        return self.messages(
            state,
            {"label": F.col(label), "vote": F.col(node_w) * w},
            {"vote": F.sum("vote")},
            group_keys=("label",),
        )

    def unpersist(self) -> None:
        for df in (self.edges, self.hot):
            try:
                df.unpersist()
            except Exception:
                pass
