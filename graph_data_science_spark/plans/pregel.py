"""Superstep harness: the Spark analogue of the reference's Pregel runtime.

The reference runs algorithms as bulk-synchronous supersteps over an
in-memory graph (GDS ``Pregel#run``: per-superstep node batches on a
thread pool, reduced message arrays, vote-to-halt bits, ``masterCompute``
between supersteps). Catalyst has no fixpoint operator, so the superstep
loop lives here in the Python driver and each superstep is one Spark
action.

Iteration hygiene (SURVEY.md §4.3 — both are load-bearing at scale):

1. **Lineage is broken every superstep** via eager ``localCheckpoint``.
   Without it, the logical plan doubles per iteration and the driver dies
   planning superstep ~30 long before the executors are busy.
2. The superseded state is **released through its RDD** once its
   successor is materialized (``release_checkpoint``), so a loop holds at
   most two state copies and leaves only its final state persisted.

``masterCompute`` is the ``metrics``/``stop_fn`` pair: ``metrics`` are
aggregate columns observed (``DataFrame.observe``) on the checkpoint that
materializes the superstep, so they cost no extra job; ``stop_fn``
decides halting from them. Durable checkpoints (resume mid-iteration) go
through a ``CheckpointStore`` every ``checkpoint_every`` supersteps.

``expand_levels`` is the multi-source BFS loop (MS-BFS, Then et al.,
VLDB 2014) with the same release rules. It stays adaptive: a checkpoint
keeps the size estimate of the plan it materialized, which every level's
join multiplies, so static planning would pick sort-merge joins.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator
from contextlib import contextmanager
from dataclasses import dataclass, field

from py4j.protocol import Py4JError
from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from graph_data_science_spark.plans.checkpoint import CheckpointStore


@dataclass
class PregelResult:
    state: DataFrame
    iterations: int
    converged: bool
    metrics: list[dict] = field(default_factory=list)


@contextmanager
def static_planning(spark: SparkSession) -> Iterator[None]:
    """Plan every query in the block once, with adaptive execution (AQE)
    off; the caller's ``spark.sql.adaptive.enabled`` is restored on exit,
    also on error.

    AQE re-plans at every shuffle stage and submits each stage as its own
    job, which pays only where the planner's size estimates are wrong.
    """
    key = "spark.sql.adaptive.enabled"
    before = spark.conf.get(key, "true")
    spark.conf.set(key, "false")
    try:
        yield
    finally:
        spark.conf.set(key, before)


def release_checkpoint(df: DataFrame) -> None:
    """Free the blocks of a ``localCheckpoint``-ed DataFrame.

    ``DataFrame.unpersist`` only drops cache-manager entries and does
    nothing here: a local checkpoint persists the RDD under its
    ``LogicalRDD`` directly. Only call this once nothing will read ``df``
    again; its lineage is truncated, so it cannot be recomputed.

    ``df`` must be the DataFrame ``localCheckpoint`` returned: a
    projection or filter of it has no RDD of its own (``TypeError``).
    """
    try:
        rdd = df._jdf.queryExecution().logical().rdd()
    except Py4JError as e:
        raise TypeError(
            "release_checkpoint needs the DataFrame that localCheckpoint "
            "returned, not one derived from it"
        ) from e
    rdd.unpersist(False)


def observed_checkpoint(df: DataFrame, metrics: dict[str, Column]) -> tuple[DataFrame, dict]:
    """Materialize ``df`` with an eager ``localCheckpoint`` and return it
    with ``metrics`` (name → aggregate column over ``df``) observed in the
    same Spark action."""
    if not metrics:
        return df.localCheckpoint(eager=True), {}
    obs = Observation()
    done = df.observe(obs, *[c.alias(k) for k, c in metrics.items()]).localCheckpoint(eager=True)
    return done, dict(obs.get)


def expand_levels(
    seed: DataFrame, expand: Callable[[DataFrame], DataFrame], max_levels: int
) -> tuple[DataFrame, int]:
    """Level-synchronous BFS from every row of ``seed`` → ``(settled, depth)``.

    ``expand(frontier)`` returns the rows one hop out of the last level,
    with ``seed``'s columns; duplicates and rows an earlier level settled
    are dropped. Each level is one checkpoint with its row count observed
    on it; an empty level ends the loop. ``settled`` (seed columns plus
    ``level``, 0 for the seed) is the only checkpoint left persisted;
    ``depth`` is its deepest level, at most ``max_levels``.
    """
    cols = seed.columns
    settled = seed.select(*cols, F.lit(0).alias("level")).localCheckpoint(eager=True)
    frontier, depth = settled, 0
    while depth < max_levels:
        nxt, m = observed_checkpoint(
            expand(frontier).select(*cols).distinct()
            .join(settled.select(*cols), cols, "left_anti")
            .withColumn("level", F.lit(depth + 1)),
            {"rows": F.count(F.lit(1))},
        )
        if m["rows"] == 0:
            release_checkpoint(nxt)
            break
        new_settled = settled.unionByName(nxt).localCheckpoint(eager=True)
        release_checkpoint(settled)
        if frontier is not settled:
            release_checkpoint(frontier)  # the previous level, now in settled
        frontier, settled = nxt, new_settled
        depth += 1
    if frontier is not settled:
        release_checkpoint(frontier)
    return settled, depth


def run_pregel(
    init_state: DataFrame,
    step_fn: Callable[[DataFrame, int], DataFrame],
    max_iterations: int,
    metrics: dict[str, Column] | None = None,
    stop_fn: Callable[[dict, int], bool] | None = None,
    checkpoint: CheckpointStore | None = None,
    checkpoint_every: int = 5,
    resume: bool = True,
) -> PregelResult:
    """Run a synchronous superstep loop to convergence or max_iterations.

    ``step_fn(state, i) -> new_state`` is the per-algorithm compute kernel
    (one or more declarative Spark stages; typically message join + reduce).
    Synchronous-only by design: async breaks determinism and hence the
    exact-parity and resume guarantees (SURVEY.md §2.C.6).

    Each superstep is one action: ``step_fn(state, i)``, observed with
    ``metrics`` (name → aggregate column over the new state, e.g.
    ``F.coalesce(F.sum("changed"), F.lit(0))`` — coalesce, since an
    aggregate over no rows is NULL), materialized by an eager
    ``localCheckpoint``. The observed values plus ``superstep`` form the
    superstep's entry in ``PregelResult.metrics`` and the dict passed to
    ``stop_fn(m, i)``; ``stop_fn`` returning true ends the loop as
    converged. The state the new one supersedes is then released through
    its RDD, so only the returned state stays persisted.
    """
    # Static planning for the whole loop: AQE's per-stage re-planning tax
    # recurs every superstep (measured ~2x slower), and there is nothing
    # for it to learn after superstep 0. Skew is handled semantically by
    # hub salting (plans/messaging.py).
    with static_planning(init_state.sparkSession):
        history: list[dict] = []
        i = 0
        state = None

        if checkpoint is not None and resume:
            loaded = checkpoint.load_latest()
            if loaded is not None:
                state, i, history = loaded
                state = state.localCheckpoint(eager=True)

        if state is None:
            state = init_state.localCheckpoint(eager=True)

        converged = False
        while i < max_iterations:
            new_state, m = observed_checkpoint(step_fn(state, i), metrics or {})
            # new_state's lineage is cut: nothing reads the old state again.
            release_checkpoint(state)
            state = new_state
            m["superstep"] = i
            history.append(m)
            done = stop_fn is not None and stop_fn(m, i)
            i += 1
            if checkpoint is not None and (done or i >= max_iterations or i % checkpoint_every == 0):
                checkpoint.save(state, i, history)
            if done:
                converged = True
                break

    return PregelResult(state=state, iterations=i, converged=converged, metrics=history)
