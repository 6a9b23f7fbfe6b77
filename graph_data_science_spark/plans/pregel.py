"""Superstep harness: the Spark analogue of the reference's Pregel runtime.

The reference runs algorithms as bulk-synchronous supersteps over an
in-memory graph (GDS ``Pregel#run``: per-superstep node batches on a
thread pool, reduced message arrays, vote-to-halt bits, ``masterCompute``
between supersteps). Catalyst has no fixpoint operator, so the superstep
loop lives here in the Python driver and each superstep is one Spark job.

Iteration hygiene (SURVEY.md §4.3 — both are load-bearing at scale):

1. **Lineage is broken every superstep** via eager ``localCheckpoint``.
   Without it, the logical plan doubles per iteration and the driver dies
   planning superstep ~30 long before the executors are busy.
2. The previous superstep's state is **unpersisted after** the new state
   materializes, bounding storage at ~2 state copies.

``masterCompute`` is the ``metrics_fn``/``stop_fn`` pair: ``metrics_fn``
aggregates convergence metrics from the fresh state (one tiny job);
``stop_fn`` decides halting. Durable checkpoints (resume mid-iteration)
go through a ``CheckpointStore`` every ``checkpoint_every`` supersteps.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator
from contextlib import contextmanager
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

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
    """
    df._jdf.queryExecution().logical().rdd().unpersist(False)


def _materialize(df: DataFrame, eager: bool = True) -> DataFrame:
    # localCheckpoint: truncates lineage AND caches. ``eager=False`` defers
    # materialization to the caller's next action (the metrics aggregate),
    # folding checkpoint-write and masterCompute into ONE pass over the
    # state instead of two.
    return df.localCheckpoint(eager=eager)


def run_pregel(
    init_state: DataFrame,
    step_fn: Callable[[DataFrame, int], DataFrame],
    max_iterations: int,
    metrics_fn: Callable[[DataFrame, int], dict] | None = None,
    stop_fn: Callable[[dict, int], bool] | None = None,
    checkpoint: CheckpointStore | None = None,
    checkpoint_every: int = 5,
    resume: bool = True,
    fused_supersteps: int = 1,
) -> PregelResult:
    """Run a synchronous superstep loop to convergence or max_iterations.

    ``step_fn(state, i) -> new_state`` is the per-algorithm compute kernel
    (one or more declarative Spark stages; typically message join + reduce).
    Synchronous-only by design: async breaks determinism and hence the
    exact-parity and resume guarantees (SURVEY.md §2.C.6).

    ``fused_supersteps=k`` chains k supersteps into one materialized Spark
    job: the fixed per-job cost — scheduling barriers, state write,
    metrics pass — is paid once per k supersteps instead of every
    superstep (measured ~0.9 s/superstep fixed at 13M edges). Results are
    IDENTICAL superstep-for-superstep; only the convergence check and
    checkpoint cadence become k-granular, so a tolerance run may execute
    up to k−1 supersteps past the fixpoint (harmless: the state is
    already stationary there). Parity runs use k=1.

    Implementation note (round 3): a step_fn references its input state
    more than once (message join + state join), and Spark has no
    common-subplan execution sharing — naively chaining therefore
    re-executed earlier supersteps ~2× per level (measured 4× total
    compute at k=4 on 27M edges). The loop now inserts a LAZY
    ``localCheckpoint`` between chained steps so every reference shares
    one persisted RDD: the fused job computes each superstep exactly
    once, and intermediates are unpersisted after the block
    materializes.
    """
    # Static planning for the whole loop: AQE's per-stage re-planning tax
    # recurs every superstep (measured ~2x slower), and there is nothing
    # for it to learn after superstep 0. Skew is handled semantically by
    # hub salting (plans/messaging.py).
    with static_planning(init_state.sparkSession):
        history: list[dict] = []
        start_iter = 0
        state = None

        if checkpoint is not None and resume:
            loaded = checkpoint.load_latest()
            if loaded is not None:
                state, start_iter, history = loaded
                state = _materialize(state)

        if state is None:
            state = _materialize(init_state)

        k = max(1, int(fused_supersteps))
        converged = False
        i = start_iter
        while i < max_iterations:
            chain = step_fn(state, i)
            steps_done = 1
            fused_intermediates = []
            while steps_done < k and i + steps_done < max_iterations:
                # Lazy localCheckpoint: the next step references its input
                # twice (message join + state join); sharing ONE persisted
                # RDD across those references makes the fused job compute
                # each superstep exactly once — without it the chain
                # re-executes earlier supersteps ~2× per level (measured
                # 4× total compute at k=4 on 27M edges).
                chain = chain.localCheckpoint(eager=False)
                fused_intermediates.append(chain)
                chain = step_fn(chain, i + steps_done)
                steps_done += 1
            new_state = _materialize(chain, eager=metrics_fn is None)
            i += steps_done
            m = metrics_fn(new_state, i - 1) if metrics_fn is not None else {}
            # new_state is materialized by now (eagerly above, or by the
            # metrics action) — the fused intermediates are no longer
            # reachable through live lineage and can release their cache
            for df in fused_intermediates:
                df.unpersist()
            m = dict(m, superstep=i - 1)
            history.append(m)
            state.unpersist()
            state = new_state
            done = stop_fn is not None and stop_fn(m, i - 1)
            at_end = i >= max_iterations
            crossed_cadence = (i // checkpoint_every) > ((i - steps_done) // checkpoint_every)
            if checkpoint is not None and (done or at_end or crossed_cadence):
                checkpoint.save(state, i, history)
            if done:
                converged = True
                break

    return PregelResult(state=state, iterations=i, converged=converged, metrics=history)
