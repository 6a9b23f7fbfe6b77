"""Decompose the per-superstep serial constant S (BENCH/BASELINE.md Amdahl fits).

The three Amdahl sweeps fit T(c) = S + P/c with S ~= 3-4 s *per superstep*
on a 27M-edge input — 84% of the local[32] wall at gate size and the entire
gap to the north-rule's >=0.8 two-point efficiency. This tool runs the exact
page_rank superstep kernel (relational executor, metrics off) and splits each
superstep's wall into:

  build  — Python/py4j DataFrame construction of the superstep plan
  plan   — Catalyst analysis + optimization + physical planning
           (forced via queryExecution().executedPlan())
  exec   — the localCheckpoint job itself (codegen compile + run)

Run at a deliberately tiny input so `exec` is almost pure fixed overhead,
then at gate size to see which component grows with data.

    python tools/profile_superstep.py [n_convs] [supersteps]
"""

from __future__ import annotations

import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    n_convs = int(sys.argv[1]) if len(sys.argv) > 1 else 200_000
    iters = int(sys.argv[2]) if len(sys.argv) > 2 else 12

    from pyspark.sql import functions as F

    from graph_data_science_spark.plans.messaging import EdgePlan
    from graph_data_science_spark.plans.pregel import release_checkpoint, static_planning
    from graph_data_science_spark.projection import project
    from graph_data_science_spark.session import get_spark
    from graph_data_science_spark.sources.edges import derive_edges
    from graph_data_science_spark.sources.transcripts import generate_transcripts

    spark = get_spark(app_name="profile-superstep")
    cpus = spark.sparkContext.defaultParallelism
    t0 = time.time()
    transcripts = generate_transcripts(
        spark, n_convs=n_convs, n_tools=max(20, n_convs // 2000), seed=42
    )
    g = project(derive_edges(transcripts), name="profile_pr")
    plan = EdgePlan(g.edges)
    print(f"setup {time.time()-t0:.1f}s — nodes={g.node_count:,} edges={g.edge_count:,} "
          f"hot_hubs={plan.hot_count}", flush=True)

    damping = 0.85
    out_w = g.degrees("out", weighted=False)
    init = out_w.select(
        "vid",
        F.lit(1.0).alias("rank"),
        F.col("degree").alias("out_w"),
        F.lit(1.0).alias("teleport"),
        F.lit(float("inf")).alias("delta"),
    )

    def step(state, i):
        contribs = state.filter(F.col("out_w") > 0).select(
            "vid", (F.col("rank") / F.col("out_w")).alias("contrib")
        )
        msgs = plan.gather(contribs, "contrib")
        new_rank = F.lit(1.0 - damping) * F.col("teleport") + F.lit(damping) * F.coalesce(
            F.col("msg"), F.lit(0.0)
        )
        return state.join(msgs, "vid", "left").select(
            "vid", new_rank.alias("rank"), "out_w", "teleport",
            F.abs(new_rank - F.col("rank")).alias("delta"),
        )

    rows = []
    with static_planning(spark):
        state = init.localCheckpoint(eager=True)
        for i in range(iters):
            t0 = time.time()
            chain = step(state, i)
            t_build = time.time() - t0
            t0 = time.time()
            chain._jdf.queryExecution().executedPlan()
            t_plan = time.time() - t0
            t0 = time.time()
            new_state = chain.localCheckpoint(eager=True)
            t_exec = time.time() - t0
            release_checkpoint(state)
            state = new_state
            rows.append((t_build, t_plan, t_exec))
            print(f"superstep {i:2d}: build={t_build*1000:7.1f}ms plan={t_plan*1000:7.1f}ms "
                  f"exec={t_exec*1000:8.1f}ms", flush=True)

    n = len(rows)
    print(f"\nmeans over {n} supersteps at {g.edge_count:,} edges, local[{cpus}]:")
    print(f"  build={sum(r[0] for r in rows)/n*1000:.1f}ms "
          f"plan={sum(r[1] for r in rows)/n*1000:.1f}ms "
          f"exec={sum(r[2] for r in rows)/n*1000:.1f}ms")
    # steady-state (skip first 2: codegen compile, JIT)
    ss = rows[2:] or rows
    n = len(ss)
    print(f"  steady-state (skip 2): build={sum(r[0] for r in ss)/n*1000:.1f}ms "
          f"plan={sum(r[1] for r in ss)/n*1000:.1f}ms "
          f"exec={sum(r[2] for r in ss)/n*1000:.1f}ms")
    spark.stop()


if __name__ == "__main__":
    main()
