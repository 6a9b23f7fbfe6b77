"""Two-cluster-size scaling evidence (BASELINE.json north_rule).

No real multi-executor cluster exists in this sandbox, so the N vs 4N
executor criterion is evidenced the sanctioned way: the SAME job on the
SAME input at local[8] and local[32] — each in a fresh JVM (subprocess) so
no run inherits warmed caches — reporting throughput at both parallelism
levels and the scaling efficiency

    eff = (T_8 / T_32) / 4        (1.0 = perfect linear scaling)

Methodology (round 3 — learned from BENCH/matrix.json):
- This sandbox shows 2-5× run-to-run swings on IDENTICAL cells (e.g.
  46.4 s vs 128.2 s for 8g/local[32]); external contention only ever ADDS
  time, so the per-cell MINIMUM over repeats is the defensible estimate
  of uncontended capability ("best of N", the standard benchmarking
  answer to one-sided noise). The median is reported alongside.
- Repeats ALTERNATE parallelism (8, 32, 8, 32, …) so slow phases of the
  host hit both cells equally instead of biasing one.
- The headline config runs fixed-iteration PageRank with
  track_metrics=off (no per-superstep convergence aggregate), a
  documented engine feature, not a bench-only hack; override via
  SPARK_GRAFT_BENCH_METRICS.

APPEND-ONLY since round 5: this tool NEVER touches BENCH/BASELINE.md
(a round-4 rerun once regenerated it and deleted the A/B + Amdahl +
stability narrative sections — see round-4 VERDICT.md "What's wrong #1").
It writes raw cells to a fresh dated BENCH/scaling_runs_<stamp>.json and
appends one dated section to BENCH/RAW_RUNS.md; promoting cells into the
narrative BASELINE.md is a deliberate manual edit. Usage:
    python tools/bench_scaling.py [n_convs] [pr_supersteps] [repeats]
"""

from __future__ import annotations

import datetime
import json
import os
import statistics
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run_at(cpus: int, n_convs: int, supersteps: int) -> dict:
    env = dict(
        os.environ,
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_GRAFT_BENCH_CONVS=str(n_convs),
        SPARK_GRAFT_BENCH_SUPERSTEPS=str(supersteps),
        SPARK_GRAFT_BENCH_SUITE="0",  # throughput section only
    )
    # metrics-off removes the per-superstep convergence aggregate.
    env.setdefault("SPARK_GRAFT_BENCH_METRICS", "0")
    # fresh-JVM repeats are the OUTER loop here; one timed run per process
    env.setdefault("SPARK_GRAFT_BENCH_REPEATS", "1")
    # Derived-edge cache: the generator is deterministic, so every cell of
    # a matrix reads the SAME persisted edge parquet instead of paying the
    # multi-minute generate+derive preamble per fresh JVM. Only the untimed
    # setup changes; the timed PageRank section is identical.
    env.setdefault(
        "SPARK_GRAFT_BENCH_EDGE_CACHE",
        os.path.join(REPO, ".bench_cache", f"edges_c{n_convs}"),
    )
    out = subprocess.run(
        [sys.executable, os.path.join(REPO, "bench.py")],
        env=env,
        cwd=REPO,
        capture_output=True,
        text=True,
        timeout=max(1800, n_convs // 2000),
    )
    line = [l for l in out.stdout.splitlines() if l.startswith("{")][-1]
    return json.loads(line)


def main() -> None:
    n_convs = int(sys.argv[1]) if len(sys.argv) > 1 else 4_000_000
    supersteps = int(sys.argv[2]) if len(sys.argv) > 2 else 12
    repeats = int(sys.argv[3]) if len(sys.argv) > 3 else 4
    cells: dict[int, list[dict]] = {8: [], 32: []}
    for rep in range(repeats):
        for cpus in (8, 32):  # alternate every rep
            r = run_at(cpus, n_convs, supersteps)
            cells[cpus].append(r)
            print(
                f"[rep{rep}] local[{cpus}]: {r['pagerank_total_sec']}s for {supersteps} "
                f"supersteps ({r['value']:,} edges/sec)",
                flush=True,
            )

    def best(cpus: int) -> dict:
        return min(cells[cpus], key=lambda r: r["pagerank_total_sec"])

    t8_all = [r["pagerank_total_sec"] for r in cells[8]]
    t32_all = [r["pagerank_total_sec"] for r in cells[32]]
    t8, t32 = min(t8_all), min(t32_all)
    t8_med, t32_med = statistics.median(t8_all), statistics.median(t32_all)
    eff = (t8 / t32) / 4.0
    eff_med = (t8_med / t32_med) / 4.0
    b8, b32 = best(8), best(32)
    g = b32["graph"]
    rows8 = ", ".join(f"{v}" for v in t8_all)
    rows32 = ", ".join(f"{v}" for v in t32_all)
    stamp = datetime.datetime.now().strftime("%Y%m%d_%H%M%S")
    md = f"""
## Run {stamp} — {n_convs:,} convs, {supersteps} supersteps, {repeats}×2 cells (metrics off)

Graph: {g['nodes']:,} nodes, {g['edges']:,} edges.

| parallelism | best wall (s) | median wall (s) | all repeats (s) | best edges/sec | best supersteps/sec |
|---|---|---|---|---|---|
| local[8]  | {t8} | {t8_med} | {rows8} | {b8['value']:,} | {b8['supersteps_per_sec']} |
| local[32] | {t32} | {t32_med} | {rows32} | {b32['value']:,} | {b32['supersteps_per_sec']} |

Efficiency (T_8 / T_32) / 4 = **{eff:.3f}** (best-of-{repeats}); {eff_med:.3f} (medians).
Raw cells: `scaling_runs_{stamp}.json`.
"""
    os.makedirs(os.path.join(REPO, "BENCH"), exist_ok=True)
    raw_md = os.path.join(REPO, "BENCH", "RAW_RUNS.md")
    if not os.path.exists(raw_md):
        with open(raw_md, "w") as f:
            f.write(
                "# BENCH raw scaling runs (append-only)\n\n"
                "Each `tools/bench_scaling.py` invocation appends one dated\n"
                "section here and writes its cells to a dated JSON. The\n"
                "narrative evidence file `BENCH/BASELINE.md` is maintained by\n"
                "hand; promote cells from here deliberately.\n"
            )
    with open(raw_md, "a") as f:
        f.write(md)
    with open(os.path.join(REPO, "BENCH", f"scaling_runs_{stamp}.json"), "w") as f:
        json.dump({"cells": {str(k): v for k, v in cells.items()}}, f, indent=1)
    print(
        f"efficiency best={eff:.3f} median={eff_med:.3f} → appended to "
        f"BENCH/RAW_RUNS.md (BASELINE.md untouched)"
    )


if __name__ == "__main__":
    main()
