"""Run one benchmark workload and print its metrics.

    python3 gdsbench/run.py --workload transcript --seed 1 --seconds 10 --trace 0

Run from the repository root. One Spark process runs at
``local[<usable cores>]``; the input is set up ``SETUP_REPEATS`` times
(``setup_s`` is the session start plus their median), then the workload
repeats until ``--seconds`` have passed (at least ``MIN_REPEATS`` times,
``MIN_TRACED_REPEATS`` when traced).
Every repeat's output is checked by checksum against the first, and the
first against the oracles. The last line of standard output is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics`` -- the
end-to-end metrics with ``--trace 0``, the per-layer metrics (rolled up
from the Spark event log) with ``--trace 1``. All scratch files live in
``.gdsbench_work/`` under the root and are removed on exit.
"""

from __future__ import annotations

import time

_T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SETUP_REPEATS = 3
MIN_REPEATS = 1
MIN_TRACED_REPEATS = 2  # query counts are compared across repeats
DEADLINE_S = 170.0  # a repeat is not started if it could end past this
FINISH_RESERVE_S = 25.0  # oracle checks and shutdown after the last repeat
DRIVER_MEMORY = "2g"


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def proc_hwm_mb(pid: int | str) -> float:
    """Peak resident set (VmHWM) of a process, in MB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for process {pid}")


def start_spark(work: str, traced: bool):
    from graph_data_science_spark.session import get_spark

    cores = len(os.sched_getaffinity(0))
    conf = {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData",
    }
    if traced:
        os.makedirs(os.path.join(work, "events"))
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(work, "events"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
            # The per-stage plan text of adaptive execution would otherwise
            # make up most of the log (hundreds of MB per run).
            "spark.sql.maxPlanStringLength": "1024",
            "spark.eventLog.includeTaskMetricsAccumulators": "false",
        })
    return get_spark("gdsbench", master=f"local[{cores}]", shuffle_partitions=2 * cores, extra_conf=conf)


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM process to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def persisted(sc) -> dict[int, float]:
    """Persisted RDD id -> MB held in memory and on disk."""
    return {
        int(i.id()): (i.memSize() + i.diskSize()) / (1024.0 * 1024.0)
        for i in sc._jsc.sc().getRDDStorageInfo()
    }


def release_rdds(sc, keep: set[int]) -> None:
    """Unpersist RDDs outside ``keep``: the localCheckpoint blocks that
    ``DataFrame.unpersist`` does not reach."""
    for rdd_id, rdd in sc._jsc.getPersistentRDDs().items():
        if int(rdd_id) not in keep:
            rdd.unpersist(True)


def measure(args, work: str) -> dict:
    from gdsbench.spans import SPAN_METRICS, SPANS, EventLog, Spans, span_metrics
    from gdsbench.workloads import WORKLOADS, same

    traced = bool(args.trace)
    spark = start_spark(work, traced)
    session_s = time.perf_counter() - _T0
    sc = spark.sparkContext
    jvm_pid = sc._jvm.java.lang.ProcessHandle.current().pid()
    spans = Spans(sc, traced)
    wl = WORKLOADS[args.workload](spark, spans, work, args.seed)

    setup_s = []
    for i in range(SETUP_REPEATS):
        if i:
            wl.release_setup()
            release_rdds(sc, keep=set())
        spans.phase = f"setup{i}"
        t = time.perf_counter()
        wl.setup()
        setup_s.append(time.perf_counter() - t)
        log(f"setup {i}: {setup_s[-1]:.3f} s")
    spans.phase = "check"
    errors = []
    fp = wl.fingerprint()
    print(f"input {args.workload} seed={args.seed} " + " ".join(f"{k}={v}" for k, v in fp.items()))
    if wl.shape_error():
        errors.append(wl.shape_error())
    setup_storage = persisted(sc)
    keep, base_mb = set(setup_storage), sum(setup_storage.values())

    run_s, rates, counts, leak_mb = [], [], [], []
    untimed: set[str] = set()  # phases of repeats run only for the repeat check
    last_dt = 0.0
    attempted = failed = 0
    ref = checked = None
    min_repeats = MIN_TRACED_REPEATS if traced else MIN_REPEATS
    loop_start = time.perf_counter()
    while True:
        now = time.perf_counter()
        if attempted >= min_repeats and now - loop_start >= args.seconds:
            break
        if attempted and (now - _T0) + 1.2 * last_dt + FINISH_RESERVE_S > DEADLINE_S:
            log(f"stopping after {attempted} repeats to stay within the deadline")
            break
        # Repeats beyond the untraced loop's are only there for the
        # repeat check; they are excluded from the timings, so trace.run_s
        # and run_s time the same repeats.
        timed = attempted < MIN_REPEATS or now - loop_start < args.seconds
        spans.phase = f"run{attempted}"
        if not timed:
            untimed.add(spans.phase)
        attempted += 1
        try:
            t = time.perf_counter()
            out = wl.run()
            dt = last_dt = time.perf_counter() - t
            spans.phase = "check"
            digest = wl.checksum(out)
            if ref is None:
                ref, checked = digest, wl.collect(out)
            elif not same(digest, ref):
                failed += 1
                log(f"repeat {attempted - 1}: checksum {digest} != first run {ref}")
            if timed:
                run_s.append(dt)
                rates.append(wl.edges_gathered(out) / dt)
            log(f"repeat {attempted - 1}: {dt:.3f} s (" + ", ".join(
                f"{r.name} {r.end - r.start:.2f}" for r in spans.records if r.phase == f"run{attempted - 1}"
            ) + ")")
            counts.append(wl.counts(out))
            wl.release(out)
        except Exception:
            failed += 1
            traceback.print_exc()
        spans.phase = "check"
        leak_mb.append(sum(mb for i, mb in persisted(sc).items() if i not in keep))
        release_rdds(sc, keep)
    growth_mb = sum(persisted(sc).values()) - base_mb
    peak_rss_mb = proc_hwm_mb(jvm_pid) + proc_hwm_mb("self")

    if checked is None:
        errors.append("no repeat completed")
    else:
        try:
            errors += wl.verify(checked)
        except Exception:
            traceback.print_exc()
            errors.append("oracle check raised")
    stop_spark(spark)

    if traced:
        events = EventLog.read(os.path.join(work, "events"))
        # Queries per span must repeat exactly; job counts may not, since
        # adaptive execution submits query stages as jobs asynchronously.
        per_repeat = [
            {s: events.queries(events.jobs_of(f"run{k}/{s}", exact=True)) for s in SPANS}
            for k in range(attempted)
        ]
        if any(r != per_repeat[0] for r in per_repeat):
            errors.append(f"queries per span differ across repeats: {per_repeat}")
        jobs_per_repeat = [len(events.jobs_of(f"run{k}/")) for k in range(attempted)]
        values = span_metrics(events, [r for r in spans.records if r.phase not in untimed])
        units = {f"{s}.{m}": u for s in SPANS for m, u in SPAN_METRICS.items()}
        count_names = (
            "messaging.hot_vertices", "pregel.supersteps", "labelprop.iterations",
            "pagerank.iterations", "wcc.rounds", "scc.outer_rounds", "triangles.count",
            "checkpoint.saves", "checkpoint.bytes_mb",
        )
        for name in count_names:
            vals = [c[name] for c in counts if name in c]
            values[name] = float(statistics.median(vals)) if vals else 0.0
            units[name] = "MB" if name.endswith("_mb") else "count"
        pregel_jobs = sum(values[f"{s}.jobs"] for s in ("pregel.pagerank", "csr.pagerank", "pregel.labelprop"))
        values["pregel.jobs_per_superstep"] = pregel_jobs / max(values["pregel.supersteps"], 1.0)
        units["pregel.jobs_per_superstep"] = "ratio"
        values["repeat.jobs"] = float(statistics.median(jobs_per_repeat)) if jobs_per_repeat else 0.0
        values["repeat.queries"] = float(sum(per_repeat[0].values())) if per_repeat else 0.0
        values["storage.leak_mb"] = statistics.median(leak_mb) if leak_mb else 0.0
        values["storage.growth_mb"] = growth_mb
        values["trace.run_s"] = statistics.median(run_s) if run_s else 0.0
        units.update({"repeat.jobs": "count", "repeat.queries": "count", "storage.leak_mb": "MB",
                      "storage.growth_mb": "MB", "trace.run_s": "s"})
    else:
        values = {
            "run_s": statistics.median(run_s) if run_s else 0.0,
            "edges_per_s": statistics.median(rates) if rates else 0.0,
            "setup_s": session_s + statistics.median(setup_s),
            "peak_rss_mb": peak_rss_mb,
        }
        units = {"run_s": "s", "edges_per_s": "edges/s", "setup_s": "s", "peak_rss_mb": "MB"}

    for e in errors:
        log(f"check failed: {e}")
    if errors:
        failed = attempted
    print(f"repeats={attempted} failed={failed} run_s=" + ",".join(f"{x:.3f}" for x in run_s)
          + " setup_s=" + ",".join(f"{x:.3f}" for x in setup_s) + f" session_s={session_s:.3f}")
    for name, v in values.items():
        print(f"{name} {v:.6g} {units[name]}")
    return {
        "correct": not errors and failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in values.items()},
    }


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    parser.add_argument("--workload", required=True, choices=("transcript", "converge-powerlaw"))
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=float, required=True)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = parser.parse_args(argv)

    sys.path[0] = ROOT  # import the engine, the tests' oracles and gdsbench from the checkout
    base = os.path.join(ROOT, ".gdsbench_work")
    work = os.path.join(base, f"{args.workload}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    try:
        result = measure(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(base)
        except OSError:
            pass  # another run still uses it
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
