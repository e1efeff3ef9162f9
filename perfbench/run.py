"""otlp-wire benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload route --seed 1 --seconds 8 --trace 0

Run from the root of a checkout. The benchmark writes its seeded inputs,
computes the reference answer, starts one driver JVM on
``local[<cores>]`` and then:

- ``--trace 0``: sets up ``SETUPS`` times (fresh SparkSession + one warm-up
  iteration each; ``setup_s`` is their median), runs ``WARMUPS`` more
  untimed iterations, then closed-loop iterations on the last session for
  ``--seconds`` and reports the end-to-end metrics.
- ``--trace 1``: measures untraced iterations, then repeats the workload in a
  session with the Spark event log on, once whole and once layer by layer
  under spans, and reports the per-layer metrics (see README.md).

Every iteration's output is checked against the reference. The second to
last stdout line is a detailed JSON report; the last line is
``{"correct", "attempted", "failed", "metrics"}``. Exit status is 0 only
when every iteration was correct. All scratch lives in ``.perfbench_work``
under the checkout and is removed on exit.
"""

from __future__ import annotations

import argparse
import fcntl
import json
from concurrent.futures import ThreadPoolExecutor
import os
import shutil
import statistics
import sys
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUPS = 3
# untimed iterations between the last set-up and the timed loop: at these
# input sizes a JVM's first iterations still speed up by 20-40% as the JIT
# catches up, and a loop that started there would drift as it ran
WARMUPS = 2
ITERATION_TIMEOUT_S = 90
# the untraced iterations follow two warm-ups, so that the JIT has settled
# about as far as for the traced iteration that follows (which comes after
# one more warm-up in its own session)
UNTRACED_WARMUPS = 2
UNTRACED_ITERATIONS = 2
# a traced run that has used this much time by the end of its traced
# iteration skips its optional sections (the local[1] route figure and the
# curation layers) so that it still ends in time; they then read 0
OPTIONAL_DEADLINE_S = 70


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def tail(xs: list[float]) -> dict | None:
    """Highest percentile with at least ten samples beyond it."""
    n = len(xs)
    if n < 11:
        return None
    k = n - 11  # 0-based rank with exactly ten larger samples
    return {"value": sorted(xs)[k], "percentile": round(100 * (k + 1) / n, 1),
            "samples": n}


class Run:
    """One benchmark invocation: the workload, its session and its tally."""

    def __init__(self, wl, work: str, master: str):
        self.wl, self.work, self.master = wl, work, master
        self.attempted = self.failed = 0
        self.errors: list[str] = []

    def iterate(self, spark, timed: bool) -> tuple[float, dict | None]:
        """One iteration: (wall seconds, output or None if it failed)."""
        watchdog = threading.Timer(ITERATION_TIMEOUT_S, spark.sparkContext.cancelAllJobs)
        watchdog.start()
        t0 = time.perf_counter()
        try:
            out = self.wl.iterate(spark)
            wall = time.perf_counter() - t0
        except Exception:  # noqa: BLE001 — a failed iteration is a result
            wall, out = time.perf_counter() - t0, None
            self.errors.append(traceback.format_exc(limit=3)[-600:])
        finally:
            watchdog.cancel()
        if out is not None:
            bad = self.wl.check(out)
            self.wl.cleanup(out)
            if bad:
                self.errors.append("; ".join(bad[:5]))
                out = None
        if timed:
            self.attempted += 1
            self.failed += out is None
        elif out is None:
            self.errors.append("warm-up iteration failed")
        return wall, out


def run_e2e(r: Run, seconds: float) -> dict:
    import sparkenv

    setups = []
    spark = None
    for k in range(SETUPS):
        t0 = time.perf_counter()
        spark = sparkenv.new_session(r.work, r.master)
        r.iterate(spark, timed=False)
        setups.append(time.perf_counter() - t0)
        if k < SETUPS - 1:
            sparkenv.stop_session(spark)
    for _ in range(WARMUPS):
        r.iterate(spark, timed=False)
    walls, admits = [], []
    t_loop = time.perf_counter()
    while r.attempted == 0 or time.perf_counter() - t_loop < seconds:
        wall, out = r.iterate(spark, timed=True)
        if out is not None:
            walls.append(wall)
            if "admit_s" in out:
                admits.append(out["admit_s"])
    rss = sparkenv.peak_rss_mb(sparkenv.jvm_pid())
    sparkenv.stop_session(spark)
    wall = _median(walls)
    report = {
        "setup_s_all": setups,
        "wall_s_all": walls,
        "wall_s_tail": tail(walls),
        "error_rate": r.failed / r.attempted,
        "peak_rss_mb": rss,
    }
    if admits:
        report["admit_s"] = _median(admits)
    metrics = {
        "docs_per_s": (r.wl.docs / wall if wall else 0.0, "docs/s"),
        "wall_s": (wall, "s"),
        "setup_s": (_median(setups), "s"),
        "peak_rss_mb": (rss, "MB"),
    }
    return {"report": report, "metrics": metrics}


def run_traced(r: Run, t_start: float) -> dict:
    import sparkenv
    from spans import Tracer, cache_state, cost_of, read_event_log

    wl, cores = r.wl, sparkenv.cores()
    spark = sparkenv.new_session(r.work, r.master)
    for _ in range(UNTRACED_WARMUPS):
        r.iterate(spark, timed=False)
    untraced = _median(
        [r.iterate(spark, timed=True)[0] for _ in range(UNTRACED_ITERATIONS)]
    )
    sparkenv.stop_session(spark)

    spark = sparkenv.new_session(r.work, r.master, event_log=True)
    r.iterate(spark, timed=False)
    tr = Tracer(spark, "perfbench")
    main = f"{wl.name}.iteration"
    with tr.span(main):
        traced_wall = r.iterate(spark, timed=True)[0]
    cache = cache_state(spark)
    optional = time.perf_counter() - t_start < OPTIONAL_DEADLINE_S
    fig, bad = wl.trace(spark, tr, optional)
    r.attempted += 1
    if bad:
        r.failed += 1
        r.errors.append("traced layers: " + "; ".join(bad[:5]))
    jobs = {n: tr.jobs_in(n) for n in (main, "curate.iteration")}
    stages = tr.stages_in(main)
    sparkenv.stop_session(spark)

    scaling = None
    if wl.name == "route" and time.perf_counter() - t_start < OPTIONAL_DEADLINE_S:
        spark = sparkenv.new_session(r.work, "local[1]")
        r.iterate(spark, timed=False)
        one = r.iterate(spark, timed=True)[0]
        sparkenv.stop_session(spark)
        scaling = {"local1_s": one, f"local{cores}_s": untraced,
                   "efficiency": one / (untraced * cores)}

    costs = read_event_log(os.path.join(r.work, "eventlog"))
    whole = cost_of(costs, tr, main)
    self_s = _self_times(tr)
    m = {
        "cache.mb": cache[0],
        "cache.entries": cache[1],
        **fig,
        **self_s,
        "spark.jobs": jobs[main],
        "spark.stages": stages,
        "spark.tasks": whole.tasks,
        "spark.task_s": whole.task_s,
        "spark.gc_s": whole.gc_s,
        "spark.spill_mb": whole.spill_mb,
        "spark.busy_share": whole.task_s / (traced_wall * cores),
        "trace.wall_s": traced_wall,
        "trace.coverage": _covered(self_s, wl.name) / traced_wall,
        "trace.overhead": traced_wall / untraced,
    }
    if scaling:
        m["route.scaling_eff"] = scaling["efficiency"]
    if "scan.self_s" in self_s:
        scan, parse = cost_of(costs, tr, "scan"), cost_of(costs, tr, "parse.prefix")
        route, classify = cost_of(costs, tr, "route.prefix"), cost_of(costs, tr, "classify")
        m.update({
            "scan.rows": scan.input_rows,
            "parse.task_s": parse.task_s - scan.task_s,
            "route.shuffle_write_mb": route.shuffle_write_mb,
            "route.fetch_wait_s": route.fetch_wait_s,
            "route.task_skew": route.post_exchange_task_skew(),
            "classify.task_s": classify.task_s,
            "classify.shuffle_write_mb": classify.shuffle_write_mb,
        })
    if "curate.iteration" in (sp.name for sp in tr.spans):
        cwall = tr.seconds("curate.iteration")
        m.update({
            "curate.wall_s": cwall,
            "curate.jobs": jobs["curate.iteration"],
            "curate.busy_share": cost_of(costs, tr, "curate.iteration").task_s
            / (cwall * cores),
            "curate.coverage": _covered(self_s, "curate") / cwall,
        })
    if "pairs.cosine_s" in self_s:
        m["pairs.cosine_tasks"] = len(cost_of(costs, tr, "pairs.cosine").busiest_stage())
    report = {"spans": tr.as_json(), "untraced_wall_s": untraced,
              "scaling": scaling}
    metrics = {k: (float(m.get(k, 0.0)), unit) for k, unit in PER_LAYER.items()}
    return {"report": report, "metrics": metrics}


# The layer self times that together make up each workload's iteration
# (trace.coverage / curate.coverage); classify (the sink read back) and the
# extra LSH candidate count are measured but are not part of an iteration.
ITERATION_LAYERS = {
    "route": ["scan.self_s", "parse.self_s", "counting.self_s", "enrich.self_s",
              "route.self_s", "write.self_s"],
    "curate": ["curate.self_s", "curate.admit_s", "dedup.shingle_s",
               "dedup.self_s", "pack.self_s"],
    "pairs": ["pairs.jaccard_s", "pairs.cosine_s"],
}


def _covered(self_s: dict, workload: str) -> float:
    return sum(self_s.get(k, 0.0) for k in ITERATION_LAYERS[workload])


def _self_times(tr) -> dict:
    """Self time per layer metric, for the layer spans the trace has. Route
    layers are prefixes that recompute everything before them, so a layer's
    self time is its prefix's time minus its parent prefix's; curation
    layers persist their inputs, so a span's time is its self time; the
    pairs layers are the iteration's own calls."""
    s = tr.seconds
    names = {sp.name for sp in tr.spans}
    out = {}
    if "scan" in names:
        out.update({
            "scan.self_s": s("scan"),
            "parse.self_s": s("parse.prefix") - s("scan"),
            "counting.self_s": s("counting.prefix") - s("parse.prefix"),
            "enrich.self_s": s("enrich.prefix") - s("parse.prefix"),
            "route.self_s": s("route.prefix") - s("enrich.prefix"),
            "write.self_s": s("write.prefix") - s("route.prefix"),
            "classify.self_s": s("classify"),
        })
    if "curate.filter" in names:
        out.update({
            "curate.self_s": s("curate.filter") + s("curate.decontaminate")
            + s("curate.redact"),
            "curate.admit_s": s("curate.admit"),
            "dedup.shingle_s": s("dedup.shingle"),
            "dedup.self_s": s("dedup.near_dup"),
            "pack.self_s": s("pack"),
        })
    if "pairs.jaccard" in names:
        out.update({"pairs.jaccard_s": s("pairs.jaccard"),
                    "pairs.cosine_s": s("pairs.cosine")})
    return out


PER_LAYER = {
    "scan.self_s": "s", "scan.input_mb": "MB", "scan.rows": "count",
    "parse.self_s": "s", "parse.task_s": "s", "parse.rows": "count",
    "counting.self_s": "s", "counting.quarantined": "count",
    "enrich.self_s": "s", "enrich.broadcast": "flag", "enrich.hit_ratio": "ratio",
    "route.self_s": "s", "route.shuffle_write_mb": "MB", "route.fetch_wait_s": "s",
    "route.shard_skew": "ratio", "route.task_skew": "ratio",
    "route.scaling_eff": "ratio",
    "write.self_s": "s", "write.output_mb": "MB", "write.files": "count",
    "write.strategy": "flag",
    "classify.self_s": "s", "classify.task_s": "s", "classify.shuffle_write_mb": "MB",
    "curate.self_s": "s", "curate.kept_ratio": "ratio", "curate.contaminated": "count",
    "curate.admit_jobs": "count", "curate.admit_s": "s", "curate.wall_s": "s",
    "curate.jobs": "count", "curate.busy_share": "ratio", "curate.coverage": "ratio",
    "dedup.shingle_s": "s", "dedup.self_s": "s", "dedup.candidates": "count",
    "dedup.verified": "count", "dedup.verify_yield": "ratio",
    "pairs.jaccard_s": "s", "pairs.jaccard_compared": "count",
    "pairs.jaccard_kept": "count", "pairs.cosine_s": "s",
    "pairs.cosine_compared": "count", "pairs.cosine_kept": "count",
    "pairs.cosine_tasks": "count",
    "pack.self_s": "s", "pack.sequences": "count",
    "cache.mb": "MB", "cache.entries": "count",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.task_s": "s", "spark.gc_s": "s", "spark.spill_mb": "MB",
    "spark.busy_share": "ratio",
    "trace.wall_s": "s", "trace.coverage": "ratio", "trace.overhead": "ratio",
}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=8.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import otlp_wire_spark.pipeline  # noqa: F401
        import __spark_entry__  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the program from {ROOT}: {e}",
              file=sys.stderr)
        return 2
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    # one run at a time per checkout: runs share the scratch directory
    with open(os.path.join(ROOT, ".perfbench.lock"), "w") as lock:
        try:
            fcntl.flock(lock, fcntl.LOCK_EX | fcntl.LOCK_NB)
        except BlockingIOError:
            print("perfbench: another run holds this checkout", file=sys.stderr)
            return 2
        return _run(args, WORKLOADS[args.workload]())


def _run(args, wl) -> int:
    """The run itself, once the checkout is locked."""
    import sparkenv
    from otlp_wire_spark.hosthealth import host_health_stamp

    work = os.path.join(ROOT, ".perfbench_work")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    avail = sparkenv.mem_available_mb()
    heap = sparkenv.heap_gb(avail)
    sparkenv.prepare_env(work, heap)
    cores = sparkenv.cores()
    r = Run(wl, work, f"local[{cores}]")
    t_start = time.perf_counter()
    try:
        host_before = host_health_stamp()
        # the JVM starts while the inputs and the reference are made; both
        # are untimed and mostly single-threaded
        with ThreadPoolExecutor(1) as pool:
            jvm = pool.submit(sparkenv.launch_jvm, work, heap)
            t0 = time.perf_counter()
            wl.prepare(os.path.join(work, "inputs"), args.seed)
            prepare_s = time.perf_counter() - t0
            jvm_s = jvm.result()
        res = run_traced(r, t_start) if args.trace else run_e2e(r, args.seconds)
    finally:
        sparkenv.shutdown_jvm()
        shutil.rmtree(work, ignore_errors=True)
    host = host_health_stamp(before=host_before)

    correct = r.failed == 0 and not r.errors
    report = {
        "workload": wl.name, "seed": args.seed, "trace": args.trace,
        "docs": wl.docs, "cores": cores, "master": r.master,
        "heap_gb": heap, "mem_available_mb": avail,
        "scratch_fs": sparkenv.fs_type(ROOT),
        "prepare_s": prepare_s, "jvm_start_s": jvm_s,
        "host_ok": host["host_ok"], "host": host,
        "errors": r.errors, **res["report"],
    }
    print(json.dumps({"perfbench_report": report}, default=str))
    print(json.dumps({
        "correct": correct,
        "attempted": r.attempted,
        "failed": r.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in res["metrics"].items()},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
