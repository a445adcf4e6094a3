#!/usr/bin/env python3
"""Run one extraction-benchmark workload and print its metrics.

    python3 perfbench/run.py --workload pages_scan --seed 1 --seconds 10 --trace 0

One closed-loop client on ``local[--cores]`` (default: every core this
process may use). The corpus is generated from ``--seed`` (cached under
``.perfbench_cache/``) before Spark starts. Then the JVM and the session
start and a warm-up job spawns the Python workers (``setup_s``), the
workload's output is checked against the corpus expectation, and jobs
run back to back for ``--seconds``. ``--trace 0`` reports the end-to-end
metrics; ``--trace 1`` reports the per-layer metrics instead (see
metrics.py) and writes a span trace to ``.perfbench_cache/traces/``. The
last stdout line is one JSON object: ``{"correct", "attempted", "failed",
"metrics"}``. Exit code 1 on any output mismatch, 2 when the program
under test is missing.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from perfbench import metrics  # noqa: E402
from perfbench.corpus import load_or_build  # noqa: E402
from perfbench.harness import (  # noqa: E402
    PeakMemory,
    SparkRunner,
    Tracer,
    repeat_for,
    stage_metrics,
    work_env,
)
from perfbench.workloads import WORKLOADS  # noqa: E402

def untraced(wl, runner: SparkRunner, bind, seconds: float) -> dict:
    setup_s = runner.timed_setup()
    bind(runner.spark)
    t0 = time.perf_counter()
    wl.check()  # warm-up run whose output is checked
    check_s = time.perf_counter() - t0
    wl.warm_up()
    peaks: list[PeakMemory] = []

    def rep(i: int) -> float:
        # Every job starts from a full GC, as a job in a fresh JVM would:
        # its heap figures do not depend on garbage left by earlier jobs.
        runner.full_gc()
        with PeakMemory(runner.spark) as mem:
            wall = wl.rep(i)
        peaks.append(mem)
        return wall

    walls = repeat_for(seconds, rep)
    mem = sorted(peaks, key=lambda m: m.peak)[(len(peaks) - 1) // 2]  # the median job's
    values = {
        "setup_s": setup_s,
        "docs_per_s": wl.meta["docs"] / statistics.median(walls),
        "peak_rss_mb": mem.peak / 2**20,
    }
    return {"metrics": metrics.report(values, metrics.END_TO_END), "walls": walls, "check_s": check_s,
            "peak_mb": [round(m.peak / 2**20) for m in peaks],
            "peak_mb_by_part": {k: round(v / 2**20) for k, v in mem.at_peak.items()}, **wl.detail(walls)}


def traced(wl, runner: SparkRunner, bind, seconds: float, trace_path: str) -> dict:
    runner.timed_setup()
    bind(runner.spark)
    wl.check()
    wl.warm_up()
    plain = repeat_for(seconds / 2, wl.rep)
    # Same JVM, new session with the UI (and its REST API) on.
    runner.stop_session()
    runner.timed_setup(ui=True)
    bind(runner.spark)
    wl.rep(0)  # warm the new session's Python workers
    tracer = Tracer()
    sc = runner.spark.sparkContext

    def traced_rep(i: int) -> float:
        sc.setJobGroup(f"rep{i}", "perfbench traced job")
        with tracer.span("job", workload=wl.name, rep=i):
            wall = wl.rep(i)
        sc.setJobGroup("layers", "perfbench layer calls")
        return wall

    walls = repeat_for(seconds / 2, traced_rep)
    values = dict.fromkeys(metrics.PER_LAYER, 0.0)
    values.update(stage_metrics(runner.spark, f"rep{len(walls) - 1}"))
    with tracer.span("layers", workload=wl.name):
        values.update(wl.layers(tracer))
    values["trace.overhead_s"] = statistics.median(walls) - statistics.median(plain)
    tracer.dump(trace_path, {"workload": wl.name, "meta": wl.meta, "per_layer": values})
    return {"metrics": metrics.report(values, metrics.PER_LAYER), "walls": walls, "untraced_walls": plain}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", type=int, default=len(os.sched_getaffinity(0)))
    ap.add_argument("--size", choices=("full", "tiny"), default="full")
    args = ap.parse_args(argv)

    if not (REPO / "mangaextractor_spark" / "__init__.py").is_file():
        print(f"error: program under test not found at {REPO / 'mangaextractor_spark'}", file=sys.stderr)
        return 2

    # Python workers import the program from the checkout.
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [str(REPO), os.environ.get("PYTHONPATH")]))
    cache = str(REPO / ".perfbench_cache")
    run_dir = os.path.join(cache, f"run-{os.getpid()}")
    work_env(run_dir)
    wl = WORKLOADS[args.workload](args.size)
    t0 = time.perf_counter()
    corpus, meta = load_or_build(wl.spec, args.seed, cache, processes=min(4, args.cores))
    meta = {**meta, "corpus_s": round(time.perf_counter() - t0, 3)}
    print(f"workload={wl.name} seed={args.seed} cores={args.cores} corpus={json.dumps(meta)}", flush=True)

    def bind(spark):
        wl.bind(spark, corpus, meta, run_dir)

    runner = SparkRunner(args.cores, run_dir)
    try:
        if args.trace:
            trace_path = os.path.join(cache, "traces", f"{wl.name}-seed{args.seed}.json")
            out = traced(wl, runner, bind, args.seconds, trace_path)
            print(f"trace written to {os.path.relpath(trace_path, REPO)}")
        else:
            out = untraced(wl, runner, bind, args.seconds)
    finally:
        runner.close()
        shutil.rmtree(run_dir, ignore_errors=True)

    failed = len(wl.errors)
    attempted = max(wl.checked_docs, 1)
    out["doc_error_rate"] = failed / attempted
    for name, m in out["metrics"].items():
        print(f"{name:28s} {m['value']:.6g} {m['unit']}")
    print("detail " + json.dumps({k: v for k, v in out.items() if k != "metrics"}))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": out["metrics"]}))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
