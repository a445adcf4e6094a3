#!/usr/bin/env python3
"""Run every workload of the extraction benchmark and print a report.

    python3 perfbench/suite.py --reps 3 --seconds 5 [--trace]

Each repetition runs every workload, plus ``pages_clean`` at
``local[1]`` for ``scaling_efficiency``, each in a fresh process (so a
fresh JVM) via run.py, with seed ``--seed + rep``; the order alternates
between repetitions. Every end-to-end metric that applies to a workload
is printed with its unit, median, quartiles and run count. ``--trace``
adds one traced run per workload and prints its per-layer metrics.
Exit code 1 if any run failed or produced a wrong output.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE.parent))

from perfbench import metrics  # noqa: E402
from perfbench.harness import quartiles  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402


def run_one(workload: str, seed: int, seconds: float, cores: int, trace: int) -> dict | None:
    """One run.py process; its metric values (plus, untraced, the detail
    metrics), or None if it failed."""
    cmd = [
        sys.executable, str(HERE / "run.py"), "--workload", workload, "--seed", str(seed),
        "--seconds", str(seconds), "--trace", str(trace), "--cores", str(cores),
    ]
    proc = subprocess.run(cmd, capture_output=True, text=True, cwd=HERE.parent, timeout=600)
    lines = proc.stdout.strip().splitlines()
    detail = [json.loads(ln[len("detail "):]) for ln in lines if ln.startswith("detail ")]
    if proc.returncode != 0 or not detail:
        sys.stderr.write(f"FAILED {' '.join(cmd[1:])} (exit {proc.returncode})\n{proc.stderr[-2000:]}\n")
        return None
    values = {k: m["value"] for k, m in json.loads(lines[-1])["metrics"].items()}
    values.update({k: v for k, v in detail[0].items() if k in metrics.DETAIL})
    return values


def row(name: str, unit: str, values: list[float]) -> str:
    q1, q2, q3 = quartiles(values)
    return f"  {name:26s} {q2:12.4f} {q1:12.4f} {q3:12.4f} {len(values):4d}  {unit}"


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--seconds", type=float, default=5.0)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--trace", action="store_true")
    args = ap.parse_args()
    cores = len(os.sched_getaffinity(0))

    plan = [(w, cores) for w in WORKLOADS] + ([("pages_clean", 1)] if cores > 1 else [])
    runs: dict[tuple[str, int], list[dict]] = {}
    ok = True
    for rep in range(args.reps):
        for w, c in plan if rep % 2 == 0 else reversed(plan):
            print(f"rep {rep} {w} local[{c}] seed {args.seed + rep}", file=sys.stderr, flush=True)
            got = run_one(w, args.seed + rep, args.seconds, c, 0)
            ok &= got is not None
            runs.setdefault((w, c), []).append(got or {})

    units = {k: v[0] for k, v in {**metrics.END_TO_END, **metrics.DETAIL}.items()}
    print(f"{'':28s} {'median':>12s} {'q1':>12s} {'q3':>12s} {'n':>4s}")
    for w in WORKLOADS:
        print(f"{w} local[{cores}]")
        for name in (*metrics.END_TO_END, *metrics.DETAIL):
            vals = [r[name] for r in runs[(w, cores)] if name in r]
            if vals:
                print(row(name, units[name], vals))
        if (w, 1) in runs:
            pairs = zip(runs[(w, cores)], runs[(w, 1)])
            eff = [a["pages_per_s"] / (cores * b["pages_per_s"]) for a, b in pairs if a and b]
            if eff:
                print(row("scaling_efficiency", "ratio", eff))

    if args.trace:
        layers = {}
        for w in WORKLOADS:
            print(f"trace {w} seed {args.seed}", file=sys.stderr, flush=True)
            got = run_one(w, args.seed, args.seconds, cores, 1)
            ok &= got is not None
            if got:
                layers[w] = got
        print(f"\n{'per-layer (traced run)':28s} " + " ".join(f"{w:>16s}" for w in layers) + "  unit")
        for name, (unit, _, _) in metrics.PER_LAYER.items():
            cells = " ".join(f"{layers[w][name]:16.4f}" for w in layers)
            print(f"  {name:26s} {cells}  {unit}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
