"""Steadiness tool: run workloads repeatedly and report each metric's spread.

    python3 perfbench/steady.py --workloads ingest refresh search \
        --seeds 1 2 3 4 5 6 7 8 9 10 [--seconds 10] [--trace 0] [--out runs.json]

Runs ``run.py`` once per (workload, seed), one after another, and prints
per workload and metric the median, the quartiles (as
``statistics.quantiles(n=4)`` gives them) and the spread, (q3 - q1) /
median, together with the failed share and the host load average around
each run. The bounds in ``BENCHMARK.json`` are set from this output: a
metric's spread must stay under a third of its bound. With ``--trace 1``
it also reports which per-layer counts repeat exactly across the runs.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
EXACT = ("spark.jobs", "spark.stages", "sinks.manifest_store.files_written",
         "sinks.manifest_store.buckets_rewritten", "sinks.vector_store.jobs_per_query",
         "sinks.vector_index.jobs_per_query", "sinks.text_index.jobs_per_query")


def run_once(workload: str, seed: int, seconds: int, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    t = time.time()
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    wall = time.time() - t
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or len(lines) < 2:
        sys.stderr.write(p.stderr[-3000:])
        raise SystemExit(f"{workload} seed {seed}: exit {p.returncode}")
    return {"workload": workload, "seed": seed, "wall_s": wall,
            "info": json.loads(lines[-2])["info"], "result": json.loads(lines[-1])}


def summarize(runs: list) -> None:
    by_w: dict = {}
    for r in runs:
        by_w.setdefault(r["workload"], []).append(r)
    for w, rs in by_w.items():
        res = [r["result"] for r in rs]
        shares = sorted({r["failed"] / r["attempted"] for r in res})
        print(f"\n{w}: {len(rs)} runs, correct={all(r['correct'] for r in res)}, "
              f"failed shares={shares}, wall median={statistics.median(r['wall_s'] for r in rs):.1f} s, "
              f"load start/end median={statistics.median(r['info']['loadavg_start'][0] for r in rs):.2f}"
              f"/{statistics.median(r['info']['loadavg_end'][0] for r in rs):.2f}")
        print(f"  {'metric':52s} {'median':>11s} {'q1':>11s} {'q3':>11s} {'spread':>8s}")
        for m in res[0]["metrics"]:
            vals = [r["metrics"][m]["value"] for r in res]
            med = statistics.median(vals)
            q1, _, q3 = statistics.quantiles(vals, n=4) if len(vals) > 1 else (med, med, med)
            spread = (q3 - q1) / med if med else 0.0
            exact = "  exact" if m in EXACT and len(set(vals)) == 1 else \
                ("  VARIES" if m in EXACT else "")
            print(f"  {m:52s} {med:11.4f} {q1:11.4f} {q3:11.4f} {spread:8.3f}{exact}")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workloads", nargs="+", default=["ingest", "refresh", "search"])
    ap.add_argument("--seeds", nargs="+", type=int, default=list(range(1, 11)))
    ap.add_argument("--seconds", type=int, default=None,
                    help="default: run_seconds of BENCHMARK.json")
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--out", help="also write every run's output here (JSON)")
    args = ap.parse_args()
    if args.seconds is None:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            args.seconds = json.load(f)["run_seconds"]
    runs = []
    for w in args.workloads:
        for s in args.seeds:
            runs.append(run_once(w, s, args.seconds, args.trace))
            m = runs[-1]["result"]["metrics"]
            print(f"{w} seed {s}: " + ", ".join(f"{k}={v['value']:.4g}" for k, v in m.items()
                                                if not k.startswith(("sinks", "operators", "sources"))),
                  flush=True)
            if args.out:
                with open(args.out, "w") as f:
                    json.dump(runs, f)
    summarize(runs)
    return 0


if __name__ == "__main__":
    sys.exit(main())
