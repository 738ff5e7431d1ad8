"""Steadiness check: run workloads several times, report the spread.

    python3 perfbench/steady.py --workloads sync_upsert_cdf query_mix --seeds 1 2 3 4 5

Runs ``run.py`` once per (workload, seed), one run at a time, and prints
for every end-to-end metric the median, the quartiles and the spread
(interquartile distance over the median, the figure the bounds in
``BENCHMARK.json`` are compared with), the wall time of each run, and
the share of failed operations.  ``--trace`` adds one traced run per
workload and reports the tracing overhead on ``round_s``.  The last
line is a JSON summary.

    python3 perfbench/steady.py --compare set1.log set2.log set3.log

reads the summaries of earlier sets (the last line of each file) and
prints, per workload and metric, each set's median, the largest spread
and the largest change of the median from one set to another, as a
share of the smaller median: the two figures a metric's bound must
cover.
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


def run_once(workload: str, seed: int, seconds: float, trace: int) -> tuple[dict, dict, float]:
    t = time.perf_counter()
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    wall = time.perf_counter() - t
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stderr[-4000:])
        raise RuntimeError(f"{workload} seed {seed}: exit {proc.returncode}")
    record = {}
    for line in lines:
        if line.startswith("perfbench-record "):
            record = json.loads(line.split(" ", 1)[1])
    return json.loads(lines[-1]), record, wall


def spread(values: list[float]) -> tuple[float, float, float, float]:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return med, q1, q3, (q3 - q1) / med if med else float("inf")


def compare(paths: list[str]) -> dict:
    sets = []
    for p in paths:
        with open(p) as f:
            sets.append(json.loads(f.read().strip().splitlines()[-1]))
    out: dict = {}
    for w in sets[0]:
        for m, first in sets[0][w].items():
            if not isinstance(first, dict) or "median" not in first:
                continue
            if any(m not in s[w] for s in sets):
                continue  # a metric some sets did not have
            meds = [s[w][m]["median"] for s in sets]
            worst = max((b - a) / a for a in meds for b in meds)
            wide = max(s[w][m]["spread"] for s in sets)
            out.setdefault(w, {})[m] = {"medians": meds, "max_spread": wide, "max_change": worst}
            print(f"{w} {m}: medians " + " ".join(f"{x:.4f}" for x in meds)
                  + f"  max spread {wide:.3f}  max change {worst:.3f}")
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--compare", nargs="+", metavar="LOG",
                    help="compare the summaries of earlier sets instead of running")
    ap.add_argument("--workloads", nargs="+")
    ap.add_argument("--seeds", nargs="+", type=int, default=list(range(1, 11)))
    ap.add_argument("--seconds", type=float, default=None)
    ap.add_argument("--trace", action="store_true", help="add one traced run per workload")
    args = ap.parse_args(argv)
    if args.compare:
        print(json.dumps(compare(args.compare), sort_keys=True))
        return 0
    if not args.workloads:
        ap.error("--workloads is required")
    if args.seconds is None:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            args.seconds = json.load(f)["run_seconds"]

    summary = {}
    for w in args.workloads:
        results, walls, records = [], [], []
        for seed in args.seeds:
            res, rec, wall = run_once(w, seed, args.seconds, 0)
            results.append(res)
            records.append(rec)
            walls.append(wall)
            print(f"{w} seed={seed} wall={wall:.1f}s load={rec.get('loadavg_start')} "
                  + " ".join(f"{k}={v['value']:.4f}" for k, v in res["metrics"].items()),
                  flush=True)
        out = {"wall_s": spread(walls) if len(walls) > 1 else walls}
        shares = {r["failed"] / r["attempted"] for r in results}
        out["failed_share"] = sorted(shares)
        for m in results[0]["metrics"]:
            vals = [r["metrics"][m]["value"] for r in results]
            if len(vals) > 1:
                med, q1, q3, sp = spread(vals)
                out[m] = {"median": med, "q1": q1, "q3": q3, "spread": sp}
                print(f"  {w} {m}: median={med:.4f} q1={q1:.4f} q3={q3:.4f} spread={sp:.3f}")
        if args.trace:
            _, rec, wall = run_once(w, args.seeds[0], args.seconds, 1)
            traced = rec["end_to_end"]["round_s"]
            base = records[0]["end_to_end"]["round_s"]
            out["trace_overhead_round_s"] = {"traced": traced, "untraced": base,
                                             "overhead": traced - base}
            print(f"  {w} tracing overhead on round_s (seed {args.seeds[0]}): "
                  f"{traced - base:+.3f} s ({traced:.3f} vs {base:.3f})")
        summary[w] = out
    print(json.dumps(summary, sort_keys=True))
    return 0


if __name__ == "__main__":
    sys.exit(main())
