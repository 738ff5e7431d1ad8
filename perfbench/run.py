"""Run one benchmark workload and print its result as the last line.

    python3 perfbench/run.py --workload sync_upsert_cdf --seed 1 --seconds 8 --trace 0

A workload is one or more parts (``wl_sync.SyncPart``, ``wl_upsert.
UpsertPart``, ``wl_query.QueryPart``) sharing one Spark session.  After
set-up, the run repeats rounds — one step of every part — until
``--seconds`` have passed (and at least one round ran), then checks the
final state.  ``--trace 0`` prints the end-to-end metrics; ``--trace 1``
records spans around the engine's layers, prints a per-layer self-time
and jobs table on stderr, and prints the per-layer metrics.  The full
record (seed, nproc, load average, per-operation medians) is written to
``.perfbench_out/`` and printed on the ``perfbench-record`` line just
above the result.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.checks import CheckFailed  # noqa: E402
from perfbench.harness import PACKAGE, ROOT, Run, cpus, geomean, loadavg, median  # noqa: E402
from perfbench.wl_query import QueryPart  # noqa: E402
from perfbench.wl_sync import SyncPart  # noqa: E402
from perfbench.wl_upsert import UpsertPart  # noqa: E402

#: a run that has not finished by then stops with an error
DEADLINE_S = 170

WORKLOADS = {
    "sync_upsert_cdf": (SyncPart, UpsertPart),
    "query_mix": (QueryPart,),
}
E2E_UNITS = {"setup_s": "s", "round_s": "s", "op_geomean_s": "s"}


def per_layer_names() -> list[str]:
    names = []
    for cls in (SyncPart, UpsertPart, QueryPart):
        names += [n for n in cls.LAYER_METRICS if n not in names]
    return names + ["spark.jobs_per_round", "spark.tasks_per_round"]


def per_layer_unit(name: str) -> str:
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("_s") or name.endswith(".s"):
        return "s"
    if "amplification" in name:
        return "ratio"
    return "count"


def end_to_end(parts, setup_s: float) -> tuple[dict, dict]:
    """The end-to-end metrics, plus every operation's median."""
    ops = {}
    for p in parts:
        ops.update({k: median(v) for k, v in p.samples.items()})
    rounds = [sum(r) for r in zip(*(p.round_s for p in parts))]
    metrics = {
        "setup_s": setup_s,
        "round_s": median(rounds),
        "op_geomean_s": geomean(list(ops.values())),
    }
    detail = {"ops": ops, "rounds": rounds}
    for p in parts:
        detail[f"{p.name}_round_s"] = median(p.round_s)
    return metrics, detail


def per_layer(parts) -> dict:
    """Every listed per-layer metric; those of a layer the workload does
    not call read 0."""
    out = {n: 0 for n in per_layer_names()}
    jobs = tasks = 0.0
    for p in parts:
        vals = p.per_layer()
        jobs += vals.pop("spark.jobs_per_round")
        tasks += vals.pop("spark.tasks_per_round")
        out.update(vals)
    out["spark.jobs_per_round"] = jobs
    out["spark.tasks_per_round"] = tasks
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: the {PACKAGE} package is not in {ROOT}", file=sys.stderr)
        return 2
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2

    def on_deadline(_sig, _frame):
        raise TimeoutError(f"run exceeded {DEADLINE_S} s")

    signal.signal(signal.SIGALRM, on_deadline)
    signal.alarm(DEADLINE_S)

    run = Run(args.workload, args.seed, bool(args.trace))
    try:
        t0 = time.perf_counter()
        run.start_spark()
        spark_s = time.perf_counter() - t0
        parts = [cls(run) for cls in WORKLOADS[args.workload]]
        part_setup_s = {}
        for p in parts:
            t = time.perf_counter()
            p.setup()
            part_setup_s[p.name] = time.perf_counter() - t
        setup_s = time.perf_counter() - t0
        if run.tracer is not None:
            run.tracer.spans.clear()  # per-layer figures cover timed rounds only
        t_end = time.perf_counter() + args.seconds
        while True:
            for p in parts:
                p.step()
            if time.perf_counter() >= t_end and all(p.ready() for p in parts):
                break
        for p in parts:
            p.check()
        metrics_e2e, detail = end_to_end(parts, setup_s)
        layer = per_layer(parts) if run.tracer is not None else None
        if run.tracer is not None:
            run.tracer.print_table()
            spans = list(run.tracer.spans)
    except Exception as e:  # a failed check or operation: no metrics
        what = "check failed" if isinstance(e, CheckFailed) else "run failed"
        print(f"perfbench: {what}: {type(e).__name__}: {e}", file=sys.stderr)
        if run.attempted:
            print(json.dumps({"correct": False, "attempted": run.attempted,
                              "failed": run.failed, "metrics": {}}))
        return 1
    finally:
        signal.alarm(0)
        load_end = loadavg()
        run.close()

    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "nproc": os.cpu_count(),
        "spark_cores": cpus(),
        "loadavg_start": run.load_start,
        "loadavg_end": load_end,
        "attempted": run.attempted,
        "failed": run.failed,
        "spark_start_s": spark_s,
        "part_setup_s": part_setup_s,
        "end_to_end": metrics_e2e,
        "detail": detail,
        "per_layer": layer,
    }
    run.write_record(dict(record, spans=spans) if layer is not None else record)
    print("perfbench-record " + json.dumps(record, sort_keys=True))
    if layer is None:
        metrics = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in metrics_e2e.items()}
    else:
        metrics = {k: {"value": v, "unit": per_layer_unit(k)} for k, v in layer.items()}
    print(json.dumps({
        "correct": True,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
