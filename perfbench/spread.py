"""Run the benchmark over several seeds and summarise each metric.

    python3 perfbench/spread.py --workloads write_path detector_suite \
        --seeds 1 2 3 4 5 [--trace 0 1] [--out perfbench/BASELINE.json]

Runs ``perfbench/run.py`` once per (workload, trace, seed), one at a time,
from the repository root, and prints per workload and metric the median, the
first and third quartiles, and the spread (Q3 − Q1) / median next to the
metric's bound from ``BENCHMARK.json``. With both trace settings it also
prints the tracing overhead: the median traced cycle time minus the median
untraced one. ``--out`` also writes every run's result and environment as
JSON.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def cpu_ticks() -> list[int]:
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def run_once(workload: str, seed: int, seconds: int, trace: int) -> dict:
    t0 = time.monotonic()
    ticks0 = cpu_ticks()
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=180,
    )
    if proc.returncode != 0:
        raise RuntimeError(f"{workload} seed {seed} exited {proc.returncode}:\n{proc.stderr[-2000:]}")
    lines = proc.stdout.strip().splitlines()
    env = next(json.loads(line[len("environment "):]) for line in lines if line.startswith("environment "))
    ticks = [b - a for a, b in zip(ticks0, cpu_ticks())]
    cycles = next(line.split()[2:] for line in lines if line.startswith("cycle seconds "))
    return {
        "seed": seed,
        "wall_s": time.monotonic() - t0,
        "environment": env,
        "cycles_s": [float(c) for c in cycles],
        "printed": [line for line in lines if line.startswith(f"{workload} ")],
        "steal_share": ticks[7] / sum(ticks),  # CPU time the host gave to other guests
        "result": json.loads(lines[-1]),
    }


def summarise(values: list[float]) -> dict:
    q1, med, q3 = statistics.quantiles(values, n=4) if len(values) > 1 else (values[0],) * 3
    return {"median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med if med else 0.0}


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workloads", nargs="+", required=True)
    ap.add_argument("--seeds", nargs="+", type=int, required=True)
    ap.add_argument("--trace", nargs="+", type=int, default=[0])
    ap.add_argument("--out")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"] + bench["per_layer"]}
    report = {}
    for workload in args.workloads:
        report[workload] = {}
        for trace in args.trace:
            runs = [run_once(workload, s, bench["run_seconds"], trace) for s in args.seeds]
            names = runs[0]["result"]["metrics"]
            stats = {n: summarise([r["result"]["metrics"][n]["value"] for r in runs]) for n in names}
            report[workload][f"trace{trace}"] = {"runs": runs, "metrics": stats}
            walls = statistics.median(r["wall_s"] for r in runs)
            print(f"== {workload} trace {trace}: {len(runs)} runs, wall {walls:.1f} s median")
            for r in runs:
                print(f"  seed {r['seed']}: wall {r['wall_s']:.1f} s, steal {r['steal_share']:.3f},"
                      f" cycles {r['cycles_s']}")
            for n, st in stats.items():
                bound = bounds.get(n)
                flag = "" if bound is None else f" bound {bound:.2f}" + (" OVER" if st["spread"] > bound else "")
                print(f"  {n:40s} median {st['median']:12.4f}  q1 {st['q1']:12.4f}  q3 {st['q3']:12.4f}"
                      f"  spread {st['spread']:.3f}{flag}")
        if {0, 1} <= set(args.trace):
            overhead = (
                report[workload]["trace1"]["metrics"]["trace.cycle_s"]["median"]
                - report[workload]["trace0"]["metrics"]["cycle_s"]["median"]
            )
            report[workload]["tracing_overhead_s"] = overhead
            print(f"  tracing overhead {overhead:+.3f} s per cycle")
    if args.out:
        with open(args.out, "w") as fh:
            json.dump(report, fh, indent=1)
            fh.write("\n")


if __name__ == "__main__":
    main()
