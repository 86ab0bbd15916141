"""Benchmark entry point.

    python3 perfbench/run.py --workload {write_path,detector_suite}
        --seed N --seconds S --trace {0,1}

Run from the root of a checkout. One process drives the engine in a closed
loop (one client; the next operation starts when the previous one ends)
against a ``local[2]`` session (``harness.CORES`` says why two). Set-up
(session start, input generation, warm-up) is timed as ``setup_s``; then
cycles run until ``--seconds`` have passed, and at least ``MIN_CYCLES``; then
every output is checked, outside the timed region. ``cycle_s`` is the
workload's best cycle (``best_cycle``): each independent step of a cycle (a
query; a pipeline stage, the pipeline's lineage work, a stream phase) at its
fastest in the run. A run has room for two cycles; the faster of two drops
the one that a burst of load from outside the benchmark or a late JIT
compilation slowed, where their median (their mean) would carry it.

With ``--trace 0`` the last stdout line carries the end-to-end metrics; with
``--trace 1`` the session also writes an event log, every public call runs
under its own job group, and the line carries the per-layer metrics of
``BENCHMARK.json`` (layers the workload does not exercise read 0).
Human-readable lines above it name the workload's own metrics and the
environment.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
MIN_CYCLES = 2


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["write_path", "detector_suite"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return ap.parse_args(argv)


def per_layer_units() -> dict[str, str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)["per_layer"]}


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        import __spark_entry__  # noqa: F401  the engine must be in the checkout
        import alibi_detect_spark.pipeline  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the engine from {ROOT}: {e}", file=sys.stderr)
        return 2

    from perfbench import eventlog
    from perfbench.detector_suite import DetectorSuite
    from perfbench.harness import RssSampler, Run, Spans, result_line
    from perfbench.write_path import WritePath

    workload = {"write_path": WritePath, "detector_suite": DetectorSuite}[args.workload]
    run = Run(ROOT, args.workload, args.seed, bool(args.trace))
    spans = Spans(run)
    crashed = 0
    try:
        with RssSampler() as rss:
            t0 = time.perf_counter()
            with spans.span("session.start"):
                run.start_session()
            wl = workload(run, spans)
            with spans.span("warmup"):
                wl.setup()
            setup_s = time.perf_counter() - t0
            deadline = time.perf_counter() + args.seconds
            started = 0
            with spans.span("measure"):
                while started < MIN_CYCLES or time.perf_counter() < deadline:
                    started += 1
                    try:
                        wl.cycle()
                    except Exception:  # a failed operation is counted, not fatal
                        traceback.print_exc()
                        crashed += 1
        with spans.span("check"):
            problems = wl.check()
        env = run.environment()
    finally:
        with spans.span("stop"):
            run.stop()
    try:
        folded = eventlog.fold(run.event_log()) if run.trace else {}
    finally:
        run.cleanup()

    if not wl.cycles:
        print("perfbench: no cycle completed", file=sys.stderr)
        return 1
    ops_per_cycle = len(wl.ops) / max(len(wl.cycles), 1)
    attempted = len(wl.ops) + round(crashed * ops_per_cycle)
    failed = wl.failed_ops + round(crashed * ops_per_cycle)
    for p in problems:
        print(f"CHECK FAILED {p}")
    e2e = {"setup_s": (setup_s, "s"), "cycle_s": (wl.best_cycle(), "s")}
    # A run has a few dozen operations of unlike kinds: too few for a tail
    # percentile with ten samples beyond it, so operation percentiles are
    # printed, not bounded.
    p90 = statistics.quantiles(wl.ops, n=10, method="inclusive")[-1] if len(wl.ops) > 1 else wl.ops[0]
    named = {
        **e2e,
        "op_p50_ms": (statistics.median(wl.ops) * 1e3, "ms"),
        "op_p90_ms": (p90 * 1e3, "ms"),
        "peak_rss_mb": (rss.peak / 1e6, "MB"),
        **wl.details(),
        "failed_share": (failed / attempted, "ratio"),
    }
    print(f"environment {json.dumps(env, sort_keys=True)}")
    print(
        f"{args.workload}: {len(wl.cycles)} cycles, {len(wl.ops)} operations "
        f"(one operation = one {wl.op_name}), {attempted} attempted, {failed} failed"
    )
    for name, (value, unit) in named.items():
        print(f"{args.workload} {name} {value:.6g} {unit}")
    print("cycle seconds " + " ".join(f"{c:.3f}" for c in wl.cycles))
    phases = ("session.start", "warmup", "measure", "check", "stop")
    print("phases " + ", ".join(f"{p} {spans.wall[p]:.1f} s" for p in phases))
    if run.trace:
        layers = {
            "session.start_s": spans.wall["session.start"],
            "synth.gen_s": spans.wall["synth.gen"],
            "trace.cycle_s": wl.best_cycle(),
            "process.peak_rss_mb": rss.peak / 1e6,
            **wl.layer_metrics(folded),
        }
        metrics = {n: (float(layers.get(n, 0.0)), u) for n, u in per_layer_units().items()}
    else:
        metrics = e2e
    print(result_line(failed == 0 and not problems, attempted, failed, metrics), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
