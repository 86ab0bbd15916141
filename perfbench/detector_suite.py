"""``detector_suite``: the read side, one ``queries()`` entry per operation.

Set-up writes the generated tables (:mod:`perfbench.tables`, fixed data seed,
scale ``SF``, and a smaller copy at ``WARMUP_SF``) and warms the session up
with one pass over the panel on the smaller copy: the cold cost (class
loading, code generation, Python workers) does not depend on the data size.
Each
cycle is one pass over the panel in an order drawn from the run seed; each
query is built and its result collected to the driver (``toPandas``), which
is the operation's time. Every result of a timed pass is hashed outside the timed region with
``tools/check_entry.canon``; the check compares each hash with the one
recorded in ``suite_hashes.json``.

The panel holds one query per operator module (the module of the query's
outermost public call), because the full 113-query pass takes longer than a
run may last.
"""

from __future__ import annotations

import json
import os
import time

import numpy as np

SF = 0.01
WARMUP_SF = 0.001
DATA_SEED = 42
HERE = os.path.dirname(os.path.abspath(__file__))
HASHES = os.path.join(HERE, "suite_hashes.json")
PANEL = {
    "drift": ["drift_fdr"],
    "outlier": ["pca_outlier_2d"],
    "dedup": ["dedup_embedding_cosine"],
    "classifier": ["classifier_drift"],
    "ann": ["knn_outlier"],
    "textstats": ["doc_repetition"],
    "multimodal": ["props_json_stats"],
    "adversarial": ["model_distillation"],
    "llr": ["llr_outlier"],
    "sample": ["weighted_sample"],
    "detect": ["ewma_hourly_counts"],
    "rollup": ["rollup_1d_cascade"],
}
MODULE_OF = {q: m for m, qs in PANEL.items() for q in qs}
COUNTERS = ("build_s", "exec_s", "jobs", "shuffle_mb", "py_mb", "global_windows")
LAYER_METRICS = [f"operators.{m}.{c}" for m in PANEL for c in COUNTERS]


def canon(pdf):
    from tools.check_entry import canon as check_entry_canon

    rows, _, digest = check_entry_canon(pdf)
    return [rows, digest]


class DetectorSuite:
    op_name = "query"

    def __init__(self, run, spans):
        import __spark_entry__

        self.run, self.spans = run, spans
        self.queries = __spark_entry__.queries()
        self.sf_dir = run.path(f"sf{SF}")
        self.ops: list[float] = []
        self.per_query: dict[str, list[float]] = {q: [] for q in MODULE_OF}
        self.cycles: list[float] = []
        self.failed_ops = 0
        self.results: dict[str, list[list]] = {q: [] for q in MODULE_OF}
        self.rng = np.random.default_rng(run.seed)

    def setup(self) -> None:
        from perfbench.tables import write_tables

        warm_dir = self.run.path(f"sf{WARMUP_SF}")
        with self.spans.span("synth.gen"):
            write_tables(self.sf_dir, DATA_SEED, SF)
            write_tables(warm_dir, DATA_SEED, WARMUP_SF)
        for name in MODULE_OF:
            with self.spans.span(f"warmup|{name}"):
                self.queries[name](self.run.spark, warm_dir).toPandas()

    def cycle(self) -> None:
        done = []
        t0 = time.perf_counter()
        for name in map(str, self.rng.permutation(list(MODULE_OF))):
            label = f"operators.{MODULE_OF[name]}|{name}"
            t1 = time.perf_counter()
            with self.spans.span(f"{label}|build"):
                df = self.queries[name](self.run.spark, self.sf_dir)
            with self.spans.span(f"{label}|exec"):
                pdf = df.toPandas()
            done.append((name, time.perf_counter() - t1, pdf))
        self.cycles.append(time.perf_counter() - t0)
        for name, dt, pdf in done:
            self.ops.append(dt)
            self.per_query[name].append(dt)
            self.results[name].append(canon(pdf))

    def best_cycle(self) -> float:
        """A pass with each query at its fastest execution in the run: the
        queries are independent, so a burst that slows one query of one pass
        drops out even when another pass was hit elsewhere."""
        return sum(min(times) for times in self.per_query.values())

    def check(self) -> list[str]:
        """Each timed result's canonical hash must equal the recorded one;
        each execution with another hash is a failed operation."""
        with open(HASHES) as fh:
            recorded = json.load(fh)["hashes"]
        problems = []
        for name, got in self.results.items():
            want = recorded.get(name)
            bad = [k for k, h in enumerate(got) if h != want]
            if bad:
                problems.append(f"{name}: executions {bad} hash {got[bad[0]]} != recorded {want}")
                self.failed_ops += len(bad)
        return problems

    def layer_metrics(self, folded: dict) -> dict[str, float]:
        n = len(self.cycles)
        acc = {k: 0.0 for k in LAYER_METRICS}
        for label, seconds in self.spans.wall.items():
            if label.startswith("operators."):
                module, _, phase = label.split("|")
                acc[f"{module}.{phase}_s"] += seconds / n
        for label, c in folded.items():
            if label.startswith("operators."):
                module = label.split("|")[0]
                d = c.as_dict()
                for k in ("jobs", "shuffle_mb", "py_mb", "global_windows"):
                    acc[f"{module}.{k}"] += d[k] / n
        return acc

    def details(self) -> dict[str, tuple[float, str]]:
        return {
            "suite_s": (float(np.median(self.cycles)), "s"),
            "query_p50_s": (float(np.quantile(self.ops, 0.5)), "s"),
            "query_p90_s": (float(np.quantile(self.ops, 0.9)), "s"),
        }


def record_hashes() -> None:
    """Write ``suite_hashes.json`` from the current engine
    (``python3 -m perfbench.detector_suite`` from the repository root)."""
    from perfbench.harness import CORES, SHUFFLE_PARTITIONS, Run, Spans

    run = Run(os.path.dirname(HERE), "record", DATA_SEED, trace=False)
    try:
        run.start_session()
        suite = DetectorSuite(run, Spans(run))
        suite.setup()
        suite.cycle()
        hashes = {name: got[0] for name, got in suite.results.items()}
    finally:
        run.stop()
        run.cleanup()
    with open(HASHES, "w") as fh:
        json.dump(
            {
                "sf": SF,
                "data_seed": DATA_SEED,
                "cores": CORES,
                "shuffle_partitions": SHUFFLE_PARTITIONS,
                "hashes": hashes,
            },
            fh,
            indent=1,
            sort_keys=True,
        )
        fh.write("\n")


if __name__ == "__main__":
    record_hashes()
