"""The tier-pipeline part of the ``write_path`` workload: one
``run_pipeline`` per cycle.

Set-up writes a seeded ``SynthConfig`` raw table (32 sources, the 30% hot
source, every 37th hourly bucket missing) to parquet, one file per task
thread, and runs one warm-up pipeline over all of it. Each cycle then runs
``pipeline.run_pipeline`` from the raw parquet into a fresh warehouse:
rollup → gap-fill → 6h/1d → pages → scores → lineage.
An operation is one pipeline stage, as timed in the stage seconds
``run_pipeline`` returns; the cycle time also holds the lineage work between
stages, kept as one more step for :meth:`TierBatch.best_steps`. Each
warehouse is checked bit for bit against ``oracle.oracle_pipeline``
afterwards.
"""

from __future__ import annotations

import os
import time
from unittest import mock

import numpy as np
import pandas as pd

from perfbench.harness import CORES

N_ROWS = 200_000
N_SOURCES = 32
ROWS_PER_BUCKET = 128  # ~49 hourly buckets per source
RAW_SCHEMA = "doc_id string, n_tok int, source string, event_ts timestamp"
STAGE_OF_TABLE = {
    "rollup_1h": "operators.rollup.tier_1h",
    "rollup_6h": "operators.rollup.downsample",
    "rollup_1d": "operators.rollup.downsample",
    "scores_1h": "operators.detect.scores",
    "pages": "operators.encode.pages",
}
STAGES = sorted(set(STAGE_OF_TABLE.values())) + ["plans.lineage.record"]
COUNTERS = ("wall_s", "jobs", "cpu_s", "shuffle_mb", "spill_mb", "skew", "py_mb")
LAYER_METRICS = [f"{s}.{c}" for s in STAGES for c in COUNTERS] + [
    "sources.catalog.write.files",
    "sources.catalog.write.bytes_mb",
    "pipeline.jobs",
]


class TierBatch:
    op_name = "pipeline stage"

    def __init__(self, run, spans):
        from alibi_detect_spark.synth import SynthConfig

        self.run, self.spans = run, spans
        self.cfg = SynthConfig(
            n_rows=N_ROWS, n_sources=N_SOURCES, seed=run.seed, rows_per_bucket=ROWS_PER_BUCKET
        )
        self.raw_path = run.path("raw")
        self.warehouses: list[str] = []
        self.ops: list[float] = []
        self.cycles: list[float] = []
        self.steps: list[dict[str, float]] = []  # per cycle: seconds per step
        self.failed_ops = 0
        self.files: list[tuple[int, int]] = []

    def setup(self) -> None:
        from alibi_detect_spark.synth import synth_pandas

        with self.spans.span("synth.gen"):
            self.raw = synth_pandas(self.cfg, with_tokens=False)
            os.makedirs(self.raw_path)
            bounds = np.linspace(0, len(self.raw), CORES + 1).astype(int)
            for k in range(CORES):
                self.raw.iloc[bounds[k] : bounds[k + 1]].to_parquet(
                    os.path.join(self.raw_path, f"part-{k}.parquet"),
                    index=False,
                    coerce_timestamps="us",
                    allow_truncated_timestamps=True,
                )
        self._pipeline(self.run.path("warmup"))

    def _pipeline(self, warehouse: str) -> dict:
        from alibi_detect_spark.pipeline import run_pipeline

        raw = self.run.spark.read.schema(RAW_SCHEMA).parquet(self.raw_path)
        return run_pipeline(self.run.spark, raw, warehouse)

    def cycle(self) -> None:
        wh = self.run.path(f"wh{len(self.cycles)}")
        t0 = time.perf_counter()
        if self.run.trace:
            with self._traced_stages():
                self.spans.label("pipeline.other")
                out = self._pipeline(wh)
        else:
            out = self._pipeline(wh)
        cycle = time.perf_counter() - t0
        stages = {k: v for k, v in out["metrics"].items() if isinstance(v, float)}
        self.cycles.append(cycle)
        self.steps.append({**stages, "between_stages": cycle - sum(stages.values())})
        self.warehouses.append(wh)
        self.ops.extend(stages.values())
        self.files.append(_data_files(wh))

    def best_steps(self) -> dict[str, float]:
        """Each step's fastest time in the run: each stage write as
        ``run_pipeline`` times it, and the rest of the call (lineage records,
        re-reads, planning) as one more step."""
        return {k: min(s[k] for s in self.steps) for k in self.steps[0]}

    def _traced_stages(self):
        """Wrap the catalog writes and lineage records ``run_pipeline`` makes
        so each stage's jobs carry its label. Jobs between a write and the
        lineage record that follows it (the re-read and row count) fold under
        ``plans.lineage.record``."""
        from alibi_detect_spark import pipeline
        from alibi_detect_spark.plans.lineage import LineageLog
        from alibi_detect_spark.sources.catalog import TierCatalog

        spans = self.spans
        since_write = [None]

        def staged(method, table_arg):
            def wrapper(self_, df, *args, **kwargs):
                name = kwargs.get("name", args[0] if args else table_arg)
                with spans.span(STAGE_OF_TABLE[name]):
                    method(self_, df, *args, **kwargs)
                spans.label("plans.lineage.record")
                since_write[0] = time.perf_counter()

            return wrapper

        class TracedCatalog(TierCatalog):
            write_rollup = staged(TierCatalog.write_rollup, None)
            write_pages = staged(TierCatalog.write_pages, "pages")

        class TracedLineage(LineageLog):
            def record(self_, *args, **kwargs):
                super().record(*args, **kwargs)
                spans.add("plans.lineage.record", time.perf_counter() - since_write[0])
                spans.label("pipeline.other")

        return mock.patch.multiple(pipeline, TierCatalog=TracedCatalog, LineageLog=TracedLineage)

    def check(self) -> list[str]:
        """Bit-match every warehouse against the single-node oracle; a
        mismatching warehouse fails its operation."""
        from alibi_detect_spark.oracle import oracle_pipeline

        o = oracle_pipeline(self.raw)
        self.points = len(o["t1_filled"]) + len(o["t2"]) + len(o["t3"])
        want = {
            "rollup_1h": o["t1_filled"],
            "rollup_6h": o["t2"],
            "rollup_1d": o["t3"],
            "scores_1h": o["scores"],
            "pages": pd.concat([p.assign(tier=t) for t, p in o["pages"].items()], ignore_index=True),
        }
        problems = []
        for wh in self.warehouses:
            bad = [t for t, exp in want.items() if not _matches(wh, t, exp)]
            if bad:
                problems.append(f"{os.path.basename(wh)}: {', '.join(bad)} differ from the oracle")
        self.failed_ops = len(problems) * len(self.ops) // len(self.cycles)
        return problems

    def layer_metrics(self, folded: dict) -> dict[str, float]:
        n = len(self.cycles)
        out = {}
        for stage in STAGES:
            c = folded.get(stage)
            d = c.as_dict() if c else {}
            out[f"{stage}.wall_s"] = self.spans.wall.get(stage, 0.0) / n
            for k in COUNTERS[1:]:
                v = d.get(k, 0.0)
                out[f"{stage}.{k}"] = v if k == "skew" else v / n
        out["sources.catalog.write.files"] = sum(f for f, _ in self.files) / n
        out["sources.catalog.write.bytes_mb"] = sum(b for _, b in self.files) / n / 1e6
        out["pipeline.jobs"] = sum(folded[s].jobs for s in STAGES + ["pipeline.other"] if s in folded) / n
        return out

    def details(self) -> dict[str, tuple[float, str]]:
        p50 = float(np.median(self.cycles))
        return {
            "pipeline_s": (p50, "s"),
            "pipeline_points_per_s": (self.points / p50, "points/s"),
            **{f"best_pipeline.{k}_s": (v, "s") for k, v in self.best_steps().items()},
        }


def _data_files(root: str) -> tuple[int, int]:
    files = size = 0
    for dirpath, dirnames, filenames in os.walk(root):
        dirnames[:] = [d for d in dirnames if d != "_lineage"]
        for f in filenames:
            if f.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(dirpath, f))
    return files, size


def _read(warehouse: str, table: str) -> pd.DataFrame:
    df = pd.read_parquet(os.path.join(warehouse, table))
    if "tier" in df.columns:
        df["tier"] = df["tier"].astype(str)
    return df


def _matches(warehouse: str, table: str, want: pd.DataFrame) -> bool:
    """A missing or unreadable table does not match."""
    try:
        return _bit_equal(_read(warehouse, table), want)
    except (OSError, ValueError):
        return False


def _bit_equal(got: pd.DataFrame, want: pd.DataFrame) -> bool:
    """Same rows, same values, floats equal to the last bit (NaN == NaN)."""
    key = [c for c in ("tier", "source", "bucket_ts", "page_start_ts") if c in got.columns]
    if len(got) != len(want) or not set(got.columns) <= set(want.columns):
        return False
    a = got.sort_values(key, kind="mergesort").reset_index(drop=True)
    b = want[list(got.columns)].sort_values(key, kind="mergesort").reset_index(drop=True)
    for c in a.columns:
        x, y = a[c].to_numpy(), b[c].to_numpy()
        if x.dtype.kind in "fiub" and y.dtype.kind in "fiub":
            if x.dtype.kind == "f" or y.dtype.kind == "f":
                x, y = x.astype(np.float64).view(np.uint64), y.astype(np.float64).view(np.uint64)
            if not np.array_equal(x, y):
                return False
        elif [bytes(v) if isinstance(v, (bytes, bytearray)) else v for v in x] != [
            bytes(v) if isinstance(v, (bytes, bytearray)) else v for v in y
        ]:
            return False
    return True
