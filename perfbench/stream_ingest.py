"""The streaming part of the ``write_path`` workload: the streaming rollup
with a restart and late data, one micro-batch per operation.

Set-up splits a seeded raw table into one parquet file per hourly bucket, in
time order, and moves a seeded share of rows ``LATE_SHIFT`` files later, so
they arrive after the 1-minute watermark has closed their window; one
warm-up cycle over all files follows. Each cycle
drains the files one per trigger (``availableNow``) with
``streaming.rollup_stream.stream_rollup`` in two phases, stopping and
restarting from the same checkpoint in between, then scores the emitted rows
with ``ewma_stream``. Afterwards the closed windows are compared with the
batch rollup of the on-time rows (each exactly once) and the EWMA output
with ``functions.ewma``, bit for bit.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from datetime import datetime

import numpy as np
import pandas as pd

N_SOURCES = 32
ROWS_PER_BUCKET = 64  # one file per hourly bucket → N_SOURCES * 64 rows a file
N_FILES = 4
LATE_SHARE = 0.02
LATE_SHIFT = 3  # files; the row's window closed two hours earlier
EWMA_FILES_PER_TRIGGER = 20
WATERMARK_S = 60
LAM = 0.1
RAW_SCHEMA = "doc_id string, n_tok int, source string, event_ts timestamp"
ROLLUP_SCHEMA = (
    "source string, bucket_ts long, n_docs long, sum_n_tok long,"
    " min_n_tok int, max_n_tok int, mean_n_tok double"
)
ROLLUP_COLS = ["n_docs", "sum_n_tok", "min_n_tok", "max_n_tok", "mean_n_tok"]
LAYER_METRICS = [
    f"streaming.stream_rollup.{c}"
    for c in (
        "add_batch_ms",
        "wal_commit_ms",
        "planning_ms",
        "state_rows",
        "state_mb",
        "state_commit_ms",
        "late_dropped_rows",
        "restart_s",
    )
] + [f"streaming.ewma_stream.{c}" for c in ("batch_ms", "state_commit_ms", "py_mb")]


def _epoch_s(iso: str) -> float:
    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


class StreamIngest:
    op_name = "micro-batch"

    def __init__(self, run, spans):
        from alibi_detect_spark.synth import SynthConfig

        self.run, self.spans = run, spans
        self.cfg = SynthConfig(
            n_rows=N_FILES * N_SOURCES * ROWS_PER_BUCKET,
            n_sources=N_SOURCES,
            seed=run.seed,
            rows_per_bucket=ROWS_PER_BUCKET,
        )
        self.stage = run.path("stage")
        self.files: list[str] = []
        self.ops: list[float] = []
        self.cycles: list[float] = []
        self.steps: list[dict[str, float]] = []  # per cycle: seconds per phase
        self.cycle_dirs: list[str] = []
        self.progress: list[dict] = []  # per cycle: rollup / ewma progress, restart
        self.failed_ops = 0

    def setup(self) -> None:
        from alibi_detect_spark.synth import synth_pandas

        with self.spans.span("synth.gen"):
            raw = synth_pandas(self.cfg, with_tokens=False)
            file_of = (np.arange(len(raw)) // N_SOURCES) // ROWS_PER_BUCKET
            rng = np.random.default_rng(self.run.seed)
            late = (rng.random(len(raw)) < LATE_SHARE) & (file_of < N_FILES - LATE_SHIFT)
            file_of = np.where(late, file_of + LATE_SHIFT, file_of)
            self.on_time = raw[~late].reset_index(drop=True)
            self.n_late = int(late.sum())
            os.makedirs(self.stage)
            base = time.time() - N_FILES - 60
            for k in range(N_FILES):
                path = os.path.join(self.stage, f"part-{k:04d}.parquet")
                raw[file_of == k].to_parquet(
                    path, index=False, coerce_timestamps="us", allow_truncated_timestamps=True
                )
                # the file source takes files oldest first: make that time order
                os.utime(path, (base + k, base + k))
                self.files.append(path)
        self._cycle(self.run.path("warmup"))

    def cycle(self) -> None:
        d = self.run.path(f"c{len(self.cycles)}")
        t0 = time.perf_counter()
        prog = self._cycle(d)
        self.cycles.append(time.perf_counter() - t0)
        self.cycle_dirs.append(d)
        self.progress.append(prog)
        self.steps.append(prog["steps"])
        self.ops.extend(
            p["durationMs"]["triggerExecution"] / 1e3 for p in prog["rollup"] if p["numInputRows"] > 0
        )

    def _rollup_phase(self, d: str):
        from alibi_detect_spark.streaming.rollup_stream import stream_rollup

        agg = stream_rollup(
            self.run.spark,
            os.path.join(d, "in"),
            watermark_delay=f"{WATERMARK_S} seconds",
            max_files_per_trigger=1,
            schema=RAW_SCHEMA,
        )
        q = (
            agg.writeStream.format("parquet")
            .option("path", os.path.join(d, "rollup"))
            .option("checkpointLocation", os.path.join(d, "rollup_ckpt"))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return q

    def _cycle(self, d: str) -> dict:
        from alibi_detect_spark.streaming.rollup_stream import ewma_stream

        spark = self.run.spark
        inbox = os.path.join(d, "in")
        os.makedirs(inbox)
        half = len(self.files) // 2

        def deliver(paths):
            for p in paths:
                os.link(p, os.path.join(inbox, os.path.basename(p)))

        t0 = time.perf_counter()
        deliver(self.files[:half])
        q1 = self._rollup_phase(d)
        t1 = time.perf_counter()
        deliver(self.files[half:])
        restart_at = time.time()
        q2 = self._rollup_phase(d)
        t2 = time.perf_counter()
        src = (
            spark.readStream.schema(ROLLUP_SCHEMA)
            .option("maxFilesPerTrigger", EWMA_FILES_PER_TRIGGER)
            .parquet(os.path.join(d, "rollup"))
        )
        qe = (
            ewma_stream(src, lam=LAM)
            .writeStream.format("parquet")
            .option("path", os.path.join(d, "ewma"))
            .option("checkpointLocation", os.path.join(d, "ewma_ckpt"))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        qe.awaitTermination()
        steps = {"rollup": t1 - t0, "restart": t2 - t1, "ewma": time.perf_counter() - t2}
        p1, p2, pe = (_progress(q) for q in (q1, q2, qe))
        return {
            "rollup": p1 + p2,
            "ewma": pe,
            "restart_s": _epoch_s(p2[0]["timestamp"]) - restart_at if p2 else 0.0,
            "ewma_run": str(qe.runId),
            "steps": steps,
        }

    def best_steps(self) -> dict[str, float]:
        """Each phase's fastest time in the run: the first rollup, the rollup
        after the restart, and the EWMA."""
        return {k: min(s[k] for s in self.steps) for k in self.steps[0]}

    def check(self) -> list[str]:
        from alibi_detect_spark.functions.ewma import ewma
        from alibi_detect_spark.oracle import rollup_pandas

        spark = self.run.spark
        self.spans.label("check")
        truth = rollup_pandas(self.on_time, "1h")
        watermark = self.on_time["event_ts"].max().timestamp() - WATERMARK_S
        closed = truth[truth["bucket_ts"] + 3600 <= watermark]
        closed = closed.sort_values(["source", "bucket_ts"]).reset_index(drop=True)
        problems = []
        for d, prog in zip(self.cycle_dirs, self.progress):
            try:
                got = _sorted(spark.read.parquet(os.path.join(d, "rollup")).toPandas())
                scored = _sorted(spark.read.parquet(os.path.join(d, "ewma")).toPandas())
            except Exception as e:  # a missing or unreadable output fails the cycle
                problems.append(f"{os.path.basename(d)}: output unreadable: {e}")
                self.failed_ops += sum(1 for p in prog["rollup"] if p["numInputRows"] > 0)
                continue
            bad = []
            if len(got) != len(closed) or not all(
                np.array_equal(got[c].to_numpy(np.float64), closed[c].to_numpy(np.float64))
                for c in ["bucket_ts", *ROLLUP_COLS]
            ) or not got["source"].equals(closed["source"]):
                bad.append("closed windows differ from the batch rollup of on-time rows")
            if len(scored) != len(got) or not scored[["source", "bucket_ts"]].equals(got[["source", "bucket_ts"]]):
                bad.append("EWMA rows differ from the emitted windows")
            else:
                for _, g in got.groupby("source", sort=False):
                    want = ewma(g["sum_n_tok"].to_numpy(np.float64), LAM)
                    have = scored.loc[g.index, "ewma"].to_numpy(np.float64)
                    if not np.array_equal(have.view(np.uint64), want.view(np.uint64)):
                        bad.append("EWMA differs from functions.ewma")
                        break
            if sum(_dropped(p) for p in prog["rollup"]) == 0:
                bad.append("no late row was dropped")
            if bad:
                problems.append(f"{os.path.basename(d)}: {'; '.join(bad)}")
                self.failed_ops += sum(1 for p in prog["rollup"] if p["numInputRows"] > 0)
        return problems

    def layer_metrics(self, folded: dict) -> dict[str, float]:
        def med(key, which="rollup"):
            return statistics.fmean(
                statistics.median(key(p) for p in prog[which] if p["numInputRows"] > 0)
                for prog in self.progress
            )

        def mean_last(key):
            return statistics.fmean(key(prog["rollup"][-1]) for prog in self.progress)

        def state(p):
            return p["stateOperators"][0]

        n = len(self.cycles)
        py = sum(
            folded[prog["ewma_run"]].py_bytes for prog in self.progress if prog["ewma_run"] in folded
        )
        r = "streaming.stream_rollup."
        e = "streaming.ewma_stream."
        return {
            r + "add_batch_ms": med(lambda p: p["durationMs"]["addBatch"]),
            r + "wal_commit_ms": med(lambda p: p["durationMs"]["walCommit"]),
            r + "planning_ms": med(lambda p: p["durationMs"]["queryPlanning"]),
            r + "state_rows": mean_last(lambda p: state(p)["numRowsTotal"]),
            r + "state_mb": mean_last(lambda p: state(p)["memoryUsedBytes"]) / 1e6,
            r + "state_commit_ms": med(lambda p: state(p)["commitTimeMs"]),
            r + "late_dropped_rows": statistics.fmean(
                sum(_dropped(p) for p in prog["rollup"]) for prog in self.progress
            ),
            r + "restart_s": statistics.fmean(prog["restart_s"] for prog in self.progress),
            e + "batch_ms": med(lambda p: p["durationMs"]["triggerExecution"], "ewma"),
            e + "state_commit_ms": med(lambda p: state(p)["commitTimeMs"], "ewma"),
            e + "py_mb": py / n / 1e6,
        }

    def details(self) -> dict[str, tuple[float, str]]:
        c = statistics.median(self.cycles)
        return {
            "stream_rows_per_s": (self.cfg.n_rows / c, "rows/s"),
            "microbatch_p50_ms": (float(np.quantile(self.ops, 0.5)) * 1e3, "ms"),
            "microbatch_p90_ms": (float(np.quantile(self.ops, 0.9)) * 1e3, "ms"),
            "late_rows_injected": (self.n_late, "rows"),
            **{f"best_stream.{k}_s": (v, "s") for k, v in self.best_steps().items()},
        }


def _progress(q) -> list[dict]:
    """All progress updates of a finished query. The session keeps far more
    updates than one query makes; a gap in the batch ids would show a loss."""
    prog = [json.loads(p.json) for p in q.recentProgress]
    ids = [p["batchId"] for p in prog]
    if ids and ids != list(range(ids[0], ids[0] + len(ids))):
        raise RuntimeError(f"progress updates missing: batch ids {ids}")
    return prog


def _dropped(p: dict) -> int:
    return sum(s.get("numRowsDroppedByWatermark", 0) for s in p.get("stateOperators", []))


def _sorted(df: pd.DataFrame) -> pd.DataFrame:
    return df.sort_values(["source", "bucket_ts"], kind="mergesort").reset_index(drop=True)
