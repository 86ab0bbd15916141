"""``write_path``: the write side, one tier pipeline and one checkpointed
stream per cycle.

A cycle runs :class:`perfbench.tier_batch.TierBatch` (``run_pipeline`` into a
fresh warehouse) and then :class:`perfbench.stream_ingest.StreamIngest` (two
``stream_rollup`` phases across a restart, late rows, then ``ewma_stream``).
An operation is a pipeline stage or a rollup micro-batch with input. Both
parts keep their own set-up, warm-up and output checks.

The two parts share one workload because a run of each pays its own session
start and cold warm-up, and three workloads of such runs do not fit the
benchmark's time budget on a 4-core box. The pipeline is about half of a
cycle, so ``cycle_s`` moves by about half as much as a pipeline-only change
moves the pipeline (the lineage work is about a tenth of a cycle); the
printed ``pipeline_s`` shows such a change whole.
"""

from __future__ import annotations

import time

from perfbench.stream_ingest import StreamIngest
from perfbench.tier_batch import TierBatch


class WritePath:
    op_name = "pipeline stage or rollup micro-batch"

    def __init__(self, run, spans):
        self.parts = (TierBatch(run, spans), StreamIngest(run, spans))
        self.cycles: list[float] = []

    @property
    def ops(self) -> list[float]:
        return [op for p in self.parts for op in p.ops]

    @property
    def failed_ops(self) -> int:
        return sum(p.failed_ops for p in self.parts)

    def setup(self) -> None:
        for p in self.parts:
            p.setup()

    def cycle(self) -> None:
        t0 = time.perf_counter()
        for p in self.parts:
            p.cycle()
        self.cycles.append(time.perf_counter() - t0)

    def best_cycle(self) -> float:
        """A cycle with each step of each part at its fastest in the run."""
        return sum(sum(p.best_steps().values()) for p in self.parts)

    def check(self) -> list[str]:
        return [problem for p in self.parts for problem in p.check()]

    def layer_metrics(self, folded: dict) -> dict[str, float]:
        return {k: v for p in self.parts for k, v in p.layer_metrics(folded).items()}

    def details(self) -> dict[str, tuple[float, str]]:
        return {k: v for p in self.parts for k, v in p.details().items()}
