"""Session, process and measurement plumbing shared by the workloads.

Nothing here reaches into the engine: the session comes from
``alibi_detect_spark.session.get_spark`` with the benchmark's own extra
settings, and every span is taken from outside around a public call.
"""

from __future__ import annotations

import json
import os
import shutil
import signal
import subprocess
import threading
import time
from contextlib import contextmanager

PAGE = os.sysconf("SC_PAGE_SIZE")
# Two task threads on a 4-vCPU box: each cycle is dozens of short Spark jobs
# whose stages wait for their slowest task, while the driver and the JIT
# compile code beside them, so with a thread on every vCPU any vCPU the host
# hands to another guest stalls the stage (perfbench/README.md has the
# measurements). Fixed, with the shuffle partitions, so the recorded query
# hashes hold across hosts.
CORES = 2
SHUFFLE_PARTITIONS = 4


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as fh:
                stat = fh.read()
        except OSError:
            continue
        # the command name may hold spaces and parens: split after the last ')'
        ppid = int(stat[stat.rindex(b")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _alive(pid: int) -> bool:
    """True while ``pid`` exists and is not a zombie."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as fh:
            stat = fh.read()
    except OSError:
        return False
    return stat[stat.rindex(b")") + 2 :][:1] != b"Z"


def tree_rss_bytes(pid: int) -> int:
    total = 0
    for p in [pid, *descendants(pid)]:
        try:
            with open(f"/proc/{p}/statm", "rb") as fh:
                total += int(fh.read().split()[1]) * PAGE
        except OSError:
            continue
    return total


class RssSampler:
    """Peak resident set of this process plus every descendant (the JVM and
    its Python workers), sampled every ``interval`` seconds from ``/proc``."""

    def __init__(self, interval: float = 0.1):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(pid))
            self._stop.wait(self.interval)

    def __enter__(self) -> RssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, tree_rss_bytes(os.getpid()))


class Spans:
    """Wall-clock spans per label. In a traced run each label is also set as
    the Spark job group, so every job launched inside a span carries it and
    the event log can be folded per label."""

    def __init__(self, run):
        self.run = run
        self.wall: dict[str, float] = {}

    def label(self, name: str) -> None:
        if self.run.trace and self.run.spark is not None:
            self.run.spark.sparkContext.setJobGroup(name, name)

    def add(self, name: str, seconds: float) -> None:
        self.wall[name] = self.wall.get(name, 0.0) + seconds

    @contextmanager
    def span(self, name: str):
        self.label(name)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.add(name, time.perf_counter() - t0)


class Run:
    """One benchmark process: its scratch directory, its Spark session and
    the processes that session starts."""

    def __init__(self, root: str, workload: str, seed: int, trace: bool):
        self.root = root
        self.seed = seed
        self.trace = trace
        self.dir = os.path.join(root, ".perfbench_work", f"{workload}-{seed}-{os.getpid()}")
        shutil.rmtree(self.dir, ignore_errors=True)
        os.makedirs(os.path.join(self.dir, "tmp"))
        self.spark = None
        self.event_log_dir = os.path.join(self.dir, "eventlog")

    def path(self, *parts: str) -> str:
        return os.path.join(self.dir, *parts)

    def start_session(self, extra: dict[str, str] | None = None):
        """Start the engine's session (``get_spark``) with the benchmark's
        settings: fixed cores and partitions, scratch space inside the run
        directory, and an uncompressed, unrolled event log when tracing."""
        tmp = self.path("tmp")
        # workers import the engine from the checkout; every temp file stays in it
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (self.root, os.environ.get("PYTHONPATH")) if p
        )
        os.environ["TMPDIR"] = tmp
        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": tmp,
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
            "spark.sql.warehouse.dir": self.path("spark-warehouse"),
            "spark.sql.streaming.numRecentProgressUpdates": "100000",
        }
        if self.trace:
            os.makedirs(self.event_log_dir)
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": self.event_log_dir,
                    "spark.eventLog.compress": "false",
                    "spark.eventLog.rolling.enabled": "false",
                }
            )
        conf.update(extra or {})
        from alibi_detect_spark.session import get_spark

        self.spark = get_spark(
            "perfbench", parallelism=CORES, shuffle_partitions=SHUFFLE_PARTITIONS, extra_conf=conf
        )
        return self.spark

    def environment(self) -> dict:
        import pandas
        import pyarrow
        import pyspark

        conf = self.spark.sparkContext.getConf() if self.spark is not None else None
        return {
            "nproc": os.cpu_count(),
            "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
            "spark.master": conf.get("spark.master") if conf else None,
            "spark.driver.memory": conf.get("spark.driver.memory") if conf else None,
            "spark.sql.shuffle.partitions": conf.get("spark.sql.shuffle.partitions") if conf else None,
            "pyspark": pyspark.__version__,
            "pyarrow": pyarrow.__version__,
            "pandas": pandas.__version__,
            "seed": self.seed,
        }

    def event_log(self) -> str:
        """Path of the finished event log (valid after :meth:`stop`)."""
        (name,) = os.listdir(self.event_log_dir)
        return os.path.join(self.event_log_dir, name)

    def stop(self) -> None:
        """Stop Spark, then the gateway JVM, and wait until every process this
        run started has exited."""
        from pyspark import SparkContext

        # Python workers are the JVM's children: list them before it exits
        started = descendants(os.getpid())
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gateway = SparkContext._gateway
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            gateway.shutdown()
            if proc is not None:
                proc.stdin.close()  # the gateway JVM exits when its stdin closes
                try:
                    proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
            SparkContext._gateway = None
            SparkContext._jvm = None
        deadline = time.monotonic() + 30
        while (alive := [p for p in started if _alive(p)]) and time.monotonic() < deadline:
            time.sleep(0.1)
        for pid in alive:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        while any(_alive(p) for p in started):
            time.sleep(0.05)

    def cleanup(self) -> None:
        shutil.rmtree(self.dir, ignore_errors=True)
        parent = os.path.dirname(self.dir)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)


def result_line(correct: bool, attempted: int, failed: int, metrics: dict[str, tuple[float, str]]) -> str:
    return json.dumps(
        {
            "correct": correct,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }
    )
