"""Session lifecycle, tracing and metric arithmetic shared by the workloads.

Tracing stays in the benchmark's own files: spans are opened around the
calls the benchmark makes into each layer of ``data_cube_spark``, and the
execution counters are read from Spark's status stores by job group, so
the program under test runs unmodified.
"""

from __future__ import annotations

import json
import math
import os
import statistics
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

CPUS = 4
DRIVER_MEMORY = "1g"
#: a fixed young generation, and two glibc malloc arenas: with G1 sizing
#: the young generation itself, epoch times and the JVM's resident
#: high-water mark moved with when it grew, between runs of the same code.
#: The heap is not pre-sized, so the old generation still grows with what
#: the program keeps, up to the cap
YOUNG_GEN = "256m"


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def mean(values: list[float]) -> float:
    return sum(values) / len(values) if values else 0.0


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def count_files(path: str, suffix: str = ".parquet") -> int:
    return sum(f.endswith(suffix) for _, _, files in os.walk(path) for f in files)


def vm_hwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op_id: int | None


@dataclass
class OpRecord:
    """One timed operation (a cube query or a stream epoch)."""

    op_id: int
    kind: str
    latency_s: float
    traced: bool
    ok: bool = True
    counts: dict = field(default_factory=dict)


class Tracer:
    """In-memory spans; written out once, when the run ends."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, op_id: int | None = None):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, time.perf_counter(), math.nan, parent, op_id))
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx].end = time.perf_counter()

    def durations(self, name: str, op_ids: set[int] | None = None) -> list[float]:
        """Durations of the spans called ``name``; of the given ops only
        when ``op_ids`` is set."""
        return [s.end - s.start for s in self.spans
                if s.name == name and (op_ids is None or s.op_id in op_ids)]

    def dump(self, path: str, ops: list[OpRecord]) -> None:
        with open(path, "w") as fh:
            json.dump({"spans": [asdict(s) for s in self.spans],
                       "ops": [asdict(o) for o in ops]}, fh)


class Session:
    """Owns the SparkSession (and through it the JVM) for one run."""

    def __init__(self, work_dir: str) -> None:
        self.work_dir = work_dir
        self.spark = None
        self._gateway_proc = None

    def start(self):
        from data_cube_spark.session import get_spark

        tmp = os.path.join(self.work_dir, "tmp")
        os.makedirs(tmp, exist_ok=True)
        os.environ["TMPDIR"] = tmp
        os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
        os.environ["MALLOC_ARENA_MAX"] = "2"
        self.spark = get_spark(cpus=CPUS, extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(self.work_dir, "warehouse"),
            "spark.local.dir": tmp,
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Xmn{YOUNG_GEN}",
        })
        self.spark.sparkContext.setLogLevel("ERROR")
        self._gateway_proc = self.spark.sparkContext._gateway.proc
        return self.spark

    def close(self) -> None:
        """Stop Spark and wait for the JVM (and its Python workers) to end."""
        import subprocess

        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        proc = self._gateway_proc
        if proc is None:
            return
        gw = SparkContext._gateway
        if gw is not None:
            gw.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=20)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=10)

    def peak_rss_mb(self) -> tuple[float, float]:
        """(driver Python, JVM) resident high-water marks in MB."""
        jvm = 0
        if self._gateway_proc is not None and self._gateway_proc.poll() is None:
            jvm = vm_hwm_kb(self._gateway_proc.pid)
        return vm_hwm_kb(os.getpid()) / 1024.0, jvm / 1024.0


# -- status stores ----------------------------------------------------------

_STAGE_FIELDS = ("tasks", "executor_run_ms", "executor_cpu_ns", "shuffle_write_bytes",
                 "spill_bytes", "input_bytes", "output_bytes")


def drain_listener_bus(spark) -> None:
    """Wait until the status store has seen every event posted so far."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(10_000)


def job_group_counts(spark, groups: list[str]) -> dict:
    """Jobs, completed stages and per-stage totals for the jobs of
    ``groups``, from ``statusTracker`` and the stage status store."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    out = {"jobs": 0, "stages": 0, **{k: 0 for k in _STAGE_FIELDS}}
    seen: set[int] = set()
    for g in groups:
        for job_id in tracker.getJobIdsForGroup(g):
            info = tracker.getJobInfo(job_id)
            out["jobs"] += 1
            for sid in (info.stageIds if info else []):
                if sid in seen:
                    continue
                seen.add(sid)
                sd = store.lastStageAttempt(sid)
                if str(sd.status()) != "COMPLETE":
                    continue
                out["stages"] += 1
                out["tasks"] += sd.numTasks()
                out["executor_run_ms"] += sd.executorRunTime()
                out["executor_cpu_ns"] += sd.executorCpuTime()
                out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                out["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
                out["input_bytes"] += sd.inputBytes()
                out["output_bytes"] += sd.outputBytes()
    return out


def execute_metrics(ops: list[OpRecord]) -> dict:
    """Per-op means of the status-store counters over the traced ops."""
    traced = [o.counts for o in ops if o.traced and o.counts]
    mb = 1024.0 * 1024.0

    def per_op(key, scale=1.0):
        return mean([c.get(key, 0) for c in traced]) / scale

    return {
        "execute.jobs_per_op": per_op("jobs"),
        "execute.stages_per_op": per_op("stages"),
        "execute.tasks_per_op": per_op("tasks"),
        "execute.executor_run_s_per_op": per_op("executor_run_ms", 1000.0),
        "execute.executor_cpu_s_per_op": per_op("executor_cpu_ns", 1e9),
        "execute.shuffle_write_mb_per_op": per_op("shuffle_write_bytes", mb),
        "execute.spill_mb_per_op": per_op("spill_bytes", mb),
        "execute.output_mb_per_op": per_op("output_bytes", mb),
        "sources.input_mb_per_op": per_op("input_bytes", mb),
    }


def latency_metrics(ops: list[OpRecord], wall_s: float) -> dict:
    lat = [o.latency_s for o in ops]
    return {
        "ops_per_s": len(ops) / wall_s if wall_s > 0 else 0.0,
        "latency_p50_s": median(lat),
    }


def overhead_ratio(ops: list[OpRecord], walls: dict[bool, float]) -> float:
    """Traced ops/s over untraced ops/s, from interleaved cycles."""
    rate = {}
    for traced in (False, True):
        n = sum(1 for o in ops if o.traced == traced)
        rate[traced] = n / walls[traced] if walls.get(traced) else 0.0
    return rate[True] / rate[False] if rate[False] else 0.0
