"""Shared pieces of the workloads: the run context, the session, the
steady-state protocol and the operation-suite timer."""

from __future__ import annotations

import math
import os
import statistics
import time
from dataclasses import dataclass, field

from perfbench.trace import SparkCounters, Tracer

#: warm-up windows agree when their figures differ by at most this share
WARM_TOLERANCE = 0.10
#: job group the traced run puts sink maintenance jobs in, so per-batch
#: job counts leave out background compaction
MAINTAIN_GROUP = "perfbench-maintain"


@dataclass
class Ctx:
    workload: str
    seed: int
    seconds: int
    trace: bool
    work: str
    cores: int
    tracer: Tracer = None
    spark: object = None
    counters: SparkCounters = None
    record: dict = field(default_factory=dict)

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)


def start_session(ctx: Ctx) -> float:
    """Start Spark through the program's own factory; returns seconds
    from the ``get_spark`` call until the session answers."""
    from hybrid_cdc_demo_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(
        app_name=f"perfbench-{ctx.workload}",
        master=f"local[{ctx.cores}]",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": ctx.path("warehouse"),
            # the status store must keep every job of a window for the
            # traced job/task/byte counts
            "spark.ui.retainedJobs": "20000",
            "spark.ui.retainedStages": "40000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    elapsed = time.perf_counter() - t0
    ctx.spark = spark
    ctx.counters = SparkCounters(spark)
    return elapsed


def fsync_probe_ms(dirpath: str, reps: int = 20) -> float:
    """Median latency of a 64 KiB write + fsync: the host's write-path
    health while this run measured."""
    os.makedirs(dirpath, exist_ok=True)
    buf = b"\x5a" * 65536
    lat = []
    for i in range(reps):
        p = os.path.join(dirpath, f"probe-{i}")
        t0 = time.perf_counter()
        with open(p, "wb") as fh:
            fh.write(buf)
            fh.flush()
            os.fsync(fh.fileno())
        lat.append(time.perf_counter() - t0)
        os.unlink(p)
    return statistics.median(lat) * 1000


def cpu_steal_share() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs so far; the difference of two
    readings gives the share of time the hypervisor took from this VM."""
    with open("/proc/stat") as fh:
        fields = [int(x) for x in fh.readline().split()[1:]]
    return (fields[7] if len(fields) > 7 else 0), sum(fields)


def windows_agree(a: float, b: float) -> bool:
    return max(a, b) <= min(a, b) * (1 + WARM_TOLERANCE)


def warm_up(step, windows: int) -> dict:
    """Run ``step()`` — one warm-up window at the timed shape, returning
    its figure — a fixed number of times. The count is fixed because the
    JVM keeps speeding up for minutes: when warm-up stopped at the first
    two windows that agreed, its length varied between runs and so did
    the speed measured after it. The record says whether the last two
    windows agreed."""
    figures = [step() for _ in range(windows)]
    agreed = len(figures) >= 2 and windows_agree(figures[-1], figures[-2])
    return {"windows": figures, "last_two_agree": agreed}


def tail(values: list[float], beyond: int = 10) -> tuple[float, float]:
    """The highest percentile with at least ``beyond`` samples above it:
    (value, percentile). With fewer than ``beyond + 1`` samples it is the
    minimum."""
    v = sorted(values)
    idx = max(0, len(v) - beyond - 1)
    return v[idx], 100.0 * (idx + 1) / len(v)


def geomean(values: list[float]) -> float:
    return math.exp(sum(math.log(max(x, 1e-9)) for x in values) / len(values))


def materialize(df) -> None:
    df.write.mode("overwrite").format("noop").save()


class Suite:
    """A fixed, ordered list of operations run by one closed-loop client.

    Each operation is a function returning a DataFrame; one run of it is
    timed until the client holds the result as a pandas frame. Caches
    are cleared between operations. The last result of every operation
    is kept for the output checks."""

    def __init__(self, ctx: Ctx, ops: dict):
        self.ctx = ctx
        self.ops = ops
        self.samples: dict[str, list[float]] = {n: [] for n in ops}
        self.layer: dict[str, list[dict]] = {n: [] for n in ops}
        self.results: dict = {}
        self.elapsed = 0.0
        self.passes = 0

    def run_op(self, name: str, timed: bool) -> float:
        ctx = self.ctx
        lo = ctx.counters.next_job_id() if ctx.trace else 0
        t0 = time.perf_counter()
        with ctx.tracer.span(f"plans.{name}"):
            self.results[name] = self.ops[name]().toPandas()
        dt = time.perf_counter() - t0
        ctx.spark.catalog.clearCache()
        if ctx.trace and timed:
            ctx.counters.settle()
            self.layer[name].append(ctx.counters.jobs(lo, ctx.counters.next_job_id()))
        return dt

    def one_pass(self, timed: bool = False) -> float:
        t0 = time.perf_counter()
        for name in self.ops:
            dt = self.run_op(name, timed)
            if timed:
                self.samples[name].append(dt)
        total = time.perf_counter() - t0
        if timed:
            self.elapsed += total
            self.passes += 1
        return total

    def timed(self, passes: int) -> None:
        """A fixed number of timed passes. Not "passes until a time has
        elapsed": then faster runs took more passes, got further up the
        JVM's speed ramp and read faster still."""
        for _ in range(passes):
            self.one_pass(timed=True)

    def medians(self) -> dict[str, float]:
        return {n: statistics.median(s) for n, s in self.samples.items()}

    def end_to_end(self) -> dict[str, float]:
        """Operations per timed second, and the geometric mean over
        operations of each one's median time."""
        n_ops = sum(len(s) for s in self.samples.values())
        return {
            "throughput_per_s": n_ops / self.elapsed,
            "latency_s": geomean(list(self.medians().values())),
        }

    def layer_metrics(self) -> dict[str, float]:
        """Per-pass work of the suite's plans, from the traced passes."""
        passes = max(1, self.passes)
        tot = {"jobs": 0, "tasks": 0, "input_bytes": 0, "shuffle_bytes": 0, "spill_bytes": 0}
        for recs in self.layer.values():
            for r in recs:
                for k in tot:
                    tot[k] += r[k]
        n_ops = sum(len(s) for s in self.samples.values())
        return {
            "plans.jobs_per_op": tot["jobs"] / max(1, n_ops),
            "plans.tasks_per_op": tot["tasks"] / max(1, n_ops),
            "plans.input_bytes": tot["input_bytes"] / passes,
            "plans.shuffle_bytes": tot["shuffle_bytes"] / passes,
            "plans.spill_bytes": tot["spill_bytes"] / passes,
        }

    def per_op(self) -> dict[str, dict]:
        """Median and per-pass seconds, and per-pass job counts (traced
        runs), of every operation."""
        return {
            n: {"s": round(statistics.median(s), 4), "samples": [round(x, 4) for x in s],
                "jobs": [r["jobs"] for r in self.layer[n]]}
            for n, s in self.samples.items()
        }
