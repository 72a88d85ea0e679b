"""Closed-loop CDC drains through ``CDCPipeline``.

A pre-generated backlog is fed to the pipeline one window at a time:
the window's files are linked into the source directory and the
pipeline drains them with ``run_available`` (availableNow trigger,
one file per trigger), so each trigger starts when the previous one
has committed to all three sinks. The timed drain runs from the
query's ``start()`` to its termination and includes the final sink
``flush()``.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
from dataclasses import dataclass, field

from perfbench import checks, gen
from perfbench.common import (
    MAINTAIN_GROUP,
    Ctx,
    Suite,
    fsync_probe_ms,
    materialize,
    tail,
    warm_up,
)
from perfbench.trace import union_length


@dataclass
class Shape:
    fmt: str  # "envelope" (JSONL) or "commitlog" (binary frames)
    per_file: int  # events per trigger
    setup_reps: int = 3
    warm_files: int = 0  # triggers per warm-up window
    warm_windows: int = 0
    timed_per_s: float = 0.0  # timed triggers per second of --seconds

    def timed_files(self, seconds: int) -> int:
        return max(11, round(self.timed_per_s * seconds))


#: the replication-lag shape: one 2,000-event JSONL file per trigger.
#: Set-up and warm-up feed 13 triggers and the timed drain 16 (at 10 s),
#: so the timed drain always holds the same two upsert compactions
#: (one per 8 segments).
TRICKLE = Shape("envelope", 2000, warm_files=6, warm_windows=2, timed_per_s=1.6)


@dataclass
class Batch:
    batch_id: int
    start: float
    end: float
    stats: dict
    span_id: int | None


@dataclass
class Drain:
    wall: float
    batches: list[Batch]
    progress: list = field(default_factory=list)
    jobs: dict = field(default_factory=dict)
    gc_s: float = 0.0
    heap_peak_mb: float = 0.0
    started: float = 0.0


class CdcRun:
    """One pipeline over one generated input, instrumented from outside."""

    def __init__(self, ctx: Ctx, shape: Shape, inp: gen.CdcInput):
        self.ctx, self.shape, self.inp = ctx, shape, inp
        self.fed = 0
        self.batches: list[Batch] = []
        self.queries: list = []
        self.pipeline = None
        self.created = 0.0

    # -- pipeline ----------------------------------------------------------

    def _pipeline(self, src: str, tgt: str):
        from hybrid_cdc_demo_spark.schema.evolution import SchemaRegistry, TableSchema
        from hybrid_cdc_demo_spark.streaming.pipeline import CDCPipeline, PipelineConfig

        reg = SchemaRegistry()
        reg.register(TableSchema(self.inp.keyspace, self.inp.table,
                                 dict(self.inp.columns), [self.inp.key_col]))
        cfg = PipelineConfig(
            source_dir=src,
            target_dir=tgt,
            keyspace=self.inp.keyspace,
            table=self.inp.table,
            max_files_per_trigger=1,
            source_format=self.shape.fmt,
        )
        return CDCPipeline(self.ctx.spark, cfg, reg)

    def _instrument(self, p) -> None:
        ctx, tracer = self.ctx, self.ctx.tracer
        process = p.process_batch

        def timed_batch(df, batch_id):
            t0 = time.perf_counter()
            with tracer.span("pipeline.process_batch", ambient=True) as sid:
                stats = process(df, batch_id)
            self.batches.append(Batch(batch_id, t0, time.perf_counter(), stats, sid))
            return stats

        p.process_batch = timed_batch
        start = p.start

        def capture_start():
            q = start()
            self.queries.append(q)
            return q

        p.start = capture_start
        if not ctx.trace:
            return
        for name, sink in p.sinks.items():
            tracer.wrap(sink, "write_batch", f"sinks.{name}.write")
            tracer.wrap(sink.ledger, "commit", f"sinks.{name}.ledger_commit")
            if hasattr(sink, "compact"):
                tracer.wrap(sink, "compact", "sinks.compact")
            for attr in ("maintain", "optimize"):
                if hasattr(sink, attr):
                    self._wrap_maintenance(sink, attr)
        tracer.wrap(p.evolution, "observe_batch", "schema.observe_batch")

    def _wrap_maintenance(self, sink, attr: str) -> None:
        """Background maintenance runs in the sink's pool thread: give it
        a root span and a job group so its jobs are told apart from the
        micro-batch's."""
        sc, tracer, fn = self.ctx.spark.sparkContext, self.ctx.tracer, getattr(sink, attr)

        def run(*a, **kw):
            sc.setJobGroup(MAINTAIN_GROUP, "sink maintenance")
            try:
                with tracer.span(f"sinks.{attr}", root=True):
                    return fn(*a, **kw)
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)

        setattr(sink, attr, run)

    def _feed(self, src: str, n: int) -> None:
        """Link the next ``n`` generated files into the source directory."""
        for f in self.inp.files[self.fed : self.fed + n]:
            os.link(f, os.path.join(src, os.path.basename(f)))
        self.fed += n

    # -- protocol ------------------------------------------------------------

    def setup(self) -> list[float]:
        """Construct, start and commit the first trigger ``setup_reps``
        times on fresh directories; the last one stays as the pipeline
        under test. Returns each set-up's seconds."""
        times = []
        for r in range(self.shape.setup_reps):
            last = r == self.shape.setup_reps - 1
            base = self.ctx.path("cdc") if last else self.ctx.path(f"setup-{r}")
            src, tgt = os.path.join(base, "source"), os.path.join(base, "target")
            os.makedirs(src)
            self.fed = 0
            self._feed(src, 1)
            self.batches = []
            t0 = time.perf_counter()
            p = self._pipeline(src, tgt)
            self._instrument(p)
            self.created = t0
            p.run_available()
            times.append(self.batches[0].end - t0)
            if not last:
                shutil.rmtree(base)
        self.pipeline, self.src = p, src
        return times

    def drain(self, n_files: int, measure: bool = False) -> Drain:
        ctx = self.ctx
        self._feed(self.src, n_files)
        first = len(self.batches)
        lo = gc0 = 0
        if measure:
            ctx.counters.gc_barrier()
            ctx.counters.reset_heap_peak()
            gc0 = ctx.counters.gc_seconds()
            lo = ctx.counters.next_job_id()
        t0 = time.perf_counter()
        self.pipeline.run_available()
        wall = time.perf_counter() - t0
        d = Drain(wall, self.batches[first:], started=t0)
        if measure:
            d.gc_s = ctx.counters.gc_seconds() - gc0
            d.heap_peak_mb = ctx.counters.heap_peak_mb()
            d.progress = list(self.queries[-1].recentProgress)
            if ctx.trace:
                ctx.counters.settle()
                d.jobs = ctx.counters.jobs(lo, ctx.counters.next_job_id(), MAINTAIN_GROUP)
        return d

    def warm(self) -> dict:
        """Warm-up windows at the timed trigger shape; each window's
        figure is its median batch time."""
        return warm_up(
            lambda: statistics.median(b.end - b.start for b in self.drain(self.shape.warm_files).batches),
            self.shape.warm_windows,
        )

    def read_suite(self) -> Suite:
        """The four sink reads over the tables this pipeline wrote."""
        up, ap = self.pipeline.sinks["postgres"], self.pipeline.sinks["clickhouse"]
        last = self.fed - 1
        mid = last // 2
        self.read_bounds = (mid, last)
        return Suite(self.ctx, {
            "sink_upsert_read": up.read,
            "sink_append_read": ap.read,
            "sink_append_read_asof": lambda: ap.read_asof(mid),
            "sink_append_changes_between": lambda: ap.changes_between(mid, last),
        })


def drain_metrics(d: Drain) -> dict:
    """Events committed to all three sinks per second of drain, and the
    median micro-batch time. The batch tail (the highest percentile with
    ten batches beyond it) goes to the run record with its sample
    count; below 21 batches it is not above the median."""
    times = [b.end - b.start for b in d.batches]
    events = sum(int(b.stats.get("valid") or 0) for b in d.batches)
    t, pct = tail(times)
    return {
        "throughput_per_s": events / d.wall,
        "latency_s": statistics.median(times),
        "_tail_s": t,
        "_tail_percentile": pct,
        "_batches": len(times),
        "_events": events,
        "_max_s": max(times),
    }


def _progress_overhead_s(progress: list) -> float:
    """Median per trigger of triggerExecution − addBatch (the source
    and commit-log work around the micro-batch)."""
    vals = [
        (p.durationMs["triggerExecution"] - p.durationMs["addBatch"]) / 1000.0
        for p in progress
        if p.numInputRows and "addBatch" in p.durationMs
    ]
    return statistics.median(vals) if vals else 0.0


def _dir_files(path: str) -> tuple[int, int]:
    n = size = 0
    for root, _, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                n += 1
                size += os.path.getsize(os.path.join(root, f))
    return n, size


def layer_metrics(run: CdcRun, d: Drain) -> dict:
    """Per-layer figures of a measured drain from the traced run."""
    ctx, tracer = run.ctx, run.ctx.tracer
    p = run.pipeline
    by_parent: dict[int, list] = {}
    for s in tracer.spans:
        by_parent.setdefault(s.parent_id, []).append(s)
    serial, overlap, writes = [], [], {n: [] for n in p.sinks}
    for b in d.batches:
        kids = [s for s in by_parent.get(b.span_id, []) if s.name.endswith(".write")]
        iv = [(s.start, s.end) for s in kids]
        union = union_length(iv)
        serial.append((b.end - b.start) - union)
        if union > 0:
            overlap.append(sum(e - s for s, e in iv) / union)
        for s in kids:
            writes[s.name.split(".")[1]].append(s.end - s.start)
    t0, t1 = d.started, d.started + d.wall
    commits = [s.end - s.start for s in tracer.named("sinks.") if s.name.endswith(".ledger_commit") and t0 <= s.start <= t1]
    maint = [s for s in tracer.spans if s.name in ("sinks.maintain", "sinks.optimize") and t0 <= s.start <= t1]
    observe = tracer.named("schema.observe_batch", since=run.created)
    n_files = size = 0
    for name in p.sinks:
        n, b = _dir_files(os.path.join(p.config.target_dir, name))
        n_files, size = n_files + n, size + b
    committed = sum(int(b.stats.get("valid") or 0) for b in run.batches)
    counters = p.metrics.snapshot()["counters"]
    nb = max(1, len(d.batches))
    out = {
        "sources.trigger_overhead_s": _progress_overhead_s(d.progress),
        "schema.observe_calls": len(observe),
        "schema.observe_s": sum(s.end - s.start for s in observe),
        "pipeline.serial_s": statistics.median(serial),
        "pipeline.jobs_per_batch": d.jobs.get("jobs", 0) / nb,
        "pipeline.tasks_per_batch": d.jobs.get("tasks", 0) / nb,
        "pipeline.dlq_rows": sum(int(b.stats.get("invalid") or 0) for b in d.batches),
        "pipeline.retries": sum(v for k, v in counters.items() if k.startswith("cdc_retry_attempts_total")),
        "pipeline.sink_errors": sum(p.sink_errors.values()),
        "sinks.fanout_overlap": statistics.median(overlap) if overlap else 1.0,
        "sinks.ledger_commit_s": statistics.median(commits) if commits else 0.0,
        "sinks.maintain_runs": len(maint),
        "sinks.maintain_s": sum(s.end - s.start for s in maint),
        "sinks.files_after": n_files,
        "sinks.bytes_per_event": size / max(1, committed),
        "jvm.gc_s": d.gc_s,
        "jvm.heap_used_peak_mb": d.heap_peak_mb,
    }
    for name, vals in writes.items():
        out[f"sinks.{name}.write_s"] = statistics.median(vals) if vals else 0.0
    return out


def side_measurements(run: CdcRun, files: list[int], reps: int = 3) -> dict:
    """Source read and masking cost per 10k events, measured on the
    timed window's files outside the stream: the batch reader into the
    noop sink, then ``CDCPipeline.mask`` over the cached parsed frame."""
    from hybrid_cdc_demo_spark.sources.cdc import read_envelope_batch
    from hybrid_cdc_demo_spark.sources.commitlog import envelope_from_frames, read_commitlog_batch

    spark = run.ctx.spark
    side = run.ctx.path("side")
    os.makedirs(side, exist_ok=True)
    for i in files:
        f = run.inp.files[i]
        os.link(f, os.path.join(side, os.path.basename(f)))
    n10k = sum(len(run.inp.events[i]) for i in files) / 10_000

    def read():
        if run.shape.fmt == "envelope":
            return read_envelope_batch(spark, side)
        return envelope_from_frames(read_commitlog_batch(spark, side))

    read_t, mask_t = [], []
    for _ in range(reps):
        t0 = time.perf_counter()
        materialize(read())
        read_t.append(time.perf_counter() - t0)
    parsed = read().persist()
    materialize(parsed)
    for _ in range(reps):
        t0 = time.perf_counter()
        materialize(run.pipeline.mask(parsed))
        mask_t.append(time.perf_counter() - t0)
    parsed.unpersist()
    return {
        "sources.read_s_per_10k": statistics.median(read_t) / n10k,
        "masking.mask_s_per_10k": statistics.median(mask_t) / n10k,
    }


def check_outputs(run: CdcRun, timed: list[Batch], suite: Suite | None) -> tuple[int, int, list[str]]:
    """Untimed checks of what the pipeline committed. Returns
    (attempted, failed, errors): every measured batch, every timed
    sink read and each whole-table check is one checked operation."""
    from hybrid_cdc_demo_spark.functions.masking import MaskingRules

    p, inp = run.pipeline, run.inp
    rules = MaskingRules()
    ref = checks.CdcReference(inp, run.fed, rules.pii_fields, rules.phi_fields, rules.secret_key)
    by_event = {ev["event_id"]: ev for evs in inp.events[: run.fed] for ev in evs}
    errors: list[str] = []
    attempted = failed = 0
    for b in timed:
        attempted += 1
        s, i = b.stats, b.batch_id
        want = {
            "postgres": ref.upsert_rows_in_batch(i),
            "timescaledb": ref.upsert_rows_in_batch(i),
            "clickhouse": ref.append_rows(i, i),
            "invalid": inp.malformed[i],
        }
        bad = {k: (s.get(k), v) for k, v in want.items() if s.get(k) != v}
        if bad:
            failed += 1
            errors.append(f"batch {i}: {bad}")

    cols = ["key_hash", "event_id", "columns_masked"]
    last = run.fed - 1
    ops = {
        "upsert_state": lambda: checks.check_rows(
            p.sinks["postgres"].read().select(*cols).collect(), ref.upsert_state(), ref, by_event),
        "hypertable_state": lambda: checks.check_rows(
            p.sinks["timescaledb"].read().select(*cols).collect(), ref.upsert_state(), ref, by_event),
        "append_log_rows": lambda: _expect(
            p.sinks["clickhouse"].read_raw().count(), ref.append_rows(0, last), "append log rows"),
        "dlq_rows": lambda: _expect(_dlq_rows(run), ref.dlq_rows(), "DLQ rows"),
    }
    weight = dict.fromkeys(ops, 1)
    if suite is not None:
        mid, last = run.read_bounds
        res = {n: df.to_dict("records") for n, df in suite.results.items() if n.startswith("sink_")}
        changes = suite.results["sink_append_changes_between"]
        ops.update({
            "sink_upsert_read": lambda: checks.check_rows(
                res["sink_upsert_read"], ref.upsert_state(), ref, by_event),
            "sink_append_read": lambda: checks.check_rows(
                res["sink_append_read"], ref.append_view(last), ref, by_event),
            "sink_append_read_asof": lambda: checks.check_rows(
                res["sink_append_read_asof"], ref.append_view(mid), ref, by_event),
            "sink_append_changes_between": lambda: _expect(
                len(changes), ref.append_rows(mid + 1, last), "changes_between rows")
            + ([] if changes["_batch_id"].between(mid + 1, last).all()
               else ["rows outside the batch range"]),
        })
        weight.update({n: len(suite.samples[n]) for n in ops if n.startswith("sink_")})
    for name, fn in ops.items():
        attempted += weight[name]
        errs = fn()
        if errs:
            failed += weight[name]
            errors.extend(f"{name}: {e}" for e in errs)
    return attempted, failed, errors


def _expect(got: int, want: int, what: str) -> list[str]:
    return [] if got == want else [f"{what} {got} != {want}"]


def _dlq_rows(run: CdcRun) -> int:
    path = run.pipeline.config.dlq_path
    if not os.path.isdir(path):
        return 0
    df = run.ctx.spark.read.json(path)
    return df.filter(df.destination == "validation").count()


def read_layers(suite: Suite) -> dict:
    """Plans-layer work of the suite and the sink reads' share of it."""
    out = suite.layer_metrics()
    out["sinks.read_s"] = sum(v for n, v in suite.medians().items() if n.startswith("sink_"))
    return out


def run_trickle(ctx: Ctx, spark_s: float) -> dict:
    """The ``cdc_trickle`` workload: set-up, warm-up, timed drain,
    checks. The traced run adds, after the timed drain, the sink reads
    and the source and masking side measurements its per-layer figures
    need."""
    shape = TRICKLE
    n_files = 1 + shape.warm_windows * shape.warm_files + shape.timed_files(ctx.seconds)
    inp = gen.trickle_input(ctx.path("stage"), ctx.seed, n_files, events_per_file=shape.per_file)
    run = CdcRun(ctx, shape, inp)
    setups = run.setup()
    warm = run.warm()
    fsync_ms = fsync_probe_ms(ctx.path("probe"))
    timed_from = run.fed
    d = run.drain(shape.timed_files(ctx.seconds), measure=True)
    dm = drain_metrics(d)
    e2e = {k: v for k, v in dm.items() if not k.startswith("_")}
    e2e["setup_s"] = spark_s + statistics.median(setups)
    layers, suite = {}, None
    if ctx.trace:
        layers = layer_metrics(run, d)
        layers.update(side_measurements(run, list(range(timed_from, run.fed))))
        suite = run.read_suite()
        suite.one_pass()
        suite.timed(passes=1)
        layers.update(read_layers(suite))
        ctx.record["ops"] = suite.per_op()
    attempted, failed, errors = check_outputs(run, d.batches, suite)
    ctx.record.update({
        "input": inp.manifest,
        "setup_runs_s": setups,
        "warm_up_batch_p50_s": warm,
        "fsync_ms": fsync_ms,
        "timed_batches": dm["_batches"],
        "timed_events": dm["_events"],
        "batch_tail": {"s": dm["_tail_s"], "percentile": dm["_tail_percentile"],
                       "batches": dm["_batches"], "max_s": dm["_max_s"]},
        "check_errors": errors[:20],
    })
    return {"e2e": e2e, "layers": layers, "attempted": attempted, "failed": failed}
