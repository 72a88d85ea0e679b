"""The ``query_suite`` workload: one client running a fixed list of
catalog queries and sink reads.

The sinks it reads are written in the same run by a binary-commitlog
ingest of a PII/PHI table with Zipf-skewed keys. That drain is not
timed end to end; the traced run takes its source (frame split and
parse), masking (SHA-256 and HMAC), pipeline and sink figures from it.
"""

from __future__ import annotations

import statistics
import time

from perfbench import cdc, checks, gen
from perfbench.common import Ctx, Suite, fsync_probe_ms, warm_up

#: fixed client order: relational, CDC-shaped, then LLM-data queries.
#: One of each kind the operators serve: a scan-aggregate, a three-way
#: join, a latest-wins window, a MinHash-LSH bucket self-join, an Arrow
#: ``mapInPandas`` feature pass and a chained regex rewrite. Two of them
#: have no oracle SQL and are checked by their pinned property.
CATALOG_OPS = [
    "q03_agg_tpch_q1",
    "q07_join_multiway",
    "q12_cdc_latest_wins",
    "ns_dedup_minhash",
    "ns_multimodal_features",
    "ns_pii_scrub",
]
#: queries without oracle SQL, checked by their pinned property
NO_ORACLE = {"ns_dedup_minhash", "ns_multimodal_features"}

#: the sink writer: binary commitlog in 2,000-event triggers, enough
#: triggers (8 upsert segments) that the sinks' background compaction
#: runs once
REPLAY = cdc.Shape("commitlog", 2000, setup_reps=1)
REPLAY_TRIGGERS = 8
#: timed suite passes per second of --seconds (a pass takes 4-6 s here)
TIMED_PASSES_PER_S = 0.2
#: table scale as a share of TPC-H sf1 row counts. At 0.1 a warm pass
#: of the catalog queries takes about twice as long, and a run would no
#: longer fit the benchmark's time budget.
SCALE = 0.01


def engine_setup(ctx: Ctx, tables: str) -> float:
    """``Engine`` views over the generated tables; returns seconds."""
    from hybrid_cdc_demo_spark.engine import Engine

    t0 = time.perf_counter()
    Engine(tables, ctx.spark)
    return time.perf_counter() - t0


def catalog_ops(ctx: Ctx, tables: str) -> dict:
    from hybrid_cdc_demo_spark.plans import QUERIES

    return {n: (lambda n=n: QUERIES[n](ctx.spark, tables)) for n in CATALOG_OPS}


def check_catalog(suite: Suite, tables: str) -> dict[str, str]:
    """Oracle comparison (DuckDB over the same parquet) or pinned
    property per catalog query; returns the failures."""
    import duckdb
    import pyarrow.parquet as pq

    from hybrid_cdc_demo_spark.plans import ORACLE_SQL
    from hybrid_cdc_demo_spark.sources.tables import TABLES

    con = duckdb.connect()
    try:
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{tables}/{t}.parquet')")
        frames = {t: pq.read_table(f"{tables}/{t}.parquet").to_pandas()
                  for t in ("documents", "embeddings")}
        bad = {}
        for name in CATALOG_OPS:
            got = suite.results[name]
            if name in NO_ORACLE:
                err = checks.check_property(name, got, frames)
            else:
                err = checks.frames_equal(got, con.execute(ORACLE_SQL[name]).df())
            if err:
                bad[name] = err
        return bad
    finally:
        con.close()


def run_query_suite(ctx: Ctx, spark_s: float) -> dict:
    """Set-up (``Engine`` views, three times), the sink writer's drain,
    then the suite: three warm-up passes, a GC barrier, and 0.2 timed
    passes per second of ``--seconds``. The traced run's ``jvm.*``
    figures cover the timed passes; its pipeline and sink-write figures
    cover the sink writer's drain."""
    tables = ctx.path("tables")
    table_rows = gen.query_tables(tables, ctx.seed, SCALE)
    inp = gen.bulk_input(ctx.path("stage"), ctx.seed, REPLAY_TRIGGERS, events_per_file=REPLAY.per_file)

    views = [engine_setup(ctx, tables) for _ in range(3)]
    run = cdc.CdcRun(ctx, REPLAY, inp)
    run.setup()
    replay_from = run.fed
    d = run.drain(REPLAY_TRIGGERS - 1, measure=ctx.trace)

    suite = Suite(ctx, {**catalog_ops(ctx, tables), **run.read_suite().ops})
    suite_warm = warm_up(suite.one_pass, windows=3)
    fsync_ms = fsync_probe_ms(ctx.path("probe"))
    ctx.counters.gc_barrier()
    if ctx.trace:
        ctx.counters.reset_heap_peak()
        gc0 = ctx.counters.gc_seconds()
    suite.timed(passes=max(1, round(TIMED_PASSES_PER_S * ctx.seconds)))
    if ctx.trace:
        # the JVM figures of the timed passes, not of the sink writer
        jvm = {"jvm.gc_s": ctx.counters.gc_seconds() - gc0,
               "jvm.heap_used_peak_mb": ctx.counters.heap_peak_mb()}

    e2e = suite.end_to_end()
    e2e["setup_s"] = spark_s + statistics.median(views)
    layers = {}
    if ctx.trace:
        layers = cdc.layer_metrics(run, d)
        layers.update(cdc.side_measurements(run, list(range(replay_from, run.fed))))
        layers.update(cdc.read_layers(suite))
        layers.update(jvm)
    attempted, failed, errors = cdc.check_outputs(run, d.batches, suite)
    bad = check_catalog(suite, tables)
    attempted += sum(len(suite.samples[n]) for n in CATALOG_OPS)
    failed += sum(len(suite.samples[n]) for n in bad)
    errors += [f"{n}: {e}" for n, e in bad.items()]
    ctx.record.update({
        "input": inp.manifest,
        "tables": table_rows,
        "setup_runs_s": views,
        "warm_up_pass_s": suite_warm,
        "fsync_ms": fsync_ms,
        "suite_passes": suite.passes,
        "ops": suite.per_op(),
        "check_errors": errors[:20],
    })
    return {"e2e": e2e, "layers": layers, "attempted": attempted, "failed": failed}
