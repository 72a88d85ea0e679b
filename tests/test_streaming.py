"""Streaming CDC pipeline scenarios (SURVEY §5.3: exactly-once,
crash/restart, DLQ routing, DELETE policy, late data, stateful dedup).

Deterministic: file-based envelope source + availableNow trigger."""

import json
import logging
import os

import pyspark.sql.functions as F
import pytest

from hybrid_cdc_demo_spark.functions.masking import mask_pii_value
from hybrid_cdc_demo_spark.observability.logging import get_logger
from hybrid_cdc_demo_spark.schema.evolution import SchemaRegistry, TableSchema
from hybrid_cdc_demo_spark.sources.cdc import (
    generate_change_events,
    read_envelope_batch,
)
import hybrid_cdc_demo_spark.streaming.pipeline as P
from hybrid_cdc_demo_spark.streaming.pipeline import CDCPipeline, PipelineConfig
from hybrid_cdc_demo_spark.streaming import windows as W


def _expected_latest(spark, source_dir):
    """Batch-computed ground truth: latest event per user key, DELETEs
    removing keys (= Q12 semantics over the envelope fixture)."""
    env = read_envelope_batch(spark, source_dir).dropDuplicates(["event_id"])
    env = env.filter(
        F.col("event_type").isin("INSERT", "UPDATE", "DELETE")
        & F.col("event_id").isNotNull()
    )
    from pyspark.sql import Window

    w = Window.partitionBy(F.col("partition_key")["user_id"]).orderBy(
        F.desc("timestamp_micros"), F.desc("event_id")
    )
    latest = env.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    return latest.filter(F.col("event_type") != "DELETE")


@pytest.fixture()
def fixture_dir(tmp_path):
    src = tmp_path / "commitlog"
    generate_change_events(str(src), n_events=600, n_files=3, seed=42)
    return tmp_path


def _pipeline(spark, tmp_path, **overrides) -> CDCPipeline:
    reg = SchemaRegistry()
    reg.register(
        TableSchema(
            keyspace="ecommerce",
            table="users",
            columns={
                "user_id": "uuid",
                "email": "text",
                "phone": "text",
                "first_name": "text",
                "last_name": "text",
                "age": "int",
                "city": "text",
                "created_at": "timestamp",
            },
            partition_keys=["user_id"],
        )
    )
    cfg = PipelineConfig(
        source_dir=str(tmp_path / "commitlog"),
        target_dir=str(tmp_path / "warehouse"),
        **overrides,
    )
    return CDCPipeline(spark, cfg, reg)


def test_pipeline_end_to_end(spark, fixture_dir):
    p = _pipeline(spark, fixture_dir)
    p.run_available()

    expected = _expected_latest(spark, str(fixture_dir / "commitlog"))
    exp_keys = {
        r["kh"]
        for r in expected.select(
            F.sha2(F.to_json("partition_key"), 256).alias("kh")
        ).collect()
    }

    pg = p.sinks["postgres"].read()
    got_keys = {r["key_hash"] for r in pg.select("key_hash").collect()}
    assert got_keys == exp_keys

    # masking applied: replica carries masked payload, never raw email
    row = pg.filter(F.col("columns_masked").isNotNull()).first()
    masked = json.loads(row["columns_masked"])
    raw = json.loads(row["columns"])
    assert masked["email_masked"] == mask_pii_value(raw["email"])

    # DLQ captured the malformed JSONL rows
    dlq_dir = p.config.dlq_path
    assert os.path.exists(dlq_dir)
    dlq = spark.read.json(dlq_dir)
    assert dlq.filter(F.col("error_type") == "contract_violation").count() > 0

    # ledgers committed for every sink, equal batch counts
    for sink in p.sinks.values():
        assert len(sink.ledger.committed_batches()) > 0


def test_exactly_once_on_restart(spark, fixture_dir):
    """Rerun with the same checkpoint: no reprocessing, state stable
    (reference test_exactly_once.py:16-167 scenario)."""
    p = _pipeline(spark, fixture_dir)
    p.run_available()
    state1 = sorted(
        r["key_hash"] for r in p.sinks["postgres"].read().select("key_hash").collect()
    )
    v1 = p.sinks["postgres"].table.current_version()
    ch_count1 = p.sinks["clickhouse"].read_raw().count()

    p2 = _pipeline(spark, fixture_dir)
    p2.run_available()  # same checkpoint dir → nothing new
    state2 = sorted(
        r["key_hash"] for r in p2.sinks["postgres"].read().select("key_hash").collect()
    )
    assert state1 == state2
    assert p2.sinks["postgres"].table.current_version() == v1
    assert p2.sinks["clickhouse"].read_raw().count() == ch_count1


def test_ledger_skips_replayed_batch(spark, fixture_dir):
    """Direct foreachBatch replay (same batch_id) must be a no-op —
    the batchId-guard exactly-once pattern (SURVEY §7.3.1)."""
    p = _pipeline(spark, fixture_dir)
    batch = read_envelope_batch(spark, str(fixture_dir / "commitlog"))
    stats1 = p.process_batch(batch, batch_id=7)
    assert stats1["postgres"] > 0
    stats2 = p.process_batch(batch, batch_id=7)  # replay
    assert stats2["postgres"] == 0
    assert stats2["clickhouse"] == 0
    assert p.sinks["clickhouse"].read_raw().filter(F.col("_batch_id") == 7).count() == stats1["clickhouse"]


def test_crash_recovery_incremental(spark, fixture_dir):
    """New commitlog segments after a stop are picked up from the
    checkpoint; previously processed files are not re-read
    (test_crash_recovery.py:16-207 scenario)."""
    p = _pipeline(spark, fixture_dir)
    p.run_available()
    before = {
        b["batch_id"] for b in p.sinks["postgres"].ledger.committed_batches()
    }

    # second wave of segments (later timestamps, same keyspace)
    generate_change_events(
        str(fixture_dir / "commitlog"),
        n_events=200,
        n_files=1,
        seed=43,
        base_micros=1_800_000_000_000_000,
        file_prefix="commitlog-wave2",
    )
    p2 = _pipeline(spark, fixture_dir)
    p2.run_available()
    after = {b["batch_id"] for b in p2.sinks["postgres"].ledger.committed_batches()}
    assert before < after  # strictly more batches committed

    expected = _expected_latest(spark, str(fixture_dir / "commitlog"))
    exp_keys = {
        r["kh"]
        for r in expected.select(
            F.sha2(F.to_json("partition_key"), 256).alias("kh")
        ).collect()
    }
    got = {r["key_hash"] for r in p2.sinks["postgres"].read().select("key_hash").collect()}
    assert got == exp_keys


def test_delete_policies(spark, tmp_path):
    src = tmp_path / "commitlog"
    src.mkdir()
    rows = [
        {
            "event_id": f"e{i}",
            "event_type": t,
            "table_name": "users",
            "keyspace": "ecommerce",
            "partition_key": {"user_id": u},
            "clustering_key": {},
            "columns": json.dumps({"user_id": u, "age": i}) if t != "DELETE" else "{}",
            "timestamp_micros": 1_000_000 + i,
            "ttl_seconds": None,
            "captured_at": "2024-01-01T00:00:00Z",
        }
        for i, (t, u) in enumerate(
            [("INSERT", "u1"), ("INSERT", "u2"), ("DELETE", "u1")]
        )
    ]
    with (src / "seg-0.json").open("w") as fh:
        for r in rows:
            fh.write(json.dumps(r) + "\n")

    # parity policy: append sink skips DELETEs → u1's stale row survives
    p = _pipeline(spark, tmp_path)
    p.run_available()
    pg_keys = {
        json.loads(r["columns"])["user_id"]
        for r in p.sinks["postgres"].read().collect()
    }
    assert pg_keys == {"u2"}  # upsert personality honors DELETE (O22)
    ch = p.sinks["clickhouse"].read()
    ch_keys = {json.loads(r["columns"])["user_id"] for r in ch.collect()}
    assert ch_keys == {"u1", "u2"}  # reference divergence reproduced (O23)

    # tombstone upgrade: trailing DELETE removes the key in the view
    p2 = _pipeline(
        spark,
        tmp_path / "t2",
        delete_policy_append="tombstone",
    )
    p2.config.source_dir = str(src)
    p2 = CDCPipeline(spark, p2.config, p2.registry)
    p2.run_available()
    ch2_keys = {
        json.loads(r["columns"])["user_id"]
        for r in p2.sinks["clickhouse"].read().collect()
    }
    assert ch2_keys == {"u2"}


def test_streaming_watermark_drops_late(spark, tmp_path):
    """S4: an event older than watermark - delay arriving in a later
    micro-batch is excluded from its (already closed) window."""
    src = tmp_path / "ev"
    src.mkdir()
    # three micro-batches: f0 advances event time to 12:00, f1 is a
    # padding batch (Spark applies the advanced watermark to the late-
    # row filter with one batch of lag), f2 delivers the late row
    files = [
        [
            {"event_id": "a", "ts": "2024-01-01T10:05:00.000Z"},
            {"event_id": "b", "ts": "2024-01-01T12:00:00.000Z"},
        ],
        [{"event_id": "pad", "ts": "2024-01-01T12:01:00.000Z"}],
        [{"event_id": "late", "ts": "2024-01-01T10:10:00.000Z"}],  # beyond watermark
    ]
    import time

    now = time.time()
    for i, rows in enumerate(files):
        p = src / f"f{i}.json"
        with p.open("w") as fh:
            for r in rows:
                fh.write(json.dumps(r) + "\n")
        # file source orders by mtime (ms granularity): force f0→f1→f2
        os.utime(p, (now - 60 + i * 10, now - 60 + i * 10))

    stream = (
        spark.readStream.schema("event_id string, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    agg = W.tumbling_counts(stream, ts_col="ts", size="1 hour", watermark="10 minutes")
    q = (
        agg.writeStream.format("memory")
        .queryName("s4_test")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = spark.sql(
        "SELECT window_start, c FROM s4_test ORDER BY window_start"
    ).collect()
    by_start = {str(r["window_start"]): r["c"] for r in rows}
    # the 10:00 window closed with ONLY event 'a' — 'late' was dropped
    # by the watermark (12:00 window may not emit under availableNow)
    assert by_start.get("2024-01-01 10:00:00") == 1
    dropped = [
        p["stateOperators"][0]["numRowsDroppedByWatermark"]
        for p in q.recentProgress
        if p["stateOperators"]
    ]
    assert sum(dropped) == 1


def test_streaming_dedup_within_watermark(spark, tmp_path):
    src = tmp_path / "ev"
    src.mkdir()
    rows = [
        {"event_id": "x", "ts": "2024-01-01T10:00:00.000Z", "v": 1},
        {"event_id": "x", "ts": "2024-01-01T10:00:01.000Z", "v": 2},  # dup delivery
        {"event_id": "y", "ts": "2024-01-01T10:00:02.000Z", "v": 3},
    ]
    with (src / "f1.json").open("w") as fh:
        for r in rows:
            fh.write(json.dumps(r) + "\n")
    stream = spark.readStream.schema("event_id string, ts timestamp, v int").json(
        str(src)
    )
    deduped = W.stateful_dedup(stream, id_col="event_id", ts_col="ts")
    q = (
        deduped.writeStream.format("memory")
        .queryName("s5_test")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    out = spark.sql("SELECT event_id FROM s5_test").collect()
    assert sorted(r["event_id"] for r in out) == ["x", "y"]


def test_pii_column_added_mid_stream_is_masked(spark, tmp_path):
    """§7.3.2 + O11-O14: a PII-named column ADDed mid-stream must be
    masked from the batch that introduces it — the registry evolves,
    the pipeline rebinds its cached masking expressions, and NO window
    of raw values reaches any sink (reference scenario
    tests/integration/test_add_column.py:17-77 + data-model.md:119-166,
    where the same ADD required a supervised restart)."""
    import time as _time

    src = tmp_path / "commitlog"
    src.mkdir()

    def envelope(i, uid, columns):
        return {
            "event_id": f"e{i}",
            "event_type": "INSERT",
            "table_name": "users",
            "keyspace": "ecommerce",
            "partition_key": {"user_id": uid},
            "clustering_key": {},
            "columns": json.dumps(columns),
            "timestamp_micros": 1_000_000 + i,
            "ttl_seconds": None,
            "captured_at": "2024-01-01T00:00:00Z",
        }

    # batch 1: the registered schema; batch 2: +ssn (unregistered PII)
    waves = [
        [envelope(0, "u1", {"user_id": "u1", "email": "a@x.com", "age": 30})],
        [
            envelope(
                1,
                "u2",
                {"user_id": "u2", "email": "b@x.com", "ssn": "123-45-6789"},
            )
        ],
    ]
    now = _time.time()
    for i, rows in enumerate(waves):
        seg = src / f"seg-{i}.json"
        with seg.open("w") as fh:
            for r in rows:
                fh.write(json.dumps(r) + "\n")
        os.utime(seg, (now - 60 + i * 10, now - 60 + i * 10))  # force order

    p = _pipeline(spark, tmp_path, max_files_per_trigger=1)
    assert "ssn" not in p.registry.latest("ecommerce", "users").columns
    p.run_available()

    # the registry evolved in-run — no restart happened
    evolved = p.registry.latest("ecommerce", "users")
    assert evolved.columns.get("ssn") == "text"
    assert any(e["action"] == "evolved" for e in p.evolution.audit)

    expected_ssn = mask_pii_value("123-45-6789")
    for name, sink in p.sinks.items():
        read = sink.read_raw if name == "clickhouse" else sink.read
        rows = read().filter(F.col("columns").contains("u2")).collect()
        assert rows, name
        for r in rows:
            masked = json.loads(r["columns_masked"])
            assert masked["ssn_masked"] == expected_ssn, name
            assert expected_ssn != "123-45-6789"
            assert "123-45-6789" not in (r["columns_masked"] or ""), name


def test_continuous_trigger_and_graceful_stop(spark, tmp_path):
    """O3/O38: processingTime trigger polls for new segments; stop()
    drains the in-flight batch and flushes compactions."""
    import time as _time

    generate_change_events(
        str(tmp_path / "commitlog"), n_events=200, n_files=1, seed=9
    )
    p = _pipeline(spark, tmp_path, processing_interval="200 milliseconds")
    q = p.start()
    try:
        deadline = _time.time() + 30
        while _time.time() < deadline and not p.sinks["postgres"].ledger.committed_batches():
            _time.sleep(0.3)
        assert p.sinks["postgres"].ledger.committed_batches()
        # a second wave arrives while the query is live
        generate_change_events(
            str(tmp_path / "commitlog"), n_events=100, n_files=1, seed=10,
            base_micros=1_900_000_000_000_000, file_prefix="wave2",
        )
        deadline = _time.time() + 30
        while _time.time() < deadline and len(
            p.sinks["postgres"].ledger.committed_batches()
        ) < 2:
            _time.sleep(0.3)
        assert len(p.sinks["postgres"].ledger.committed_batches()) >= 2
    finally:
        p.stop(q)
    assert not q.isActive
    assert p.sinks["postgres"].read().count() > 0


def test_sc001_ten_k_events_zero_loss_zero_duplication(spark, tmp_path):
    """BASELINE SC-001 (spec.md:168): 10,000 events replicated to all
    three destinations with zero loss and zero duplication. Ground
    truth is the batch latest-wins computation over the same fixture;
    every sink's final view must carry exactly that key set, exactly
    once per key."""
    src = tmp_path / "commitlog"
    generate_change_events(str(src), n_events=10_000, n_files=10, seed=7)
    # tombstone policy so ALL three sinks share the convergent DELETE
    # semantics (the default 'skip' reference-parity divergence is
    # covered by test_delete_policies)
    p = _pipeline(
        spark,
        tmp_path,
        max_files_per_trigger=None,
        delete_policy_append="tombstone",
    )
    p.run_available()

    expected_keys = {
        r["kh"]
        for r in _expected_latest(spark, str(src))
        .select(F.sha2(F.to_json("partition_key"), 256).alias("kh"))
        .collect()
    }
    assert expected_keys  # fixture sanity

    for name, sink in p.sinks.items():
        view = sink.read()
        keys = [r["key_hash"] for r in view.select("key_hash").collect()]
        assert set(keys) == expected_keys, f"{name}: loss or phantom keys"
        assert len(keys) == len(set(keys)), f"{name}: duplicated keys"


# -- small-trigger Arrow fan-out ---------------------------------------------


def _digest(df):
    """Schema plus the sorted row hashes: equal digests ⇔ the same rows
    with the same types, whatever the row order."""
    rows = df.select(F.sha2(F.to_json(F.struct(*df.columns)), 256)).collect()
    return df.schema.simpleString(), sorted(r[0] for r in rows)


def test_arrow_fanout_matches_spark_fanout(spark, tmp_path, monkeypatch):
    """Three 2,000-event triggers: with the Arrow fan-out the first
    trigger takes the Spark path (no previous size) and the next two
    write their segments with pyarrow. Every sink — including one keyed
    differently from the pipeline and a DataFrame-only sink — reads
    back hash-identical to an all-Spark run, with the shared latest
    flag and with observe-mode control counts too."""
    from hybrid_cdc_demo_spark.streaming.sinks import AggregateSink, UpsertSink

    src = tmp_path / "commitlog"
    generate_change_events(str(src), n_events=6000, n_files=3, seed=9)

    def run(name, **cfg):
        (tmp_path / name).mkdir()
        (tmp_path / name / "commitlog").symlink_to(src)
        p = _pipeline(spark, tmp_path / name, **cfg)
        wh = p.config.target_dir
        p.sinks["by_event"] = UpsertSink(spark, f"{wh}/by_event", ["event_id"])
        p.sinks["agg"] = AggregateSink(
            spark, f"{wh}/agg", ["key_hash"], {"events": ("event_id", "count")}
        )
        stats = []
        orig = p.process_batch
        p.process_batch = lambda df, bid: stats.append(orig(df, bid))
        p.run_available()
        assert p.sink_errors == {}
        ch = p.sinks["clickhouse"]
        reads = {n: _digest(s.read()) for n, s in p.sinks.items()}
        reads["asof"] = _digest(ch.read_asof(1))
        reads["changes"] = _digest(ch.changes_between(0, 2))
        return stats, reads, p.metrics.snapshot()["counters"]

    with monkeypatch.context() as m:
        m.setattr(P, "_ARROW_FANOUT_MAX_ROWS", 0)  # the gate closed
        ref_stats, ref_reads, _ = run("ref")
    assert [s.pop("write_path") for s in ref_stats] == ["spark"] * 3
    variants = [{}, {"share_latest_flag": True}, {"control_counts_via_observe": True}]
    for i, cfg in enumerate(variants):
        stats, reads, counters = run(f"arrow-{i}", **cfg)
        assert [s.pop("write_path") for s in stats] == ["spark", "arrow", "arrow"], cfg
        assert stats == ref_stats, cfg
        assert counters['cdc_batches_total{path="arrow"}'] == 2
        for name in ref_reads:
            assert reads[name] == ref_reads[name], (cfg, name)


def test_surge_past_the_cap_takes_spark_path_never_collected_whole(spark, tmp_path, monkeypatch):
    """A small trigger opens the Arrow gate for the next one; when that
    next one is a surge past the cap, the bounded collect (cap + 1 rows)
    detects it and the surge goes through the Spark fan-out —
    never collected whole to the driver — and the trigger after the
    surge stays on Spark. Results stay exact."""
    from pyspark.sql.classic.dataframe import DataFrame as ClassicDataFrame

    src = tmp_path / "commitlog"
    for i, (n, seed) in enumerate([(300, 1), (2000, 2), (300, 3), (300, 4)]):
        generate_change_events(
            str(src), n_events=n, n_files=1, seed=seed, file_prefix=f"{i}-wave",
            base_micros=1_700_000_000_000_000 + i * 10**12,
        )
        os.utime(src / f"{i}-wave-0000.json", (1_700_000_000 + i, 1_700_000_000 + i))
    collected = []
    to_arrow = ClassicDataFrame.toArrow

    def spy(self):
        table = to_arrow(self)
        collected.append(table.num_rows)
        return table

    monkeypatch.setattr(ClassicDataFrame, "toArrow", spy)
    cap = 1000
    monkeypatch.setattr(P, "_ARROW_FANOUT_MAX_ROWS", cap)
    p = _pipeline(spark, tmp_path)
    stats = []
    orig = p.process_batch
    p.process_batch = lambda df, bid: stats.append(orig(df, bid))
    p.run_available()

    assert [s["write_path"] for s in stats] == ["spark", "spark", "spark", "arrow"]
    assert stats[1]["valid"] > cap
    # the surge's collect stopped at cap + 1; only the last trigger's
    # whole batch reached the driver
    assert collected == [cap + 1, stats[3]["valid"]]
    expected = _expected_latest(spark, str(src))
    exp_keys = {
        r["kh"]
        for r in expected.select(F.sha2(F.to_json("partition_key"), 256).alias("kh")).collect()
    }
    for name in ("postgres", "timescaledb"):
        got = {r["key_hash"] for r in p.sinks[name].read().select("key_hash").collect()}
        assert got == exp_keys, name


def test_dlq_write_failure_is_logged_and_counted(spark, tmp_path):
    """A DLQ that cannot be written never crashes the pipeline, but the
    loss is not silent: the batch commits to every sink and
    cdc_dlq_write_failures_total{destination} ticks."""
    generate_change_events(str(tmp_path / "commitlog"), n_events=600, n_files=1, seed=42)
    p = _pipeline(spark, tmp_path)
    os.makedirs(p.config.target_dir, exist_ok=True)
    with open(p.config.dlq_path, "w") as fh:  # a file where the DLQ dir goes
        fh.write("not a directory")
    records = []

    class Keep(logging.Handler):
        def emit(self, record):
            records.append(record)

    keep = Keep()
    get_logger().addHandler(keep)
    try:
        p.run_available()
    finally:
        get_logger().removeHandler(keep)

    assert [r.fields["destination"] for r in records if r.getMessage() == "dlq_write_failed"] == [
        "validation"
    ]
    for sink in p.sinks.values():
        assert len(sink.ledger.committed_batches()) == 1
    counters = p.metrics.snapshot()["counters"]
    assert counters['cdc_errors_total{destination="validation",error_type="contract_violation"}'] > 0
    assert counters['cdc_dlq_write_failures_total{destination="validation"}'] == 1


def test_arrow_chunk_dates_follow_the_batch_session_zone(spark, tmp_path):
    """Under foreachBatch a batch belongs to the stream's session, whose
    time zone can differ from the session the sinks were built on. On
    both fan-outs the hypertable's `_chunk` follows the batch's zone —
    the one the Arrow gate checked."""
    la = spark.newSession()
    la.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
    paths = generate_change_events(
        str(tmp_path / "commitlog"), n_events=1200, n_files=2, seed=3,
        base_micros=1_700_006_400_000_000 - 150_000_000,  # 2023-11-15 UTC
    )
    p = _pipeline(spark, tmp_path)
    assert spark.conf.get("spark.sql.session.timeZone") != "America/Los_Angeles"
    paths_taken = [
        p.process_batch(read_envelope_batch(la, path), bid)["write_path"]
        for bid, path in enumerate(paths)
    ]
    assert paths_taken == ["spark", "arrow"]
    for seg in sorted((tmp_path / "warehouse" / "timescaledb" / "delta").glob("seg-*")):
        chunks = {r["_chunk"].isoformat() for r in spark.read.parquet(str(seg)).collect()}
        assert chunks == {"2023-11-14"}, seg.name


def test_arrow_writers_include_sinks_behind_tracing_wrappers(spark, tmp_path):
    """A built-in sink keeps taking Arrow tables when its write_batch is
    wrapped on the instance with functools.wraps (a tracer's span);
    a replacement of another kind, or a DataFrame-only sink, gets a
    DataFrame."""
    import functools

    from hybrid_cdc_demo_spark.streaming.sinks import AggregateSink

    p = _pipeline(spark, tmp_path)
    pg, ch = p.sinks["postgres"], p.sinks["clickhouse"]
    own = pg.write_batch

    @functools.wraps(own)
    def traced(*a, **kw):
        return own(*a, **kw)

    pg.write_batch = traced
    ch.write_batch = lambda batch, batch_id: 0
    agg = AggregateSink(spark, str(tmp_path / "agg"), ["key_hash"], {"n": ("event_id", "count")})
    assert P._writes_arrow(pg) and P._writes_arrow(p.sinks["timescaledb"])
    assert not P._writes_arrow(ch) and not P._writes_arrow(agg)
