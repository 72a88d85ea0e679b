"""AS OF (time travel) reads on the append-log sink: the dedup view
over a log PREFIX must equal what read() returned right after that
batch committed, and the scan must plan only the prefix's segment
files (file-level pruning, not a post-hoc filter)."""

import pyspark.sql.functions as F
import pytest

from hybrid_cdc_demo_spark.streaming.sinks import AppendSink, latest_per_key

SCHEMA = (
    "user_id long, event_id string, event_type string, "
    "timestamp_micros long, columns string"
)

BATCHES = [
    # batch 0: two users insert
    [(1, "e0", "INSERT", 100, '{"v":"a"}'), (2, "e1", "INSERT", 110, '{"v":"b"}')],
    # batch 1: user 1 updated, user 3 appears
    [(1, "e2", "UPDATE", 200, '{"v":"a2"}'), (3, "e3", "INSERT", 210, '{"v":"c"}')],
    # batch 2: user 2 deleted, user 1 updated again
    [(2, "e4", "DELETE", 300, None), (1, "e5", "UPDATE", 310, '{"v":"a3"}')],
]


def _write_all(spark, path, policy="tombstone"):
    sink = AppendSink(spark, path, ["user_id"], delete_policy=policy)
    for bid, rows in enumerate(BATCHES):
        sink.write_batch(spark.createDataFrame(rows, SCHEMA), batch_id=bid)
    return sink


def test_unknown_delete_policy_rejected(spark, tmp_path):
    with pytest.raises(ValueError, match="delete_policy"):
        AppendSink(spark, str(tmp_path / "ch"), ["user_id"], delete_policy="drop")


def test_read_asof_equals_prefix_state(spark, tmp_path):
    sink = _write_all(spark, str(tmp_path / "ch"))
    for upto in range(len(BATCHES)):
        expected_raw = spark.createDataFrame(
            [r for rows in BATCHES[: upto + 1] for r in rows], SCHEMA
        )
        expected = (
            latest_per_key(expected_raw, ["user_id"])
            .filter(F.col("event_type") != "DELETE")
            .select("user_id", "event_id")
        )
        got = sink.read_asof(upto).select("user_id", "event_id")
        assert sorted(map(tuple, got.collect())) == sorted(
            map(tuple, expected.collect())
        ), f"as-of batch {upto}"


def test_read_asof_full_log_equals_read(spark, tmp_path):
    sink = _write_all(spark, str(tmp_path / "ch"))
    assert sorted(map(tuple, sink.read_asof(2).collect())) == sorted(
        map(tuple, sink.read().collect())
    )


def test_read_asof_prunes_segment_files(spark, tmp_path):
    """AS OF 0 must PLAN only seg-0's files — newer segments are
    excluded at file-list level, never scanned-then-filtered."""
    sink = _write_all(spark, str(tmp_path / "ch"))
    files = sink.read_raw_asof(0).inputFiles()
    assert files, "prefix read planned no files"
    assert all("seg-000000000000" in f for f in files), files


def test_read_asof_before_first_batch_is_empty_with_schema(spark, tmp_path):
    sink = _write_all(spark, str(tmp_path / "ch"))
    empty = sink.read_asof(-1)
    assert empty.count() == 0
    # full projected schema preserved (the _schema.json contract)
    assert "columns" in empty.columns


def test_read_asof_skip_policy_drops_deletes_from_log(spark, tmp_path):
    """Under the reference-parity skip policy DELETEs never enter the
    log, so user 2 survives every snapshot (documented divergence)."""
    sink = _write_all(spark, str(tmp_path / "ch"), policy="skip")
    users = {r["user_id"] for r in sink.read_asof(2).collect()}
    assert users == {1, 2, 3}


def test_changes_between_returns_exact_range(spark, tmp_path):
    """CDF: (after, upto] must return exactly those batches' raw rows,
    planned from only the range's segment files."""
    sink = _write_all(spark, str(tmp_path / "ch"))
    feed = sink.changes_between(0, 2)
    got = sorted(r["event_id"] for r in feed.collect())
    assert got == ["e2", "e3", "e4", "e5"]  # batches 1 and 2 only
    files = feed.inputFiles()
    assert files and all(
        "seg-000000000001" in f or "seg-000000000002" in f for f in files
    )
    # batch ids preserved for commit-order application
    assert {r["_batch_id"] for r in feed.collect()} == {1, 2}


def test_changes_between_empty_range(spark, tmp_path):
    sink = _write_all(spark, str(tmp_path / "ch"))
    empty = sink.changes_between(2, 2)
    assert empty.count() == 0
    assert "columns" in empty.columns  # schema contract preserved


def test_snapshot_plus_changes_equals_next_snapshot(spark, tmp_path):
    """The CDF invariant that makes incremental consumers correct:
    state(asof k) applied with changes (k, m] == state(asof m)."""
    sink = _write_all(spark, str(tmp_path / "ch"))
    base = sink.read_asof(0).drop("_batch_id")
    feed = sink.changes_between(0, 2).drop("_batch_id")
    replayed = (
        latest_per_key(base.unionByName(feed), ["user_id"])
        .filter(F.col("event_type") != "DELETE")
        .select("user_id", "event_id")
    )
    direct = sink.read_asof(2).select("user_id", "event_id")
    assert sorted(map(tuple, replayed.collect())) == sorted(
        map(tuple, direct.collect())
    )


def test_append_log_tails_as_stream_incrementally(spark, tmp_path):
    """Multi-hop composition: the sink's log is a streaming SOURCE.
    A downstream consumer drains the existing batches, then a LATER
    write is picked up incrementally on the next trigger from the same
    checkpoint (no reprocessing of old segments)."""
    sink = _write_all(spark, str(tmp_path / "ch"))

    downstream = sink.as_stream().groupBy("user_id").count()
    ckpt = str(tmp_path / "ckpt_tail")

    def drain():
        q = (
            downstream.writeStream.format("memory")
            .queryName("tail_test")
            .outputMode("complete")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    drain()
    first = {r["user_id"]: r["count"] for r in spark.sql(
        "SELECT * FROM tail_test").collect()}
    assert first == {1: 3, 2: 2, 3: 1}  # all raw rows across 3 batches

    sink.write_batch(
        spark.createDataFrame(
            [(3, "e6", "UPDATE", 400, '{"v":"c2"}')], SCHEMA
        ),
        batch_id=3,
    )
    drain()
    second = {r["user_id"]: r["count"] for r in spark.sql(
        "SELECT * FROM tail_test").collect()}
    assert second == {1: 3, 2: 2, 3: 2}  # only the new segment ingested


def test_as_stream_requires_schema_sidecar(spark, tmp_path):
    from hybrid_cdc_demo_spark.streaming.sinks import AppendSink

    fresh = AppendSink(spark, str(tmp_path / "empty"), ["user_id"])
    try:
        fresh.as_stream()
        raise AssertionError("expected ValueError before first write")
    except ValueError:
        pass


def test_optimize_folds_segments_preserving_all_reads(spark, tmp_path):
    """OPTIMIZE consolidates per-batch dirs into one cseg while read(),
    read_asof (incl. a cutoff INSIDE the consolidated range, via the
    row-level _batch_id filter), and changes_between stay exact."""
    sink = _write_all(spark, str(tmp_path / "ch"))
    before_read = sorted(map(tuple, sink.read().collect()))
    before_asof1 = sorted(
        map(tuple, sink.read_asof(1).select("user_id", "event_id").collect())
    )
    before_cdf = sorted(
        r["event_id"] for r in sink.changes_between(0, 2).collect()
    )

    folded = sink.optimize(min_segments=2)
    assert folded == 3
    names = [p.name for p in (tmp_path / "ch" / "log").iterdir()]
    assert names == ["cseg-000000000000-000000000002"]

    assert sorted(map(tuple, sink.read().collect())) == before_read
    assert (
        sorted(
            map(
                tuple,
                sink.read_asof(1).select("user_id", "event_id").collect(),
            )
        )
        == before_asof1
    )
    assert (
        sorted(r["event_id"] for r in sink.changes_between(0, 2).collect())
        == before_cdf
    )


def test_optimize_shadowing_prevents_double_counting(spark, tmp_path):
    """Crash window between consolidation-rename and original-removal:
    both the cseg and its originals exist — readers must count each
    row ONCE (shadowing), and the next optimize sweeps the leftovers."""
    import shutil

    sink = _write_all(spark, str(tmp_path / "ch"))
    log = tmp_path / "ch" / "log"
    # simulate the crash window: build the consolidation but keep
    # the originals by restoring them afterwards
    backup = tmp_path / "backup"
    shutil.copytree(log, backup)
    sink.optimize(min_segments=2)
    for seg in backup.iterdir():
        shutil.copytree(seg, log / seg.name)
    assert len(list(log.iterdir())) == 4  # cseg + 3 shadowed originals

    raw = sink.read_raw()
    assert raw.count() == 6  # not 12 — shadowed dirs ignored
    # files planned come only from the consolidation
    assert all("cseg-" in f for f in raw.inputFiles())

    # the next optimize sweeps the shadowed leftovers
    sink.optimize(min_segments=1)
    assert [p.name for p in log.iterdir()] == [
        "cseg-000000000000-000000000002"
    ]
    assert sink.read_raw().count() == 6


def test_optimize_then_more_batches_reconsolidates_wider(spark, tmp_path):
    sink = _write_all(spark, str(tmp_path / "ch"))
    sink.optimize(min_segments=2)
    sink.write_batch(
        spark.createDataFrame([(9, "e9", "INSERT", 900, '{"v":"z"}')], SCHEMA),
        batch_id=3,
    )
    # cseg(0-2) + seg-3 -> cseg(0-3)
    assert sink.optimize(min_segments=2) == 2
    log = tmp_path / "ch" / "log"
    assert [p.name for p in log.iterdir()] == [
        "cseg-000000000000-000000000003"
    ]
    users = {r["user_id"] for r in sink.read().collect()}
    assert users == {1, 3, 9}  # u2 deleted; all batches present


def test_optimize_below_threshold_is_noop(spark, tmp_path):
    sink = _write_all(spark, str(tmp_path / "ch"))
    assert sink.optimize(min_segments=10) == 0
    assert len(list((tmp_path / "ch" / "log").iterdir())) == 3


def test_background_auto_optimize_bounds_file_count(spark, tmp_path):
    from hybrid_cdc_demo_spark.streaming.sinks import AppendSink

    sink = AppendSink(
        spark, str(tmp_path / "ch"), ["user_id"],
        delete_policy="tombstone", optimize_every=4,
    )
    for bid in range(10):
        sink.write_batch(
            spark.createDataFrame(
                [(bid % 3, f"e{bid}", "INSERT", 100 + bid, '{"v":"x"}')],
                SCHEMA,
            ),
            batch_id=bid,
        )
        sink.flush()  # deterministic: wait out each background fold
    log = tmp_path / "ch" / "log"
    assert len(list(log.iterdir())) < 10  # consolidation kicked in
    assert sink.read_raw().count() == 10  # nothing lost
    assert {r["user_id"] for r in sink.read().collect()} == {0, 1, 2}


def test_vacuum_drops_history_keeps_suffix(spark, tmp_path):
    sink = _write_all(spark, str(tmp_path / "ch"))
    removed = sink.vacuum(retain_after_batch=1)  # drop batches 0 and 1
    assert removed == 2
    # the suffix (batch 2) remains; history below the cutoff is gone
    assert {r["event_id"] for r in sink.read_raw().collect()} == {"e4", "e5"}
    assert sink.changes_between(1, 2).count() == 2
    # time travel below the cutoff now sees only the retained suffix
    assert sink.read_asof(1).count() == 0


def test_upsert_compaction_clusters_base_by_key(spark, tmp_path):
    """Sorted compaction: the rewritten base's parquet row groups must
    carry NON-OVERLAPPING key ranges (within each file), so point
    reads skip non-matching row groups via footer stats."""
    import pyarrow.parquet as pq

    from hybrid_cdc_demo_spark.streaming.sinks import UpsertSink

    sink = UpsertSink(spark, str(tmp_path / "pg"), ["user_id"], compact_every=999)
    rows = [
        (uid, f"e{uid}", "INSERT", 100 + uid, '{"v":"x"}')
        for uid in range(2000)
    ]
    import random

    random.Random(3).shuffle(rows)  # arrival order is NOT key order
    sink.write_batch(
        spark.createDataFrame(rows[:1000], SCHEMA), batch_id=0
    )
    sink.write_batch(
        spark.createDataFrame(rows[1000:], SCHEMA), batch_id=1
    )
    sink.compact()

    base_dir = tmp_path / "pg" / "data"
    files = sorted(p for p in base_dir.rglob("*.parquet"))
    assert files
    checked = 0
    for f in files:
        md = pq.ParquetFile(str(f)).metadata
        idx = md.schema.names.index("user_id")
        ranges = []
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(idx).statistics
            if st is not None and st.has_min_max:
                ranges.append((st.min, st.max))
        for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
            assert hi1 <= lo2, f"overlapping row-group key ranges in {f}"
            checked += 1
    # the clustered view still reads correctly
    assert sink.read().count() == 2000


# -- Arrow-written segments (the pipeline's small-trigger fan-out) -------

#: events straddle 2023-11-15 00:00 UTC, which is still 11-14 in Los
#: Angeles: the hypertable's chunk date must follow the session zone
_MIDNIGHT_UTC = 1_700_006_400_000_000


def _digest(df):
    """Schema plus the sorted row hashes: equal digests ⇔ the same rows
    with the same types, whatever the row order."""
    rows = df.select(F.sha2(F.to_json(F.struct(*df.columns)), 256)).collect()
    return df.schema.simpleString(), sorted(r[0] for r in rows)


def _valid_batches(spark, tmp_path, n_files=3):
    """Pipeline-shaped batches (validated, deduplicated, masked), one
    per generated envelope file, plus an empty one at the end."""
    from hybrid_cdc_demo_spark.sources.cdc import (
        generate_change_events,
        read_envelope_batch,
    )
    from hybrid_cdc_demo_spark.streaming.pipeline import CDCPipeline, PipelineConfig

    paths = generate_change_events(
        str(tmp_path / "src"), n_events=600, n_files=n_files, seed=5,
        base_micros=_MIDNIGHT_UTC - 150_000_000,
    )
    p = CDCPipeline(spark, PipelineConfig(str(tmp_path / "src"), str(tmp_path / "wh")))
    batches = [
        p.mask(p.dedup(p.split_valid(read_envelope_batch(spark, path))[0]))
        for path in paths
    ]
    return batches + [batches[0].limit(0)]


def test_batch_id_is_long_before_and_after_first_write(spark, tmp_path):
    """One declared `_batch_id` type: the pre-first-write frame, a
    Spark-written log and an Arrow-written log all read it as long, and
    the two written logs (and their sidecar-typed empty reads) have
    equal schemas."""
    from pyspark.sql.types import LongType

    df = _valid_batches(spark, tmp_path, n_files=1)[0]
    empty = AppendSink(spark, str(tmp_path / "e"), ["key_hash"]).read_raw()
    by_spark = AppendSink(spark, str(tmp_path / "s"), ["key_hash"])
    by_spark.write_batch(df, batch_id=0)
    by_arrow = AppendSink(spark, str(tmp_path / "a"), ["key_hash"])
    by_arrow.write_batch(df.toArrow(), batch_id=0)
    s, a = by_spark.read_raw().schema, by_arrow.read_raw().schema
    assert s == a
    assert by_spark.read_raw_asof(-1).schema == by_arrow.read_raw_asof(-1).schema == s
    for f in empty.schema:
        assert s[f.name].dataType == f.dataType, f.name
    assert s["_batch_id"].dataType == LongType()


def test_arrow_and_spark_segments_read_back_identical(spark, tmp_path):
    """The same batches written once through Spark and once as Arrow
    tables read back hash-identical through every sink read — upsert,
    hypertable (deltas, then its compacted `_chunk` partitions), the
    append log's dedup view, AS OF and change feed — including an empty
    batch, under a non-UTC session time zone."""
    from hybrid_cdc_demo_spark.streaming.sinks import HypertableSink, UpsertSink

    tz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
    try:
        batches = _valid_batches(spark, tmp_path)
        sinks = {
            side: {
                "up": UpsertSink(spark, str(tmp_path / side / "pg"), ["key_hash"]),
                "ht": HypertableSink(spark, str(tmp_path / side / "ts"), ["key_hash"]),
                "ap": AppendSink(
                    spark, str(tmp_path / side / "ch"), ["key_hash"],
                    delete_policy="tombstone",
                ),
            }
            for side in ("spark", "arrow")
        }
        for bid, df in enumerate(batches):
            table = df.toArrow()
            for kind in ("up", "ht", "ap"):
                n_spark = sinks["spark"][kind].write_batch(df, bid)
                assert sinks["arrow"][kind].write_batch(table, bid) == n_spark
        assert n_spark == 0  # the empty batch
        last = len(batches) - 1

        def reads(s):
            return {
                "upsert": s["up"].read(),
                "hypertable": s["ht"].read(),
                "append": s["ap"].read(),
                "append_raw": s["ap"].read_raw(),
                "asof": s["ap"].read_asof(1),
                "changes": s["ap"].changes_between(0, last),
            }

        got = {side: reads(s) for side, s in sinks.items()}
        for name in got["spark"]:
            assert _digest(got["arrow"][name]) == _digest(got["spark"][name]), name
        for side in sinks:
            sinks[side]["ht"].compact()
        parts = {
            side: sorted(p.name for p in (tmp_path / side / "ts" / "data" / "v=1").glob("_chunk=*"))
            for side in sinks
        }
        # one Los Angeles day, where UTC would have split the events in two
        assert parts["arrow"] == parts["spark"] == ["_chunk=2023-11-14"]
        assert _digest(sinks["arrow"]["ht"].read()) == _digest(sinks["spark"]["ht"].read())
        assert _digest(sinks["arrow"]["ht"].table.read()) == _digest(
            sinks["spark"]["ht"].table.read()
        )
    finally:
        spark.conf.set("spark.sql.session.timeZone", tz)


def test_log_written_with_int_batch_id_reads_with_new_segments(spark, tmp_path):
    """A log whose sidecar and first segment store `_batch_id` as int
    (how the sink wrote it before the type was declared long) reads
    back together with new Spark- and Arrow-written long segments —
    through every read, optimize and a stream consumer."""
    from pyspark.sql.types import LongType

    df = spark.createDataFrame(BATCHES[0], SCHEMA)
    path = tmp_path / "ch"
    sink = AppendSink(spark, str(path), ["user_id"], delete_policy="tombstone")
    old = df.withColumn("_batch_id", F.lit(0))  # int, as it used to be
    old.write.parquet(str(path / "log" / "seg-000000000000"))
    sink._persist_schema(old.schema)
    sink.ledger.commit(0, {"destination": "clickhouse", "rows": 2})
    sink.write_batch(spark.createDataFrame(BATCHES[1], SCHEMA), batch_id=1)
    sink.write_batch(spark.createDataFrame(BATCHES[2], SCHEMA).toArrow(), batch_id=2)

    raw = sink.read_raw()
    before = _digest(raw)
    assert raw.schema["_batch_id"].dataType == LongType()
    assert sorted(r["_batch_id"] for r in raw.collect()) == [0, 0, 1, 1, 2, 2]
    ref = _write_all(spark, str(tmp_path / "ref"))
    assert _digest(sink.read()) == _digest(ref.read())
    assert _digest(sink.read_asof(1)) == _digest(ref.read_asof(1))
    assert _digest(sink.changes_between(0, 2)) == _digest(ref.changes_between(0, 2))
    assert sink.read_raw().limit(0).schema == raw.schema

    q = (
        sink.as_stream().writeStream.format("memory").queryName("legacy_log")
        .trigger(availableNow=True).start()
    )
    q.awaitTermination()
    assert spark.table("legacy_log").count() == 6

    assert sink.optimize(min_segments=2) == 3
    assert _digest(sink.read_raw()) == before


def test_arrow_segment_carries_hadoop_checksum(spark, tmp_path):
    """A pyarrow-written segment gets the `.crc` sidecar Spark writes
    itself, so a corrupted file fails its read instead of returning
    wrong rows."""
    sink = _write_all(spark, str(tmp_path / "ch"))
    seg = tmp_path / "ch" / "log" / "seg-000000000003"
    sink.write_batch(spark.createDataFrame(BATCHES[0], SCHEMA).toArrow(), batch_id=3)
    assert (seg / ".part-00000.parquet.crc").exists()
    assert sink.read_raw().count() == 8
    part = seg / "part-00000.parquet"
    data = bytearray(part.read_bytes())
    data[len(data) // 2] ^= 0xFF
    part.write_bytes(bytes(data))
    with pytest.raises(Exception, match="(?i)checksum"):
        sink.read_raw().collect()


def test_arrow_chunk_follows_the_stamped_zone_not_the_sinks_session(spark, tmp_path):
    """An Arrow batch derives `_chunk` in the zone stamped on it (the
    pipeline stamps its batch's session), even when the sink's own
    session runs in another zone."""
    from hybrid_cdc_demo_spark.streaming.sinks import HypertableSink, stamp_time_zone

    utc = spark.newSession()
    utc.conf.set("spark.sql.session.timeZone", "UTC")
    df = _valid_batches(spark, tmp_path, n_files=1)[0]
    sink = HypertableSink(utc, str(tmp_path / "ts"), ["key_hash"])
    sink.write_batch(stamp_time_zone(df.toArrow(), "America/Los_Angeles"), 0)
    chunks = {r["_chunk"].isoformat() for r in sink.read().select("_chunk").collect()}
    assert chunks == {"2023-11-14"}
    unstamped = HypertableSink(utc, str(tmp_path / "ts-utc"), ["key_hash"])
    unstamped.write_batch(df.toArrow(), 0)
    chunks = {r["_chunk"].isoformat() for r in unstamped.read().select("_chunk").collect()}
    assert chunks == {"2023-11-14", "2023-11-15"}
