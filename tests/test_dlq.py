"""DLQ writers: the driver-side Arrow writer and the Spark JSON writer
leave the same files, and ``error_message`` carries a frame's parse
error."""

import datetime as dt
import json
import re
import struct
from pathlib import Path

import pyspark.sql.functions as F
import pytest

from hybrid_cdc_demo_spark.sources.cdc import ENVELOPE_SCHEMA, read_envelope_batch
from hybrid_cdc_demo_spark.sources.commitlog import (
    envelope_from_frames,
    read_commitlog_batch,
    write_commitlog_segment,
)
from hybrid_cdc_demo_spark.streaming.dlq import read_dlq, write_dlq, write_dlq_arrow

LA = "America/Los_Angeles"
UTC = dt.timezone.utc


@pytest.fixture()
def la(spark):
    session = spark.newSession()
    session.conf.set("spark.sql.session.timeZone", LA)
    return session


def _write_both(session, df, tmp_path):
    """``df`` through both writers; their directories."""
    spark_dir, driver_dir = str(tmp_path / "spark"), str(tmp_path / "driver")
    write_dlq(df, spark_dir, "validation", "contract_violation")
    write_dlq_arrow(df.toArrow(), driver_dir, "validation", "contract_violation", LA)
    return spark_dir, driver_dir


def _lines(path):
    """Every JSON line under ``path``, ``failed_at`` cut out, sorted."""
    out = []
    for f in Path(path).rglob("part-*.json"):
        out.extend(re.sub(r',"failed_at":"[^"]*"', "", line) for line in f.read_text().splitlines())
    return sorted(out)


def _assert_same(session, spark_dir, driver_dir):
    got, want = read_dlq(session, driver_dir), read_dlq(session, spark_dir)
    assert got.schema == want.schema
    rows = lambda df: sorted(  # noqa: E731
        json.dumps(r.asDict(recursive=True), sort_keys=True, default=str)
        for r in df.drop("failed_at").collect()
    )
    assert rows(got) == rows(want)
    assert _lines(driver_dir) == _lines(spark_dir)
    for df in (got, want):  # failed_at and dlq_date are one instant
        assert df.filter(F.to_date("failed_at") != F.col("dlq_date")).count() == 0
    files = [f for f in Path(driver_dir).rglob("*") if f.is_file()]
    data = [f for f in files if f.name.startswith("part-")]
    assert len(data) == 1
    assert sorted(f.name for f in files) == sorted([data[0].name, f".{data[0].name}.crc"])


def test_driver_writer_matches_spark_writer(la, tmp_path):
    """Envelope rows — all-null corrupt, partition-key map with a null
    value, captured_at across DST, a pre-1883 local mean time and
    sub-millisecond digits — read back the same from both writers."""
    rows = [
        (None,) * 10,
        ("e1", "BOGUS", "users", "ecommerce", {"user_id": "u1", "x": None}, {},
         '{"a": "é\\n\\u0001\\"/"}', 5, None, dt.datetime(2024, 1, 2, 0, 0, 0, 123456, UTC)),
        ("e2", "INSERT", "users", "ecommerce", {"user_id": "u2"}, None, None, -1, 3,
         dt.datetime(1850, 7, 1, tzinfo=UTC)),
        ("e3", "UPDATE", "users", "ecommerce", {}, None, "{}", 7, None,
         dt.datetime(2024, 7, 1, 0, 0, 0, 1999, UTC)),
        ("e4", "DELETE", "users", "ecommerce", {"user_id": "u4"}, None, '{"x": 1}', 8, None,
         dt.datetime(1960, 7, 1, 0, 0, 0, 999, UTC)),
    ]
    df = la.createDataFrame(rows, ENVELOPE_SCHEMA.toNullable())
    _assert_same(la, *_write_both(la, df, tmp_path))
    assert (
        read_dlq(la, str(tmp_path / "driver")).filter(F.col("error_message") != "contract_violation").count()
        == 0
    )


def test_parse_error_is_the_error_message_on_both_writers(la, tmp_path):
    """A commitlog frame with an unknown op byte lands with its parse
    error as ``error_message``; a well-formed frame with the error
    type."""
    seg = tmp_path / "log" / "seg-0.log"
    write_commitlog_segment(str(seg), [{
        "event_id": "ok", "event_type": "INSERT", "table_name": "users",
        "keyspace": "ecommerce", "partition_key": {"user_id": "u1"},
        "columns": "{}", "timestamp_micros": 1, "captured_at": "2024-03-10T10:30:00.5Z",
    }])
    payload = b"X" + b'{"event_id": "bad"}'
    with open(seg, "ab") as fh:
        fh.write(struct.pack(">I", len(payload)) + payload)
    df = envelope_from_frames(read_commitlog_batch(la, str(tmp_path / "log")))
    dirs = _write_both(la, df, tmp_path)
    _assert_same(la, *dirs)
    for path in dirs:
        got = {
            r["byte_position"]: r["error_message"]
            for r in read_dlq(la, path).select("byte_position", "error_message").collect()
        }
        assert sorted(got.values()) == ["contract_violation", "unknown op byte b'X'"], path


def test_no_rows_no_dlq_directory(spark, tmp_path):
    """An empty write leaves nothing behind, and so does a pipeline
    whose triggers — one on each fan-out — are clean."""
    import hybrid_cdc_demo_spark.streaming.pipeline as P
    from hybrid_cdc_demo_spark.sources.cdc import generate_change_events

    empty = spark.createDataFrame([], ENVELOPE_SCHEMA).toArrow()
    write_dlq_arrow(empty, str(tmp_path / "dlq"), "validation", "contract_violation", LA)
    assert not (tmp_path / "dlq").exists()

    paths = generate_change_events(
        str(tmp_path / "commitlog"), n_events=400, n_files=2, seed=5, malformed_rate=0.0
    )
    p = P.CDCPipeline(
        spark,
        P.PipelineConfig(
            source_dir=str(tmp_path / "commitlog"),
            target_dir=str(tmp_path / "warehouse"),
            quality_rules={"known_type": "event_type IN ('INSERT', 'UPDATE', 'DELETE')"},
        ),
    )
    stats = [p.process_batch(read_envelope_batch(spark, path), bid) for bid, path in enumerate(paths)]
    assert [s["write_path"] for s in stats] == ["spark", "arrow"]
    assert [(s["invalid"], s["quality_failed"]) for s in stats] == [(0, 0), (0, 0)]
    assert not (tmp_path / "warehouse" / "dlq").exists()
