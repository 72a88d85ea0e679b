"""Dead-letter queue — reference src/dlq/writer.py:39-94 semantics.

Failed/invalid events are appended as JSON partitioned by
(destination, date); DLQ write failure never crashes the pipeline
(writer.py:92-94), but it is never silent either: it is logged and
counted as ``cdc_dlq_write_failures_total{destination}``. Reading back
is a plain spark.read.json.

Two writers produce the same files: :func:`write_dlq` (a Spark JSON
write of a DataFrame) and :func:`write_dlq_arrow` (a driver-side write
of rows already collected as Arrow, no Spark job). ``error_message``
is the row's ``parse_error`` when it has one, else the error type.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import time
import uuid
from pathlib import Path

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as ST

from hybrid_cdc_demo_spark.observability.logging import log_dlq_write_failure
from hybrid_cdc_demo_spark.observability.metrics import MetricsRegistry
from hybrid_cdc_demo_spark.streaming.sinks import _write_hadoop_crc


def _dlq_failed(destination, error_type, exc, metrics) -> None:
    log_dlq_write_failure(destination, error_type, exc)
    if metrics is not None:
        metrics.inc("cdc_dlq_write_failures_total", destination=destination)


def write_dlq(
    df: DataFrame,
    dlq_path: str,
    destination: str,
    error_type: str,
    metrics: MetricsRegistry | None = None,
) -> None:
    """Append failed events to the DLQ, date/destination-partitioned."""
    message = F.lit(error_type)
    if "parse_error" in df.columns:
        message = F.coalesce(F.col("parse_error"), message)
    # one projection: each withColumn is a plan analysis of its own,
    # and this write sits on the micro-batch's critical path
    enriched = df.withColumns(
        {
            "destination": F.lit(destination),
            "error_type": F.lit(error_type),
            "error_message": message,
            "failed_at": F.current_timestamp(),
            "dlq_date": F.to_date(F.current_timestamp()),
        }
    )
    try:
        (
            enriched.write.mode("append")
            .partitionBy("destination", "dlq_date")
            .json(dlq_path)
        )
    except Exception as exc:  # noqa: BLE001 — DLQ must never crash the pipeline
        _dlq_failed(destination, error_type, exc, metrics)


def arrow_writable(schema: ST.StructType) -> bool:
    """True when :func:`write_dlq_arrow` prints every column of
    ``schema`` exactly as Spark's JSON writer does: the envelope's
    strings, integers, booleans, timestamps and maps of those scalars.
    (Spark prints floats, decimals and binary in forms Python's
    ``json`` does not.)"""
    plain = (ST.StringType, ST.IntegralType, ST.BooleanType)
    return all(
        isinstance(t, (*plain, ST.TimestampType))
        or (
            isinstance(t, ST.MapType)
            and isinstance(t.keyType, plain)
            and isinstance(t.valueType, plain)
        )
        for t in (f.dataType for f in schema.fields)
    )


def _timestamp_text(col, time_zone: str) -> list[str | None]:
    """An Arrow timestamp column as Spark's JSON writer prints a
    TimestampType value: ``yyyy-MM-dd'T'HH:mm:ss.SSS`` in ``time_zone``
    (milliseconds truncated), then the zone offset — ``Z``, ``±HH:MM``,
    or ``±HH:MM:SS`` for an offset with seconds (a local mean time)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    utc = col.cast(pa.timestamp("us", tz="UTC"))
    local = pc.local_timestamp(utc.cast(pa.timestamp("us", tz=time_zone)))
    epoch = dt.datetime(1970, 1, 1)
    out = []
    for u, lo in zip(
        utc.cast(pa.int64()).to_pylist(), local.cast(pa.int64()).to_pylist()
    ):
        if u is None:
            out.append(None)
            continue
        d = epoch + dt.timedelta(microseconds=lo)
        off = (lo - u) // 1_000_000
        zone = "Z"
        if off:
            h, rest = divmod(abs(off), 3600)
            m, s = divmod(rest, 60)
            zone = f"{'-' if off < 0 else '+'}{h:02d}:{m:02d}" + (f":{s:02d}" if s else "")
        out.append(
            f"{d.year:04d}-{d:%m-%dT%H:%M:%S}.{d.microsecond // 1000:03d}{zone}"
        )
    return out


def _json_values(col) -> list:
    """A non-timestamp Arrow column as the values Spark's JSON writer
    prints: maps as objects, their null values kept."""
    import pyarrow as pa

    if pa.types.is_map(col.type):
        return [None if v is None else dict(v) for v in col.to_pylist()]
    return col.to_pylist()


def write_dlq_arrow(
    table,
    dlq_path: str,
    destination: str,
    error_type: str,
    time_zone: str,
    metrics: MetricsRegistry | None = None,
) -> None:
    """Driver-side :func:`write_dlq` for rows collected as a
    ``pyarrow.Table`` (every column :func:`arrow_writable`): the same
    ``destination=…/dlq_date=…`` layout and the same JSON lines —
    columns in table order, nulls left out, timestamps as text in
    ``time_zone`` (the session zone Spark's writer prints in), then
    ``error_type``, ``error_message`` and ``failed_at``, with
    ``failed_at`` and ``dlq_date`` taken from one instant. The file and
    its Hadoop ``.crc`` sidecar are written under a dot-name (hidden
    from readers) and renamed into place. No rows, no write."""
    import pyarrow as pa

    if table.num_rows == 0:
        return
    try:
        now = pa.array([time.time_ns() // 1000], pa.timestamp("us", tz="UTC"))
        (failed_at,) = _timestamp_text(now, time_zone)
        names = table.column_names
        columns = [
            _timestamp_text(c, time_zone) if pa.types.is_timestamp(c.type) else _json_values(c)
            for c in table.columns
        ]
        lines = []
        for values in zip(*columns):
            row = {k: v for k, v in zip(names, values) if v is not None}
            row.update(
                error_type=error_type,
                error_message=row.get("parse_error", error_type),
                failed_at=failed_at,
            )
            lines.append(json.dumps(row, ensure_ascii=False, separators=(",", ":")) + "\n")
        # failed_at is "yyyy-MM-ddT…": its date part is dlq_date
        part_dir = Path(dlq_path) / f"destination={destination}" / f"dlq_date={failed_at[:10]}"
        part_dir.mkdir(parents=True, exist_ok=True)
        name = f"part-00000-{uuid.uuid4()}.c000.json"
        tmp = part_dir / f".{name}.tmp"
        tmp.write_text("".join(lines), encoding="utf-8")
        _write_hadoop_crc(tmp, name)
        os.replace(tmp, part_dir / name)
    except Exception as exc:  # noqa: BLE001 — DLQ must never crash the pipeline
        _dlq_failed(destination, error_type, exc, metrics)


def read_dlq(spark: SparkSession, dlq_path: str) -> DataFrame:
    return spark.read.json(dlq_path)


def count_dlq_events(spark: SparkSession, dlq_path: str) -> DataFrame:
    """Per-destination DLQ depth (writer.py:96-129 analogue)."""
    return read_dlq(spark, dlq_path).groupBy("destination").count()
