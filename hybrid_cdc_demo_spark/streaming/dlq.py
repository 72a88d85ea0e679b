"""Dead-letter queue — reference src/dlq/writer.py:39-94 semantics.

Failed/invalid events are appended as JSON partitioned by
(destination, date); DLQ write failure never crashes the pipeline
(writer.py:92-94), but it is never silent either: it is logged and
counted as ``cdc_dlq_write_failures_total{destination}``. Reading back
is a plain spark.read.json.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from hybrid_cdc_demo_spark.observability.logging import log_dlq_write_failure
from hybrid_cdc_demo_spark.observability.metrics import MetricsRegistry


def write_dlq(
    df: DataFrame,
    dlq_path: str,
    destination: str,
    error_type: str,
    error_message_col: str | None = None,
    metrics: MetricsRegistry | None = None,
) -> None:
    """Append failed events to the DLQ, date/destination-partitioned."""
    # one projection: each withColumn is a plan analysis of its own,
    # and this write sits on the micro-batch's critical path
    enriched = df.withColumns(
        {
            "destination": F.lit(destination),
            "error_type": F.lit(error_type),
            "error_message": (
                F.col(error_message_col) if error_message_col else F.lit(error_type)
            ),
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
        log_dlq_write_failure(destination, error_type, exc)
        if metrics is not None:
            metrics.inc("cdc_dlq_write_failures_total", destination=destination)


def read_dlq(spark: SparkSession, dlq_path: str) -> DataFrame:
    return spark.read.json(dlq_path)


def count_dlq_events(spark: SparkSession, dlq_path: str) -> DataFrame:
    """Per-destination DLQ depth (writer.py:96-129 analogue)."""
    return read_dlq(spark, dlq_path).groupBy("destination").count()
