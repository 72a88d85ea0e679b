"""Structured JSON logging (SURVEY O36; reference
src/observability/logging.py:12-293 — structlog JSON logs with a
masking audit that records WHICH field was masked and HOW, never the
value (log_masked_field, logging.py:102), and schema-change audit
events (logging.py:173, 220, 251)).

Implemented on stdlib logging so there is no dependency: a JSON
formatter plus typed audit helpers. The pipeline emits one
``batch_processed`` event per micro-batch and one audit event per
masking rule application / schema change.
"""

from __future__ import annotations

import json
import logging
import time
from typing import Any

_LOGGER_NAME = "hybrid_cdc_demo_spark"


class JsonFormatter(logging.Formatter):
    def format(self, record: logging.LogRecord) -> str:
        payload: dict[str, Any] = {
            "ts": round(record.created, 3),
            "level": record.levelname.lower(),
            "logger": record.name,
            "event": record.getMessage(),
        }
        extra = getattr(record, "fields", None)
        if extra:
            payload.update(extra)
        return json.dumps(payload, default=str)


def configure_logging(level: int = logging.INFO) -> logging.Logger:
    """Idempotent setup of the engine's JSON logger (main.py:283
    analogue)."""
    logger = logging.getLogger(_LOGGER_NAME)
    logger.setLevel(level)
    if not any(isinstance(h.formatter, JsonFormatter) for h in logger.handlers):
        handler = logging.StreamHandler()
        handler.setFormatter(JsonFormatter())
        logger.addHandler(handler)
        logger.propagate = False
    return logger


def get_logger() -> logging.Logger:
    return logging.getLogger(_LOGGER_NAME)


def _emit(event: str, level: int = logging.INFO, **fields: Any) -> None:
    get_logger().log(level, event, extra={"fields": fields})


def log_masked_field(field_name: str, strategy: str, table: str = "") -> None:
    """Masking audit: field name + strategy ONLY — the raw value must
    never reach a log line (logging.py:102 contract)."""
    _emit("field_masked", field=field_name, strategy=strategy, table=table)


def log_schema_change(
    keyspace: str, table: str, action: str, changes: list, version: int | None = None
) -> None:
    _emit(
        "schema_change",
        keyspace=keyspace,
        table=table,
        action=action,
        changes=[str(c) for c in changes],
        version=version,
    )


def log_batch(stats: dict) -> None:
    _emit("batch_processed", **stats)


def log_dlq_write_failure(destination: str, error_type: str, exc: BaseException) -> None:
    """A DLQ write that failed: the rows it carried are NOT quarantined
    (the pipeline keeps running, so this line is their only trace)."""
    _emit(
        "dlq_write_failed",
        logging.ERROR,
        destination=destination,
        error_type=error_type,
        exception=type(exc).__name__,
        message=str(exc)[:500],
    )


def log_sink_error(destination: str, error_type: str, attempts: int) -> None:
    _emit(
        "sink_error",
        logging.WARNING,
        destination=destination,
        error_type=error_type,
        attempts=attempts,
    )


class span:
    """Minimal tracing span (reference OpenTelemetry usage,
    tracing.py:72/103): logs duration on exit; nests by name.

    When tracing is initialized (observability.tracing.init_tracing)
    the same span ALSO records into the active tracer — one code site,
    two backends (log line + OTel-compatible span tree), zero cost
    when tracing was never opted into."""

    def __init__(self, name: str, **fields: Any):
        self.name = name
        self.fields = fields
        self._traced = None

    def __enter__(self):
        self._t0 = time.perf_counter()
        from hybrid_cdc_demo_spark.observability.tracing import current_tracer

        tracer = current_tracer()
        if tracer is not None:
            self._traced = tracer.span(self.name, **self.fields)
            self._traced.__enter__()
        return self

    def __exit__(self, exc_type, exc, tb):
        if self._traced is not None:
            self._traced.__exit__(exc_type, exc, tb)
            self._traced = None
        _emit(
            "span",
            logging.DEBUG if exc_type is None else logging.WARNING,
            span=self.name,
            duration_ms=round((time.perf_counter() - self._t0) * 1000, 2),
            error=None if exc_type is None else exc_type.__name__,
            **self.fields,
        )
        return False
