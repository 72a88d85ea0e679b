"""End-to-end CDC streaming pipeline (reference src/main.py:212-268
re-expressed as Structured Streaming).

Per micro-batch (foreachBatch — the reference's batch loop O19):

1. split corrupt envelopes → DLQ (O7; parser.py error path),
2. validate partition-key presence against the registry (O8) and
   detect unknown payload columns (O9, schema discovery),
3. dedup duplicate deliveries by event_id (O28/S5),
4. mask PII/PHI payload fields in one projection (O11-O14),
5. fan out to the three sink personalities with per-sink error
   isolation + retry; failed sinks route events to the DLQ
   (O20/O29/O30). A small trigger (previous batch at most
   ``_ARROW_FANOUT_MAX_ROWS`` valid rows) is ONE Spark job: it
   collects the batch once as Arrow, each row tagged with its class
   (valid, foreign-table, invalid, quality-failed); the driver takes
   the control counts from the tags, dedups the valid rows, writes
   the invalid and quality rows to the DLQ itself, and the sinks
   write their segments with pyarrow. A larger trigger caches the
   valid rows and writes each sink with a Spark job, beside a control
   aggregate and Spark DLQ writes that start with the batch,
6. each sink commits its batch ledger row (O25-O27), giving
   checkpoint + ledger + idempotent-merge exactly-once.

The pipeline state machine matches the spec's
Captured → Validated → Masked → Replicated → Committed
(specs/001-secure-cdc-pipeline/data-model.md:43-48).

``PipelineConfig`` is the whole streaming configuration (O37):
``config.load_config`` builds one from defaults, a YAML/JSON file,
overrides and ``CDC_`` environment variables, and every field is one
the pipeline reads. Strategies that lost their measured A/B (a shared
latest-wins flag, observe-based control counts, AQE) are not options;
process_batch records their numbers.
"""

from __future__ import annotations

import inspect
import math
import os
import threading
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from hybrid_cdc_demo_spark.functions.masking import MaskingRules, mask_phi, mask_pii
from hybrid_cdc_demo_spark.observability.logging import (
    log_batch,
    log_masked_field,
    log_schema_change,
    log_sink_error,
)
from hybrid_cdc_demo_spark.observability.metrics import MetricsRegistry
from hybrid_cdc_demo_spark.schema.evolution import (
    SchemaEvolutionSupervisor,
    SchemaRegistry,
)
from hybrid_cdc_demo_spark.sources.cdc import read_envelope_stream
from hybrid_cdc_demo_spark.streaming.dlq import (
    arrow_writable,
    write_dlq,
    write_dlq_arrow,
)
from hybrid_cdc_demo_spark.streaming.retry import RetryPolicy, with_retry
from hybrid_cdc_demo_spark.streaming.sinks import (
    AppendSink,
    HypertableSink,
    UpsertSink,
    arrow_timezone_ok,
    stamp_time_zone,
)


def _writes_arrow(sink) -> bool:
    """True when ``sink`` takes a ``pyarrow.Table``: an UpsertSink
    (HypertableSink included) or AppendSink whose ``write_batch`` is
    its own — not replaced on the instance, or replaced by a
    ``functools.wraps`` wrapper of its own bound method (a tracer's
    span, say). Every other sink is handed a DataFrame."""
    if not isinstance(sink, (UpsertSink, AppendSink)):
        return False
    own = vars(sink).get("write_batch")
    return own is None or getattr(inspect.unwrap(own), "__self__", None) is sink


def _first_per_event(table):
    """Arrow twin of ``CDCPipeline.dedup``: the first row of every
    ``event_id`` in batch order — the row ``dropDuplicates`` keeps when
    one task reads the batch in order (a small trigger's one
    partition)."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    if pc.count_distinct(table["event_id"]).as_py() == table.num_rows:
        return table
    first = (
        table.select(["event_id"])
        .append_column("__i", pa.array(np.arange(table.num_rows)))
        .group_by("event_id", use_threads=False)
        .aggregate([("__i", "min")])
    )
    return table.take(np.sort(first["__i_min"].to_numpy()))


#: Arrow fan-out cap (rows): while the previous batch had at most this
#: many valid rows, a trigger collects the batch once as Arrow (see
#: CDCPipeline._arrow_fanout_rows). It bounds the driver memory of that
#: collect, not a measured crossover.
_ARROW_FANOUT_MAX_ROWS = 50_000

#: row classes of the Arrow collect's ``__cls`` tag (the predicates of
#: CDCPipeline._build_control_aggs)
_VALID, _FOREIGN, _INVALID, _QUALITY = range(4)

#: control count -> the (DLQ destination, error type) of its rows
_DLQ_ROUTES = {
    "invalid": ("validation", "contract_violation"),
    "quality_failed": ("quality", "quality_violation"),
}

#: target rows per shuffle partition of the adaptive sizing:
#: partitions = clamp(ceil(prev_batch_rows / this), 1, cap). Local
#: micro-batches of a few thousand rows want ONE partition (task
#: scheduling dominates compute); production triggers with millions
#: of rows scale up to PipelineConfig.shuffle_partitions.
_ROWS_PER_SHUFFLE_PARTITION = 4096


@dataclass
class PipelineConfig:
    source_dir: str
    target_dir: str
    keyspace: str = "ecommerce"
    table: str = "users"
    key_cols: tuple = ("key_hash",)
    masking: MaskingRules = field(default_factory=MaskingRules)
    retry: RetryPolicy = field(default_factory=RetryPolicy)
    delete_policy_append: str = "skip"
    max_files_per_trigger: int | None = 1
    #: shuffle partitions sized to BATCH volume, not table volume — a
    #: 2k-row micro-batch shuffled into 32 partitions pays 32 tasks of
    #: scheduling overhead for microseconds of work each; at a real
    #: 1000-executor deployment this is the `spark.sql.shuffle.partitions`
    #: you tune to trigger-interval row counts, not total data size.
    #: This value is the CAP: per batch the pipeline adapts DOWN from
    #: it using the previous batch's observed row count (see
    #: _ROWS_PER_SHUFFLE_PARTITION), so a small steady trigger runs
    #: 1-partition jobs while a surge climbs back to the cap.
    shuffle_partitions: int = 4
    #: trigger mode (O3): None → availableNow (drain + stop, the
    #: deterministic test/replay mode); "Ns" → processingTime
    #: continuous polling, the reference's poll_interval_seconds
    #: (settings.py:90-92; its 0.1 s default ≙ "100 milliseconds")
    processing_interval: str | None = None
    #: source format (O1/O2): "envelope" = JSONL envelope segments
    #: (the fixture/test corpus); "commitlog" = binary length-prefixed
    #: segments via the binaryFile + mapInPandas frame splitter;
    #: "commitlog-ds" = the registered Python DataSource, whose
    #: streaming offsets are (file, frame-aligned position) pairs —
    #: the only variant that TAILS a growing segment mid-file, exactly
    #: like the reference's reader (src/cdc/reader.py:81-98)
    source_format: str = "envelope"
    #: byte-budget admission control for the commitlog-ds source —
    #: the ENFORCED form of the reference's declared-but-dead
    #: max_in_flight_batches backpressure (settings.py:87-89). Caps
    #: each continuous-trigger poll at N frame-aligned bytes beyond
    #: what earlier polls served; AvailableNow runs always drain
    #: fully (see CommitlogStreamReader). None = uncapped.
    max_bytes_per_trigger: int | None = None
    #: optional per-table data-quality rules (operators/quality.py
    #: semantics): {rule_name: SQL boolean expression over the
    #: envelope/payload columns — use get_json_object('columns', ...)
    #: for payload fields}. Rows violating ANY rule (nulls conservative
    #: = violation) are split out of the replication path and land in
    #: the DLQ under destination='quality' with the contract-violation
    #: treatment — the streaming instance of the batch DQ gate.
    #: Expressions are strings (not Columns) so the config stays
    #: serializable/declarative, like the reference's YAML rules.
    quality_rules: dict[str, str] = field(default_factory=dict)

    @property
    def dlq_path(self) -> str:
        return os.path.join(self.target_dir, "dlq")

    @property
    def checkpoint_path(self) -> str:
        return os.path.join(self.target_dir, "checkpoint")


class CDCPipeline:
    """Envelope stream → validated+masked rows → 3 sink personalities."""

    def __init__(
        self,
        spark: SparkSession,
        config: PipelineConfig,
        registry: SchemaRegistry | None = None,
        metrics: MetricsRegistry | None = None,
    ):
        self.spark = spark
        self.config = config
        self.registry = registry or SchemaRegistry()
        #: error/retry/backlog counters with the reference's metric
        #: names (src/observability/metrics.py:10-43), fed from the
        #: fan-out's retry/DLQ path below — render via
        #: metrics.render_prometheus() / serve_observability()
        self.metrics = metrics or MetricsRegistry()
        c = config
        self.sinks = {
            "postgres": UpsertSink(
                spark, os.path.join(c.target_dir, "postgres"), list(c.key_cols)
            ),
            "clickhouse": AppendSink(
                spark,
                os.path.join(c.target_dir, "clickhouse"),
                list(c.key_cols),
                delete_policy=c.delete_policy_append,
            ),
            "timescaledb": HypertableSink(
                spark, os.path.join(c.target_dir, "timescaledb"), list(c.key_cols)
            ),
        }
        self.sink_errors: dict[str, int] = {}
        self.evolution = SchemaEvolutionSupervisor(self.registry)
        # plan expressions are unbound Columns — build them ONCE, not
        # per micro-batch (dozens of Py4J roundtrips per build add up
        # at per-second triggers)
        self._checks = self._build_checks()
        self._key_hash = F.sha2(F.to_json(F.col("partition_key")), 256)
        self._masked_payload = self._build_masked_payload()
        # O6 (reference src/cdc/reader.py:186-188): the pipeline is
        # scoped to ONE (keyspace, table); events for any other table
        # in a shared commitlog directory are skipped — counted, never
        # DLQ'd (they are not errors) and never replicated.
        self._in_scope = (F.col("keyspace") == c.keyspace) & (
            F.col("table_name") == c.table
        )
        # corrupt rows parse to null keyspace/table and must still
        # reach the DLQ, so the scoped split keeps null-scope rows;
        # everything outside it is a foreign-table row
        self._scoped = (
            self._in_scope | F.col("keyspace").isNull() | F.col("table_name").isNull()
        )
        #: declarative DQ rules compiled once to unbound Columns (the
        #: streaming instance of operators/quality.py's gate)
        self._quality_rules = {
            name: F.expr(expr_sql) for name, expr_sql in c.quality_rules.items()
        }
        #: previous batch's valid-row count, feeding the adaptive
        #: shuffle-partition sizing (None until the first batch lands)
        self._last_batch_rows: int | None = None
        self._control_aggs = self._build_control_aggs()
        self._drift_flag = self._build_drift_flag()
        #: (batch columns, projection) of the Arrow collect, built on
        #: first use (see _collect_classified)
        self._classified = None
        #: source-lag backlog listener (attached by start() for
        #: byte-offset sources, detached by restore_confs)
        self._backlog_listener = None

    def _batch_partitions(self) -> int:
        """Partitions for THIS batch's jobs: the cap until a batch has
        been observed, then ceil(prev_rows / _ROWS_PER_SHUFFLE_PARTITION)
        clamped to [1, cap]. A steady small trigger (the common CDC
        case) runs 1-partition jobs — task scheduling dominates compute
        at that size — while a surge climbs back to the cap on the
        next trigger."""
        if self._last_batch_rows is None:
            return self.config.shuffle_partitions
        want = math.ceil(self._last_batch_rows / _ROWS_PER_SHUFFLE_PARTITION)
        return max(1, min(self.config.shuffle_partitions, want))

    # -- transform stages (pure DataFrame → DataFrame, unit-testable) --

    def _build_checks(self) -> F.Column:
        """Envelope contract (event-schema.json:22-25, 41-45, 74-90):
        known event_type, non-empty partition_key, parseable columns
        JSON, DELETE ⇒ empty columns, registered partition keys
        present (O7/O8)."""
        pk = self.registry.latest(self.config.keyspace, self.config.table)
        required_keys = pk.partition_keys if pk else []
        checks = (
            F.col("event_id").isNotNull()
            & F.col("event_type").isin("INSERT", "UPDATE", "DELETE")
            & (F.size(F.map_keys("partition_key")) > 0)
            & F.col("timestamp_micros").isNotNull()
            & (F.col("timestamp_micros") > 0)
            # payload must be a JSON object when present
            & (
                F.col("columns").isNull()
                | F.get_json_object("columns", "$").isNotNull()
            )
            # DELETE must carry an empty payload
            & (
                (F.col("event_type") != "DELETE")
                | F.col("columns").isNull()
                | (F.get_json_object("columns", "$") == "{}")
            )
        )
        for k in required_keys:
            checks = checks & F.element_at("partition_key", F.lit(k)).isNotNull()
        return checks

    def _build_masked_payload(self) -> F.Column:
        """Driver-side field classification (O11, masking.py:67-92):
        decide WHICH columns get masked from the registered schema, so
        only the needed expressions enter the plan — in particular the
        HMAC pandas_udf (a Python-worker roundtrip per batch) is only
        present when a PHI-classified column actually exists."""
        from hybrid_cdc_demo_spark.functions.masking import (
            MaskingStrategy,
            classify_field,
        )

        rules = self.config.masking
        schema = self.registry.latest(self.config.keyspace, self.config.table)
        field_names = (
            list(schema.columns)
            if schema is not None
            else ["email", "phone", "patient_id"]
        )
        names, values = [], []
        for name in field_names:
            strategy = classify_field(name, rules)
            if strategy is MaskingStrategy.NONE:
                continue
            # audit which field gets masked and how — never the value
            log_masked_field(name, strategy.value, self.config.table)
            extracted = F.get_json_object("columns", f"$.{name}")
            names.append(F.lit(f"{name}_masked"))
            values.append(
                mask_pii(extracted)
                if strategy is MaskingStrategy.PII_HASH
                else mask_phi(extracted, rules.secret_key)
            )
        if not names:
            return F.lit(None).cast("string")
        return F.to_json(
            F.map_filter(
                F.map_from_arrays(F.array(*names), F.array(*values)),
                lambda _, v: v.isNotNull(),
            )
        )

    def _build_control_aggs(self) -> list[F.Column]:
        """One conditional-sum aggregate computing EVERY control count
        the fan-out needs — invalid (DLQ), foreign-table skips (O6),
        quality-gate failures — in a single job over the cached batch
        (one count job per control stream cost a job each, almost
        always returning 0). The conditions mirror the filter
        predicates of the split frames EXACTLY (scoped & ~checks for
        invalid, out of scope for foreign, checks-pass &
        any-rule-violated for quality), so the counts equal what
        .count() on those frames returns — the frames themselves are
        still written to the DLQ, but only when their count is nonzero.

        Also derives ``self._cls``: the same predicates as one row class
        (``_VALID``, ``_FOREIGN``, ``_INVALID``, ``_QUALITY``). The
        Arrow fan-out tags every collected row with it and takes the
        counts from the tags instead of running this aggregate."""
        checks_pass = F.coalesce(self._checks, F.lit(False))
        aggs = [
            F.sum(F.when(self._scoped & ~checks_pass, 1).otherwise(0))
            .cast("long")
            .alias("invalid"),
            F.sum(F.when(~self._scoped, 1).otherwise(0))
            .cast("long")
            .alias("foreign_skipped"),
        ]
        cls = F.when(~self._scoped, _FOREIGN).when(~checks_pass, _INVALID)
        if self._quality_rules:
            ok = F.lit(True)
            for pred in self._quality_rules.values():
                ok = ok & F.coalesce(pred, F.lit(False))
            aggs.append(
                F.sum(F.when(self._scoped & checks_pass & ~ok, 1).otherwise(0))
                .cast("long")
                .alias("quality_failed")
            )
            cls = cls.when(~ok, _QUALITY)
        self._cls = cls.otherwise(_VALID)
        return aggs

    def refresh_plan_expressions(self) -> None:
        """Rebind the cached validation + masking expressions to the
        CURRENT registry state (O11-O14 after §7.3.2 evolution). The
        expressions are unbound Columns, so this is a driver-side
        rebuild — no stream restart; the streaming frame schema never
        changed (payload stays a JSON string)."""
        self._checks = self._build_checks()
        self._masked_payload = self._build_masked_payload()
        self._control_aggs = self._build_control_aggs()
        self._drift_flag = self._build_drift_flag()
        self._classified = None

    def split_valid(self, batch: DataFrame) -> tuple[DataFrame, DataFrame]:
        """Stage 1+2: corrupt / contract-violating rows out (O7/O8)."""
        ok = F.coalesce(self._checks, F.lit(False))
        return batch.filter(ok), batch.filter(~ok)

    def dedup(self, batch: DataFrame) -> DataFrame:
        """Stage 3 (O28): duplicate-delivery removal by event_id."""
        return batch.dropDuplicates(["event_id"])

    def mask(self, batch: DataFrame) -> DataFrame:
        """Stage 4 (O11-O14): mask classified payload fields inside the
        JSON columns string without fixing a payload schema — the
        masked values are computed as expressions over extracted
        fields and written back via to_json(struct(...)).

        Also derives key_hash: the masked replica key (partition-key
        values hashed, so the replica never stores raw keys)."""
        return batch.withColumns(
            {"key_hash": self._key_hash, "columns_masked": self._masked_payload}
        )

    def unknown_columns(self, batch: DataFrame) -> DataFrame:
        """Stage 2b (O9): rows whose payload carries columns not in the
        registered schema — logged/evolved, never dropped
        (validator.py:94-106 'allow, possible schema change')."""
        schema = self.registry.latest(self.config.keyspace, self.config.table)
        if schema is None:
            return batch.limit(0)
        known = F.array(*[F.lit(c) for c in schema.columns])
        unknown = F.array_except(F.json_object_keys("columns"), known)
        return batch.filter(F.size(unknown) > 0).withColumn(
            "unknown_columns", unknown
        )

    # -- micro-batch processor ----------------------------------------

    def _arrow_fanout_rows(self, batch: DataFrame) -> int | None:
        """Row cap of the Arrow fan-out for THIS trigger, or None for
        the Spark fan-out.

        A trigger whose previous batch had at most
        ``_ARROW_FANOUT_MAX_ROWS`` valid rows collects the batch once
        as Arrow. The cap counts every collected row — valid,
        foreign-table, invalid and quality-failed alike: the collect
        stops at cap + 1 rows, so a surge past the cap is detected by
        the collect itself and goes to the Spark fan-out without
        reaching the driver whole. Every Arrow-capable sink writes its
        segment with pyarrow. The first trigger of a pipeline has no
        previous size and takes the Spark fan-out. The Arrow side also
        needs a session time zone Arrow can locate (the hypertable's
        chunk date and the DLQ's timestamps are derived in it) and
        batch columns the driver-side DLQ writer prints as Spark does
        (``dlq.arrow_writable``).

        No crossover was found, measured with
        ``tools/arrow_crossover.py`` (4 vCPU, ``local[4]``, 2 GB driver
        heap, one envelope file per trigger, 6 interleaved pairs per
        size; median ``process_batch`` seconds):

        ==========  =====  =====  ===========
        valid rows  Arrow  Spark  Arrow/Spark
        ==========  =====  =====  ===========
        2,000       0.58   0.82   0.71
        10,000      0.80   1.31   0.61
        25,000      1.40   1.80   0.78
        50,000      2.60   2.97   0.87
        100,000     4.08   4.47   0.91
        200,000     7.97   9.07   0.88
        ==========  =====  =====  ===========

        So the cap is not where the Arrow fan-out stops winning; it
        bounds driver memory. At 50,000 rows the collected table is
        ~28 MB in the driver JVM while it is served and again in
        Python, and each upsert sink sorts its own copy. A host with
        more cores gives the Spark fan-out's parallel writes more room;
        that was not measured.

        A surge right after a small trigger pays for the aborted
        collect (``tools/arrow_crossover.py --surge``, same host, 6
        interleaved pairs, the surge's ``process_batch`` with the gate
        open vs closed): 6.57 vs 4.21 s at 60,000 rows, 7.69 vs 5.41 s
        at 100,000. The collect classifies and masks cap + 1 rows,
        converts and serves them, and only then does the control job
        start; the Spark fan-out reads the batch from the cache the
        collect filled, but recomputes the masked rows."""
        cap = _ARROW_FANOUT_MAX_ROWS
        if (
            self._last_batch_rows is None
            or self._last_batch_rows > cap
            or not arrow_timezone_ok(
                batch.sparkSession.conf.get("spark.sql.session.timeZone")
            )
            or not arrow_writable(batch.schema)
        ):
            return None
        return cap

    def _build_drift_flag(self) -> F.Column:
        """Per-row schema-drift probe: payload columns outside the
        registered schema, or a known column arriving under a new JSON
        class (e.g. a registered bigint as "thirty") — the ALTER path
        the supervisor classifies as compatible widening or
        incompatible narrowing. A flagged batch goes to the
        supervisor (SURVEY §7.3.2), which evolves the registry or
        diverts the batch to the DLQ; see process_batch."""
        schema = self.registry.latest(self.config.keyspace, self.config.table)
        if schema is None:
            return F.lit(False)
        from hybrid_cdc_demo_spark.schema.evolution import _json_class

        known = F.array(*[F.lit(c) for c in schema.columns])
        drift_flag = F.size(F.array_except(F.json_object_keys("columns"), known)) > 0
        for name, cql in schema.columns.items():
            jc = _json_class(cql)
            if jc == "string":
                continue  # any JSON value reads back as text
            v = F.get_json_object("columns", f"$.{name}")
            if jc == "number":
                bad = v.isNotNull() & v.try_cast("double").isNull()
            else:  # boolean
                bad = v.isNotNull() & ~F.lower(v).isin("true", "false")
            drift_flag = drift_flag | bad
        return drift_flag

    def _to_dlq(self, df: DataFrame, destination: str, error_type: str) -> None:
        write_dlq(
            df, self.config.dlq_path, destination, error_type, metrics=self.metrics
        )

    def _record_control(self, stats: dict, counts: dict) -> None:
        """Control-stream counts into ``stats`` and the error counters."""
        for name, n in counts.items():
            stats[name] = n
            if n and name in _DLQ_ROUTES:
                destination, error_type = _DLQ_ROUTES[name]
                self.metrics.inc(
                    "cdc_errors_total",
                    n,
                    destination=destination,
                    error_type=error_type,
                )

    def _collect_classified(self, batch: DataFrame, cap: int):
        """THE one Spark job of an Arrow-fan-out trigger: at most
        ``cap + 1`` rows of ``batch`` as a ``pyarrow.Table``, each row
        tagged ``__cls`` (see _build_control_aggs). Valid rows also
        carry ``key_hash``, ``columns_masked`` and the drift flag
        ``__drift``; foreign-table rows carry only their class, every
        other column null. The projection is built once per batch
        schema: building its ~20 Columns took 57 ms of Py4J calls
        (4 vCPU), a sixth of a 2,000-row trigger."""
        columns = tuple(batch.columns)
        if self._classified is None or self._classified[0] != columns:
            cls = F.col("__cls")
            valid = cls == _VALID
            self._classified = columns, [
                *[F.when(cls != _FOREIGN, F.col(c)).alias(c) for c in columns],
                F.when(valid, self._key_hash).alias("key_hash"),
                F.when(valid, self._masked_payload).alias("columns_masked"),
                F.when(valid, self._drift_flag).alias("__drift"),
                cls,
            ]
        return (
            batch.withColumn("__cls", self._cls)
            .select(*self._classified[1])
            .limit(cap + 1)
            .toArrow()
        )

    def _split_classified(self, table) -> tuple:
        """A classified collect split on the driver: the valid rows,
        deduped, with their drift flag and tag dropped; whether any of
        them drifted; the control counts; and the rows each nonzero DLQ
        count sends to the DLQ (the batch's own columns)."""
        import numpy as np
        import pyarrow.compute as pc

        cls = table["__cls"].to_numpy()
        n = np.bincount(cls, minlength=4)
        counts = {"invalid": int(n[_INVALID]), "foreign_skipped": int(n[_FOREIGN])}
        if self._quality_rules:
            counts["quality_failed"] = int(n[_QUALITY])
        batch_cols = table.column_names[:-4]
        codes = {"invalid": _INVALID, "quality_failed": _QUALITY}
        dlq_rows = {
            name: table.filter(cls == codes[name]).select(batch_cols)
            for name in _DLQ_ROUTES
            if counts.get(name)
        }
        valid = _first_per_event(table.filter(cls == _VALID))
        drift = bool(pc.any(valid["__drift"]).as_py())
        return valid.drop_columns(["__drift", "__cls"]), drift, counts, dlq_rows

    def process_batch(self, batch: DataFrame, batch_id: int) -> dict:
        # under foreachBatch `batch` is bound to the streaming query's
        # cloned session (confs latched at query start — start() sizes
        # them); for direct calls this is the caller's session
        session = batch.sparkSession
        # the zone the Arrow gate checks is the one HypertableSink
        # derives `_chunk` in (the sinks' own session may differ) and
        # the driver-side DLQ writer prints timestamps in
        tz = session.conf.get("spark.sql.session.timeZone")
        parts = self._batch_partitions()
        prev_parts = session.conf.get("spark.sql.shuffle.partitions")
        session.conf.set("spark.sql.shuffle.partitions", str(parts))
        # narrow (no shuffle) so every downstream job over the cached
        # batch runs batch-sized task counts, not source-split counts
        batch = batch.coalesce(parts).persist()
        arrow_rows = self._arrow_fanout_rows(batch)
        split: dict = {}
        split_lock = threading.Lock()

        def frames() -> dict:
            """The split frames — ``valid`` (deduped, masked, cached),
            ``invalid`` and ``quality_failed`` — planned on first use.
            The Spark fan-out uses them at once; an Arrow-fan-out
            trigger only for schema drift, DataFrame-only sinks, the
            DLQ of a failed sink or an incompatible schema."""
            with split_lock:
                if not split:
                    valid, invalid = self.split_valid(batch.filter(self._scoped))
                    quality_bad = None
                    if self._quality_rules:
                        from hybrid_cdc_demo_spark.operators.quality import gate

                        valid, quality_bad = gate(valid, self._quality_rules)
                    # cached: the first job over it fills the cache, so
                    # the sink writes read warm data
                    split.update(
                        valid=self.mask(self.dedup(valid)).persist(),
                        invalid=invalid,
                        quality_failed=quality_bad,
                    )
                return split

        # control task and one task per sink (plus the control aggregate
        # on the Spark fan-out); shut down (waiting) before the caches
        # are released
        pool = ThreadPoolExecutor(max_workers=2 + len(self.sinks))
        try:
            table = None
            if arrow_rows is not None:
                table = self._collect_classified(batch, arrow_rows)
                if table.num_rows > arrow_rows:
                    table = None  # a surge: Spark fan-out
            if table is not None:
                # Small trigger, one Spark job: the counts come from the
                # tags, the driver dedups the valid rows and writes the
                # DLQ rows itself, beside the sinks. Against a control
                # aggregate and a Spark DLQ write beside the collect
                # (3 jobs per batch), perfbench cdc_trickle's median
                # batch fell from 0.379 to 0.228 s (4 vCPU, 2k-row
                # triggers, 10 interleaved pairs).
                table, drift, counts, dlq_rows = self._split_classified(table)
                n_valid = table.num_rows
                table = stamp_time_zone(table, tz)

                def control_task():
                    for name, rows in dlq_rows.items():
                        write_dlq_arrow(
                            rows, self.config.dlq_path, *_DLQ_ROUTES[name], tz,
                            metrics=self.metrics,
                        )
                    return counts
            else:
                # The control aggregate and its DLQ writes race the
                # materialize job below ON PURPOSE: they only need the
                # cached batch, and beside it they cost no latency, so
                # the aggregate is submitted before anything else is
                # planned. Measured (4 vCPU, 2k-row triggers,
                # interleaved pairs):
                # - with the Arrow fan-out, perfbench cdc_trickle's
                #   median batch fell from 0.774 to 0.396 s (10 pairs);
                # - taking the counts from an observe (CollectMetrics)
                #   node on the materialize job saves that job but
                #   starts the DLQ write after it: 0.41 → 0.56 s on the
                #   Arrow fan-out (25 pairs), 0.594 → 0.618 s on the
                #   Spark one;
                # - one shared latest-wins window in the batch instead
                #   of one per upsert sink: 0.71 → 0.80 s on the Spark
                #   fan-out, a tie on the Arrow one (0.413 vs 0.414 s,
                #   25 pairs);
                # - AQE on the micro-batch jobs: ~8% slower median batch
                #   (0.63-0.93 vs 0.59-0.70 s), so start() turns it off;
                # - letting the three Spark sink writes race to compute
                #   the cold `valid` instead of materializing it first:
                #   0.68 → 0.74 s, block-level compute locking
                #   serializes them.
                control_agg = pool.submit(
                    lambda: batch.agg(*self._control_aggs).collect()[0]
                )
                frames()

                def control_task():
                    # invalid (O7 DLQ), foreign-table skips (O6:
                    # reference reader.py:186-188 skips silently, we
                    # count) and quality-gate failures (quarantined,
                    # never replicated); the split frames are only
                    # scanned for the (rare) nonzero DLQ writes
                    counts = {
                        k: int(v or 0) for k, v in control_agg.result().asDict().items()
                    }
                    for name, route in _DLQ_ROUTES.items():
                        if counts.get(name):
                            self._to_dlq(split[name], *route)
                    return counts

                # THE serial driver job of the Spark fan-out: materialize
                # the transformed batch into cache so the parallel sink
                # writes read warm data instead of racing cold-cache
                # partitions; the same job computes the O19 stat and
                # the schema-drift probe
                row = split["valid"].agg(
                    F.count(F.lit(1)).alias("n"),
                    F.sum(self._drift_flag.cast("int")).alias("drift"),
                ).collect()[0]
                n_valid, drift = int(row["n"] or 0), row["drift"]
            ctrl = pool.submit(control_task)
            path = "spark" if table is None else "arrow"
            stats = {"batch_id": batch_id, "valid": n_valid, "write_path": path}
            self.metrics.inc("cdc_batches_total", path=path)
            self._last_batch_rows = n_valid

            if drift:
                outcome = self.evolution.observe_batch(
                    frames()["valid"], self.config.keyspace, self.config.table
                )
                stats["schema"] = outcome["action"]
                log_schema_change(
                    self.config.keyspace,
                    self.config.table,
                    outcome["action"],
                    outcome.get("changes", []),
                    outcome.get("version"),
                )
                if outcome["action"] in ("evolved", "discovered"):
                    # Rebind the construction-time cached expressions
                    # to the evolved registry and re-mask THIS batch:
                    # the masking projection was applied before drift
                    # detection, so without the re-mask a PII-named
                    # column ADDed in this very batch would reach the
                    # sinks raw (the reference's restart-only window —
                    # closed here because the expressions are unbound
                    # Columns, one driver-side rebuild away).
                    self.refresh_plan_expressions()
                    valid = split["valid"]
                    remasked = self.mask(valid.drop("key_hash", "columns_masked")).persist()
                    if table is not None:
                        table = stamp_time_zone(remasked.toArrow(), tz)
                    valid.unpersist()
                    split["valid"] = remasked
                if outcome["action"] == "incompatible":
                    # reference semantics: incompatible change diverts
                    # the table's events to the DLQ, sinks untouched
                    self._to_dlq(split["valid"], "schema", "schema_incompatible")
                    self.metrics.inc(
                        "cdc_errors_total",
                        n_valid,
                        destination="schema",
                        error_type="schema_incompatible",
                    )
                    # the control task already persisted the invalid
                    # (and quality) splits — foreachBatch completing
                    # advances the checkpoint, so a merely-counted row
                    # would be gone
                    self._record_control(stats, ctrl.result())
                    return stats

            # multi-sink fan-out with per-sink isolation (O20: one
            # failing destination never blocks the others). Concurrent
            # threads write the sinks — the reference's
            # asyncio.gather(main.py:148) expressed as parallel writes:
            # Spark jobs over the cached batch, or pyarrow writes of the
            # collected table for sinks that take one.
            def one_sink(item):
                name, sink = item
                # O34: every buffered-but-uncommitted event counts as
                # backlog for this destination until its write commits
                # (reference set_backlog, metrics.py:84-86)
                self.metrics.set_gauge("cdc_backlog_depth", n_valid, destination=name)
                try:
                    data = (
                        table
                        if table is not None and _writes_arrow(sink)
                        else frames()["valid"]
                    )
                    return name, with_retry(
                        lambda: sink.write_batch(data, batch_id),
                        self.config.retry,
                        # reference increment_retries (metrics.py:68-70):
                        # one tick per re-attempt of this destination
                        on_retry=lambda attempt, exc: self.metrics.inc(
                            "cdc_retry_attempts_total", destination=name
                        ),
                    ), None
                except Exception as exc:  # noqa: BLE001
                    return name, -1, exc

            writes = [pool.submit(one_sink, item) for item in self.sinks.items()]
            self._record_control(stats, ctrl.result())
            for name, written, exc in [w.result() for w in writes]:
                stats[name] = written
                if exc is not None:
                    self.sink_errors[name] = self.sink_errors.get(name, 0) + 1
                    self.metrics.inc(
                        "cdc_errors_total",
                        destination=name,
                        error_type=type(exc).__name__,
                    )
                    log_sink_error(
                        name, type(exc).__name__, self.sink_errors[name]
                    )
                    self._to_dlq(frames()["valid"], name, type(exc).__name__)
                else:
                    # committed: destination-labelled processed counter
                    # (reference increment_events_processed) and the
                    # backlog drains to zero
                    self.metrics.inc(
                        "cdc_events_processed_total",
                        written,
                        destination=name,
                        table=self.config.table,
                    )
                    self.metrics.set_gauge(
                        "cdc_backlog_depth", 0, destination=name
                    )
            log_batch(stats)
            return stats
        finally:
            # wait for the control task before its cached input goes;
            # then release BOTH caches — a per-second trigger that only
            # persists would accumulate stale blocks for the whole run
            pool.shutdown(wait=True)
            if split:
                split["valid"].unpersist()
            batch.unpersist()
            session.conf.set("spark.sql.shuffle.partitions", prev_parts)

    # -- entry points --------------------------------------------------

    def _source_stream(self) -> DataFrame:
        """O1/O2/O5 source selection per config.source_format. All three
        converge on the same envelope columns, so every downstream
        stage (validate, mask, fan-out) is source-agnostic; the binary
        variants additionally carry (commitlog_file, byte_position)
        lineage and parse_error rows the DLQ branch picks up."""
        fmt = self.config.source_format
        if fmt == "envelope":
            return read_envelope_stream(
                self.spark,
                self.config.source_dir,
                max_files_per_trigger=self.config.max_files_per_trigger,
            )
        from hybrid_cdc_demo_spark.sources.commitlog import (
            envelope_from_frames,
            read_commitlog_stream,
        )

        if fmt == "commitlog":
            return envelope_from_frames(
                read_commitlog_stream(
                    self.spark,
                    self.config.source_dir,
                    max_files_per_trigger=self.config.max_files_per_trigger,
                )
            )
        if fmt == "commitlog-ds":
            from hybrid_cdc_demo_spark.sources.commitlog_source import (
                register_commitlog_source,
            )

            register_commitlog_source(self.spark)
            reader = self.spark.readStream.format("commitlog")
            if self.config.max_bytes_per_trigger:
                reader = reader.option(
                    "maxBytesPerTrigger",
                    str(self.config.max_bytes_per_trigger),
                )
            frames = reader.load(self.config.source_dir)
            return envelope_from_frames(frames)
        raise ValueError(f"unknown source_format {fmt!r}")

    def start(self) -> StreamingQuery:
        # size micro-batch execution to batch volume BEFORE start: the
        # query clones the session and latches these confs, so a tiny
        # trigger isn't split into defaultParallelism scan tasks nor
        # shuffled into table-sized partition counts
        conf = self.spark.conf
        self._prev_confs = {
            "spark.sql.shuffle.partitions": conf.get(
                "spark.sql.shuffle.partitions"
            ),
            "spark.sql.files.minPartitionNum": conf.get(
                "spark.sql.files.minPartitionNum", None
            ),
            "spark.sql.adaptive.enabled": conf.get(
                "spark.sql.adaptive.enabled", None
            ),
        }
        conf.set(
            "spark.sql.shuffle.partitions", str(self.config.shuffle_partitions)
        )
        conf.set("spark.sql.files.minPartitionNum", "1")
        # micro-batch jobs plan without AQE (measured slower at trigger
        # scale, see process_batch): the shuffle partitions are already
        # sized to batch volume. Set on the parent session, which the
        # query clones at start, so until stop()/restore_confs() other
        # queries on THIS session plan without AQE too — run concurrent
        # analytics on spark.newSession() if they need it.
        conf.set("spark.sql.adaptive.enabled", "false")
        # O34 (VERDICT r4 #7): for byte-offset sources, feed the
        # source-lag backlog gauge (bytes on disk beyond the committed
        # offset) from the progress stream; the per-destination gauges
        # keep tracking buffered-but-uncommitted batches per sink
        if (
            self.config.source_format in ("commitlog", "commitlog-ds")
            and self._backlog_listener is None
        ):
            from hybrid_cdc_demo_spark.observability.metrics import (
                SourceBacklogListener,
            )

            self._backlog_listener = SourceBacklogListener(
                self.metrics, self.config.source_dir, table=self.config.table
            )
            self.spark.streams.addListener(self._backlog_listener)
        stream = self._source_stream()
        writer = stream.writeStream.foreachBatch(
            lambda df, bid: self.process_batch(df, bid)
        ).option("checkpointLocation", self.config.checkpoint_path)
        if self.config.processing_interval:
            writer = writer.trigger(
                processingTime=self.config.processing_interval
            )
        else:
            writer = writer.trigger(availableNow=True)
        query = writer.start()
        if self._backlog_listener is not None:
            # scope the session-global listener to THIS query's
            # progress stream (a concurrent pipeline's offsets must
            # not be compared against our directory)
            self._backlog_listener.run_id = str(query.runId)
        return query

    def stop(self, query) -> None:
        """Graceful shutdown (O38, main.py:252-275): stop the trigger
        loop — the in-flight micro-batch completes and commits — then
        flush background compactions and restore session confs."""
        query.stop()
        query.awaitTermination()
        for sink in self.sinks.values():
            sink.flush()
        self.restore_confs()

    def restore_confs(self) -> None:
        for k, v in getattr(self, "_prev_confs", {}).items():
            if v is None:
                self.spark.conf.unset(k)
            else:
                self.spark.conf.set(k, v)
        if self._backlog_listener is not None:
            try:
                self.spark.streams.removeListener(self._backlog_listener)
            except Exception:  # noqa: BLE001 — session may be stopping
                pass
            self._backlog_listener = None

    def run_available(self) -> None:
        """Process everything currently in the source dir, then stop
        (deterministic test/replay mode; graceful-shutdown semantics of
        main.py:252-275 — final batch always flushed)."""
        q = self.start()
        try:
            q.awaitTermination()
        finally:
            for sink in self.sinks.values():
                sink.flush()
            self.restore_confs()
