"""JDBC warehouse sink: SQL generation + transactional batch writer.

The reference's sink layer is per-event SQL against Postgres/
ClickHouse/TimescaleDB (src/sinks/postgres.py:68-205,
clickhouse.py:81-192, timescaledb.py:89-139). This module reproduces
the REAL parts of that layer — SQL statement generation and the
data+offset single-transaction commit — as a Spark ``foreachBatch``
writer:

* ``upsert_sql``   — idempotent upsert keyed on the replica key
                     (postgres.py:124-132 semantics: insert, on key
                     conflict update every non-key column);
* ``delete_sql``   — key-targeted delete (postgres.py:93-101);
* ``offset_upsert_sql`` — the cdc_offsets commit executed in the SAME
                     transaction as the data
                     (postgres.py:148-205, commit at 198);
* ``create_table_ddl`` — CQL → warehouse DDL via the declarative
                     type-mapping tables (O17;
                     config/schema-mappings.yaml:5-51);
* ``JdbcUpsertSink`` — executes the above per micro-batch through a
                     DB-API connection factory: partitions write with
                     ``executemany`` (batched, not per-event round
                     trips), the ledger row commits atomically with
                     the data, and an already-committed batch_id is a
                     no-op (exactly-once, SURVEY §7.3.1).

The writer is dialect-agnostic DB-API (tests run it against sqlite,
whose ON CONFLICT grammar matches Postgres); on a cluster the
connection factory returns psycopg2/clickhouse-driver connections
per executor partition.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame

from hybrid_cdc_demo_spark.schema.evolution import TableSchema, UnsupportedTypeError

#: CQL → warehouse DDL types (SURVEY §1.3; schema-mappings.yaml:5-51).
CQL_TO_POSTGRES = {
    "uuid": "uuid",
    "text": "text",
    "varchar": "varchar",
    "ascii": "text",
    "int": "integer",
    "smallint": "smallint",
    "tinyint": "smallint",
    "bigint": "bigint",
    "varint": "bigint",
    "float": "real",
    "double": "double precision",
    "decimal": "numeric",
    "boolean": "boolean",
    "timestamp": "timestamptz",
    "date": "date",
    "time": "time",
    "blob": "bytea",
    "inet": "inet",
}

CQL_TO_CLICKHOUSE = {
    "uuid": "UUID",
    "text": "String",
    "varchar": "String",
    "ascii": "String",
    "int": "Int32",
    "smallint": "Int16",
    "tinyint": "Int8",
    "bigint": "Int64",
    "varint": "Int64",
    "float": "Float32",
    "double": "Float64",
    "decimal": "Decimal(18,2)",
    "boolean": "UInt8",
    "timestamp": "DateTime64(3)",
    "date": "Date",
    "time": "String",
    "blob": "String",
    "inet": "String",
}

UNSUPPORTED_PREFIXES = ("frozen<", "tuple<", "counter")


def _ddl_type(cql: str, dialect: str) -> str:
    t = cql.strip().lower()
    if t.startswith(UNSUPPORTED_PREFIXES):
        raise UnsupportedTypeError(cql)
    table = CQL_TO_POSTGRES if dialect in ("postgres", "timescaledb") else CQL_TO_CLICKHOUSE
    if t.startswith(("map<", "list<", "set<")):
        # complex types serialize to JSON at the JDBC edge (SURVEY §1.3)
        return "jsonb" if dialect in ("postgres", "timescaledb") else "String"
    return table.get(t.split("(")[0], "text" if dialect != "clickhouse" else "String")


def create_table_ddl(schema: TableSchema, dialect: str = "postgres") -> str:
    """O17: declarative type-mapped DDL; primary key = partition +
    clustering keys (the replica key)."""
    cols = ",\n  ".join(
        f"{name} {_ddl_type(cql, dialect)}" for name, cql in schema.columns.items()
    )
    keys = schema.partition_keys + schema.clustering_keys
    pk = f",\n  PRIMARY KEY ({', '.join(keys)})" if keys else ""
    if dialect == "clickhouse":
        order = ", ".join(keys) or "tuple()"
        return (
            f"CREATE TABLE IF NOT EXISTS {schema.table} (\n  {cols}\n) "
            f"ENGINE = ReplacingMergeTree ORDER BY ({order})"
        )
    return f"CREATE TABLE IF NOT EXISTS {schema.table} (\n  {cols}{pk}\n)"


#: DB-API paramstyle per engine: sqlite is qmark, psycopg2 is
#: format (%s, sequence params), clickhouse-driver's DB-API cursor is
#: PYFORMAT (%(name)s, dict params — positional %s raises 'Parameters
#: are expected in dict form'). "sqlite" doubles as the generic/ANSI
#: default (the grammar sqlite parses is the Postgres ON CONFLICT
#: grammar, which is why the test suite can engine-check the Postgres
#: statements against sqlite).
_PARAM = {"sqlite": "?", "postgres": "%s", "timescaledb": "%s", "clickhouse": None}


def _check_dialect(dialect: str) -> None:
    if dialect not in _PARAM:
        raise ValueError(f"unknown dialect {dialect!r}")


def _ph(dialect: str, name: str) -> str:
    """Placeholder for parameter ``name``: positional for qmark/format
    dialects, named pyformat for clickhouse (whose cursor takes dict
    params only)."""
    _check_dialect(dialect)
    return f"%({name})s" if dialect == "clickhouse" else _PARAM[dialect]


def bind_params(dialect: str, names: list[str], values) -> tuple | dict:
    """Shape a parameter row for ``dialect``: sequence for qmark/format
    paramstyles, ``{name: value}`` dict for clickhouse's pyformat."""
    if dialect == "clickhouse":
        return dict(zip(names, values))
    return tuple(values)


def upsert_sql(
    table: str, columns: list[str], key_cols: list[str], dialect: str = "sqlite"
) -> str:
    """Idempotent upsert per engine grammar:

    * postgres/timescaledb/sqlite — ``INSERT ... ON CONFLICT (pk) DO
      UPDATE SET col = excluded.col`` (reference postgres.py:124-132;
      TimescaleDB is Postgres; sqlite shares the grammar, which is
      what lets tests engine-check it);
    * clickhouse — plain ``INSERT``: the engine has no upsert, dedup
      is deferred to ReplacingMergeTree's background merge (reference
      clickhouse.py:121-136 inserts, never conflicts). Placeholders
      are named pyformat (``%(col)s``) because clickhouse-driver's
      DB-API cursor accepts dict parameters only; pair with
      :func:`bind_params`. (The reference uses the NATIVE client —
      ``Client.execute("INSERT ... VALUES", rows)`` — which this
      DB-API text degrades to cleanly if a native factory is used.)"""
    col_list = ", ".join(columns)
    placeholders = ", ".join(_ph(dialect, c) for c in columns)
    if dialect == "clickhouse":
        return f"INSERT INTO {table} ({col_list}) VALUES ({placeholders})"
    updates = ", ".join(
        f"{c} = excluded.{c}" for c in columns if c not in key_cols
    )
    conflict = ", ".join(key_cols)
    return (
        f"INSERT INTO {table} ({col_list}) VALUES ({placeholders}) "
        f"ON CONFLICT ({conflict}) DO UPDATE SET {updates}"
    )


def delete_sql(table: str, key_cols: list[str], dialect: str = "sqlite") -> str:
    """Key-targeted delete. ClickHouse spells it as a lightweight
    mutation (``ALTER TABLE ... DELETE WHERE``, asynchronous) — the
    reference instead SKIPS deletes for its analytics warehouse
    (clickhouse.py:109-116), which remains the default pipeline policy;
    this statement is for callers that opt into tombstone application.
    For clickhouse the writer never runs THIS statement per key — see
    :func:`delete_in_sql`: one mutation per key would queue one
    heavyweight async rewrite each (ADVICE r4 #2)."""
    where = " AND ".join(f"{k} = {_ph(dialect, k)}" for k in key_cols)
    if dialect == "clickhouse":
        return f"ALTER TABLE {table} DELETE WHERE {where}"
    return f"DELETE FROM {table} WHERE {where}"


def delete_in_sql(table: str, key_cols: list[str], dialect: str = "sqlite") -> str:
    """Batched key-set delete: ALL of a batch's tombstones in ONE
    statement. Pair with one ``keys`` parameter — a list of scalars for
    a single-column key, a list of tuples for a composite key
    (clickhouse-driver renders both client-side). Essential for the
    clickhouse dialect, where every ``ALTER TABLE ... DELETE`` is an
    asynchronous table-rewrite mutation: per-key executemany would
    queue one mutation per deleted key (pathological at any scale);
    the IN-set form queues exactly one per micro-batch."""
    _check_dialect(dialect)
    key = key_cols[0] if len(key_cols) == 1 else f"({', '.join(key_cols)})"
    if dialect == "clickhouse":
        return f"ALTER TABLE {table} DELETE WHERE {key} IN %(keys)s"
    # qmark/format dialects keep per-row executemany (cheap row deletes,
    # no mutation machinery) — this form is provided for completeness
    return f"DELETE FROM {table} WHERE {key} IN {_ph(dialect, 'keys')}"


#: Health-probe statement per engine (reference
#: src/observability/health.py:126-258: postgres SELECT 1 at :159,
#: clickhouse SELECT 1 at :195, timescaledb extension check at :243;
#: the cassandra SOURCE probe `SELECT now() FROM system.local` at
#: :111 has no JDBC sink dialect here — the commitlog source's health
#: is the directory scan itself). sqlite doubles as the generic/ANSI
#: default, matching the rest of this module.
_PROBE_SQL = {
    "sqlite": "SELECT 1",
    "postgres": "SELECT 1",
    "clickhouse": "SELECT 1",
    "timescaledb": (
        "SELECT extversion FROM pg_extension WHERE extname = 'timescaledb'"
    ),
}


def probe_sql(dialect: str = "sqlite") -> str:
    """The dialect's health-probe statement (reference health.py
    semantics). For timescaledb the probe is only healthy when the
    statement RETURNS A ROW (extension installed) — enforced by
    :func:`health_probe`, not by the SQL alone."""
    _check_dialect(dialect)
    return _PROBE_SQL[dialect]


def health_probe(connection_factory: Callable, dialect: str = "sqlite"):
    """A zero-arg callable for ``observability.metrics.probe_sink``:
    opens a connection, runs the dialect probe, and raises on an
    unhealthy engine (reference health.py:126-258 — timescaledb
    additionally requires the extension row to exist)."""
    sql = probe_sql(dialect)

    def probe() -> None:
        conn = connection_factory()
        try:
            cur = conn.cursor()
            cur.execute(sql)
            row = cur.fetchone()
            if dialect == "timescaledb" and not row:
                raise RuntimeError("TimescaleDB extension not found")
        finally:
            conn.close()

    return probe


OFFSET_COLUMNS = [
    "table_name",
    "keyspace_name",
    "destination",
    "batch_id",
    "last_event_timestamp_micros",
    "events_replicated_count",
]


def offset_upsert_sql(
    offset_table: str = "cdc_offsets", dialect: str = "sqlite"
) -> str:
    """The cdc_offsets commit row (scripts/sql/create-offset-table.sql
    shape + batch_id), executed inside the data transaction.

    ``last_event_timestamp_micros`` only advances (src/cdc/offset.py:76-83
    rejects timestamp regressions): a later batch that carries older
    events — file-reorder under maxFilesPerTrigger=1 — must not move
    the offset clock backwards. The running max is spelled as a CASE
    expression — the one ANSI form every target dialect parses
    (two-arg ``MAX`` is sqlite/ClickHouse-only; ``GREATEST`` is
    Postgres-only; this module's claim of Postgres-grammar parity
    would otherwise be false).

    ``events_replicated_count`` accumulates COLLAPSED rows applied
    (upserts + deletes after the latest-per-key collapse) — identical
    in both txn scopes. This deliberately diverges from the
    reference's raw-event count (offset.py increments per event seen):
    the collapsed count is the number of state changes the warehouse
    actually performed, which is the meaningful replication measure
    once a batch is collapsed before apply.

    ClickHouse has no ON CONFLICT and no transactions — the offset row
    is a plain INSERT into a ReplacingMergeTree offsets table whose
    background merge keeps the latest row per (table, keyspace,
    destination), exactly the reference's ClickHouse offset path
    (clickhouse.py:147-190: 'offset commits are separate from data
    writes'); the monotone clock guard there lives in the version
    column ordering, not in SQL."""
    t = offset_table
    phs = ", ".join(_ph(dialect, c) for c in OFFSET_COLUMNS)
    if dialect == "clickhouse":
        return (
            f"INSERT INTO {t} "
            "(table_name, keyspace_name, destination, batch_id, "
            "last_event_timestamp_micros, events_replicated_count) "
            f"VALUES ({phs})"
        )
    return (
        f"INSERT INTO {t} "
        "(table_name, keyspace_name, destination, batch_id, "
        "last_event_timestamp_micros, events_replicated_count) "
        f"VALUES ({phs}) "
        "ON CONFLICT (table_name, keyspace_name, destination) DO UPDATE SET "
        "batch_id = excluded.batch_id, "
        "last_event_timestamp_micros = CASE "
        f"WHEN excluded.last_event_timestamp_micros > {t}.last_event_timestamp_micros "
        "THEN excluded.last_event_timestamp_micros "
        f"ELSE {t}.last_event_timestamp_micros END, "
        f"events_replicated_count = {t}.events_replicated_count "
        "+ excluded.events_replicated_count"
    )


OFFSET_TABLE_DDL = """
CREATE TABLE IF NOT EXISTS cdc_offsets (
  table_name text,
  keyspace_name text,
  destination text,
  batch_id bigint,
  last_event_timestamp_micros bigint,
  events_replicated_count bigint,
  PRIMARY KEY (table_name, keyspace_name, destination)
)
"""


class JdbcUpsertSink:
    """Transactional JDBC personality for ``foreachBatch``.

    Two transaction scopes:

    * ``txn_scope="partition"`` (default, the 100 TB path): every
      partition opens its own connection and applies its rows with
      ``executemany`` in one partition-local transaction — fully
      distributed, no driver data movement. The offset row commits
      LAST, driver-side. A crash between the two phases replays the
      batch, but the upsert/delete statements are idempotent and
      latest-wins, so the replay converges to the same state before
      the offset finally commits — effective exactly-once.
    * ``txn_scope="driver"`` — strict reference parity
      (postgres.py:137+196-198): all rows and the offset commit in ONE
      transaction through a single driver connection. Atomic, but the
      batch streams through the driver; use for modest batch sizes.

    Either way a replayed batch_id <= the committed one is a no-op.
    """

    name = "jdbc"

    def __init__(
        self,
        connection_factory: Callable,
        table: str,
        columns: list[str],
        key_cols: list[str],
        keyspace: str = "ecommerce",
        txn_scope: str = "partition",
        dialect: str = "sqlite",
    ):
        assert txn_scope in ("partition", "driver")
        _check_dialect(dialect)
        self.connection_factory = connection_factory
        self.table = table
        self.columns = columns
        self.key_cols = key_cols
        self.keyspace = keyspace
        self.txn_scope = txn_scope
        self.dialect = dialect

    def _committed_batch(self, conn) -> int | None:
        # MAX, not a bare row read: the clickhouse offsets table is a
        # ReplacingMergeTree fed by plain INSERTs, so before a
        # background merge several rows exist for the key and an
        # arbitrary one would come back — replaying already-committed
        # batches. MAX is also correct (and free) for the upserting
        # dialects, where at most one row exists.
        names = ["table_name", "keyspace_name", "destination"]
        where = " AND ".join(f"{n} = {_ph(self.dialect, n)}" for n in names)
        cur = conn.cursor()
        cur.execute(
            f"SELECT max(batch_id) FROM cdc_offsets WHERE {where}",
            bind_params(
                self.dialect, names, (self.table, self.keyspace, self.name)
            ),
        )
        row = cur.fetchone()
        return None if row is None or row[0] is None else row[0]

    def _apply_rows(self, cur, rows) -> tuple[int, int, int]:
        """Apply a LATEST-PER-KEY-COLLAPSED batch: each key appears at
        most once (write_batch collapses first), so an upsert and a
        delete can never target the same key within a batch and the
        executemany order between the two statement groups is
        immaterial. Without the collapse, DELETE(ts=100) followed by
        re-INSERT(ts=200) would apply as upsert-then-delete and leave
        the key wrongly absent."""
        cols, keys = self.columns, self.key_cols
        up_sql = upsert_sql(self.table, cols, keys, self.dialect)
        upserts, deletes = [], []
        max_ts = 0
        for r in rows:
            max_ts = max(max_ts, r["timestamp_micros"] or 0)
            if r["event_type"] == "DELETE":
                if self.dialect == "clickhouse":
                    # key VALUES, not a param dict: folded into one
                    # IN-set mutation below (ADVICE r4 #2 — per-key
                    # ALTER DELETE mutations are pathological)
                    vals = tuple(r[k] for k in keys)
                    deletes.append(vals if len(keys) > 1 else vals[0])
                else:
                    deletes.append(
                        bind_params(self.dialect, keys, (r[k] for k in keys))
                    )
            else:
                upserts.append(
                    bind_params(self.dialect, cols, (r[c] for c in cols))
                )
        if upserts:
            cur.executemany(up_sql, upserts)
        if deletes:
            if self.dialect == "clickhouse":
                cur.execute(
                    delete_in_sql(self.table, keys, self.dialect),
                    {"keys": deletes},
                )
            else:
                cur.executemany(
                    delete_sql(self.table, keys, self.dialect), deletes
                )
        return len(upserts), len(deletes), max_ts

    def _commit_offset(self, conn, batch_id: int, max_ts: int, n: int) -> None:
        conn.cursor().execute(
            offset_upsert_sql(dialect=self.dialect),
            bind_params(
                self.dialect,
                OFFSET_COLUMNS,
                (self.table, self.keyspace, self.name, batch_id, max_ts, n),
            ),
        )

    def write_batch(self, batch: DataFrame, batch_id: int) -> int:
        factory = self.connection_factory
        probe = factory()
        try:
            committed = self._committed_batch(probe)
            if committed is not None and committed >= batch_id:
                return 0
        finally:
            probe.close()

        from hybrid_cdc_demo_spark.streaming.sinks import latest_per_key

        # Collapse to one surviving event per key BEFORE applying
        # (latest timestamp, event_id tiebreak — same convergence rule
        # as UpsertSink): per-key SQL order inside a batch then cannot
        # matter, and a crash-replay re-applies the identical winners.
        # The window's hash-exchange also leaves partitions keyed, so
        # in partition scope no two connections ever touch one key.
        tiebreak = "event_id" if "event_id" in batch.columns else "timestamp_micros"
        collapsed = latest_per_key(batch, self.key_cols, tiebreak_col=tiebreak)
        projected = collapsed.select(
            "event_type", "timestamp_micros", *self.columns
        )
        if self.txn_scope == "partition":
            sink = self  # close over a picklable copy for executors

            def write_partition(rows) -> None:
                conn = factory()
                try:
                    n_up, n_del, _ = sink._apply_rows(conn.cursor(), rows)
                    if n_up or n_del:
                        conn.commit()
                    else:
                        conn.rollback()
                except Exception:
                    conn.rollback()
                    raise
                finally:
                    conn.close()

            projected.foreachPartition(write_partition)
            import pyspark.sql.functions as F

            stats = projected.agg(
                F.max("timestamp_micros").alias("mx"),
                F.count(F.lit(1)).alias("n"),
            ).collect()[0]
            conn = factory()
            try:
                self._commit_offset(
                    conn, batch_id, stats["mx"] or 0, stats["n"] or 0
                )
                conn.commit()
                return stats["n"] or 0
            finally:
                conn.close()

        conn = factory()
        try:
            n_up, n_del, max_ts = self._apply_rows(
                conn.cursor(), projected.toLocalIterator()
            )
            if n_up + n_del > 100_000:
                import logging

                logging.getLogger("hybrid_cdc_demo_spark.jdbc").warning(
                    "txn_scope='driver' streamed %d rows through the "
                    "driver in one transaction — this scope is for "
                    "modest batches (strict single-txn parity); use "
                    "the default txn_scope='partition' for large "
                    "batches (distributed executemany per partition)",
                    n_up + n_del,
                )
            # same counter semantics as partition scope: collapsed rows
            # applied (upserts + deletes), see offset_upsert_sql
            self._commit_offset(conn, batch_id, max_ts, n_up + n_del)
            conn.commit()  # the exactly-once point
            return n_up + n_del
        except Exception:
            conn.rollback()
            raise
        finally:
            conn.close()
