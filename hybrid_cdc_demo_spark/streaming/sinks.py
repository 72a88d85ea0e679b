"""Warehouse sink personalities + exactly-once machinery.

Three personalities mirror the reference's destinations:

* UpsertSink     — Postgres personality (src/sinks/postgres.py:68-146):
                   MERGE-style latest-wins upsert; DELETE removes keys
                   (postgres.py:93-101).
* AppendSink     — ClickHouse personality (src/sinks/clickhouse.py:81-145):
                   append-only; dedup deferred to a ReplacingMergeTree-
                   equivalent read view (row_number latest-wins);
                   DELETE policy skip (parity, clickhouse.py:109-116)
                   or tombstone (upgrade).
* HypertableSink — TimescaleDB personality (src/sinks/timescaledb.py:89-139):
                   upsert + time-bucket partitioned layout
                   (partitionBy(date) ≙ create_hypertable).

Exactly-once (reference postgres.py:137+196-198 single-transaction
data+offset commit, SURVEY §7.3.1): every sink keeps a batch ledger;
``foreachBatch`` replays of an already-committed batchId are skipped,
segment writes are overwrite-by-batchId (idempotent under crash
between data write and ledger commit), and the latest-wins merge is
itself idempotent — source-checkpoint + ledger + idempotent-merge
composes to effective exactly-once without a transactional store.

Storage layout is log-structured merge (the same write path a 100 TB
deployment needs): each micro-batch appends one sorted delta segment
(O(batch) work, no rewrite of accumulated state), reads merge
base + deltas with a latest-wins window, and a compaction folds
deltas into the base snapshot every ``compact_every`` batches. This
is exactly ClickHouse's ReplacingMergeTree model (write fast, merge
in background, dedup at read) applied to all three personalities;
per-batch cost stays constant as the table grows instead of the
O(table) rewrite a naive MERGE-per-batch would pay. Snapshots are
versioned directories with an atomic pointer swap (plain parquet, no
Delta in this container; on a real deployment the same class maps
1:1 onto Delta MERGE + txnVersion).
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import shutil
import threading
from concurrent.futures import ThreadPoolExecutor
from pathlib import Path

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window


def _in_background_pool(spark: SparkSession, fn):
    """Wrap a maintenance task (compaction/optimize) so the Spark jobs
    it submits land in the deprioritized ``background`` FAIR pool (see
    session.py / resources/fairscheduler.xml): a background merge then
    never steals task slots from an in-flight micro-batch, which is
    what keeps the per-trigger replication-lag p99 flat while
    compaction is active. On a FIFO session the local property is
    inert — the task still runs, just without the priority split.

    The pool property is per-thread ONLY in PySpark pinned-thread mode
    (the default since 3.2: each Python thread pins to its own JVM
    thread, so setLocalProperty is thread-scoped). With
    PYSPARK_PIN_THREAD=false all Python threads share gateway threads
    and the property can leak onto a concurrent FOREGROUND micro-batch,
    deprioritizing exactly the work the pool exists to protect — so in
    unpinned mode the wrapper skips the property entirely (the task
    still runs, just without the priority split, same degradation as a
    FIFO session; r9 ADVICE)."""

    pinned = os.environ.get("PYSPARK_PIN_THREAD", "true").lower() not in (
        "false",
        "0",
    )

    def run():
        sc = spark.sparkContext
        if not pinned:
            return fn()
        try:
            sc.setLocalProperty("spark.scheduler.pool", "background")
        except Exception:  # pragma: no cover - session already stopped
            pass
        try:
            return fn()
        finally:
            try:
                sc.setLocalProperty("spark.scheduler.pool", None)
            except Exception:  # pragma: no cover
                pass

    return run


class VersionedParquetTable:
    """A tiny ACID-ish table: versioned parquet snapshots + a pointer
    file updated atomically (os.replace). Enough for single-writer
    streaming sinks; maps onto Delta/Iceberg in production."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = Path(path)
        self.path.mkdir(parents=True, exist_ok=True)

    @property
    def _pointer(self) -> Path:
        return self.path / "_LATEST"

    def current_version(self) -> int:
        if not self._pointer.exists():
            return 0
        return int(self._pointer.read_text().strip() or 0)

    def read(self) -> DataFrame | None:
        v = self.current_version()
        if v == 0:
            return None
        return self.spark.read.parquet(str(self.path / f"v={v}"))

    def write(self, df: DataFrame, partition_by: list[str] | None = None) -> int:
        v = self.current_version() + 1
        tmp = self.path / f".tmp-v={v}"
        final = self.path / f"v={v}"
        if tmp.exists():
            shutil.rmtree(tmp)
        writer = df.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(str(tmp))
        if final.exists():
            shutil.rmtree(final)
        os.replace(tmp, final)
        tmp_ptr = self.path / "._LATEST.tmp"
        tmp_ptr.write_text(str(v))
        os.replace(tmp_ptr, self._pointer)
        self._gc(keep=2)
        return v

    def _gc(self, keep: int) -> None:
        v = self.current_version()
        for child in self.path.glob("v=*"):
            try:
                if int(child.name.split("=")[1]) <= v - keep:
                    shutil.rmtree(child)
            except (ValueError, OSError):
                pass


class BatchLedger:
    """Committed-batch registry per sink — the `cdc_offsets` analogue
    (FIXTURES.md §B6; reference scripts/sql/create-offset-table.sql:4-18
    plus our batch_id column). JSON-per-batch files; presence of the
    file == committed (atomic create).

    Two offset-table behaviors from the reference are enforced here so
    every sink personality inherits them:

    * **Timestamp monotonicity** (src/cdc/offset.py:76-83): the
      committed ``last_event_timestamp_micros`` is a running max — a
      later batch carrying older events (maxFilesPerTrigger=1 file
      reordering) never regresses the offset clock.
    * **Retention/compaction** (src/cdc/offset.py cleanup_old_offsets
      semantics): every ``compact_every`` commits the loose per-batch
      JSON files fold into one ``_manifest.json``, so a week of 1 s
      triggers holds ~compact_every files, not ~600k. Per-batch records
      are preserved exactly (the manifest keeps them all); only the
      file COUNT is bounded.
    """

    MANIFEST = "_manifest.json"

    def __init__(self, path: str, compact_every: int = 64):
        self.path = Path(path)
        self.path.mkdir(parents=True, exist_ok=True)
        self.compact_every = compact_every
        self._committed: set[int] | None = None  # lazy-loaded from disk
        self._max_ts: int | None = None
        #: loose per-batch files on disk — counted once at load, then
        #: maintained in memory so the per-commit hot path never lists
        #: the directory (the glob was one dirscan per sink per trigger
        #: — a filesystem sync on the p99 path for a number that only
        #: decides WHEN to fold; a restart recounts from disk)
        self._loose = 0

    def _load(self) -> None:
        if self._committed is not None:
            return
        self._committed = set()
        self._loose = len(list(self.path.glob("batch-*.json")))
        for b in self.committed_batches():
            self._committed.add(int(b["batch_id"]))
            ts = b.get("last_event_timestamp_micros")
            if ts is not None:
                ts = int(ts)
                self._max_ts = ts if self._max_ts is None else max(self._max_ts, ts)

    @property
    def max_timestamp_micros(self) -> int | None:
        """Monotone offset clock: max committed event timestamp."""
        self._load()
        return self._max_ts

    def is_committed(self, batch_id: int) -> bool:
        self._load()
        return batch_id in self._committed

    def commit(self, batch_id: int, stats: dict) -> None:
        self._load()
        ts = stats.get("last_event_timestamp_micros")
        ts = None if ts is None else int(ts)
        if self._max_ts is not None:
            # offset.py:76-83 — reject timestamp regressions
            ts = self._max_ts if ts is None else max(ts, self._max_ts)
        if ts is not None:
            self._max_ts = ts
        stats = {**stats, "last_event_timestamp_micros": ts}
        target = self.path / f"batch-{batch_id:012d}.json"
        fresh = not target.exists()  # replay overwrites, not a new file
        tmp = self.path / f".batch-{batch_id:012d}.tmp"
        tmp.write_text(json.dumps({"batch_id": batch_id, **stats}, default=str))
        os.replace(tmp, target)
        self._committed.add(batch_id)
        if fresh:
            self._loose += 1
        if self._loose >= self.compact_every:
            self._compact()

    def _manifest_entries(self) -> list[dict]:
        mf = self.path / self.MANIFEST
        if not mf.exists():
            return []
        return json.loads(mf.read_text())

    def _compact(self) -> None:
        """Fold loose batch files into the manifest. Crash-safe: the
        manifest replaces atomically BEFORE loose files unlink; a crash
        between the two leaves duplicates that committed_batches()
        dedups by batch_id."""
        loose = sorted(self.path.glob("batch-*.json"))
        by_id = {int(e["batch_id"]): e for e in self._manifest_entries()}
        for p in loose:
            e = json.loads(p.read_text())
            by_id[int(e["batch_id"])] = e
        entries = [by_id[k] for k in sorted(by_id)]
        tmp = self.path / "._manifest.tmp"
        tmp.write_text(json.dumps(entries))
        os.replace(tmp, self.path / self.MANIFEST)
        for p in loose:
            p.unlink(missing_ok=True)
        self._loose = 0

    def committed_batches(self) -> list[dict]:
        by_id = {int(e["batch_id"]): e for e in self._manifest_entries()}
        for p in sorted(self.path.glob("batch-*.json")):
            e = json.loads(p.read_text())
            by_id[int(e["batch_id"])] = e
        return [by_id[k] for k in sorted(by_id)]


def latest_per_key(
    df: DataFrame, key_cols: list[str], ts_col: str = "timestamp_micros",
    tiebreak_col: str = "event_id",
) -> DataFrame:
    """Latest-wins collapse (Q12 semantics; offset monotonicity intent
    of src/cdc/offset.py:76-83 with event_id tiebreak for reorder
    safety, SURVEY §7.3.4)."""
    w = Window.partitionBy(*key_cols).orderBy(
        F.desc(ts_col), F.desc(tiebreak_col)
    )
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def latest_rows_arrow(
    table, key_cols: list[str], ts_col: str = "timestamp_micros",
    tiebreak_col: str = "event_id",
):
    """Arrow twin of :func:`latest_per_key` for driver-sized batches:
    sort by key ascending, ``ts_col`` and ``tiebreak_col`` descending,
    and keep the first row of every key (null keys form one group, as
    in a Spark window partition). The result comes out clustered by
    key."""
    import numpy as np
    import pyarrow as pa

    ordered = table.sort_by(
        [(k, "ascending") for k in key_cols]
        + [(ts_col, "descending"), (tiebreak_col, "descending")]
    )
    first = (
        ordered.select(key_cols)
        .append_column("__i", pa.array(np.arange(ordered.num_rows)))
        .group_by(key_cols, use_threads=False)
        .aggregate([("__i", "min")])
    )
    return ordered.take(first["__i_min"])


#: schema-metadata key of an Arrow batch's session time zone (see
#: :func:`stamp_time_zone`)
_TZ_KEY = b"spark.sql.session.timeZone"


def stamp_time_zone(table, time_zone: str):
    """Record on an Arrow batch the session time zone of the Spark
    session it was collected in. HypertableSink derives ``_chunk`` in
    that zone, so the Arrow write agrees with the Spark write of the
    same batch even when the sink's own session has another zone."""
    return table.replace_schema_metadata(
        {**(table.schema.metadata or {}), _TZ_KEY: time_zone}
    )


def _write_hadoop_crc(part: Path, name: str | None = None) -> None:
    """Write the ``.<name>.crc`` sidecar Hadoop's local file system
    keeps next to every file it writes (``crc\\0``, bytes per checksum,
    then one big-endian CRC32 per 512-byte chunk). Spark verifies it on
    every read, so a pyarrow-written file gets the same corruption
    check as a Spark-written one. ``name`` is the name ``part`` will be
    renamed to, when it is written under a temporary one."""
    import struct
    import zlib

    data = part.read_bytes()
    sums = b"".join(
        struct.pack(">I", zlib.crc32(data[i:i + 512]))
        for i in range(0, len(data), 512)
    )
    (part.parent / f".{name or part.name}.crc").write_bytes(
        b"crc\0" + struct.pack(">i", 512) + sums
    )


def _write_arrow_segment(
    table, seg: Path, ts_col: str = "timestamp_micros"
) -> tuple[int, int | None]:
    """Write ``table`` as the one-file segment ``seg`` with pyarrow —
    no Spark job. The file (with its Hadoop checksum) lands in a
    directory under the hidden ``.arrow-tmp`` (outside the ``seg-*`` /
    ``*seg-*`` globs that sinks and stream consumers list) that is then
    ``os.replace``d into place, so readers see the segment whole, and a
    replay of the same batch replaces it (overwrite-by-batch-id); the
    then empty ``.arrow-tmp`` is removed unless a crashed write left
    something in it. Returns what :func:`_segment_stats` reads from
    the footers, taken from the in-memory table instead."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    tmp = seg.parent / ".arrow-tmp" / seg.name
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    part = tmp / "part-00000.parquet"
    pq.write_table(table.replace_schema_metadata(None), str(part))
    _write_hadoop_crc(part)
    shutil.rmtree(seg, ignore_errors=True)
    os.replace(tmp, seg)
    with contextlib.suppress(OSError):
        tmp.parent.rmdir()
    mx = pc.max(table[ts_col]).as_py() if ts_col in table.column_names else None
    return table.num_rows, mx


def _segment_stats(
    seg_dir: Path, ts_col: str = "timestamp_micros"
) -> tuple[int, int | None]:
    """Row count + max event timestamp straight from parquet footers —
    zero Spark jobs, the same metadata-only trick Delta/Iceberg use
    for file-level stats. Matters because per-batch driver jobs are
    the throughput ceiling of a micro-batch pipeline."""
    n = 0
    mx: int | None = None
    import pyarrow.parquet as pq

    for f in seg_dir.rglob("*.parquet"):
        md = pq.ParquetFile(str(f)).metadata
        n += md.num_rows
        if ts_col in md.schema.names:
            idx = md.schema.names.index(ts_col)
            for rg in range(md.num_row_groups):
                stats = md.row_group(rg).column(idx).statistics
                if stats is not None and stats.has_min_max:
                    mx = stats.max if mx is None else max(mx, stats.max)
    return n, mx


class UpsertSink:
    """Postgres-personality MERGE sink (O21/O22/O25), log-structured:
    write = append one delta segment per batch; read = latest-wins
    merge of base snapshot + pending deltas, DELETEs drop keys;
    compaction folds deltas into the base every ``compact_every``
    batches. Final state is identical to merge-on-write (verified by
    the pipeline tests against batch Q12 ground truth) but each batch
    costs O(batch), not O(table) — the property that matters when the
    target table is 100 TB."""

    name = "postgres"

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        key_cols: list[str],
        compact_every: int = 8,
        tombstone_grace_micros: int = 7 * 24 * 3600 * 1_000_000,
    ):
        self.spark = spark
        self.table = VersionedParquetTable(spark, os.path.join(path, "data"))
        self.delta_path = Path(path) / "delta"
        self.delta_path.mkdir(parents=True, exist_ok=True)
        # L1 tier of the size-tiered compaction ladder (see maintain())
        self.l1_path = Path(path) / "l1"
        self.l1_path.mkdir(parents=True, exist_ok=True)
        self.ledger = BatchLedger(os.path.join(path, "ledger"))
        self.key_cols = key_cols
        self.compact_every = compact_every
        #: how long DELETE tombstones survive compaction, measured in
        #: EVENT time against the ledger's monotone offset clock (no
        #: wall clock — deterministic replay). A tombstone GC'd too
        #: early lets a late out-of-order stale insert resurrect the
        #: key; this is Cassandra's gc_grace_seconds by another name.
        self.tombstone_grace_micros = tombstone_grace_micros
        # background merge thread — ReplacingMergeTree-style: the write
        # path never blocks on folding deltas into the base
        self._compact_pool = ThreadPoolExecutor(max_workers=1)
        self._compact_future = None

    # -- layout hooks overridden by HypertableSink --------------------
    def _augment(self, df: DataFrame) -> DataFrame:
        return df

    def _augment_arrow(self, table):
        return table

    partition_cols: list[str] | None = None

    def _segments(self) -> list[Path]:
        return sorted(self.delta_path.glob("seg-*"))

    def _l1_runs(self) -> list[Path]:
        return sorted(self.l1_path.glob("run-*"))

    def write_batch(self, batch, batch_id: int) -> int:
        """Append ``batch``'s latest row per key as segment
        ``batch_id``. ``batch`` is a DataFrame (Spark writes the
        segment) or a ``pyarrow.Table`` the pipeline already collected
        for a small trigger (pyarrow writes it, no Spark job)."""
        if self.ledger.is_committed(batch_id):
            return 0
        # overwrite-by-batchId → crash between write and ledger commit
        # replays into the SAME segment, never duplicating data
        seg = self.delta_path / f"seg-{batch_id:012d}"
        if not isinstance(batch, DataFrame):
            incoming = latest_rows_arrow(batch, self.key_cols)
            n, max_ts = _write_arrow_segment(self._augment_arrow(incoming), seg)
        else:
            incoming = latest_per_key(batch, self.key_cols)
            self._augment(incoming).write.mode("overwrite").parquet(str(seg))
            n, max_ts = _segment_stats(seg)
        self.ledger.commit(
            batch_id,
            {
                "destination": self.name,
                "rows": n,
                "last_event_timestamp_micros": max_ts,
            },
        )
        if len(self._segments()) >= self.compact_every and (
            self._compact_future is None or self._compact_future.done()
        ):
            self._compact_future = self._compact_pool.submit(
                _in_background_pool(self.spark, self.maintain)
            )
        return n

    def flush(self) -> None:
        """Wait for any in-flight background compaction (durability
        point for graceful shutdown, O38)."""
        if self._compact_future is not None:
            self._compact_future.result()
            self._compact_future = None

    def _merged(
        self,
        segs: list[Path] | None = None,
        runs: list[Path] | None = None,
    ) -> DataFrame | None:
        base = self.table.read()
        if segs is None:
            segs = self._segments()
        if runs is None:
            runs = self._l1_runs()
        pending = [str(r) for r in runs] + [str(s) for s in segs]
        if pending:
            # ignoreMissingFiles: a reader racing the background
            # compactor may hold a plan over segments/runs the
            # compactor just folded+removed; tolerate the vanished
            # files — every row in them is, by compaction's contract,
            # already in the tier this same plan unions in.
            deltas = (
                self.spark.read.option("ignoreMissingFiles", "true")
                .parquet(*pending)
            )
            base = deltas if base is None else base.unionByName(
                deltas.select(*base.columns)
            )
        if base is None:
            return None
        return latest_per_key(base, self.key_cols)

    def maintain(self) -> None:
        """The recurring background maintenance step — size-tiered, so
        steady-state per-trigger cost is O(recent), never O(table):

        * L0 → L1: fold the pending delta segments (one per batch)
          into a single latest-wins L1 run. Cost is proportional to
          ``compact_every`` batches of data, CONSTANT as the table
          grows.
        * L1 → base: only when ``compact_every`` L1 runs have
          accumulated (i.e. every ~compact_every² batches) does the
          full ``compact()`` rewrite the base.

        The earlier scheme folded the ENTIRE base every compact_every
        batches — O(table) recurring work, measured as a per-batch
        latency creep once replays ran past ~50 batches (every
        compaction rewrote all accumulated data while the foreground
        batch shared the same cores; at 100 TB the scheme would be
        unrunnable). Tombstone grace-GC happens only in the base fold,
        where the ledger clock is consulted; L1 runs preserve
        tombstones unconditionally. Crash-safe the same way the write
        path is: the run name derives from the last folded segment, a
        re-fold overwrites the same run, and latest-wins makes any
        overlap between a leftover run and its refold a no-op."""
        segs = self._segments()
        if segs:
            folded = latest_per_key(
                self.spark.read.option("ignoreMissingFiles", "true")
                .parquet(*[str(s) for s in segs]),
                self.key_cols,
            ).sortWithinPartitions(*self.key_cols)
            run = self.l1_path / f"run-{segs[-1].name[4:]}"
            folded.write.mode("overwrite").parquet(str(run))
            for s in segs:
                shutil.rmtree(s, ignore_errors=True)
        if len(self._l1_runs()) >= self.compact_every:
            self.compact()

    def compact(self) -> None:
        """Fold pending delta segments into the base snapshot (the
        ReplacingMergeTree background merge). Folds exactly the
        segments captured at entry — batches appended concurrently
        stay in the delta log for the next merge. Idempotent: a crash
        after the snapshot pointer swap but before segment removal
        re-merges the same rows to the same state (latest-wins is a
        fixed point).

        DELETE tombstones SURVIVE compaction: dropping them here would
        let a late out-of-order event older than the delete win
        latest_per_key against nothing and resurrect the key. They are
        GC'd only once older than ``tombstone_grace_micros`` against
        the ledger's monotone event clock, and filtered in read()."""
        segs = self._segments()
        runs = self._l1_runs()
        merged = self._merged(segs, runs)
        if merged is None:
            return
        keep = merged
        clock = self.ledger.max_timestamp_micros
        if clock is not None and self.tombstone_grace_micros is not None:
            cutoff = clock - self.tombstone_grace_micros
            keep = merged.filter(
                (F.col("event_type") != "DELETE")
                | (F.col("timestamp_micros") >= F.lit(cutoff))
            )
        # cluster the base by key: parquet row-group min/max stats then
        # partition the keyspace into disjoint ranges, so a point/range
        # read of the 100 TB base skips every non-matching row group —
        # the CLUSTER BY/Z-order-lite every warehouse applies at merge
        # time. Cost: a sort of data this merge rewrites anyway.
        keep = keep.sortWithinPartitions(*self.key_cols)
        self.table.write(keep, partition_by=self.partition_cols)
        for s in [*segs, *runs]:
            shutil.rmtree(s, ignore_errors=True)

    def read(self) -> DataFrame | None:
        merged = self._merged()
        if merged is None:
            return None
        return merged.filter(F.col("event_type") != "DELETE")


class AppendSink:
    """ClickHouse-personality append sink (O23/O26): raw append log +
    ReplacingMergeTree-equivalent dedup on read."""

    name = "clickhouse"

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        key_cols: list[str],
        delete_policy: str = "skip",  # skip = reference parity | tombstone
        optimize_every: int | None = 64,
        keep_segments_for_streams: bool = False,
    ):
        if delete_policy not in ("skip", "tombstone"):
            raise ValueError(
                f"delete_policy must be 'skip' or 'tombstone', not {delete_policy!r}"
            )
        self.spark = spark
        self.path = Path(path)
        self.data_path = self.path / "log"
        self.data_path.mkdir(parents=True, exist_ok=True)
        self.ledger = BatchLedger(os.path.join(path, "ledger"))
        self.key_cols = key_cols
        self.delete_policy = delete_policy
        #: background small-file consolidation cadence: when the live
        #: log reaches this many entries, an optimize() runs off the
        #: write path (same single-thread model as UpsertSink's
        #: compactor). None disables — callers then run optimize()
        #: from their own maintenance schedule.
        self.optimize_every = optimize_every
        #: when True, optimize() SHADOWS per-batch segments instead of
        #: deleting them, so as_stream() consumers (which tail seg-*
        #: only) never lose an unread segment to consolidation; the
        #: shadowed originals are reclaimed by vacuum()'s retention
        #: horizon. Batch readers are unaffected either way (shadowing
        #: already hides covered originals from _log_entries).
        self.keep_segments_for_streams = keep_segments_for_streams
        self._optimize_pool = ThreadPoolExecutor(max_workers=1)
        self._optimize_future = None
        #: serializes log-restructuring operations (optimize/vacuum):
        #: optimize is auto-submitted to a background thread from
        #: write_batch, so an unsynchronized foreground vacuum could
        #: rmtree an entry that optimize holds in its snapshot
        self._log_lock = threading.Lock()

    def write_batch(self, batch, batch_id: int) -> int:
        """Append ``batch`` as log segment ``batch_id``. ``batch`` is a
        DataFrame (Spark writes the segment) or a ``pyarrow.Table``
        (pyarrow writes it, no Spark job); see UpsertSink.write_batch.
        Either way every row carries ``_batch_id`` as a long."""
        if self.ledger.is_committed(batch_id):
            return 0
        # per-batch segment dir + overwrite = idempotent under replay
        seg = self.data_path / f"seg-{batch_id:012d}"
        # append personality stores EVERY row. Under the skip policy
        # DELETEs are dropped (reference parity, clickhouse.py:109-116 —
        # a documented divergence source); under tombstone they resolve
        # in the dedup view.
        if not isinstance(batch, DataFrame):
            import pyarrow as pa
            import pyarrow.compute as pc
            from pyspark.sql.pandas.types import from_arrow_schema

            out = batch
            if self.delete_policy == "skip":
                out = out.filter(pc.not_equal(out["event_type"], "DELETE"))
            out = out.append_column(
                "_batch_id", pa.repeat(pa.scalar(batch_id, pa.int64()), out.num_rows)
            )
            n, max_ts = _write_arrow_segment(out, seg)
            self._persist_schema(from_arrow_schema(out.schema))
        else:
            out = batch
            if self.delete_policy == "skip":
                out = out.filter(F.col("event_type") != "DELETE")
            out = out.withColumn("_batch_id", F.lit(batch_id).cast("long"))
            out.write.mode("overwrite").parquet(str(seg))
            self._persist_schema(out.schema)
            n, max_ts = _segment_stats(seg)
        self.ledger.commit(
            batch_id,
            {
                "destination": self.name,
                "rows": n,
                "last_event_timestamp_micros": max_ts,
            },
        )
        if (
            self.optimize_every is not None
            and len(self._log_entries()) >= self.optimize_every
            and (self._optimize_future is None or self._optimize_future.done())
        ):
            self._optimize_future = self._optimize_pool.submit(
                _in_background_pool(
                    self.spark, lambda: self.optimize(batch_id, 2)
                )
            )
        return n

    def flush(self) -> None:
        """Wait for any in-flight background consolidation (durability
        point for graceful shutdown, O38 — same contract as
        UpsertSink.flush)."""
        if self._optimize_future is not None:
            self._optimize_future.result()
            self._optimize_future = None

    def _persist_schema(self, schema) -> None:
        """Record the FULL projected batch schema once (first write),
        so an empty log reads back with the same columns AND types a
        populated one would — a consumer selecting a payload column
        works before batch 1, and non-string keys keep their type.
        Nullability is normalized to parquet-read semantics (all
        nullable) so empty and populated reads have EQUAL schemas."""
        sidecar = self.path / "_schema.json"
        if sidecar.exists():
            return
        from pyspark.sql.types import ArrayType, MapType, StructField, StructType

        def nullable(dt):
            if isinstance(dt, StructType):
                return StructType(
                    [StructField(f.name, nullable(f.dataType), True) for f in dt]
                )
            if isinstance(dt, ArrayType):
                return ArrayType(nullable(dt.elementType), True)
            if isinstance(dt, MapType):
                return MapType(dt.keyType, nullable(dt.valueType), True)
            return dt

        tmp = self.path / "._schema.json.tmp"
        tmp.write_text(nullable(schema).json())
        os.replace(tmp, sidecar)

    def _log_entries(self) -> list[tuple[int, int, Path]]:
        """Live log entries as (lo_batch, hi_batch, dir), SHADOWING
        applied: a consolidated ``cseg-lo-hi`` dir (written by
        :meth:`optimize`) supersedes every per-batch ``seg-X`` dir and
        narrower cseg whose range it fully covers. Readers therefore
        never double-count during optimize's crash window (consolidated
        dir landed, originals not yet removed) — the originals are
        simply ignored."""
        entries: list[tuple[int, int, Path]] = []
        for p in sorted(self.data_path.iterdir()):
            name = p.name
            if name.startswith("cseg-"):
                lo_s, hi_s = name[len("cseg-"):].split("-")
                entries.append((int(lo_s), int(hi_s), p))
            elif name.startswith("seg-"):
                b = int(name.split("-")[1])
                entries.append((b, b, p))
        # widest ranges win; protocol never creates partial overlaps
        entries.sort(key=lambda e: (-(e[1] - e[0]), e[0]))
        live: list[tuple[int, int, Path]] = []
        for lo, hi, p in entries:
            if any(klo <= lo and hi <= khi for klo, khi, _ in live):
                continue
            live.append((lo, hi, p))
        live.sort(key=lambda e: e[0])
        return live

    def _log_schema(self):
        """The persisted first-write schema with ``_batch_id`` as long,
        or None before the first write. Logs written before
        ``_batch_id`` had one declared type recorded it as int (and
        store int in their early segments); every read pins this
        schema, so old int and new long segments read back together as
        long, and optimize folds them into long consolidations."""
        sidecar = self.path / "_schema.json"
        if not sidecar.exists():
            return None
        from pyspark.sql.types import LongType, StructField, StructType

        schema = StructType.fromJson(json.loads(sidecar.read_text()))
        return StructType(
            [
                StructField(f.name, LongType(), True) if f.name == "_batch_id" else f
                for f in schema
            ]
        )

    def _read_log(self, entries) -> DataFrame:
        """Scan of the given log entries under the pinned
        :meth:`_log_schema` (inferred from the footers only if the
        first write's sidecar is missing)."""
        reader = self.spark.read.option("ignoreMissingFiles", "true")
        schema = self._log_schema()
        if schema is not None:
            reader = reader.schema(schema)
        return reader.parquet(*[str(p) for _, _, p in entries])

    def _empty_frame(self) -> DataFrame:
        """Empty log with the persisted first-write schema (or the
        minimal dedup-view columns before any write)."""
        schema = self._log_schema()
        if schema is not None:
            return self.spark.createDataFrame([], schema)
        fields = ", ".join(
            [f"`{k}` string" for k in self.key_cols]
            + ["event_id string", "event_type string",
               "timestamp_micros long", "_batch_id long"]
        )
        return self.spark.createDataFrame([], fields)

    def read_raw(self) -> DataFrame:
        entries = self._log_entries()
        if not entries:
            return self._empty_frame()
        return self._read_log(entries)

    def optimize(self, upto_batch: int | None = None, min_segments: int = 4) -> int:
        """Small-file consolidation (Delta OPTIMIZE / ClickHouse merge
        analogue): fold every live log entry with hi <= ``upto_batch``
        (default: all) into ONE ``cseg-lo-hi`` directory. Without this
        a week of 1 s triggers is ~600k segment dirs and file listing
        dominates every read; after it the file count is bounded by
        the optimize cadence.

        Crash-safe by SHADOWING, no manifest: (1) write the
        consolidated rows to a dot-tmp dir (invisible to readers),
        (2) atomically rename it to ``cseg-lo-hi`` — from this instant
        readers prefer it and ignore the covered originals
        (:meth:`_log_entries`), (3) remove the originals. A crash
        between (2) and (3) leaves harmless shadowed dirs that the
        next optimize sweeps. Rows keep their ``_batch_id``, so
        read_asof/changes_between stay EXACT inside a consolidated
        range via row-level _batch_id filters on top of the file-level
        range pruning. Returns the number of entries folded.

        Concurrency caveat: a reader holding an ALREADY-PLANNED scan
        over the original dirs while step (3) removes them sees those
        rows vanish (ignoreMissingFiles) without its plan knowing
        about the consolidation — run optimize from the maintenance
        path (like UpsertSink's compact), not concurrently with
        in-flight batch reads; plans built AFTER step (2) are always
        complete."""
        with self._log_lock:
            return self._optimize_locked(upto_batch, min_segments)

    @staticmethod
    def _entry_range(name: str) -> tuple[int, int] | None:
        """(lo, hi) batch range encoded in a seg-/cseg- dir name, or
        None for anything else (tmp dirs, stray files)."""
        try:
            if name.startswith("cseg-"):
                lo_s, hi_s = name[len("cseg-"):].split("-")
                return int(lo_s), int(hi_s)
            if name.startswith("seg-"):
                b = int(name.split("-")[1])
                return b, b
        except ValueError:
            return None
        return None

    def _sweep_shadowed(self, entries, keep_originals: bool) -> None:
        """Remove crash-leftover shadowed dirs. A candidate is deleted
        ONLY if a DIFFERENT live entry provably covers its (lo, hi)
        range — proof derived from the candidate's own name, never from
        'not in the snapshot'. A seg-X created concurrently by
        write_batch (optimize runs on a background thread) is covered
        by nothing and survives regardless of listing races — the
        snapshot-membership version of this sweep silently deleted
        freshly committed batches."""
        if keep_originals:
            return
        for p in self.data_path.iterdir():
            rng = self._entry_range(p.name)
            if rng is None:
                continue
            lo, hi = rng
            if any(
                kp != p and klo <= lo and hi <= khi
                for klo, khi, kp in entries
            ):
                shutil.rmtree(p, ignore_errors=True)

    def _optimize_locked(self, upto_batch, min_segments) -> int:
        entries = self._log_entries()
        # sweep shadowed garbage first (crash leftovers from a previous
        # optimize: originals whose consolidation already landed) —
        # invisible to batch readers; kept when streams tail seg-*
        self._sweep_shadowed(entries, self.keep_segments_for_streams)
        if upto_batch is not None:
            entries = [e for e in entries if e[1] <= upto_batch]
        if len(entries) < min_segments:
            return 0
        lo = min(e[0] for e in entries)
        hi = max(e[1] for e in entries)
        final = self.data_path / f"cseg-{lo:012d}-{hi:012d}"
        if len(entries) == 1 and entries[0][2] == final:
            # already one consolidation covering the range — nothing to
            # fold (a rewrite would only churn bytes)
            return 0
        df = self._read_log(entries)
        tmp = self.data_path / f".tmp-cseg-{lo:012d}-{hi:012d}"
        shutil.rmtree(tmp, ignore_errors=True)
        df.write.mode("overwrite").parquet(str(tmp))
        shutil.rmtree(final, ignore_errors=True)
        os.replace(tmp, final)
        if not self.keep_segments_for_streams:
            for _, _, p in entries:
                if p != final:
                    shutil.rmtree(p, ignore_errors=True)
        return len(entries)

    def read(self) -> DataFrame:
        """Deduplicated view = ReplacingMergeTree final state (O23):
        latest row per key; under the tombstone policy a trailing
        DELETE removes the key."""
        deduped = latest_per_key(self.read_raw(), self.key_cols)
        if self.delete_policy == "tombstone":
            deduped = deduped.filter(F.col("event_type") != "DELETE")
        return deduped

    def read_raw_asof(self, batch_id: int) -> DataFrame:
        """Append log restricted to batches <= ``batch_id``. Pruning is
        file-list level — segments are named by batch id, so an AS OF
        read PLANS only the needed segment directories (asserted via
        inputFiles in tests/test_time_travel.py); no filter runs over
        newer data. This is the snapshot-isolation primitive Delta/
        Iceberg call time travel; it falls out of the log-structured
        layout for free. A consolidated ``cseg`` range straddling the
        cutoff is included file-level and restricted ROW-level on its
        retained ``_batch_id`` column — still exact, still skipping
        every wholly-newer entry."""
        entries = [e for e in self._log_entries() if e[0] <= batch_id]
        if not entries:
            # same empty-schema contract as read_raw
            return self.read_raw().limit(0)
        df = self._read_log(entries)
        if any(hi > batch_id for _, hi, _ in entries):
            df = df.filter(F.col("_batch_id") <= batch_id)
        return df

    def vacuum(self, retain_after_batch: int) -> int:
        """Retention: drop every live log entry whose rows are ENTIRELY
        at or below ``retain_after_batch`` (hi <= cutoff). Bounds disk
        for an infinite stream at the cost of bounding HISTORY — after
        vacuum, read_asof/changes_between below the cutoff see only the
        retained suffix, exactly Delta's VACUUM-vs-time-travel
        trade-off (and ClickHouse part TTL). The current dedup view is
        NOT generally preserved: a key whose latest row sits below the
        cutoff disappears — run :meth:`optimize` to fold history into
        one consolidation and keep the cutoff below it, or snapshot
        via read_asof before vacuuming. Entries straddling the cutoff
        are kept whole (file granularity). Under
        ``keep_segments_for_streams`` this is also the retention
        horizon that reclaims optimize-shadowed originals. Serialized
        with optimize() on ``_log_lock`` so a background consolidation
        can never hold a vacuumed dir in its snapshot. Returns entries
        removed (live entries only; reclaimed shadowed dirs don't
        count — they held no unique rows)."""
        with self._log_lock:
            live = self._log_entries()
            live_paths = {p for _, _, p in live}
            removed = 0
            for p in sorted(self.data_path.iterdir()):
                rng = self._entry_range(p.name)
                if rng is None:
                    continue
                if rng[1] <= retain_after_batch:
                    shutil.rmtree(p, ignore_errors=True)
                    if p in live_paths:
                        removed += 1
            return removed

    def as_stream(
        self, spark: SparkSession | None = None, history: str | None = None
    ) -> DataFrame:
        """The sink as a SOURCE: a readStream over the append log's
        segment files, so a downstream pipeline (silver/gold layer,
        incremental aggregate, index maintenance) tails this table
        exactly as the pipeline tailed the commitlog — the multi-hop
        (medallion) composition. The file source's checkpoint tracks
        which segment files each consumer has seen, so every consumer
        resumes independently. Atomicity granularity: each parquet part
        FILE appears atomically (task-commit rename), so a consumer
        never sees torn rows; a multi-file segment, however, can
        surface across consecutive triggers — consumers needing
        whole-batch alignment should read ledger-committed batch ids
        via :meth:`changes_between` instead. Schema comes from the
        first-write sidecar — available before any consumer starts.

        ``history`` (default None → resolved from the sink's retention
        mode, so the DEFAULT is always loss-free):

        * ``"segments"`` (the default when
          ``keep_segments_for_streams=True``) — tail per-batch
          ``seg-*`` dirs only. Consolidations (``cseg-*``) are never
          delivered, so an optimize() does NOT replay the folded
          history into running consumers (with ``"all"`` the file
          source re-ingests the whole consolidated prefix after every
          optimize — O(n²) delivered rows at the default cadence, and
          incremental aggregates silently double-count). SAFE only
          because that retention mode shadows originals instead of
          deleting them (vacuum is the horizon); on a deleting sink an
          explicit ``history="segments"`` can silently skip segments
          an optimize reclaimed before the consumer read them. A
          consumer starting after segments were reclaimed bootstraps
          from :meth:`read_asof` + :meth:`changes_between` instead
          (snapshot + tail).
        * ``"all"`` (the default when segments are deleted on
          optimize) — tail ``seg-*`` and ``cseg-*``. Nothing is ever
          lost and a late starter sees full history, at the cost of
          re-receiving ALL consolidated rows after an optimize —
          consumers must dedupe by event_id (latest_per_key /
          dropDuplicates), the at-least-once contract."""
        spark = spark or self.spark
        if history is None:
            history = "segments" if self.keep_segments_for_streams else "all"
        if history not in ("segments", "all"):
            raise ValueError(f"history must be 'segments' or 'all', got {history!r}")
        schema = self._log_schema()
        if schema is None:
            raise ValueError(
                "as_stream needs at least one committed batch (the "
                "_schema.json sidecar) to pin the source schema"
            )
        glob = "seg-*" if history == "segments" else "*seg-*"
        return (
            spark.readStream.schema(schema)
            .option("ignoreMissingFiles", "true")
            .parquet(str(self.data_path / glob))
        )

    def changes_between(self, after_batch: int, upto_batch: int) -> DataFrame:
        """Change-data-feed read: the raw change rows committed in
        batches (after_batch, upto_batch] — what a downstream consumer
        replays to incrementally catch up from one snapshot to another
        (the Delta CDF / ClickHouse parts-in-range pattern). Planned by
        file-level segment pruning like read_asof: only the requested
        range's segment directories enter the scan. Rows keep their
        event_type (INSERT/UPDATE/DELETE-tombstone) and ``_batch_id``
        so the consumer can apply them in commit order; under the
        ``skip`` delete policy DELETEs were never logged (reference
        parity) and the feed cannot carry them. Consolidated ranges
        overlapping the window are included file-level and restricted
        row-level on ``_batch_id`` — exact at any consolidation state."""
        entries = [
            e
            for e in self._log_entries()
            if e[1] > after_batch and e[0] <= upto_batch
        ]
        if not entries:
            return self.read_raw().limit(0)
        df = self._read_log(entries)
        if any(lo <= after_batch or hi > upto_batch for lo, hi, _ in entries):
            df = df.filter(
                (F.col("_batch_id") > after_batch)
                & (F.col("_batch_id") <= upto_batch)
            )
        return df

    def read_asof(self, batch_id: int) -> DataFrame:
        """Table state AS OF the given committed batch (time travel):
        the dedup view over the log prefix. Equals what ``read()``
        returned right after ``batch_id`` committed — the reproducible-
        training-snapshot / audit read every warehouse needs. The
        upsert personality intentionally cannot offer this (compaction
        folds history away, trading time travel for O(batch) merges);
        the append log retains it, exactly like ClickHouse/Iceberg
        keep parts until retention expires."""
        deduped = latest_per_key(self.read_raw_asof(batch_id), self.key_cols)
        if self.delete_policy == "tombstone":
            deduped = deduped.filter(F.col("event_type") != "DELETE")
        return deduped


class AggregateSink:
    """AggregatingMergeTree personality: maintain per-key aggregates
    incrementally from an append stream. Each micro-batch is partially
    aggregated (one batch-sized shuffle) and appended as a segment of
    per-key PARTIAL states; reads merge base + segments by re-applying
    the merge function per key; compaction folds segments into the
    base. Works because every supported aggregate (sum, count, min,
    max — avg derives as sum/count at read) is commutative and
    associative, so partial states merge in any grouping/order — the
    same algebra ClickHouse's AggregatingMergeTree and Spark's own
    ObjectHashAggregate partial/final split rely on. The sibling of
    AppendSink's ReplacingMergeTree (latest-wins) read view: that one
    keeps one row per key, this one keeps a running fold per key.

    Why it matters at 100 TB: the naive alternative recomputes
    groupBy(all history) every trigger — O(table) per batch. Here a
    batch costs O(batch) and the stored state is one row per key, so
    a year of events folds into a table the size of the key space.

    Exactly-once composes the same way as UpsertSink: ledger skip on
    replayed batchIds + overwrite-by-batchId segments + an idempotent
    merge (re-merging the same segment twice is prevented by the
    ledger, and a crash between segment write and ledger commit
    rewrites the same segment)."""

    name = "clickhouse_agg"

    #: merge functions per spec kind: how two partial states combine
    _MERGE = {"sum": F.sum, "count": F.sum, "min": F.min, "max": F.max}

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        key_cols: list[str],
        specs: dict[str, tuple[str, str]],
        compact_every: int = 8,
    ):
        """``specs`` maps output column -> (input column, kind) with
        kind in {sum, count, min, max}; count ignores its input."""
        bad = {k for _, (_, k) in specs.items() if k not in self._MERGE}
        if bad:
            raise ValueError(f"unsupported aggregate kinds: {sorted(bad)}")
        self.spark = spark
        self.table = VersionedParquetTable(spark, os.path.join(path, "data"))
        self.delta_path = Path(path) / "delta"
        self.delta_path.mkdir(parents=True, exist_ok=True)
        self.ledger = BatchLedger(os.path.join(path, "ledger"))
        self.key_cols = key_cols
        self.specs = specs
        self.compact_every = compact_every
        self._compact_pool = ThreadPoolExecutor(max_workers=1)
        self._compact_future = None

    def _segments(self) -> list[Path]:
        return sorted(self.delta_path.glob("seg-*"))

    def _partial(self, batch: DataFrame) -> DataFrame:
        """Fold one batch into per-key partial states. count becomes a
        LONG sum-mergeable column; min/max/sum keep their input type."""
        aggs = []
        for out, (col, kind) in self.specs.items():
            if kind == "count":
                aggs.append(F.count(F.lit(1)).cast("long").alias(out))
            else:
                aggs.append(getattr(F, kind)(col).alias(out))
        if "timestamp_micros" in batch.columns:
            # carried for ledger stats / replication lag, max-mergeable
            aggs.append(F.max("timestamp_micros").alias("timestamp_micros"))
        return batch.groupBy(*self.key_cols).agg(*aggs)

    def _merge(self, states: DataFrame) -> DataFrame:
        aggs = [
            self._MERGE[kind](out).alias(out)
            for out, (_, kind) in self.specs.items()
        ]
        if "timestamp_micros" in states.columns:
            aggs.append(F.max("timestamp_micros").alias("timestamp_micros"))
        return states.groupBy(*self.key_cols).agg(*aggs)

    def write_batch(self, batch: DataFrame, batch_id: int) -> int:
        if self.ledger.is_committed(batch_id):
            return 0
        seg = self.delta_path / f"seg-{batch_id:012d}"
        self._partial(batch).write.mode("overwrite").parquet(str(seg))
        n, max_ts = _segment_stats(seg)
        self.ledger.commit(
            batch_id,
            {
                "destination": self.name,
                "rows": n,
                "last_event_timestamp_micros": max_ts,
            },
        )
        if len(self._segments()) >= self.compact_every and (
            self._compact_future is None or self._compact_future.done()
        ):
            self._compact_future = self._compact_pool.submit(
                _in_background_pool(self.spark, self.compact)
            )
        return n

    def flush(self) -> None:
        if self._compact_future is not None:
            self._compact_future.result()
            self._compact_future = None

    def _merged(self, segs: list[Path] | None = None) -> DataFrame | None:
        base = self.table.read()
        if segs is None:
            segs = self._segments()
        if segs:
            deltas = (
                self.spark.read.option("ignoreMissingFiles", "true")
                .parquet(*[str(s) for s in segs])
            )
            base = deltas if base is None else base.unionByName(
                deltas.select(*base.columns)
            )
        if base is None:
            return None
        return self._merge(base)

    def compact(self) -> None:
        segs = self._segments()
        merged = self._merged(segs)
        if merged is None:
            return
        self.table.write(merged)
        for s in segs:
            shutil.rmtree(s, ignore_errors=True)

    def read(self) -> DataFrame | None:
        return self._merged()


class HypertableSink(UpsertSink):
    """TimescaleDB personality (O24): upsert + time-partitioned layout.
    partitionBy(time_bucket) on the compacted base is the hypertable
    chunking property; delta segments carry the chunk column so base
    and deltas stay union-compatible."""

    name = "timescaledb"

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        key_cols: list[str],
        time_col: str = "timestamp_micros",
        compact_every: int = 8,
    ):
        super().__init__(spark, path, key_cols, compact_every=compact_every)
        self.time_col = time_col

    partition_cols = ["_chunk"]

    def _augment(self, df: DataFrame) -> DataFrame:
        return df.withColumn(
            "_chunk", F.to_date(F.timestamp_micros(F.col(self.time_col)))
        )

    def _augment_arrow(self, table):
        """``_chunk`` exactly as :meth:`_augment` derives it: the date of
        the event instant in the session time zone — the one
        :func:`stamp_time_zone` recorded on the table (the pipeline
        stamps its batch's session), else this sink's session. The zone
        must be one Arrow's tz database can locate (a region id such as
        ``America/Los_Angeles``); the pipeline only sends Arrow tables
        when it is (``arrow_timezone_ok``)."""
        import pyarrow as pa

        tz = (table.schema.metadata or {}).get(_TZ_KEY)
        tz = tz.decode() if tz else self.spark.conf.get("spark.sql.session.timeZone")
        local = table[self.time_col].cast(pa.timestamp("us", tz="UTC")).cast(
            pa.timestamp("us", tz=tz)
        )
        # a plain data column on the segment: only the compacted base
        # is partitioned by it (compact's partition_by)
        return table.append_column("_chunk", local.cast(pa.date32()))


@functools.lru_cache(maxsize=32)
def arrow_timezone_ok(tz: str) -> bool:
    """True when Arrow can derive dates in session time zone ``tz``.
    Spark also accepts offsets and short ids (``+05:30``, ``PST``) that
    Arrow's tz database cannot locate."""
    import pyarrow as pa

    try:
        pa.array([0], pa.timestamp("us", tz=tz)).cast(pa.date32())
    except pa.ArrowInvalid:
        return False
    return True


def replication_lag_seconds(ledger: BatchLedger, now_micros: int) -> float:
    """O33: now - last committed event timestamp, floored at 0
    (src/cdc/offset.py:271-290)."""
    batches = ledger.committed_batches()
    if not batches:
        return 0.0
    last = max(b.get("last_event_timestamp_micros") or 0 for b in batches)
    return max((now_micros - last) / 1e6, 0.0)
