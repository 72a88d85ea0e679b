"""SparkSession factory with scale-oriented defaults.

Defaults are chosen for the 100 TB posture (AQE on, skew-join
handling, partition coalescing, Arrow for the few pandas_udf paths)
while staying correct on local[N] test runs.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: Session-level (runtime-settable) SQL confs.
SESSION_CONFS: dict[str, str] = {
    # AQE: runtime re-planning — broadcast conversion, skew-join
    # splitting, post-shuffle partition coalescing. Essential at scale.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow batches for pandas_udf / toPandas (10-100x over pickling).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Deterministic wall-clock semantics regardless of host TZ.
    "spark.sql.session.timeZone": "UTC",
    # The driver testdata's events.parquet stores TIMESTAMP(NANOS)
    # which Spark's parquet reader rejects; read as long (ns) and
    # convert in sources.tables.load_table.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.parquet.filterPushdown": "true",
    # RocksDB-backed streaming state: stateful operators (dedup within
    # watermark, session windows, applyInPandasWithState, stream-stream
    # joins) keep state off the JVM heap and spill to local SSTs — at
    # 100 TB the HDFS-backed in-memory default OOMs long before the
    # keyspace does. Bundled with Spark (rocksdbjni), verified working
    # in this container; per-query checkpoints pick it up at start.
    "spark.sql.streaming.stateStore.providerClass": (
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider"
    ),
    # Scrub HMAC key pads (64-byte binary literals, printed as 128 hex
    # digits) from every stringified plan — explain(), the UI SQL tab,
    # and the physicalPlanDescription in event logs. Structural on
    # purpose: a regex containing the pad bytes would itself leak via
    # the event log's modifiedConfigs dump. See
    # functions/masking.py:_PAD_REDACTION_PATTERN for the threat model.
    "spark.sql.redaction.string.regex": "(?i)0x[0-9A-F]{128}",
}


def default_parallelism() -> int:
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if cpus:
        return int(cpus)
    return os.cpu_count() or 8


#: Hadoop-level output-committer tuning for the micro-batch write path
#: (r10 interleaved A/B, tools-level, calibration-stable: batch median
#: 0.56 vs 0.64 s — ~12% — with worst-batch no worse):
#: * no _SUCCESS markers — one file create per write job removed; the
#:   sinks' commit signal is the BatchLedger entry (and the versioned
#:   table's pointer swap), never _SUCCESS (grep-clean by test).
#: * committer algorithm v2 — task outputs rename directly to the
#:   destination, skipping the per-file job-commit rename pass. Safe
#:   for every engine write: sink segments are overwrite-by-batchId
#:   (a failed job's partial output is wholly replaced on replay, and
#:   invisible to readers until the ledger commits); snapshot writes
#:   hide behind the atomic pointer swap. Caveat documented: DLQ
#:   appends could duplicate rows if a multi-task DLQ job dies mid-
#:   commit and replays — DLQ rows carry event_id for exactly that.
HADOOP_CONFS: dict[str, str] = {
    "mapreduce.fileoutputcommitter.marksuccessfuljobs": "false",
    "mapreduce.fileoutputcommitter.algorithm.version": "2",
}


def get_spark(
    app_name: str = "hybrid-cdc-demo-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    ``shuffle_partitions`` defaults to the local core count; on a real
    cluster you would size it so post-shuffle partitions land in the
    100-200 MB range (or simply let AQE coalesce from a higher value).
    """
    if master is None:
        master = os.environ.get("SPARK_GRAFT_MASTER", f"local[{default_parallelism()}]")
    builder = SparkSession.builder.appName(app_name).master(master)
    # In local mode the driver heap IS the executor heap, and Spark's
    # default is 1g — for a local[32] engine that is 32 MB/thread,
    # QUARTER of the spill audit's deliberately-starved budget. The
    # r10 SLO forensics traced intermittent 1.3 s micro-batches on a
    # quiet host with calm read+write probes to exactly this: GC
    # pauses on a heap ~8x too small for the thread count. Default to
    # 8g (64 GB box leaves plenty; override via SPARK_GRAFT_DRIVER_MEM
    # for constrained hosts). Static conf — only effective when this
    # builder launches the JVM; foreign sessions keep their own.
    builder = builder.config(
        "spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g")
    )
    builder = builder.config(
        "spark.sql.shuffle.partitions", str(shuffle_partitions or default_parallelism())
    )
    # FAIR scheduler with a deprioritized "background" pool: sink
    # maintenance (LSM compaction / optimize) submits its jobs there so
    # a background merge never steals task slots from an in-flight
    # micro-batch (the p99 replication-lag path). Static conf — only
    # takes effect on sessions built here; on a foreign FIFO session
    # the pool local-property is inert and everything still runs.
    alloc = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "resources", "fairscheduler.xml"
    )
    if os.path.exists(alloc):
        builder = builder.config("spark.scheduler.mode", "FAIR")
        builder = builder.config("spark.scheduler.allocation.file", alloc)
    for k, v in SESSION_CONFS.items():
        builder = builder.config(k, v)
    for k, v in HADOOP_CONFS.items():
        builder = builder.config(f"spark.hadoop.{k}", v)
    builder = builder.config("spark.ui.enabled", "false")
    # With the UI off, retained SQL executions (plan strings + metrics)
    # serve no reader and only hold driver heap. At the default 1,000 a
    # streaming driver running 3-6 executions per trigger keeps growing
    # its heap for hundreds of triggers before the store plateaus
    # (tests/test_soak.py: JVM RSS still +281 MB over its last
    # samples); at 100 it is flat from about trigger 100. Static conf.
    builder = builder.config("spark.sql.ui.retainedExecutions", "100")
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    configure_session(spark)
    return spark


def configure_session(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable engine confs to an existing session.

    Used when the caller (e.g. the verification driver) owns the
    SparkSession: every conf in SESSION_CONFS is runtime-settable, so
    we can adopt a foreign session instead of building our own.
    """
    for k, v in SESSION_CONFS.items():
        try:
            if k == "spark.sql.redaction.string.regex":
                # merge, don't clobber: a foreign session may carry its
                # own redaction pattern — ours is additive
                cur = spark.conf.get(k, None)
                if cur and v not in cur:
                    v = f"(?:{cur})|(?:{v})"
            spark.conf.set(k, v)
        except Exception:  # pragma: no cover - static conf on some builds
            pass
    try:
        hc = spark.sparkContext._jsc.hadoopConfiguration()
        for k, v in HADOOP_CONFS.items():
            hc.set(k, v)
    except Exception:  # pragma: no cover - connect-mode sessions
        pass
    return spark
