#!/usr/bin/env python
"""Measure CDCPipeline's Arrow fan-out against its Spark fan-out, the
comparison behind ``pipeline._ARROW_FANOUT_MAX_ROWS``.

Crossover mode (default): for each trigger size, one envelope file of
that many events feeds two fresh pipelines: one forced onto the Arrow
fan-out, one onto the Spark fan-out (the same batch, read from the
file on every call as the streaming source does); both size their
shuffle partitions as if the previous batch had the same size.

Surge mode (``--surge``): each trigger size is a surge arriving right
after a 2,000-row batch, so the Arrow gate is open. One pipeline keeps
the shipped cap: its collect stops at cap + 1 rows and the surge then
takes the Spark fan-out, recomputing the batch. The other has the gate
closed and goes to the Spark fan-out at once. The difference is what
the aborted collect costs.

After one warm-up call each, the two sides run in interleaved pairs;
the figure per side is the median ``process_batch`` wall time. Each
size gets fresh sink directories, so no background compaction runs
during a measurement.

Usage:
    python tools/arrow_crossover.py [--surge] [size ...]
Env:
    CROSSOVER_REPS   interleaved pairs per size (default 6)
    SPARK_GRAFT_CPUS local cores (default: all)
Prints one JSON line per size and a final summary line.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SIZES = [2_000, 10_000, 25_000, 50_000, 100_000, 200_000]
SURGE_SIZES = [60_000, 100_000, 200_000]
#: previous-batch size before a surge: small, so the Arrow gate is open
SURGE_AFTER = 2_000


def _pipeline(spark, src: str, tgt: str):
    from hybrid_cdc_demo_spark.schema.evolution import SchemaRegistry, TableSchema
    from hybrid_cdc_demo_spark.streaming.pipeline import CDCPipeline, PipelineConfig

    reg = SchemaRegistry()
    reg.register(
        TableSchema(
            "ecommerce",
            "users",
            {"user_id": "uuid", "email": "text", "phone": "text",
             "first_name": "text", "last_name": "text", "age": "int",
             "city": "text", "created_at": "timestamp"},
            ["user_id"],
        )
    )
    return CDCPipeline(spark, PipelineConfig(source_dir=src, target_dir=tgt), reg)


def measure(spark, work: str, n: int, reps: int, surge: bool) -> dict:
    import hybrid_cdc_demo_spark.streaming.pipeline as P
    from hybrid_cdc_demo_spark.sources.cdc import (
        generate_change_events,
        read_envelope_batch,
    )

    shipped = P._ARROW_FANOUT_MAX_ROWS
    # side → (Arrow cap while it runs, previous batch rows)
    if surge:
        sides = {"gated": (shipped, SURGE_AFTER), "spark": (0, SURGE_AFTER)}
    else:
        sides = {"arrow": (10**9, n), "spark": (0, n)}
    src = os.path.join(work, f"src-{n}")
    generate_change_events(src, n_events=n, n_files=1, seed=n)
    pipes = {side: _pipeline(spark, src, os.path.join(work, f"wh-{n}-{side}")) for side in sides}
    times: dict[str, list[float]] = {side: [] for side in sides}
    paths: dict[str, set] = {side: set() for side in sides}
    try:
        for i in range(reps + 1):
            for side, (cap, prev) in sides.items():
                p = pipes[side]
                P._ARROW_FANOUT_MAX_ROWS = cap
                p._last_batch_rows = prev
                t0 = time.perf_counter()
                stats = p.process_batch(read_envelope_batch(spark, src), batch_id=i)
                if i:  # call 0 warms up
                    times[side].append(time.perf_counter() - t0)
                    paths[side].add(stats["write_path"])
    finally:
        P._ARROW_FANOUT_MAX_ROWS = shipped
    for p in pipes.values():
        for sink in p.sinks.values():
            sink.flush()
    shutil.rmtree(src, ignore_errors=True)
    med = {side: statistics.median(t) for side, t in times.items()}
    first, second = sides
    return {
        "rows": n,
        f"{first}_s": round(med[first], 3),
        f"{second}_s": round(med[second], 3),
        f"{first}_over_{second}": round(med[first] / med[second], 3),
        "paths": {side: sorted(v) for side, v in paths.items()},
    }


def main(argv: list[str]) -> int:
    from hybrid_cdc_demo_spark.session import get_spark

    surge = "--surge" in argv
    sizes = [int(a) for a in argv if a != "--surge"] or (SURGE_SIZES if surge else SIZES)
    reps = int(os.environ.get("CROSSOVER_REPS", "6"))
    spark = get_spark(app_name="arrow-crossover")
    spark.sparkContext.setLogLevel("ERROR")
    # the confs CDCPipeline.start() gives its micro-batch jobs
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.files.minPartitionNum", "1")
    work = tempfile.mkdtemp(prefix="arrow-crossover-")
    rows = []
    try:
        for n in sizes:
            rows.append(measure(spark, work, n, reps, surge))
            print(json.dumps(rows[-1]), flush=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        spark.stop()
    if surge:
        print(json.dumps({"reps": reps, "surge_after": SURGE_AFTER}))
    else:
        wins = [r["rows"] for r in rows if r["arrow_s"] <= r["spark_s"]]
        print(json.dumps({"reps": reps, "arrow_wins_up_to": max(wins) if wins else None}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
