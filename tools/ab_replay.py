"""Interleaved A/B of two pipeline variants inside ONE session.

The sandbox's session band swings timing up to 3x between sessions
(PERF.md calibration history), so variant comparisons are only valid
interleaved: A B A B ... in a single JVM, with a calibration probe per
pair and a warmup ramp first. Variants are PipelineConfig keys, built
with ``config.load_config`` (so a misspelled key fails before Spark
starts) — e.g. compare the shuffle-partition cap:

    python tools/ab_replay.py \
        --a shuffle_partitions=4 \
        --b shuffle_partitions=1 \
        --pairs 4

Prints one JSON line with per-variant batch-time medians/p99s (pooled
across that variant's replays), per-replay values, and the calibration
trace; exits 0 always (it's a measurement, not a gate).
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _variant(pairs: list[str]) -> dict:
    """``k=v`` pairs → the PipelineConfig fields they set, typed by
    load_config (the replay supplies the directories)."""
    from hybrid_cdc_demo_spark.config import load_config

    raw = dict(item.partition("=")[::2] for item in pairs)
    cfg = load_config(overrides={"source_dir": "", "target_dir": "", **raw}, environ={})
    return {k: getattr(cfg, k) for k in raw}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--a", nargs="*", default=[], help="variant A conf k=v")
    ap.add_argument("--b", nargs="*", default=[], help="variant B conf k=v")
    ap.add_argument("--pairs", type=int, default=4)
    ap.add_argument("--n-events", type=int, default=50000)
    ap.add_argument("--n-files", type=int, default=25)
    args = ap.parse_args()
    conf_a, conf_b = _variant(args.a), _variant(args.b)

    from hybrid_cdc_demo_spark.session import get_spark
    import bench
    import hybrid_cdc_demo_spark.streaming.pipeline as P

    spark = get_spark(app_name="cdc-ab-replay")
    spark.sparkContext.setLogLevel("ERROR")

    # capture per-batch seconds of the CURRENT replay via the same
    # process_batch wrap bench uses internally (bench reports p99 only;
    # the A/B wants the full per-batch sample to pool medians)
    batch_secs: list[float] = []
    orig_pb = P.CDCPipeline.process_batch
    import time as _t

    def timed_pb(self, df, bid):
        t0 = _t.perf_counter()
        out = orig_pb(self, df, bid)
        batch_secs.append(_t.perf_counter() - t0)
        return out

    P.CDCPipeline.process_batch = timed_pb

    warm_trace = bench._warm_until_stable(spark)
    results = {"a": {"conf": conf_a, "replays": []}, "b": {"conf": conf_b, "replays": []}}
    cal_trace = [bench.calibration_probe(spark, reps=1)]
    for _ in range(args.pairs):
        for key, conf in (("a", conf_a), ("b", conf_b)):
            spark.sparkContext._jvm.System.gc()
            batch_secs.clear()
            r = bench.run_streaming_replay(
                spark,
                n_events=args.n_events,
                n_files=args.n_files,
                pipeline_conf=conf,
            )
            results[key]["replays"].append(
                {
                    "batch_median_sec": round(
                        statistics.median(batch_secs), 4
                    ),
                    "batch_worst_sec": round(max(batch_secs), 4),
                    "p99_sec": r["streaming_batch_p99_sec"],
                    "events_per_sec": r["streaming_events_per_sec"],
                }
            )
        cal_trace.append(bench.calibration_probe(spark, reps=1))

    out = {"warmup_trace": warm_trace, "calibration_trace": cal_trace}
    for key in ("a", "b"):
        reps = results[key]["replays"]
        out[key] = {
            "conf": results[key]["conf"],
            "replays": reps,
            "median_of_medians": round(
                statistics.median(r["batch_median_sec"] for r in reps), 4
            ),
            "median_worst": round(
                statistics.median(r["batch_worst_sec"] for r in reps), 4
            ),
            "median_p99": round(
                statistics.median(r["p99_sec"] for r in reps), 4
            ),
        }
    print(json.dumps(out))


if __name__ == "__main__":
    main()
