#!/usr/bin/env python3
"""Run one benchmark workload at one seed and print its result.

    python3 perfbench/run.py --workload cdc_trickle --seed 1 --seconds 10 --trace 0

Run from the root of a checkout of the repository. The program is
imported from the checkout's sources; every file the run writes stays
under ``.perfbench_work/`` in the checkout. The last line of standard
output is one JSON object with the keys ``correct``, ``attempted``,
``failed`` and ``metrics``: the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``. The line before it is the
run's record (input manifest, warm-up windows, host fsync latency,
per-operation figures, check errors).

The run itself happens in a child process in a session of its own.
When the child has exited (or has run past ``RUN_LIMIT_S``), every
process left in that session — the Spark JVM, PySpark's Python worker
daemon and its workers — is killed and waited for, so nothing the run
started outlives it.

Workloads:

* ``cdc_trickle`` — JSONL envelopes in 2,000-event triggers into a
  table with two PII fields; duplicates, malformed rows and unknown
  columns mixed in.
* ``query_suite`` — one client running a fixed list of catalog
  queries and sink reads; the sinks are written in the same run by
  binary commitlog segments in 2,000-event triggers into a table with
  PII and PHI fields, Zipf-skewed keys and deletes.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import shutil
import signal
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "hybrid_cdc_demo_spark"
WORKLOADS = ("cdc_trickle", "query_suite")
#: a run that has not ended after this many seconds is killed and fails
RUN_LIMIT_S = 150
#: how long the run's processes get to exit on their own before SIGKILL
GRACE_S = 10
PR_SET_CHILD_SUBREAPER = 36


def _parse(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # set on the child process that does the run
    ap.add_argument("--in-session", action="store_true", help=argparse.SUPPRESS)
    return ap.parse_args(argv)


def _session_members(sid: int) -> list[int]:
    """Processes whose session is ``sid``, zombies included: a killed
    JVM reads as a zombie while its threads are still exiting."""
    pids = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                # fields after the ")" that ends the command name:
                # state, ppid, pgrp, session, ...
                rest = fh.read().rsplit(")", 1)[1].split()
        except (OSError, IndexError):
            continue
        if int(rest[3]) == sid:
            pids.append(int(name))
    return pids


def _reap() -> None:
    """Collect the exit status of every child that has ended."""
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def _end_session(sid: int) -> None:
    """Give the run's leftover processes ``GRACE_S`` to exit, then
    SIGKILL the rest and wait until every one has ended. This process
    is their subreaper, so each is reaped here, not left a zombie."""
    deadline = time.monotonic() + GRACE_S
    while _session_members(sid) and time.monotonic() < deadline:
        _reap()
        time.sleep(0.05)
    deadline += GRACE_S
    while (pids := _session_members(sid)) and time.monotonic() < deadline:
        for pid in pids:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        _reap()
        time.sleep(0.05)
    _reap()


def _supervise(args: argparse.Namespace, argv: list[str]) -> int:
    """Run the workload in a child process in a new session; return its
    exit code once the child and everything it started have ended."""
    def _stop(signum, frame):
        raise SystemExit(128 + signum)

    signal.signal(signal.SIGTERM, _stop)
    # orphans of the run (a JVM whose Python parent was killed, the
    # worker daemon of a JVM that exited) are reparented to this process
    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)
    child = subprocess.Popen([sys.executable, os.path.abspath(__file__), *argv, "--in-session"],
                             start_new_session=True)
    try:
        rc = child.wait(timeout=RUN_LIMIT_S)
    except subprocess.TimeoutExpired:
        print(f"perfbench: run did not end within {RUN_LIMIT_S} s; killed", file=sys.stderr)
        rc = 3
    finally:
        # the child leads its session, so its pid is the session id
        if child.poll() is None:
            os.killpg(child.pid, signal.SIGKILL)
        child.wait()
        _end_session(child.pid)
        shutil.rmtree(_work_dir(args, child.pid), ignore_errors=True)
    return rc


def _work_dir(args: argparse.Namespace, pid: int) -> str:
    return os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{pid}")


def stop_spark(spark) -> None:
    """Stop the session and its JVM, and wait for the JVM to exit.
    ``SparkSession.stop`` leaves the JVM running until this process
    exits; the JVM ends itself when its stdin closes."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _environment(work: str, cores: int) -> None:
    """Keep every file the run (and the JVM and Python workers it
    starts) writes inside ``work``, and fix the driver heap."""
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # every JVM the run starts (spark-submit's launcher and the driver):
    # temp files under ``work``, and no /tmp/hsperfdata_* performance file
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"
    # 512 MB of heap per local core, at least 2 GB: the program's 8g
    # default is sized for local[32]. Set, not defaulted, so a caller's
    # environment cannot change the heap being measured.
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{max(2048, 512 * cores)}m"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    import tempfile

    tempfile.tempdir = None


def main(argv: list[str]) -> int:
    args = _parse(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: program sources ({PACKAGE}/) not found under {ROOT}", file=sys.stderr)
        return 2
    if not args.in_session:
        return _supervise(args, argv)
    sys.path.insert(0, ROOT)
    work = _work_dir(args, os.getpid())
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    cores = len(os.sched_getaffinity(0))
    _environment(work, cores)

    from perfbench.common import Ctx, cpu_steal_share, start_session
    from perfbench.trace import Tracer

    run_id = f"{args.workload}-{args.seed}-{args.trace}"
    ctx = Ctx(args.workload, args.seed, args.seconds, bool(args.trace), work, cores,
              tracer=Tracer(run_id, bool(args.trace)))
    steal0 = cpu_steal_share()
    t0 = time.perf_counter()
    try:
        spark_s = start_session(ctx)
        if args.workload == "query_suite":
            from perfbench.queries import run_query_suite

            res = run_query_suite(ctx, spark_s)
        else:
            from perfbench.cdc import run_trickle

            res = run_trickle(ctx, spark_s)
        if ctx.trace:
            # the traced run's own end-to-end figures: against the
            # untraced runs' they give the tracing overhead
            res["layers"].update({f"traced.{k}": v for k, v in res["e2e"].items() if k != "setup_s"})
            records = os.path.join(ROOT, ".perfbench_work", "spans")
            os.makedirs(records, exist_ok=True)
            ctx.tracer.dump(os.path.join(records, f"{run_id}.jsonl"))
            ctx.record["self_s"] = {k: round(v, 4) for k, v in sorted(ctx.tracer.self_times().items())}
    finally:
        if ctx.spark is not None:
            stop_spark(ctx.spark)
        shutil.rmtree(work, ignore_errors=True)
    steal1 = cpu_steal_share()
    ctx.record["wall_s"] = time.perf_counter() - t0
    ctx.record["cpu_steal_share"] = (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1])
    units = _units()
    chosen = res["layers"] if ctx.trace else res["e2e"]
    metrics = {k: {"value": float(v), "unit": units[k]} for k, v in sorted(chosen.items())}
    print(json.dumps({"workload": args.workload, "seed": args.seed, "cores": cores, **ctx.record},
                     default=str))
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": metrics,
    }))
    return 0


def _units() -> dict[str, str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
