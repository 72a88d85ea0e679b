"""Self-tests of the benchmark.

    python3 -m pytest perfbench -q

The span and checker tests take seconds; the smoke runs start one
Spark process per workload and trace mode (a few minutes in all).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import threading
import time
import uuid

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import checks, gen  # noqa: E402
from perfbench.run import stop_spark  # noqa: E402
from perfbench.trace import Tracer, union_length  # noqa: E402


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


# -- spans ------------------------------------------------------------------


def test_spans_nest_within_a_thread():
    t = Tracer("r", enabled=True)
    with t.span("outer") as outer:
        with t.span("inner") as inner:
            time.sleep(0.01)
    by_id = {s.span_id: s for s in t.spans}
    assert by_id[inner].parent_id == outer
    assert by_id[outer].parent_id is None
    assert by_id[outer].start <= by_id[inner].start <= by_id[inner].end <= by_id[outer].end
    assert {s.run_id for s in t.spans} == {"r"}


def test_pool_thread_spans_take_the_ambient_parent_and_roots_take_none():
    t = Tracer("r", enabled=True)
    got = {}

    def worker(name, root=False):
        with t.span(name, root=root) as sid:
            got[name] = sid
            time.sleep(0.01)

    with t.span("batch", ambient=True) as batch:
        threads = [threading.Thread(target=worker, args=(f"w{i}",)) for i in range(3)]
        threads.append(threading.Thread(target=worker, args=("maintain", True)))
        for th in threads:
            th.start()
        for th in threads:
            th.join()
    by_id = {s.span_id: s for s in t.spans}
    assert all(by_id[got[f"w{i}"]].parent_id == batch for i in range(3))
    assert by_id[got["maintain"]].parent_id is None


def test_self_time_subtracts_the_union_of_overlapping_children():
    t = Tracer("r", enabled=True)
    with t.span("batch", ambient=True):
        time.sleep(0.02)
        barrier = threading.Barrier(3)

        def child():
            with t.span("write"):
                barrier.wait()
                time.sleep(0.05)

        threads = [threading.Thread(target=child) for _ in range(2)]
        for th in threads:
            th.start()
        barrier.wait()
        for th in threads:
            th.join()
    batch = next(s for s in t.spans if s.name == "batch")
    writes = [(s.start, s.end) for s in t.spans if s.name == "write"]
    self_s = t.self_times()["batch"]
    assert self_s == pytest.approx((batch.end - batch.start) - union_length(writes))
    # two parallel 50 ms children cover ~50 ms of the parent, not ~100
    assert self_s > 0.015


def test_disabled_tracer_records_nothing_and_wraps_nothing():
    class Obj:
        def f(self):
            return 1

    t = Tracer("r", enabled=False)
    o = Obj()
    with t.span("x"):
        t.wrap(o, "f", "f")
    assert t.spans == [] and "f" not in vars(o) and o.f() == 1


def test_union_length():
    assert union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert union_length([]) == 0


# -- output checker ---------------------------------------------------------


@pytest.fixture(scope="module")
def spark():
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "1g")
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")]))
    from hybrid_cdc_demo_spark.session import get_spark

    s = get_spark(master="local[2]", extra_conf={"spark.ui.showConsoleProgress": "false"})
    s.sparkContext.setLogLevel("ERROR")
    yield s
    stop_spark(s)


def test_checker_rejects_a_corrupted_sink_copy(spark, tmp_path):
    """A real pipeline's upsert sink passes the check; a copy with one
    row dropped from one segment file fails it."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from hybrid_cdc_demo_spark.functions.masking import MaskingRules
    from hybrid_cdc_demo_spark.schema.evolution import SchemaRegistry, TableSchema
    from hybrid_cdc_demo_spark.streaming.pipeline import CDCPipeline, PipelineConfig
    from hybrid_cdc_demo_spark.streaming.sinks import UpsertSink

    inp = gen.trickle_input(str(tmp_path / "src"), seed=5, n_files=2, events_per_file=300, n_keys=200)
    reg = SchemaRegistry()
    reg.register(TableSchema(inp.keyspace, inp.table, dict(inp.columns), [inp.key_col]))
    cfg = PipelineConfig(source_dir=str(tmp_path / "src"), target_dir=str(tmp_path / "tgt"),
                         keyspace=inp.keyspace, table=inp.table)
    CDCPipeline(spark, cfg, reg).run_available()

    rules = MaskingRules()
    ref = checks.CdcReference(inp, 2, rules.pii_fields, rules.phi_fields, rules.secret_key)
    by_event = {ev["event_id"]: ev for evs in inp.events for ev in evs}
    cols = ["key_hash", "event_id", "columns_masked"]

    def state(path):
        return UpsertSink(spark, path, ["key_hash"]).read().select(*cols).collect()

    good = str(tmp_path / "tgt" / "postgres")
    assert checks.check_rows(state(good), ref.upsert_state(), ref, by_event) == []

    bad = str(tmp_path / "corrupt")
    shutil.copytree(good, bad)
    # drop one live row from the newest segment, whose rows are the
    # latest for their keys
    part = max(
        os.path.join(r, f) for r, _, fs in os.walk(os.path.join(bad, "delta"))
        for f in fs if f.endswith(".parquet")
    )
    table = pq.read_table(part)
    live = table.column("event_type").to_pylist().index("INSERT")
    pq.write_table(pa.concat_tables([table.slice(0, live), table.slice(live + 1)]), part)
    crc = os.path.join(os.path.dirname(part), f".{os.path.basename(part)}.crc")
    os.remove(crc)  # the rewrite would otherwise fail Hadoop's checksum
    errors = checks.check_rows(state(bad), ref.upsert_state(), ref, by_event)
    assert errors and "state differs" in errors[0]


def test_checker_rejects_duplicate_keys_and_wrong_masks(tmp_path):
    inp = gen.trickle_input(str(tmp_path), seed=3, n_files=1, events_per_file=50, n_keys=20)
    ref = checks.CdcReference(inp, 1, ["email", "phone"], ["patient_id"], "k")
    by_event = {ev["event_id"]: ev for ev in inp.events[0]}
    want = ref.upsert_state()
    rows = [{"key_hash": k, "event_id": e, "columns_masked": json.dumps(ref.masked(by_event[e]))}
            for k, e in want.items()]
    assert checks.check_rows(rows, want, ref, by_event) == []
    assert any("duplicate" in e for e in checks.check_rows(rows + rows[:1], want, ref, by_event))
    tampered = [dict(rows[0], columns_masked='{"email_masked": "x"}')] + rows[1:]
    assert any("masked" in e for e in checks.check_rows(tampered, want, ref, by_event))


def test_generators_are_seeded(tmp_path):
    a = gen.bulk_input(str(tmp_path / "a"), seed=9, n_files=1, events_per_file=200)
    b = gen.bulk_input(str(tmp_path / "b"), seed=9, n_files=1, events_per_file=200)
    c = gen.bulk_input(str(tmp_path / "c"), seed=10, n_files=1, events_per_file=200)
    read = lambda p: open(p, "rb").read()  # noqa: E731
    assert read(a.files[0]) == read(b.files[0]) != read(c.files[0])
    assert a.manifest == b.manifest and a.manifest["key_zipf_s"] == 1.1


# -- smoke runs ---------------------------------------------------------------


def _processes_with_env(entry: str) -> list[int]:
    found = []
    for name in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{name}/environ", "rb") as fh:
                env = fh.read().split(b"\0")
        except OSError:
            continue
        if entry.encode() in env:
            found.append(int(name))
    return found


@pytest.mark.parametrize("workload", [w["name"] for w in _spec()["workloads"]])
@pytest.mark.parametrize("trace", [0, 1])
def test_smoke_run_prints_every_metric_with_its_unit(workload, trace):
    spec = _spec()
    mark = f"perfbench-smoke-{uuid.uuid4().hex}"
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "7", "--seconds", "1", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600, check=False,
        env={**os.environ, "PERFBENCH_SMOKE_MARK": mark},
    )
    # every process the run started (JVM, Python workers) has ended
    assert _processes_with_env(f"PERFBENCH_SMOKE_MARK={mark}") == []
    assert out.returncode == 0, out.stderr[-3000:]
    res = json.loads(out.stdout.strip().splitlines()[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    want = spec["per_layer" if trace else "end_to_end"]
    assert {m["name"]: m["unit"] for m in want} == {k: v["unit"] for k, v in res["metrics"].items()}


def test_exits_nonzero_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "cdc_trickle", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60, check=False,
    )
    assert out.returncode != 0 and out.stdout.strip() == ""
