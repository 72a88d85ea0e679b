"""Config layer (SURVEY O37): load_config builds the PipelineConfig the
engine consumes — defaults, YAML load, deep merge, env overrides,
coercion and rejection of keys the engine does not read."""

import pytest

from hybrid_cdc_demo_spark.config import (
    ConfigError,
    deep_merge,
    env_overrides,
    load_config,
)
from hybrid_cdc_demo_spark.functions.masking import MaskingRules
from hybrid_cdc_demo_spark.streaming.pipeline import CDCPipeline, PipelineConfig
from hybrid_cdc_demo_spark.streaming.retry import RetryPolicy

DIRS = {"source_dir": "/src", "target_dir": "/tgt"}


def test_reference_defaults():
    c = load_config(overrides=DIRS, environ={})
    assert c == PipelineConfig(**DIRS)
    # reference defaults (settings.py:98-106, masking-rules.yaml:6-18)
    assert c.retry == RetryPolicy(5, 0.1, 2.0, 30.0, 0.25)
    assert "email" in c.masking.pii_fields
    assert "patient_id" in c.masking.phi_fields
    assert c.masking.secret_key == "default-secret-key"
    assert c.delete_policy_append == "skip"
    assert c.key_cols == ("key_hash",)


def test_deep_merge_nested_vs_overwrite():
    base = {"a": {"x": 1, "y": 2}, "lst": [1, 2], "s": "keep"}
    override = {"a": {"y": 20, "z": 30}, "lst": [9]}
    merged = deep_merge(base, override)
    assert merged == {"a": {"x": 1, "y": 20, "z": 30}, "lst": [9], "s": "keep"}


def test_yaml_file_and_env_precedence(tmp_path):
    cfg = tmp_path / "cdc.yaml"
    cfg.write_text(
        "source_dir: /src\ntarget_dir: /tgt\nkeyspace: shop\n"
        "retry:\n  max_attempts: 3\n  multiplier: 3\n"
        "masking:\n  secret_key: k1\n"
    )
    c = load_config(
        cfg,
        environ={"CDC_RETRY__MAX_ATTEMPTS": "7", "CDC_MASKING__SECRET_KEY": "k2"},
    )
    assert c.keyspace == "shop"  # file beats default
    assert c.retry.max_attempts == 7  # env beats file
    assert c.retry.multiplier == 3.0  # file beats default, int read as float
    assert c.retry.base_delay_seconds == 0.1  # untouched nested default
    assert c.masking.secret_key == "k2"  # env beats file
    assert c.masking.phi_fields == MaskingRules().phi_fields


def test_env_override_parsing():
    env = {
        "CDC_MASKING__PII_FIELDS": "email,iban",
        "CDC_KEY_COLS": "key_hash, user_id",
        "CDC_MAX_FILES_PER_TRIGGER": "10",
        "OTHER_VAR": "ignored",
    }
    assert env_overrides(env) == {
        "masking": {"pii_fields": "email,iban"},
        "key_cols": "key_hash, user_id",
        "max_files_per_trigger": "10",
    }
    c = load_config(overrides=DIRS, environ=env)
    assert c.masking.pii_fields == ["email", "iban"]
    assert c.key_cols == ("key_hash", "user_id")
    assert c.max_files_per_trigger == 10


def test_unknown_key_rejected(tmp_path):
    """Reference keys no engine code reads, removed options and typos
    fail at load instead of validating and changing nothing."""
    cfg = tmp_path / "bad.yaml"
    cfg.write_text("source_dir: /src\ntarget_dir: /tgt\npipeline:\n  batch_size: 500\n")
    with pytest.raises(ConfigError, match="unknown config key"):
        load_config(cfg, environ={})
    for override in (
        {"sinks": {"clickhouse_enabled": False}},
        {"share_latest_flag": True},
        {"retry": {"max_attempt": 3}},
    ):
        with pytest.raises(ConfigError, match="unknown config key"):
            load_config(overrides={**DIRS, **override}, environ={})


def test_missing_target_dir_is_a_config_error():
    with pytest.raises(ConfigError, match="target_dir"):
        load_config(overrides={"source_dir": "/src"}, environ={})


def test_validation_bounds():
    with pytest.raises(ConfigError, match="max_attempts"):
        load_config(overrides={**DIRS, "retry": {"max_attempts": 0}}, environ={})
    with pytest.raises(ConfigError, match="shuffle_partitions"):
        load_config(overrides=DIRS, environ={"CDC_SHUFFLE_PARTITIONS": "many"})
    with pytest.raises(ConfigError, match="must be a mapping"):
        load_config(overrides={**DIRS, "masking": "k"}, environ={})


def test_settings_drive_pipeline_types(spark, tmp_path):
    cfg = tmp_path / "cdc.yaml"
    cfg.write_text(
        f"source_dir: {tmp_path / 'src'}\ntarget_dir: {tmp_path / 'wh'}\n"
        "delete_policy_append: tombstone\nretry:\n  max_attempts: 1\n"
    )
    c = load_config(cfg, environ={})
    p = CDCPipeline(spark, c)
    assert p.sinks["clickhouse"].delete_policy == "tombstone"
    assert p.config.retry is c.retry
    assert p.config.retry == RetryPolicy(max_attempts=1)
