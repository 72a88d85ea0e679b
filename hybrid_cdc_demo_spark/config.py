"""Pipeline configuration layer (SURVEY O37).

``load_config`` builds the ``PipelineConfig`` that ``CDCPipeline``
consumes, with the reference's config semantics
(src/config/loader.py:14-46, 49-83, 112-168):

* defaults are ``PipelineConfig``'s; its retry policy and masking
  rules keep the reference's (settings.py:98-106,
  config/masking-rules.yaml:6-18);
* YAML config file loading (import-gated; JSON accepted as a
  fallback so the layer works without pyyaml);
* deep merge of config dicts — nested dicts merge recursively,
  scalars/lists overwrite (loader.py:49-83);
* environment-variable overrides with the ``CDC_`` prefix and
  ``__`` as the nesting separator (pydantic-settings convention the
  reference uses), e.g. ``CDC_RETRY__MAX_ATTEMPTS=3``;
* unknown keys are rejected — the reference's keys that no engine
  code reads (``pipeline.batch_size``, ``sinks.*_enabled``, ...)
  included — and strings are coerced to the field types. Values are
  checked by the types that read them (``RetryPolicy``,
  ``MaskingRules``, ``AppendSink``), so a bad config fails at load or
  at pipeline construction, not mid-stream.
"""

from __future__ import annotations

import dataclasses
import json
import os
import types
import typing
from pathlib import Path

from hybrid_cdc_demo_spark.streaming.pipeline import PipelineConfig

try:  # pragma: no cover - optional
    import yaml

    HAVE_YAML = True
except Exception:  # pragma: no cover
    HAVE_YAML = False


class ConfigError(ValueError):
    pass


def deep_merge(base: dict, override: dict) -> dict:
    """loader.py:49-83: nested dicts merge recursively; scalars and
    lists overwrite."""
    out = dict(base)
    for k, v in override.items():
        if isinstance(v, dict) and isinstance(out.get(k), dict):
            out[k] = deep_merge(out[k], v)
        else:
            out[k] = v
    return out


def env_overrides(environ: dict[str, str] | None = None, prefix: str = "CDC_") -> dict:
    """CDC_SECTION__KEY=value → {"section": {"key": value}}."""
    environ = dict(os.environ if environ is None else environ)
    out: dict = {}
    for k, v in environ.items():
        if not k.startswith(prefix):
            continue
        path = k[len(prefix) :].lower().split("__")
        node = out
        for part in path[:-1]:
            node = node.setdefault(part, {})
        node[path[-1]] = v
    return out


def _coerce(value, tp, path: str):
    """``value`` (parsed from the file, or an env string) as field type
    ``tp``: nested dataclasses are built, ``X | None`` accepts None,
    strings become numbers or comma-separated lists/tuples."""
    if typing.get_origin(tp) in (typing.Union, types.UnionType):
        if value is None:
            return None
        (tp,) = [a for a in typing.get_args(tp) if a is not type(None)]
    if dataclasses.is_dataclass(tp):
        if not isinstance(value, dict):
            raise ConfigError(f"'{path}' must be a mapping")
        return _build(tp, value, f"{path}.")
    kind = typing.get_origin(tp) or tp
    if isinstance(value, str) and kind is not str:
        try:
            if kind in (list, tuple):
                value = [v.strip() for v in value.split(",") if v.strip()]
            elif kind in (int, float):
                value = kind(value)
        except ValueError as exc:
            raise ConfigError(f"'{path}': {exc}") from exc
    if kind is tuple and isinstance(value, list):
        value = tuple(value)
    elif kind is float and type(value) is int:
        value = float(value)
    if not isinstance(value, kind):
        raise ConfigError(f"'{path}' must be {kind.__name__}, got {value!r}")
    return value


def _build(cls, data: dict, path: str = ""):
    fields = {f.name: f for f in dataclasses.fields(cls)}
    unknown = set(data) - set(fields)
    if unknown:
        raise ConfigError(f"unknown config key(s) {sorted(unknown)} at '{path or '.'}'")
    missing = sorted(
        name
        for name, f in fields.items()
        if name not in data
        and f.default is dataclasses.MISSING
        and f.default_factory is dataclasses.MISSING
    )
    if missing:
        raise ConfigError(f"missing config key(s) {missing} at '{path or '.'}'")
    hints = typing.get_type_hints(cls)
    kwargs = {name: _coerce(v, hints[name], path + name) for name, v in data.items()}
    try:
        return cls(**kwargs)
    except ValueError as exc:
        raise ConfigError(str(exc)) from exc


def load_config(
    config_file: str | Path | None = None,
    overrides: dict | None = None,
    environ: dict[str, str] | None = None,
) -> PipelineConfig:
    """defaults ← file ← explicit overrides ← env vars (highest wins)
    (loader.py:112-168 precedence), built into a ``PipelineConfig``."""
    data: dict = {}
    if config_file is not None:
        text = Path(config_file).read_text()
        if HAVE_YAML:
            loaded = yaml.safe_load(text) or {}
        else:
            loaded = json.loads(text)
        if not isinstance(loaded, dict):
            raise ConfigError("config file must contain a mapping")
        data = deep_merge(data, loaded)
    if overrides:
        data = deep_merge(data, overrides)
    data = deep_merge(data, env_overrides(environ))
    return _build(PipelineConfig, data)
