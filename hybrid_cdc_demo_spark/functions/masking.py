"""PII/PHI masking — semantics of reference src/transform/masking.py.

Reference behavior reproduced (file:line cites into /root/reference):
* field classification by substring match against configured PII/PHI
  name lists, PHI checked before PII (masking.py:67-92,
  config/masking-rules.yaml:6-18);
* PII → SHA-256 hex of the utf-8 value, None→None (masking.py:126-148);
* PHI → deterministic HMAC-SHA256 token under a secret key
  (masking.py:151-177);
* apply_masking replaces classified columns, passes the rest through
  (masking.py:180-215).

Spark-first design: classification happens driver-side over the
DataFrame *schema* (cheap, no data touched); masking is injected as
column expressions in a single Catalyst-optimized projection. SHA-256
uses the builtin null-safe ``sha2``; HMAC has no Spark builtin ≤4.x but
RFC 2104 unrolls into two ``sha2`` calls over driver-side-padded key
literals (``hmac_sha256_expr``), so the hot path is 100% JVM-side.
The Arrow pandas_udf form (``hmac_sha256_udf``) remains as the declared
§2d scalar-UDF surface and a digest cross-check.
"""

from __future__ import annotations

import hashlib
import hmac as hmac_mod
from dataclasses import dataclass, field
from enum import Enum

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame
from pyspark.sql.functions import pandas_udf


class MaskingStrategy(str, Enum):
    NONE = "none"
    PII_HASH = "pii_hash"
    PHI_TOKEN = "phi_token"


#: Default rule lists — mirrors config/masking-rules.yaml:6-18.
DEFAULT_PII_FIELDS = ["email", "phone", "ssn", "credit_card", "address"]
DEFAULT_PHI_FIELDS = ["medical_record_number", "patient_id"]
DEFAULT_SECRET_KEY = "default-secret-key"  # masking.py:207 default


@dataclass
class MaskingRules:
    pii_fields: list[str] = field(default_factory=lambda: list(DEFAULT_PII_FIELDS))
    phi_fields: list[str] = field(default_factory=lambda: list(DEFAULT_PHI_FIELDS))
    secret_key: str = DEFAULT_SECRET_KEY

    def __post_init__(self):
        if not self.secret_key:
            raise ValueError("masking.secret_key must be non-empty")


def classify_field(name: str, rules: MaskingRules | None = None) -> MaskingStrategy:
    """Substring classification; PHI takes precedence over PII
    (masking.py:82-90 — e.g. ``patient_id_email`` → PHI)."""
    rules = rules or MaskingRules()
    lowered = name.lower()
    for phi in rules.phi_fields:
        if phi in lowered:
            return MaskingStrategy.PHI_TOKEN
    for pii in rules.pii_fields:
        if pii in lowered:
            return MaskingStrategy.PII_HASH
    return MaskingStrategy.NONE


def mask_pii(col: Column | str) -> Column:
    """SHA-256 hex masking (masking.py:126-148). Null-safe: sha2
    propagates NULL; '' hashes to sha256('') like the reference."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sha2(c.cast("string"), 256)


#: Display-layer redaction for the HMAC key pads (below): the ipad and
#: opad are 64-byte binary plan literals, and explain()/the Spark UI
#: SQL tab/event-log plan text print binary literals as 0x-hex — from
#: which the secret key is one XOR away (key = ipad ^ 0x36). The
#: pattern is STRUCTURAL (any 128-hex-digit binary literal) rather than
#: the pads' own hex, because runtime conf values themselves surface in
#: SparkListenerSQLExecutionStart.modifiedConfigs / environment events —
#: a pattern containing the pad bytes would just move the leak into the
#: event log's conf dump. Registered via Spark's own plan-text redaction
#: hook (spark.sql.redaction.string.regex), which scrubs explain output,
#: the UI SQL tab, and the physicalPlanDescription recorded in event
#: logs. Residual exposure (documented, not closable from here): a plan
#: stringified BEFORE the conf is set, or by a tool that bypasses
#: Spark's redaction (e.g. raw TreeNode access), still shows the pads —
#: treat plan dumps from such paths as key-equivalent material.
_PAD_REDACTION_PATTERN = "(?i)0x[0-9A-F]{128}"
_REDACTION_CONF = "spark.sql.redaction.string.regex"


def _ensure_pad_redaction() -> None:
    """Install the structural pad-redaction pattern on the active
    session (merging with any user-set pattern) so HMAC key material
    never prints in plan text. Best-effort: with no active session the
    Column is being built detached and the session that eventually
    executes it gets the pattern from session.get_spark's defaults."""
    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession()
    if spark is None:
        return
    try:
        current = spark.conf.get(_REDACTION_CONF, None)
    except Exception:  # pragma: no cover - conf layer unavailable
        return
    if current and _PAD_REDACTION_PATTERN in current:
        return
    merged = (
        _PAD_REDACTION_PATTERN
        if not current
        else f"(?:{current})|(?:{_PAD_REDACTION_PATTERN})"
    )
    try:
        spark.conf.set(_REDACTION_CONF, merged)
    except Exception:  # pragma: no cover - read-only conf on some builds
        pass


def hmac_sha256_expr(col: Column | str, secret_key: str = DEFAULT_SECRET_KEY) -> Column:
    """HMAC-SHA256 as a pure builtin expression (RFC 2104 unrolled):

        HMAC(K, m) = SHA256((K' ^ opad) || SHA256((K' ^ ipad) || m))

    The key padding/xor happens driver-side (the key is a config
    literal); the per-row work is two ``sha2`` calls plus ``concat`` /
    ``unhex`` — all JVM-side inside whole-stage codegen. This keeps the
    CDC hot path (every micro-batch masks PHI columns) free of Python
    worker round-trips; digest parity with the stdlib ``hmac`` module
    (and hence the reference's masking.py:151-177) is pinned by the
    test vectors in tests/test_masking.py.

    Key-exposure note: the pads land in the plan as binary literals, so
    without redaction the secret is recoverable from any stringified
    plan (explain, UI SQL tab, event logs). This function installs the
    structural redaction pattern (see ``_PAD_REDACTION_PATTERN``) on
    the active session before returning the Column; the exposure
    boundary and residual paths are documented on the pattern constant.
    """
    _ensure_pad_redaction()
    c = F.col(col) if isinstance(col, str) else col
    key = secret_key.encode("utf-8")
    if len(key) > 64:  # RFC 2104: long keys are hashed first
        key = hashlib.sha256(key).digest()
    key = key.ljust(64, b"\x00")
    ipad = bytearray(b ^ 0x36 for b in key)
    opad = bytearray(b ^ 0x5C for b in key)
    inner = F.sha2(F.concat(F.lit(ipad), F.encode(c.cast("string"), "utf-8")), 256)
    return F.sha2(F.concat(F.lit(opad), F.unhex(inner)), 256)


def hmac_sha256_udf(secret_key: str):
    """Arrow-vectorized HMAC-SHA256 tokenizer (masking.py:151-177).

    Kept as the declared scalar-pandas_udf surface (SURVEY §2d) and as
    an executable cross-check of ``hmac_sha256_expr`` — the hot path
    uses the builtin expression form, which stays inside whole-stage
    codegen instead of paying an Arrow round-trip per batch.
    """
    key_bytes = secret_key.encode("utf-8")

    @pandas_udf("string")
    def _hmac(s: pd.Series) -> pd.Series:
        return s.map(
            lambda v: None
            if v is None
            else hmac_mod.new(key_bytes, str(v).encode("utf-8"), hashlib.sha256).hexdigest()
        )

    return _hmac


def mask_phi(col: Column | str, secret_key: str = DEFAULT_SECRET_KEY) -> Column:
    return hmac_sha256_expr(col, secret_key)


def mask_expr(name: str, rules: MaskingRules | None = None) -> Column:
    """Masking expression for one column per its classification."""
    rules = rules or MaskingRules()
    strategy = classify_field(name, rules)
    if strategy is MaskingStrategy.PII_HASH:
        return mask_pii(name).alias(name)
    if strategy is MaskingStrategy.PHI_TOKEN:
        return mask_phi(name, rules.secret_key).alias(name)
    return F.col(name)


def apply_masking(df: DataFrame, rules: MaskingRules | None = None) -> DataFrame:
    """Single projection applying masking to every classified column
    (masking.py:180-215). One Catalyst stage; unclassified columns are
    pass-through and remain prunable."""
    rules = rules or MaskingRules()
    return df.select([mask_expr(name, rules) for name in df.columns])


#: Free-text PII patterns, applied in order (email before the id/phone
#: shapes so an address's digits aren't half-eaten by the phone rule;
#: SSN before phone because an SSN also matches the looser phone shape).
#: The regex subset used (char classes, counted repeats, \b, \s) parses
#: identically under Java regex (Spark) and RE2 (DuckDB oracle).
TEXT_PII_PATTERNS: list[tuple[str, str, str]] = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ssn", r"\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b", "<ID>"),
    ("phone", r"\+?[0-9][0-9()\-\s]{6,}[0-9]", "<PHONE>"),
]


def scrub_text_pii(col: Column | str) -> Column:
    """Redact PII *inside free text* (document bodies, message payloads)
    — the scrub a training corpus runs before ingestion, complementing
    the column-level masking above (which assumes PII lives in its own
    named field; prose doesn't). Chained builtin ``regexp_replace`` —
    JVM-side, no UDF, safe in any hot path."""
    c = F.col(col) if isinstance(col, str) else col
    for _, pattern, token in TEXT_PII_PATTERNS:
        c = F.regexp_replace(c, pattern, token)
    return c


def scrub_text_pii_value(value: str | None) -> str | None:
    """Driver-side twin of scrub_text_pii (same patterns via ``re``)."""
    import re

    if value is None:
        return None
    for _, pattern, token in TEXT_PII_PATTERNS:
        value = re.sub(pattern, token, value)
    return value


# Pure-Python reference semantics (for unit-test vectors and driver-side
# use, identical digests to the reference implementation):
def mask_pii_value(value: str | None) -> str | None:
    if value is None:
        return None
    return hashlib.sha256(str(value).encode("utf-8")).hexdigest()


def mask_phi_value(value: str | None, secret_key: str = DEFAULT_SECRET_KEY) -> str | None:
    if value is None:
        return None
    return hmac_mod.new(
        secret_key.encode("utf-8"), str(value).encode("utf-8"), hashlib.sha256
    ).hexdigest()
