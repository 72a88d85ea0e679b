"""Masking semantics parity with the reference (B4 fixtures,
FIXTURES.md): classification precedence, SHA-256 digests, HMAC
tokens — identical values to reference src/transform/masking.py."""

import hashlib
import hmac

import pyspark.sql.functions as F
import pytest

from hybrid_cdc_demo_spark.functions.masking import (
    DEFAULT_SECRET_KEY,
    MaskingRules,
    MaskingStrategy,
    apply_masking,
    classify_field,
    mask_phi_value,
    mask_pii_value,
)


def test_classification_precedence():
    # PHI beats PII when both substrings match (masking.py:82-90)
    assert classify_field("patient_id_email") is MaskingStrategy.PHI_TOKEN
    assert classify_field("email") is MaskingStrategy.PII_HASH
    assert classify_field("user_email_address") is MaskingStrategy.PII_HASH
    assert classify_field("medical_record_number") is MaskingStrategy.PHI_TOKEN
    assert classify_field("first_name") is MaskingStrategy.NONE
    assert classify_field("PHONE") is MaskingStrategy.PII_HASH  # case-insensitive


def test_empty_secret_key_rejected():
    with pytest.raises(ValueError, match="secret_key"):
        MaskingRules(secret_key="")


def test_python_vectors():
    assert mask_pii_value(None) is None
    assert mask_pii_value("") == hashlib.sha256(b"").hexdigest()
    assert (
        mask_pii_value("alice@example.com")
        == hashlib.sha256(b"alice@example.com").hexdigest()
    )
    expected = hmac.new(
        DEFAULT_SECRET_KEY.encode(), b"MRN-1234", hashlib.sha256
    ).hexdigest()
    assert mask_phi_value("MRN-1234") == expected
    # deterministic tokenization: same input → same token
    assert mask_phi_value("MRN-1234") == mask_phi_value("MRN-1234")


def test_apply_masking_dataframe(spark):
    df = spark.createDataFrame(
        [
            ("u1", "alice@example.com", "555-0100", "MRN-1", "Alice"),
            ("u2", None, "555-0199", None, "Bob"),
        ],
        ["user_id", "email", "phone", "patient_id", "first_name"],
    )
    out = apply_masking(df, MaskingRules()).collect()
    by_id = {r["user_id"]: r for r in out}
    assert by_id["u1"]["email"] == mask_pii_value("alice@example.com")
    assert by_id["u1"]["phone"] == mask_pii_value("555-0100")
    assert by_id["u1"]["patient_id"] == mask_phi_value("MRN-1")
    assert by_id["u1"]["first_name"] == "Alice"  # unclassified passthrough
    assert by_id["u2"]["email"] is None  # null-safe
    assert by_id["u2"]["patient_id"] is None


def test_masking_is_single_projection(spark):
    """Masking must not add shuffles — one projection stage."""
    df = spark.createDataFrame([("a@b.c", 1)], ["email", "x"])
    plan = apply_masking(df)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_scrub_text_pii_planted_vectors(spark):
    """Free-text scrubber redacts emails, SSNs, and phone shapes while
    leaving surrounding prose untouched; Spark output equals the
    driver-side twin (same patterns, Java regex vs `re`)."""
    from hybrid_cdc_demo_spark.functions.masking import (
        scrub_text_pii,
        scrub_text_pii_value,
    )

    cases = [
        "mail me at jane.doe+x@sub.example.org today",
        "ssn is 123-45-6789 ok",
        "call +1 (415) 555-0142 now",
        "plain text with no pii at all",
        "multi: a@b.co and 987-65-4321 and 415 555 0100 end",
        "",
    ]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(cases)], ["i", "t"])
    out = {
        r["i"]: r["s"]
        for r in df.select("i", scrub_text_pii("t").alias("s")).collect()
    }
    for i, t in enumerate(cases):
        assert out[i] == scrub_text_pii_value(t), t
    assert "<EMAIL>" in out[0] and "jane" not in out[0]
    assert out[1] == "ssn is <ID> ok"
    assert "<PHONE>" in out[2] and "415" not in out[2]
    assert out[3] == cases[3]
    assert "<EMAIL>" in out[4] and "<ID>" in out[4] and "<PHONE>" in out[4]


def test_scrub_text_pii_null_safe(spark):
    from hybrid_cdc_demo_spark.functions.masking import scrub_text_pii

    df = spark.createDataFrame([(1, None)], "i int, t string")
    assert df.select(scrub_text_pii("t").alias("s")).collect()[0]["s"] is None


def test_hmac_expr_vectors(spark):
    """The builtin-expression HMAC (RFC 2104 unrolled into two sha2
    calls — the hot-path form) is digest-identical to the stdlib hmac
    module AND to the Arrow pandas_udf form, across the key-length
    branch (>64-byte keys are pre-hashed) and null/unicode/empty
    values."""
    from hybrid_cdc_demo_spark.functions.masking import (
        hmac_sha256_expr,
        hmac_sha256_udf,
    )

    vals = ["hello", "", "üñïçødé ✓", None, "1234567890" * 20]
    df = spark.createDataFrame([(v,) for v in vals], "v string")
    for key in [DEFAULT_SECRET_KEY, "k", "x" * 100]:  # short/long-key paths
        got = [r[0] for r in df.select(hmac_sha256_expr(F.col("v"), key)).collect()]
        expected = [
            None
            if v is None
            else hmac.new(key.encode(), v.encode(), hashlib.sha256).hexdigest()
            for v in vals
        ]
        assert got == expected, f"builtin-expr HMAC diverges for key={key!r}"
        via_udf = [r[0] for r in df.select(hmac_sha256_udf(key)(F.col("v"))).collect()]
        assert via_udf == expected, f"pandas_udf HMAC diverges for key={key!r}"
