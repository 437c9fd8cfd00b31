"""The forced-broadcast gate (``session.broadcast_limit_rows``): the
conf-byte parser must read every size form Spark emits for
``spark.sql.autoBroadcastJoinThreshold`` — a mis-parse either
disables a forced broadcast (harmless) or forces one past the
operator's budget (not harmless), so the parser is pinned spark-free
here — and Q20 drops its broadcast pre-filter when the budget is
disabled, with its result unchanged."""

from __future__ import annotations

import pytest

from miba_2023_capstone_rb_nlp_spark.session import (
    BROADCAST_MAX_ROWS,
    _parse_conf_bytes,
)
from miba_2023_capstone_rb_nlp_spark.suite import load_suite
from miba_2023_capstone_rb_nlp_spark.suite.ner import LABEL_ROW_BYTES
from tests.conftest import SF_TEST_DIR
from tests.parity import compare, duckdb_conn


@pytest.mark.parametrize(
    "raw,expected",
    [
        ("10485760", 10 << 20),  # plain bytes (Spark's default form)
        ("10485760b", 10 << 20),  # explicit byte suffix
        ("10m", 10 << 20),
        ("10MB", 10 << 20),
        ("1g", 1 << 30),
        ("1t", 1 << 40),  # Spark's JavaUtils accepts t/tb and p/pb too
        ("2pb", 2 << 50),
        ("512k", 512 << 10),
        ("  2K ", 2 << 10),  # whitespace + case
        ("-1", -1),  # auto-broadcast disabled
        ("0", 0),
    ],
)
def test_parse_conf_bytes_forms(raw, expected):
    assert _parse_conf_bytes(raw) == expected


def test_parse_conf_bytes_garbage_falls_back_to_default(capsys):
    # a mis-set conf must degrade the GATE's precision, not kill the
    # query: unparseable → the 10 MB built-in default, announced on
    # stderr so the operator can see their conf was ignored
    # (ADVICE r12)
    assert _parse_conf_bytes("lots") == 10 << 20
    assert _parse_conf_bytes("") == 10 << 20
    # fractional sizes are unparseable the same way Spark's
    # JavaUtils.byteStringAs rejects them — the gate must not accept
    # a value the session itself would have refused (ADVICE r12)
    assert _parse_conf_bytes("1.5m") == 10 << 20
    # ...and so are Python-int()-isms JavaUtils' ([0-9]+)([a-z]+)?
    # pattern rejects: digit separators, an explicit '+', and inner
    # whitespace between count and unit (r13 review finding)
    assert _parse_conf_bytes("1_0m") == 10 << 20
    assert _parse_conf_bytes("+10m") == 10 << 20
    assert _parse_conf_bytes(" 10 m") == 10 << 20
    err = capsys.readouterr().err
    assert err.count("unparseable") == 6
    assert "1.5m" in err


def test_parse_conf_bytes_valid_forms_stay_silent(capsys):
    # the fallback warning must fire ONLY on the fallback — a warning
    # on every parse would be noise that trains operators to ignore it
    assert _parse_conf_bytes("10MB") == 10 << 20
    assert _parse_conf_bytes("-1") == -1
    assert capsys.readouterr().err == ""


def test_gate_constants_sane():
    # the absolute ceiling must stay a meaningful cap above the
    # default-threshold row bound (10 MB / 16 B = 655,360 rows)
    assert (10 << 20) // LABEL_ROW_BYTES < BROADCAST_MAX_ROWS


def test_q20_without_broadcast_budget_skips_prefilter(spark):
    """Auto-broadcast disabled (-1) admits no forced broadcast of the
    supplier keys: Q20 keeps only its final semi-join, and its result
    still matches the oracle."""
    q = load_suite()["excess_shipment_q20"]
    key = "spark.sql.autoBroadcastJoinThreshold"
    prior = spark.conf.get(key)
    try:
        spark.conf.set(key, "-1")
        df = q.fn(spark, SF_TEST_DIR)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert plan.count("LeftSemi") == 1
        con = duckdb_conn(SF_TEST_DIR)
        try:
            compare(df, con.execute(q.oracle).df(), "excess_shipment_q20")
        finally:
            con.close()
    finally:
        spark.conf.set(key, prior)
