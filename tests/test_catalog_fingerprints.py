"""Catalog keys and the session pin: layout keys (``sf_name``) tell
apart same-basename directories, a missing source table raises
instead of hashing to the shared empty-input sentinel, and the UTC
pin warns (not silently flips) a non-UTC session."""

from __future__ import annotations

import warnings

import pytest

from miba_2023_capstone_rb_nlp_spark import catalog
from tests.conftest import SF_TEST_DIR


def test_sf_name_distinguishes_same_basename_dirs(tmp_path):
    """Two different directories sharing a leaf name must not share
    layout keys: sf_name suffixes an absolute-path
    hash."""
    a = tmp_path / "one" / "sf0.1"
    b = tmp_path / "two" / "sf0.1"
    a.mkdir(parents=True)
    b.mkdir(parents=True)
    na, nb = catalog.sf_name(str(a)), catalog.sf_name(str(b))
    assert na != nb
    assert na.startswith("sf0_1_") and nb.startswith("sf0_1_")
    # stable for the same path
    assert catalog.sf_name(str(a)) == na


def test_source_fingerprint_missing_table_raises(tmp_path):
    """A missing source table must raise, not hash to the shared
    empty-input sentinel (which would alias every absent table into
    one memo/layout key)."""
    import pytest as _pytest

    with _pytest.raises(FileNotFoundError):
        catalog.source_fingerprint(str(tmp_path), "lineitem")


def test_tz_override_warns_not_silent(spark, monkeypatch):
    # _TZ_WARNED is a warn-once memo keyed by (session, tz); another
    # test may already have consumed the America/New_York warning on
    # the shared session — reset it so this test is order-independent
    monkeypatch.setattr(catalog, "_TZ_WARNED", set())
    prev = spark.conf.get("spark.sql.session.timeZone", None)
    try:
        spark.conf.set("spark.sql.session.timeZone", "America/New_York")
        with pytest.warns(UserWarning, match="timeZone=UTC"):
            catalog.table(spark, SF_TEST_DIR, "region")
        assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
        # UTC → UTC is silent
        with warnings.catch_warnings():
            warnings.simplefilter("error")
            catalog.table(spark, SF_TEST_DIR, "region")
    finally:
        if prev is not None:
            spark.conf.set("spark.sql.session.timeZone", prev)

