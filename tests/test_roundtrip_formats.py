"""Value-by-value lossless proof for the at-rest format round-trips
(r8 review #2): the suite entries' aggregate fingerprints run over
the synthetic events table, which contains NO NULL user_ids and NO
escapable characters — so the NULL-as-absent-element, quote/entity
escaping, and full-precision double paths would otherwise ship with
zero executed evidence. This crafted corpus hits all of them and
compares row-by-row, not through an aggregate.

Doubles are chosen adversarially: values with no exact decimal
representation (0.1, 1/3), the extremes of the shortest-repr
formatter (1e-308 subnormal neighborhood, 2**53 boundary), and a
negative-zero — bit-identity is asserted via struct packing, since
-0.0 == 0.0 under float equality.
"""

from __future__ import annotations

import math
import os
import struct

import pytest

ROWS = [
    # (event_type, user_id, value)
    ('plain', 1, 0.1),
    ('quote "inside" text', 2, 1.0 / 3.0),
    ("comma, and 'single' quotes", 3, -0.0),
    ("xml <tag> & ampersand", 4, 2.0**53 - 1.0),
    ("newline-free but unicode é∆", 5, 5e-324),  # smallest subnormal
    ("null-key row", None, 123456.789012345),
    ("null-value row", 7, None),
]
SCHEMA = "event_type string, user_id bigint, value double"


def _bits(x):
    if x is None:
        return None
    if isinstance(x, float) and math.isnan(x):
        return "nan"
    return struct.pack("<d", float(x)).hex()


def _canon(rows):
    out = []
    for r in rows:
        out.append((r["event_type"], r["user_id"], _bits(r["value"])))
    return sorted(out, key=lambda t: (t[0] or "", t[1] or -1, t[2] or ""))


def _assert_lossless(spark, df, back):
    got = _canon(back.collect())
    want = _canon(df.collect())
    assert got == want


@pytest.fixture()
def corpus(spark):
    return spark.createDataFrame(ROWS, SCHEMA)


def test_csv_roundtrip_lossless(spark, corpus, tmp_path):
    p = os.path.join(str(tmp_path), "csv")
    corpus.write.options(header=True, quote='"', escape='"').csv(p)
    back = (
        spark.read.schema(SCHEMA)
        .options(header=True, quote='"', escape='"')
        .csv(p)
    )
    _assert_lossless(spark, corpus, back)


def test_json_roundtrip_lossless(spark, corpus, tmp_path):
    p = os.path.join(str(tmp_path), "json")
    corpus.write.json(p)
    back = spark.read.schema(SCHEMA).json(p)
    _assert_lossless(spark, corpus, back)


def test_orc_roundtrip_lossless(spark, corpus, tmp_path):
    p = os.path.join(str(tmp_path), "orc")
    corpus.write.orc(p)
    back = spark.read.schema(SCHEMA).orc(p)
    _assert_lossless(spark, corpus, back)


def test_xml_roundtrip_lossless(spark, corpus, tmp_path):
    p = os.path.join(str(tmp_path), "xml")
    (
        corpus.write.option("rootTag", "events")
        .option("rowTag", "event")
        .format("xml")
        .save(p)
    )
    back = (
        spark.read.schema(SCHEMA).option("rowTag", "event")
        .format("xml").load(p)
    )
    _assert_lossless(spark, corpus, back)


@pytest.mark.parametrize("fmt", ["json", "csv", "orc", "xml"])
def test_roundtrip_layouts_keyed_per_sf_dir(spark, tmp_path, monkeypatch, fmt):
    """Two scale-factor directories that share a basename get their
    own at-rest copy: building the second entry must not overwrite the
    copy the first entry's lazy plan reads."""
    from miba_2023_capstone_rb_nlp_spark import catalog
    from miba_2023_capstone_rb_nlp_spark.suite import REGISTRY, load_suite

    load_suite()
    build = REGISTRY[f"events_{fmt}_roundtrip"].fn
    monkeypatch.setattr(
        catalog, "warehouse_dir",
        lambda *parts: os.path.join(str(tmp_path), "wh", *parts),
    )
    plans = []
    for root, n in (("a", 3), ("b", 5)):
        sf = tmp_path / root / "sf"
        sf.mkdir(parents=True)
        rows = [("click", i, float(i)) for i in range(n)]
        spark.createDataFrame(rows, SCHEMA).write.parquet(str(sf / "events.parquet"))
        plans.append(build(spark, str(sf)))
    assert [r["n"] for r in plans[0].collect()] == [3]
    assert [r["n"] for r in plans[1].collect()] == [5]
