"""Catalog keys, the session pin and the schema memo: layout keys
(``sf_name``) tell apart same-basename directories, a missing source
table raises instead of hashing to the shared empty-input sentinel,
the UTC pin warns (not silently flips) a non-UTC session, and a
memoized parquet read launches no job yet returns what inference
would, re-inferring a rewritten file."""

from __future__ import annotations

import os
import shutil
import warnings

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from miba_2023_capstone_rb_nlp_spark import catalog
from perfbench.spans import SparkStatus
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


def _jobs(spark, fn):
    """(result of ``fn()``, Spark jobs it launched), counted by the
    status-store job watermark."""
    status = SparkStatus(spark)
    job0 = status.marks()[1]
    out = fn()
    return out, status.marks()[1] - job0


def test_second_table_read_launches_no_job(spark, tmp_path):
    shutil.copy(os.path.join(SF_TEST_DIR, "region.parquet"), tmp_path)
    first, n_first = _jobs(spark, lambda: catalog.table(spark, str(tmp_path), "region"))
    second, n_second = _jobs(spark, lambda: catalog.table(spark, str(tmp_path), "region"))
    assert (n_first, n_second) == (1, 0)
    assert second.schema == first.schema


@pytest.mark.parametrize(
    "columns",
    [{"r_regionkey": [0, 1], "r_label": ["a", "b"]},  # renamed column
     {"r_regionkey": [0, 1], "r_name": ["a", "b"], "r_extra": [1.5, 2.5]}],
    ids=["renamed", "added"],
)
def test_rewritten_table_is_inferred_again(spark, tmp_path, columns):
    path = tmp_path / "region.parquet"
    pq.write_table(pa.table({"r_regionkey": [0, 1], "r_name": ["a", "b"]}), path)
    for _ in range(2):  # the second read is a memo hit
        assert catalog.table(spark, str(tmp_path), "region").columns == [
            "r_regionkey", "r_name"]
    pq.write_table(pa.table(columns), path)
    df = catalog.table(spark, str(tmp_path), "region")
    assert df.columns == list(columns)
    assert sorted(tuple(r) for r in df.collect()) == sorted(
        zip(*columns.values()))


@pytest.mark.parametrize("name", catalog.TABLES)
def test_memo_hit_reads_what_inference_reads(spark, name):
    """A memo hit passes the stored StructType back to the reader; the
    result must equal a fresh inference: same schema (nullability and
    metadata included) and the same rows, events.ts normalized to the
    same TIMESTAMP."""
    catalog.table(spark, SF_TEST_DIR, name)  # fill the memo
    hit, jobs = _jobs(spark, lambda: catalog.table(spark, SF_TEST_DIR, name))
    assert jobs == 0
    inferred = spark.read.parquet(os.path.join(SF_TEST_DIR, f"{name}.parquet"))
    if name == "events":
        inferred = catalog.normalize_event_ts(inferred)
        assert dict(hit.dtypes)["ts"] == "timestamp"
    assert hit.schema == inferred.schema
    assert hit.collect() == inferred.collect()


def test_executor_overwrite_returns_the_second_runs_table(spark, tmp_path):
    """The executor rewrites its raw and clean files in place; the
    second overwrite run reads its own rows, not the first run's
    through a stale memo entry."""
    from miba_2023_capstone_rb_nlp_spark.executor import PipelineExecutor
    from tests.test_sources import FileSource, _mk_article

    def urls(tag, n):
        out = []
        for i in range(n):
            f = tmp_path / f"{tag}{i}.html"
            f.write_text(_mk_article(i))
            out.append(f.as_uri())
        return out

    runs = [urls("first", 4), urls("second", 2)]
    got = []
    for run in runs:
        ex = PipelineExecutor(
            spark, data_dir=str(tmp_path / "data"), sources=[FileSource(run)]
        )
        clean = ex.execute("memo", max_articles=10, overwrite=True)
        got.append({r["link"] for r in clean.select("link").collect()})
    assert got == [set(run) for run in runs]
