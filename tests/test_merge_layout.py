"""The bucketed merge layout and the streaming upsert merge:

- events_streaming_upsert's cross-batch merge keeps NULL user_ids as
  ONE state group, like its oracle's GROUP BY (the merge joins with
  eqNullSafe, so a NULL key can't fragment into one state row per
  micro-batch);
- ensure_merge_layout re-registers an existing bucketed layout in a
  fresh catalog WITHOUT rewriting the files, and rewrites them when
  the bucket count changes.
"""

from __future__ import annotations

import decimal
import os

from pyspark.sql import functions as F

from miba_2023_capstone_rb_nlp_spark import catalog, suite
from miba_2023_capstone_rb_nlp_spark.suite.streaming_live import (
    merge_user_state,
)
from tests.conftest import SF_TEST_DIR

SUITE = suite.load_suite()
SF = SF_TEST_DIR


def _batch(spark, rows):
    return spark.createDataFrame(rows, "user_id bigint, value double")


def _agg(df):
    return df.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("b_n"),
        F.sum(F.col("value").cast("decimal(18,2)"))
        .cast("decimal(18,2)")
        .alias("b_sum"),
    )


def test_upsert_merge_null_keys_stay_one_group(spark):
    """Two micro-batches, both containing NULL user_ids: the merged
    state must hold exactly ONE NULL row whose totals equal the
    one-shot aggregate — not one fragment per batch."""
    b1 = _batch(spark, [(None, 1.5), (None, 2.5), (7, 1.0)])
    b2 = _batch(spark, [(None, 4.0), (7, 2.0), (8, 3.0)])
    empty = spark.createDataFrame(
        [], "user_id bigint, n_events bigint, sum_dec decimal(18,2)"
    )
    state = merge_user_state(merge_user_state(empty, _agg(b1)), _agg(b2))
    rows = {r["user_id"]: r for r in state.collect()}
    assert len(rows) == 3  # NULL, 7, 8 — NOT two NULL fragments
    assert rows[None]["n_events"] == 3
    assert rows[None]["sum_dec"] == decimal.Decimal("8.00")
    assert rows[7]["n_events"] == 2 and rows[8]["n_events"] == 1
    # and batch-split invariance: one-shot == two-batch composition
    oneshot = merge_user_state(empty, _agg(b1.unionAll(b2)))
    assert sorted(
        oneshot.collect(), key=lambda r: (r["user_id"] is None, r["user_id"])
    ) == sorted(
        state.collect(), key=lambda r: (r["user_id"] is None, r["user_id"])
    )


def test_merge_layout_reregisters_without_rewrite(spark):
    """Dropping the catalog entries (a fresh session) must NOT force
    a rewrite: ensure_merge_layout re-registers the bucketed tables
    over the existing files via CREATE TABLE ... LOCATION."""
    from miba_2023_capstone_rb_nlp_spark.suite.relational import (
        ensure_merge_layout,
    )

    b, c = ensure_merge_layout(spark, SF)  # materialize once
    root = catalog.warehouse_dir("merge_bucketed", catalog.sf_name(SF))
    stamps = [os.path.join(root, t, catalog._FINGERPRINT_FILE) for t in (b, c)]
    mtimes = [os.stat(s).st_mtime_ns for s in stamps]
    for t in (b, c):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    b2, c2 = ensure_merge_layout(spark, SF)
    assert (b2, c2) == (b, c)
    assert [os.stat(s).st_mtime_ns for s in stamps] == mtimes  # no rewrite
    n_orders = catalog.table(spark, SF, "orders").count()
    assert spark.table(b2).count() == n_orders
    # the re-registered table still carries bucket metadata: the
    # steady merge over it must stay exchange-free
    df = SUITE["orders_merge_steady"].fn(spark, SF)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange hashpartitioning(o_orderkey" not in plan


def test_merge_layout_invalidates_on_bucket_count_change(spark, monkeypatch):
    """The layout stamp covers the BUCKET COUNT, not just source
    data: declaring INTO 16 BUCKETS over files physically bucketed
    mod 8 would silently pair wrong buckets in the exchange-free
    join, so a bucket-count change must force a rewrite."""
    from miba_2023_capstone_rb_nlp_spark.suite import relational

    b, c = relational.ensure_merge_layout(spark, SF)
    root = catalog.warehouse_dir("merge_bucketed", catalog.sf_name(SF))
    stamp = os.path.join(root, b, catalog._FINGERPRINT_FILE)
    mtime = os.stat(stamp).st_mtime_ns
    relational.ensure_merge_layout(spark, SF)
    assert os.stat(stamp).st_mtime_ns == mtime  # unchanged params reuse
    monkeypatch.setattr(relational, "_MERGE_BUCKETS", 16)
    b2, _ = relational.ensure_merge_layout(spark, SF)
    assert b2 == b
    assert os.stat(stamp).st_mtime_ns != mtime  # rewrite forced
    # restore the mod-8 layout for any later test in this session
    monkeypatch.undo()
    relational.ensure_merge_layout(spark, SF)

