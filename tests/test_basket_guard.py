"""part_affinity_topk's basket guard: the orderkey self-join refuses
oversized baskets instead of assuming they stay small, and
``guard_max_basket`` memoizes its scalar per source fingerprint, so a
second check of unchanged data runs no Spark job at all."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from miba_2023_capstone_rb_nlp_spark import catalog, suite
from tests.conftest import SF_TEST_DIR
from tests.parity import write_table

SUITE = suite.load_suite()
SF = SF_TEST_DIR


def test_affinity_basket_guard_trips(spark, tmp_path):
    n = 1_001
    li = spark.createDataFrame(
        [(1, i) for i in range(n)], "l_orderkey bigint, l_partkey bigint"
    )
    sf_dir = write_table(spark, tmp_path, "lineitem", li)
    with pytest.raises(ValueError, match="largest basket"):
        SUITE["part_affinity_topk"].fn(spark, sf_dir)


def test_affinity_guard_passes_bounded_baskets(spark, tmp_path):
    li = spark.createDataFrame(
        [(o, p) for o in range(4) for p in range(3)],
        "l_orderkey bigint, l_partkey bigint",
    )
    sf_dir = write_table(spark, tmp_path, "lineitem", li)
    out = SUITE["part_affinity_topk"].fn(spark, sf_dir)
    assert out.count() > 0


def test_basket_guard_memoized_no_second_scan(spark):
    """After one check for a given (fingerprint, cap), the guard must
    answer from the memo: a second call gets a DataFrame that would
    THROW if any job ran over it."""
    from miba_2023_capstone_rb_nlp_spark.suite.relational import (
        _BASKET_GUARD_MEMO,
        guard_max_basket,
    )

    li = catalog.table(spark, SF, "lineitem")
    basket = li.select("l_orderkey", "l_partkey").distinct()
    guard_max_basket(basket, "memo-test", sf_dir=SF)
    fp = catalog.source_fingerprint(SF, "lineitem")
    assert any(k[0] == fp for k in _BASKET_GUARD_MEMO)
    # poisoned frame: the GROUPING KEY itself is the raise_error
    # expression (a poison in a non-grouping column could be pruned
    # by Catalyst, making the test vacuous), with the same column set as the first call so the derivation-token memo
    # key matches. A pass proves no job ran over it.
    poisoned = spark.range(1).select(
        F.raise_error(F.lit("guard re-scanned")).cast("bigint").alias(
            "l_orderkey"
        ),
        F.col("id").alias("l_partkey"),
    )
    # liveness control: the poison DOES fire when evaluated, so the
    # memo assertion below cannot pass by accident
    import pytest as _pytest

    with _pytest.raises(Exception, match="guard re-scanned"):
        poisoned.groupBy("l_orderkey").count().collect()
    guard_max_basket(poisoned, "memo-test", sf_dir=SF)  # must not raise

