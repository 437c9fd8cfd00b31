"""Suite-level persists (``persist_tracked``) release when the next
entry is invoked, and survive a re-invocation of the same entry."""

from __future__ import annotations

from miba_2023_capstone_rb_nlp_spark import suite
from tests.conftest import SF_TEST_DIR

SUITE = suite.load_suite()


def test_suite_persists_release_on_next_entry(spark):
    sf = SF_TEST_DIR
    df = SUITE["prefix_jaccard_pairs"].fn(spark, sf)
    assert len(suite._LIVE_PERSISTS) >= 1
    tracked = list(suite._LIVE_PERSISTS)
    df.count()  # materialize: the caches fill
    # re-invoking the SAME entry (a bench rep) must NOT release —
    # the fresh persist dedups in CacheManager and reps run warm
    SUITE["prefix_jaccard_pairs"].fn(spark, sf)
    assert len(suite._LIVE_PERSISTS) > len(tracked)
    assert all(t.storageLevel.useMemory for t in tracked)
    # a DIFFERENT entry releases everything tracked so far
    SUITE["lang_id"].fn(spark, sf)
    assert suite._LIVE_PERSISTS == []
    assert all(not t.storageLevel.useMemory for t in tracked)

