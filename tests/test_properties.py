"""Property tests (hypothesis) for the determinism-critical kernels.

The oracle gate depends on EXACT cross-engine float equality, which
rests on two invariants:
  1. the numpy kernels in functions/blas fold in the same IEEE order
     as the Catalyst/SQL expression chain they replaced;
  2. the scalar quantizers are single well-defined IEEE ops.
These pin both against reference implementations in pure Python.
"""

from __future__ import annotations

import hashlib
import math

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from miba_2023_capstone_rb_nlp_spark.functions.blas import (
    cos_matrix,
    fixed_np,
    seq_dot_matrix,
    seq_norm,
    seq_plane_dots,
    to_matrix,
)

DIM = st.integers(min_value=1, max_value=16)
finite_f32 = st.floats(
    min_value=-1e3, max_value=1e3, allow_nan=False, width=32
)


def vec(dim):
    return st.lists(finite_f32, min_size=dim, max_size=dim)


def _py_dot(a, b):
    """The defining semantics: left fold in float64 over f32 inputs."""
    acc = 0.0
    for x, y in zip(a, b):
        acc += float(np.float32(x)) * float(np.float32(y))
    return acc


@given(data=st.data())
@settings(max_examples=200, deadline=None)
def test_seq_dot_matches_left_fold_exactly(data):
    d = data.draw(DIM)
    a = np.array(data.draw(vec(d)), dtype=np.float32).astype(np.float64)
    b = np.array(data.draw(vec(d)), dtype=np.float32).astype(np.float64)
    got = seq_dot_matrix(a[None, :], b[None, :])[0, 0]
    want = _py_dot(a, b)
    assert got == want  # bit-exact, not approx


@given(data=st.data())
@settings(max_examples=200, deadline=None)
def test_seq_norm_matches_fold_then_sqrt(data):
    d = data.draw(DIM)
    a = np.array(data.draw(vec(d)), dtype=np.float32).astype(np.float64)
    got = seq_norm(a[None, :])[0]
    want = math.sqrt(_py_dot(a, a))
    assert got == want


@given(data=st.data())
@settings(max_examples=100, deadline=None)
def test_cos_matrix_matches_scalar_formula(data):
    d = data.draw(DIM)
    a = np.array(data.draw(vec(d)), dtype=np.float32).astype(np.float64)
    b = np.array(data.draw(vec(d)), dtype=np.float32).astype(np.float64)
    got = cos_matrix(a[None, :], b[None, :])[0, 0]
    denom = math.sqrt(_py_dot(a, a)) * math.sqrt(_py_dot(b, b))
    if denom == 0.0:
        assert np.isnan(got)  # NULL semantics
    else:
        assert got == _py_dot(a, b) / denom


@given(data=st.data())
@settings(max_examples=100, deadline=None)
def test_plane_dots_fold_order(data):
    d = data.draw(DIM)
    v = np.array(data.draw(vec(d)), dtype=np.float32).astype(np.float64)
    w = np.array(data.draw(vec(d)), dtype=np.float64)
    got = seq_plane_dots(v[None, :], w[None, :])[0, 0]
    acc = 0.0
    for i in range(d):
        acc += v[i] * w[i]
    assert got == acc


@given(
    x=st.floats(min_value=-1e6, max_value=1e6, allow_nan=False),
    scale=st.integers(min_value=0, max_value=6),
)
@settings(max_examples=300, deadline=None)
def test_fixed_np_is_floor_quantization(x, scale):
    got = fixed_np(np.array([x]), scale)[0]
    factor = float(10**scale)
    assert got == math.floor(x * factor) / factor


@given(s=st.text(min_size=0, max_size=40))
@settings(max_examples=300, deadline=None)
def test_minhash_double_hash_never_overflows(s):
    """h_i = md5_60 + i*md5_56 must stay in signed-64 for i ≤ 15 —
    the invariant that lets every engine use plain BIGINT."""
    m1 = int(hashlib.md5(("A:" + s).encode()).hexdigest()[:15], 16)
    m2 = int(hashlib.md5(("B:" + s).encode()).hexdigest()[:14], 16)
    for i in range(16):
        assert 0 <= m1 + i * m2 < 2**63


def test_to_matrix_empty_and_shapes():
    import pandas as pd

    assert to_matrix(pd.Series([], dtype=object), 4).shape == (0, 4)
    m = to_matrix(pd.Series([np.array([1, 2], dtype=np.float32)]), 2)
    assert m.dtype == np.float64 and m.shape == (1, 2)


def test_connected_components_long_chain_and_isolates(spark):
    """A 12-node path graph (one label-propagation round per hop would
    need 11 — stresses the iteration/convergence logic, unlike the
    shallow near-dup fixtures) plus isolated vertices."""
    from miba_2023_capstone_rb_nlp_spark.dedup.components import (
        connected_components,
    )

    verts = spark.range(0, 15).withColumnRenamed("id", "doc_id")
    chain = [(i, i + 1) for i in range(11)]  # 0-11 one path
    edges = spark.createDataFrame(chain + [(13, 14)], "da bigint, db bigint")
    out = connected_components(verts, edges, "doc_id", "da", "db", max_iter=20)
    got = {r["doc_id"]: r["component"] for r in out.collect()}
    assert all(got[i] == 0 for i in range(12))
    assert got[12] == 12 and got[13] == 13 and got[14] == 13


def test_star_components_path_1000(spark):
    """Large-star/small-star must crack a 1000-node path graph within
    ~12 rounds (propagation would need 999) — the O(log² n) claim."""
    from miba_2023_capstone_rb_nlp_spark.dedup.components import (
        connected_components,
    )

    verts = spark.range(0, 1000).withColumnRenamed("id", "doc_id")
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(999)], "da bigint, db bigint"
    )
    out = connected_components(verts, edges, "doc_id", "da", "db", max_iter=13)
    comps = {r["component"] for r in out.collect()}
    assert comps == {0}
    assert out.count() == 1000


def _union_find_components(n: int, edges: list[tuple[int, int]]) -> list:
    parent = list(range(n))

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        parent[max(ra, rb)] = min(ra, rb)  # root = min id of the set
    return [(i, find(i)) for i in range(n)]


def test_connected_components_match_union_find(spark):
    """The kernel agrees with a pure-Python union-find on a
    multi-component graph with isolates, duplicate and reversed edges
    and a self-loop, and on an empty edge set (every vertex its own
    component)."""
    import random

    from miba_2023_capstone_rb_nlp_spark.dedup.components import (
        connected_components,
    )

    rng = random.Random(11)
    edges_py = [(rng.randrange(80), rng.randrange(80)) for _ in range(60)]
    edges_py += [(5, 5), (10, 3), (3, 10)]  # self-loop + reversed dup
    verts = spark.range(0, 100).withColumnRenamed("id", "doc_id")
    for case in (edges_py, []):
        edges = spark.createDataFrame(case, "da bigint, db bigint")
        out = connected_components(verts, edges, "doc_id", "da", "db")
        got = sorted((r["doc_id"], r["component"]) for r in out.collect())
        assert got == _union_find_components(100, case)


@given(
    xs=st.lists(
        st.floats(min_value=-1e3, max_value=1e3, allow_nan=False),
        min_size=1,
        max_size=32,
    )
)
@settings(max_examples=200)
def test_quantize_int8_matches_scalar_model(xs):
    """clamp(floor(x*64), -127, 127) per element, exact int64 —
    the SQL mirror is GREATEST(-127, LEAST(127, floor(x*64.0)))."""
    from miba_2023_capstone_rb_nlp_spark.similarity.knn import quantize_int8

    out = quantize_int8(np.array([xs], dtype=np.float64))[0]
    for x, got in zip(xs, out):
        want = int(min(127.0, max(-127.0, math.floor(x * 64.0))))
        assert got == want


def test_pagerank_conserves_mass_and_is_positive(spark):
    """Fixed-round PageRank on a known graph: every rank is positive,
    total mass stays ~1 (within the per-round 1e-9 quantization loss
    bound: |V| * rounds * 1e-9), and a node with strictly heavier
    incident weight outranks a symmetric peer."""
    from tests.conftest import SF_TEST_DIR

    from miba_2023_capstone_rb_nlp_spark.suite import load_suite

    df = load_suite()["part_pagerank"].fn(spark, SF_TEST_DIR).toPandas()
    assert (df["pr"] > 0).all()
    n = len(df)
    assert abs(df["pr"].sum() - 1.0) < n * 4 * 1e-9 + 1e-6
    # every node's rank is bounded by the damping floor
    assert (df["pr"] >= 0.15 / n - 1e-9).all()


def test_decayed_value_bounds(spark):
    """Time-decay invariants on real data: each user's decayed value
    is ≤ their undecayed sum (weights ≤ 1) and ≥ half-life-floor of a
    30-day-old corpus (weights ≥ 2^(-span/7) > 0)."""
    from tests.conftest import SF_TEST_DIR

    from miba_2023_capstone_rb_nlp_spark import catalog
    from miba_2023_capstone_rb_nlp_spark.suite import load_suite

    out = load_suite()["user_decayed_value"].fn(spark, SF_TEST_DIR).toPandas()
    import pyspark.sql.functions as F

    raw = (
        catalog.table(spark, SF_TEST_DIR, "events")
        .groupBy("user_id")
        .agg(F.sum("value").alias("total"))
        .toPandas()
    )
    m = out.merge(raw, on="user_id")
    assert (m["decayed_value"] <= m["total"] + 1e-6).all()
    assert (m["decayed_value"] > 0).all()


def test_mad_fence_flags_planted_outlier(spark):
    """A hand-built frame with one wild point per group: the fence
    flags exactly that point and the clean group flags none."""
    import pyspark.sql.functions as F

    from miba_2023_capstone_rb_nlp_spark.functions.numeric import fixed

    rows = [("a", float(v)) for v in range(1, 20)] + [("a", 1000.0)]
    rows += [("b", 5.0)] * 10
    df = spark.createDataFrame(rows, "event_type string, value double")
    med = df.groupBy("event_type").agg(
        fixed(F.percentile("value", 0.5), 6).alias("med")
    )
    dev = df.join(F.broadcast(med), "event_type").select(
        "event_type", F.abs(F.col("value") - F.col("med")).alias("ad")
    )
    mad = dev.groupBy("event_type").agg(
        fixed(F.percentile("ad", 0.5), 6).alias("mad")
    )
    out = (
        dev.join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.sum(
                F.when(F.col("ad") > F.lit(4.4478) * F.col("mad"), 1).otherwise(0)
            ).alias("n_outliers")
        )
        .toPandas()
        .set_index("event_type")["n_outliers"]
    )
    assert out["a"] == 1
    assert out["b"] == 0


def test_bigram_lm_flags_the_shuffled_doc(spark):
    """A corpus of one repeated fluent sentence plus one doc with the
    same tokens in scrambled (unseen-bigram) order: the scrambled doc
    must score strictly lower and be the flagged one."""
    import pandas as pd

    from miba_2023_capstone_rb_nlp_spark.suite.text import (
        q_bigram_lm_perplexity,
    )

    fluent = "the cat sat on the mat"
    scrambled = "mat the on sat cat the"
    docs = pd.DataFrame(
        {
            "doc_id": [0, 1, 2, 3],
            "text": [fluent, fluent, fluent, scrambled],
            "lang": ["en"] * 4,
            "source": ["s"] * 4,
            "n_chars": [len(fluent)] * 3 + [len(scrambled)],
        }
    )
    import os
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(docs).write.parquet(os.path.join(d, "documents.parquet"))
        out = q_bigram_lm_perplexity(spark, d).toPandas().set_index("doc_id")
    assert out.loc[3, "avg_logp"] < out.loc[0, "avg_logp"]
    assert bool(out.loc[3, "flagged"]) and not bool(out.loc[0, "flagged"])


def test_data_quality_report_catches_planted_violations(spark, tmp_path):
    """The constraint report on a corpus with one duplicated key, one
    null custkey, one orphan FK and one non-positive price: every
    check must fail with the exact expected metric (on the clean
    driver tables all four pass, so this is the non-vacuity proof)."""
    import os

    import pandas as pd

    from miba_2023_capstone_rb_nlp_spark.suite.relational import (
        q_data_quality_report,
    )

    orders = pd.DataFrame(
        {
            "o_orderkey": [1, 1, 2, 3],  # dup key
            "o_custkey": pd.array([10, 10, None, 99], dtype="Int64"),  # null + orphan(99)
            "o_orderstatus": ["O"] * 4,
            "o_totalprice": [5.0, 6.0, 7.0, -1.0],  # one non-positive
            "o_orderdate": pd.to_datetime(["2024-01-01"] * 4),
            "o_orderpriority": ["1-URGENT"] * 4,
        }
    )
    customer = pd.DataFrame(
        {
            "c_custkey": [10, 11],
            "c_name": ["a", "b"],
            "c_nationkey": [0, 0],
            "c_mktsegment": ["X", "X"],
        }
    )
    d = str(tmp_path)
    spark.createDataFrame(orders).write.parquet(os.path.join(d, "orders.parquet"))
    spark.createDataFrame(customer).write.parquet(os.path.join(d, "customer.parquet"))
    out = (
        q_data_quality_report(spark, d)
        .toPandas()
        .set_index("check_name")
    )
    assert not out.loc["orderkey_unique", "passed"]
    assert out.loc["orderkey_unique", "metric"] == 0.75  # 3 keys / 4 rows
    assert not out.loc["custkey_complete", "passed"]
    assert out.loc["custkey_complete", "metric"] == 0.75  # 3 non-null / 4
    assert not out.loc["custkey_fk_integrity", "passed"]
    assert out.loc["custkey_fk_integrity", "metric"] == 0.5  # 2 match / 4
    assert not out.loc["totalprice_positive", "passed"]
    assert out.loc["totalprice_positive", "metric"] == 0.75


def test_transition_matrix_rows_sum_to_one(spark):
    """Per current-type transition probabilities sum to ~1 (within
    the 1e-6 per-cell quantization × |types|)."""
    from tests.conftest import SF_TEST_DIR

    from miba_2023_capstone_rb_nlp_spark.suite import load_suite

    df = (
        load_suite()["event_transition_matrix"]
        .fn(spark, SF_TEST_DIR)
        .toPandas()
    )
    sums = df.groupby("cur")["p"].sum()
    assert ((sums - 1.0).abs() < 6e-6).all()


def test_cusum_finds_planted_level_shift(spark):
    """A daily series that doubles its rate halfway through: the
    changepoint day must land at (or next to) the shift boundary."""
    import datetime

    import pandas as pd

    from miba_2023_capstone_rb_nlp_spark.suite.events import (
        q_events_cusum_changepoint,
    )

    rows = []
    eid = 0
    for day in range(20):
        rate = 2 if day < 10 else 8
        for k in range(rate):
            rows.append(
                (
                    eid,
                    datetime.datetime(2024, 3, 1 + day, 12, 0, k),
                    1,
                    "click",
                    1.0,
                    "{}",
                )
            )
            eid += 1
    pdf = pd.DataFrame(
        rows, columns=["event_id", "ts", "user_id", "event_type", "value", "props"]
    )
    import os
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(pdf).write.parquet(os.path.join(d, "events.parquet"))
        out = q_events_cusum_changepoint(spark, d).toPandas()
    day = out.loc[0, "change_day"].day
    # CUSUM of a clean level shift peaks AT the last pre-shift day
    assert day in (10, 11)


def test_ttest_separates_planted_groups(spark):
    """Two value distributions with distinct means: the planted
    type's |t| must dwarf a same-mean control's."""
    import pandas as pd

    from miba_2023_capstone_rb_nlp_spark.suite.events import (
        q_events_value_ttest,
    )

    rows = []
    eid = 0
    for i in range(200):
        rows.append((eid, pd.Timestamp("2024-01-01"), 1, "click", 10.0 + (i % 3), "{}")); eid += 1
        rows.append((eid, pd.Timestamp("2024-01-01"), 1, "view", 10.0 + ((i + 1) % 3), "{}")); eid += 1
        rows.append((eid, pd.Timestamp("2024-01-01"), 1, "purchase", 50.0 + (i % 3), "{}")); eid += 1
    pdf = pd.DataFrame(
        rows, columns=["event_id", "ts", "user_id", "event_type", "value", "props"]
    )
    import os
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(pdf).write.parquet(os.path.join(d, "events.parquet"))
        out = (
            q_events_value_ttest(spark, d).toPandas().set_index("event_type")
        )
    assert abs(out.loc["purchase", "t_stat"]) > 50
    assert abs(out.loc["click", "t_stat"]) < abs(out.loc["purchase", "t_stat"]) / 5


def test_fuzzy_count_filter_no_false_negatives(spark):
    """No false negatives in the completeness regime: every pair of
    length-≥-MIN_LEN strings within edit distance d must be found
    (the count-filter bound ≥ 1 there guarantees a shared gram, so
    the equi-join candidate generation is complete). Checked against
    a brute-force Levenshtein join over an adversarial vocabulary
    (repeated grams, shared prefixes/suffixes, same-length swaps);
    sub-MIN_LEN strings are excluded by the operator's contract and
    must produce nothing."""
    import duckdb

    import miba_2023_capstone_rb_nlp_spark.suite.dedup as dd
    from miba_2023_capstone_rb_nlp_spark import catalog

    vocab = [
        "aaaa", "aaab", "abab", "abba", "baba",
        "xyxy", "xyxyx", "yxyxy", "xxyy",
        "prefix one", "prefix two", "prefix tree",
        "suffix red", "suffix rod", "suffix road",
        "ab", "ba", "abc", "acb", "bac",
    ]
    crafted = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vocab)], "p_partkey bigint, p_name string"
    )
    orig = catalog.table
    try:
        catalog.table = lambda _s, _d, name: crafted
        got = {
            (r["na"], r["nb"]): r["dist"]
            for r in dd.q_fuzzy_name_matches(spark, "unused").collect()
        }
    finally:
        catalog.table = orig
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE v(s VARCHAR); INSERT INTO v VALUES "
        + ",".join(f"('{s}')" for s in vocab)
    )
    want = {
        (a, b): d
        for a, b, d in con.execute(
            "SELECT a.s, b.s, levenshtein(a.s, b.s) FROM v a JOIN v b"
            " ON a.s < b.s WHERE levenshtein(a.s, b.s) <= 2"
            " AND length(a.s) >= 6 AND length(b.s) >= 6"
        ).fetchall()
    }
    assert got == want
    assert want, "vocab must exercise the regime non-vacuously"


def test_skyline_partition_invariant(spark):
    """Two-phase skyline correctness does not depend on the layout:
    adversarial repartitionings (all-in-one, by-size, round-robin
    many) must produce the identical frontier, and every emitted row
    must be undominated while every dropped row is dominated."""
    import miba_2023_capstone_rb_nlp_spark.suite.relational as rel
    from miba_2023_capstone_rb_nlp_spark import catalog
    from tests.conftest import SF_TEST_DIR

    base = catalog.table(spark, SF_TEST_DIR, "part")
    results = []
    for repart in (
        lambda d: d.coalesce(1),
        lambda d: d.repartition(16),
        lambda d: d.repartition("p_size"),
    ):
        orig = catalog.table
        try:
            catalog.table = lambda _s, _d, name: repart(base)
            rows = sorted(
                map(
                    tuple,
                    rel.q_part_price_skyline(spark, "unused").collect(),
                )
            )
        finally:
            catalog.table = orig
        results.append(rows)
    assert results[0] == results[1] == results[2]
    frontier = {(p, sz) for _, p, sz in results[0]}
    allrows = [
        (float(r["p_retailprice"]), r["p_size"])
        for r in base.select("p_retailprice", "p_size").collect()
    ]
    for fp, fsz in frontier:
        assert not any(
            (p <= fp and sz >= fsz and (p < fp or sz > fsz)) for p, sz in allrows
        )


def test_prefix_filter_equals_exhaustive_jaccard(spark):
    """The prefix-filtered join must return EXACTLY the exhaustive
    shared-shingle join's pairs at the same threshold — on the real
    corpus and on an adversarial one (near-identical docs, a hot
    shingle shared by everything, docs whose only overlap is their
    commonest shingle — the false-negative trap if prefixes were
    computed with float ceil)."""
    import pyspark.sql.functions as F

    import miba_2023_capstone_rb_nlp_spark.suite.dedup as dd
    from miba_2023_capstone_rb_nlp_spark.dedup.jaccard import jaccard_pairs
    from tests.conftest import SF_TEST_DIR

    def pairs_of(df):
        return sorted(
            (r["da"], r["db"], r["inter"], r["jaccard"]) for r in df.collect()
        )

    # real corpus
    got = pairs_of(dd.q_prefix_jaccard_pairs(spark, SF_TEST_DIR))
    want = pairs_of(
        jaccard_pairs(
            dd._docs(spark, SF_TEST_DIR), "text", "doc_id",
            n=3, threshold=0.3, candidate_budget=None,
        ).select(
            "da", "db", F.col("inter").cast("bigint").alias("inter"), "jaccard"
        )
    )
    assert got == want and len(got) > 0

    # adversarial corpus
    hot = "the common tail marker"
    texts = [
        "alpha beta gamma delta epsilon zeta " + hot,
        "alpha beta gamma delta epsilon eta " + hot,       # near-dup of 0
        "completely different words here now today " + hot,
        "unrelated content entirely separate tokens " + hot,
        "alpha beta gamma delta epsilon zeta " + hot,      # exact dup of 0
    ]
    crafted = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id bigint, text string"
    )
    orig = dd._docs
    try:
        dd._docs = lambda _s, _d: crafted
        got2 = pairs_of(dd.q_prefix_jaccard_pairs(spark, "unused"))
    finally:
        dd._docs = orig
    want2 = pairs_of(
        jaccard_pairs(
            crafted, "text", "doc_id", n=3, threshold=0.3,
            candidate_budget=None,
        ).select(
            "da", "db", F.col("inter").cast("bigint").alias("inter"), "jaccard"
        )
    )
    assert got2 == want2 and (0, 4) in {(a, b) for a, b, _, _ in got2}
