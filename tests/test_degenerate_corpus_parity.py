"""Oracle parity on small hand-built corpora that hit an edge the
benchmark tables do not:

- brand_price_regression's zero-denominator groups (constant-quantity
  or n=1 brands) yield NULL in BOTH engines;
- bpe_encode_stats on a corpus admitting fewer than k merges keeps
  one row per doc (the oracle's LEFT JOIN);
- hybrid_rrf_search's dense tokenizer lowercases like the sparse side;
- phrase_match_docs joins one branch per PHRASE POSITION, so phrases
  with repeated terms stay correct under the rarest-first join order;
- neardup_components on a near-dup chain whose diameter is the corpus
  size.
"""

from __future__ import annotations

import os

import duckdb

from miba_2023_capstone_rb_nlp_spark import suite
from tests.parity import compare, write_table

SUITE = suite.load_suite()


def test_brand_regression_degenerate_groups_null_parity(spark, tmp_path):
    # brand A: constant quantity (den=0), brand B: well-posed,
    # brand C: single row (den=0) — NULL slope/intercept/r² both sides
    li = spark.createDataFrame(
        [
            (1, 5.0, 100.0),
            (1, 5.0, 110.0),
            (2, 1.0, 10.0),
            (2, 2.0, 22.0),
            (2, 3.0, 29.0),
            (3, 7.0, 70.0),
        ],
        "l_partkey bigint, l_quantity double, l_extendedprice double",
    )
    part = spark.createDataFrame(
        [(1, "A"), (2, "B"), (3, "C")], "p_partkey bigint, p_brand string"
    )
    sf_dir = write_table(spark, tmp_path, "lineitem", li)
    write_table(spark, tmp_path, "part", part)
    con = duckdb.connect()
    for t in ("lineitem", "part"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{sf_dir}/{t}.parquet/*.parquet')"
        )
    spark_df = SUITE["brand_price_regression"].fn(spark, sf_dir)
    oracle = con.sql(SUITE["brand_price_regression"].oracle).df()
    compare(spark_df, oracle, "brand_price_regression/degenerate")
    rows = {r["brand"]: r for r in spark_df.collect()}
    assert rows["A"]["slope"] is None and rows["C"]["r2"] is None
    assert rows["B"]["slope"] is not None


def test_bpe_degenerate_corpus_parity(spark, tmp_path):
    # corpus admits 2 merges, not _BPE_N_MERGES=5: rounds 3-5 learn
    # nothing, and the encode oracle must still emit one row per doc
    docs = spark.createDataFrame(
        [(1, "ab ab ab"), (2, "ab cd"), (3, "cd cd")],
        "doc_id bigint, text string",
    )
    sf_dir = write_table(spark, tmp_path, "documents", docs)
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{sf_dir}/documents.parquet/*.parquet')"
    )
    for name in ("bpe_merge_learn", "bpe_encode_stats"):
        spark_df = SUITE[name].fn(spark, sf_dir)
        oracle = con.sql(SUITE[name].oracle).df()
        compare(spark_df, oracle, f"{name}/degenerate")
    enc = SUITE["bpe_encode_stats"].fn(spark, sf_dir)
    assert enc.count() == 3  # one row per doc despite missing merges


def test_hybrid_dense_side_case_insensitive(spark, tmp_path):
    """'Spark' and 'spark' corpora must produce IDENTICAL hybrid
    rankings — the dense tokenizer lowercases like the sparse one."""
    results = []
    for variant, text in (("cap", "Spark join window"), ("low", "spark join window")):
        d = str(tmp_path / variant)
        os.makedirs(d, exist_ok=True)
        spark.createDataFrame(
            [(1, text), (2, "filter scan loop"), (3, "alpha beta gamma")],
            "doc_id bigint, text string",
        ).write.mode("overwrite").parquet(os.path.join(d, "documents.parquet"))
        results.append(
            sorted(
                SUITE["hybrid_rrf_search"].fn(spark, d).collect(),
                key=lambda r: r["doc_id"],
            )
        )
    assert results[0] == results[1]
    # and the query-term doc actually outranks the non-matching ones
    by_rrf = sorted(results[0], key=lambda r: -r["rrf"])
    assert by_rrf[0]["doc_id"] == 1


def test_phrase_match_handles_repeated_terms(spark, tmp_path, monkeypatch):
    """A phrase with a REPEATED term needs one join branch per
    POSITION, not per distinct term: with
    PHRASE=('a','b','a'), 'a b a b a' matches at head positions 1 and
    3, and 'a b c' matches nowhere."""
    from miba_2023_capstone_rb_nlp_spark.suite import retrieval

    monkeypatch.setattr(retrieval, "PHRASE", ("a", "b", "a"))
    monkeypatch.setattr(retrieval, "_PHRASE_DF_MEMO", {})
    d = str(tmp_path / "corpus")
    os.makedirs(d, exist_ok=True)
    spark.createDataFrame(
        [(1, "a b a b a"), (2, "a b c"), (3, "x a b a y")],
        "doc_id bigint, text string",
    ).write.mode("overwrite").parquet(os.path.join(d, "documents.parquet"))
    rows = {
        r["doc_id"]: (r["n_matches"], r["first_pos"])
        for r in retrieval.q_phrase_match_docs(spark, d).collect()
    }
    assert rows == {1: (2, 1), 3: (1, 2)}



def test_neardup_components_chain_corpus_parity(spark, tmp_path):
    """Doc i is the 8 words w{4i} … w{4i+7}, so only neighbouring docs
    share trigram shingles (Jaccard 0.2): the 30 docs form ONE
    component whose diameter is 29 hops. The kernel must reach its
    fixpoint in O(log² n) rounds, not one round per hop."""
    docs = spark.createDataFrame(
        [
            (i, " ".join(f"w{j}" for j in range(4 * i, 4 * i + 8)))
            for i in range(30)
        ],
        "doc_id bigint, text string",
    )
    sf_dir = write_table(spark, tmp_path, "documents", docs)
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{sf_dir}/documents.parquet/*.parquet')"
    )
    spark_df = SUITE["neardup_components"].fn(spark, sf_dir)
    oracle = con.sql(SUITE["neardup_components"].oracle).df()
    compare(spark_df, oracle, "neardup_components/chain")
    rows = spark_df.collect()
    assert len(rows) == 30
    assert {r["component"] for r in rows} == {0}
