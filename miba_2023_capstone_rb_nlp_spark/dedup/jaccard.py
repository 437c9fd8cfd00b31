"""Exact n-gram Jaccard similarity pairs.

Candidate generation by shared-shingle equi-join (only pairs sharing
at least one shingle are scored — pairs below that trivially have
jaccard 0). This is exact but worst-case quadratic on stop-shingles;
the scale path at 100 TB is MinHash LSH (dedup/minhash.py), which
bounds candidates by band collisions. Keep this as the precision
oracle and for post-LSH verification.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from miba_2023_capstone_rb_nlp_spark.functions.numeric import fixed
from miba_2023_capstone_rb_nlp_spark.functions.text import md5_long, word_ngrams


# Upper bound on shared-shingle candidate pairs (Σ df·(df−1)/2 over
# shingles) before the self-join is allowed to run. A hot "stop
# shingle" appearing in m docs alone contributes m²/2 join rows; at
# 100× scale that silently turns this exact baseline into a cluster-
# killing cartesian. The budget makes the documented "small-n
# precision oracle" contract EXECUTABLE: a corpus too hot for the
# exact path fails fast, pointing at MinHash LSH, instead of melting
# the shuffle. 10⁸ candidate rows (~2.4 GB shuffled at 24 B/row) is
# far above every test SF yet far below the quadratic blow-up regime.
DEFAULT_CANDIDATE_BUDGET = 100_000_000


def jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    threshold: float = 0.1,
    scale: int = 6,
    candidate_budget: int | None = DEFAULT_CANDIDATE_BUDGET,
) -> DataFrame:
    """→ DataFrame[da, db, inter, jaccard] with jaccard ≥ threshold.

    jaccard derived from exact integer counts (engine-deterministic).

    The shared-shingle join runs on the 60-bit md5 of the shingle, not
    the string: fixed-width bigint keys shuffle ~4× fewer bytes and
    compare in one instruction (exact up to md5-60 collisions; the
    oracle hashes identically, so parity is unaffected).

    ``candidate_budget`` guards the worst case (see
    DEFAULT_CANDIDATE_BUDGET): the exact per-shingle pair count is
    aggregated in one cheap extra pass over the shingle table (a
    single scalar to the driver) and the self-join refuses to run
    above the budget. ``None`` disables the pass (callers that just
    verified post-LSH candidates on a bounded set).
    """
    # two-projection shape: the distinct shingle array is materialized
    # once per doc, its SIZE (the per-doc shingle count the jaccard
    # denominator needs) is read off map-side, and only then does the
    # explode run — so ``n_sh`` rides the self-join exchange as 8
    # bytes/row instead of being re-derived by a separate aggregate
    # and joined back (guide §8: decide with small metadata carried
    # along; at corpus scale the per-doc size table is NOT
    # broadcastable, so the old sizes-join was two more full-table
    # shuffles and two more corpus scans)
    # md5 applied INSIDE the array (after the string-level distinct,
    # so counts match the string-keyed oracle exactly): the explode
    # then emits the hash itself, and the join's inferred
    # isnotnull(key) filter lands on the generated column instead of
    # re-hashing every shingle a second time (guide §4.4's
    # duplicated-evaluation hazard, JVM-expression edition)
    sh_full = df.select(
        F.col(id_col).alias("doc"),
        F.transform(
            F.array_distinct(word_ngrams(F.col(text_col), n)), md5_long
        ).alias("_a"),
    ).select(
        "doc",
        F.size(F.col("_a")).cast("bigint").alias("n_sh"),
        F.explode(F.col("_a")).alias("hs"),
    )
    if candidate_budget is not None:
        sh = sh_full.select("doc", "hs")
        cand = sh.groupBy("hs").agg(F.count(F.lit(1)).alias("df")).agg(
            F.sum(F.col("df") * (F.col("df") - 1) / 2).alias("pairs")
        ).collect()[0]["pairs"]
        if cand is not None and cand > candidate_budget:
            raise ValueError(
                f"jaccard_pairs: shared-shingle join would generate "
                f"~{int(cand):,} candidate pairs (> candidate_budget="
                f"{candidate_budget:,}). This exact path is the "
                "small-n precision oracle; at this scale use MinHash "
                "LSH (dedup/minhash.py) for candidate generation and "
                "verify only its survivors, or raise the budget "
                "explicitly if the cluster can absorb the shuffle."
            )
    # SHUFFLE_HASH: exchange-reuse computes the shingle table once
    a = sh_full.hint("SHUFFLE_HASH").alias("a")
    b = sh_full.alias("b")
    # n_sh is constant within each (da, db) group (functionally
    # dependent on the doc id), so min() recovers exactly the value
    # the old sizes-join supplied
    inter = (
        a.join(b, (F.col("a.hs") == F.col("b.hs")) & (F.col("a.doc") < F.col("b.doc")))
        .groupBy(F.col("a.doc").alias("da"), F.col("b.doc").alias("db"))
        .agg(
            F.count(F.lit(1)).alias("inter"),
            F.min(F.col("a.n_sh")).alias("na"),
            F.min(F.col("b.n_sh")).alias("nb"),
        )
    )
    jac = F.col("inter").cast("double") / (F.col("na") + F.col("nb") - F.col("inter"))
    return (
        inter.withColumn("jaccard", fixed(jac, scale))
        .filter(F.col("jaccard") >= threshold)
        .select("da", "db", "inter", "jaccard")
    )
