"""Dedup suite queries over ``documents``: exact, n-gram Jaccard,
MinHash LSH, SimHash — each with a fully-mirrored DuckDB oracle
(hashes are md5-derived → engine-identical)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from miba_2023_capstone_rb_nlp_spark import catalog
from miba_2023_capstone_rb_nlp_spark.dedup.components import connected_components
from miba_2023_capstone_rb_nlp_spark.dedup.exact import exact_dedup
from miba_2023_capstone_rb_nlp_spark.dedup.jaccard import jaccard_pairs
from miba_2023_capstone_rb_nlp_spark.dedup.minhash import (
    K,
    BANDS,
    ROWS_PER_BAND,
    lsh_candidate_pairs,
)
from miba_2023_capstone_rb_nlp_spark.dedup.simhash import simhash_pairs
from miba_2023_capstone_rb_nlp_spark.functions.numeric import sql_fixed
from miba_2023_capstone_rb_nlp_spark.suite import persist_tracked, register


def _docs(spark, sf_dir):
    return catalog.cpu_table(spark, sf_dir, "documents")


# --- exact dedup (with injected duplicates) ------------------------
_EXACT_ORACLE = """
WITH u AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 100000, text FROM documents WHERE doc_id % 10 = 0
),
fp AS (
  SELECT doc_id, CAST(('0x' || substr(md5(text), 1, 15)) AS BIGINT) AS fingerprint
  FROM u
),
c AS (
  SELECT fingerprint, min(doc_id) AS canonical_id, count(*) AS group_size
  FROM fp GROUP BY fingerprint
)
SELECT fp.doc_id, fp.fingerprint, c.canonical_id, c.group_size,
       fp.doc_id <> c.canonical_id AS is_dup
FROM fp JOIN c USING (fingerprint)
"""


@register("exact_dedup", oracle=_EXACT_ORACLE)
def q_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-groupBy exact dedup; dups injected (10% re-keyed copies)
    so group_size>1 paths are exercised."""
    d = _docs(spark, sf_dir).select("doc_id", "text")
    dups = d.filter(F.col("doc_id") % 10 == 0).withColumn(
        "doc_id", F.col("doc_id") + 100000
    )
    u = d.unionByName(dups)
    return exact_dedup(u, "text", "doc_id").select(
        "doc_id", "fingerprint", "canonical_id", "group_size", "is_dup"
    )


# --- exact n-gram jaccard pairs ------------------------------------
_SHINGLES = (
    "SELECT doc_id AS doc, unnest(list_distinct("
    "[array_to_string(p[i:i+2], ' ') for i in generate_series(1, len(p)-2)]"
    ")) AS s FROM (SELECT doc_id, string_split(text, ' ') AS p FROM documents)"
)
_JACCARD_ORACLE = f"""
WITH sh0 AS ({_SHINGLES}),
sh AS (
  SELECT doc, CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT) AS hs FROM sh0
),
sizes AS (SELECT doc, count(*) AS n_sh FROM sh GROUP BY doc),
inter AS (
  SELECT a.doc AS da, b.doc AS db, count(*) AS inter
  FROM sh a JOIN sh b ON a.hs = b.hs AND a.doc < b.doc
  GROUP BY 1, 2
),
j AS (
  SELECT da, db, inter,
         floor((CAST(inter AS DOUBLE) / (na.n_sh + nb.n_sh - inter)) * 1000000.0)
           / 1000000.0 AS jaccard
  FROM inter JOIN sizes na ON inter.da = na.doc JOIN sizes nb ON inter.db = nb.doc
)
SELECT da, db, inter, jaccard FROM j WHERE jaccard >= 0.1
"""


@register("ngram_jaccard_pairs", oracle=_JACCARD_ORACLE)
def q_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return jaccard_pairs(_docs(spark, sf_dir), "text", "doc_id", n=3, threshold=0.1)


# --- minhash LSH candidates ----------------------------------------
def _minhash_oracle() -> str:
    # Kirsch-Mitzenmacher double hashing, mirroring dedup/minhash.py:
    # h_i = md5_60("A:"+s) + i * md5_56("B:"+s)
    mins = ",\n    ".join(f"min(m1 + {i} * m2) AS h{i}" for i in range(K))
    bands = ",\n    ".join(
        "md5(" + " || ',' || ".join(
            f"h{b * ROWS_PER_BAND + r}" for r in range(ROWS_PER_BAND)
        ) + f") AS b{b}"
        for b in range(BANDS)
    )
    cands = "\n  UNION\n".join(
        f"  SELECT a.doc AS da, b.doc AS db FROM banded a JOIN banded b"
        f" ON a.b{b} = b.b{b} AND a.doc < b.doc"
        for b in range(BANDS)
    )
    matches = " + ".join(
        f"CASE WHEN a.h{i} = b.h{i} THEN 1 ELSE 0 END" for i in range(K)
    )
    return f"""
WITH sh AS ({_SHINGLES}),
hs AS (
  SELECT doc,
         CAST(('0x' || substr(md5('A:' || s), 1, 15)) AS BIGINT) AS m1,
         CAST(('0x' || substr(md5('B:' || s), 1, 14)) AS BIGINT) AS m2
  FROM sh
),
sig AS (SELECT doc, {mins} FROM hs GROUP BY doc),
banded AS (SELECT *, {bands} FROM sig),
cand AS (
{cands}
)
SELECT c.da, c.db,
       floor((CAST(({matches}) AS DOUBLE) / {K}.0) * 1000000.0) / 1000000.0
         AS est_jaccard
FROM cand c JOIN sig a ON c.da = a.doc JOIN sig b ON c.db = b.doc
"""


@register("minhash_lsh_pairs", oracle=_minhash_oracle())
def q_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return lsh_candidate_pairs(_docs(spark, sf_dir), "text", "doc_id", n=3)


# --- simhash banded pairs ------------------------------------------
def _simhash_oracle() -> str:
    chunk_mask = (1 << 15) - 1
    chunks = ", ".join(
        f"(sh >> {c * 15}) & {chunk_mask} AS c{c}" for c in range(4)
    )
    cands = "\n  UNION\n".join(
        f"  SELECT a.doc AS da, b.doc AS db, a.sh AS sa, b.sh AS sb"
        f" FROM banded a JOIN banded b ON a.c{c} = b.c{c} AND a.doc < b.doc"
        for c in range(4)
    )
    return f"""
WITH tok AS (
  SELECT doc_id AS doc, unnest(string_split(text, ' ')) AS t FROM documents
),
h AS (SELECT doc, CAST(('0x' || substr(md5(t), 1, 15)) AS BIGINT) AS hv FROM tok),
bits AS (
  SELECT doc, b, sum(CASE WHEN (hv >> b) & 1 = 1 THEN 1 ELSE -1 END) AS s
  FROM h, (SELECT unnest(generate_series(0, 59)) AS b) bb
  GROUP BY doc, b
),
sim AS (
  SELECT doc, CAST(sum(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << b)
                            ELSE 0 END) AS BIGINT) AS sh
  FROM bits GROUP BY doc
),
banded AS (SELECT doc, sh, {chunks} FROM sim),
cand AS (
{cands}
)
SELECT DISTINCT da, db, CAST(bit_count(xor(sa, sb)) AS INT) AS hamming
FROM cand WHERE bit_count(xor(sa, sb)) <= 3
"""


@register("simhash_pairs", oracle=_simhash_oracle())
def q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return simhash_pairs(_docs(spark, sf_dir), "text", "doc_id", max_hamming=3)


# --- near-dup connected components (pairs → groups) -----------------
# pairs → components, shared by every near-dup grouping oracle
# (neardup_components here, dedup_canonical_corpus and
# quality_representative_dedup in suite/curation.py): the recursive
# CTE is the plain min-label fixpoint, a reference independent of the
# engine's large-star/small-star kernel
_CC_CTES = f"""
WITH RECURSIVE sh0 AS ({_SHINGLES}),
sh AS (
  SELECT doc, CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT) AS hs FROM sh0
),
sizes AS (SELECT doc, count(*) AS n_sh FROM sh GROUP BY doc),
inter AS (
  SELECT a.doc AS da, b.doc AS db, count(*) AS inter
  FROM sh a JOIN sh b ON a.hs = b.hs AND a.doc < b.doc
  GROUP BY 1, 2
),
pairs AS (
  SELECT da, db FROM inter
  JOIN sizes na ON inter.da = na.doc JOIN sizes nb ON inter.db = nb.doc
  WHERE CAST(inter AS DOUBLE) / (na.n_sh + nb.n_sh - inter) >= 0.1
),
sym AS (
  SELECT da AS s, db AS d FROM pairs
  UNION ALL
  SELECT db AS s, da AS d FROM pairs
),
cc(id, lbl) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT sym.d, cc.lbl FROM cc JOIN sym ON cc.id = sym.s
),
comp AS (SELECT id AS doc_id, min(lbl) AS component FROM cc GROUP BY id)"""

_CC_ORACLE = _CC_CTES + """
SELECT c.doc_id, c.component, s.comp_size
FROM comp c
JOIN (SELECT component, count(*) AS comp_size FROM comp GROUP BY component) s
  USING (component)
"""


def _near_dup_components(docs: DataFrame) -> DataFrame:
    """→ [doc_id, component]: n-gram Jaccard pairs (n=3, ≥0.1) →
    connected components, component = min doc_id of the group; every
    doc appears (isolated docs form singleton components)."""
    edges = jaccard_pairs(
        # budget pass skipped: the near-dup grouping entries consume
        # the pairs downstream and their corpus is the bounded
        # documents table; the default-on guard is exercised by
        # ngram_jaccard_pairs and tests/test_knn_guard.py
        docs, "text", "doc_id", n=3, threshold=0.1, candidate_budget=None
    )
    return connected_components(
        docs.select("doc_id"), edges, id_col="doc_id", src="da", dst="db"
    )


@register("neardup_components", oracle=_CC_ORACLE)
def q_neardup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate GROUPS from the n-gram-Jaccard pair graph with each
    group's size: large-star/small-star connected components
    (dedup/components.py) vs a recursive-CTE oracle."""
    comp = _near_dup_components(_docs(spark, sf_dir))
    sizes = comp.groupBy("component").agg(F.count(F.lit(1)).alias("comp_size"))
    return comp.join(sizes, "component", "inner").select(
        "doc_id", "component", "comp_size"
    )


# --- exact-substring span dedup (Lee et al. 2022 shape) -------------
_SPAN_W = 8
_SPAN_ORACLE = f"""
WITH p AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
w AS (
  SELECT doc_id,
         [array_to_string(t[i:i+{_SPAN_W - 1}], ' ')
          for i in generate_series(1, len(t) - {_SPAN_W - 1})] AS spans
  FROM p
),
e AS (SELECT doc_id, unnest(spans) AS span FROM w),
d AS (SELECT span FROM e GROUP BY span HAVING count(DISTINCT doc_id) >= 2),
per AS (
  SELECT e.doc_id, count(*) AS n_dup FROM e JOIN d USING (span)
  GROUP BY e.doc_id
),
base AS (SELECT doc_id, len(spans) AS n_spans FROM w)
SELECT base.doc_id, CAST(base.n_spans AS INT) AS n_spans,
       CAST(coalesce(per.n_dup, 0) AS BIGINT) AS n_dup_spans,
       {sql_fixed(
           "CAST(coalesce(per.n_dup, 0) AS DOUBLE)"
           " / greatest(base.n_spans, 1)", 6)} AS dup_span_frac,
       CAST(coalesce(per.n_dup, 0) AS DOUBLE)
         / greatest(base.n_spans, 1) <= 0.5 AS keep
FROM base LEFT JOIN per USING (doc_id)
"""


@register("duplicate_span_flags", oracle=_SPAN_ORACLE)
def q_duplicate_span_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring dedup detection (Lee et al. 2022): per doc,
    the fraction of stride-1 8-token windows whose text also occurs
    verbatim in ANOTHER document; keep = frac ≤ 0.5. Hash-only
    shuffles (dedup/spans.py docstring has the 100 TB notes)."""
    from miba_2023_capstone_rb_nlp_spark.dedup.spans import (
        duplicate_span_stats,
    )

    return duplicate_span_stats(
        _docs(spark, sf_dir), "text", "doc_id", width=_SPAN_W
    )


# --- C4-style repeated-chunk removal + document reassembly ----------
_CHUNK_C = 5
_CHUNK_MIN = 3
_LINE_DEDUP_ORACLE = f"""
WITH p AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
w AS (
  SELECT doc_id,
         [array_to_string(t[(i-1)*{_CHUNK_C}+1:i*{_CHUNK_C}], ' ')
          for i in generate_series(
              1, CAST(ceil(len(t) / {_CHUNK_C}.0) AS BIGINT))] AS chunks
  FROM p
),
e AS (
  SELECT doc_id, unnest(chunks) AS chunk,
         generate_subscripts(chunks, 1) AS pos
  FROM w
),
f AS (SELECT chunk FROM e GROUP BY chunk HAVING count(*) >= {_CHUNK_MIN}),
kept AS (SELECT e.* FROM e ANTI JOIN f USING (chunk)),
rebuilt AS (
  SELECT doc_id, count(*) AS n_kept,
         string_agg(chunk, ' ' ORDER BY pos) AS clean_text
  FROM kept GROUP BY doc_id
),
base AS (SELECT doc_id, len(chunks) AS n_chunks FROM w)
SELECT base.doc_id, CAST(base.n_chunks AS INT) AS n_chunks,
       CAST(base.n_chunks - coalesce(rebuilt.n_kept, 0) AS INT) AS n_removed,
       coalesce(rebuilt.clean_text, '') AS clean_text
FROM base LEFT JOIN rebuilt USING (doc_id)
"""


@register("line_dedup_rebuild", oracle=_LINE_DEDUP_ORACLE)
def q_line_dedup_rebuild(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style removal (Raffel et al. 2020 §2.2): delete every
    5-token chunk occurring ≥3 times corpus-wide and REASSEMBLE each
    doc from survivors in original order — the one text-carrying
    shuffle is the groupBy(doc_id) rebuild, which IS the output."""
    from miba_2023_capstone_rb_nlp_spark.dedup.spans import (
        remove_repeated_chunks,
    )

    return remove_repeated_chunks(
        _docs(spark, sf_dir),
        "text",
        "doc_id",
        chunk_tokens=_CHUNK_C,
        min_count=_CHUNK_MIN,
    )


# --- incremental (cross-corpus) MinHash dedup -----------------------
# The shape a production pipeline actually runs day to day: an
# incoming batch is deduplicated AGAINST the existing corpus without
# ever generating within-corpus (or within-batch) pairs — the corpus
# side's banded entries stay partitioned and are probed by the
# (bounded) batch side, broadcast. Split here: doc_id % 5 == 0 is the
# incoming batch, the rest is the standing corpus.
_INC_SPLIT_MOD = 5


def _inc_minhash_oracle() -> str:
    mins = ",\n    ".join(f"min(m1 + {i} * m2) AS h{i}" for i in range(K))
    bands = ",\n    ".join(
        "md5(" + " || ',' || ".join(
            f"h{b * ROWS_PER_BAND + r}" for r in range(ROWS_PER_BAND)
        ) + f") AS b{b}"
        for b in range(BANDS)
    )
    cands = "\n  UNION\n".join(
        f"  SELECT a.doc AS cdoc, b.doc AS bdoc FROM corpus a JOIN batch b"
        f" ON a.b{b} = b.b{b}"
        for b in range(BANDS)
    )
    matches = " + ".join(
        f"CASE WHEN a.h{i} = b.h{i} THEN 1 ELSE 0 END" for i in range(K)
    )
    return f"""
WITH sh AS ({_SHINGLES}),
hs AS (
  SELECT doc,
         CAST(('0x' || substr(md5('A:' || s), 1, 15)) AS BIGINT) AS m1,
         CAST(('0x' || substr(md5('B:' || s), 1, 14)) AS BIGINT) AS m2
  FROM sh
),
sig AS (SELECT doc, {mins} FROM hs GROUP BY doc),
banded AS (SELECT *, {bands} FROM sig),
corpus AS (SELECT * FROM banded WHERE doc % {_INC_SPLIT_MOD} <> 0),
batch AS (SELECT * FROM banded WHERE doc % {_INC_SPLIT_MOD} = 0),
cand AS (
{cands}
),
scored AS (
  SELECT c.bdoc, c.cdoc,
         floor((CAST(({matches}) AS DOUBLE) / {K}.0) * 1000000.0)
           / 1000000.0 AS est_jaccard
  FROM cand c JOIN sig a ON c.cdoc = a.doc JOIN sig b ON c.bdoc = b.doc
),
best AS (
  SELECT bdoc, cdoc, est_jaccard,
         row_number() OVER (
           PARTITION BY bdoc ORDER BY est_jaccard DESC, cdoc) AS rk
  FROM scored
)
SELECT d.doc_id AS batch_doc, best.cdoc AS dup_of, best.est_jaccard,
       coalesce(best.est_jaccard >= 0.5, false) AS is_dup
FROM (SELECT doc_id FROM documents WHERE doc_id % {_INC_SPLIT_MOD} = 0) d
LEFT JOIN (SELECT * FROM best WHERE rk = 1) best ON d.doc_id = best.bdoc
"""


@register("incremental_minhash_dedup", oracle=_inc_minhash_oracle())
def q_incremental_minhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup an incoming batch against the standing corpus.

    Plan: both sides get MinHash signatures through the shared
    mapInPandas builder; the corpus's banded entries NEVER self-join
    (the whole point — within-corpus pairs are already resolved), and
    the batch's banded entries are broadcast into the corpus-side
    probe, so the corpus never shuffles at all. Best match per batch
    doc is a struct-max aggregate ((est, -cdoc): highest estimate,
    then smallest corpus doc), no window sort. At a batch size beyond
    the broadcast budget the same join degrades to a hash-shuffle
    equi-join on the band key with structure unchanged.
    """
    from pyspark.sql.functions import broadcast

    from miba_2023_capstone_rb_nlp_spark.dedup.minhash import (
        _band_sig,
        minhash_signatures,
    )
    from miba_2023_capstone_rb_nlp_spark.functions.numeric import fixed

    docs = _docs(spark, sf_dir)
    corpus = docs.filter(F.col("doc_id") % _INC_SPLIT_MOD != 0)
    batch = docs.filter(F.col("doc_id") % _INC_SPLIT_MOD == 0)

    def banded(side: DataFrame) -> DataFrame:
        sig = minhash_signatures(side, "text", "doc_id")
        return sig.select(
            "doc",
            *[F.col(f"h{i}") for i in range(K)],
            F.posexplode(
                F.array(*[_band_sig(b) for b in range(BANDS)])
            ).alias("bi", "bv"),
        )

    ca = banded(corpus).alias("a")
    bb = broadcast(banded(batch)).alias("b")
    matches = sum(
        (
            F.when(F.col(f"a.h{i}") == F.col(f"b.h{i}"), 1).otherwise(0)
            for i in range(K)
        ),
        F.lit(0),
    )
    scored = (
        ca.join(
            bb,
            (F.col("a.bi") == F.col("b.bi")) & (F.col("a.bv") == F.col("b.bv")),
        )
        .select(
            F.col("b.doc").alias("bdoc"),
            F.col("a.doc").alias("cdoc"),
            fixed(matches.cast("double") / K, 6).alias("est_jaccard"),
        )
        # no pair-dedup pass: a pair colliding in several bands emits
        # EXACT duplicate rows (est_jaccard is a function of the two
        # signatures), and the struct-max below is duplicate-blind —
        # the old dropDuplicates cost a full extra exchange + two
        # hash aggregates over the candidate stream for nothing (r15)
    )
    best = (
        scored.groupBy("bdoc")
        .agg(
            F.max(
                F.struct(
                    F.col("est_jaccard"), (-F.col("cdoc")).alias("negc")
                )
            ).alias("_m")
        )
        .select(
            "bdoc",
            (-F.col("_m.negc")).alias("dup_of"),
            F.col("_m.est_jaccard").alias("est_jaccard"),
        )
    )
    # the output spine reads doc_id straight off the parquet scan (no
    # cpu_table respread — there is no per-row compute on this side)
    # and BROADCASTS best: |best| ≤ |batch|, and the batch side is
    # already under the entry's documented broadcast budget (bb above),
    # so the spine never shuffles at all — the old shape paid a
    # round-robin exchange + a hash exchange + sort for an SMJ against
    # a table bounded by the broadcast contract (r15, guide §3.1)
    spine = (
        catalog.table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % _INC_SPLIT_MOD == 0)
        .select("doc_id")
    )
    return (
        spine
        .join(F.broadcast(best), spine["doc_id"] == best["bdoc"], "left")
        .select(
            F.col("doc_id").alias("batch_doc"),
            "dup_of",
            "est_jaccard",
            F.coalesce(F.col("est_jaccard") >= 0.5, F.lit(False)).alias(
                "is_dup"
            ),
        )
    )


# --- fuzzy string matching (approximate join) -----------------------
# Gravano et al. 2001 shape: q-gram candidate generation with the
# count-filter lower bound, then exact edit-distance verification.
# Distinct-first (the reference's P11 pattern): everything downstream
# of the first distinct is bounded by |name vocabulary|, not by row
# count — the corpus-scale table is touched once.
_FUZZY_D = 2  # max edit distance
_FUZZY_Q = 2  # bigrams
# Completeness regime: candidate generation is a shared-gram
# equi-join, so a true pair must share ≥1 gram to be FOUND at all.
# The count-filter bound max(|a|,|b|) − q + 1 − d·q guarantees that
# only when it is ≥ 1, i.e. both strings have length ≥ q + d·q.
# Shorter strings are excluded by contract (they need a different
# blocking scheme — length buckets or all-pairs — at which size
# brute force is cheap anyway); the no-false-negative property is
# proven inside this regime by tests/test_properties.py.
_FUZZY_MIN_LEN = _FUZZY_Q + _FUZZY_D * _FUZZY_Q

_FUZZY_ORACLE = f"""
WITH n AS (SELECT DISTINCT p_name AS s FROM part WHERE length(p_name) >= {_FUZZY_MIN_LEN}),
g AS (
  SELECT s, substr(s, ii.i, {_FUZZY_Q}) AS gm, count(*) AS c
  FROM n, LATERAL (SELECT unnest(range(1, length(s) - {_FUZZY_Q} + 2)) AS i) ii
  GROUP BY s, gm
),
cand AS (
  SELECT a.s AS na, b.s AS nb, sum(least(a.c, b.c)) AS shared
  FROM g a JOIN g b ON a.gm = b.gm AND a.s < b.s
  GROUP BY 1, 2
),
filt AS (
  SELECT na, nb FROM cand
  WHERE abs(length(na) - length(nb)) <= {_FUZZY_D}
    AND shared >= greatest(length(na), length(nb)) - {_FUZZY_Q} + 1
                  - {_FUZZY_D} * {_FUZZY_Q}
)
SELECT na, nb, CAST(levenshtein(na, nb) AS INT) AS dist
FROM filt WHERE levenshtein(na, nb) <= {_FUZZY_D}
"""


@register("fuzzy_name_matches", oracle=_FUZZY_ORACLE)
def q_fuzzy_name_matches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate self-join on part names: pairs within edit
    distance ≤ 2.

    Plan: distinct names first (|vocab| rows from one corpus scan +
    one exchange); candidates come from an equi-join on shared
    bigrams with the exact MULTISET count filter — per-(name, gram)
    counts joined on gram, sum(least(ca, cb)) is the multiset
    intersection, pruned by the count-filter bound
    |Ga ∩ Gb| ≥ max(|a|,|b|) − q + 1 − d·q and the length filter
    before any DP runs; the O(len²) levenshtein verify touches only
    surviving candidates. No cartesian anywhere: the gram join IS
    the banding (same role as an LSH band key). Both engines run the
    identical classic edit-distance DP.
    """
    part = catalog.table(spark, sf_dir, "part")
    n = (
        part.filter(F.length("p_name") >= _FUZZY_MIN_LEN)
        .select(F.col("p_name").alias("s"))
        .distinct()
    )
    g = (
        n.select(
            "s",
            F.explode(
                F.expr(
                    f"transform(sequence(1, length(s) - {_FUZZY_Q} + 1),"
                    f" i -> substring(s, i, {_FUZZY_Q}))"
                )
            ).alias("gm"),
        )
        .groupBy("s", "gm")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    a, b = g.alias("a"), g.alias("b")
    cand = (
        a.join(b, (F.col("a.gm") == F.col("b.gm")) & (F.col("a.s") < F.col("b.s")))
        .groupBy(F.col("a.s").alias("na"), F.col("b.s").alias("nb"))
        .agg(F.sum(F.least(F.col("a.c"), F.col("b.c"))).alias("shared"))
    )
    la, lb = F.length("na"), F.length("nb")
    survives = (F.abs(la - lb) <= _FUZZY_D) & (
        F.col("shared")
        >= F.greatest(la, lb) - _FUZZY_Q + 1 - _FUZZY_D * _FUZZY_Q
    )
    # the DP is gated BEHIND the count filter via a conditional that
    # references the aggregate output (`shared`) — a plain
    # filter(levenshtein <= d) is a deterministic predicate on the
    # grouping keys alone, which Catalyst pushes below the aggregate
    # into the gram join, running one DP per shared-gram row instead
    # of one per candidate pair (pinned by tests/test_plans.py)
    dist = F.when(survives, F.levenshtein("na", "nb").cast("int"))
    return (
        cand.withColumn("dist", dist)
        .filter(F.col("dist") <= _FUZZY_D)
        .select("na", "nb", "dist")
    )


# --- prefix-filtered set-similarity join (PPJoin-lite) --------------
# Bayardo et al. 2007 / Xiao et al. 2008 prefix-filtering principle:
# under ONE global canonical token order, two sets with overlap >= a
# must share an element inside their (size - a + 1)-prefixes — so
# indexing only prefixes (rarest tokens first) generates a complete
# candidate set with far fewer index entries than the every-shingle
# equi-join. A deliberately DIFFERENT physical strategy for the same
# logical spec as ngram_jaccard_pairs: the oracle below is the naive
# exhaustive shared-shingle spec, so the driver's check itself proves
# the prefix strategy exact.
_PREFIX_T = 0.3  # jaccard threshold; per-side overlap bound ceil(t*n)

_PREFIX_JACCARD_ORACLE = f"""
WITH sh0 AS ({_SHINGLES}),
sh AS (
  SELECT doc, CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT) AS hs FROM sh0
),
sizes AS (SELECT doc, count(*) AS n_sh FROM sh GROUP BY doc),
inter AS (
  SELECT a.doc AS da, b.doc AS db, count(*) AS inter
  FROM sh a JOIN sh b ON a.hs = b.hs AND a.doc < b.doc
  GROUP BY 1, 2
)
SELECT da, db, CAST(inter AS BIGINT) AS inter,
       floor((CAST(inter AS DOUBLE) / (na.n_sh + nb.n_sh - inter))
             * 1000000.0) / 1000000.0 AS jaccard
FROM inter
JOIN sizes na ON inter.da = na.doc JOIN sizes nb ON inter.db = nb.doc
WHERE CAST(inter AS DOUBLE) / (na.n_sh + nb.n_sh - inter) >= {_PREFIX_T}
"""


@register("prefix_jaccard_pairs", oracle=_PREFIX_JACCARD_ORACLE)
def q_prefix_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Jaccard >= 0.3 pairs via prefix filtering.

    Plan: one doc-frequency aggregate orders shingles globally
    (rarest first, ties by hash); each doc indexes ONLY its
    (n - ceil(t*n) + 1)-prefix — the self-join runs on the prefix
    entries, so hot shingles sit at the END of the canonical order
    and never enter the index (the structural fix for the
    stop-shingle quadratic that jaccard_pairs can only guard
    against). Verification joins per-doc sorted shingle-hash ARRAYS
    to the candidates and intersects JVM-side (array_intersect) —
    no re-explosion, which matters on this synthetic corpus whose
    shingle df distribution (avg df ≈ 10; natural text is near 1) is
    adversarial for prefix selectivity: candidates ≈ 5% of all pairs
    here, so the verify must be O(|cand| × set), not
    O(|cand| × shared-shingles) rows.
    ceil(t*n) is computed in exact integer arithmetic ((3n+9) div
    10): a float ceil overshoots on inexact t*n (0.3*10 -> 3.0000…4,
    ceil 4), silently shortening the prefix and voiding the
    completeness theorem — pinned with jaccard_pairs equality by
    tests/test_properties.py.
    """
    from miba_2023_capstone_rb_nlp_spark.functions.numeric import fixed
    from miba_2023_capstone_rb_nlp_spark.functions.text import (
        md5_long,
        word_ngrams,
    )


    docs = _docs(spark, sf_dir)
    sh = docs.select(
        F.col("doc_id").alias("doc"),
        F.explode(F.array_distinct(word_ngrams(F.col("text"), 3))).alias("s"),
    ).select("doc", md5_long(F.col("s")).alias("hs"))
    fr = sh.groupBy("hs").agg(F.count(F.lit(1)).alias("df"))
    w = Window.partitionBy("doc").orderBy("df", "hs")
    # the RANKED index feeds three consumers (prefix filter, sizes,
    # verify join-back); persisting it materializes the whole
    # explode→md5→df-join→window subtree exactly once — the
    # build-the-index-once step (without it each consumer recomputes
    # the corpus-scale pipeline)
    rk = persist_tracked(
        sh.join(fr, "hs")
        .withColumn("r", F.row_number().over(w))
        .withColumn("n", F.count(F.lit(1)).over(Window.partitionBy("doc")))
        .select("doc", "hs", "r", "n")
    )
    # prefix length n - ceil(t*n) + 1 with exact-integer ceil
    pref = rk.filter(
        F.col("r") <= F.col("n") - F.expr("(3 * n + 9) div 10") + 1
    ).select("doc", "hs")
    a, b = pref.alias("a"), pref.alias("b")
    cand = (
        a.join(b, (F.col("a.hs") == F.col("b.hs")) & (F.col("a.doc") < F.col("b.doc")))
        .select(F.col("a.doc").alias("da"), F.col("b.doc").alias("db"))
        .distinct()
    )
    # verify WITHOUT re-exploding: per-doc sorted shingle-hash arrays
    # (one compact row per doc, riding the persisted index's doc
    # partitioning) join to the candidate pairs and intersect
    # JVM-side — O(|cand| × avg set) with zero fan-out, vs the
    # exploded join-back's |cand| × shared-shingle row blow-up. The
    # doc-array table broadcasts here (|docs| rows × ~n_sh hashes);
    # past the broadcast budget the same two joins shuffle on da/db
    # with the arrays still moving once each.
    sets = rk.groupBy("doc").agg(
        F.sort_array(F.collect_list("hs")).alias("hset"),
        F.max("n").alias("n_sh"),
    )
    out = (
        cand.join(
            F.broadcast(
                sets.select(
                    F.col("doc").alias("da"),
                    F.col("hset").alias("ha"),
                    F.col("n_sh").alias("na"),
                )
            ),
            "da",
        )
        .join(
            F.broadcast(
                sets.select(
                    F.col("doc").alias("db"),
                    F.col("hset").alias("hb"),
                    F.col("n_sh").alias("nb"),
                )
            ),
            "db",
        )
        .withColumn(
            "inter", F.size(F.array_intersect("ha", "hb")).cast("bigint")
        )
    )
    jac = F.col("inter").cast("double") / (
        F.col("na") + F.col("nb") - F.col("inter")
    )
    return out.filter(jac >= _PREFIX_T).select(
        "da", "db", "inter", fixed(jac, 6).alias("jaccard")
    )
