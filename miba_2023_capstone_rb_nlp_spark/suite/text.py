"""Text-analysis suite queries over ``documents``: token stats +
quality scoring, language-ID, fingerprinting, token explode with
weighted top-k terms (A4 shape).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from miba_2023_capstone_rb_nlp_spark import catalog
from miba_2023_capstone_rb_nlp_spark.functions import text as T
from miba_2023_capstone_rb_nlp_spark.functions.numeric import fixed, sql_fixed
from miba_2023_capstone_rb_nlp_spark.suite import persist_tracked, register


def _docs(spark, sf_dir):
    return catalog.cpu_table(spark, sf_dir, "documents")


# --- doc stats + quality score --------------------------------------
_QUALITY_EXPR = (
    "0.4 * (CASE WHEN n_tokens >= 100 THEN 1.0 ELSE n_tokens / 100.0 END)"
    " + 0.3 * (CAST(n_stopwords AS DOUBLE) / n_tokens)"
    " + 0.3 * (CAST(n_unique AS DOUBLE) / n_tokens)"
)
_DOC_STATS_ORACLE = f"""
WITH f AS (
  SELECT doc_id, lang, length(text) AS text_len,
         len(string_split(text, ' ')) AS n_tokens,
         len(list_filter(string_split(text, ' '),
             t -> t IN ('the','a','is','of','and','to','in'))) AS n_stopwords,
         len(list_distinct(string_split(text, ' '))) AS n_unique,
         list_sum(list_transform(string_split(text, ' '), t -> length(t)))
           AS sum_token_len,
         CAST(('0x' || substr(md5(text), 1, 15)) AS BIGINT) AS fingerprint
  FROM documents
)
SELECT doc_id, lang, CAST(text_len AS INT) AS text_len,
       CAST(n_tokens AS INT) AS n_tokens,
       CAST(n_stopwords AS INT) AS n_stopwords,
       CAST(n_unique AS INT) AS n_unique,
       CAST(sum_token_len AS INT) AS sum_token_len,
       fingerprint,
       {sql_fixed(_QUALITY_EXPR, 6)} AS quality
FROM f
"""


@register("doc_stats_quality", oracle=_DOC_STATS_ORACLE)
def q_doc_stats_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Narrow projection — one pass, no shuffle; all counts exact
    integers so the derived quality double is engine-deterministic."""
    d = _docs(spark, sf_dir)
    feats = T.quality_features(F.col("text"))
    n_tok = feats["n_tokens"]
    quality = (
        F.lit(0.4)
        * F.when(n_tok >= 100, F.lit(1.0)).otherwise(n_tok / F.lit(100.0))
        + F.lit(0.3) * (feats["n_stopwords"].cast("double") / n_tok)
        + F.lit(0.3) * (feats["n_unique"].cast("double") / n_tok)
    )
    return d.select(
        "doc_id",
        "lang",
        F.length("text").alias("text_len"),
        feats["n_tokens"].alias("n_tokens"),
        feats["n_stopwords"].alias("n_stopwords"),
        feats["n_unique"].alias("n_unique"),
        feats["sum_token_len"].alias("sum_token_len"),
        T.fingerprint(F.col("text")).alias("fingerprint"),
        fixed(quality, 6).alias("quality"),
    )


# --- language identification ---------------------------------------
_LANG_ORACLE = """
WITH s AS (
  SELECT doc_id, lang AS true_lang,
         len(list_filter(p, t -> t IN ('the','a','is','of','and'))) AS s_en,
         len(list_filter(p, t -> t IN ('el','la','de','que','los'))) AS s_es,
         len(list_filter(p, t -> t IN ('le','la','et','les','des'))) AS s_fr,
         len(list_filter(p, t -> t IN ('der','die','und','das','ist'))) AS s_de
  FROM (SELECT doc_id, lang, string_split(text, ' ') AS p FROM documents)
)
SELECT doc_id, true_lang,
       CASE
         WHEN s_de > greatest(s_en, s_es, s_fr, 0) THEN 'de'
         WHEN s_fr > greatest(s_en, s_es, 0) THEN 'fr'
         WHEN s_es > greatest(s_en, 0) THEN 'es'
         WHEN s_en > 0 THEN 'en'
         ELSE 'und'
       END AS pred_lang
FROM s
"""


@register("lang_id", oracle=_LANG_ORACLE)
def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-stopword language ID (argmax, later-language wins only
    on strict >, matching functions/text.lang_id fold order)."""
    d = _docs(spark, sf_dir)
    return d.select(
        "doc_id",
        F.col("lang").alias("true_lang"),
        T.lang_id(F.col("text")).alias("pred_lang"),
    )


# --- A4 shape: weighted top-k terms per group ----------------------
_TOP_TERMS_ORACLE = """
WITH tok AS (
  SELECT source, unnest(string_split(text, ' ')) AS term,
         CASE WHEN doc_id % 3 = 0 THEN 3 WHEN doc_id % 3 = 1 THEN 2 ELSE 1 END AS w
  FROM documents
),
counts AS (
  SELECT source, term, CAST(sum(w) AS BIGINT) AS weight, count(*) AS n
  FROM tok GROUP BY source, term
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY source
            ORDER BY weight DESC, term ASC) AS rk
  FROM counts
)
SELECT source, term, weight, n, CAST(rk AS INT) AS rk
FROM ranked WHERE rk <= 5
"""


@register("top_terms_per_source", oracle=_TOP_TERMS_ORACLE)
def q_top_terms_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M8's relational core (A4): explode → weighted count → window
    top-n. Shuffles on (source, term) then on source; both partial-
    aggregated map-side. Reference: word_wizard.py:499-507."""
    d = _docs(spark, sf_dir)
    w = (
        F.when(F.col("doc_id") % 3 == 0, 3)
        .when(F.col("doc_id") % 3 == 1, 2)
        .otherwise(1)
    )
    tok = d.select(
        "source", F.explode(T.tokens(F.col("text"))).alias("term"), w.alias("w")
    )
    counts = tok.groupBy("source", "term").agg(
        F.sum("w").alias("weight"), F.count(F.lit(1)).alias("n")
    )
    rw = Window.partitionBy("source").orderBy(
        F.col("weight").desc(), F.col("term").asc()
    )
    return counts.withColumn("rk", F.row_number().over(rw)).filter(F.col("rk") <= 5)


# --- F10: sentence tokenization stats ------------------------------
# fabricated punctuated text (the synthetic corpus has no sentence
# punctuation): three spans joined with '. ', '! ', '?'
_SENT_EXPR_SQL = (
    "substr(text, 1, 120) || '. ' || substr(text, 121, 120) || '! ' || "
    "substr(text, 241, 120) || '?'"
)
_SENTENCE_ORACLE = f"""
WITH s AS (
  SELECT doc_id,
         string_split_regex({_SENT_EXPR_SQL}, '[.!?] +') AS frags
  FROM documents
)
SELECT doc_id,
       CAST(len(frags) AS INT) AS n_sentences,
       CAST(list_max(list_transform(frags,
            x -> length(regexp_replace(x, '[.!?]+$', '')))) AS INT)
         AS longest_chars,
       CAST(list_sum(list_transform(frags,
            x -> len(string_split(regexp_replace(x, '[.!?]+$', ''), ' '))))
         AS INT) AS total_tokens
FROM s
"""


@register("sentence_stats", oracle=_SENTENCE_ORACLE)
def q_sentence_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F10 sentence split as array ops — no explode, no shuffle: per-doc
    sentence count, longest sentence, total token count."""
    d = _docs(spark, sf_dir)
    sent_text = F.expr(
        "substring(text, 1, 120) || '. ' || substring(text, 121, 120) || "
        "'! ' || substring(text, 241, 120) || '?'"
    )
    frags = T.sentences(sent_text)
    strip = lambda x: F.regexp_replace(x, r"[.!?]+$", "")  # noqa: E731
    return d.select(
        "doc_id",
        F.size(frags).alias("n_sentences"),
        F.array_max(F.transform(frags, lambda x: F.length(strip(x))))
        .alias("longest_chars"),
        F.aggregate(
            F.transform(frags, lambda x: F.size(F.split(strip(x), " "))),
            F.lit(0),
            lambda a, b: a + b,
        ).alias("total_tokens"),
    )


# --- BPE-ish token counting ----------------------------------------
_BPE_SQL_PAT = T.BPE_PATTERN.replace("'", "''")
_BPE_ORACLE = f"""
WITH s AS (
  SELECT doc_id,
         len(string_split(text, ' ')) AS n_ws_tokens,
         len(regexp_extract_all(text, '{_BPE_SQL_PAT}')) AS n_bpe_tokens,
         length(text) AS text_len
  FROM documents
)
SELECT doc_id,
       CAST(n_ws_tokens AS INT) AS n_ws_tokens,
       CAST(n_bpe_tokens AS INT) AS n_bpe_tokens,
       CAST(text_len AS INT) AS text_len,
       {sql_fixed("CAST(text_len AS DOUBLE) / n_bpe_tokens", 6)}
         AS chars_per_bpe_token
FROM s
"""


@register("bpe_token_stats", oracle=_BPE_ORACLE)
def q_bpe_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting, whitespace + BPE-ish regex: per-doc match count
    of a GPT-2-shaped pretokenizer (functions/text.BPE_PATTERN) next
    to the whitespace count, plus chars-per-token — the standard
    cost-estimation statistic before real BPE. Map-only single pass;
    the regex runs in codegen (Java regex), the oracle in RE2 — the
    pattern is restricted to the subset where both agree."""
    d = _docs(spark, sf_dir)
    n_bpe = T.bpe_token_count(F.col("text"))
    return d.select(
        "doc_id",
        T.token_count(F.col("text")).alias("n_ws_tokens"),
        n_bpe.alias("n_bpe_tokens"),
        F.length("text").alias("text_len"),
        fixed(
            F.length("text").cast("double") / T.bpe_token_count(F.col("text")), 6
        ).alias("chars_per_bpe_token"),
    )


# --- F11: lemmatized term counts -----------------------------------
_LEMMA_SQL = (
    "regexp_replace(regexp_replace(regexp_replace(t, "
    "'ies$', 'y'), '(ing|ed)$', ''), '([^s])s$', '\\1')"
)
_LEMMA_ORACLE = f"""
WITH tok AS (
  SELECT unnest(string_split(text, ' ')) AS t FROM documents
),
lem AS (
  SELECT {_LEMMA_SQL} AS lemma FROM tok
),
counts AS (
  SELECT lemma, count(*) AS n FROM lem
  WHERE lemma NOT IN ('the','a','is','of','and','to','in') AND lemma <> ''
  GROUP BY lemma
),
ranked AS (
  SELECT lemma, n, CAST(row_number() OVER
         (ORDER BY n DESC, lemma ASC) AS INT) AS rk
  FROM counts
)
SELECT lemma, n, rk FROM ranked WHERE rk <= 20
"""


@register("lemma_term_counts", oracle=_LEMMA_ORACLE)
def q_lemma_term_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F11 rule-lemmatizer + stopword drop + global top-20 terms.
    The count aggregation is map-side partial; the final top-20 is a
    single-partition window over the (tiny) distinct-lemma table."""
    d = _docs(spark, sf_dir)
    tok = d.select(F.explode(T.tokens(F.col("text"))).alias("t"))
    lem = tok.select(T.lemma(F.col("t")).alias("lemma"))
    counts = (
        lem.filter(~F.col("lemma").isin(*T.STOPWORDS) & (F.col("lemma") != ""))
        .groupBy("lemma")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.orderBy(F.col("n").desc(), F.col("lemma").asc())
    return (
        counts.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 20)
        .select("lemma", "n", "rk")
    )


# --- bigram-LM perplexity proxy (CCNet-style quality filter) --------
# A smoothed bigram language model fit on the corpus itself scores
# each document by average log-probability; documents far below the
# corpus mean read as boilerplate/garbled (the CCNet/KenLM filtering
# recipe, re-expressed relationally). Determinism: the only ln() is
# applied once per bigram TYPE (vocab²-bounded rows), floor-quantized
# at 1e-4 before the per-doc sum, which is an exact DECIMAL sum of
# count-weighted per-type weights; the per-doc average is quantized
# at 1e-6 (same recipe as dsir_importance_select).
# Shared CTE chain ending in `scored` (doc_id, n_bigrams, avg_logp) —
# reused verbatim by the corpus-mean flag oracle below AND the CCNet
# tercile-bucket oracle (perplexity_bucket_filter), so the two
# entries can never drift onto different scoring definitions.
_BIGRAM_SCORED_CTES = """tok AS (
  SELECT doc_id, string_split(text, ' ') AS l FROM documents
),
bg AS (
  SELECT doc_id, l[i] AS w1, l[i + 1] AS w2
  FROM tok, LATERAL (SELECT unnest(range(1, len(l))) AS i) r
),
per_db AS (
  SELECT doc_id, w1, w2, count(*) AS c FROM bg GROUP BY 1, 2, 3
),
c2 AS (
  SELECT w1, w2, sum(c) AS n2 FROM per_db GROUP BY w1, w2
),
c1 AS (
  SELECT w1, sum(n2) AS n1 FROM c2 GROUP BY w1
),
vocab AS (
  SELECT count(DISTINCT w2) AS v FROM c2
),
feat AS (
  SELECT c2.w1, c2.w2,
         floor(ln((c2.n2 + 1.0) / (c1.n1 + v)) * 10000.0) / 10000.0
           AS logp
  FROM c2 JOIN c1 USING (w1), vocab
),
per AS (
  SELECT per_db.doc_id,
         sum(per_db.c) AS n_bigrams,
         CAST(sum(per_db.c * CAST(feat.logp AS DECIMAL(18,4)))
              AS DOUBLE) AS sum_logp
  FROM per_db JOIN feat USING (w1, w2)
  GROUP BY per_db.doc_id
),
scored AS (
  SELECT doc_id, CAST(n_bigrams AS BIGINT) AS n_bigrams,
         floor(sum_logp / n_bigrams * 1000000.0) / 1000000.0
           AS avg_logp
  FROM per
)"""

_BIGRAM_LM_ORACLE = f"""
WITH {_BIGRAM_SCORED_CTES},
mean AS (
  SELECT floor(CAST(sum(CAST(avg_logp AS DECIMAL(18,6))) AS DOUBLE)
               / count(*) * 1000000.0) / 1000000.0 AS thr
  FROM scored
)
SELECT doc_id, n_bigrams, avg_logp, avg_logp < thr AS flagged
FROM scored, mean
"""


def _bigram_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared bigram-LM scoring: (doc_id, n_bigrams, avg_logp).

    Mirrors _BIGRAM_SCORED_CTES exactly — both the corpus-mean flag
    entry and the CCNet tercile-bucket entry build on this one
    definition, Spark-side and SQL-side alike."""
    from miba_2023_capstone_rb_nlp_spark.functions.numeric import dec

    docs = _docs(spark, sf_dir)
    t = T.tokens(F.col("text"))
    n = F.size(t)
    pairs = F.arrays_zip(
        F.slice(t, 1, n - 1).alias("w1"), F.slice(t, 2, n - 1).alias("w2")
    )
    per_db = (
        docs.select("doc_id", F.explode(pairs).alias("p"))
        .select("doc_id", F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
        .groupBy("doc_id", "w1", "w2")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    per_db = persist_tracked(per_db)
    # materialize the cache ONCE, sequentially, before the model's
    # broadcast-build jobs fan out: those run in concurrent threads
    # at query start, and each of the ~7 cold consumers re-ran the
    # full tokenize+explode+groupBy pipeline (measured 85 s of
    # executorRunTime at sf0.1 for a 4 s query — all recompute)
    per_db.count()
    c2 = per_db.groupBy("w1", "w2").agg(F.sum("c").alias("n2"))
    vocab = c2.agg(F.countDistinct("w2").alias("v"))
    # context totals as a window over c2 (same exchange key) instead
    # of a separate aggregate joined back — one c2 derivation, no
    # self-join (guide §2.4: share the partitioning)
    feat = (
        c2.withColumn(
            "n1", F.sum("n2").over(Window.partitionBy("w1"))
        )
        .crossJoin(F.broadcast(vocab))
        .select(
            "w1",
            "w2",
            fixed(F.log((F.col("n2") + 1.0) / (F.col("n1") + F.col("v"))), 4)
            .alias("logp"),
        )
    )
    return (
        per_db.join(F.broadcast(feat), ["w1", "w2"])
        .groupBy("doc_id")
        .agg(
            F.sum("c").alias("n_bigrams"),
            F.sum(F.col("c") * dec("logp", 4)).cast("double").alias("sum_logp"),
        )
        .select(
            "doc_id",
            "n_bigrams",
            fixed(F.col("sum_logp") / F.col("n_bigrams"), 6).alias("avg_logp"),
        )
    )


@register("bigram_lm_perplexity", oracle=_BIGRAM_LM_ORACLE)
def q_bigram_lm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perplexity-proxy quality scoring: fit an add-one-smoothed
    bigram LM on the corpus (one pass), score every document by its
    average log-prob, flag documents below the corpus mean.

    Plan (the DSIR single-scan shape): tokenize ONCE into a persisted
    per-doc bigram-count matrix — slice+zip builds bigrams map-only,
    no posexplode self-join — then the LM's count tables (bigram,
    context, vocab) all derive from that matrix. The model join-back
    is a broadcast here (vocab²-bounded feature table); on an open
    vocabulary it degrades gracefully to a shuffle equi-join on
    (w1, w2) — the corpus side still moves only once.

    Engine addition (no reference counterpart): SURVEY §2.12 quality
    scoring, the model-based complement of doc_stats_quality's
    surface heuristics.
    """
    from miba_2023_capstone_rb_nlp_spark.functions.numeric import dec

    scored = _bigram_scored(spark, sf_dir)
    mean = scored.agg(
        fixed(
            F.sum(dec("avg_logp", 6)).cast("double") / F.count(F.lit(1)), 6
        ).alias("thr")
    )
    return scored.crossJoin(F.broadcast(mean)).select(
        "doc_id",
        "n_bigrams",
        "avg_logp",
        (F.col("avg_logp") < F.col("thr")).alias("flagged"),
    )


# --- CCNet head/middle/tail perplexity buckets ----------------------
# CCNet's signature move (Wenzek et al. 2020): score documents with a
# language model, split EACH LANGUAGE into perplexity terciles, keep
# head+middle and drop the tail. Built on the same _bigram_scored
# definition (shared CTEs/helper) so the two LM entries cannot drift.
# Determinism: avg_logp is already floor-quantized at 1e-6 and ties
# break on doc_id; ntile's fill rule (earlier groups take the extra
# rows) is identical in Spark and DuckDB, so bucket assignment is
# engine-exact.
_PPL_BUCKET_ORACLE = f"""
WITH {_BIGRAM_SCORED_CTES},
j AS (
  SELECT s.doc_id, d.lang, s.avg_logp
  FROM scored s JOIN documents d USING (doc_id)
)
SELECT doc_id, lang, avg_logp,
       CAST(ntile(3) OVER (PARTITION BY lang
                           ORDER BY avg_logp DESC, doc_id) AS INT)
         AS bucket,
       ntile(3) OVER (PARTITION BY lang
                      ORDER BY avg_logp DESC, doc_id) < 3 AS kept
FROM j
"""


@register("perplexity_bucket_filter", oracle=_PPL_BUCKET_ORACLE)
def q_perplexity_bucket_filter(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """CCNet-style filtering: per-language perplexity terciles (1 =
    head = most fluent), keep head+middle, drop the tail.

    Plan: the scoring reuses _bigram_scored's one-scan shape; the
    language column joins on from documents (broadcast — the scored
    table and the doc dim share doc_id); the tercile is an ntile
    window partitioned by language. That window sorts each language
    in ONE task — the honest cost of exact count-balanced terciles,
    fine at |langs| ≈ dozens but the bottleneck for an en-heavy
    100 TB corpus. The scale path swaps ntile for two
    percentile_approx cut-points per language broadcast back as a
    map-only bucketing (same output schema, approximate boundaries);
    this entry keeps the exact form because the oracle must be
    count-exact. Engine addition (SURVEY §2.12): the selection
    complement of bigram_lm_perplexity's corpus-mean flag."""
    scored = _bigram_scored(spark, sf_dir)
    lang = _docs(spark, sf_dir).select("doc_id", "lang")
    j = scored.join(F.broadcast(lang), "doc_id").select(
        "doc_id", "lang", "avg_logp"
    )
    w = Window.partitionBy("lang").orderBy(
        F.desc("avg_logp"), F.asc("doc_id")
    )
    return j.select(
        "doc_id", "lang", "avg_logp",
        F.ntile(3).over(w).alias("bucket"),
        (F.ntile(3).over(w) < 3).alias("kept"),
    )


# --- pairwise source-vocabulary Jaccard overlap ---------------------
# Corpus cartography: how lexically similar are the sources feeding a
# training mix? Jaccard over each source's token vocabulary. The
# |sources|² output is tiny; the work is bounded by the DISTINCT
# (source, token) table — dedup happens map-side before the one
# vocabulary exchange, so raw token volume never shuffles.
_VOCAB_OVERLAP_ORACLE = """
WITH vocab AS (
  SELECT DISTINCT source, unnest(string_split(text, ' ')) AS w
  FROM documents
),
margin AS (
  SELECT source, count(*) AS nv FROM vocab GROUP BY source
),
inter AS (
  SELECT a.source AS s1, b.source AS s2, count(*) AS n_common
  FROM vocab a JOIN vocab b ON a.w = b.w AND a.source < b.source
  GROUP BY 1, 2
)
SELECT inter.s1, inter.s2, inter.n_common,
       ma.nv AS nv1, mb.nv AS nv2,
       floor(CAST(inter.n_common AS DOUBLE)
             / (ma.nv + mb.nv - inter.n_common) * 1000000.0)
         / 1000000.0 AS jaccard
FROM inter
JOIN margin ma ON ma.source = inter.s1
JOIN margin mb ON mb.source = inter.s2
"""


@register("source_vocab_overlap", oracle=_VOCAB_OVERLAP_ORACLE)
def q_source_vocab_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Jaccard similarity between source vocabularies.

    Plan: explode → DISTINCT (source, token) with map-side partial
    dedup (the only pass over raw tokens), then a self-equi-join on
    the token — each token's bucket holds ≤ |sources| rows, so the
    join output is Σ_token (sources containing it choose 2), bounded
    by |vocab|·|sources|² — margins broadcast back, ratio quantized.
    """
    docs = _docs(spark, sf_dir)
    vocab = (
        docs.select("source", F.explode(T.tokens(F.col("text"))).alias("w"))
        .distinct()
    )
    margin = vocab.groupBy("source").agg(F.count(F.lit(1)).alias("nv"))
    a = vocab.alias("a")
    b = vocab.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.w") == F.col("b.w"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(F.col("a.source").alias("s1"), F.col("b.source").alias("s2"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    ma = margin.select(F.col("source").alias("s1"), F.col("nv").alias("nv1"))
    mb = margin.select(F.col("source").alias("s2"), F.col("nv").alias("nv2"))
    return (
        inter.join(F.broadcast(ma), "s1")
        .join(F.broadcast(mb), "s2")
        .select(
            "s1",
            "s2",
            "n_common",
            "nv1",
            "nv2",
            fixed(
                F.col("n_common").cast("double")
                / (F.col("nv1") + F.col("nv2") - F.col("n_common")),
                6,
            ).alias("jaccard"),
        )
    )


# --- distributed BPE merge learning (tokenizer training) ------------
# Sennrich et al. 2016 word-frequency formulation: BPE merges are
# learned from the (word, count) vocabulary table, NOT by re-scanning
# the corpus per round — so a 100 TB corpus is touched exactly once
# (the word-count aggregate, map-side combined); every merge round
# then iterates a |vocab|-bounded table (~10⁶ rows at web scale).
# Merge application uses the boundary-padded single-space encoding
# (" l o w ") and literal replace(" pa pb " → " papb "): both Spark's
# and DuckDB's replace are leftmost non-overlapping scans of the
# SOURCE string, so the two engines agree bit-for-bit by construction
# (tests/test_curation_kernels.py pins the engine agreement on
# adversarial same-symbol runs, where this scan-replace deviates from
# canonical BPE's restart-after-merge — a deterministic, documented
# property of the operator, not an engine hazard).

_BPE_N_MERGES = 5


def _bpe_merge_oracle(n_merges: int) -> str:
    ctes = [
        """words AS (
  SELECT w, CAST(count(*) AS BIGINT) AS wc FROM (
    SELECT unnest(string_split_regex(text, '\\s+')) AS w FROM documents
  ) WHERE regexp_matches(w, '^[a-z]+$') AND length(w) >= 2
  GROUP BY w
)""",
        """s0 AS (
  SELECT wc, ' ' || regexp_replace(w, '(.)', '\\1 ', 'g') AS sym FROM words
)""",
    ]
    for r in range(1, n_merges + 1):
        ctes.append(f"""c{r} AS (
  SELECT t[g] AS pa, t[g + 1] AS pb, CAST(sum(wc) AS BIGINT) AS pair_count
  FROM (SELECT wc, string_split(trim(sym), ' ') AS t FROM s{r - 1}) b,
       LATERAL (SELECT unnest(range(1, len(t))) AS g) i
  GROUP BY 1, 2
)""")
        ctes.append(
            f"m{r} AS (SELECT pa, pb, pair_count FROM c{r} "
            "ORDER BY pair_count DESC, pa, pb LIMIT 1)"
        )
        if r < n_merges:
            ctes.append(f"""s{r} AS (
  SELECT wc, replace(sym, ' ' || m{r}.pa || ' ' || m{r}.pb || ' ',
                     ' ' || m{r}.pa || m{r}.pb || ' ') AS sym
  FROM s{r - 1}, m{r}
)""")
    unions = "\nUNION ALL ".join(
        f"SELECT {r} AS step, pa, pb, pa || pb AS merged, pair_count FROM m{r}"
        for r in range(1, n_merges + 1)
    )
    return (
        "WITH " + ",\n".join(ctes) + f"\nSELECT * FROM ({unions}) ORDER BY step"
    )


_BPE_MERGE_ORACLE = _bpe_merge_oracle(_BPE_N_MERGES)


def _bpe_learn(d: DataFrame) -> DataFrame:
    """The merge-learning loop shared by learn + encode entries:
    → DataFrame[step, pa, pb, merged, pair_count] (k rows)."""

    words = (
        d.select(F.explode(F.split(F.col("text"), r"\s+")).alias("w"))
        .filter(F.col("w").rlike("^[a-z]+$") & (F.length("w") >= 2))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("wc"))
    )
    cur = persist_tracked(
        words.select(
            "wc",
            F.concat(
                F.lit(" "), F.regexp_replace(F.col("w"), "(.)", "$1 ")
            ).alias("sym"),
        )
    )
    merges = []
    for step in range(1, _BPE_N_MERGES + 1):
        counts = (
            cur.select("wc", F.split(F.trim(F.col("sym")), " ").alias("t"))
            .filter(F.size("t") >= 2)
            .select(
                "wc",
                F.explode(
                    F.expr(
                        "transform(sequence(1, size(t) - 1),"
                        " i -> struct(t[i - 1] AS pa, t[i] AS pb))"
                    )
                ).alias("p"),
            )
            .groupBy(F.col("p.pa").alias("pa"), F.col("p.pb").alias("pb"))
            .agg(F.sum("wc").alias("pair_count"))
        )
        top = (
            counts.orderBy(F.col("pair_count").desc(), "pa", "pb")
            .limit(1)
            .localCheckpoint(eager=False)
        )
        merges.append(
            top.select(
                F.lit(step).alias("step"),
                "pa",
                "pb",
                F.concat("pa", "pb").alias("merged"),
                "pair_count",
            )
        )
        if step < _BPE_N_MERGES:
            cur = (
                cur.crossJoin(F.broadcast(top.select("pa", "pb")))
                .select(
                    "wc",
                    F.replace(
                        F.col("sym"),
                        F.concat(
                            F.lit(" "),
                            F.col("pa"),
                            F.lit(" "),
                            F.col("pb"),
                            F.lit(" "),
                        ),
                        F.concat(
                            F.lit(" "), F.col("pa"), F.col("pb"), F.lit(" ")
                        ),
                    ).alias("sym"),
                )
                .localCheckpoint(eager=False)
            )
    out = merges[0]
    for m in merges[1:]:
        out = out.unionAll(m)
    return out.orderBy("step")


@register("bpe_merge_learn", oracle=_BPE_MERGE_ORACLE)
def q_bpe_merge_learn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learn the first k BPE merges over ``documents`` distributed.

    Plan: ONE corpus-scale exchange (word counts, partial-agg
    combined); the per-round pair-count aggregate runs on the
    persisted vocab-bounded symbolization, the argmax is a 1-row
    frame broadcast back for the map-only merge application, and each
    round's state is localCheckpoint-ed (the graph.py device) so
    round r+1's plan doesn't re-analyze rounds 1..r. At 1000× the
    corpus only the first aggregate grows; the merge loop's cost is
    fixed by |vocab|. Oracle: the same recursion unrolled into
    chained CTEs (the part_pagerank pattern).
    """
    return _bpe_learn(_docs(spark, sf_dir))


def _bpe_encode_oracle(n_merges: int) -> str:
    """Oracle: the learn CTE chain, then the k merges applied to each
    document's double-space-separated word symbolization (boundaries
    ≥2 spaces, merge patterns have single internal spaces — merges
    provably never cross words)."""
    learn = _bpe_merge_oracle(n_merges)
    ctes = learn[len("WITH ") : learn.rindex("\nSELECT")]
    enc = "base.sym"
    for r in range(1, n_merges + 1):
        # coalesce to an inert chr(1) pattern: a corpus that admits
        # fewer than k merges leaves m{r} empty, and a bare comma
        # cross join would collapse enc to ZERO rows while the Spark
        # side still emits one row per doc with the fewer learned
        # merges applied — LEFT JOIN ON TRUE + identity replace keeps
        # the two engines agreeing on degenerate corpora.
        enc = (
            f"replace({enc}, "
            f"coalesce(' ' || m{r}.pa || ' ' || m{r}.pb || ' ', chr(1)), "
            f"coalesce(' ' || m{r}.pa || m{r}.pb || ' ', ''))"
        )
    mrefs = " ".join(
        f"LEFT JOIN m{r} ON TRUE" for r in range(1, n_merges + 1)
    )
    return f"""WITH {ctes},
base AS (
  SELECT doc_id,
         ' ' || array_to_string(
           list_transform(
             list_filter(string_split_regex(text, '\\s+'),
                         w -> regexp_matches(w, '^[a-z]+$')),
             w -> regexp_replace(w, '(.)', '\\1 ', 'g')),
           ' ') AS sym
  FROM documents
),
enc AS (
  SELECT doc_id, {enc} AS encoded FROM base {mrefs}
)
SELECT doc_id,
       CAST(len(list_filter(string_split(sym, ' '), x -> x <> ''))
            AS BIGINT) AS n_char_syms,
       CAST(len(list_filter(string_split(encoded, ' '), x -> x <> ''))
            AS BIGINT) AS n_bpe_syms
FROM enc JOIN base USING (doc_id)
ORDER BY doc_id"""


_BPE_ENCODE_ORACLE = _bpe_encode_oracle(_BPE_N_MERGES)


@register("bpe_encode_stats", oracle=_BPE_ENCODE_ORACLE)
def q_bpe_encode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encode the corpus with the learned merges (the tokenizer's
    apply step) → per-doc symbol counts before/after.

    The k learned merges are collected to the driver (k rows — the
    same bounded model-to-closure boundary as the kNN centroids) and
    applied as a chained literal replace over each document's
    boundary-padded symbolization: map-only, zero exchanges over the
    corpus beyond the learning pass. Word boundaries are ≥2 spaces
    while merge patterns carry single internal spaces, so merges
    cannot cross words — the whole document encodes as ONE string op
    chain instead of an explode + per-word join.
    """
    d = _docs(spark, sf_dir)
    pairs = [
        (r["pa"], r["pb"])
        for r in _bpe_learn(d).orderBy("step").collect()
    ]
    sym = F.concat(
        F.lit(" "),
        F.array_join(
            F.transform(
                F.filter(
                    F.split(F.col("text"), r"\s+"),
                    lambda w: w.rlike("^[a-z]+$"),
                ),
                lambda w: F.regexp_replace(w, "(.)", "$1 "),
            ),
            " ",
        ),
    )
    enc = sym
    for pa, pb in pairs:
        enc = F.replace(
            enc, F.lit(f" {pa} {pb} "), F.lit(f" {pa}{pb} ")
        )

    def _count(col):
        return F.size(
            F.filter(F.split(col, " "), lambda x: x != F.lit(""))
        ).cast("bigint")

    return d.select(
        "doc_id",
        _count(sym).alias("n_char_syms"),
        _count(enc).alias("n_bpe_syms"),
    ).orderBy("doc_id")


# --- count-min sketch heavy hitters ---------------------------------
# The mergeable-frequency-sketch complement of approx_distinct_parts'
# HLL++: a d×w count-min sketch (Cormode & Muthukrishnan 2005) built
# as a PLAIN GROUPED COUNT over md5 buckets — which is the entire
# scale story: the sketch is a ≤ d·w-row table no matter how large
# the vocabulary, map-side partials compress every task's token
# stream to ≤ d·w rows before the one exchange, and two corpora's
# sketches merge by summing cells (the classic mergeability). The
# entry self-validates: it estimates the top-20 exact heavy hitters
# and reports the (always ≥ 0) overcount, so the driver hash pins
# both the sketch construction and the probe path. Buckets come from
# the repo's cross-engine 60-bit md5 idiom (functions/text.md5_long),
# so Spark and DuckDB build bit-identical sketches.
_CMS_D = 4
_CMS_W = 1024
_CMS_BUCKET_SQL = (
    "CAST(('0x' || substr(md5(CAST({r} AS VARCHAR) || ':' || {w}), 1, 15)) "
    f"AS BIGINT) % {_CMS_W}"
)
_CMS_ORACLE = f"""
WITH tok AS (
  SELECT unnest(string_split(text, ' ')) AS w FROM documents
),
exact AS (
  SELECT w, count(*) AS exact_n FROM tok GROUP BY w
),
top AS (
  SELECT w, exact_n FROM exact ORDER BY exact_n DESC, w LIMIT 20
),
rows_ AS (SELECT unnest(generate_series(0, {_CMS_D - 1})) AS r),
sketch AS (
  SELECT rows_.r, {_CMS_BUCKET_SQL.format(r='rows_.r', w='tok.w')} AS c,
         count(*) AS n
  FROM tok, rows_ GROUP BY 1, 2
),
probe AS (
  SELECT top.w, top.exact_n, rows_.r,
         {_CMS_BUCKET_SQL.format(r='rows_.r', w='top.w')} AS c
  FROM top, rows_
)
SELECT p.w AS token, CAST(p.exact_n AS BIGINT) AS exact_n,
       CAST(min(s.n) AS BIGINT) AS est_n,
       CAST(min(s.n) - p.exact_n AS BIGINT) AS overcount
FROM probe p JOIN sketch s ON s.r = p.r AND s.c = p.c
GROUP BY p.w, p.exact_n
"""


@register("countmin_heavy_hitters", oracle=_CMS_ORACLE)
def q_countmin_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch over the token stream; top-20 heavy hitters
    estimated from the sketch beside their exact counts.

    Plan: the token stream is exploded once and persisted (it feeds
    the exact counts — needed here only to ground-truth the probe —
    and the sketch). The sketch build is a chained map-only explode
    (×d rows per token, no join) into ONE grouped count whose key
    space is capped at d·w = 4×1024 cells — partial aggregation
    bounds every task's exchange contribution at 4096 rows however
    big the corpus, and sketches merge across corpora by cell-wise
    sum. The probe side is 20·d rows joined against the broadcast
    sketch; min-over-rows is a 20-group aggregate. At 100 TB the
    exact-count branch disappears (that's the point of the sketch)
    and what remains is one bounded-width exchange."""
    docs = _docs(spark, sf_dir)
    toks = persist_tracked(
        docs.select(F.explode(T.tokens(F.col("text"))).alias("w"))
    )
    exact = toks.groupBy("w").agg(F.count(F.lit(1)).alias("exact_n"))
    top = exact.orderBy(F.desc("exact_n"), F.asc("w")).limit(20)
    rows_arr = F.array(*[F.lit(i) for i in range(_CMS_D)])

    def bucket() -> F.Column:
        return (
            T.md5_long(
                F.concat(F.col("r").cast("string"), F.lit(":"), F.col("w"))
            )
            % _CMS_W
        )

    sketch = (
        toks.select("w", F.explode(rows_arr).alias("r"))
        .select("r", bucket().alias("c"))
        .groupBy("r", "c")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    probe = top.select(
        "w", "exact_n", F.explode(rows_arr).alias("r")
    ).withColumn("c", bucket())
    return (
        probe.join(F.broadcast(sketch), ["r", "c"])
        .groupBy("w", "exact_n")
        .agg(F.min("n").alias("est_n"))
        .select(
            F.col("w").alias("token"),
            "exact_n",
            "est_n",
            (F.col("est_n") - F.col("exact_n")).alias("overcount"),
        )
    )


# --- Python UDTF surface (Spark 4 user-defined TABLE function) -------
# The §2.11 UDF surface completed: scalar pandas UDF, iterator pandas
# UDF, cogroup.applyInPandas, applyInPandasWithState are all pinned
# elsewhere; this entry pins the TABLE-function shape — a Python class
# whose eval() yields 0..n rows per input row, lateral-joined in SQL.
# Arrow-optimized (useArrow=True): inputs/outputs cross as Arrow
# batches, not pickled rows. The oracle replicates the expansion with
# generate_series + substr, so the driver proves the UDTF's row
# semantics, not just that it runs.
_CHUNK_W = 200
_UDTF_CHUNK_ORACLE = f"""
WITH idx AS (
  SELECT unnest(generate_series(
           0, CAST(ceil(length(d.text)/{_CHUNK_W}.0) AS INT) - 1)) AS chunk_idx,
         d.text
  FROM documents d
  WHERE d.text IS NOT NULL AND length(d.text) > 0
),
chunks AS (
  SELECT chunk_idx,
         substr(text, CAST(chunk_idx * {_CHUNK_W} + 1 AS INT), {_CHUNK_W}) AS chunk
  FROM idx
)
SELECT CAST(chunk_idx AS INT) AS chunk_idx,
       CAST(count(*) AS BIGINT) AS n_chunks,
       CAST(sum(length(chunk)) AS BIGINT) AS sum_len,
       CAST(sum(length(chunk) - length(replace(chunk, ' ', '')) + 1)
            AS BIGINT) AS sum_tokens
FROM chunks GROUP BY 1
"""


@register("doc_chunks_udtf", oracle=_UDTF_CHUNK_ORACLE)
def q_doc_chunks_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width chunk profile of the corpus through a Python UDTF:
    per chunk ordinal, how many documents have that chunk, total chars
    and whitespace tokens in it.

    Plan: the UDTF runs inside the scan stage (one Python worker pass,
    Arrow-batched both directions, no shuffle before it); the
    LATERAL join against a UDTF is a per-row expansion, not a
    decorrelated re-execution, and the only exchange is the final
    3-column partial-agg groupBy. When the expansion is expressible
    as sequence()+substring (this one is — doc_chunk_windows does it
    JVM-side), the built-in path wins; the UDTF is for expansions that
    genuinely need imperative logic (tokenizers, parsers, format
    sniffers), and this entry pins that surface against a SQL oracle.
    """
    from pyspark.sql.functions import udtf

    @udtf(
        returnType="chunk_idx int, chunk_len int, n_tokens int",
        useArrow=True,
    )
    class ChunkStats:
        def eval(self, text):
            if not text:
                return
            for i in range(0, len(text), _CHUNK_W):
                c = text[i : i + _CHUNK_W]
                yield i // _CHUNK_W, len(c), c.count(" ") + 1

    spark.udtf.register("chunk_stats", ChunkStats)
    catalog.table(spark, sf_dir, "documents").createOrReplaceTempView(
        "documents"
    )
    return spark.sql(
        """
SELECT c.chunk_idx,
       CAST(count(*) AS BIGINT) AS n_chunks,
       CAST(sum(c.chunk_len) AS BIGINT) AS sum_len,
       CAST(sum(c.n_tokens) AS BIGINT) AS sum_tokens
FROM documents d, LATERAL chunk_stats(d.text) c
GROUP BY 1
"""
    )


# --- mapInArrow surface (batch-level Arrow access) --------------------
# The lowest-overhead Python crossing Spark offers: the partition
# arrives as raw pyarrow RecordBatches (no pandas materialization, no
# per-row pickling) and the kernel runs pyarrow.compute vector ops.
# All emitted stats are INTEGERS, so parity with the SQL oracle is
# exact by construction — no float-order concerns in the Python path.
_ARROW_STATS_ORACLE = """
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(length(text)) AS BIGINT) AS sum_chars,
       CAST(sum(strlen(text)) AS BIGINT) AS sum_bytes,
       CAST(sum(length(text) - length(replace(text, ' ', '')))
            AS BIGINT) AS sum_spaces
FROM documents
GROUP BY source
"""


@register("doc_bytes_arrow", oracle=_ARROW_STATS_ORACLE)
def q_doc_bytes_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source corpus size profile (docs, chars, utf-8 bytes,
    spaces) with the string kernels run in pyarrow.compute via
    mapInArrow.

    Plan: mapInArrow is map-only — it runs inside the scan stage on
    whatever batches arrive, emits one 4-column stats batch per input
    batch, and the groupBy on the tiny emitted columns is the only
    exchange. Versus mapInPandas this skips the Arrow→pandas→Arrow
    conversion entirely (the batches are handed to the kernel as-is),
    which is the right crossing when the per-batch work is itself
    Arrow-native. char (code points) vs byte (utf-8) lengths are both
    emitted — the distinction a tokenizer-budget pipeline actually
    needs. The built-in twin (length/octet_length, JVM codegen) is
    what doc_stats_quality uses; this entry pins the Arrow crossing
    against the same SQL semantics."""
    import pyarrow as pa

    schema = (
        "source string, chars bigint, bytes bigint, spaces bigint"
    )

    def batch_stats(batches):
        import pyarrow.compute as pc

        for b in batches:
            text = b.column(0)
            yield pa.RecordBatch.from_arrays(
                [
                    b.column(1),
                    pc.cast(pc.utf8_length(text), pa.int64()),
                    pc.cast(pc.binary_length(text), pa.int64()),
                    pc.cast(
                        pc.count_substring(text, " "), pa.int64()
                    ),
                ],
                names=["source", "chars", "bytes", "spaces"],
            )

    docs = catalog.table(spark, sf_dir, "documents").select(
        "text", "source"
    )
    stats = docs.mapInArrow(batch_stats, schema)
    return stats.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("chars").alias("sum_chars"),
        F.sum("bytes").alias("sum_bytes"),
        F.sum("spaces").alias("sum_spaces"),
    )


# --- collated comparison (Spark 4 string collations) -------------------
# UTF8_LCASE makes case-insensitivity a property of the COMPARISON,
# not a rewrite of the data: groupBy/join/distinct on a collated
# column match case variants while the stored strings keep their
# original bytes. The entry manufactures deterministic case variance
# (even doc_ids upper-cased) so the collated groupBy has real work to
# do, and n_variants per group proves the variants truly merged.
_COLLATED_ORACLE = """
WITH v AS (
  SELECT CASE WHEN doc_id % 2 = 0 THEN upper(lang) ELSE lang END AS lang_v
  FROM documents
)
SELECT lower(lang_v) AS lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(DISTINCT lang_v) AS BIGINT) AS n_variants
FROM v GROUP BY 1
"""


@register("collated_lang_counts", oracle=_COLLATED_ORACLE)
def q_collated_lang_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language counts where the group key is a UTF8_LCASE-collated
    column over deterministically case-perturbed values; the oracle
    groups by lower() — hash-equal results prove the collated
    comparison implements exactly case-fold equality here.

    Plan: collation changes the aggregate's key comparator, not the
    plan shape — still one partial-agg exchange on the (collated)
    key. At 100 TB the win over the lower()-rewrite idiom is that no
    derived column is materialized through the shuffle and the
    original-cased value stays available on the other side of the
    aggregation (n_variants here needs it); lower(k) is applied only
    to the ≤|langs| output rows. ICU-backed collations (e.g.
    UNICODE_CI) ride the same comparator hook."""
    docs = catalog.table(spark, sf_dir, "documents").select(
        F.when(F.col("doc_id") % 2 == 0, F.upper("lang"))
        .otherwise(F.col("lang"))
        .alias("lang_v")
    )
    return (
        docs.groupBy(F.collate(F.col("lang_v"), "UTF8_LCASE").alias("k"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("lang_v").alias("n_variants"),
        )
        .select(F.lower("k").alias("lang"), "n_docs", "n_variants")
    )


# --- SQL-language UDF (CREATE FUNCTION ... RETURN) ---------------------
# Spark 4's SQL UDFs: reusable logic declared IN SQL and inlined by
# Catalyst at plan time — the zero-cost alternative to a Python UDF
# for anything expressible as an expression (full codegen, pushdown
# through, no serialization boundary). The entry declares the
# whitespace-token counter as a temporary SQL function and aggregates
# through it; the oracle states the same expression inline, so the
# driver proves the function's BODY (not just its callability).
_SQL_UDF_ORACLE = """
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(length(text) - length(replace(text, ' ', '')) + 1)
            AS BIGINT) AS sum_tokens,
       CAST(max(length(text) - length(replace(text, ' ', '')) + 1)
            AS BIGINT) AS max_tokens
FROM documents
WHERE text IS NOT NULL
GROUP BY lang
"""


@register("sql_udf_token_stats", oracle=_SQL_UDF_ORACLE)
def q_sql_udf_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language token totals through a SQL-language UDF
    (CREATE TEMPORARY FUNCTION ws_tokens ... RETURN <expr>).

    Plan: the function body INLINES — the optimized plan contains the
    length/replace expression, not a function-call boundary, so the
    aggregate partial-applies map-side exactly as if the expression
    were written in place (pinned in tests/test_plans.py: no
    PythonUDF / eval node, one exchange). At 100 TB this is the
    mechanism for shared business logic across a query estate:
    Python UDFs pay a per-row crossing everywhere they're reused; a
    SQL UDF is a macro the optimizer sees through."""
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION ws_tokens(s STRING) "
        "RETURNS BIGINT "
        "RETURN length(s) - length(replace(s, ' ', '')) + 1"
    )
    catalog.table(spark, sf_dir, "documents").createOrReplaceTempView(
        "documents"
    )
    return spark.sql(
        """
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(ws_tokens(text)) AS BIGINT) AS sum_tokens,
       CAST(max(ws_tokens(text)) AS BIGINT) AS max_tokens
FROM documents
WHERE text IS NOT NULL
GROUP BY lang
"""
    )


# --- per-source KL divergence vs the corpus distribution --------------
# Data-mixture cartography's other half (vocab Jaccard measures
# overlap; this measures DISTRIBUTIONAL drift): KL(p_source ‖
# q_corpus) over unigram distributions — the standard diagnostic for
# how far a source's token mix sits from the blend it feeds.
# Determinism recipe: every ln() argument is a ratio of exactly-equal
# int64-derived doubles in both engines, the per-term contribution is
# floor-quantized at 1e-6 (coarse enough that a last-ulp libm
# disagreement in ln cannot straddle a quantum boundary), and the
# per-source total is an exact DECIMAL(18,6) sum — order-independent.
_KL_ORACLE = """
WITH tok AS (
  SELECT source, unnest(string_split(text, ' ')) AS w
  FROM documents WHERE text IS NOT NULL
),
st AS (
  SELECT source, w, CAST(count(*) AS BIGINT) AS n_st
  FROM tok GROUP BY 1, 2
),
s AS (
  SELECT source, CAST(sum(n_st) AS BIGINT) AS n_s,
         CAST(count(*) AS BIGINT) AS n_terms
  FROM st GROUP BY 1
),
t AS (SELECT w, CAST(sum(n_st) AS BIGINT) AS n_t FROM st GROUP BY 1),
nn AS (SELECT CAST(sum(n_st) AS BIGINT) AS n FROM st),
contrib AS (
  SELECT st.source,
         floor((CAST(n_st AS DOUBLE) / CAST(n_s AS DOUBLE))
               * ln((CAST(n_st AS DOUBLE) * CAST(nn.n AS DOUBLE))
                    / (CAST(n_s AS DOUBLE) * CAST(n_t AS DOUBLE)))
               * 1000000.0) / 1000000.0 AS c
  FROM st JOIN s USING (source) JOIN t USING (w), nn
)
SELECT s.source, s.n_terms, s.n_s AS n_tokens,
       CAST(sum(CAST(c AS DECIMAL(18,6))) AS DOUBLE) AS kl
FROM contrib JOIN s USING (source)
GROUP BY s.source, s.n_terms, s.n_s
"""


@register("source_kl_divergence", oracle=_KL_ORACLE)
def q_source_kl_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KL(source ‖ corpus) over unigram token distributions, per
    source, with vocabulary size and token count.

    Plan: raw tokens are aggregated ONCE into the (source, term)
    count table, which is persisted and re-derives everything else —
    per-source totals (broadcast, ≤|sources| rows), per-term totals
    (an agg on the SAME table, so the term join shuffles count rows,
    never raw tokens), and the 1-row corpus total (broadcast). The
    quadratic-looking math is linear in |(source, term)| pairs. At
    100 TB the (source, term) table is the engine's standard
    bounded-vocabulary shape (same as bigram-LM / BM25 stats); the
    ln() quantization note is in the oracle comment above."""
    docs = _docs(spark, sf_dir).filter(F.col("text").isNotNull())
    tok = docs.select(
        "source", F.explode(T.tokens(F.col("text"))).alias("w")
    )
    st = persist_tracked(
        tok.groupBy("source", "w").agg(F.count(F.lit(1)).alias("n_st"))
    )
    s = st.groupBy("source").agg(
        F.sum("n_st").alias("n_s"), F.count(F.lit(1)).alias("n_terms")
    )
    t = st.groupBy("w").agg(F.sum("n_st").alias("n_t"))
    nn = st.agg(F.sum("n_st").alias("n"))
    contrib = (
        st.join(F.broadcast(s), "source")
        .join(t, "w")
        .crossJoin(F.broadcast(nn))
        .select(
            "source",
            fixed(
                (F.col("n_st").cast("double") / F.col("n_s").cast("double"))
                * F.log(
                    (F.col("n_st").cast("double") * F.col("n").cast("double"))
                    / (F.col("n_s").cast("double") * F.col("n_t").cast("double"))
                ),
                6,
            ).alias("c"),
        )
    )
    kl = contrib.groupBy("source").agg(
        F.sum(F.col("c").cast("decimal(18,6)")).cast("double").alias("kl")
    )
    return kl.join(F.broadcast(s), "source").select(
        "source", "n_terms", F.col("n_s").alias("n_tokens"), "kl"
    )
