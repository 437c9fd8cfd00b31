"""Pretraining-corpus curation suite over ``documents``: the filter /
decontamination / scrub / materialization passes a 100 TB pipeline
runs between crawling and training.

- Gopher-style repetition + quality flags (Rae et al. 2021 §A1.1):
  per-doc token stats and most-frequent-bigram fraction with boolean
  keep flags. Entirely map-only: the per-doc bigram mode is a sorted
  array scan (array_sort + run-length aggregate, O(m log m) per doc,
  whole-stage codegen) — a per-doc statistic never needs a corpus
  shuffle.
- PII redaction: regex count + redact of emails / phone numbers /
  IPv4 (the corpus carries none, so deterministic PII is fabricated
  per doc_id — the same fabricate-then-verify idiom as
  ``sentence_stats``). Pure map pass; patterns restricted to syntax
  with identical semantics in java.util.regex and RE2.
- Benchmark decontamination: which training docs share any word
  4-gram with a held-out eval split. The eval n-gram set is tiny by
  definition → broadcast semi-ish join, so the 100 TB train side
  never shuffles.
- Canonical corpus materialization: near-dup pairs → connected
  components (large-star/small-star) → keep one representative per
  group. This is the query a user actually runs to EMIT the deduped
  corpus, composed from the oracle-checked pair generator and CC
  operators.

All thresholds are tuned so both flag polarities occur in the
synthetic corpus (Gopher's published bounds would pass every doc
here); the published values are noted inline.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from miba_2023_capstone_rb_nlp_spark import catalog
from miba_2023_capstone_rb_nlp_spark.functions import text as T
from miba_2023_capstone_rb_nlp_spark.functions.numeric import fixed, sql_fixed
from miba_2023_capstone_rb_nlp_spark.suite import persist_tracked, register
from miba_2023_capstone_rb_nlp_spark.suite.dedup import (
    _CC_CTES,
    _near_dup_components,
)


def _docs(spark, sf_dir):
    return catalog.cpu_table(spark, sf_dir, "documents")


# --- Gopher repetition / quality flags ------------------------------
# Thresholds: Gopher drops docs with mean word length outside [3, 10],
# <50 or >100k words, top-2-gram fraction > 0.20. The synthetic corpus
# is narrower (mean word len 3.7-5.3, 10-99 tokens, top-bigram frac
# 0.01-0.17), so the splitting thresholds below are scaled to keep
# both polarities represented; the plan shape is identical.
_MIN_TOKENS = 30
_TOP_BIGRAM_MAX = 0.05

_REP_ORACLE = f"""
WITH p AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
s AS (
  SELECT doc_id, len(t) AS n_tokens,
         list_sum(list_transform(t, x -> length(x))) AS sum_token_len,
         len(list_distinct(t)) AS n_unique,
         [array_to_string(t[i:i+1], ' ')
          for i in generate_series(1, len(t) - 1)] AS grams
  FROM p
),
g AS (SELECT doc_id, unnest(grams) AS gram FROM s),
c AS (SELECT doc_id, gram, count(*) AS n FROM g GROUP BY doc_id, gram),
a AS (
  SELECT doc_id, max(n) AS top_n, CAST(sum(n) AS BIGINT) AS total_bigrams
  FROM c GROUP BY doc_id
),
j AS (
  SELECT s.doc_id, s.n_tokens, s.sum_token_len, s.n_unique,
         a.top_n, a.total_bigrams,
         {sql_fixed("CAST(s.sum_token_len AS DOUBLE) / s.n_tokens", 6)}
           AS mean_word_len,
         {sql_fixed("1.0 - CAST(s.n_unique AS DOUBLE) / s.n_tokens", 6)}
           AS dup_token_frac,
         {sql_fixed("CAST(a.top_n AS DOUBLE) / a.total_bigrams", 6)}
           AS top_bigram_frac
  FROM s JOIN a USING (doc_id)
)
SELECT doc_id, CAST(n_tokens AS INT) AS n_tokens,
       mean_word_len, dup_token_frac, top_bigram_frac,
       n_tokens >= {_MIN_TOKENS} AS keep_len,
       top_bigram_frac <= {_TOP_BIGRAM_MAX} AS keep_rep,
       (n_tokens >= {_MIN_TOKENS}
        AND top_bigram_frac <= {_TOP_BIGRAM_MAX}) AS keep
FROM j
"""


def _max_run_length(sorted_arr):
    """Max run length of equal adjacent elements in a SORTED array —
    i.e. the count of the array's mode — as a single codegen'd
    aggregate expression (state: prev element, current run, best run).
    """
    init = F.struct(
        F.lit(None).cast("string").alias("prev"),
        F.lit(0).alias("run"),
        F.lit(0).alias("best"),
    )

    def step(acc, x):
        newrun = (
            F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1))
        )
        return F.struct(
            x.alias("prev"),
            newrun.alias("run"),
            F.greatest(acc["best"], newrun).alias("best"),
        )

    return F.aggregate(sorted_arr, init, step, lambda acc: acc["best"])


@register("gopher_repetition_flags", oracle=_REP_ORACLE)
def q_gopher_repetition_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc repetition stats + keep flags (Gopher §A1.1 shape).

    MAP-ONLY: the most-frequent-bigram count is the mode of the
    per-doc bigram array, computed as a run-length scan over the
    sorted array (O(m log m) per doc, all whole-stage codegen) — a
    per-doc statistic must never cost a corpus-wide (doc_id, gram)
    shuffle, which at 100 TB would shuffle the entire token stream
    twice just to throw it away. Docs with no bigrams (< 2 tokens)
    are dropped, matching the oracle's inner join against the bigram
    aggregate. Flags compare on the 1e-6-floored ratios so the
    boundary is engine-deterministic."""
    from miba_2023_capstone_rb_nlp_spark.functions.lets import let1

    d = _docs(spark, sf_dir)

    # token array and sorted bigram array let1-bound (r15): the old
    # two-projection shape LOOKED like it materialized each once, but
    # CollapseProject fuses the selects and inlines `_grams` into
    # both consumers (run-length scan + size) and the split into
    # every feature — the text re-tokenized ~5× and the bigram
    # build+sort ran twice per row. Bound, each is evaluated once:
    # measured 1.54 → 0.64 s at sf0.1, byte-identical output.
    def _per_doc(tarr):
        feats = T.quality_features_from(tarr)

        def _over_grams(ga):
            return F.struct(
                feats["n_tokens"].alias("n_tokens"),
                feats["sum_token_len"].alias("sum_token_len"),
                feats["n_unique"].alias("n_unique"),
                _max_run_length(ga).alias("top_n"),
                F.size(ga).cast("bigint").alias("total_bigrams"),
            )

        return let1(
            F.array_sort(T.word_ngrams_from(tarr, 2)), _over_grams
        )

    per_doc = (
        d.select(
            "doc_id",
            let1(T.tokens(F.col("text")), _per_doc).alias("_s"),
        )
        .select("doc_id", "_s.*")
        .filter(F.col("total_bigrams") > 0)
    )
    n_tok = F.col("n_tokens")
    stats = per_doc.select(
        "doc_id",
        n_tok.alias("n_tokens"),
        fixed(F.col("sum_token_len").cast("double") / n_tok, 6).alias(
            "mean_word_len"
        ),
        fixed(F.lit(1.0) - F.col("n_unique").cast("double") / n_tok, 6).alias(
            "dup_token_frac"
        ),
        fixed(F.col("top_n").cast("double") / F.col("total_bigrams"), 6).alias(
            "top_bigram_frac"
        ),
    )
    keep_len = F.col("n_tokens") >= _MIN_TOKENS
    keep_rep = F.col("top_bigram_frac") <= _TOP_BIGRAM_MAX
    return stats.select(
        "*",
        keep_len.alias("keep_len"),
        keep_rep.alias("keep_rep"),
        (keep_len & keep_rep).alias("keep"),
    )


# --- PII redaction ---------------------------------------------------
# Patterns use only syntax with identical semantics in java.util.regex
# (Spark) and RE2 (DuckDB): char classes, bounded repetition, \b.
_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PHONE_RE = r"\b\d{3}-\d{4}\b"
_IP_RE = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"

# Deterministic fabricated PII (the synthetic corpus has none): one
# email+phone+ip per doc, a second email on every third doc so the
# multi-match path is exercised.
_FAB_SQL = (
    "'contact u' || CAST(doc_id AS VARCHAR) || '@ex' || "
    "CAST(doc_id % 7 AS VARCHAR) || '.com tel 555-' || "
    "lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' ip 10.' || "
    "CAST(doc_id % 256 AS VARCHAR) || '.0.' || "
    "CAST((doc_id * 7) % 256 AS VARCHAR) || "
    "CASE WHEN doc_id % 3 = 0 THEN ' cc u' || CAST(doc_id AS VARCHAR) "
    "|| '@alt.org' ELSE '' END || ' ' || text"
)

_PII_ORACLE = f"""
WITH fab AS (SELECT doc_id, {_FAB_SQL} AS s FROM documents),
red AS (
  SELECT doc_id,
         CAST(len(regexp_extract_all(s, '{_EMAIL_RE}')) AS INT) AS n_emails,
         CAST(len(regexp_extract_all(s, '{_PHONE_RE}')) AS INT) AS n_phones,
         CAST(len(regexp_extract_all(s, '{_IP_RE}')) AS INT) AS n_ips,
         regexp_replace(regexp_replace(regexp_replace(s,
             '{_EMAIL_RE}', '<EMAIL>', 'g'),
             '{_IP_RE}', '<IP>', 'g'),
             '{_PHONE_RE}', '<PHONE>', 'g') AS redacted
  FROM fab
)
SELECT doc_id, n_emails, n_phones, n_ips,
       CAST(length(redacted) AS INT) AS redacted_len,
       CAST(('0x' || substr(md5(redacted), 1, 15)) AS BIGINT) AS redacted_fp
FROM red
"""


@register("pii_redaction", oracle=_PII_ORACLE)
def q_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub: count then redact emails → IPv4 → phones (ordered so
    later patterns can't match inside earlier placeholders). Narrow
    map-only pass — at 100 TB this pushes to the scan with zero
    shuffles; the redacted fingerprint pins the exact output text."""
    d = _docs(spark, sf_dir)
    i = F.col("doc_id")
    fab = F.concat(
        F.lit("contact u"),
        i.cast("string"),
        F.lit("@ex"),
        (i % 7).cast("string"),
        F.lit(".com tel 555-"),
        F.lpad((i % 10000).cast("string"), 4, "0"),
        F.lit(" ip 10."),
        (i % 256).cast("string"),
        F.lit(".0."),
        ((i * 7) % 256).cast("string"),
        F.when(
            i % 3 == 0,
            F.concat(F.lit(" cc u"), i.cast("string"), F.lit("@alt.org")),
        ).otherwise(F.lit("")),
        F.lit(" "),
        F.col("text"),
    )
    s = d.select("doc_id", fab.alias("s"))
    redacted = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.col("s"), _EMAIL_RE, "<EMAIL>"),
            _IP_RE,
            "<IP>",
        ),
        _PHONE_RE,
        "<PHONE>",
    )
    counted = s.select(
        "doc_id",
        F.regexp_count(F.col("s"), F.lit(_EMAIL_RE)).cast("int").alias("n_emails"),
        F.regexp_count(F.col("s"), F.lit(_PHONE_RE)).cast("int").alias("n_phones"),
        F.regexp_count(F.col("s"), F.lit(_IP_RE)).cast("int").alias("n_ips"),
        redacted.alias("redacted"),
    )
    return counted.select(
        "doc_id",
        "n_emails",
        "n_phones",
        "n_ips",
        F.length("redacted").alias("redacted_len"),
        T.md5_long(F.col("redacted")).alias("redacted_fp"),
    )


# --- benchmark decontamination (4-gram overlap vs eval split) --------
_EVAL_MOD = 20  # doc_id % 20 == 0 → held-out eval split

_CONTAM_ORACLE = f"""
WITH p AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
s AS (
  SELECT doc_id,
         list_distinct([CAST(('0x' || substr(md5(
              array_to_string(t[i:i+3], ' ')), 1, 15)) AS BIGINT)
          for i in generate_series(1, len(t) - 3)]) AS gs
  FROM p
),
sh AS (SELECT doc_id, len(gs) AS n_grams, unnest(gs) AS g FROM s),
ev AS (SELECT DISTINCT g FROM sh WHERE doc_id % {_EVAL_MOD} = 0),
tr AS (SELECT * FROM sh WHERE doc_id % {_EVAL_MOD} <> 0)
SELECT tr.doc_id, CAST(count(*) AS BIGINT) AS n_shared,
       CAST(min(n_grams) AS INT) AS n_grams,
       {sql_fixed("CAST(count(*) AS DOUBLE) / min(n_grams)", 6)}
         AS shared_frac
FROM tr JOIN ev USING (g)
GROUP BY tr.doc_id
"""


@register("contamination_ngram_overlap", oracle=_CONTAM_ORACLE)
def q_contamination_ngram_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: training docs sharing any word
    4-gram with the eval split (doc_id % 20 == 0), with the shared
    count and fraction of the doc's distinct grams.

    Scale shape: the eval-benchmark n-gram set is tiny by definition
    (a few eval suites vs a 100 TB crawl), so it is collected to a
    broadcast hash set and the train side joins map-side — the full
    corpus is never shuffled. Per-doc distinct grams are deduped
    inside the array before the explode (narrow), so the join input
    is minimal and n_shared counts distinct shared grams."""
    d = _docs(spark, sf_dir)
    grams = F.array_distinct(
        F.transform(T.word_ngrams(F.col("text"), 4), T.md5_long)
    )
    # two-projection shape: hash array materialized once, then sized
    # and exploded from the column reference (same rationale as
    # winnowing — don't re-hash per reference)
    sh = d.select("doc_id", grams.alias("_gs")).select(
        "doc_id",
        F.size(F.col("_gs")).alias("n_grams"),
        F.explode(F.col("_gs")).alias("g"),
    )
    ev = sh.filter(F.col("doc_id") % _EVAL_MOD == 0).select("g").distinct()
    tr = sh.filter(F.col("doc_id") % _EVAL_MOD != 0)
    return (
        tr.join(F.broadcast(ev), "g", "inner")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shared"),
            F.min("n_grams").alias("n_grams"),
        )
        .select(
            "doc_id",
            "n_shared",
            "n_grams",
            fixed(
                F.col("n_shared").cast("double") / F.col("n_grams"), 6
            ).alias("shared_frac"),
        )
    )


# --- canonical corpus after near-dup removal ------------------------
_CANON_ORACLE = _CC_CTES + """,
grp AS (
  SELECT component, CAST(count(*) AS BIGINT) AS n_docs
  FROM comp GROUP BY component
)
SELECT d.doc_id, d.lang, d.source, g.n_docs
FROM grp g JOIN documents d ON d.doc_id = g.component
"""


@register("dedup_canonical_corpus", oracle=_CANON_ORACLE)
def q_dedup_canonical_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The query a user runs to EMIT the deduplicated corpus: n-gram
    Jaccard pairs → connected components → keep the min-doc_id
    representative of each group, carrying how many near-dups it
    absorbed. The final representative join is a plain equi-join on
    doc_id — group count ≈ corpus size, so no broadcast assumption."""
    docs = _docs(spark, sf_dir)
    comp = _near_dup_components(docs)
    grp = comp.groupBy("component").agg(F.count(F.lit(1)).alias("n_docs"))
    return docs.join(
        grp, docs["doc_id"] == grp["component"], "inner"
    ).select("doc_id", "lang", "source", "n_docs")


# --- quality-argmax representative per near-dup group ----------------
# Same component graph as dedup_canonical_corpus, but the kept doc is
# the HIGHEST-QUALITY member, not the min-id one — the policy real
# corpus pipelines use (keep the longest/cleanest copy). Quality =
# distinct-token count: an INTEGER, so the cross-engine argmax cannot
# be perturbed by float rounding; ties break to the larger doc_id in
# both engines (struct-max in Spark, explicit ORDER BY in SQL).
_QREP_ORACLE = _CC_CTES + """,
qual AS (
  SELECT doc_id, len(list_distinct(string_split(text, ' '))) AS n_unique
  FROM documents
),
ranked AS (
  SELECT comp.component, comp.doc_id, qual.n_unique,
         count(*) OVER (PARTITION BY comp.component) AS n_docs,
         row_number() OVER (
           PARTITION BY comp.component
           ORDER BY qual.n_unique DESC, comp.doc_id DESC) AS rk
  FROM comp JOIN qual USING (doc_id)
)
SELECT component, doc_id AS rep_doc_id,
       CAST(n_unique AS INT) AS rep_quality,
       CAST(n_docs AS BIGINT) AS n_docs,
       CAST(n_docs - 1 AS BIGINT) AS dups_removed
FROM ranked WHERE rk = 1
"""


@register("quality_representative_dedup", oracle=_QREP_ORACLE)
def q_quality_representative_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup groups keep their best member: jaccard pairs →
    connected components → per-component argmax on distinct-token
    count via a single struct-max aggregate (no window sort, no
    per-component shuffle beyond the one groupBy). The oracle ranks
    with row_number; integer quality keeps both argmaxes identical."""
    from miba_2023_capstone_rb_nlp_spark.functions.text import tokens

    docs = _docs(spark, sf_dir)
    comp = _near_dup_components(docs)
    qual = docs.select(
        "doc_id",
        F.size(F.array_distinct(tokens(F.col("text")))).alias("n_unique"),
    )
    return (
        comp.join(qual, "doc_id", "inner")
        .groupBy("component")
        .agg(
            F.max(F.struct("n_unique", "doc_id")).alias("_m"),
            F.count(F.lit(1)).alias("n_docs"),
        )
        .select(
            "component",
            F.col("_m.doc_id").alias("rep_doc_id"),
            F.col("_m.n_unique").alias("rep_quality"),
            "n_docs",
            (F.col("n_docs") - 1).alias("dups_removed"),
        )
    )


# --- end-to-end corpus prep: filter → decontam → dedup → sample ------
_SAMPLE_PERMILLE = 500  # 50% deterministic hash sample

_PREP_ORACLE = f"""
WITH u AS (
  SELECT doc_id, lang, source, text FROM documents
  UNION ALL
  SELECT doc_id + 100000, lang, source, text
  FROM documents WHERE doc_id % 10 = 0
),
p AS (
  SELECT doc_id, lang, source, md5(text) AS h,
         string_split(text, ' ') AS t
  FROM u
),
s AS (
  SELECT doc_id, lang, source, h, len(t) AS n_tokens,
         [array_to_string(t[i:i+1], ' ')
          for i in generate_series(1, len(t) - 1)] AS grams,
         list_distinct([CAST(('0x' || substr(md5(
              array_to_string(t[i:i+3], ' ')), 1, 15)) AS BIGINT)
          for i in generate_series(1, len(t) - 3)]) AS g4
  FROM p
),
g AS (SELECT doc_id, unnest(grams) AS gram FROM s),
c AS (SELECT doc_id, gram, count(*) AS n FROM g GROUP BY doc_id, gram),
a AS (SELECT doc_id, max(n) AS top_n, CAST(sum(n) AS BIGINT) AS total
      FROM c GROUP BY doc_id),
q AS (
  SELECT s.*, {sql_fixed("CAST(a.top_n AS DOUBLE) / a.total", 6)} AS tbf
  FROM s JOIN a USING (doc_id)
),
qual AS (
  SELECT * FROM q
  WHERE n_tokens >= {_MIN_TOKENS} AND tbf <= {_TOP_BIGRAM_MAX}
),
ev AS (SELECT DISTINCT unnest(g4) AS gr FROM s
       WHERE doc_id % {_EVAL_MOD} = 0),
contam AS (
  SELECT DISTINCT q.doc_id
  FROM (SELECT doc_id, unnest(g4) AS gr FROM qual
        WHERE doc_id % {_EVAL_MOD} <> 0) q
  JOIN ev USING (gr)
),
clean AS (
  SELECT * FROM qual
  WHERE doc_id % {_EVAL_MOD} <> 0
    AND doc_id NOT IN (SELECT doc_id FROM contam)
),
dd AS (SELECT min(doc_id) AS doc_id, CAST(count(*) AS BIGINT) AS n_copies
       FROM clean GROUP BY h),
reps AS (SELECT c.lang, c.source, c.n_tokens, dd.n_copies, c.doc_id
         FROM dd JOIN clean c USING (doc_id)),
samp AS (
  SELECT * FROM reps
  WHERE CAST(('0x' || substr(md5('prep:' || doc_id), 1, 15)) AS BIGINT)
        % 1000 < {_SAMPLE_PERMILLE}
)
SELECT lang, source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
       CAST(sum(n_copies - 1) AS BIGINT) AS dups_absorbed
FROM samp GROUP BY lang, source
"""


@register("corpus_prep_chain", oracle=_PREP_ORACLE)
def q_corpus_prep_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end corpus preparation, composed from the curation
    operators the way a real pretraining pipeline chains them:

      1. Gopher quality filter (map-only mode scan, no shuffle);
      2. benchmark decontamination (eval 4-gram set → broadcast
         semi-join; the train side never shuffles);
      3. exact dedup keeping the min-id representative per md5(text)
         group, carrying how many copies it absorbed;
      4. deterministic 50% hash sample (pure filter, pushes to scan);
      5. the per-(lang, source) corpus card: doc/token/dup totals.

    Duplicates are injected (10% re-keyed copies, the ``exact_dedup``
    idiom — the synthetic corpus has none) so the dedup stage absorbs
    real groups; +100000 preserves doc_id % 20 parity, so a copy of
    an eval doc is excluded exactly like its original.

    One oracle-checked entry proving the stages compose: total
    shuffles = gram-set distinct + contaminated-id distinct + dedup
    groupBy + final card groupBy; every per-doc statistic stays
    map-side. At 100 TB every stage keeps its individual entry's
    scale shape — nothing in the composition adds a corpus-wide
    shuffle beyond the dedup groupBy the task inherently needs."""
    from miba_2023_capstone_rb_nlp_spark.functions.text import md5_long

    from miba_2023_capstone_rb_nlp_spark.functions.lets import let1

    d = _docs(spark, sf_dir)

    # token + sorted-bigram arrays let1-bound, exactly as in
    # gopher_repetition_flags (item 22): CollapseProject otherwise
    # inlines the split into every feature and `_g2` into both its
    # consumers, re-tokenizing the text ~5× and re-building the
    # sorted bigram array twice per row in the cache-build pass
    def _per_doc(tarr):
        feats = T.quality_features_from(tarr)
        g4 = F.array_distinct(
            F.transform(T.word_ngrams_from(tarr, 4), T.md5_long)
        )

        def _over_grams(ga):
            return F.struct(
                feats["n_tokens"].alias("n_tokens"),
                g4.alias("_g4"),
                _max_run_length(ga).alias("_top_n"),
                F.size(ga).cast("bigint").alias("_total"),
            )

        return let1(
            F.array_sort(T.word_ngrams_from(tarr, 2)), _over_grams
        )

    base0 = (
        d.select(
            "doc_id",
            "lang",
            "source",
            F.md5(F.col("text")).alias("h"),
            let1(T.tokens(F.col("text")), _per_doc).alias("_s"),
        )
        .select("doc_id", "lang", "source", "h", "_s.*")
        .filter(F.col("_total") > 0)
    )
    # three branches consume this base (eval gram set, train gram
    # explode, surviving rows) — persist the narrow feature projection
    # once instead of recomputing the per-doc text passes per branch;
    # at 100 TB this is the standard materialize-the-working-set step
    # (persist or a checkpoint table) any multi-branch pipeline needs
    base0 = persist_tracked(base0)
    # inject the re-keyed copies AFTER the per-doc features and via a
    # posexplode-free id fan-out rather than a self-union: a copy
    # carries identical text so its stats are reused, and one scan
    # replaces two (a self-union here also trips a Catalyst Union
    # constraint-rewrite bug on the pruned text attribute)
    ids = F.when(
        F.col("doc_id") % 10 == 0,
        F.array(F.col("doc_id"), F.col("doc_id") + 100000),
    ).otherwise(F.array(F.col("doc_id")))
    base = base0.select(
        F.explode(ids).alias("doc_id"),
        "lang",
        "source",
        "h",
        "n_tokens",
        "_g4",
        "_top_n",
        "_total",
    )
    tbf = fixed(F.col("_top_n").cast("double") / F.col("_total"), 6)
    qual = base.filter(
        (F.col("n_tokens") >= _MIN_TOKENS) & (tbf <= _TOP_BIGRAM_MAX)
    )
    ev = (
        base.filter(F.col("doc_id") % _EVAL_MOD == 0)
        .select(F.explode("_g4").alias("gr"))
        .distinct()
    )
    train = qual.filter(F.col("doc_id") % _EVAL_MOD != 0)
    contam = (
        train.select("doc_id", F.explode("_g4").alias("gr"))
        .join(F.broadcast(ev), "gr", "inner")
        .select("doc_id")
        .distinct()
    )
    clean = train.join(contam, "doc_id", "left_anti").drop("_g4")
    # the representative's payload rides the dedup groupBy as min_by
    # columns (doc_id is unique within a group, so min_by is exact and
    # deterministic) instead of joining dd back onto clean — the old
    # shape re-shuffled BOTH corpus-scale tables by doc_id for a join
    # whose entire output the aggregate can carry itself (r15, guide
    # §2.3: one exchange, not three)
    reps = clean.groupBy("h").agg(
        F.min("doc_id").alias("doc_id"),
        F.count(F.lit(1)).alias("n_copies"),
        F.min_by("lang", "doc_id").alias("lang"),
        F.min_by("source", "doc_id").alias("source"),
        F.min_by("n_tokens", "doc_id").alias("n_tokens"),
    )
    samp = reps.filter(
        md5_long(F.concat(F.lit("prep:"), F.col("doc_id").cast("string")))
        % 1000
        < _SAMPLE_PERMILLE
    )
    return samp.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("total_tokens"),
        F.sum(F.col("n_copies") - 1).cast("bigint").alias("dups_absorbed"),
    )


# --- URL canonicalization + dedup (web-corpus ingest hygiene) -------
# Fabricated URL variants per underlying article (5 docs share one
# article id): mixed-case host, http scheme, explicit :443 port,
# utm tracking params, fragment — the five classic crawl-dup causes.
_URL_FAB = """
SELECT doc_id,
  CASE CAST(doc_id % 5 AS INT)
    WHEN 0 THEN 'https://News.Example.com/articles/' || art || '/'
    WHEN 1 THEN 'http://news.example.com/articles/' || art
    WHEN 2 THEN 'https://news.example.com:443/articles/' || art
    WHEN 3 THEN 'https://news.example.com/articles/' || art
                || '?utm_source=feed&utm_medium=rss'
    ELSE 'https://news.example.com/articles/' || art || '#section-2'
  END AS url
FROM (SELECT doc_id,
             CAST(CAST(floor(doc_id / 5) AS BIGINT) AS STRING) AS art
      FROM documents)
"""

_URL_DEDUP_ORACLE = f"""
WITH urls AS ({_URL_FAB}),
canon AS (
  SELECT doc_id,
    'https://' || lower(regexp_extract(url, '^[a-zA-Z]+://([^/:?#]+)', 1)) ||
    regexp_replace(
      regexp_extract(url, '^[a-zA-Z]+://[^/:?#]+(:[0-9]+)?([^?#]*)', 2),
      '/$', '')
      AS canonical_url
  FROM urls
)
SELECT canonical_url,
       CAST(min(doc_id) AS BIGINT) AS rep_doc,
       CAST(count(*) AS BIGINT) AS n_variants
FROM canon GROUP BY canonical_url
"""


@register("url_canonical_dedup", oracle=_URL_DEDUP_ORACLE)
def q_url_canonical_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization → exact dedup: scheme normalization,
    host lowercasing, default-port and trailing-slash and fragment
    stripping, tracking-query removal (the fabricated variants only
    carry utm params, so dropping the query IS the tracking strip;
    a general cleaner would filter parameter pairs instead).
    Canonicalization is a pure map (regexp_extract, no backreference
    replacements — Java `$1` vs RE2 `\\1` replacement syntax differs,
    extract+concat is engine-portable); dedup is one hash aggregate
    on the canonical key with map-side partial agg — the same 100 TB
    shape as ``exact_dedup``."""
    catalog.table(spark, sf_dir, "documents").createOrReplaceTempView(
        "documents"
    )
    urls = spark.sql(_URL_FAB)
    canonical = F.concat(
        F.lit("https://"),
        F.lower(F.regexp_extract("url", r"^[a-zA-Z]+://([^/:?#]+)", 1)),
        F.regexp_replace(
            F.regexp_extract("url", r"^[a-zA-Z]+://[^/:?#]+(:[0-9]+)?([^?#]*)", 2),
            r"/$", "",
        ),
    )
    return (
        urls.withColumn("canonical_url", canonical)
        .groupBy("canonical_url")
        .agg(
            F.min("doc_id").alias("rep_doc"),
            F.count(F.lit(1)).alias("n_variants"),
        )
    )
