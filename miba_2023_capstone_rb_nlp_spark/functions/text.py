"""Text-analysis column library (SURVEY §2.8 F10-F11 + the
training-data-pipeline additions: token counting, language-ID,
quality scoring, fingerprinting).

All pure Catalyst expressions (split/transform/filter/aggregate/md5)
— no Python UDFs, so everything stays in whole-stage codegen and is
engine-deterministic for oracle parity. Hashes derive from md5 (same
algorithm in Spark, DuckDB, and any other engine) rather than
xxhash/murmur whose implementations differ across engines.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# 60-bit hash space: fits a positive BIGINT in every engine and
# avoids DuckDB's checked 1<<63 overflow.
HASH_HEX_CHARS = 15


def tokens(c: Column) -> Column:
    """Whitespace tokenization (single-space convention; F10 analog)."""
    return F.split(c, " ")


def token_count(c: Column) -> Column:
    return F.size(tokens(c))


def word_ngrams_from(t: Column, n: int) -> Column:
    """Word n-grams over an ALREADY-BOUND token array (a let1/lambda
    variable): callers that derive several statistics from one
    tokenization bind ``tokens(c)`` once and build every n-gram order
    from the same array — otherwise CollapseProject inlines the
    split into each consumer and the text re-tokenizes per feature
    (r15; measured 2.5× on the gopher scan)."""
    # guard: sequence(1, 0) DESCENDS in Spark → explicit empty array
    return F.when(F.size(t) < n, F.array().cast("array<string>")).otherwise(
        F.transform(
            F.sequence(F.lit(1), F.size(t) - (n - 1)),
            lambda i: F.concat_ws(" ", F.slice(t, i, n)),
        )
    )


def word_ngrams(c: Column, n: int) -> Column:
    """Word n-gram shingles as space-joined strings.

    transform over an index sequence — no explode, no shuffle. The
    token array is let1-bound: the body references it three times
    (two sizes + the slice), which re-split the text thrice per row
    for every consumer of this helper (r15)."""
    from miba_2023_capstone_rb_nlp_spark.functions.lets import let1

    return let1(tokens(c), lambda t: word_ngrams_from(t, n))


# GPT-2-style pretokenizer, restricted to the regex subset with
# identical semantics in Java regex (Spark) and RE2 (DuckDB): no
# lookaheads, ASCII classes, leftmost-first alternation. Matches
# contractions, space-prefixed letter/digit runs, punctuation runs,
# and residual whitespace — the standard BPE pre-split shape.
BPE_PATTERN = r"'(s|t|re|ve|m|ll|d)| ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9\s]+|\s+"


def bpe_token_count(c: Column) -> Column:
    """Count of BPE-ish pretokenizer matches (group 0 of BPE_PATTERN).

    Oracle mirror: len(regexp_extract_all(x, <pattern with '' quoting>)).
    """
    return F.size(F.regexp_extract_all(c, F.lit(BPE_PATTERN), F.lit(0)))


def md5_long(c: Column) -> Column:
    """First 60 bits of md5 as a non-negative BIGINT.

    Oracle mirror: CAST('0x' || substr(md5(x), 1, 15) AS BIGINT).
    """
    return F.conv(F.substring(F.md5(c), 1, HASH_HEX_CHARS), 16, 10).cast("bigint")


def fingerprint(c: Column) -> Column:
    """Document fingerprint: 60-bit md5 of the exact text."""
    return md5_long(c)


def shingle_hashes(c: Column, n: int = 3) -> Column:
    """60-bit md5 hash per word ``n``-gram shingle.

    PERFORMANCE CONTRACT: materialize this in its OWN projection
    (``.select(..., shingle_hashes(col).alias("sh"))``) before feeding
    it to :func:`winnow_from_hashes`. A higher-order-function lambda
    re-evaluates every expression subtree it references once per
    element, so inlining this array into the windowed ``transform``
    makes the md5 pass O(windows × shingles) per row. Catalyst's
    CollapseProject keeps non-cheap projections separate, so the
    two-select shape evaluates the hashes exactly once per row.
    """
    return F.transform(word_ngrams(c, n), md5_long)


def winnow_from_hashes(sh: Column, w: int = 4) -> Column:
    """Winnowing over a MATERIALIZED shingle-hash array column: slide
    a window of ``w`` consecutive hashes, keep each window's minimum,
    dedup. ``sh`` must be a plain column reference (see
    :func:`shingle_hashes`) — re-evaluating an attribute inside the
    lambda is free, so this stays O(windows × w) per row, map-only,
    whole-stage codegen.

    Degenerate docs: no shingles → empty array; fewer than w shingles
    → the single global minimum.
    """
    n_sh = F.size(sh)
    full = F.transform(
        # ascending guard: only evaluated when n_sh >= w
        F.sequence(F.lit(1), n_sh - (w - 1)),
        lambda j: F.array_min(F.slice(sh, j, w)),
    )
    return (
        F.when(n_sh <= 0, F.array().cast("array<bigint>"))
        .when(n_sh < w, F.array(F.array_min(sh)))
        .otherwise(F.array_distinct(full))
    )


# Language-ID marker sets (tiny stopword heuristics — the scalable
# n-gram approach at 100 TB is the same shape: per-language token
# scores, argmax).
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "is", "of", "and"),
    "es": ("el", "la", "de", "que", "los"),
    "fr": ("le", "la", "et", "les", "des"),
    "de": ("der", "die", "und", "das", "ist"),
    "zh": (),  # non-ascii script: no whitespace markers
}


def lang_id(c: Column) -> Column:
    """Argmax language with deterministic tie-break (marker-set order);
    no markers hit → 'und'.

    Both the token array and the score vector are let1-bound (r15):
    the when-fold references each score ~3× and nests earlier scores
    inside later branches, so with inline scores the marker filters
    re-ran combinatorially many times per row (each one a full pass
    over a re-split token array). Bound, a score reference is one
    array index."""
    from miba_2023_capstone_rb_nlp_spark.functions.lets import let1

    def over_tokens(t: Column) -> Column:
        scs = []
        for markers in LANG_MARKERS.values():
            scs.append(
                F.size(F.filter(t, lambda x: x.isin(*markers)))
                if markers
                else F.lit(0)
            )

        def over_scores(sa: Column) -> Column:
            best_lang = F.lit("und")
            best_score = F.lit(0)
            # later entries win only on strict >
            for i, lang in enumerate(LANG_MARKERS):
                s = sa[i]
                is_better = s > best_score
                best_lang = F.when(is_better, F.lit(lang)).otherwise(best_lang)
                best_score = F.when(is_better, s).otherwise(best_score)
            return best_lang

        return let1(F.array(*scs), over_scores)

    return let1(tokens(c), over_tokens)


STOPWORDS = ("the", "a", "is", "of", "and", "to", "in")


def quality_features_from(t: Column) -> dict[str, Column]:
    """quality_features over an ALREADY-BOUND token array (let1 /
    lambda variable). Callers projecting several of these in one
    select must bind the tokenization once — CollapseProject inlines
    a plain ``tokens(c)`` into every feature and the text re-splits
    per column (r15)."""
    return {
        "n_tokens": F.size(t),
        "n_stopwords": F.size(F.filter(t, lambda x: x.isin(*STOPWORDS))),
        "n_unique": F.size(F.array_distinct(t)),
        "sum_token_len": F.aggregate(
            F.transform(t, lambda x: F.length(x)),
            F.lit(0),
            lambda a, b: a + b,
        ),
    }


def quality_features(c: Column) -> dict[str, Column]:
    """Deterministic quality features (exact integer counts; ratios
    derived with IEEE ops only — see functions/numeric rationale)."""
    return quality_features_from(tokens(c))


# --- F10: sentence tokenization ------------------------------------
# Consuming split pattern (NOT a lookbehind): DuckDB's RE2 oracle has
# no lookbehind support, so both engines split on the punctuation+space
# itself and trailing punctuation is trimmed per fragment.
SENTENCE_SPLIT_PATTERN = r"[.!?] +"


def sentences(c: Column) -> Column:
    """Naive sentence split (F10 stand-in for NLTK punkt; the model
    path loads punkt inside a pandas UDF without changing the plan)."""
    return F.split(c, SENTENCE_SPLIT_PATTERN)


# --- F11: lemmatization (rule-based stand-in) ----------------------
# Ordered suffix rules, identical semantics in Spark (java.util.regex)
# and DuckDB (RE2): ies→y, strip ing/ed, strip plural s (not ss).
LEMMA_RULES: tuple[tuple[str, str], ...] = (
    (r"ies$", "y"),
    (r"(ing|ed)$", ""),
    (r"([^s])s$", "$1"),
)


def lemma(c: Column) -> Column:
    """Token-level rule lemmatizer (F11 stand-in for WordNet; the
    NLTK path is a pandas UDF with the same column contract)."""
    out = c
    for pat, repl in LEMMA_RULES:
        out = F.regexp_replace(out, pat, repl)
    return out
