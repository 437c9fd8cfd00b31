"""Embedding stages (SURVEY M1/M2).

Two paths:
1. ``hash_embeddings`` — deterministic feature-hashing stand-in
   (signed bucket counts, L2-normalized). Pure relational (explode +
   groupBy), engine-deterministic → used by correctness gates, and
   genuinely useful as a cheap featurizer at 100 TB.
2. ``transformer_embeddings`` — iterator-style ``mapInPandas`` so the
   model loads ONCE per executor (vs the reference's per-row loop,
   word_wizard.py:191); Arrow-batched. Gated behind import-try: this
   container has no torch/sentence-transformers, so the UDF raises a
   clear error at *execution* time while the plan/schema plumbing
   stays testable.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import TYPE_CHECKING

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, FloatType, StructField, StructType

from miba_2023_capstone_rb_nlp_spark.functions.numeric import fixed
from miba_2023_capstone_rb_nlp_spark.functions.text import md5_long, tokens

if TYPE_CHECKING:
    import pandas as pd


def hash_embeddings(
    df: DataFrame,
    text_col: str,
    id_col: str,
    dim: int = 8,
    scale: int = 6,
    out_col: str = "hash_embedding",
    salt: str = "",
) -> DataFrame:
    """Signed feature-hashing embedding: bucket = h mod dim, sign from
    bit 10 of h; vector = per-bucket signed counts, L2-normalized and
    quantized.

    MAP-ONLY (r15, optimization guide §2.4; kernel reworked r16): the
    vector is a per-row statistic, so it folds inside one codegen
    projection — tokens encoded once as signed ints ±(bucket+1),
    bucket counts packed into the 8-bit fields of two bigint
    accumulators (one per sign; rows over 127 tokens, and every
    ``dim > 8``, take a general fold), then normalized. The old
    shape exploded the token stream, shuffled per-id partial sums
    (ids are unique per row, so the "partial" aggregation reduced
    nothing — the exchange carried one row per input row), and
    JOINED the vectors back on id: at corpus
    scale that is a full shuffle plus a corpus-sized self-join for a
    value each row can compute alone. Bucket sums are exact integers
    (order-free), the norm accumulates left-assoc over s0..s{dim-1},
    and each component quantizes exactly as before — bit-identical
    output, and every existing oracle (the same arithmetic in SQL via
    GROUP BY) is untouched. Rows with NULL text are dropped, matching
    the old inner join against the exploded token table.

    ``salt`` prefixes every token hash — distinct salts are distinct
    deterministic models (the wizard's M1-vs-M2 stand-in pair); the
    default "" keeps md5(token) exactly.
    """
    from miba_2023_capstone_rb_nlp_spark.functions.lets import let1, let2

    # r16 (guide §1.2 per-task work): the r15 fold rebuilt a dim-long
    # array per TOKEN (transform(acc, ...) inside aggregate — an
    # O(n_tokens·dim) interpreted-node storm plus one array alloc per
    # step; the driver measured it 19% slower than the pre-r15
    # explode+join despite the better plan shape). Same map-only
    # plan, O(1)-per-token kernel: pack the per-bucket counts into
    # the 8-bit fields of TWO bigint accumulators (one per sign), so
    # each token costs one compare + one table-lookup + one add.
    # Exact while no count reaches the sign bit: at dim = 8 bucket 7
    # sits at bits 56-63, so a count of 128 there is 2^63 and
    # overflows under ANSI. ``n_tokens ≤ 127`` guarantees it; longer
    # rows, and any dim > 8 (8 fields × 8 bits is exactly one
    # bigint), take the r15 fold (CaseWhen only evaluates the branch
    # taken). Bucket sums stay exact integer
    # sums either way — bit-identical vectors, untouched oracles.
    # Measured (same-session interleaved, sf0.1 documents, 5 reps):
    # fold min 0.723 s → packed min 0.612 s; diff rows 0 incl. a
    # synthetic long-row batch that exercises the fallback.
    def hash60(tok: Column) -> Column:
        return md5_long(F.concat(F.lit(salt), tok)) if salt else md5_long(tok)

    def tok_pair(tok: Column) -> Column:
        return let1(
            hash60(tok),
            lambda h: F.struct(
                (h % dim).cast("int").alias("bucket"),
                F.when(F.shiftright(h, 10).bitwiseAND(1) == 1, F.lit(1))
                .otherwise(-1)
                .alias("sign"),
            ),
        )

    def tok_enc(tok: Column) -> Column:
        # signed int ±(bucket+1); md5 evaluated once via let1
        return let1(
            hash60(tok),
            lambda h: F.when(
                F.shiftright(h, 10).bitwiseAND(1) == 1, (h % dim) + 1
            )
            .otherwise(-((h % dim) + 1))
            .cast("int"),
        )

    def unpack(pos: Column, neg: Column) -> Column:
        return F.array(
            *[
                (
                    F.shiftright(pos, 8 * d).bitwiseAND(255)
                    - F.shiftright(neg, 8 * d).bitwiseAND(255)
                ).cast("bigint")
                for d in range(dim)
            ]
        )

    def packed_sums(toks: Column) -> Column:
        pow256 = F.lit([256**d for d in range(dim)]).cast("array<bigint>")

        def signed_pack(arr: Column, positive: bool) -> Column:
            pick = (lambda e: e > 0) if positive else (lambda e: e < 0)
            idx = (lambda e: e) if positive else (lambda e: -e)
            return F.aggregate(
                arr,
                F.lit(0).cast("bigint"),
                lambda acc, e: acc
                + F.when(pick(e), F.element_at(pow256, idx(e))).otherwise(
                    F.lit(0).cast("bigint")
                ),
            )

        return let1(
            F.transform(toks, tok_enc),
            lambda enc: let2(
                signed_pack(enc, True), signed_pack(enc, False), unpack
            ),
        )

    def fold_sums(toks: Column) -> Column:
        return F.aggregate(
            F.transform(toks, tok_pair),
            F.array_repeat(F.lit(0).cast("bigint"), dim),
            lambda acc, p: F.transform(
                acc,
                lambda v, i: v
                + F.when(p["bucket"] == i, p["sign"].cast("bigint")).otherwise(
                    F.lit(0).cast("bigint")
                ),
            ),
        )

    def bucket_sums(toks: Column) -> Column:
        if dim > 8:
            return fold_sums(toks)
        return F.when(F.size(toks) <= 127, packed_sums(toks)).otherwise(
            fold_sums(toks)
        )

    def finish(s: Column) -> Column:
        norm_sq = None
        for d in range(dim):
            term = s[d].cast("double") * s[d]
            norm_sq = term if norm_sq is None else norm_sq + term
        return let1(
            F.sqrt(norm_sq),
            lambda n: F.array(
                *[
                    F.when(n > 0, fixed(s[d] / n, scale)).otherwise(F.lit(0.0))
                    for d in range(dim)
                ]
            ),
        )

    return df.filter(F.col(text_col).isNotNull()).withColumn(
        out_col,
        let1(
            tokens(F.col(text_col)),
            lambda toks: let1(bucket_sums(toks), finish),
        ),
    )


def _default_st_loader(model_name: str):
    """Gated sentence-transformers import; returns an object with
    ``.encode(texts, batch_size=..., convert_to_numpy=True)``."""
    try:
        from sentence_transformers import SentenceTransformer
    except ImportError as e:  # pragma: no cover - env without torch
        raise NotImplementedError(
            "transformer_embeddings requires sentence-transformers; "
            "use hash_embeddings for a deterministic stand-in"
        ) from e
    return SentenceTransformer(model_name)


def transformer_embeddings(
    df: DataFrame,
    text_col: str,
    out_col: str = "sentence_embedding",
    model_name: str = "all-MiniLM-L6-v2",
    dim: int = 384,
    batch_size: int = 64,
    model_loader=None,
) -> DataFrame:
    """Real sentence-transformer path (M2). mapInPandas iterator form:
    the model is loaded once per executor process (``model_loader``
    runs inside the UDF, before the batch loop) and reused across
    Arrow batches; weights come from the local HF cache.

    The default loader raises at execution time if
    sentence-transformers isn't installed (this test container); tests
    exercise the identical plan/schema/batching plumbing by injecting
    a fake loader.
    """
    loader = model_loader or _default_st_loader
    out_schema = StructType(
        df.schema.fields + [StructField(out_col, ArrayType(FloatType()), True)]
    )

    def infer(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        model = loader(model_name)  # once per executor
        for pdf in batches:
            vecs = model.encode(
                pdf[text_col].tolist(), batch_size=batch_size, convert_to_numpy=True
            )
            pdf = pdf.copy()
            pdf[out_col] = [v.astype("float32").tolist() for v in vecs]
            yield pdf

    return df.mapInPandas(infer, schema=out_schema)
