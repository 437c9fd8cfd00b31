"""Embedding stages (SURVEY M1/M2).

Two paths:
1. ``hash_embeddings`` — deterministic feature-hashing stand-in
   (signed bucket counts, L2-normalized). One map-only column
   expression, engine-deterministic → used by correctness gates, and
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

from miba_2023_capstone_rb_nlp_spark.functions.lets import let1
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
    quantized with ``fixed(·, scale)``.

    The vector is a per-row statistic, so it is one map-only
    projection. Each token is hashed once and encoded as the int
    ±(bucket+1); bucket b's sum is the number of +b codes minus the
    number of −b codes, read as the sizes of ``array_remove(enc, ∓b)``
    (a native array pass — a lambda ``aggregate`` per bucket costs
    more per element), and ``transform(sequence(1, dim), …)`` collects
    the dim sums. The expression does not grow with ``dim``, and the
    sums are exact integer counts for any row length. The norm
    accumulates s0², s1², … left to right in double. Rows with NULL
    text are dropped.

    ``salt`` prefixes every token hash — distinct salts are distinct
    deterministic models (the wizard's M1-vs-M2 stand-in pair); the
    default "" keeps md5(token) exactly.
    """

    def hash60(tok: Column) -> Column:
        return md5_long(F.concat(F.lit(salt), tok)) if salt else md5_long(tok)

    def tok_enc(h: Column) -> Column:
        sign = F.shiftright(h, 10).bitwiseAND(1) * 2 - 1
        return ((h % dim + 1) * sign).cast("int")

    def bucket_sums(enc: Column) -> Column:
        return F.transform(
            F.sequence(F.lit(1), F.lit(dim)),
            lambda b: F.size(F.array_remove(enc, -b))
            - F.size(F.array_remove(enc, b)),
        )

    def finish(s: Column) -> Column:
        norm = F.sqrt(
            F.aggregate(s, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x)
        )
        return let1(
            norm,
            lambda n: F.transform(
                s,
                lambda x: F.when(n > 0, fixed(x / n, scale)).otherwise(F.lit(0.0)),
            ),
        )

    # hash in its own pass: tok_enc reads h twice, and a lambda body
    # is evaluated per reference
    enc = F.transform(F.transform(tokens(F.col(text_col)), hash60), tok_enc)
    return df.filter(F.col(text_col).isNotNull()).withColumn(
        out_col, let1(enc, lambda e: let1(bucket_sums(e), finish))
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
