"""Vector math over ``array<float>``/``array<double>`` columns as pure
Catalyst expressions (``aggregate``/``zip_with``/``transform``) — no
Python UDFs, so the hot path stays inside whole-stage codegen.

Reference parity: euclidean distance is the medoid metric
(reference ``word_wizard.py:733,744``); cosine backs the added
similarity-search/near-dup operators (engine additions, SURVEY §7
phase 6).
"""

from __future__ import annotations

from collections.abc import Iterable

from pyspark.sql import Column
from pyspark.sql import functions as F


def as_double(vec: Column) -> Column:
    """Cast array<float> → array<double> so accumulation happens in
    float64 (parity with the DuckDB oracle, which promotes to double)."""
    return vec.cast("array<double>")


def double_array(values: Iterable[float]) -> Column:
    """Constant ``array<double>`` in a few JVM calls: one comma-joined
    string literal, split and cast. A Python list or ndarray literal
    costs a JVM call per element, and an ``array(…)`` SQL literal one
    analyzed node per element. Each value is written as its shortest
    round-trip repr, which the cast parses back to the same double."""
    text = ",".join(repr(float(x)) for x in values)
    return F.split(F.lit(text), ",").cast("array<double>")


def dot(a: Column, b: Column) -> Column:
    """Sequential-order dot product in double precision."""
    return F.aggregate(
        F.zip_with(as_double(a), as_double(b), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm2(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity; null-safe on zero vectors (returns NULL)."""
    denom = norm2(a) * norm2(b)
    return F.when(denom != 0.0, dot(a, b) / denom)


def euclidean(a: Column, b: Column) -> Column:
    """Euclidean distance (reference medoid metric, word_wizard.py:733)."""
    return F.sqrt(
        F.aggregate(
            F.zip_with(as_double(a), as_double(b), lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def scale(vec: Column, factor: Column) -> Column:
    return F.transform(as_double(vec), lambda x: x * factor)
