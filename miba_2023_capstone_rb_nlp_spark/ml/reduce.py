"""Dimensionality reduction (SURVEY M9): one-pass distributed PCA as
the scale path; UMAP as a gated driver-side stub (no distributed UMAP
exists — it needs a global kNN graph; reference runs it in-process,
word_wizard.py:513-559).

PCA design (replaces the earlier MLlib ``pyspark.ml.feature.PCA``
path): the fit is ONE mapInPandas pass emitting per-partition moments
(n, Σx, XᵀX — a d×d matrix per partition, the classic combiner
pattern), combined on the driver into the covariance whose
eigendecomposition is a d×d numpy call. The projection is then a pure
column expression (no Python): per component one ``vectors.dot``
against a constant weight array, so the expression does not grow
with d. MLlib's RowMatrix path schedules several jobs
(tree-aggregated covariance + gram) and a row-at-a-time transform;
this is one job + codegen, and the moments output is ~d² doubles per
partition regardless of data size (see ``_moment_pass``).

Output column named ``reduced_dimensions`` — normalizing the
reference's misleading ``*_word_embeddings`` suffix reuse
(word_wizard.py:557, documented deviation). Deviation from MLlib
transform semantics: coordinates are mean-centered before projection
(MLlib projects raw vectors; here the centering is algebraically
folded into per-component constant offsets so the projection is a
pure dot-product expression), and each component's sign is fixed so
its largest-magnitude loading is positive — deterministic across
partitionings.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from miba_2023_capstone_rb_nlp_spark.functions.vectors import dot, double_array


def _moment_pass(fit_df: DataFrame, vec_col: str) -> tuple[int, np.ndarray, np.ndarray]:
    """One distributed pass → (n, Σx, XᵀX), combined driver-side.
    Emits one row of d + d² doubles per partition — constant-size
    output, so the collect is bounded by partition count, not rows."""

    # Scale bound: the per-partition payload is d² doubles (8 MB at
    # d=1000). For very wide embeddings beyond that, replace the
    # single collect with a treeAggregate-style two-level combine
    # (partition → executor → driver); the math is unchanged.
    def moments(batches):
        import pandas as pd

        n = 0
        s = None
        xtx = None
        for pdf in batches:
            if not len(pdf):
                continue
            x = np.stack(pdf[vec_col].map(np.asarray).to_numpy()).astype(np.float64)
            n += x.shape[0]
            s = x.sum(axis=0) if s is None else s + x.sum(axis=0)
            g = x.T @ x
            xtx = g if xtx is None else xtx + g
        if n == 0:
            return
        yield pd.DataFrame(
            {"n": [n], "s": [s.tolist()], "xtx": [xtx.ravel().tolist()]}
        )

    rows = (
        fit_df.select(F.col(vec_col).cast("array<double>").alias(vec_col))
        .filter(F.col(vec_col).isNotNull())
        .mapInPandas(moments, schema="n long, s array<double>, xtx array<double>")
        .collect()
    )
    if not rows:
        raise ValueError("pca_reduce: empty fit input")
    n = sum(r["n"] for r in rows)
    s = np.sum([np.asarray(r["s"]) for r in rows], axis=0)
    d = s.shape[0]
    xtx = np.sum([np.asarray(r["xtx"]).reshape(d, d) for r in rows], axis=0)
    return n, s, xtx


def pca_components(
    fit_df: DataFrame, vec_col: str, n_components: int
) -> tuple[np.ndarray, np.ndarray]:
    """→ (mean[d], W[d, k]): top-k covariance eigenvectors, sign-fixed
    (largest-|loading| entry positive) for determinism."""
    n, s, xtx = _moment_pass(fit_df, vec_col)
    mean = s / n
    denom = max(n - 1, 1)
    cov = (xtx - np.outer(mean, s)) / denom
    eigvals, eigvecs = np.linalg.eigh(cov)  # ascending
    order = np.argsort(eigvals)[::-1][:n_components]
    w = eigvecs[:, order]
    for j in range(w.shape[1]):
        i = int(np.abs(w[:, j]).argmax())
        if w[i, j] < 0:
            w[:, j] = -w[:, j]
    return mean, w


def pca_reduce(
    df: DataFrame,
    vec_col: str,
    n_components: int = 2,
    out_col: str = "reduced_dimensions",
    fit_df: DataFrame | None = None,
    components: tuple[np.ndarray, np.ndarray] | None = None,
) -> DataFrame:
    """Distributed PCA → array<double> coords (see module docstring
    for the one-pass design).

    Bad-input contract: NULL vectors are excluded from the fit, and
    the transform emits NULL (whole array) for NULL or wrong-length
    vectors — never a silent array-of-nulls row.

    ``fit_df``: optional frame to fit the model on instead of ``df``
    — pass a persisted upstream base with the same rows (1:1 lineage)
    so the fit action scans the cache rather than recomputing every
    enrichment join stacked on top of it. The transform still applies
    to ``df``.

    ``components``: optional precomputed ``(mean, W)`` from
    ``pca_components`` — the fit/transform split for callers that
    already ran (and perhaps inspected) the fit, so the moment pass
    over the corpus is not paid a second time; takes precedence over
    ``fit_df``.
    """
    mean, w = (
        components
        if components is not None
        else pca_components(fit_df if fit_df is not None else df,
                            vec_col, n_components)
    )
    d, k = w.shape
    # Mean-centering folded into per-component constants:
    #   Σᵢ (vᵢ−mᵢ)·wᵢⱼ ≡ Σᵢ vᵢ·wᵢⱼ − Σᵢ mᵢ·wᵢⱼ
    # The offsets are computed once here, left to right — the order
    # ``dot`` accumulates the row side in.
    offsets = []
    for j in range(k):
        acc = 0.0
        for i in range(d):
            acc = acc + float(mean[i]) * float(w[i, j])
        offsets.append(acc)
    # cast the array ONCE into a temp column — inlining the cast into
    # every dot would repeat it k times in the plan
    tmp = "_pca_cast_tmp"
    v = F.col(tmp)
    coords = F.array(
        *[dot(v, double_array(w[:, j])) - F.lit(offsets[j]) for j in range(k)]
    )
    # A NULL or wrong-length vector yields a NULL output array, never
    # a silent array of nulls (the fit already excludes NULL
    # vectors). Interior NULL elements still propagate per component,
    # as in any SQL sum.
    return (
        df.withColumn(tmp, F.col(vec_col).cast("array<double>"))
        .withColumn(
            out_col,
            F.when(v.isNotNull() & (F.size(v) == F.lit(d)), coords),
        )
        .drop(tmp)
    )


def umap_reduce(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    n_components: int = 2,
    out_col: str = "reduced_dimensions",
) -> DataFrame:
    """Driver-side UMAP (gated): collect embeddings, fit, join coords
    back by id. Documented scale ceiling — prefer pca_reduce beyond
    ~1M rows."""
    try:
        import umap
    except ImportError as e:  # pragma: no cover - env without umap
        raise NotImplementedError(
            "umap-learn is not installed; use pca_reduce for the "
            "distributed path"
        ) from e
    import numpy as np

    rows = df.select(id_col, vec_col).collect()
    ids = [r[0] for r in rows]
    vecs = np.array([r[1] for r in rows])
    coords = umap.UMAP(
        n_components=n_components, n_neighbors=15, min_dist=0.0, metric="cosine",
        random_state=42,
    ).fit_transform(vecs)
    label_df = df.sparkSession.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in zip(ids, coords)],
        [id_col, out_col],
    )
    return df.join(label_df, id_col, "left")
