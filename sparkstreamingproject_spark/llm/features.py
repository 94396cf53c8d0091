"""Grouped feature engineering via ``applyInPandas`` (grouped-map).

The third Python-boundary pattern next to mapInPandas (multimodal) and
applyInPandasWithState (streaming state): per-group vectorized
computation where the group must be seen whole. Example operator:
per-key z-score normalization — the feature-scaling step of a training
pipeline. Arrow moves each group as one pandas frame; the shuffle is
one partitioning by key, same as any groupBy.

For ops expressible with window functions (like this z-score), the
JVM window path is preferred at scale — this operator exists to prove
the pandas path produces identical results (the DuckDB oracle checks
it against the window formulation), so that genuinely non-SQL ops
(sklearn transforms, per-group model scoring) inherit a verified
harness.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .similarity import _int_vec


def zscore_normalize(df: DataFrame, key_col: str, id_col: str,
                     value_col: str, digits: int = 4) -> DataFrame:
    """Per-group z-score: (v - mean) / stddev_samp, rounded."""

    def norm(pdf: pd.DataFrame) -> pd.DataFrame:
        v = pdf[value_col]
        std = v.std(ddof=1)
        z = (v - v.mean()) / std if std and std > 0 else v * float("nan")
        return pd.DataFrame({
            id_col: pdf[id_col],
            key_col: pdf[key_col],
            # + 0.0 canonicalizes IEEE -0.0 (numpy round preserves the
            # sign of round(-1e-9); mirrored in the oracle)
            "z": z.round(digits) + 0.0,
        })

    out_schema = f"{id_col} long, {key_col} long, z double"
    return df.select(key_col, id_col, value_col).groupBy(key_col).applyInPandas(
        norm, out_schema)


#: scale of the fixed-point vector format (similarity._int_vec) the
#: covariance partials accumulate in
_COV_SCALE = 1_000_000


def covariance_matrix(df: DataFrame, emb_col: str = "embedding",
                      digits: int = 6) -> DataFrame:
    """Sample covariance of an embedding column as (i, j, cov) rows —
    the d x d moment matrix that PCA, whitening, and Mahalanobis
    scoring start from.

    Shape for 100 TB: ONE pass. Each Arrow batch contributes its
    partial Gram (Q^T Q via integer matmul), column sums, and count as
    d^2+d+1 tiny rows (mapInPandas — never a per-row d^2
    explode/self-join, which would shuffle d^2 values PER VECTOR); the
    only shuffle is the groupBy over those dimension-cardinality
    partials. The centered matrix falls out algebraically:
    cov = (S_ij - c_i c_j / n) / (n - 1).

    Determinism under partitioning: float partial sums depend on
    Arrow-batch/partition boundaries (the r03 hash-flake), so the
    elements are quantized to scaled integers ONCE — JVM-side
    ``similarity._int_vec``, ``round(v * 1e6)`` per element, the same
    expression a SQL oracle can run — and every partial (Gram cells,
    column sums, count) is an exact integer accumulated as
    DECIMAL(38,0). Integer addition is order-free, so the partials are
    bit-identical for ANY partitioning in any engine; the single float
    division + round happens once at the end on exact inputs. Per-batch
    int64 Gram cells are safe far past this scale (|q| <= ~1e6 ⇒ q^2 <=
    ~1e12; 10k-row Arrow batches ⇒ <= ~1e16 << 2^63); cross-batch growth
    lives in the DECIMAL sums.
    """
    import numpy as np
    import pandas as pd

    q_col = _int_vec(emb_col).alias("q")

    def gram(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.asarray([np.asarray(v, dtype=np.int64)
                            for v in pdf["q"]])
            d = X.shape[1]
            S = X.T @ X            # int64 matmul — exact
            c = X.sum(axis=0)
            ii, jj = np.meshgrid(np.arange(d), np.arange(d),
                                 indexing="ij")
            yield pd.DataFrame({
                "i": np.concatenate([ii.ravel(), np.arange(d), [-1]]),
                "j": np.concatenate([jj.ravel(), np.full(d, -1), [-1]]),
                "s": np.concatenate([S.ravel(), c, [np.int64(len(X))]]),
            })

    parts = (df.select(q_col)
             .mapInPandas(gram, schema="i int, j int, s long")
             .groupBy("i", "j")
             .agg(F.sum(F.col("s").cast("decimal(38,0)")).alias("s")))
    tot = (parts.filter((F.col("i") == -1) & (F.col("j") == -1))
           .select(F.col("s").cast("double").alias("n")))
    mu = (parts.filter((F.col("i") >= 0) & (F.col("j") == -1))
          .select(F.col("i").alias("m_i"),
                  F.col("s").cast("double").alias("c")))
    g = parts.filter(F.col("j") >= 0)
    unscale = float(_COV_SCALE) * float(_COV_SCALE)
    return (g.crossJoin(F.broadcast(tot))
            .join(F.broadcast(mu), F.col("i") == F.col("m_i"))
            .join(F.broadcast(mu.select(F.col("m_i").alias("m_j"),
                                        F.col("c").alias("cj"))),
                  F.col("j") == F.col("m_j"))
            .select("i", "j",
                    # + 0.0 canonicalizes IEEE -0.0 → +0.0 (a no-op on
                    # this side — Spark's BigDecimal round never emits
                    # -0.0 — mirrored in the DuckDB oracle, whose
                    # native double round() does; VERDICT r04)
                    (F.round((F.col("s").cast("double")
                              - F.col("c") * F.col("cj") / F.col("n"))
                             / (F.col("n") - F.lit(1.0))
                             / F.lit(unscale), digits) + F.lit(0.0))
                    .alias("cov")))


def pca_project(df: DataFrame, k: int = 2, id_col: str = "vec_id",
                emb_col: str = "embedding", digits: int = 4) -> DataFrame:
    """Project embeddings onto their top-k principal components.

    The covariance collect is d^2 values (dimension-cardinality — 64-dim
    means 4096 floats, independent of corpus size), the
    eigendecomposition is driver-side numpy on that d x d matrix, and
    the projection ships the k component vectors back as a broadcast
    literal matrix applied per-batch with BLAS — so the data-sized work
    is two single passes with no shuffle at all. Component sign is
    canonicalized (largest-|coordinate| positive) for determinism.
    """
    import numpy as np
    import pandas as pd

    cov_rows = covariance_matrix(df, emb_col, digits=12).collect()
    d = max(r["i"] for r in cov_rows) + 1
    C = np.zeros((d, d))
    for r in cov_rows:
        C[r["i"], r["j"]] = r["cov"]
    vals, vecs = np.linalg.eigh(C)            # ascending
    comps = vecs[:, ::-1][:, :k]              # top-k columns
    for c in range(k):
        m = np.argmax(np.abs(comps[:, c]))
        if comps[m, c] < 0:
            comps[:, c] = -comps[:, c]
    W = comps.copy()

    def project(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.asarray([np.asarray(v, dtype=np.float64)
                            for v in pdf[emb_col]])
            P = np.round(X @ W, digits)
            out = {id_col: pdf[id_col]}
            for c in range(k):
                out[f"pc{c + 1}"] = P[:, c]
            yield pd.DataFrame(out)

    pcs = ", ".join(f"pc{c + 1} double" for c in range(k))
    return (df.select(id_col, emb_col)
            .mapInPandas(project, schema=f"{id_col} long, {pcs}"))
