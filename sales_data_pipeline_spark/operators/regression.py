"""In-database model fitting via distributed sufficient statistics.

The pattern (shared with pca_fit's Gram reduction): the DATA never
leaves the cluster — each pass computes a bounded moment matrix with
ordinary JVM aggregates, the driver does O(p³) linear algebra on it,
and per-row scoring bakes the coefficients back in as literals. For
p features the shuffle carries O(p²) doubles per partition regardless
of row count, which is what makes "fit a model on 100 TB" the same
plan shape as "sum a column".

Logistic regression here is Newton-Raphson / IRLS with a FIXED
iteration count (deterministic — no RNG, no data-dependent stopping),
every per-iteration pass fully inside whole-stage codegen: the linear
predictor, sigmoid, and weight w = s(1-s) are column expressions with
the current β as literals; the Hessian XᵀWX and gradient Xᵀ(y-s) are
one groupBy-less agg of p(p+3)/2 sums.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Newton steps logistic_fit takes.
_IRLS_ITERS = 8


class LogitFit:
    """Fitted logistic model: ``beta[0]`` is the intercept, then one
    coefficient per feature column, in call order; ``n`` rows,
    ``n_iter`` Newton steps taken."""

    def __init__(self, beta, features, n, n_iter):
        self.beta = beta
        self.features = features
        self.n = n
        self.n_iter = n_iter


def _linear_predictor(features: list[str], beta: list[float]) -> Column:
    z = F.lit(float(beta[0]))
    for name, b in zip(features, beta[1:]):
        z = z + F.lit(float(b)) * F.col(name).cast("double")
    return z


def logistic_fit(
    df: DataFrame,
    label_col: str,
    feature_cols: list[str],
) -> LogitFit:
    """Fit P(label=1 | x) = sigmoid(β₀ + β·x) by IRLS.

    Each of the 8 passes is ONE aggregation over the input:
    sums of xᵢxⱼ·w (upper triangle of XᵀWX, intercept included as
    x₀=1) and xᵢ·(y−s) — p(p+1)/2 + (p+1) doubles total, mergeable
    map-side, so the driver receives a fixed-size vector per pass and
    solves a (p+1)×(p+1) system. A ridge of 1e-8·I on the Hessian lets
    separable/constant features degrade gracefully instead of raising
    LinAlgError. Input is persisted across the passes and released
    before returning. Labels must be 0/1 (cast to double); rows with
    a NULL label or feature are dropped (they would poison every
    moment sum)."""
    import numpy as np

    p = len(feature_cols)
    if p == 0:
        raise ValueError("logistic_fit: needs at least one feature column")
    cols = [F.col(label_col).cast("double").alias("__y")] + [
        F.col(c).cast("double").alias(f"__x{i}")
        for i, c in enumerate(feature_cols)
    ]
    data = df.select(*cols).na.drop().persist()
    try:
        n = data.count()
        if n < p + 1:
            raise ValueError(f"logistic_fit: {n} rows < {p + 1} parameters")
        names = ["__b0"] + [f"__x{i}" for i in range(p)]
        beta = [0.0] * (p + 1)
        for _ in range(_IRLS_ITERS):
            z = F.lit(beta[0])
            for i in range(p):
                z = z + F.lit(beta[i + 1]) * F.col(f"__x{i}")
            s = F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
            w = s * (F.lit(1.0) - s)
            x = [F.lit(1.0)] + [F.col(f"__x{i}") for i in range(p)]
            aggs = []
            for i in range(p + 1):
                for j in range(i, p + 1):
                    aggs.append(F.sum(x[i] * x[j] * w).alias(f"h_{i}_{j}"))
            for i in range(p + 1):
                aggs.append(F.sum(x[i] * (F.col("__y") - s)).alias(f"g_{i}"))
            row = data.agg(*aggs).first()
            h = np.zeros((p + 1, p + 1))
            for i in range(p + 1):
                for j in range(i, p + 1):
                    h[i, j] = h[j, i] = row[f"h_{i}_{j}"]
            g = np.asarray([row[f"g_{i}"] for i in range(p + 1)])
            h += 1e-8 * np.eye(p + 1)
            beta = (np.asarray(beta) + np.linalg.solve(h, g)).tolist()
    finally:
        data.unpersist()
    return LogitFit(beta, list(feature_cols), int(n), _IRLS_ITERS)


def logistic_score(
    df: DataFrame,
    fit: LogitFit,
    out_col: str = "p_hat",
) -> DataFrame:
    """Attach the fitted probability — β as literals, sigmoid in
    codegen, zero joins/shuffles/Python."""
    z = _linear_predictor(fit.features, fit.beta)
    return df.withColumn(out_col, F.lit(1.0) / (F.lit(1.0) + F.exp(-z)))
