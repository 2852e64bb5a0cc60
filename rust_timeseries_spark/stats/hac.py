"""HAC (Newey–West / Andrews) covariance of score matrices.

Replicates ``calculate_avg_scores_cov`` (reference src/inference/
hac.rs:337-361, per-lag component hac.rs:425-457): optional column
centering, bandwidth = min(fixed, n−1) or Andrews plug-in, then
S = Γ₀ + Σ_{k=1..L} w_k (Γ_k + Γ_kᵀ) with w_k = kernel(k/(L+1)),
Γ₀ = SᵀS/n and Γ_k = c_k·S_{k:}ᵀS_{:n−k}, c_k = 1/(n−k) (small-sample
correction) or 1/n.

Spark operator: scores live as an ``array<double>`` column; one HAC
matrix per key through the per-key boundary
(``operators.recursion.per_key``); the matrices are k×k with
k = 1+p+q — tiny; the distributed dimension is the key fan-out. A
negative bandwidth raises: there is no per-key error row here.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from ..functions.scalar import kernel_weight, optimal_bandwidth
from ..operators.recursion import per_key

KERNEL_ALIASES = {
    "newey_west": "bartlett",
    "newey-west": "bartlett",
    "qs": "quadratic_spectral",
}


def normalize_kernel(name: str) -> str:
    """Kernel-name parsing incl. aliases (src/utils.rs:259-271)."""
    k = name.strip().lower()
    k = KERNEL_ALIASES.get(k, k)
    if k not in ("iid", "bartlett", "parzen", "quadratic_spectral"):
        raise ValueError(f"unknown kernel {name!r}")
    return k


def hac_covariance_np(
    scores: np.ndarray,
    kernel: str = "bartlett",
    bandwidth: int | None = None,
    center: bool = False,
    small_sample_correction: bool = True,
) -> np.ndarray:
    scores = np.asarray(scores, dtype=np.float64)
    kernel = normalize_kernel(kernel)
    n, p = scores.shape
    if center:
        scores = scores - scores.mean(axis=0)  # hac.rs:342-347
    if bandwidth is not None:
        if int(bandwidth) < 0:
            # a negative bw would empty the lag loop and silently return
            # a zero matrix (zero standard errors) — fail loudly instead
            raise ValueError(f"bandwidth must be >= 0, got {bandwidth}")
        bw = min(int(bandwidth), n - 1)
    else:
        bw = min(optimal_bandwidth(kernel, scores), n - 1)  # hac.rs:350-353
    acc = np.zeros((p, p))
    for lag in range(0, bw + 1):
        w = kernel_weight(kernel, lag / (bw + 1))
        if lag == 0:
            acc += (1.0 / n) * (scores.T @ scores)
        else:
            c = 1.0 / (n - lag) if small_sample_correction else 1.0 / n
            gamma_k = c * (scores[lag:].T @ scores[: n - lag])
            acc += w * gamma_k
            acc += w * gamma_k.T
    return acc


def hac_covariance(
    df: DataFrame,
    keys: list[str],
    score_col: str = "s",
    order_col: str = "t",
    kernel: str = "bartlett",
    bandwidth: int | None = None,
    center: bool = False,
    small_sample_correction: bool = True,
) -> DataFrame:
    """Per-key HAC matrix: (keys..., dim, cov flattened row-major)."""
    fields = [
        T.StructField("dim", T.IntegerType()),
        T.StructField("bandwidth_used", T.IntegerType()),
        T.StructField("cov", T.ArrayType(T.DoubleType())),
    ]
    kernel_n = normalize_kernel(kernel)

    if bandwidth is not None and int(bandwidth) < 0:
        raise ValueError(f"bandwidth must be >= 0, got {bandwidth}")

    def hac_row(pdf: pd.DataFrame) -> dict:
        mat = np.stack(pdf[score_col].to_numpy())
        n = mat.shape[0]
        if bandwidth is not None:
            bw = min(int(bandwidth), n - 1)
        else:
            centered = mat - mat.mean(axis=0) if center else mat
            bw = min(optimal_bandwidth(kernel_n, centered), n - 1)
        cov = hac_covariance_np(mat, kernel_n, bw, center, small_sample_correction)
        return {"dim": [mat.shape[1]], "bandwidth_used": [bw], "cov": [cov.reshape(-1).tolist()]}

    return per_key(df, keys, order_col, [score_col], fields, hac_row)
