"""Escanciano–Lobato (2009) robust automatic portmanteau test.

Numpy kernel replicating the reference exactly
(src/statistical_tests/escanciano_lobato.rs:214-227 and helpers), plus a
Spark grouped operator: one test per key through the per-key boundary
(``operators.recursion.per_key``); a series the test rejects is an error
row. The lag pairing, 1/(n−j) denominators, BIC/AIC penalty switch, and
smallest-argmax tie-breaking all follow the cited lines.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from ..functions.scalar import chi2_sf1
from ..operators.recursion import per_key

DEFAULT_Q = 2.4


def default_d(n: int) -> int:
    """d = ⌊n^0.2⌋ (src/lib.rs:171-174)."""
    return max(1, int(math.floor(n**0.2)))


def _validate(data: np.ndarray, q: float, d: int) -> None:
    """statistical_tests/validation.rs:116-136."""
    n = len(data)
    if n < 2:
        raise ValueError("DataTooShort: need len >= 2")
    if not np.all(np.isfinite(data)):
        raise ValueError("NonFiniteData")
    if not (q > 0.0 and math.isfinite(q)):
        raise ValueError("InvalidQ")
    if not (1 <= d < n):
        raise ValueError("InvalidD: need 1 <= d < n")


def escanciano_lobato_np(data: np.ndarray, q: float = DEFAULT_Q, d: int | None = None) -> dict:
    """Returns {p_tilde, stat, p_value, rho_tilde_sq} — exact replica of
    ELOutcome::escanciano_lobato (escanciano_lobato.rs:214-227)."""
    data = np.asarray(data, dtype=np.float64)
    n_i = len(data)
    if d is None:
        d = default_d(n_i)
    _validate(data, q, d)
    n = float(n_i)
    mean = float(np.sum(data) / n)  # calc_mean :279-283 (sum/len)

    rho = np.zeros(d + 1)
    for j in range(1, d + 1):
        dev_t = data[j:] - mean
        dev_tmj = data[: n_i - j] - mean
        gamma_j = float(np.sum(dev_t * dev_tmj)) / (n_i - j)  # :369-378
        tau_j = float(np.sum((dev_t**2) * (dev_tmj**2))) / (n_i - j)  # :322-331
        if tau_j == 0.0:
            raise ValueError(f"ZeroTau at lag {j}")
        rho[j] = gamma_j * gamma_j / tau_j  # :468-479

    # calc_p_tilde (:567-585): smallest argmax via strict > update
    max_lag_abs = 0.0
    for r in rho[1:]:
        max_lag_abs = max(max_lag_abs, math.sqrt(r))
    log_n = math.log(n)
    cutoff = math.sqrt(q * log_n)
    p_tilde, max_l = 0, float("-inf")
    for p in range(1, d + 1):
        q_star = float(np.sum(rho[1 : p + 1])) * n  # calc_robust_box_pierce :514-516
        pi = p * log_n if math.sqrt(n) * max_lag_abs <= cutoff else 2.0 * p  # calc_pi :420-424
        l_p = q_star - pi
        if l_p > max_l:
            max_l = l_p
            p_tilde = p
    stat = float(np.sum(rho[1 : p_tilde + 1])) * n
    return {
        "p_tilde": p_tilde,
        "stat": stat,
        "p_value": chi2_sf1(stat),
        "rho_tilde_sq": rho[1:],
    }


def escanciano_lobato(
    df: DataFrame,
    keys: list[str],
    value_col: str = "v",
    order_col: str = "t",
    q: float = DEFAULT_Q,
    d: int | None = None,
) -> DataFrame:
    """Per-key EL test → one row (keys..., p_tilde, stat, p_value).

    Failed keys (too-short series, zero τ) surface as error rows rather
    than failing the job (SURVEY.md §4.1 error-as-value)."""
    fields = [
        T.StructField("p_tilde", T.IntegerType()),
        T.StructField("stat", T.DoubleType()),
        T.StructField("p_value", T.DoubleType()),
        T.StructField("error", T.StringType()),
    ]

    def test_row(pdf: pd.DataFrame) -> dict:
        x = pdf[value_col].to_numpy(dtype=np.float64)
        try:
            out = escanciano_lobato_np(x, q, d)
            return {"p_tilde": [out["p_tilde"]], "stat": [out["stat"]],
                    "p_value": [out["p_value"]], "error": [None]}
        except ValueError as e:
            return {"p_tilde": [None], "stat": [None], "p_value": [None], "error": [str(e)]}

    return per_key(df, keys, order_col, [value_col], fields, test_row)
