"""Goodness-of-fit / residual diagnostics for fitted ACD models.

The reference lists "further goodness-of-fit and residual tests under
``statistical_tests``" as a planned extension (reference
README.md:406-409) — this module lands the two standard ACD residual
diagnostics ahead of it, following the same per-key Spark shape as the
Escanciano–Lobato test (stats/el.py):

* **Ljung–Box on standardized residuals** ε̂_t = x_t/ψ̂_t: under a
  correctly specified ACD model the ε̂ are iid, so
  Q = n(n+2)·Σ_{j=1..m} ρ̂_j²/(n−j) ~ χ²(m). The p-value uses the
  closed-form χ²(m) survival function for even m
  (exp(−Q/2)·Σ_{k<m/2}(Q/2)^k/k!) so a SQL oracle can recompute it
  with elementary functions.
* **Excess dispersion** (Engle & Russell 1998, §5): exponential-ACD
  residuals have unit variance; ED = √(n/8)·(σ̂²_ε − 1) is asymptotically
  N(0,1). Reported as the statistic (sign carries the over/under
  dispersion direction).

Residual computation reuses the engine's ψ recursion kernel
(operators/recursion.py ≡ reference psi.rs:576-604) through the per-key
boundary (``per_key``); the diagnostics themselves are pure JVM column
expressions — one window per lag, one aggregate per key, no Python in
the hot path.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..operators.recursion import per_key, psi_recursion_np, seed_init
from .acd import AcdSpec


def acd_residuals(
    df: DataFrame,
    keys: list[str],
    spec: AcdSpec,
    omega: float,
    alpha: list[float],
    beta: list[float],
    value_col: str = "v",
    order_col: str = "t",
) -> DataFrame:
    """Standardized residuals ε̂_t = x_t/ψ_t at fixed parameters — the
    deterministic kernel stage (ψ recursion per key), one row per
    observation after the ``spec.t0`` burn-in: (keys..., order_col,
    eps). Honors the FULL init-policy surface (``spec.init`` /
    ``init_value`` — review r4: residuals for a model fit with
    ``init='fixed'``/``'sample_mean'`` must seed the same way the fit
    did, or the diagnostics run on the wrong ψ path)."""
    om, al, be = float(omega), list(map(float, alpha)), list(map(float, beta))

    def residuals(pdf: pd.DataFrame) -> dict:
        x = pdf[value_col].to_numpy(dtype=np.float64)
        # ψ at the EXACT fixed params, not a θ round-trip: build ψ with
        # the recursion kernel directly (same op order as the reference),
        # seeded by the spec's init policy (seed_init ≡ psi.rs:403-427)
        al_a, be_a = np.asarray(al), np.asarray(be)
        pi, di = seed_init(
            spec.init, om, al_a, be_a, float(x.mean()), len(be), len(al),
            fixed_value=spec.init_value,
        )
        psi = psi_recursion_np(x, om, al_a, be_a, pi, di, guards=spec.psi_guards)
        t0 = spec.t0 or 0
        return {order_col: pdf[order_col].to_numpy()[t0:], "eps": (x / psi)[t0:]}

    fields = [df.schema[order_col], T.StructField("eps", T.DoubleType())]
    return per_key(df, keys, order_col, [value_col], fields, residuals)


def ljung_box_np(eps, m: int = 4) -> dict:
    """Single-series numpy recompute of ``ljung_box_excess_dispersion``
    (the per-key kernel the Spark expressions distribute) — the
    array-in/scalars-out path the Python API surfaces."""
    if m < 2 or m % 2:
        raise ValueError(f"m must be even and >= 2, got {m}")
    e = np.asarray(eps, dtype=np.float64)
    n = len(e)
    if n <= m:
        raise ValueError(f"need more than m={m} observations, got {n}")
    dev = e - e.mean()
    s0 = float(np.sum(dev * dev))
    q = 0.0
    for j in range(1, m + 1):
        rho = float(np.sum(dev[j:] * dev[:-j])) / s0
        q += (rho * rho) / (n - j)
    q *= n * (n + 2.0)
    half = q / 2.0
    sf = math.exp(-half) * sum(half**k / math.factorial(k) for k in range(m // 2))
    sigma2 = s0 / n
    ed = math.sqrt(n / 8.0) * (sigma2 - 1.0)
    return {"stat": q, "p_value": sf, "excess_dispersion": ed, "n": n}


def ljung_box_excess_dispersion(
    res_df: DataFrame,
    keys: list[str],
    m: int = 4,
    eps_col: str = "eps",
    order_col: str = "t",
) -> DataFrame:
    """Per-key Ljung–Box Q over ``m`` residual autocorrelations plus the
    excess-dispersion statistic — all JVM-side (windows + one aggregate;
    the shuffle is the per-key window sort, shared across lags).

    ``m`` must be even so the χ²(m) p-value has the elementary closed
    form a SQL oracle can recompute.

    Error-as-value convention (review r4, matching ``el.py`` and
    ``acd_fit``): keys with too few observations (n ≤ m) or constant
    residuals (zero variance) get NULL statistics and a message in the
    ``error`` column instead of silent nulls/NaNs — downstream
    consumers can distinguish 'test failed' from 'value missing'."""
    if m < 2 or m % 2:
        raise ValueError(f"m must be even and >= 2, got {m}")
    w = Window.partitionBy(*keys).orderBy(order_col)
    wk = Window.partitionBy(*keys)
    dev = F.col(eps_col) - (F.sum(eps_col).over(wk) / F.count(eps_col).over(wk))
    lagged = res_df.select(
        *keys,
        dev.alias("_dev"),
        *[F.lag(dev, j).over(w).alias(f"_l{j}") for j in range(1, m + 1)],
    )
    agg = lagged.groupBy(*keys).agg(
        F.count("_dev").alias("n"),
        F.sum(F.col("_dev") * F.col("_dev")).alias("_s0"),
        *[F.sum(F.col("_dev") * F.col(f"_l{j}")).alias(f"_g{j}") for j in range(1, m + 1)],
    )
    n = F.col("n").cast("double")
    q = None
    for j in range(1, m + 1):
        rho = F.col(f"_g{j}") / F.col("_s0")
        term = (rho * rho) / (n - j)
        q = term if q is None else q + term
    q = n * (n + 2.0) * q
    # χ²(m) SF, m even: exp(−Q/2)·Σ_{k=0}^{m/2−1} (Q/2)^k / k!
    half = q / 2.0
    sf = None
    for k in range(m // 2):
        term = F.pow(half, float(k)) / float(math.factorial(k))
        sf = term if sf is None else sf + term
    sf = F.exp(-half) * sf
    sigma2 = F.col("_s0") / n
    ed = F.sqrt(n / 8.0) * (sigma2 - 1.0)
    err = (
        F.when(F.col("n") <= m, F.lit(f"InsufficientObservations: n <= m={m}"))
        .when(F.col("_s0") <= 0.0, F.lit("ZeroVariance: constant residuals"))
    )
    ok = err.isNull()
    return agg.select(
        *keys,
        F.col("n"),
        F.when(ok, q).alias("lb_stat"),
        F.when(ok, sf).alias("lb_pvalue"),
        F.when(ok, ed).alias("excess_dispersion"),
        err.alias("error"),
    )
