"""ACD(p, q) duration models: MLE fit, forecast, covariance — per key.

The reference's three ``ACD`` entry points (src/lib.rs:441-454, 466-473,
491-505) re-expressed as per-key Spark kernels through the one series
boundary, ``operators.recursion.per_key`` (which owns the shuffle, the
oldest-first sort and the key echo); a key whose fit fails is an error
row. Math is pinned to the cited reference code:

* likelihood: ψ recursion (operators/recursion.py ≡ psi.rs:576-604) +
  ordered sum of per-obs logpdf over ``data[t0..]`` ⨯ ``ψ[t0..]``
  (likelihood_driver psi.rs:202-220);
* gradient: sensitivity recursion ∂ψ_t/∂θ
  (recursion_loop_derivative psi.rs:687-723 incl. the UncondMean init
  corrections psi.rs:440-456, 783-793), per-obs accumulation and
  θ-space mapping (acd.rs:590-619);
* optimizer: minimize −ℓ over θ (adapter.rs:216-222) with L-BFGS m=7
  (tolerance parity, stats/optim.py);
* covariance: FD Hessian of the gradient → eigen pseudo-inverse →
  classical J⁺ or sandwich J⁺SJ⁺ with S from HAC over the score matrix
  (hessian.rs:139-149; scores model_internals.rs:276-310), then the
  delta method to (ω,α,β) space (acd.rs:482).
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from ..constants import DEFAULT_PSI_GUARDS, STATIONARITY_MARGIN
from ..functions import scalar as S
from ..operators.recursion import per_key, psi_recursion_np, seed_init
from .. import validation as V
from .hac import hac_covariance_np
from .optim import lbfgs_minimize

try:
    from .. import native as _native
    if not _native.HAVE_NATIVE:
        _native = None
except Exception:  # noqa: BLE001 — no compiler → pure-Python path
    _native = None


@dataclass
class AcdSpec:
    """ACD model configuration ≈ reference ``ACDOptions`` + shape + law
    (src/duration/core/options.rs:124-132; Python surface lib.rs:258-429)."""

    p: int = 1
    q: int = 1
    law: str = "exponential"  # exponential | weibull | generalized_gamma
    law_params: dict = field(default_factory=dict)  # {"k":...} / {"p":...,"d":...}
    init: str = "uncond_mean"
    init_value: float | None = None
    psi_guards: tuple[float, float] = DEFAULT_PSI_GUARDS
    t0: int | None = None
    tol_grad: float = 1e-6
    #: absolute cost-stagnation tolerance; None → optimizer default
    #: (machine ε, argmin parity — see stats/optim.py)
    tol_cost: float | None = None
    max_iter: int = 300
    #: L-BFGS memory; None → DEFAULT_LBFGS_MEM (m=7, types.rs:91)
    lbfgs_mem: int | None = None
    #: "MoreThuente" | "HagerZhang", case-insensitive (traits.rs:179-189)
    line_searcher: str = "more_thuente"
    #: per-iteration optimizer progress lines (traits.rs verbose flag)
    verbose: bool = False
    #: duration unit metadata — "seconds"|"s"|"milliseconds"|"ms"|
    #: "microseconds"|"us", any case (ACDMeta, utils.rs:224-252);
    #: carried through fit output, never used in math
    unit: str = "seconds"
    #: whether durations were diurnally adjusted upstream (ACDMeta flag)
    diurnal_adjusted: bool = False

    def validated(self) -> "AcdSpec":
        """Option-surface validation (ACDMeta/ACDOptions constructors):
        raises the reference's error-variant names on bad options."""
        V.validate_model_shape(self.p, self.q)
        V.validate_psi_guards(self.psi_guards)
        if self.init == "fixed" and self.init_value is not None:
            V.validate_init_fixed(self.init_value)
        V.parse_unit(self.unit)
        return self

    def law_full_params(self) -> dict:
        if self.law == "exponential":
            return {}
        if self.law == "weibull":
            k = V.validate_weibull_param(self.law_params["k"])
            return {"k": k, "lambda": S.weibull_lambda(k)}
        if self.law == "generalized_gamma":
            pp = V.validate_gamma_param(self.law_params["p"])
            d = V.validate_gamma_param(self.law_params["d"])
            return {"p": pp, "d": d, "a": S.gengamma_a(pp, d)}
        raise ValueError(self.law)


# ---------------------------------------------------------------------------
# per-series numpy model (the reference's single-threaded core)
# ---------------------------------------------------------------------------

def _compute_psi(x: np.ndarray, theta: np.ndarray, spec: AcdSpec, sample_mean: float | None = None):
    p, q = spec.p, spec.q
    omega, alpha, beta, slack = S.theta_to_params(theta, p, q)
    if sample_mean is None:
        sample_mean = float(x.mean())
    uncond = omega / (1.0 - float(alpha.sum()) - float(beta.sum()))
    if spec.init == "uncond_mean":
        pi, di = np.full(p, uncond), np.full(q, uncond)
    else:
        pi, di = seed_init(
            spec.init, omega, alpha, beta, sample_mean, p, q, fixed_value=spec.init_value
        )
    psi = psi_recursion_np(x, omega, alpha, beta, pi, di, spec.psi_guards)
    # the guards clamp magnitude but pass NaN through (NaN fails both
    # comparisons) — NonFinitePsi (errors.rs:244-249) is the honest
    # failure; the optimizer's cost wrapper maps it to +inf
    V.validate_psi_finite(psi)
    return psi, omega, alpha, beta, slack, pi, di


def loglik(x: np.ndarray, theta: np.ndarray, spec: AcdSpec) -> float:
    """ℓ(θ) — likelihood_driver (psi.rs:202-220): ordered left-to-right
    accumulation over observations after t0."""
    psi, *_ = _compute_psi(x, theta, spec)
    t0 = spec.t0 or 0
    lp = S.logpdf_vec(x[t0:], psi[t0:], spec.law, spec.law_full_params())
    if len(lp) == 0:
        return 0.0
    # try_fold order (bit-parity note SURVEY.md §7.2.1): add.accumulate
    # is the SAME strictly-sequential left-to-right double accumulation
    # as the former Python loop (cumulative ops cannot be pairwise-
    # reordered), just in C — this sum runs once per optimizer f-eval
    # and the Python loop dominated the whole fit at 200k-point series
    return float(np.add.accumulate(lp)[-1])


def _deriv_and_psi(x: np.ndarray, theta: np.ndarray, spec: AcdSpec, psi_state=None):
    """ψ buffer (p pre-sample + n in-sample) and derivative rows.
    ``psi_state`` accepts a precomputed ``_compute_psi`` tuple so the
    fit's line search evaluates ψ once per θ, not once for f and once
    for g (identical values either way)."""
    p, q = spec.p, spec.q
    psi, omega, alpha, beta, slack, pi, di = (
        psi_state if psi_state is not None else _compute_psi(x, theta, spec)
    )
    psi_buf = np.concatenate([pi, psi])
    n = len(x)
    dim = 1 + q + p
    deriv = np.zeros((p + n, dim))
    denom = slack + STATIONARITY_MARGIN
    if spec.init == "uncond_mean":
        deriv[:p, 0] = 1.0 / denom
        deriv[:p, 1:] = omega / (denom * denom)
    if p == 1 and q == 1:
        # ACD(1,1) hot path: same IEEE op sequence as the general loop
        # (slice assignments become scalar stores, `row[1:] += pdd` adds
        # an exact +0.0 for t ≥ 1, the β feedback is the same
        # multiply-add per element) but in native Python floats — the
        # general per-step numpy-scalar loop costs ~100 µs/step, which
        # made a 20k-point fit take minutes. Bit-identical (golden
        # kernels + FD tests unchanged).
        uncond = spec.init == "uncond_mean"
        a0, b0, om = float(alpha[0]), float(beta[0]), float(omega)
        if _native is not None:
            # compiled C kernel: same op sequence (-ffp-contract=off),
            # bit-identical to the Python loop below (asserted by
            # tests/test_acd.py), ~15× faster — the fit's hot loop
            _native.dpsi11(
                x, psi_buf, om, a0, b0, float(denom), uncond,
                float(di[0]), deriv,
            )
            return psi_buf, deriv, omega, alpha, beta, slack
        d_prev0, d_prev1, d_prev2 = (float(v) for v in deriv[0])
        xl = x.tolist()
        pb = psi_buf.tolist()
        di0 = float(di[0])
        for t in range(n):
            if t == 0:
                alpha_sum = a0 if uncond else 0.0
                pdd = (alpha_sum * om) / (denom * denom)
                r0 = 1.0 + alpha_sum / denom
                r1 = di0 + pdd
                r2 = pb[t] + pdd
            else:
                r0 = 1.0
                r1 = xl[t - 1] + 0.0
                r2 = pb[t] + 0.0
            r0 = r0 + b0 * d_prev0
            r1 = r1 + b0 * d_prev1
            r2 = r2 + b0 * d_prev2
            row = deriv[1 + t]
            row[0] = r0
            row[1] = r1
            row[2] = r2
            d_prev0, d_prev1, d_prev2 = r0, r1, r2
        return psi_buf, deriv, omega, alpha, beta, slack
    for t in range(n):
        k_init = max(0, q - t)
        k_data = q - k_init
        alpha_sum = float(alpha[:k_init].sum()) if spec.init == "uncond_mean" else 0.0
        param_dur_deriv = (alpha_sum * omega) / (denom * denom)
        row = deriv[p + t]
        row[0] = 1.0 + alpha_sum / denom
        row[1 : k_init + 1] = di[q - k_init : q][::-1]
        row[k_init + 1 : q + 1] = x[t - k_data : t][::-1]
        row[q + 1 :] = psi_buf[t : t + p]
        row[1:] += param_dur_deriv
        # feedback Σᵢ β_i ∂ψ/∂θ for the lag that β_i actually multiplies
        # in the VALUE recursion (β·psi_buf[t..t+p], psi.rs:597-600):
        # deriv row t+i. NOTE a deliberate deviation for p ≥ 2: the
        # reference feeds back β_{j}·deriv[p+t−j] (psi.rs:714-717),
        # pairing β₁ with ∂ψ_{t−1} while its value recursion pairs β₁
        # with ψ_{t−p} — its analytic gradient is then not the gradient
        # of its own likelihood. We keep the gradient self-consistent
        # (FD-verified in tests/test_acd.py); for p = 1 the two are
        # identical.
        for i in range(p):
            row += beta[i] * deriv[t + i]
    return psi_buf, deriv, omega, alpha, beta, slack


def grad(x: np.ndarray, theta: np.ndarray, spec: AcdSpec, psi_state=None) -> np.ndarray:
    """∇ℓ(θ) — LogLikelihood::grad (acd.rs:590-619)."""
    p, q = spec.p, spec.q
    psi_buf, deriv, omega, alpha, beta, slack = _deriv_and_psi(x, theta, spec, psi_state)
    t0 = spec.t0 or 0
    start = p + t0
    law, lp = spec.law, spec.law_full_params()
    ig = S.loglik_grad_vec(x[t0:], psi_buf[start:], law, lp)
    state = deriv[start:].T @ ig  # Σ_t innov_grad_t · deriv_row_t
    state = np.asarray(state, dtype=np.float64)
    state[0] *= S.safe_logistic(float(theta[0]))
    tail = state[1:].copy()
    S.safe_softmax_deriv(alpha, beta, tail)
    state[1:] = tail
    return state


def scores(x: np.ndarray, theta: np.ndarray, spec: AcdSpec) -> np.ndarray:
    """Per-observation score matrix (model_internals.rs:276-310)."""
    p, q = spec.p, spec.q
    psi_buf, deriv, omega, alpha, beta, slack = _deriv_and_psi(x, theta, spec)
    t0 = spec.t0 or 0
    start = p + t0
    ig = S.loglik_grad_vec(x[t0:], psi_buf[start:], spec.law, spec.law_full_params())
    mat = deriv[start:] * ig[:, None]
    logistic0 = S.safe_logistic(float(theta[0]))
    if p == 1 and q == 1:
        # vectorized ACD(1,1) hot path: ufunc column ops apply the SAME
        # per-element IEEE sequence as safe_softmax_deriv row by row
        # (1-element dots are plain products), so the score matrix is
        # bit-identical — the former per-row Python loop was the whole
        # cost of the covariance gate at 200k-observation series
        a0, b0 = float(alpha[0]), float(beta[0])
        scale = 1.0 - STATIONARITY_MARGIN
        c = (mat[:, 1] * a0 + mat[:, 2] * b0) / scale
        mat[:, 1] = a0 / scale * (mat[:, 1] - c)
        mat[:, 2] = b0 / scale * (mat[:, 2] - c)
        mat[:, 0] *= logistic0
        return mat
    for r in range(mat.shape[0]):
        tail = mat[r, 1:].copy()
        S.safe_softmax_deriv(alpha, beta, tail)
        mat[r, 1:] = tail
        mat[r, 0] *= logistic0
    return mat


def fit_series(
    x: np.ndarray,
    theta0: np.ndarray,
    spec: AcdSpec,
    loglik_fn=None,
    grad_fn=None,
) -> dict:
    """MLE: minimize −ℓ (adapter sign flip adapter.rs:216-222); after
    convergence recompute ψ at θ̂ and keep the last p ψ-lags
    (acd.rs:315-326).

    ``loglik_fn``/``grad_fn`` override the kernels (same ``(x, θ,
    spec)`` signature) — used by the API layer to thread evaluation
    counters without monkeypatching module state."""
    x = np.asarray(x, dtype=np.float64)
    spec.validated()  # option surface (ACDMeta/ACDOptions)
    V.validate_series(x, spec.t0)  # data.rs:167-188
    V.validate_theta(np.asarray(theta0, dtype=np.float64), spec.p, spec.q)  # validation.rs:726
    ll = loglik_fn if loglik_fn is not None else loglik
    gr = grad_fn if grad_fn is not None else grad

    # One-slot per-θ ψ cache for the DEFAULT kernels: the line search
    # evaluates φ and φ′ at the same trial points, so without it the
    # recursion (and x.mean / θ-transform) runs twice per point. The
    # cached tuple is exactly what _compute_psi returns — values are
    # bit-identical; overridden kernels (evaluation-counter threading)
    # keep the plain path.
    use_cache = loglik_fn is None and grad_fn is None
    if use_cache:
        _sm = float(x.mean())
        _t0 = spec.t0 or 0
        _lparams = spec.law_full_params()
        _memo: dict = {}

        def _psi_state(t):
            key = t.tobytes()
            if _memo.get("k") != key:
                state = _compute_psi(x, t, spec, sample_mean=_sm)
                _memo["k"], _memo["v"] = key, state
            return _memo["v"]

    def f(t):
        try:
            if use_cache:
                t = np.asarray(t, dtype=np.float64)
                psi = _psi_state(t)[0]
                lp = S.logpdf_vec(x[_t0:], psi[_t0:], spec.law, _lparams)
                val = 0.0 if len(lp) == 0 else float(np.add.accumulate(lp)[-1])
                return -val
            return -ll(x, t, spec)
        except (ValueError, FloatingPointError, OverflowError):
            return float("inf")

    def g(t):
        try:
            if use_cache:
                t = np.asarray(t, dtype=np.float64)
                return -grad(x, t, spec, psi_state=_psi_state(t))
            return -gr(x, t, spec)
        except (ValueError, FloatingPointError, OverflowError):
            # a garbage θ probed past the feasible region: a NaN
            # gradient makes every curvature comparison fail, so the
            # search backs off and the optimizer terminates
            # LineSearchFailed instead of aborting the whole fit
            return np.full(len(t), np.nan)

    from ..constants import DEFAULT_LBFGS_MEM
    from .optim import DEFAULT_TOL_COST

    out = lbfgs_minimize(
        f, g, theta0, tol_grad=spec.tol_grad, max_iter=spec.max_iter,
        m=spec.lbfgs_mem if spec.lbfgs_mem is not None else DEFAULT_LBFGS_MEM,
        tol_cost=spec.tol_cost if spec.tol_cost is not None else DEFAULT_TOL_COST,
        line_searcher=spec.line_searcher, verbose=spec.verbose,
    )
    theta_hat = out.theta_hat
    psi, omega, alpha, beta, slack, pi, di = _compute_psi(x, theta_hat, spec)
    p = spec.p
    psi_buf = np.concatenate([pi, psi])
    psi_lags = psi_buf[len(psi_buf) - p :] if p > 0 else np.empty(0)
    return {
        "theta_hat": theta_hat,
        "omega": omega,
        "alpha": alpha,
        "beta": beta,
        "slack": slack,
        "psi_lags": psi_lags,
        "loglik": -out.value,
        "iterations": out.iterations,
        "fn_evals": out.fn_evals,
        "grad_norm": out.grad_norm,
        "converged": out.converged,
        "term_status": out.term_status,
        "message": out.term_status,  # backwards-compatible alias
    }


def covariance_series(
    x: np.ndarray,
    theta_hat: np.ndarray,
    spec: AcdSpec,
    robust: bool = True,
    kernel: str = "bartlett",
    bandwidth: int | None = None,
    center: bool = False,
    small_sample_correction: bool = True,
) -> np.ndarray:
    """Parameter covariance in (ω,α,β) space (acd.rs:449-484)."""
    hac_cov = None
    if robust:
        sc = scores(x, theta_hat, spec)
        # passed straight through, exactly as acd.rs:469-480 does with
        # calculate_avg_scores_cov's output
        hac_cov = hac_covariance_np(sc, kernel, bandwidth, center, small_sample_correction)

    def gfn(t):
        return grad(x, t, spec)

    # Observed information = −H(ℓ). NOTE a deliberate deviation: the
    # reference feeds H(ℓ) (negative-definite at the MLE) into an
    # eigen pseudo-inverse that keeps only λ > 1e-10 (hessian.rs:139-149,
    # 325-344), which would zero the matrix; its own unit tests exercise
    # calc_covariance with positive-definite gradient maps
    # (hessian.rs:410-455). We negate so the classical path returns the
    # meaningful J⁺.
    obs_info = -S.fd_hessian(gfn, theta_hat)
    V.validate_hessian(obs_info, len(theta_hat))  # errors.rs:271-281
    theta_cov = S.sandwich_covariance(obs_info, hac_cov)
    _, alpha, beta, _ = S.theta_to_params(theta_hat, spec.p, spec.q)
    return S.delta_method(theta_cov, theta_hat, alpha, beta)


# ---------------------------------------------------------------------------
# Spark operators
# ---------------------------------------------------------------------------

def acd_fit(
    df: DataFrame,
    keys: list[str],
    spec: AcdSpec,
    theta0: list[float] | None = None,
    value_col: str = "v",
    order_col: str = "t",
) -> DataFrame:
    """Per-key ACD fit → one result row per key. Failed keys yield error
    rows, not job failures."""
    dim = 1 + spec.q + spec.p
    theta0_a = np.zeros(dim) if theta0 is None else np.asarray(theta0, dtype=np.float64)
    fields = [
        T.StructField("omega", T.DoubleType()),
        T.StructField("alpha", T.ArrayType(T.DoubleType())),
        T.StructField("beta", T.ArrayType(T.DoubleType())),
        T.StructField("slack", T.DoubleType()),
        T.StructField("psi_lags", T.ArrayType(T.DoubleType())),
        T.StructField("loglik", T.DoubleType()),
        T.StructField("iterations", T.IntegerType()),
        T.StructField("fn_evals", T.IntegerType()),
        T.StructField("grad_norm", T.DoubleType()),
        T.StructField("converged", T.BooleanType()),
        T.StructField("term_status", T.StringType()),
        T.StructField("unit", T.StringType()),
        T.StructField("diurnal_adjusted", T.BooleanType()),
        T.StructField("error", T.StringType()),
    ]
    unit = V.parse_unit(spec.unit)

    def fit(pdf: pd.DataFrame) -> dict:
        x = pdf[value_col].to_numpy(dtype=np.float64)
        row = {"unit": [unit], "diurnal_adjusted": [spec.diurnal_adjusted]}
        try:
            r = fit_series(x, theta0_a, spec)
            row.update(
                omega=[r["omega"]], alpha=[r["alpha"].tolist()], beta=[r["beta"].tolist()],
                slack=[r["slack"]], psi_lags=[r["psi_lags"].tolist()], loglik=[r["loglik"]],
                iterations=[r["iterations"]], fn_evals=[r["fn_evals"]],
                grad_norm=[r["grad_norm"]],
                converged=[r["converged"]], term_status=[r["term_status"]], error=[None],
            )
        except Exception as e:  # noqa: BLE001 — per-key error rows by design
            row.update(
                omega=[None], alpha=[None], beta=[None], slack=[None], psi_lags=[None],
                loglik=[None], iterations=[None], fn_evals=[None], grad_norm=[None],
                converged=[False], term_status=[None],
                error=[f"{type(e).__name__}: {e}"],
            )
        return row

    return per_key(df, keys, order_col, [value_col], fields, fit)


def loglik_at_params(
    x: np.ndarray, omega: float, alpha, beta, spec: AcdSpec
) -> float:
    """ℓ at FIXED (ω, α, β) — the deterministic kernel stage of the fit
    (ψ recursion psi.rs:576-604 + ordered logpdf sum psi.rs:202-220)
    separated from the optimizer, exactly how the reference's tests pin
    the likelihood independently of argmin internals (SURVEY §7.2.3)."""
    x = np.asarray(x, dtype=np.float64)
    alpha = np.asarray(alpha, dtype=np.float64)
    beta = np.asarray(beta, dtype=np.float64)
    if spec.init == "uncond_mean":
        mu = omega / (1.0 - float(alpha.sum()) - float(beta.sum()))
        pi, di = np.full(spec.p, mu), np.full(spec.q, mu)
    else:
        pi, di = seed_init(
            spec.init, omega, alpha, beta, float(x.mean()), spec.p, spec.q,
            fixed_value=spec.init_value,
        )
    psi = psi_recursion_np(x, omega, alpha, beta, pi, di, spec.psi_guards)
    V.validate_psi_finite(psi)  # NonFinitePsi (errors.rs:244-249)
    t0 = spec.t0 or 0
    lp = S.logpdf_vec(x[t0:], psi[t0:], spec.law, spec.law_full_params())
    total = 0.0
    for v in lp:  # try_fold order
        total += float(v)
    return total


def acd_loglik_fixed(
    df: DataFrame,
    keys: list[str],
    spec: AcdSpec,
    omega: float,
    alpha: list[float],
    beta: list[float],
    value_col: str = "v",
    order_col: str = "t",
) -> DataFrame:
    """Per-key ℓ at fixed parameters → one row per key. SQL-expressible
    (RECURSIVE CTE over the ψ recursion) — the oracle-able companion of
    ``acd_fit``."""
    def loglik_row(pdf: pd.DataFrame) -> dict:
        x = pdf[value_col].to_numpy(dtype=np.float64)
        return {"loglik": [loglik_at_params(x, omega, alpha, beta, spec)]}

    fields = [T.StructField("loglik", T.DoubleType())]
    return per_key(df, keys, order_col, [value_col], fields, loglik_row)


def acd_covariance(
    df: DataFrame,
    keys: list[str],
    spec: AcdSpec,
    theta0: list[float] | None = None,
    robust: bool = True,
    kernel: str = "bartlett",
    bandwidth: int | None = None,
    center: bool = False,
    small_sample_correction: bool = True,
    value_col: str = "v",
    order_col: str = "t",
) -> DataFrame:
    """Fit + parameter covariance per key (flattened row-major)."""
    dim = 1 + spec.q + spec.p
    theta0_a = np.zeros(dim) if theta0 is None else np.asarray(theta0, dtype=np.float64)
    fields = [
        T.StructField("dim", T.IntegerType()),
        T.StructField("cov", T.ArrayType(T.DoubleType())),
        T.StructField("error", T.StringType()),
    ]

    def cov_row(pdf: pd.DataFrame) -> dict:
        x = pdf[value_col].to_numpy(dtype=np.float64)
        try:
            r = fit_series(x, theta0_a, spec)
            cov = covariance_series(
                x, r["theta_hat"], spec, robust, kernel, bandwidth, center, small_sample_correction
            )
            return {"dim": [dim], "cov": [cov.reshape(-1).tolist()], "error": [None]}
        except Exception as e:  # noqa: BLE001
            return {"dim": [dim], "cov": [None], "error": [f"{type(e).__name__}: {e}"]}

    return per_key(df, keys, order_col, [value_col], fields, cov_row)
