"""F15 — prior transforms + sample-parallel posterior estimation.

Reference priors (enterprise_models.py:578-589 + bilby adapters
bilby_warp.py:40-106): Uniform, LinearExponential (log-uniform amplitude),
Normal, TruncatedNormal, Constant. A prior table is drawn on the driver with
numpy (`draw_priors`, one generator stream per parameter): it is at most a
few thousand rows, every caller collects it anyway, and its values depend
on the seed alone, not on the session's parallelism. So are the proposal
rounds of `adaptive_posterior` (`refined_samples`). The importance waves
draw their proposals as column expressions over rand(seed) streams with a
pinned partition count.

Posterior estimation: importance weights w_i = exp(lnl_i - max lnl) over the
prior sample; summaries (mean, credible intervals) are weighted aggregates.
Replaces the reference's sequential MCMC with a sample-parallel scheme — the
number of likelihood evaluations is the same, but they all run at once.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


@dataclass(frozen=True)
class Prior:
    name: str
    kind: str  # uniform | linearexp | normal | truncnormal | constant
    a: float = 0.0  # lo / mu / value
    b: float = 1.0  # hi / sigma
    lo: float = float("-inf")  # truncnormal bounds
    hi: float = float("inf")


# Acklam's inverse normal CDF — a piecewise rational approximation
# (~1.15e-9 relative error), published algorithm (no erfinv in Spark SQL
# and no scipy in this environment). `probit` spells it as column
# arithmetic, `_probit_np` as the same operations over numpy arrays.
_ACK_A = (-3.969683028665376e01, 2.209460984245205e02, -2.759285104469687e02,
          1.383577518672690e02, -3.066479806614716e01, 2.506628277459239e00)
_ACK_B = (-5.447609879822406e01, 1.615858368580409e02, -1.556989798598866e02,
          6.680131188771972e01, -1.328068155288572e01)
_ACK_C = (-7.784894002430293e-03, -3.223964580411365e-01, -2.400758277161838e00,
          -2.549732539343734e00, 4.374664141464968e00, 2.938163982698783e00)
_ACK_D = (7.784695709041462e-03, 3.224671290700398e-01, 2.445134137142996e00,
          3.754408661907416e00)
# clamp away the open-interval endpoints: a uniform draw can be exactly
# 0.0 (and an infinite truncation bound maps it there), where
# sqrt(-2*log(0)) = inf and the rational tail becomes inf/inf = NaN — one
# poisoned sample row. 1e-15 keeps ~|z| <= 8, far outside any realistic
# truncation window.
_P_EPS = 1e-15
_P_LOW = 0.02425


def _poly(q, coeffs):
    """Horner evaluation; q is a Column or a numpy array."""
    out = coeffs[0] if isinstance(q, np.ndarray) else F.lit(float(coeffs[0]))
    for c in coeffs[1:]:
        out = out * q + c
    return out


def probit(p: F.Column) -> F.Column:
    """Inverse standard-normal CDF as a column expression (Acklam)."""
    p = F.greatest(F.least(p, F.lit(1.0 - _P_EPS)), F.lit(_P_EPS))
    q_c = p - 0.5
    r_c = q_c * q_c
    central = (_poly(r_c, _ACK_A) * q_c) / (_poly(r_c, _ACK_B) * r_c + F.lit(1.0))
    q_l = F.sqrt(-2.0 * F.log(p))
    lower = _poly(q_l, _ACK_C) / (_poly(q_l, _ACK_D) * q_l + F.lit(1.0))
    q_u = F.sqrt(-2.0 * F.log(1.0 - p))
    upper = -_poly(q_u, _ACK_C) / (_poly(q_u, _ACK_D) * q_u + F.lit(1.0))
    return (
        F.when(p < _P_LOW, lower)
        .when(p > 1.0 - _P_LOW, upper)
        .otherwise(central)
    )


def _probit_np(p: np.ndarray) -> np.ndarray:
    """`probit` over a numpy array: the same clamp, branches and operation
    order."""
    p = np.maximum(np.minimum(p, 1.0 - _P_EPS), _P_EPS)
    q_c = p - 0.5
    r_c = q_c * q_c
    central = (_poly(r_c, _ACK_A) * q_c) / (_poly(r_c, _ACK_B) * r_c + 1.0)
    q_l = np.sqrt(-2.0 * np.log(p))
    lower = _poly(q_l, _ACK_C) / (_poly(q_l, _ACK_D) * q_l + 1.0)
    q_u = np.sqrt(-2.0 * np.log(1.0 - p))
    upper = -_poly(q_u, _ACK_C) / (_poly(q_u, _ACK_D) * q_u + 1.0)
    return np.where(p < _P_LOW, lower, np.where(p > 1.0 - _P_LOW, upper, central))


def _trunc_cdf(p: Prior) -> tuple[float, float]:
    """Standard-normal CDF of a truncnormal prior's bounds, (alpha, beta)
    (bilby_warp.py:67-68 TruncatedGaussian); infinite bounds give 0 and 1."""

    def cdf(x: float) -> float:
        return (math.erf(((x - p.a) / p.b) / math.sqrt(2.0)) + 1.0) / 2.0

    return (
        cdf(p.lo) if math.isfinite(p.lo) else 0.0,
        cdf(p.hi) if math.isfinite(p.hi) else 1.0,
    )


def _column(p: Prior, u, g, probit_fn=probit):
    """One prior's draws from a uniform u and a standard normal g — Columns,
    or numpy arrays with probit_fn=_probit_np."""
    if p.kind in ("uniform", "linearexp"):  # linearexp: log10-amplitude
        return u * (p.b - p.a) + p.a
    if p.kind == "normal":
        return g * p.b + p.a
    if p.kind == "truncnormal":
        # exact inverse-CDF sampling of N(a, b) truncated to [lo, hi]: the
        # bound CDFs are driver-side constants, only probit runs per row
        alpha, beta = _trunc_cdf(p)
        return probit_fn(u * (beta - alpha) + alpha) * p.b + p.a
    if p.kind == "constant":
        return F.lit(p.a)
    raise ValueError(f"unknown prior kind {p.kind}")


def draw_priors(priors: list[Prior], n: int, seed: int = 42) -> pd.DataFrame:
    """(sample_id, <param columns>) drawn on the driver: parameter i reads
    its own generator, np.random.default_rng([seed, i]) (the seed taken
    modulo 2**64), so a table is a function of the priors, n and the seed
    only."""
    cols = {"sample_id": np.arange(n, dtype=np.int64)}
    for i, p in enumerate(priors):
        rng = np.random.default_rng([seed % 2**64, i])
        if p.kind == "constant":
            cols[p.name] = np.full(n, float(p.a))
        elif p.kind == "normal":
            cols[p.name] = _column(p, None, rng.standard_normal(n))
        else:
            cols[p.name] = _column(p, rng.random(n), None, _probit_np)
    return pd.DataFrame(cols)


def sample_priors(
    spark: SparkSession, priors: list[Prior], n: int, seed: int = 42
) -> DataFrame:
    """`draw_priors` as a DataFrame over one Arrow local relation."""
    return spark.createDataFrame(draw_priors(priors, n, seed))


def posterior_summary(
    samples_lnl: DataFrame, param_cols: list[str], logw_col: str = "lnl"
) -> DataFrame:
    """Importance-weighted posterior mean/std per parameter + the MAP sample.

    samples_lnl: (sample_id, <params...>, lnl). Weights are normalized
    against max(logw_col) for stability; all aggregates are single-shuffle.
    logw_col: the log-weight column — 'lnl' for prior-sampled tables (the
    proposal IS the prior, so likelihood = importance weight); 'logw' for
    importance_posterior tables (proposal-corrected weights). The plan is
    built from SQL text, one expression list for the aggregate: one py4j
    call per F.* builder made the Column form take 0.23-0.34 s to build
    (4-8 parameters, warm local[4]); this form takes 0.05-0.07 s."""
    lw = _quote(logw_col)
    mx = samples_lnl.selectExpr(f"max({lw}) AS _mx")
    weighted = samples_lnl.join(F.broadcast(mx)).selectExpr(
        "*", f"exp({lw} - _mx) AS w"
    )
    aggs = []
    for c in param_cols:
        q = _quote(c)
        mean = f"(sum({q} * w) / sum(w))"
        aggs += [
            f"{mean} AS {_quote(c + '_mean')}",
            f"sqrt(sum({q} * {q} * w) / sum(w) - pow({mean}, 2)) "
            f"AS {_quote(c + '_std')}",
            f"max_by({q}, lnl) AS {_quote(c + '_map')}",
        ]
    return weighted.selectExpr(*aggs)


def _quote(name: str) -> str:
    """A column name as a SQL identifier, whatever characters it holds
    (parameter names come from the user's noise-model files)."""
    return "`" + name.replace("`", "``") + "`"


def posterior_quantiles(
    samples_lnl: DataFrame,
    param_cols: list[str],
    qs: tuple[float, ...] = (0.16, 0.5, 0.84),
    logw_col: str = "lnl",
) -> dict[str, dict[float, float]]:
    """Weighted posterior quantiles per parameter -> {param: {q: value}} —
    the median/band companion to posterior_summary (the reference's
    results.py reports chain percentiles the same way; here the chain is
    the scored sample table and the weight is exp(logw_col - max)):
    'lnl' for prior-sampled tables, 'logw' for importance_posterior
    tables whose weights carry the proposal correction.

    Computation is EXACT weighted quantiles: sort by value, walk the
    cumulative weight, take the first value whose cum >= q * total. The
    sample table crosses the driver — bounded by the same
    MAX_ADAPTIVE_N_PER_ROUND contract every adaptive round already pays
    (sample tables are metadata-scale next to the residual data)."""
    import numpy as _np

    pdf = samples_lnl.select(*param_cols, logw_col).toPandas()
    lnl = pdf[logw_col].to_numpy(dtype=float)
    keep = _np.isfinite(lnl)
    pdf, lnl = pdf[keep], lnl[keep]
    w = _np.exp(lnl - lnl.max())
    out: dict[str, dict[float, float]] = {}
    for c in param_cols:
        v = pdf[c].to_numpy(dtype=float)
        order = _np.argsort(v, kind="mergesort")
        cum = _np.cumsum(w[order])
        total = cum[-1]
        out[c] = {
            q: float(v[order][int(_np.searchsorted(cum, q * total))])
            for q in qs
        }
    return out


def refined_samples(
    spark: SparkSession,
    priors: list[Prior],
    centers: dict[str, float],
    scales: dict[str, float],
    n: int,
    seed: int,
    round_: int,
) -> DataFrame:
    """Gaussian proposal around `centers`, clipped to the prior box — one
    adaptive-importance-sampling round, drawn on the driver like
    `draw_priors`: parameter i reads np.random.default_rng([seed, round_,
    i]), and the table reaches Spark as one Arrow local relation."""
    cols = {"sample_id": np.arange(n, dtype=np.int64)}
    for i, p in enumerate(priors):
        if p.kind == "constant":
            cols[p.name] = np.full(n, float(p.a))
            continue
        g = np.random.default_rng([seed % 2**64, round_, i]).standard_normal(n)
        col = g * float(scales[p.name]) + float(centers[p.name])
        if p.kind in ("uniform", "linearexp"):
            col = np.clip(col, p.a, p.b)
        elif p.kind == "truncnormal":
            col = np.clip(col, p.lo, p.hi)
        cols[p.name] = col
    return spark.createDataFrame(pd.DataFrame(cols))


_LOG_ZERO = -1.0e30  # finite stand-in for log(0): keeps column arithmetic
# NaN-free (exp gives exactly 0.0, greatest/when stay well-defined)


def _log_prior_density(priors: list[Prior], of=F.col) -> F.Column:
    """Sum of per-parameter prior log-densities as one column expression
    (constants contribute 0 — they are point masses on both sides of any
    importance ratio). Outside any parameter's support the sum collapses
    to _LOG_ZERO, zeroing the weight."""
    import math as _math

    total = F.lit(0.0)
    ok = F.lit(True)
    for p in priors:
        if p.kind == "constant":
            continue
        x = of(p.name)
        if p.kind in ("uniform", "linearexp"):
            total = total + F.lit(-_math.log(p.b - p.a))
            ok = ok & (x >= p.a) & (x <= p.b)
        elif p.kind in ("normal", "truncnormal"):
            z = (x - p.a) / p.b
            total = total - 0.5 * z * z + F.lit(
                -_math.log(p.b) - 0.5 * _math.log(2.0 * _math.pi)
            )
            if p.kind == "truncnormal":
                alpha, beta = _trunc_cdf(p)
                total = total + F.lit(-_math.log(max(beta - alpha, 1e-300)))
                ok = ok & (x >= p.lo) & (x <= p.hi)
        else:
            raise ValueError(f"unknown prior kind {p.kind}")
    return F.when(ok, total).otherwise(F.lit(_LOG_ZERO))


def importance_posterior(
    spark: SparkSession,
    priors: list[Prior],
    score_fn,
    centers: dict[str, float],
    scales: dict[str, float],
    n: int,
    seed: int,
    prior_frac: float = 0.25,
    inflate: float = 1.5,
    waves: int = 1,
    init_cov=None,
    temper0: float = 4.0,
    ess_target: float | None = None,
    max_waves: int | None = None,
    diagnostics: dict | None = None,
) -> DataFrame:
    """Defensive-mixture importance sampling around a located mode ->
    (sample_id, <params>, lnl, logw, wave) with VALID posterior weights.

    The CEM waves in adaptive_posterior LOCATE the high-likelihood region
    but their elite-weighted samples are proposal-biased (weights
    exp(lnl - max) ignore where the samples came from, so the spread
    collapses onto the best few rows). This fixes that the standard
    adaptive-IS way: sample q(x) = prior_frac * prior(x) +
    (1 - prior_frac) * N(x; mu, Sigma) — the defensive mixture of
    Hesterberg (1995), guaranteeing bounded weights where the prior has
    mass — then weight logw = lnl + log pi(x) - log q(x). Quantiles /
    summaries over (params, logw) estimate the TRUE posterior.

    waves > 1 runs tempered population Monte Carlo (Cappe et al. 2004;
    annealed refits as in AMIS practice): after each wave, (mu, Sigma)
    are refit to the pooled samples weighted by exp((logw - max) / T_w),
    with the temperature ladder T_w = temper0^((waves-1-wv)/(waves-1))
    cooling to T = 1 on the last wave — early waves adapt on a FLATTENED
    target (many effective samples even when the true weights collapse),
    late waves sharpen to the real posterior. The refit covariance is
    FULL (it picks up the amplitude-vs-slope bananas a diagonal proposal
    misses), inflated by `inflate` and regularized to stay positive
    definite; init_cov (d x d over the non-constant priors, e.g. the CEM
    elite covariance) seeds wave 1. Each sample keeps its OWN wave's
    proposal density in logw, so the pooled table is a valid
    multiple-proposal self-normalized IS estimate. Per wave cost: ONE
    distributed scoring of n samples; the refit moments are the only
    driver-side values (d + d^2 floats).

    All sampling is column arithmetic (rand/randn streams keyed by seed +
    wave): no driver RNG, deterministic; wave 1 uses the diagonal
    (inflate * scales)^2 covariance.

    ess_target (r13 verdict #6): production mode — keep appending T=1
    waves past the `waves` cooling ladder until the pooled untempered
    ESS (sum(w)^2 / sum(w^2)) reaches the target or the wave budget
    `max_waves` (default 4 * waves when a target is set) is exhausted
    (then warns). ess_target=None reproduces the fixed-wave behavior
    bit-for-bit. diagnostics: pass a dict to receive {ess, ess_per_wave,
    n_waves, ess_target, ess_target_met}."""
    if n > MAX_ADAPTIVE_N_PER_ROUND:
        raise ValueError(
            f"importance_posterior n={n} exceeds the driver-collect "
            f"contract ({MAX_ADAPTIVE_N_PER_ROUND})"
        )
    if not 0.0 < prior_frac < 1.0:
        raise ValueError(
            "prior_frac must be strictly inside (0, 1): the defensive "
            f"mixture needs both components (got {prior_frac})"
        )
    import math as _math

    import numpy as _np
    import pandas as _pd

    sampled = [p for p in priors if p.kind != "constant"]
    names = [p.name for p in sampled]
    d = len(names)
    mu = _np.array([float(centers[c]) for c in names])
    base = _np.array([float(max(scales[c], 1e-12)) for c in names])
    cov = (
        _np.asarray(init_cov, dtype=float).copy()
        if init_cov is not None
        else _np.diag(base**2)
    ) * inflate**2
    # the full-covariance proposal spells the quadratic form as ~d^2/2
    # column terms; past ~40 sampled dimensions that expression tree (and
    # the d x d refit) stops paying for itself — fall back to the
    # diagonal family (refits below project to the diagonal too)
    diag_only = d > 40
    pooled: _pd.DataFrame | None = None
    # wave budget: fixed `waves` without a target (bit-identical to the
    # pre-ESS behavior); with ess_target, extension waves run at T = 1
    # until the target or the cap
    cap = (
        waves
        if ess_target is None
        else max(int(max_waves), waves) if max_waves is not None else 4 * waves
    )
    ess_per_wave: list[float] = []
    wv = 0
    while True:
        sw = seed + 60013 * wv
        T_w = (
            temper0 ** ((waves - 1 - wv) / (waves - 1))
            if waves > 1 and wv < waves
            else 1.0
        )
        # rand/randn streams are seeded PER PARTITION: pin the partition
        # count so the drawn samples (and therefore the whole posterior)
        # do not depend on the session's default parallelism
        # regularize: keep the proposal from collapsing below 2% of the
        # initial per-axis scale (the CEM floor convention)
        cov = cov + _np.diag((0.02 * base) ** 2)
        if diag_only:
            cov = _np.diag(_np.diag(cov))
        L = _np.linalg.cholesky(cov)
        P = _np.linalg.inv(cov)
        _sign, logdet = _np.linalg.slogdet(cov)
        df = spark.range(0, n, 1, 32).withColumnRenamed("id", "sample_id")
        pick_prior = F.rand(sw - 7) < prior_frac
        gcols = [F.randn(sw + 1000 * k + 499) for k in range(d)]
        for p in priors:
            if p.kind == "constant":
                df = df.withColumn(p.name, F.lit(p.a))
        for j, p in enumerate(sampled):
            u = F.rand(sw + 1000 * j)
            gx = F.lit(float(mu[j]))
            for k in range(j + 1):
                if L[j, k] != 0.0:
                    gx = gx + F.lit(float(L[j, k])) * gcols[k]
            df = df.withColumn(
                p.name, F.when(pick_prior, _column(p, u, gcols[j])).otherwise(gx)
            )
        quad = F.lit(0.0)
        for j in range(d):
            for k in range(j, d):
                c = float(P[j, k] * (1.0 if j == k else 2.0))
                if c != 0.0:
                    quad = quad + F.lit(c) * (
                        F.col(names[j]) - float(mu[j])
                    ) * (F.col(names[k]) - float(mu[k]))
        log_g = -0.5 * quad + F.lit(
            -0.5 * (d * _math.log(2.0 * _math.pi) + logdet)
        )
        log_pi = _log_prior_density(priors)
        t1 = F.lit(_math.log(prior_frac)) + log_pi
        t2 = F.lit(_math.log(1.0 - prior_frac)) + log_g
        m = F.greatest(t1, t2)
        log_q = m + F.log(F.exp(t1 - m) + F.exp(t2 - m))
        df = df.withColumn("__log_pi", log_pi).withColumn("__log_q", log_q)
        scored = score_fn(
            df.select("sample_id", *[p.name for p in priors])
        ).join(df, "sample_id")
        scored = scored.withColumn(
            "logw",
            F.when(
                F.col("__log_pi") <= _LOG_ZERO / 2, F.lit(_LOG_ZERO)
            ).otherwise(F.col("lnl") + F.col("__log_pi") - F.col("__log_q")),
        ).drop("__log_pi", "__log_q")
        part = scored.toPandas()
        part["sample_id"] = part["sample_id"] + wv * n
        part["wave"] = wv
        pooled = part if pooled is None else _pd.concat(
            [pooled, part], ignore_index=True
        )
        # pooled untempered ESS after this wave — the diagnostic users
        # read, and the ess_target loop variable
        lw = pooled["logw"].to_numpy(dtype=float)
        fin = _np.isfinite(pooled["lnl"].to_numpy(dtype=float)) & (
            lw > _LOG_ZERO / 2
        )
        if fin.any():
            ess_now = effective_sample_size(_np.exp(lw[fin] - lw[fin].max()))
        else:
            ess_now = 0.0
        ess_per_wave.append(round(ess_now, 2))
        if wv + 1 >= waves and (
            ess_target is None or ess_now >= ess_target or wv + 1 >= cap
        ):
            if ess_target is not None and ess_now < ess_target:
                import warnings as _warnings

                _warnings.warn(
                    f"importance_posterior: ESS {ess_now:.1f} is below the "
                    f"target {ess_target:g} after {wv + 1} waves (budget "
                    f"cap {cap}); the posterior is valid but thin",
                    stacklevel=2,
                )
            break
        # tempered PMC refit on the pooled weighted cloud (finite only)
        if not fin.any():
            # ADVICE r13: a wave where score_fn returned -inf everywhere
            # (no finite-likelihood in-support sample yet) must not refit
            # — w.sum() would be 0 and mu/cov would go NaN, crashing the
            # next wave's cholesky. Keep the previous proposal and let the
            # next wave's prior_frac draws keep exploring.
            wv += 1
            continue
        X = pooled.loc[fin, names].to_numpy(dtype=float)
        w = _np.exp((lw[fin] - lw[fin].max()) / T_w)
        w = w / w.sum()
        mu = w @ X
        dx = X - mu
        cov = (dx * w[:, None]).T @ dx * (inflate**2)
        wv += 1
    if diagnostics is not None:
        diagnostics.update(
            ess=ess_per_wave[-1],
            ess_per_wave=ess_per_wave,
            n_waves=wv + 1,
            ess_target=ess_target,
            ess_target_met=ess_target is None
            or ess_per_wave[-1] >= ess_target,
        )
    return spark.createDataFrame(pooled)


def effective_sample_size(w: np.ndarray) -> float:
    """Kish ESS of importance weights, (sum w)^2 / sum w^2: 1 when one
    draw carries all the weight, len(w) when the weights are equal."""
    return float(w.sum() ** 2 / (w**2).sum())


def log_evidence(
    pooled: DataFrame | pd.DataFrame, logw_col: str = "logw"
) -> float:
    """Marginal-likelihood (Bayesian evidence) estimate from an
    importance_posterior table: since logw = ln L + ln pi - ln q for
    samples drawn from q, E_q[exp(logw)] = integral of L * pi = Z, so
    ln Z ~= logsumexp(logw) - ln N. Valid for the pooled multi-wave table
    (equal n per wave = a uniform mixture of proposals, itself a valid
    q). The reference reaches evidence through dynesty (bilby_warp); here
    it falls out of the weights the posterior already carries — log Bayes
    factors between separately-run models are differences of this value.

    Driver cost: one logsumexp over the sample table's weight column (the
    same MAX_ADAPTIVE_N_PER_ROUND-bounded table every summary reads). A
    table already collected to pandas is read without a Spark job."""
    import math as _math

    import numpy as _np

    if isinstance(pooled, pd.DataFrame):
        lw = pooled[logw_col].to_numpy(dtype=float)
    else:
        lw = _np.array(
            [r[0] for r in pooled.select(logw_col).collect()], dtype=float
        )
    n = len(lw)
    lw = lw[_np.isfinite(lw) & (lw > _LOG_ZERO / 2)]
    if not len(lw):
        return float("-inf")
    m = lw.max()
    # out-of-support draws contribute exp(-inf) = 0 but still count in N
    return float(m + _math.log(_np.exp(lw - m).sum()) - _math.log(n))


# adaptive_posterior round-trips each round's scored samples through the
# driver (the CEM refit is a driver-side pandas moment fit). That is fine at
# the design scale — hundreds to thousands of samples of tens of params —
# but it is NOT a distributed reduction: the cap below turns a silent
# 10^7-samples-per-round driver OOM into a loud plan-time error. Rounds
# times n_per_round rows are also retained driver-side across rounds.
MAX_ADAPTIVE_N_PER_ROUND = 65_536


def adaptive_posterior(
    spark: SparkSession,
    priors: list[Prior],
    score_fn,
    rounds: int = 4,
    n_per_round: int = 256,
    seed: int = 42,
    elite_frac: float = 0.2,
    final_is: int = 0,
    final_is_waves: int = 3,
    final_is_ess_target: float | None = None,
    final_is_max_waves: int | None = None,
    diagnostics: dict | None = None,
):
    """Cross-entropy-method posterior search: each round fits the Gaussian
    proposal to the ELITE set (top lnl) of ALL samples scored so far, so a
    lucky early sample is refined rather than lost and a mediocre first
    round cannot trap the proposal (greedy weighted-moment refits measurably
    did). Replaces the reference's sequential MCMC exploration with waves of
    embarrassingly parallel scoring; deterministic given the seed.

    score_fn(samples_df) -> DataFrame(sample_id, lnl).
    Returns (all_scored_df, summary_row_df over the final elite-weighted set).

    final_is > 0 appends ONE defensive importance_posterior pass of that
    many samples around the located mode and returns ITS table (with the
    proposal-corrected `logw` column) and a logw-weighted summary instead —
    the CEM waves find the region, the IS pass turns it into a valid
    posterior estimate (medians/bands via posterior_quantiles(...,
    logw_col='logw'))."""
    import numpy as _np
    import pandas as _pd

    if n_per_round > MAX_ADAPTIVE_N_PER_ROUND:
        raise ValueError(
            f"adaptive_posterior n_per_round={n_per_round} exceeds the "
            f"driver-collect contract ({MAX_ADAPTIVE_N_PER_ROUND}): each "
            "round's samples are refit driver-side (CEM moments); for more "
            "posterior mass per round, raise `rounds` or score more chains "
            "in parallel instead"
        )

    def _np_isfinite(series):
        return _np.isfinite(series.to_numpy())

    sampled = [p for p in priors if p.kind != "constant"]
    names = [p.name for p in sampled]
    widths = {p.name: (p.b - p.a) if p.kind in ("uniform", "linearexp") else p.b
              for p in sampled}
    samples = sample_priors(spark, priors, n_per_round, seed)
    seen: _pd.DataFrame | None = None
    joined = None
    n_elite = max(int(n_per_round * elite_frac), 12)
    for rnd in range(rounds):
        joined = score_fn(samples).join(samples, "sample_id")
        # in sample order, whatever the partitioning the rows arrive in
        part = joined.toPandas().sort_values("sample_id", ignore_index=True)
        part = part[_np_isfinite(part["lnl"])]  # -inf/NaN scores carry no info
        part["sample_id"] = part["sample_id"] + rnd * n_per_round
        seen = part if seen is None else _pd.concat([seen, part], ignore_index=True)
        if rnd == rounds - 1:
            break
        elites = seen.nlargest(n_elite, "lnl")
        centers = {c: float(elites[c].mean()) for c in names}
        scales = {
            c: max(float(elites[c].std()), 0.02 * abs(widths[c])) for c in names
        }
        samples = refined_samples(
            spark, priors, centers, scales, n_per_round, seed, rnd + 1
        )
    if final_is:
        elites = seen.nlargest(n_elite, "lnl")
        centers = {c: float(elites[c].mean()) for c in names}
        scales = {
            c: max(float(elites[c].std()), 0.02 * abs(widths[c])) for c in names
        }
        # seed the IS stage with the elites' FULL covariance (floored per
        # axis at the CEM scale floor) so the first wave already knows the
        # local parameter correlations
        ex = elites[names].to_numpy(dtype=float)
        cov0 = _np.cov(ex, rowvar=False, ddof=0) + _np.diag(
            [(0.02 * abs(widths[c])) ** 2 for c in names]
        )
        is_df = importance_posterior(
            spark, priors, score_fn, centers, scales, final_is,
            seed + 104729, waves=final_is_waves, init_cov=cov0,
            ess_target=final_is_ess_target,
            max_waves=final_is_max_waves,
            diagnostics=diagnostics,
        )
        summary = posterior_summary(is_df, names, logw_col="logw")
        if diagnostics is not None:
            # surface the wave diagnostics on the summary row itself
            # (r13 verdict #6) — the run-dir JSON carries the full dict
            summary = summary.withColumn(
                "ess", F.lit(float(diagnostics["ess"]))
            ).withColumn("n_waves", F.lit(int(diagnostics["n_waves"])))
        return is_df, summary
    all_scored = spark.createDataFrame(seen)
    # guard exp() against overflow across rounds of very different lnl
    return all_scored, posterior_summary(all_scored, names)
