"""F10 — GP-marginalized Gaussian likelihood per pulsar.

Model (assembled by the reference at enterprise_warp.py:485-559, evaluated
via pta.get_lnlikelihood at bilby_warp.py:19-35):

    C = N + F phi F^T
    N   = diag white noise: EFAC^2 (sigma_toa^2 + EQUAD^2)   [t2 convention,
          enterprise_models.py:115-145]
    F   = Fourier design matrix, sin/cos pairs at k/T (built in the kernel)
    phi = diag powerlaw PSD: A^2/(12 pi^2) fyr^-3 (f/fyr)^-gamma * df

    lnL = -1/2 [ r^T C^-1 r + logdet C + n ln(2 pi) ]

computed with the Woodbury identity so only a 2k x 2k system is solved:

    C^-1 = N^-1 - N^-1 F (phi^-1 + F^T N^-1 F)^-1 F^T N^-1
    logdet C = logdet N + logdet phi + logdet(phi^-1 + F^T N^-1 F)

Execution shape: `groupBy('psr').applyInPandas` — one Arrow batch per
pulsar; ALL parameter samples are evaluated vectorized inside the kernel
(the per-sample work reuses the per-pulsar basis F), then A13 sums lnL over
pulsars per sample (`sum_over_pulsars` on the driver, `total_loglik` as a
Spark aggregate). TOA data crosses the wire once regardless of how many
samples are scored. At 100 TB / many pulsars this is embarrassingly parallel
over the psr partition key.
"""

from __future__ import annotations

import functools
import math
from collections.abc import Iterable

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

FYR = 1.0 / (365.25 * 86400.0)

RESIDUAL_COLS = ("psr", "toa_s", "residual_s", "toa_err_s", "efac", "equad")

# the kernel's TOA order: time, then frequency, then the TOA's line index
# in its .tim file (`toa_idx`), where the residual frame carries them
TOA_ORDER = ("toa_s", "freq_mhz", "toa_idx")


def powerlaw_phi(f: np.ndarray, df: np.ndarray, log10_A: float, gamma: float) -> np.ndarray:
    a2 = 10.0 ** (2.0 * log10_A)
    return a2 / (12.0 * math.pi**2) * FYR ** (-3.0) * (f / FYR) ** (-gamma) * df


def turnover_phi(
    f: np.ndarray, df: np.ndarray, log10_A: float, gamma: float, log10_fc: float,
    kappa: float = 10.0 / 3.0,
) -> np.ndarray:
    """F2 variant — powerlaw suppressed below f_c (enterprise 'turnover')."""
    fc = 10.0**log10_fc
    return powerlaw_phi(f, df, log10_A, gamma) / (1.0 + (fc / f) ** kappa)


def broken_powerlaw_phi(
    f: np.ndarray, df: np.ndarray, log10_A: float, gamma: float, fc: float
) -> np.ndarray:
    """F2 — ((f+fc)/fyr)^(-gamma); fc<0 means 10^fc
    (enterprise_models.py:593-603 powerlaw_bpl form)."""
    if fc < 0:
        fc = 10.0**fc
    a2 = 10.0 ** (2.0 * log10_A)
    return a2 / (12.0 * math.pi**2) * FYR ** (-3.0) * ((f + fc) / FYR) ** (-gamma) * df


from dataclasses import dataclass  # noqa: E402


@dataclass(frozen=True)
class RedComponent:
    """One red-noise GP term: its own Fourier basis (optionally chromatic,
    F5/F6: basis scaled by (fref/freq_mhz)^chrom_idx per TOA) and PSD family
    (F1 powerlaw / F2 turnover / broken powerlaw). Sample columns are
    '{name}_log10_A', '{name}_gamma' (+ '{name}_log10_fc' for turnover);
    an empty name uses bare 'log10_A'/'gamma'.

    Selection scoping (P1, system/band noise, enterprise_models.py:616-683):
    sel_col/sel_values restrict the term to matching TOAs — basis rows vanish
    outside the selection and frequencies come from the SELECTION's Tspan
    (per-selection nfreqs semantics, enterprise_models.py:508-539)."""

    name: str = ""
    chrom_idx: float | None = 0.0  # None => sampled per-sample ('{name}_idx')
    psd: str = "powerlaw"  # powerlaw | turnover | broken_powerlaw | free_spectrum
    nfreqs: int = 20
    fref_mhz: float = 1400.0
    sel_col: str | None = None
    sel_values: tuple[str, ...] = ()

    def prefix(self) -> str:
        return f"{self.name}_" if self.name else ""

    def phi(self, f2: np.ndarray, df2: np.ndarray, rec) -> np.ndarray:
        p = self.prefix()
        if self.psd == "free_spectrum":
            # F3 — per-frequency amplitudes 10^(2*log10_rho_k), sin/cos pairs
            # share rho_k (enterprise_models.py:421-426)
            rho = np.array(
                [float(getattr(rec, f"{p}log10_rho_{k}")) for k in range(len(f2) // 2)]
            )
            return np.repeat(10.0 ** (2.0 * rho), 2)
        lga = float(getattr(rec, f"{p}log10_A"))
        gam = float(getattr(rec, f"{p}gamma"))
        if self.psd == "powerlaw":
            return powerlaw_phi(f2, df2, lga, gam)
        if self.psd == "turnover":
            return turnover_phi(f2, df2, lga, gam, float(getattr(rec, f"{p}log10_fc")))
        if self.psd == "broken_powerlaw":
            return broken_powerlaw_phi(f2, df2, lga, gam, float(getattr(rec, f"{p}log10_fc")))
        raise ValueError(f"unknown psd {self.psd}")


@dataclass(frozen=True)
class DetComponent:
    """F13 — deterministic signal with SAMPLED common coefficients over a
    precomputed per-TOA basis (BayesEphem, enterprise_models.py:465-470):
    delay_i = sum_k c_k * B_ik. `coeff_cols` name sample columns, `basis_cols`
    name residuals columns (joined in from the basis table —
    functions/ephemeris.py). The sampled delay shifts the residual vector
    (r - B c) before the GP-marginalized Woodbury evaluation, so the basis
    crosses the wire once with the TOA data and every sample reuses it."""

    coeff_cols: tuple[str, ...]
    basis_cols: tuple[str, ...]

    def __post_init__(self):
        if len(self.coeff_cols) != len(self.basis_cols):
            raise ValueError("coeff_cols and basis_cols must pair up")


# gp_signals.TimingModel prior weight on the normalized basis (`tm: default`)
TM_WEIGHT = 1e40


@dataclass(frozen=True, eq=False)
class TMComponent:
    """Linear timing-model design-matrix marginalization — the reference's
    `tm:` choice (enterprise_warp.py:500-508), previously the one missing
    piece of F10. Modes:

      - 'fast'    — exact infinite-prior marginalization of col(M)
                    (gp_signals.MarginalizingTimingModel): M's columns join
                    the Woodbury basis with phi^-1 = 0 (see _lnlike_one).
      - 'default' — gp_signals.TimingModel: finite TM_WEIGHT=1e40 prior on
                    the normalized basis. Identical inference; differs from
                    'fast' by the constant -1/2 m ln(1e40) per pulsar.
      - 'ridge'   — `tm: ridge_regression`: per-sample variance
                    10^tm_log10_variance on every M column, sampled via the
                    `tm_log10_variance` sample column (reference prior
                    Uniform(-20, -10), enterprise_warp.py:505-508).

    specs: one functions.timingmodel TMSpec for all pulsars, or a dict
    psr -> TMSpec. use_svd: the reference's tm_svd stabilization — M is
    replaced by an orthonormal basis of its column span.
    """

    specs: object
    mode: str = "fast"
    use_svd: bool = False

    def spec_for(self, psr: str):
        return self.specs[psr] if isinstance(self.specs, dict) else self.specs


def _lnlike_one(
    r: np.ndarray,
    ndiag: np.ndarray,
    Fmat: np.ndarray,
    phi: np.ndarray,
    n_inf: int = 0,
) -> float:
    """Woodbury lnL for one (pulsar, sample).

    The leading ``n_inf`` basis columns carry an INFINITE prior — the exact
    timing-model marginalization (`tm: fast`, gp_signals.
    MarginalizingTimingModel): their phi^-1 block is zero in Sigma and they
    contribute no sum-log-phi term. The returned value omits the divergent
    m*ln(v) constant of the v->inf limit, so it differs from the finite-prior
    evaluation of the same basis by exactly -1/2 * n_inf * ln(v) — a
    sample-independent constant (pinned by test)."""
    ninv_r = r / ndiag
    ninv_F = Fmat / ndiag[:, None]
    phi_inv = 1.0 / phi
    if n_inf:
        phi_inv = np.concatenate([np.zeros(n_inf), phi_inv])
    Sigma = np.diag(phi_inv) + Fmat.T @ ninv_F  # phi^-1 + F^T N^-1 F
    try:
        cf = np.linalg.cholesky(Sigma)
    except np.linalg.LinAlgError:
        # near-collinear bases (e.g. chromatic term at constant radio
        # frequency) + large amplitudes make Sigma numerically semi-definite;
        # a relative jitter keeps the estimate finite (rel. error ~1e-12)
        jitter = 1e-12 * float(np.max(np.diag(Sigma)))
        cf = np.linalg.cholesky(Sigma + jitter * np.eye(Sigma.shape[0]))
    x = Fmat.T @ ninv_r
    y = np.linalg.solve(cf, x)
    rCr = float(r @ ninv_r - y @ y)
    logdet = (
        float(np.sum(np.log(ndiag)))
        + float(np.sum(np.log(phi)))
        + 2.0 * float(np.sum(np.log(np.diag(cf))))
    )
    return -0.5 * (rCr + logdet + len(r) * math.log(2.0 * math.pi))


def _lnlike_cached(
    rtn: float,
    x: np.ndarray,
    G: np.ndarray,
    phi: np.ndarray,
    logdet_n: float,
    n: int,
    n_inf: int = 0,
) -> float:
    """Woodbury lnL from PRECOMPUTED sufficient statistics: rtn = r^T N^-1 r,
    x = F^T N^-1 r, G = F^T N^-1 F. Identical math to `_lnlike_one`, but the
    O(n_toa * (2k)^2) Gram work is hoisted out of the per-sample loop — the
    VERDICT r4 perf item: when no white-noise parameter is sampled these
    blocks are sample-invariant, so only the (2k)^3 Cholesky and the cheap
    phi assembly remain per sample."""
    phi_inv = 1.0 / phi
    if n_inf:
        phi_inv = np.concatenate([np.zeros(n_inf), phi_inv])
    Sigma = G + np.diag(phi_inv)
    try:
        cf = np.linalg.cholesky(Sigma)
    except np.linalg.LinAlgError:
        jitter = 1e-12 * float(np.max(np.diag(Sigma)))
        cf = np.linalg.cholesky(Sigma + jitter * np.eye(Sigma.shape[0]))
    y = np.linalg.solve(cf, x)
    rCr = rtn - float(y @ y)
    logdet = (
        logdet_n
        + float(np.sum(np.log(phi)))
        + 2.0 * float(np.sum(np.log(np.diag(cf))))
    )
    return -0.5 * (rCr + logdet + n * math.log(2.0 * math.pi))


def gp_loglik_per_pulsar(
    residuals: DataFrame,
    samples: pd.DataFrame,
    nfreqs: int = 20,
    components: tuple[RedComponent | DetComponent | TMComponent, ...] | None = None,
    sample_blocks: int = 1,
    sample_batch: bool = True,
    psrs: list[str] | None = None,
) -> DataFrame:
    """Score every sample against every pulsar: -> (psr, sample_id, lnl).

    psrs: the pulsars the residuals hold, when the caller knows them. The
    kernel stage then runs min(len(psrs), default parallelism) tasks with
    the pulsars dealt round-robin in sorted order, so an array's kernels
    run in parallel; with one such task the residuals are coalesced into
    it with no shuffle (meant for small driver-built frames such as the
    CLI's). Without psrs the grouping exchange is the session's (adaptive
    execution may pack every pulsar into one task).

    components may mix RedComponent (GP terms), DetComponent (F13
    deterministic terms with sampled coefficients, e.g. BayesEphem) and at
    most one TMComponent (timing-model marginalization — the `tm:` modes);
    with no RedComponent present a default achromatic powerlaw term is
    added. TM jump columns need a `flags` MAP column in residuals; TM dm
    columns need `freq_mhz`.

    residuals: DataFrame with RESIDUAL_COLS (efac/equad may be per-backend
    columns already joined in); an optional `epoch_id` column enables ECORR.
    samples: small pandas DataFrame with columns sample_id, log10_A, gamma,
    and optionally log10_ecorr — serialized into the kernel closure (a few
    KB; the Arrow-heavy TOA data moves only once).

    ECORR (epoch-correlated white noise, enterprise_models.py:155-168) is
    handled as extra GP basis columns: the per-epoch indicator matrix U with
    prior variance 10^(2*log10_ecorr) per epoch — so C gains U diag(ec^2) U^T
    and the same Woodbury path covers it (the standard basis-augmentation
    trick; no dense blocks materialize).
    """
    all_comps = components or (RedComponent(nfreqs=nfreqs),)
    det_comps = tuple(c for c in all_comps if isinstance(c, DetComponent))
    tm_comps = tuple(c for c in all_comps if isinstance(c, TMComponent))
    if len(tm_comps) > 1:
        raise ValueError("at most one TMComponent per model")
    tm_comp = tm_comps[0] if tm_comps else None
    if tm_comp is not None and tm_comp.mode not in ("fast", "default", "ridge"):
        raise ValueError(f"unknown tm mode {tm_comp.mode!r}")
    tm_specs_all = (
        list(tm_comp.specs.values())
        if tm_comp is not None and isinstance(tm_comp.specs, dict)
        else ([tm_comp.specs] if tm_comp is not None else [])
    )
    tm_needs_freq = any(e[0] == "dm" for s in tm_specs_all for e in s)
    tm_needs_flags = any(e[0] == "jump" for s in tm_specs_all for e in s)
    comps = tuple(c for c in all_comps if isinstance(c, RedComponent)) or (
        RedComponent(nfreqs=nfreqs),
    )
    # sampled white noise: global ('efac') or per-backend ('efac_<backend>',
    # the reference's by_backend selection) — overrides the data columns.
    # ECORR follows the same convention: 'log10_ecorr' (one variance for
    # every epoch block) or 'log10_ecorr_<backend>' (per-backend blocks —
    # an epoch observed by two backends splits into two blocks, and a
    # backend with no sampled column contributes NO block, matching the
    # reference's selection-scoped ECORR).
    efac_cols = [c for c in samples.columns if c == "efac" or c.startswith("efac_")]
    equad_cols = [
        c for c in samples.columns if c == "log10_equad" or c.startswith("log10_equad_")
    ]
    ecorr_cols = [
        c for c in samples.columns if c == "log10_ecorr" or c.startswith("log10_ecorr_")
    ]
    has_ecorr = bool(ecorr_cols)
    per_backend_ecorr = {
        c[len("log10_ecorr_"):]: c for c in ecorr_cols if c != "log10_ecorr"
    }
    if (
        per_backend_ecorr
        and "log10_ecorr" not in ecorr_cols
        and "backend" not in residuals.columns
    ):
        # fail at plan time with a clear message, not as an opaque
        # AttributeError inside an executor task
        raise ValueError(
            "per-backend ECORR columns "
            f"{sorted(per_backend_ecorr.values())} need a 'backend' column "
            "in residuals (or a global 'log10_ecorr' fallback column)"
        )
    cols = ["sample_id"]
    for c in comps:
        if c.psd == "free_spectrum":
            cols += [f"{c.prefix()}log10_rho_{k}" for k in range(c.nfreqs)]
        else:
            cols += [f"{c.prefix()}log10_A", f"{c.prefix()}gamma"]
        if c.psd in ("turnover", "broken_powerlaw"):
            cols.append(f"{c.prefix()}log10_fc")
        if c.chrom_idx is None:
            cols.append(f"{c.prefix()}idx")
    cols += ecorr_cols + efac_cols + equad_cols
    cols += [cc for dc in det_comps for cc in dc.coeff_cols]
    if tm_comp is not None and tm_comp.mode == "ridge":
        cols.append("tm_log10_variance")
    samp_all = samples[cols].to_records(index=False)
    needs_freq = (
        any(c.chrom_idx is None or c.chrom_idx != 0.0 for c in comps)
        or tm_needs_freq
    )
    needs_backend = any(
        "_" in c.replace("log10_", "") for c in efac_cols + equad_cols + ecorr_cols
    )
    per_backend_efac = {c[len("efac_"):]: c for c in efac_cols if c != "efac"}
    per_backend_equad = {
        c[len("log10_equad_"):]: c for c in equad_cols if c != "log10_equad"
    }

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        psr = pdf["psr"].iloc[0]
        # sample-block slicing: block b scores samples[b::sample_blocks]
        samp = (
            samp_all[int(pdf["_block"].iloc[0]) :: sample_blocks]
            if sample_blocks > 1
            else samp_all
        )
        # tied TOA times (sub-banded files repeat an MJD per frequency)
        # keep a fixed order whatever order the shuffle delivered them in
        order = np.lexsort(
            [pdf[c].to_numpy() for c in TOA_ORDER[::-1] if c in pdf.columns]
        )
        t = pdf["toa_s"].to_numpy()[order]
        r = pdf["residual_s"].to_numpy()[order]
        sig = pdf["toa_err_s"].to_numpy()[order]
        efac = pdf["efac"].to_numpy()[order]
        equad = pdf["equad"].to_numpy()[order]
        ndiag = efac**2 * (sig**2 + equad**2)  # t2 convention (F11)
        freq_mhz = pdf["freq_mhz"].to_numpy()[order] if needs_freq else None
        backend = (
            pdf["backend"].to_numpy()[order]
            if (needs_backend and "backend" in pdf.columns)
            else None
        )

        M = None
        if tm_comp is not None:
            from enterprise_warp_spark.functions.timingmodel import (
                design_matrix,
                flag_array_from_pandas,
            )

            flag_of = (
                flag_array_from_pandas(pdf["flags"].iloc[order])
                if tm_needs_flags and "flags" in pdf.columns
                else None
            )
            M = design_matrix(
                tm_comp.spec_for(psr),
                t,
                freq_mhz=freq_mhz,
                flag_of=flag_of,
                svd=tm_comp.use_svd,
            )

        tspan = float(t.max() - t.min())
        bases, freqs2, dfs2, active = [], [], [], []
        for c in comps:
            if c.sel_col is not None:
                sel = np.isin(pdf[c.sel_col].to_numpy()[order], list(c.sel_values))
                if sel.sum() < 4:
                    continue  # selection absent in this pulsar: term drops out
                t_sel = t[sel]
                span = float(t_sel.max() - t_sel.min())
            else:
                sel, span = None, tspan
            f = np.arange(1, c.nfreqs + 1) / span
            arg = 2.0 * math.pi * np.outer(t, f)
            Fc = np.empty((len(t), 2 * c.nfreqs))
            Fc[:, 0::2] = np.sin(arg)
            Fc[:, 1::2] = np.cos(arg)
            if c.chrom_idx is not None and c.chrom_idx != 0.0:
                # F5/F6 — chromatic weight multiplies the basis rows
                Fc *= ((c.fref_mhz / freq_mhz) ** c.chrom_idx)[:, None]
            if sel is not None:
                Fc[~sel, :] = 0.0  # P1 — term only acts on selected TOAs
            active.append(c)
            bases.append(Fc)
            freqs2.append(np.repeat(f, 2))
            dfs2.append(np.full(2 * c.nfreqs, 1.0 / span))

        det_bases = [
            np.column_stack([pdf[b].to_numpy()[order] for b in dc.basis_cols])
            for dc in det_comps
        ]

        U = None
        block_cols = None  # per-U-column sample-column name (per-backend)
        if has_ecorr and "epoch_id" in pdf.columns:
            epochs = pdf["epoch_id"].to_numpy()[order]
            e_uniq, e_inv = np.unique(epochs, return_inverse=True)
            if per_backend_ecorr and backend is not None:
                # PARTITION semantics (the reference's by_backend selection
                # splits the TOAs; terms never stack): a backend with a
                # sampled column gets its own (epoch, backend) blocks; the
                # remaining TOAs of each epoch form ONE whole-epoch block
                # under the global 'log10_ecorr' column when present, and
                # no block otherwise.
                b_uniq, b_inv = np.unique(backend, return_inverse=True)
                nb = len(b_uniq)
                b_col = [per_backend_ecorr.get(b) for b in b_uniq]
                listed = np.array([c is not None for c in b_col])
                has_global = "log10_ecorr" in ecorr_cols
                slot = np.where(listed[b_inv], b_inv, nb)
                code = e_inv * (nb + 1) + slot
                c_uniq, c_inv = np.unique(code, return_inverse=True)
                col_of = [
                    b_col[int(c % (nb + 1))]
                    if int(c % (nb + 1)) < nb
                    else ("log10_ecorr" if has_global else None)
                    for c in c_uniq
                ]
                keep_mask = np.array([c is not None for c in col_of])
                if keep_mask.any():
                    lut = np.full(len(c_uniq), -1)
                    lut[keep_mask] = np.arange(int(keep_mask.sum()))
                    mcol = lut[c_inv]
                    U = np.zeros((len(t), int(keep_mask.sum())))
                    rows = np.nonzero(mcol >= 0)[0]
                    U[rows, mcol[rows]] = 1.0
                    block_cols = [c for c in col_of if c is not None]
            else:
                U = np.zeros((len(t), len(e_uniq)))
                U[np.arange(len(t)), e_inv] = 1.0
        sampled_idx = [c.chrom_idx is None for c in active]
        ratios = [
            (c.fref_mhz / freq_mhz) if c.chrom_idx is None else None for c in active
        ]
        static_basis = not any(sampled_idx)
        head = [M] if M is not None else []
        basis = (
            np.hstack(head + bases + ([U] if U is not None else []))
            if static_basis
            else None
        )
        # tm marginalization: 'fast' -> M columns lead with infinite prior;
        # 'default' -> finite TM_WEIGHT phi entries; 'ridge' -> per-sample
        n_inf = (
            M.shape[1] if (M is not None and tm_comp.mode == "fast") else 0
        )
        tm_phi_static = (
            np.full(M.shape[1], TM_WEIGHT)
            if (M is not None and tm_comp.mode == "default")
            else None
        )

        # Fast path (VERDICT r4 #1): with a static basis and UNSAMPLED white
        # noise, N is sample-invariant, so the O(n_toa * dim^2) Gram blocks
        # F^T N^-1 F / F^T N^-1 r / r^T N^-1 r are computed ONCE per Arrow
        # batch; only phi assembly + the dim^3 Cholesky remain per sample.
        # Deterministic components shift r per sample; their cross blocks
        # (B^T N^-1 B, B^T N^-1 r, F^T N^-1 B) are also sample-invariant, so
        # the shifted statistics are exact low-rank updates.
        fast = static_basis and not efac_cols and not equad_cols
        if fast and np.all(ndiag > 0):
            ninv = 1.0 / ndiag
            ninv_F = basis * ninv[:, None]
            G0 = basis.T @ ninv_F
            x0 = ninv_F.T @ r
            rtn0 = float(r @ (r * ninv))
            logdet_n0 = float(np.sum(np.log(ndiag)))
            if det_bases:
                Bd_all = np.hstack(det_bases)
                q0 = Bd_all.T @ (r * ninv)  # B^T N^-1 r
                P0 = Bd_all.T @ (Bd_all * ninv[:, None])  # B^T N^-1 B
                W0 = ninv_F.T @ Bd_all  # F^T N^-1 B
        elif fast:
            # singular data-supplied white noise: every sample is -inf
            return pd.DataFrame(
                {
                    "psr": psr,
                    "sample_id": [int(s[0]) for s in samp],
                    "lnl": np.full(len(samp), -np.inf),
                }
            )

        # Vectorized sample axis (VERDICT r4 "stack phi construction across
        # samples"): with the fast path active and every GP term powerlaw,
        # phi assembly is pure column arithmetic over the sample record
        # array and the Woodbury solves batch through numpy's stacked
        # cholesky/solve — no per-sample Python. Falls back to the scalar
        # loop for free-spectrum/turnover/broken PSDs (rare in the hot
        # inference path) or when sample_batch=False (parity tests).
        if fast and sample_batch and all(c.psd == "powerlaw" for c in active):
            S = len(samp)
            parts = []
            if tm_phi_static is not None:
                parts.append(np.broadcast_to(tm_phi_static, (S, M.shape[1])))
            elif M is not None and tm_comp.mode == "ridge":
                tv = 10.0 ** np.asarray(samp["tm_log10_variance"], dtype=np.float64)
                parts.append(np.repeat(tv[:, None], M.shape[1], axis=1))
            for c, f2v, d2v in zip(active, freqs2, dfs2):
                p = c.prefix()
                lga = np.asarray(samp[f"{p}log10_A"], dtype=np.float64)
                gam = np.asarray(samp[f"{p}gamma"], dtype=np.float64)
                a2 = 10.0 ** (2.0 * lga)
                # same op sequence as powerlaw_phi so values are identical
                t1 = a2 / (12.0 * math.pi**2) * FYR ** (-3.0)
                parts.append(
                    t1[:, None] * (f2v[None, :] / FYR) ** (-gam[:, None]) * d2v[None, :]
                )
            if U is not None:
                if block_cols is not None:
                    cols = {
                        c: (10.0 ** np.asarray(samp[c], dtype=np.float64)) ** 2
                        for c in set(block_cols)
                    }
                    parts.append(np.stack([cols[c] for c in block_cols], axis=1))
                else:
                    ec2 = (
                        10.0 ** np.asarray(samp["log10_ecorr"], dtype=np.float64)
                    ) ** 2
                    parts.append(np.repeat(ec2[:, None], U.shape[1], axis=1))
            PHI = np.concatenate(parts, axis=1)
            dim = G0.shape[0]
            phi_inv = 1.0 / PHI
            if n_inf:
                phi_inv = np.concatenate([np.zeros((S, n_inf)), phi_inv], axis=1)
            if det_comps:
                C = np.column_stack(
                    [
                        np.asarray(samp[cc], dtype=np.float64)
                        for dc in det_comps
                        for cc in dc.coeff_cols
                    ]
                )
                rtn_s = rtn0 - 2.0 * (C @ q0) + np.einsum(
                    "sd,de,se->s", C, P0, C, optimize=True
                )
                X = x0[None, :] - C @ W0.T
            else:
                rtn_s = np.full(S, rtn0)
                X = np.broadcast_to(x0, (S, dim))
            out = np.empty(S)
            idx = np.arange(dim)
            # chunk the (chunk, dim, dim) Sigma stack to ~32 MB
            chunk = max(1, int(4_000_000 // max(1, dim * dim)))
            for lo in range(0, S, chunk):
                sl = slice(lo, min(lo + chunk, S))
                ns = sl.stop - sl.start
                Sig = np.broadcast_to(G0, (ns, dim, dim)).copy()
                Sig[:, idx, idx] += phi_inv[sl]
                try:
                    cf = np.linalg.cholesky(Sig)
                except np.linalg.LinAlgError:
                    # rare near-singular samples: exact legacy per-sample
                    # path (with its relative-jitter retry) for this chunk
                    for i in range(sl.start, sl.stop):
                        out[i] = _lnlike_cached(
                            float(rtn_s[i]), X[i], G0, PHI[i], logdet_n0,
                            len(t), n_inf=n_inf,
                        )
                    continue
                y = np.linalg.solve(cf, X[sl][..., None])[..., 0]
                rCr = rtn_s[sl] - np.einsum("si,si->s", y, y)
                logdet = (
                    logdet_n0
                    + np.sum(np.log(PHI[sl]), axis=1)
                    + 2.0
                    * np.sum(np.log(np.diagonal(cf, axis1=1, axis2=2)), axis=1)
                )
                out[sl] = -0.5 * (
                    rCr + logdet + len(t) * math.log(2.0 * math.pi)
                )
            return pd.DataFrame(
                {
                    "psr": psr,
                    "sample_id": [int(s[0]) for s in samp],
                    "lnl": out,
                }
            )

        # one definition of per-sample phi assembly, shared by the scalar
        # fast path and the legacy path (the vectorized PHI builder above
        # mirrors it column-wise; batch==scalar parity is test-pinned)
        def _phi_for(rec) -> np.ndarray:
            phis = [c.phi(f2, d2, rec) for c, f2, d2 in zip(active, freqs2, dfs2)]
            if U is not None:
                if block_cols is not None:
                    vals = {
                        c: (10.0 ** float(getattr(rec, c))) ** 2
                        for c in set(block_cols)
                    }
                    phis.append(np.array([vals[c] for c in block_cols]))
                else:
                    ec2 = (10.0 ** float(rec.log10_ecorr)) ** 2
                    phis.append(np.full(U.shape[1], ec2))
            if tm_phi_static is not None:
                phis.insert(0, tm_phi_static)
            elif M is not None and tm_comp.mode == "ridge":
                phis.insert(
                    0,
                    np.full(M.shape[1], 10.0 ** float(rec.tm_log10_variance)),
                )
            return np.concatenate(phis)

        out = np.empty(len(samp))
        for i, rec in enumerate(samp):
            if fast:
                if det_comps:
                    cvec = np.concatenate(
                        [
                            np.array(
                                [float(getattr(rec, cc)) for cc in dc.coeff_cols]
                            )
                            for dc in det_comps
                        ]
                    )
                    rtn = rtn0 - 2.0 * float(cvec @ q0) + float(cvec @ (P0 @ cvec))
                    x = x0 - W0 @ cvec
                else:
                    rtn, x = rtn0, x0
                out[i] = _lnlike_cached(
                    rtn, x, G0, _phi_for(rec), logdet_n0, len(t), n_inf=n_inf
                )
                continue
            if efac_cols or equad_cols:
                if per_backend_efac and backend is not None:
                    ef = np.ones(len(t))
                    for b, col in per_backend_efac.items():
                        ef[backend == b] = float(getattr(rec, col))
                elif "efac" in efac_cols:
                    ef = float(rec.efac)
                else:
                    ef = efac
                if per_backend_equad and backend is not None:
                    eq = np.zeros(len(t))
                    for b, col in per_backend_equad.items():
                        eq[backend == b] = 10.0 ** float(getattr(rec, col))
                elif "log10_equad" in equad_cols:
                    eq = 10.0 ** float(rec.log10_equad)
                else:
                    eq = equad
                nd = ef**2 * (sig**2 + eq**2)
            else:
                nd = ndiag
            if not np.all(np.asarray(nd) > 0):
                # singular white noise (e.g. efac=0 at the prior edge):
                # zero likelihood, not NaN
                out[i] = -np.inf
                continue
            r_s = r
            for dc, Bd in zip(det_comps, det_bases):
                cvec = np.array([float(getattr(rec, cc)) for cc in dc.coeff_cols])
                r_s = r_s - Bd @ cvec
            if static_basis:
                b = basis
            else:
                # F6 with SAMPLED chromatic index: rebuild the weighted
                # bases for this sample (base Fourier matrices are reused)
                parts = [M] if M is not None else []
                for c, Fc, rat in zip(active, bases, ratios):
                    if rat is None:
                        parts.append(Fc)
                    else:
                        idx = float(getattr(rec, f"{c.prefix()}idx"))
                        parts.append(Fc * (rat**idx)[:, None])
                if U is not None:
                    parts.append(U)
                b = np.hstack(parts)
            out[i] = _lnlike_one(r_s, nd, b, _phi_for(rec), n_inf=n_inf)
        return pd.DataFrame(
            {
                "psr": psr,
                "sample_id": [int(s[0]) for s in samp],
                "lnl": out,
            }
        )

    if sample_blocks > 1:
        # when n_pulsars << cores: replicate each pulsar's rows per sample
        # block so parallelism = n_pulsars * sample_blocks; each block scores
        # a strided slice of the samples. Data duplication x blocks buys
        # proportional parallelism — choose blocks ~ cores / n_pulsars.
        blocks = residuals.sparkSession.range(sample_blocks).withColumnRenamed(
            "id", "_block"
        )
        return (
            residuals.crossJoin(F.broadcast(blocks))
            .groupBy("psr", "_block")
            .applyInPandas(kernel, "psr string, sample_id long, lnl double")
        )
    if psrs:
        return _by_pulsar_slot(residuals, sorted(set(psrs))).applyInPandas(
            kernel, "psr string, sample_id long, lnl double"
        )
    return residuals.groupBy("psr").applyInPandas(
        kernel, "psr string, sample_id long, lnl double"
    )


def _by_pulsar_slot(residuals: DataFrame, psrs: list[str]):
    """Group by pulsar with pulsar j in partition j mod k,
    k = min(len(psrs), default parallelism). One partition needs no
    shuffle. Otherwise an explicit partition count, which adaptive
    execution never coalesces, on an int key whose Spark hash lands in
    the wanted partition; grouping by (key, psr) reuses that partitioning."""
    k = min(len(psrs), residuals.sparkSession.sparkContext.defaultParallelism)
    if k == 1:
        return residuals.coalesce(1).groupBy("psr")
    keys = _partition_keys(k)
    slot = F.create_map(*[
        x for j, p in enumerate(psrs) for x in (F.lit(p), F.lit(keys[j % k]))
    ])
    return (
        residuals.withColumn("_slot", slot[F.col("psr")])
        .repartition(k, "_slot")
        .groupBy("_slot", "psr")
    )


@functools.lru_cache(maxsize=64)
def _partition_keys(k: int) -> tuple[int, ...]:
    """keys[j]: the smallest int that `repartition(k, <int column>)` sends
    to partition j — Spark partitions by pmod(murmur3_x86_32(v, 42), k)."""
    keys: dict[int, int] = {}
    v = 0
    while len(keys) < k:
        keys.setdefault(_murmur3_int(v) % k, v)
        v += 1
    return tuple(keys[j] for j in range(k))


def _murmur3_int(v: int, seed: int = 42) -> int:
    """Spark's Murmur3_x86_32.hashInt as a signed 32-bit int."""
    m = 0xFFFFFFFF

    def rotl(x: int, r: int) -> int:
        return ((x << r) | (x >> (32 - r))) & m

    k1 = rotl((v & m) * 0xCC9E2D51 & m, 15) * 0x1B873593 & m
    h1 = (rotl(seed ^ k1, 13) * 5 + 0xE6546B64) & m
    h1 ^= 4
    h1 = ((h1 ^ (h1 >> 16)) * 0x85EBCA6B) & m
    h1 = ((h1 ^ (h1 >> 13)) * 0xC2B2AE35) & m
    h1 ^= h1 >> 16
    return h1 - (1 << 32) if h1 >= 1 << 31 else h1


def sum_over_pulsars(per_pulsar: pd.DataFrame) -> pd.DataFrame:
    """A13 on the driver: collected (psr, sample_id, lnl) rows ->
    (sample_id, lnl) in sample_id order, each draw's pulsar scores summed
    in psr order with math.fsum — the total does not depend on the order
    the rows arrived in."""
    rows = per_pulsar.sort_values(["sample_id", "psr"], kind="mergesort")
    ids, starts = np.unique(rows["sample_id"].to_numpy(), return_index=True)
    lnl = rows["lnl"].to_numpy(dtype=np.float64)
    ends = [*starts[1:], len(lnl)]
    return pd.DataFrame({
        "sample_id": ids.astype(np.int64),
        "lnl": [math.fsum(lnl[a:b]) for a, b in zip(starts, ends)],
    })


def gp_loglik_reduced(
    reduced: DataFrame,
    samples: pd.DataFrame,
    tspan_s: float,
) -> DataFrame:
    """F10 fast path from the TWO-PHASE reduction: score samples against the
    per-pulsar sufficient statistics (u = F^T N^-1 r, S = F^T N^-1 F,
    r^T N^-1 r, logdet N) produced by
    `analytics.optimal_statistic.per_pulsar_reduction` — the chunk-parallel
    pass over the TOAs (VERDICT: the same one-task-per-pulsar fix as the OS).

    Valid when the white noise is FIXED in the data (N independent of the
    sample) and the basis is static — then the Woodbury likelihood

        lnL = -1/2 [ rtn - u^T (phi^-1 + S)^-1 u
                     + logdet N + sum log phi + logdet(phi^-1 + S)
                     + n ln 2pi ]

    needs only the (2k)-sized reduction per pulsar: TOA volume and sample
    count scale independently, and the heavy pass is chunk-parallel. Exact
    match to gp_loglik_per_pulsar is pinned by a parity test.

    samples: pandas (sample_id, log10_A, gamma) — achromatic powerlaw
    (common-spectrum / CURN shape; the reference's gwb 'no-ORF' signals).
    -> (psr, sample_id, lnl)
    """
    recs = samples[["sample_id", "log10_A", "gamma"]].to_numpy()
    df_val = 1.0 / tspan_s

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        out = []
        for row in pdf.itertuples(index=False):
            u = np.asarray(row.u)
            twok = len(u)
            S = np.asarray(row.s).reshape(twok, twok)
            f2 = np.asarray(row.f)
            for rec in recs:
                phi = powerlaw_phi(f2, np.full(twok, df_val), float(rec[1]), float(rec[2]))
                Sigma = np.diag(1.0 / phi) + S
                try:
                    cf = np.linalg.cholesky(Sigma)
                except np.linalg.LinAlgError:
                    jitter = 1e-12 * float(np.max(np.diag(Sigma)))
                    cf = np.linalg.cholesky(Sigma + jitter * np.eye(twok))
                y = np.linalg.solve(cf, u)
                lnl = -0.5 * (
                    float(row.rtn_r)
                    - float(y @ y)
                    + float(row.logdet_n)
                    + float(np.sum(np.log(phi)))
                    + 2.0 * float(np.sum(np.log(np.diag(cf))))
                    + int(row.n_toa) * math.log(2.0 * math.pi)
                )
                out.append((row.psr, int(rec[0]), lnl))
        return pd.DataFrame(out, columns=["psr", "sample_id", "lnl"])

    return reduced.groupBy("psr").applyInPandas(
        kernel, "psr string, sample_id long, lnl double"
    )


def total_loglik(per_pulsar: DataFrame) -> DataFrame:
    """A13 — the PTA likelihood factorizes over pulsars given common params
    (signal_base.PTA at enterprise_warp.py:542): sum lnL per sample, as a
    Spark aggregate (its sum order follows the shuffle; `sum_over_pulsars`
    is the driver-side sum the inference paths use)."""
    return per_pulsar.groupBy("sample_id").agg(F.sum("lnl").alias("lnl"))


def dense_lnlike_reference(
    r: np.ndarray, ndiag: np.ndarray, Fmat: np.ndarray, phi: np.ndarray
) -> float:
    """O(n^3) direct evaluation (C built densely) — test oracle for the
    Woodbury kernel; never used in production plans."""
    C = np.diag(ndiag) + Fmat @ np.diag(phi) @ Fmat.T
    sign, logdet = np.linalg.slogdet(C)
    assert sign > 0
    return -0.5 * (
        float(r @ np.linalg.solve(C, r)) + logdet + len(r) * math.log(2.0 * math.pi)
    )


def dense_lnlike_tm_marginalized(
    r: np.ndarray,
    ndiag: np.ndarray,
    M: np.ndarray,
    Fmat: np.ndarray,
    phi: np.ndarray,
) -> float:
    """Dense test oracle for `tm: fast`: the explicit M-projection of the
    v->infinity limit of C + v M M^T,

        lnL = -1/2 [ r^T C^-1 r - x^T (M^T C^-1 M)^-1 x
                     + logdet C + logdet(M^T C^-1 M) + n ln 2pi ],
        x = M^T C^-1 r,   C = N + F phi F^T

    (the divergent m ln v constant dropped, matching _lnlike_one's n_inf
    convention). Never used in production plans."""
    C = np.diag(ndiag) + Fmat @ np.diag(phi) @ Fmat.T
    sign, logdet_c = np.linalg.slogdet(C)
    assert sign > 0
    Cinv_r = np.linalg.solve(C, r)
    Cinv_M = np.linalg.solve(C, M)
    MCM = M.T @ Cinv_M
    x = M.T @ Cinv_r
    sign_m, logdet_m = np.linalg.slogdet(MCM)
    assert sign_m > 0
    return -0.5 * (
        float(r @ Cinv_r)
        - float(x @ np.linalg.solve(MCM, x))
        + logdet_c
        + logdet_m
        + len(r) * math.log(2.0 * math.pi)
    )
