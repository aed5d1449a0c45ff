"""CLI front-end for the §3.1 inference lifecycle — the reference's
`run_example_paramfile.py` entry point.

Reference: `examples/run_example_paramfile.py:16-54` drives a full run from
nothing but a parameter file; its options come from EWParser
(`enterprise_warp.py:30-56`): ``--prfile`` (the .dat file), ``--num``
(pulsar index in the data directory), ``--drop`` (leave pulsar ``num`` out
of a full-array run), plus cache/output hygiene flags. Outputs land in

    out/<label_models>_<paramfile_label>/<num>_<psr>/
        chain_1.txt   pars.txt        (enterprise_warp.py:403-415,553-555)

which is exactly the layout `results.py` (our `results` CLI) re-discovers.

Spark shape: a thin argparse wrapper over `plans.parse_paramfile` +
`likelihood.inference` — the paramfile/model compile happens once on the
driver (KB-scale config), prior-sample scoring runs distributed through the
`applyInPandas` GP kernel, and the posterior chain is produced by
importance resampling (SIR) of the scored prior draws. The one Python task
per pulsar is the GP kernel: every `.tim` is read in one scan, the
residual frame is an Arrow-built local relation, and the prior draws and
the sum over pulsars are driver-side numpy (docs/paramfile.md, "Spark
shape").

Standalone-residual mode: this container has no tempo2, so the phase-
connected residuals the reference gets from libstempo are not computable
here (the K8 tempo2 source is feature-flagged, `sources/tempo2.py`).
Instead the CLI builds residuals from the REAL observing setup — the .tim
cadence, per-TOA uncertainties, backend flags and the .par design matrix —
with noise injected per the configured noise files (F14, in numpy inside
`build_standalone_residuals`), the same convention the golden-parity test
pins (tests/test_end_to_end.py::test_golden_noise_file_parity_j1832). Every
step downstream of residual construction is identical to a production run.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import zlib

import numpy as np
import pandas as pd

from enterprise_warp_spark.likelihood.sampling import effective_sample_size
from enterprise_warp_spark.plans import Params, parse_paramfile

DAY_S = 86400.0


def parse_commandline(argv=None):
    """EWParser mirror (enterprise_warp.py:30-56)."""
    ap = argparse.ArgumentParser(
        prog="enterprise_warp_spark.run_paramfile",
        description="Run a paramfile-configured inference (reference: "
        "examples/run_example_paramfile.py)",
    )
    ap.add_argument("-n", "--num", type=int, default=0, help="Pulsar number")
    ap.add_argument("-p", "--prfile", type=str, required=True, help="Parameter file")
    ap.add_argument(
        "-d", "--drop", type=int, default=0,
        help="Drop pulsar with index --num in a full-PTA run (0/1)",
    )
    ap.add_argument(
        "-c", "--clearcache", type=int, default=0,
        help="Clear psrs cache (accepted for parity; this engine rebuilds "
        "from .par/.tim each run and keeps no pickle cache)",
    )
    ap.add_argument(
        "-w", "--wipe_old_output", type=int, default=0,
        help="Wipe contents of the output directory before the run",
    )
    ap.add_argument(
        "-x", "--extra_model_terms", type=str, default=None,
        help="Extra noise terms merged into the noise model, as JSON "
        '(e.g. \'{"J0437-4715": {"system_noise": "CPSR2_20CM"}}\'). The '
        "reference evals a Python dict literal (enterprise_warp.py:154); "
        "this engine deliberately accepts JSON only.",
    )
    return ap.parse_args(argv)


# ---------------------------------------------------------------- layout

def model_labels(params: Params, base_dir: str) -> list[str]:
    """Per-model names: the noise-model JSON's `model_name` when present,
    else the reference's ModelParams default 'Untitled'
    (enterprise_warp.py:94-96)."""
    names = []
    for m in params.models:
        name = "Untitled"
        nmf = m.values.get("noise_model_file")
        if nmf:
            try:
                with open(_resolve(nmf, base_dir)) as fh:
                    name = json.load(fh).get("model_name", name)
            except OSError:
                pass
        names.append(name)
    return names


def output_base_dir(params: Params, prfile: str) -> str:
    """out/<label_models>_<paramfile_label>/ (enterprise_warp.py:403-405)."""
    base = anchor_dir(params, prfile)
    out = _resolve(params.values.get("out", "out/"), base)
    label_models = "_".join(model_labels(params, base))
    return os.path.join(out, f"{label_models}_{params.paramfile_label}")


def _resolve(path: str, base_dir: str) -> str:
    return path if os.path.isabs(path) else os.path.join(base_dir, path)


def anchor_dir(params: Params, prfile: str) -> str:
    """Directory all relative paramfile paths resolve against. The
    reference resolves against the CWD the run script is launched from
    (examples/); to let the documented commands work from anywhere we probe
    CWD, the prfile's dir, then its parent — the first from which
    `datadir` exists wins (the examples tree keeps data/ as a SIBLING of
    example_params/)."""
    datadir = str(params.values.get("datadir", "data/"))
    base = os.path.dirname(os.path.abspath(prfile))
    if os.path.isabs(datadir):
        return base
    for cand in (os.getcwd(), base, os.path.dirname(base)):
        if os.path.isdir(os.path.join(cand, datadir)):
            return cand
    return base


def paired_data_files(datadir: str) -> list[tuple[str, str, str]]:
    """J1 — sorted (psr, par, tim) pairs from a data directory (the
    reference sorts the directory listing and indexes with --num,
    enterprise_warp.py:330-340)."""
    pairs = []
    for par in sorted(glob.glob(os.path.join(datadir, "*.par"))):
        stem = par[:-4]
        tim = stem + ".tim"
        if os.path.exists(tim):
            pairs.append((os.path.basename(stem), par, tim))
    if not pairs:
        raise FileNotFoundError(f"no .par/.tim pairs under {datadir}")
    return pairs


# ------------------------------------------------- standalone residuals

def _par_value(par_path: str, name: str, default: float) -> float:
    with open(par_path) as fh:
        for line in fh:
            parts = line.split()
            if len(parts) >= 2 and parts[0] == name:
                try:
                    return float(parts[1])
                except ValueError:
                    return default
    return default


def _hms_dms_to_unit(raj: str, decj: str) -> list[float]:
    """RAJ 'hh:mm:ss.s' + DECJ '[-]dd:mm:ss.s' -> equatorial unit vector."""
    h, m, s = (float(x) for x in raj.split(":"))
    ra = 2.0 * np.pi * (h + m / 60.0 + s / 3600.0) / 24.0
    dparts = decj.split(":")
    sign = -1.0 if dparts[0].lstrip().startswith("-") else 1.0
    d = abs(float(dparts[0]))
    dm = float(dparts[1]) if len(dparts) > 1 else 0.0
    ds = float(dparts[2]) if len(dparts) > 2 else 0.0
    dec = sign * np.deg2rad(d + dm / 60.0 + ds / 3600.0)
    return [
        float(np.cos(dec) * np.cos(ra)),
        float(np.cos(dec) * np.sin(ra)),
        float(np.sin(dec)),
    ]


def psr_position(par_path: str) -> list[float]:
    """Sky unit vector from the .par RAJ/DECJ — what run_os_pipeline's
    `positions` table needs (the reference reads it off enterprise Pulsar
    objects built by libstempo)."""
    raj = decj = None
    with open(par_path) as fh:
        for line in fh:
            parts = line.split()
            if len(parts) >= 2 and parts[0] == "RAJ":
                raj = parts[1]
            elif len(parts) >= 2 and parts[0] == "DECJ":
                decj = parts[1]
    if raj is None or decj is None:
        raise ValueError(f"{par_path}: no RAJ/DECJ")
    return _hms_dms_to_unit(raj, decj)


RESIDUAL_SCHEMA = (
    "psr string, toa_s double, residual_s double, toa_err_s double, "
    "efac double, equad double, freq_mhz double, toa_idx long, "
    "backend string, flags map<string,string>"
)


def build_standalone_residuals(
    spark, psr: str, par_path: str, tim_path: str, noise: dict | None = None,
    nfreqs: int = 8, seed: int | None = None, mjd0: float | None = None,
):
    """-> (residuals DF, TMSpec, backends). Real observing setup (cadence,
    uncertainties, backends, flags, TM spec) + noise injected per the noise
    dict (white always; powerlaw red/DM when the dict carries them).

    Scale shape: per-pulsar TOA tables are the reference's own in-memory
    unit (libstempo materializes each pulsar fully); the numpy injection
    here is per-pulsar-bounded driver work at CLI-config scale. The frame
    is one pandas table handed to Arrow, so Spark holds it as a local
    relation (`LocalTableScan`) and reads it without a Python task. Array
    callers (`run_from_paramfile`, the OS CLI) build every pulsar's frame
    into one such relation with `build_array_residuals`.
    """
    from enterprise_warp_spark.sources.tim import read_tim_tables

    toas = read_tim_tables(spark, [tim_path])[os.path.basename(tim_path)]
    pdf, spec, backends = _standalone_frame(
        psr, par_path, toas, noise, nfreqs, seed, mjd0
    )
    return spark.createDataFrame(pdf, RESIDUAL_SCHEMA), spec, backends


def build_array_residuals(spark, selected, noise_docs=None, mjd0=None):
    """Standalone residuals of several pulsars from one `.tim` scan.
    selected: (psr, par, tim) triples; noise_docs: {psr: noise dict}.
    -> (residuals pandas, residuals DF over one Arrow local relation,
    {psr: TMSpec}, sorted backends)."""
    from enterprise_warp_spark.sources.tim import read_tim_tables

    noise_docs = noise_docs or {}
    toas = read_tim_tables(spark, [tim for _, _, tim in selected])
    frames, specs, backends = [], {}, set()
    for psr, par, tim in selected:
        pdf, specs[psr], bks = _standalone_frame(
            psr, par, toas[os.path.basename(tim)],
            noise_docs.get(psr), mjd0=mjd0,
        )
        frames.append(pdf)
        backends.update(bks)
    pdf = pd.concat(frames, ignore_index=True)
    return (pdf, spark.createDataFrame(pdf, RESIDUAL_SCHEMA), specs,
            sorted(backends))


def _standalone_frame(psr, par_path, toas, noise=None, nfreqs=8, seed=None,
                      mjd0=None):
    """One pulsar's residual rows (pandas, RESIDUAL_SCHEMA) from its
    collected TOA table -> (frame, TMSpec, sorted backends)."""
    from enterprise_warp_spark.functions.timingmodel import tm_spec_from_par_file
    from enterprise_warp_spark.likelihood.gp import powerlaw_phi

    noise = noise or {}
    seed = zlib.crc32(psr.encode()) if seed is None else seed
    # mjd0 overrides the time origin — array-level callers (the OS CLI)
    # must put EVERY pulsar on one origin or the shared GW Fourier basis
    # phases misalign across pulsars (the TM projector subspace is
    # epoch-invariant, so the override is otherwise free)
    pepoch = mjd0 if mjd0 is not None else _par_value(par_path, "PEPOCH", 0.0)
    if pepoch == 0.0:
        pepoch = float(np.floor(toas["toa_mjd"].astype(float).mean()))
    spec = tm_spec_from_par_file(par_path, mjd0=pepoch)
    t = (toas["toa_mjd"].astype(float) - pepoch).to_numpy() * DAY_S
    freq = toas["freq_mhz"].to_numpy(dtype=np.float64)
    sig = toas["toa_err_us"].to_numpy(dtype=np.float64) * 1e-6
    flag_dicts = [dict(m) if m else {} for m in toas["flags"]]
    backend = np.array(
        [m.get("group") or m.get("f") or obs or "default"
         for m, obs in zip(flag_dicts, toas["obs"])]
    )

    rng = np.random.default_rng(seed)
    efac = np.array([noise.get(f"{psr}_{b}_efac", 1.0) for b in backend])
    equad = np.array(
        [10.0 ** noise.get(f"{psr}_{b}_log10_equad", -20.0) for b in backend]
    )
    r = rng.normal(0.0, efac * np.sqrt(sig**2 + equad**2))
    T = float(t.max() - t.min()) or 1.0
    f = np.arange(1, nfreqs + 1) / T
    df2 = np.full(2 * nfreqs, 1.0 / T)
    arg = 2.0 * np.pi * np.outer(t, f)
    Fm = np.empty((len(t), 2 * nfreqs))
    Fm[:, 0::2] = np.sin(arg)
    Fm[:, 1::2] = np.cos(arg)
    for key, scale in (("red_noise", np.ones(len(t))),
                       ("dm_gp", (1400.0 / freq) ** 2.0)):
        lga = noise.get(f"{psr}_{key}_log10_A")
        gam = noise.get(f"{psr}_{key}_gamma")
        if lga is not None and gam is not None:
            phi = powerlaw_phi(np.repeat(f, 2), df2, lga, gam)
            r = r + (Fm @ rng.normal(0.0, np.sqrt(phi))) * scale

    pdf = pd.DataFrame({
        "psr": psr, "toa_s": t, "residual_s": r, "toa_err_s": sig,
        "efac": 1.0, "equad": 0.0, "freq_mhz": freq,
        "toa_idx": toas["toa_idx"].to_numpy(dtype=np.int64),
        "backend": backend, "flags": flag_dicts,
    })
    return pdf, spec, sorted(set(backend))


# ------------------------------------------------------------ run logic

# kernel-name -> reference enterprise-par-name mapping (F16 post-transform
# naming): the reference's chains/noise files key white noise as
# <PSR>_<BACKEND>_efac and red/DM GPs as <PSR>_red_noise_* / <PSR>_dm_gp_*
# (see examples/example_noisefiles/J1832-0836_noise.json), while the kernel
# samples efac_<BACKEND> / spin_noise_* / dm_noise_*.
_KERNEL_TO_REF = {"spin_noise": "red_noise", "dm_noise": "dm_gp"}


def reference_par_name(psr: str, kernel_name: str) -> str:
    """Map a kernel parameter name to the reference chain/noise-file
    convention for a single-pulsar run (nmodel passes through)."""
    if kernel_name == "nmodel":
        return kernel_name
    for mark in ("efac", "log10_equad", "log10_ecorr"):
        if kernel_name.startswith(mark + "_"):
            return f"{psr}_{kernel_name[len(mark) + 1:]}_{mark}"
    for kern, ref in _KERNEL_TO_REF.items():
        if kernel_name.startswith(kern + "_"):
            return f"{psr}_{ref}_{kernel_name[len(kern) + 1:]}"
    return f"{psr}_{kernel_name}"

def _sir_resample(samples_pd, lnl_col: str, n_out: int, seed: int):
    """Importance (SIR) resample weighted draws -> unweighted posterior
    rows -> (chain, ESS of the weights). lnl_col is the LOG-WEIGHT: 'lnl'
    for prior draws (proposal = prior), 'logw' for importance_posterior
    tables. Non-finite weights (out-of-support defensive draws) are dropped
    before resampling."""
    lnl = samples_pd[lnl_col].to_numpy(dtype=np.float64)
    finite = np.isfinite(lnl) & (lnl > -1e29)
    if not finite.any():
        raise ValueError(
            f"SIR resample: none of the {len(lnl)} scored draws has a "
            f"finite {lnl_col!r} weight"
        )
    samples_pd = samples_pd[finite].reset_index(drop=True)
    lnl = lnl[finite]
    w = np.exp(lnl - lnl.max())
    w = w / w.sum()
    rng = np.random.default_rng(seed)
    idx = rng.choice(len(samples_pd), size=n_out, replace=True, p=w)
    return samples_pd.iloc[idx].reset_index(drop=True), effective_sample_size(w)


def write_chain_dir(samples_pd, par_names: list[str], out_dir: str) -> None:
    """K1/K3-shaped run-dir artifacts: chain_1.txt = par columns + the four
    PTMCMC trailing columns (lnpost, lnlike, accept, pt — results.py:499
    strips the same four), pars.txt = one name per line
    (enterprise_warp.py:553-555)."""
    os.makedirs(out_dir, exist_ok=True)
    lnl = samples_pd["lnl"].to_numpy(dtype=np.float64)
    mat = np.column_stack(
        [samples_pd[p].to_numpy(dtype=np.float64) for p in par_names]
        + [lnl, lnl, np.ones_like(lnl), np.ones_like(lnl)]
    )
    np.savetxt(os.path.join(out_dir, "chain_1.txt"), mat)
    with open(os.path.join(out_dir, "pars.txt"), "w") as fh:
        fh.write("\n".join(par_names) + "\n")


def run_from_paramfile(
    spark, prfile: str, num: int = 0, drop: int = 0,
    extra_model_terms: dict | None = None, wipe_old_output: int = 0,
    nsamp: int | None = None, seed: int = 42,
) -> dict:
    """The complete §3.1 paramfile lifecycle: parse -> data pairing (J1) ->
    standalone residuals -> noise-model compile (incl. P10 fixed white
    noise from noise files) -> prior-sampled GP scoring -> SIR posterior ->
    reference-layout run dir. Returns {'output_dir', 'pars', 'chain',
    'summary'|'log_bf'}."""
    from enterprise_warp_spark.likelihood.inference import score_prior_draws
    from enterprise_warp_spark.likelihood.sampling import posterior_summary
    from enterprise_warp_spark.likelihood.product_space import hypermodel_sample
    from enterprise_warp_spark.plans.noisemodel import (
        merge_noise_dicts,
        normalize_noise_model,
        read_noise_model_json,
        signals_for_pulsar,
    )

    p = parse_paramfile(prfile)
    base = anchor_dir(p, prfile)
    # S8 — job_config_xlsx: the reference declares this label
    # (enterprise_warp.py:130) but never reads it; here it loads through
    # the stdlib OOXML source so the key is functional
    job_config = None
    if p.values.get("job_config_xlsx"):
        from enterprise_warp_spark.sources.xlsx import read_xlsx

        job_config = read_xlsx(spark, _resolve(p.job_config_xlsx, base))
    # same default anchor_dir probes with — a paramfile may omit datadir:
    datadir = _resolve(p.values.get("datadir", "data/"), base)
    pairs = paired_data_files(datadir)
    if not 0 <= num < len(pairs):
        raise IndexError(f"--num {num} out of range for {len(pairs)} pulsars")
    array_run = bool(p.values.get("array_analysis")) or bool(drop)
    selected = [
        pairs[i] for i in range(len(pairs)) if not (drop and i == num)
    ] if array_run else [pairs[num]]

    # noise files: golden injection values + P10 fixed white-noise constants
    noisefiles_dir = p.values.get("noisefiles")
    noise_docs: dict[str, dict] = {}
    if noisefiles_dir:
        ndir = _resolve(noisefiles_dir, base)
        for psr, _, _ in selected:
            path = os.path.join(ndir, f"{psr}_noise.json")
            if os.path.exists(path):
                with open(path) as fh:
                    noise_docs[psr] = json.load(fh)

    # multi-pulsar runs share ONE time origin so any common (array-level)
    # basis stays phase-aligned across pulsars; single runs keep their own
    # PEPOCH (bit-identical to previous behavior)
    common_mjd0 = None
    if len(selected) > 1:
        peps = [_par_value(par, "PEPOCH", 0.0) for _, par, _ in selected]
        common_mjd0 = next((v for v in peps if v), 50000.0)
    _, res, specs, bk = build_array_residuals(
        spark, selected, noise_docs, common_mjd0
    )

    # fixed white-noise constants from noise files (P10)
    fixed: dict[str, float] = {}
    if noise_docs and any(p.fixed_params().values()):
        for psr, doc in noise_docs.items():
            for key, val in doc.items():
                # J1832-0836_CASPSR_40CM_efac -> efac_CASPSR_40CM
                rest = key[len(psr) + 1:] if key.startswith(psr + "_") else key
                for mark in ("efac", "log10_equad", "log10_ecorr"):
                    if rest.endswith("_" + mark):
                        fixed[f"{mark}_{rest[: -len(mark) - 1]}"] = float(val)

    # per-model noise-model rows for the FIRST selected pulsar's name (the
    # reference compiles one PTA per pulsar in single mode; array mode
    # shares the universal rows)
    psr0 = selected[0][0]
    models: dict[int, list[dict]] = {}
    for m in p.models:
        nmf = m.values.get("noise_model_file")
        if not nmf:
            raise ValueError(f"model {{{m.model_id}}} has no noise_model_file")
        doc = read_noise_model_json(_resolve(nmf, base))
        if extra_model_terms:
            doc = merge_noise_dicts(doc, extra_model_terms)
        models[m.model_id] = signals_for_pulsar(
            normalize_noise_model(doc, m.model_id), psr0
        )

    n_samples = int(
        nsamp or p.values.get("nsamp") or p.values.get("nlive")
        or p.extra.get("nlive") or 256
    )
    n_samples = min(n_samples, 4096)  # driver sample-table contract
    from enterprise_warp_spark.likelihood.gp import TMComponent

    tm_label = str(p.values.get("tm", "default"))
    tm_mode = {"default": "default", "fast": "fast",
               "ridge_regression": "ridge"}.get(tm_label, "default")
    tm = TMComponent(specs if array_run else specs[psr0], mode=tm_mode)

    # run-dir layout (enterprise_warp.py:403-415): single-pulsar runs get
    # <num>_<psr>/; array runs get <num>/, plus a nested
    # <num>_<droppedpsr>/ marker when --drop leaves that pulsar out
    if array_run:
        sub = str(num)
        if drop:
            sub = os.path.join(sub, f"{num}_{pairs[num][0]}")
    else:
        sub = f"{num}_{psr0}"
    out_dir = os.path.join(output_base_dir(p, prfile), sub)
    if wipe_old_output and os.path.isdir(out_dir):
        shutil.rmtree(out_dir)

    # sampler: adaptive -> the CEM + tempered-importance posterior
    # (likelihood/sampling.py importance_posterior); any reference sampler
    # label (ptmcmcsampler/dynesty/...) takes the default one-round
    # prior-IS path, exactly as before. The adaptive chain is SIR-resampled
    # from the PROPOSAL-CORRECTED logw weights, so run dirs carry a valid
    # posterior even for the 12-dim by-backend models one prior round
    # cannot cover.
    sampler = str(p.values.get("sampler", "")).strip().lower()
    if len(models) == 1:
        if sampler == "adaptive":
            from enterprise_warp_spark.likelihood.inference import (
                run_adaptive_inference,
            )

            # optional paramfile knobs (r13 verdict #6): `ess_target: N`
            # keeps appending T=1 importance waves until the pooled ESS
            # reaches N (budget-capped by `max_waves`, default 4x);
            # absent -> the fixed 3-wave ladder, bit-identical to r13
            ess_target = p.values.get("ess_target")
            adaptive_diag: dict = {}
            joined, summary = run_adaptive_inference(
                spark, res, models[min(models)], rounds=4,
                n_per_round=n_samples, seed=seed, fixed=fixed or None,
                backends=bk, tm=tm,
                final_is=min(4 * n_samples, 16384), final_is_waves=3,
                final_is_ess_target=(
                    float(ess_target) if ess_target is not None else None
                ),
                final_is_max_waves=(
                    int(p.values["max_waves"])
                    if "max_waves" in p.values else None
                ),
                diagnostics=adaptive_diag,
            )
            pdf = joined.toPandas()
            w_col = "logw"
        else:
            # the draws with their scores, in sample_id order (the SIR
            # resample picks rows by position)
            pdf, sampled = score_prior_draws(
                spark, res, models[min(models)], n_samples=n_samples,
                seed=seed, fixed=fixed or None, backends=bk, tm=tm,
                psrs=[psr for psr, _, _ in selected],
            )
            summary = posterior_summary(spark.createDataFrame(pdf), sampled)
            w_col = "lnl"
        par_names = [
            c for c in pdf.columns
            if c not in ("sample_id", "lnl", "logw", "wave")
            and pdf[c].nunique() > 1
        ]
        chain, ess = _sir_resample(pdf, w_col, min(2000, 4 * len(pdf)), seed)
        if not array_run:
            rename = {k: reference_par_name(psr0, k) for k in par_names}
            chain = chain.rename(columns=rename)
            par_names = [rename[k] for k in par_names]
        write_chain_dir(chain, par_names, out_dir)
        out = {"output_dir": out_dir, "pars": par_names, "chain": chain,
               "summary": summary, "job_config": job_config}
        if w_col == "lnl":
            # the default path's posterior quality: the SIR weights' ESS
            # and how many distinct draws the chain holds
            out["ess"] = ess
            info = {"ess": ess, "n_draws": len(pdf),
                    "distinct_rows": int(chain["sample_id"].nunique())}
            with open(os.path.join(out_dir, "sampler_info.json"), "w") as fh:
                json.dump(info, fh, sort_keys=True, indent=2)
        else:
            # the adaptive path's weights carry the marginal likelihood
            # for free (the reference reads evidence off dynesty results)
            from enterprise_warp_spark.likelihood.sampling import (
                log_evidence,
            )

            out["log_evidence"] = log_evidence(pdf)
            # adaptive run-dir JSON (r13 verdict #6): evidence + the
            # ESS/wave diagnostics land next to the chain so a user (and
            # the results CLI) can judge posterior quality without
            # re-deriving it from the weights
            out["ess"] = adaptive_diag.get("ess")
            info = {"log_evidence": out["log_evidence"], **adaptive_diag}
            with open(
                os.path.join(out_dir, "adaptive_info.json"), "w"
            ) as fh:
                json.dump(info, fh, sort_keys=True, indent=2)
        return out

    posterior, log_bf = hypermodel_sample(
        spark, res, models, n_samples=n_samples, seed=seed,
        fixed=fixed or None, backends=bk,
    )
    pdf = posterior.toPandas()
    par_names = [c for c in pdf.columns if c not in ("step", "lnl")]
    if not array_run:
        rename = {k: reference_par_name(psr0, k) for k in par_names}
        pdf = pdf.rename(columns=rename)
        par_names = [rename[k] for k in par_names]
    write_chain_dir(pdf, par_names, out_dir)
    return {"output_dir": out_dir, "pars": par_names, "chain": pdf,
            "log_bf": log_bf, "job_config": job_config}


def main(argv=None, spark=None):
    opts = parse_commandline(argv)
    extra = json.loads(opts.extra_model_terms) if opts.extra_model_terms else None
    own = spark is None
    if own:
        from enterprise_warp_spark.session import get_spark

        spark = get_spark("run-paramfile")
    try:
        out = run_from_paramfile(
            spark, opts.prfile, num=opts.num, drop=opts.drop,
            extra_model_terms=extra, wipe_old_output=opts.wipe_old_output,
        )
        print(f"output: {out['output_dir']}")
        print(f"pars: {' '.join(out['pars'])}")
        if out.get("ess") is not None:
            print(f"ess: {out['ess']:.1f}")
        if out.get("log_evidence") is not None:
            print(f"log_evidence: {out['log_evidence']:.4f}")
        return out
    finally:
        if own:
            spark.stop()


if __name__ == "__main__":
    main()
