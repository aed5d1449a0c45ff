"""CLI front-end for §3.2/§3.3 — the reference's ``python -m
enterprise_warp.results`` entry point.

Reference: results.py:38-135 (option parser), :359-386 (main_pipeline),
:1093-1120 (main). ``--result`` takes either an output directory or a
parameter file (interpret_opts_result, results.py:400-416); flag-gated
stages then run over every psr run directory: info printing, log Bayes
factors (A2/A3), noise files (K2), credible levels (A4), covariance
collection (K4), chain separation (W3/K3), and the optimal-statistic
analysis (§3.3, K6).

Spark shape: one ``load_run_dirs`` call loads ALL run directories
into a single long-form chain DataFrame (the reference loops directories
sequentially): the driver resolves each run dir's chain files and
parameter names, then one text scan and one exchange hash-partitioned on
run_id load every PTMCMC run, with step and burn-in computed in one
window; bilby dirs are unioned in. The run ids and parameter names each
flag iterates over (after the -n/-p filters) come from that driver-side
resolution, not from distinct() jobs, so a command's job count does not
grow with the number of PTMCMC run dirs (each bilby dir is read on its
own). One grouped pass, `analytics.chains.stats_by_run`, collected once,
gives every statistic -f, -l, -c and -o's noise summary write (A4-A6);
its keys start with run_id, so it adds no exchange to the ingest's. Plot
flags (--corner/--chains/--hists) bin in Spark and render PNGs on the
driver (K7).
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import pickle

import numpy as np
import pandas as pd

from enterprise_warp_spark.run_paramfile import output_base_dir


def parse_commandline(argv=None):
    """Option mirror of results.py:38-135 (same short/long names)."""
    ap = argparse.ArgumentParser(
        prog="enterprise_warp_spark.results",
        description="Act on inference results (reference: enterprise_warp/results.py)",
    )
    ap.add_argument("-r", "--result", type=str, default=None,
                    help="Output directory or a parameter file")
    ap.add_argument("-i", "--info", type=int, default=0,
                    help="Print information about all results (1/0)")
    ap.add_argument("-n", "--name", type=str, default="all",
                    help='Pulsar name or number (or "all")')
    ap.add_argument("-c", "--corner", type=int, default=0,
                    help="Corner plot (1/0): per-run corner PNG (K7 plot "
                    "sink: Spark computes the 2-D histogram bins, the "
                    "driver rasterizes) plus mode-position JSON")
    ap.add_argument("-p", "--par", action="append", default=None,
                    help='Include only parameters that contain "par"')
    ap.add_argument("-t", "--truths", type=str, default=None,
                    help="JSON file of par->value truths drawn as red "
                    "lines on the corner plot diagonals")
    ap.add_argument("-a", "--chains", type=int, default=0,
                    help="Chain data (1/0)")
    ap.add_argument("-H", "--hists", type=int, default=0,
                    help="Marginal posterior data (1/0)")
    ap.add_argument("-b", "--logbf", type=int, default=0,
                    help="Display log Bayes factors (1/0)")
    ap.add_argument("-f", "--noisefiles", type=int, default=0,
                    help="Make noisefiles (1/0)")
    ap.add_argument("-l", "--credlevels", type=int, default=0,
                    help="Credible levels (1/0)")
    ap.add_argument("-m", "--covm", type=int, default=0,
                    help="Collect sampler covariance matrices (1/0)")
    ap.add_argument("-u", "--separate_earliest", type=float, default=0.0,
                    help="Separate the first MCMC samples (fraction)")
    ap.add_argument("-s", "--load_separated", type=int, default=0,
                    help="Attempt to load separated chain files (1/0)")
    ap.add_argument("-o", "--optimal_statistic", type=int, default=0,
                    help="Calculate optimal statistic (1/0; --result must "
                    "be a parameter file so TOAs can be rebuilt)")
    ap.add_argument("-g", "--optimal_statistic_orfs", type=str,
                    default="hd,dipole,monopole",
                    help="ORFs for OS analysis: hd, dipole, monopole")
    ap.add_argument("-N", "--optimal_statistic_nsamples", type=int,
                    default=1000,
                    help="Draws for noise-marginalised OS")
    ap.add_argument("-L", "--load_optimal_statistic_results", type=int,
                    default=0, help="Load saved OS results, no recompute (1/0)")
    ap.add_argument("-y", "--bilby", type=int, default=0,
                    help="Bilby results (accepted for parity; source dispatch "
                    "is automatic per run directory — load_run_dirs)")
    ap.add_argument("-P", "--custom_models_py", type=str, default=None,
                    help="Path to a .py file registering custom signals "
                    "(plugin registry; see plans.registry.register_signal)")
    ap.add_argument("-M", "--custom_models", type=str, default=None,
                    help="Name of the custom model object in --custom_models_py")
    return ap.parse_args(argv)


def interpret_result(result: str):
    """interpret_opts_result (results.py:400-416): directory -> itself;
    paramfile -> out/<label_models>_<paramfile_label>/."""
    if os.path.isdir(result):
        return result, None
    from enterprise_warp_spark.plans import parse_paramfile

    params = parse_paramfile(result)
    return output_base_dir(params, result), params


def _load_custom_models(opts) -> None:
    """results.py:1100-1110 — import a plugin module so its
    @register_signal decorators run before paramfile compile."""
    if (opts.custom_models is None) != (opts.custom_models_py is None):
        raise ValueError("Please set both --custom_models and --custom_models_py")
    if opts.custom_models_py is not None:
        import importlib.util

        spec = importlib.util.spec_from_file_location(
            "custom_models_obj", opts.custom_models_py
        )
        mod = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(mod)
        getattr(mod, opts.custom_models)  # same lookup contract as reference


def _filter_runs(df, name: str):
    from pyspark.sql import functions as F

    return df if name == "all" else df.filter(F.col("run_id").contains(name))


def _write_json(path: str, doc: dict) -> str:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as fh:
        json.dump(doc, fh, sort_keys=True, indent=4)
    return path


def _wanted(par: str, par_substrings) -> bool:
    """-p rule: no substrings keep every parameter, else any must match."""
    return not par_substrings or any(s in par for s in par_substrings)


def _filter_pars(df, par_substrings):
    from pyspark.sql import functions as F

    if not par_substrings:
        return df
    cond = None
    for p in par_substrings:
        c = F.col("par").contains(p)
        cond = c if cond is None else (cond | c)
    return df.filter(cond)


def separate_earliest(run_dir: str, frac: float, pars: list[str]) -> str:
    """W3 head-fraction split of chain_1.txt written back as a separated
    chain file chain_<14-digit-stamp>.txt (reference _separate_earliest,
    results.py:579-602). With --par substrings given, additionally writes
    the par-masked family chain_<stamp>_<label>.txt (masked columns + the
    4 sampler columns) and pars_<label>.txt. The remaining chain_1.txt is
    backed up to chain_1.txt.bckp BEFORE the truncating overwrite — a
    crash or accidental re-run must not lose samples irrecoverably."""
    import datetime
    import shutil

    chain_path = os.path.join(run_dir, "chain_1.txt")
    # atleast_2d: a single-sample chain loads 1-D and row slicing would
    # silently split COLUMNS, corrupting the rewritten files
    chain = np.atleast_2d(np.loadtxt(chain_path))
    n_head = int(round(frac * chain.shape[0]))
    stamp = datetime.datetime.now().strftime("%Y%m%d%H%M%S")
    path = os.path.join(run_dir, f"chain_{stamp}.txt")
    np.savetxt(path, chain[:n_head])
    if pars:
        labels = np.loadtxt(
            os.path.join(run_dir, "pars.txt"), dtype=str, ndmin=1
        )
        par_mask = np.array(
            [any(p in lab for p in pars) for lab in labels], dtype=bool
        )
        label = "_".join(pars)
        mask_full = np.append(par_mask, [True, True, True, True])
        np.savetxt(
            os.path.join(run_dir, f"chain_{stamp}_{label}.txt"),
            chain[:n_head, mask_full],
        )
        np.savetxt(
            os.path.join(run_dir, f"pars_{label}.txt"),
            labels[par_mask], fmt="%s",
        )
    shutil.copyfile(chain_path, chain_path + ".bckp")
    np.savetxt(chain_path, chain[n_head:])
    return path


SUPPORTED_ORFS = ("hd", "dipole", "monopole")


def expand_orfs(spec: str) -> list[str]:
    """-g value -> ORF list; 'all' means every supported ORF (an 'all'
    that silently computed NOTHING would crash the OS plots on {}).
    Unsupported names (the reference's docs also mention 'quadrupole',
    which this engine has no curve for) fail loudly HERE instead of as a
    bare KeyError deep in run_os_pipeline or an empty-max ValueError in
    the ORF plot."""
    orfs = [o.strip() for o in spec.split(",") if o.strip()]
    if "all" in orfs:
        return list(SUPPORTED_ORFS)
    bad = [o for o in orfs if o not in SUPPORTED_ORFS]
    if bad:
        raise SystemExit(
            f"unsupported ORF name(s) {bad} for -g/--orf; "
            f"supported: {', '.join(SUPPORTED_ORFS)} (or 'all')"
        )
    return orfs


# run-dir diagnostics `results -i` lists: (file prefix, one-line format)
_INFO_FILES = (
    ("adaptive", lambda info: (
        f"log_evidence {info.get('log_evidence', float('nan')):.4f}  "
        f"ess {info.get('ess', float('nan')):.1f}  "
        f"waves {info.get('n_waves')}"
    )),
    ("sampler", lambda info: (
        f"ess {info.get('ess', float('nan')):.1f}  "
        f"distinct rows {info.get('distinct_rows')} "
        f"of {info.get('n_draws')} draws"
    )),
)


def run_optimal_statistic(spark, opts, params, prfile: str, outdir_all: str,
                          noise_df, chains=None, chain_pars=()) -> dict:
    """§3.3 from the CLI: rebuild the array's TOA setup from the paramfile
    (standalone-residual mode), positions from .par RAJ/DECJ, apply THIS
    run's noise summary, then run_os_pipeline per requested ORF. Results
    land as parquet under <outdir_all>/os_results/<orf>/ (K6). When the
    posterior chain is supplied and -N > 0, the noise-marginalised OS (A12)
    runs over -N gamma draws from the chain (results.py:819-844);
    chain_pars names the parameters the chain holds rows for."""
    from enterprise_warp_spark.analytics.optimal_statistic import run_os_pipeline
    from enterprise_warp_spark.run_paramfile import (
        _resolve,
        build_array_residuals,
        paired_data_files,
        psr_position,
    )

    from enterprise_warp_spark.run_paramfile import anchor_dir

    base = anchor_dir(params, prfile)
    pairs = paired_data_files(_resolve(params.datadir, base))
    if len(pairs) < 2:
        raise SystemExit(
            f"--optimal_statistic needs >= 2 pulsars (cross-correlations); "
            f"datadir has {len(pairs)}"
        )
    # ONE time origin for the whole array: per-pulsar PEPOCH-relative
    # toa_s would misalign the common GW Fourier basis across pulsars
    # (and miscompute tspan) whenever .par PEPOCHs differ
    from enterprise_warp_spark.run_paramfile import _par_value

    peps = [_par_value(par, "PEPOCH", 0.0) for _, par, _ in pairs]
    common_mjd0 = next((v for v in peps if v), 50000.0)
    res_pd, res, _, _ = build_array_residuals(spark, pairs, mjd0=common_mjd0)
    # through Arrow, a local relation: no Python task on any ORF pass
    positions = spark.createDataFrame(
        pd.DataFrame({"psr": [psr for psr, _, _ in pairs],
                      "pos": [psr_position(par) for _, par, _ in pairs]}),
        "psr string, pos array<double>",
    )
    import pyspark.sql.functions as F

    tspan = float(res_pd["toa_s"].max() - res_pd["toa_s"].min())
    draws = None
    if chains is not None and opts.optimal_statistic_nsamples > 0:
        from enterprise_warp_spark.analytics.optimal_statistic import (
            draws_from_chain,
        )

        gamma_pars = sorted({p for p in chain_pars if p.endswith("_gamma")})
        pick = [p for p in gamma_pars if "gw" in p] or gamma_pars
        if pick:
            draws = draws_from_chain(
                chains.filter(F.col("par") == pick[0]),
                "value",
                n_draws=opts.optimal_statistic_nsamples,
            )
    out = {}
    for orf in expand_orfs(opts.optimal_statistic_orfs):
        r = run_os_pipeline(
            res, positions, nfreqs=8, tspan_s=tspan, noise=noise_df, orf=orf,
            draws=draws,
        )
        dest = os.path.join(outdir_all, "os_results", orf)
        r["os"].write.mode("overwrite").parquet(os.path.join(dest, "os"))
        r["binned"].write.mode("overwrite").parquet(os.path.join(dest, "binned"))
        if "marginalised" in r:  # persisted so -L can re-plot A12 later
            r["marginalised"].write.mode("overwrite").parquet(
                os.path.join(dest, "marginalised")
            )
        # the report and the plots read what was just written, as -L does,
        # so the cached reduction and pair table go now, once per ORF
        r["reduced"].unpersist()
        r["pair_stats"].unpersist()
        r = _read_os_results(spark, dest, "marginalised" in r)
        row = r["os"].first()
        print(f"OS[{orf}]: a2_hat={row['a2_hat']:.3e} sig={row['sig_os']:.3e} "
              f"snr={row['a2_hat'] / row['sig_os']:.2f}")
        out[orf] = r
    return out


def _read_os_results(spark, dest: str, marginalised: bool) -> dict:
    """One ORF's K6 parquet under dest: os, binned and, if asked, the
    noise-marginalised draws."""
    names = ("os", "binned", "marginalised") if marginalised else ("os", "binned")
    return {n: spark.read.parquet(os.path.join(dest, n)) for n in names}


def load_os_results(spark, outdir_all: str, orfs: list[str]) -> dict:
    """-L/--load_optimal_statistic_results (results.py:744-760): read the
    K6 parquet written by a previous -o run instead of recomputing —
    plotting and reporting then run over the saved frames."""
    out = {}
    for orf in orfs:
        dest = os.path.join(outdir_all, "os_results", orf)
        if not os.path.isdir(os.path.join(dest, "os")):
            continue
        r = _read_os_results(
            spark, dest, os.path.isdir(os.path.join(dest, "marginalised"))
        )
        row = r["os"].first()
        print(f"OS[{orf}] (loaded): a2_hat={row['a2_hat']:.3e} "
              f"sig={row['sig_os']:.3e}")
        out[orf] = r
    if not out:
        raise SystemExit(
            f"-L found no saved OS results under {outdir_all}/os_results "
            f"for ORFs {orfs}; run -o 1 first"
        )
    return out


def main(argv=None, spark=None):
    opts = parse_commandline(argv)
    if not opts.result:
        raise SystemExit("--result is required")
    _load_custom_models(opts)
    outdir_all, params = interpret_result(opts.result)
    own = spark is None
    if own:
        from enterprise_warp_spark.session import get_spark

        spark = get_spark("results")
    try:
        return _main_pipeline(spark, opts, outdir_all, params)
    finally:
        if own:
            spark.stop()


def _main_pipeline(spark, opts, outdir_all: str, params):
    """main_pipeline (results.py:359-386) — flag-gated stages over one
    shared long-form chain frame."""
    from enterprise_warp_spark.analytics.chains import (
        log_bayes_factors_from_chain,
        stats_by_run,
    )
    from enterprise_warp_spark.analytics.results_pipeline import (
        discover_run_dirs,
        load_run_dirs,
    )
    from enterprise_warp_spark.sinks import write_noise_json_files

    if opts.separate_earliest > 0:
        # the reference separates and exits immediately (results.py:600-602)
        # — doing this FIRST also guarantees no lazy DataFrame built over
        # the chain files is later re-evaluated against the truncated files
        seps = []
        for d in discover_run_dirs(outdir_all):
            if os.path.exists(os.path.join(d, "chain_1.txt")):
                seps.append(
                    separate_earliest(
                        d, opts.separate_earliest, opts.par or []
                    )
                )
        print(f"Earlier chain fraction ({opts.separate_earliest * 100} %) "
              "is separated, exiting.")
        return {"outdir_all": outdir_all, "separated": seps}

    kept, all_run_pars = load_run_dirs(
        spark, outdir_all, load_separated=bool(opts.load_separated),
        # with --load_separated + --par the reference selects the
        # par-masked segment family (get_chain_file_name/get_pars,
        # results.py:427-470)
        par_label="_".join(opts.par) if opts.par else None,
    )
    runs = _filter_runs(kept, opts.name)
    chains = _filter_pars(runs, opts.par)
    # -H and -a run one action per run over `chains`; the statistics pass
    # and the other sinks read it once or twice and run faster uncached
    if opts.hists or opts.chains:
        chains = chains.persist()
    # the runs and parameters `chains` holds rows for, known on the driver
    run_pars = {}
    for rid, pars in all_run_pars.items():
        wanted = [p for p in pars if _wanted(p, opts.par)]
        if wanted and (opts.name == "all" or opts.name in rid):
            run_pars[rid] = wanted
    run_ids = sorted(run_pars)
    chain_pars = sorted({p for ps in run_pars.values() for p in ps})
    results = {"outdir_all": outdir_all, "run_ids": run_ids}

    if opts.info:
        for rid in run_ids:
            print("Processing", rid)
            # run_paramfile writes the posterior-quality diagnostics next
            # to the chain (adaptive_info.json: evidence, ESS, waves;
            # sampler_info.json: the default path's ESS and distinct rows)
            # — surface them so posterior quality is visible at a glance
            for kind, fmt in _INFO_FILES:
                p = os.path.join(outdir_all, rid, f"{kind}_info.json")
                if not os.path.isfile(p):
                    continue
                try:
                    with open(p) as fh:
                        info = json.load(fh)
                except (json.JSONDecodeError, OSError) as exc:
                    # one truncated file (run killed mid-dump) must not
                    # abort the listing for every other run
                    print(f"  {kind}: unreadable ({exc})")
                    continue
                results.setdefault(f"{kind}_info", {})[rid] = info
                print(f"  {kind}: " + fmt(info))
        print("Parameters:", " ".join(chain_pars))

    if opts.logbf:
        log_bf = _filter_runs(log_bayes_factors_from_chain(kept), opts.name)
        for r in log_bf.collect():
            print(f"{r['run_id']}: log Bayes factor "
                  f"{r['model_b']} vs {r['model_a']} = {r['log_bf']:.4f}")
        results["log_bf"] = log_bf

    noise_dir = os.path.join(outdir_all, "noisefiles")
    # every statistic -f, -l, -c and -o's noise summary write, in one pass
    # over the -n runs collected once; noise files ignore -p, the other
    # sinks keep the parameters it selects
    runs_stats = []
    if (opts.noisefiles or opts.credlevels or opts.corner
            or (opts.optimal_statistic
                and not opts.load_optimal_statistic_results)):
        runs_stats = sorted(stats_by_run(runs).collect(), key=lambda r: r["run_id"])
    # {run_id: {par: its par_stats row}} over the -p parameters
    stats = {r["run_id"]: {s["par"]: s for s in r["stats"] if _wanted(s["par"], opts.par)}
             for r in runs_stats}
    if opts.noisefiles:
        results["noisefiles"] = write_noise_json_files(runs_stats, noise_dir)
        print(f"wrote {len(results['noisefiles'])} noise files -> {noise_dir}")

    if opts.credlevels:
        # <run>_credlvl.json in noisefiles/ (results.py:531-536)
        results["credlevels"] = [
            _write_json(os.path.join(noise_dir, f"{rid}_credlvl.json"),
                        {p: {k: r[k] for k in ("p16", "p50", "p84")}
                         for p, r in rows.items()})
            for rid, rows in stats.items() if rows
        ]

    if opts.corner:
        # corner's feeding aggregation as a JSON data artifact
        results["modes"] = {rid: {p: r["mode_position"] for p, r in rows.items()}
                            for rid, rows in stats.items() if rows}
        for rid, doc in results["modes"].items():
            _write_json(os.path.join(outdir_all, rid, f"{rid}_corner.json"), doc)

    if opts.corner or opts.hists or opts.chains:
        results["plots"] = render_plots(spark, opts, outdir_all, chains,
                                        run_pars, stats)

    if opts.covm:
        results["covm"] = collect_covariances(spark, outdir_all)

    if opts.optimal_statistic and opts.load_optimal_statistic_results:
        # -L: reuse the persisted K6 parquet, no TOA rebuild (so --result
        # may be a plain directory), then render the same plots
        results["os"] = load_os_results(
            spark, outdir_all, expand_orfs(opts.optimal_statistic_orfs)
        )
    elif opts.optimal_statistic:
        if params is None:
            raise SystemExit(
                "--optimal_statistic needs --result to be a parameter file "
                "(TOAs are rebuilt from its datadir)"
            )
        # route this run's own noise summary through the tested K2 -> S5
        # loop: write noise files (if -f didn't already), re-ingest, re-key
        # run-dir ids (0_J1832-0836) to bare psr names for the
        # (psr, backend) join (tests/test_end_to_end.py full-cycle shape)
        from pyspark.sql import functions as F

        from enterprise_warp_spark.sources.noisefiles import read_noise_files

        paths = results.get("noisefiles")
        if not paths:
            paths = write_noise_json_files(runs_stats, noise_dir)
        noise_df = read_noise_files(spark, [str(p) for p in paths]).withColumn(
            "psr", F.regexp_extract("key", r"^(\d+_)?([JB][\d+-]+[AB]?)", 2)
        )
        results["os"] = run_optimal_statistic(
            spark, opts, params, opts.result, outdir_all, noise_df,
            chains=chains, chain_pars=chain_pars,
        )
    if opts.optimal_statistic:
        # K7 OS plots (plot_os_orf / plot_noisemarg_os)
        from enterprise_warp_spark import plotting

        tag = opts.name
        results["os_plots"] = [plotting.make_os_orf_plot(
            results["os"], os.path.join(outdir_all, f"{tag}_os_orf_.png")
        )] + plotting.make_noisemarg_os_plots(
            results["os"],
            os.path.join(outdir_all, f"{tag}_os_SNR_.png"),
            os.path.join(outdir_all, f"{tag}_os_A2_.png"),
        )

    if chains.is_cached:
        chains.unpersist()
    return results


def render_plots(spark, opts, outdir_all: str, chains,
                 run_pars: dict[str, list[str]],
                 stats: dict[str, dict]) -> list[str]:
    """K7 — PNG plot sinks for the -c/-a/-H flags, reference filenames
    (results.py:634-636, 677-679, 697-699): per-run corner (one per nmodel
    value, over the burned chain), hist grid, and trace grid. Spark bins,
    the driver rasterizes (see plotting.py module docstring). `chains` is
    the long form load_run_dirs has already burned; run_pars maps each
    run_id in it to the parameters it holds rows for; stats, each run's
    {par: par_stats row}, gives a corner without nmodel its ranges."""
    from pyspark.sql import functions as F

    from enterprise_warp_spark import plotting

    truths = None
    if opts.truths:
        with open(opts.truths) as fh:
            truths = json.load(fh)
    paths: list[str] = []
    for rid in sorted(run_pars):
        ch = chains.filter(F.col("run_id") == rid)
        if opts.hists:
            paths.append(plotting.make_histogram_grid(
                ch, os.path.join(outdir_all, f"{rid}_hist_pars_.png")
            ))
        if opts.chains:
            paths.append(plotting.make_chain_trace_grid(
                ch, os.path.join(outdir_all, f"{rid}_samples_trace_.png")
            ))
        if opts.corner:
            pars = sorted(set(run_pars[rid]))
            if "nmodel" in pars:  # one corner per model (results.py:621-627)
                models = sorted(
                    r["m"] for r in ch.filter(F.col("par") == "nmodel")
                    .select(F.round("value").alias("m")).distinct().collect()
                )
            else:
                models = [None]
            for jj in models:
                tag = "" if jj is None else str(int(jj))
                try:
                    p = plotting.make_corner_plot(
                        ch, pars,
                        os.path.join(outdir_all, f"{rid}_corner_{tag}_.png"),
                        model=jj, truths=truths,
                        bounds=None if jj is not None or rid not in stats else {
                            p: (r["lo"], r["hi"]) for p, r in stats[rid].items()
                        },
                    )
                except ValueError as e:
                    # e.g. the >40-parameter guard: skip THIS corner but
                    # keep every other run/stage of the CLI alive
                    print(f"corner skipped for {rid}: {e}")
                    continue
                if p:
                    paths.append(p)
    return paths


def collect_covariances(spark, outdir_all: str):
    """K4 — cov.npy per run dir -> block-diagonal long form ->
    covm_all.csv + covm_all.pkl (results.py:537-568). Repeating parameter
    names across runs are excluded from the dense export exactly like the
    reference's covm_repeating_pars path."""
    from enterprise_warp_spark.analytics.covariance import assemble_block_diag
    from enterprise_warp_spark.sinks import write_covm_csv
    from enterprise_warp_spark.sources.chains import read_pars_file
    from enterprise_warp_spark.sources.matrix import ingest_npy

    blocks = []
    for d in sorted(glob.glob(os.path.join(outdir_all, "*"))):
        cov = os.path.join(d, "cov.npy")
        pars_path = os.path.join(d, "pars.txt")
        if not (os.path.isfile(cov) and os.path.isfile(pars_path)):
            continue
        rid = os.path.basename(d)
        blocks.append(
            ingest_npy(spark, cov, read_pars_file(pars_path), run_id=rid)
        )
    if not blocks:
        print("no cov.npy matrices found")
        return None
    covm = assemble_block_diag(blocks)
    csv_path = os.path.join(outdir_all, "covm_all.csv")
    write_covm_csv(covm, csv_path)
    pdf = covm.toPandas()
    with open(os.path.join(outdir_all, "covm_all.pkl"), "wb") as fh:
        pickle.dump(
            {
                "covm": pdf,
                "covm_pars": sorted(set(pdf["row_par"])),
            },
            fh,
            protocol=pickle.HIGHEST_PROTOCOL,
        )
    print(f"wrote {csv_path}")
    return covm


if __name__ == "__main__":
    main()
