"""§3.2 end-to-end — the results-pipeline entry point.

Reference: EnterpriseWarpResult.main_pipeline (results.py:359-386): scan psr
run directories (regex P8), resolve chain + pars files, load with burn-in,
then flag-gated stages: model counts/logBF, credible levels, noise files,
covariance accumulation.

Spark shape: the driver resolves every PTMCMC run directory (chain files,
parameter names) and `read_chain_runs` loads them all with one text scan
and one exchange, burn-in included; bilby directories go through
`read_run_dir` and are unioned in. `load_run_dirs` also returns, from the
driver alone, each run's parameter names. Every stage is a grouped query
over the long form. Outputs are returned as DataFrames; compat sinks
(sinks.py) write reference-format artifacts.
"""

from __future__ import annotations

import functools
import glob
import math
import os
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from enterprise_warp_spark.analytics.chains import (
    credible_levels_by_par,
    log_bayes_factors_from_chain,
    model_posterior_counts,
    mode_positions_by_par,
    noise_summary,
)
from enterprise_warp_spark.sources.chains import (
    read_chain_runs,
    resolve_chain_dir,
    sampled_pars,
)

# psr-dir name predicate (results.py:251-257)
PSR_DIR_RE = re.compile(r"^\d+_[JB]\d{2,4}[+-]\d{2,4}[AB]?$")


def discover_run_dirs(base_dir: str, pattern: re.Pattern = PSR_DIR_RE) -> list[str]:
    """P8 — run directories whose basename matches the psr-dir regex; falls
    back to 'any dir containing pars.txt OR a bilby *_result.json' for
    non-reference layouts (the reference picks the parser per run the same
    way: PTMCMC chain files vs BilbyWarpResult, results.py:1050-1081)."""
    out = []
    for name in sorted(os.listdir(base_dir)):
        full = os.path.join(base_dir, name)
        if not os.path.isdir(full):
            continue
        if (
            pattern.match(name)
            or os.path.exists(os.path.join(full, "pars.txt"))
            or _is_bilby_dir(full)
        ):
            out.append(full)
    return out


def _is_bilby_dir(run_dir: str) -> bool:
    return bool(glob.glob(os.path.join(run_dir, "*_result.json")))


def read_run_dir(spark: SparkSession, run_dir: str):
    """One bilby run directory (S6b, `*_result.json`) -> sources.bilby.BilbyRun.
    PTMCMC directories are resolved by `resolve_chain_dir` and loaded
    together by `read_chain_runs`."""
    from enterprise_warp_spark.sources.bilby import bilby_result_path, load_bilby_result

    return load_bilby_result(
        spark, bilby_result_path(run_dir),
        run_id=os.path.basename(run_dir.rstrip("/")),
    )


def _bilby_long(run, burn_frac: float) -> DataFrame:
    """BilbyRun -> burned long form (run_id, step, par, value). The bound is
    analytics.chains.burn_in's floor((max(step) + 1) * burn_frac), taken
    from the sample count the driver already holds."""
    burn = math.floor(run.n_samples * burn_frac)
    labels = F.array(*map(F.lit, run.labels)).cast("array<string>")
    # explode, not posexplode: the optimizer drops an exploded empty
    # relation, so a run_id filter that excludes this run prunes it from
    # the union and the frame keeps the chain runs' partitioning
    pairs = F.arrays_zip(labels.alias("par"), F.col("values").alias("value"))
    return (
        run.chain.filter(F.col("step") >= burn)
        .select("run_id", "step", F.explode(pairs).alias("s"))
        .select("run_id", "step", "s.par", "s.value")
    )


def load_run_dirs(
    spark: SparkSession,
    base_dir: str,
    burn_frac: float = 0.25,
    load_separated: bool = False,
    par_label: str | None = None,
) -> tuple[DataFrame, dict[str, list[str]]]:
    """Every run directory under base_dir -> (burned long form
    (run_id, step, par, value), run_pars). run_pars maps each run id to the
    parameter names the long form holds rows for; it is known on the
    driver, so a run with no rows after burn-in is left out of it without
    a Spark job."""
    dirs = discover_run_dirs(base_dir)
    if not dirs:
        raise FileNotFoundError(f"no run directories under {base_dir}")
    chain_runs, parts, run_pars = [], [], {}
    for d in dirs:
        if _is_bilby_dir(d):
            run = read_run_dir(spark, d)
            parts.append(_bilby_long(run, burn_frac))
            rid = os.path.basename(d.rstrip("/"))
            pars = run.labels if run.n_samples else []
        else:
            run = resolve_chain_dir(d, separated=load_separated, par_label=par_label)
            chain_runs.append(run)
            rid, pars = run.run_id, sampled_pars(run)
        # a run keeps rows after burn-in iff it has a sample and
        # burn_frac < 1: floor(n * burn_frac) < n for any n >= 1
        if pars and burn_frac < 1:
            run_pars[rid] = pars
    if chain_runs:
        parts.insert(0, read_chain_runs(spark, chain_runs, burn_frac))
    return functools.reduce(DataFrame.unionByName, parts), run_pars  # X4


def results_stages(kept: DataFrame) -> dict[str, DataFrame]:
    """Burned long form -> {'chains_long', 'model_counts', 'log_bf',
    'credible_levels', 'modes', 'noise'}: every stage of the reference
    pipeline as a DataFrame."""
    return {
        "chains_long": kept,
        "model_counts": model_posterior_counts(kept),
        "log_bf": log_bayes_factors_from_chain(kept),
        "credible_levels": credible_levels_by_par(kept),
        "modes": mode_positions_by_par(kept),
        "noise": noise_summary(kept),
    }


def run_results_pipeline(
    spark: SparkSession,
    base_dir: str,
    burn_frac: float = 0.25,
    load_separated: bool = False,
    par_label: str | None = None,
) -> dict[str, DataFrame]:
    """-> results_stages over every run directory under base_dir, computed
    over ALL runs at once (the reference loops dirs sequentially)."""
    kept, _ = load_run_dirs(spark, base_dir, burn_frac, load_separated, par_label)
    return results_stages(kept)
