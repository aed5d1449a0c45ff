"""S6 — MCMC chain matrix source.

Reference layout (results.py:427-513): per-run directory holds
`chain_1.txt` / `chain_1.0.txt` (whitespace matrix; columns = parameters plus
4 trailing sampler columns lnpost/lnlike/accept/pt stripped at :499-500) and
a `pars.txt` sidecar with one parameter name per line
(enterprise_warp.py:550-555). Timestamped segments `chain_<14 digits>.txt`
concatenate in name order (:481-489).

Spark shape: the driver resolves each run directory (`resolve_chain_dir`):
its run_id, its chain files and its parameter names, the sidecar read with
plain `open()`. `read_chain_runs` then loads every resolved run with ONE
`spark.read.text` scan; run_id is the decoded name of each file's parent
directory. One exchange hash-partitions the rows on run_id into as many
partitions as runs, capped at the default parallelism (two runs can hash
to the same partition), and one window per run,
ordered by (file, mid), assigns `step` and counts the run's rows for the
burn-in bound — text splits are assigned in file order, which reproduces
the reference's row index. Burned rows are dropped, the values posexploded
and each `par` taken from a per-run literal array: long form
(run_id, step, par, value) with no join and no per-run union.
"""

from __future__ import annotations

import glob
import os
import re
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

AUX_COLS = ("lnpost", "lnlike", "accept", "pt")  # results.py:499-500

# whitespace-split chain line -> ARRAY<DOUBLE>
_ROW = (
    "transform(filter(split(trim(value), '\\\\s+'), x -> x != ''),"
    " x -> cast(x as double))"
)


class ChainRun(NamedTuple):
    """One run directory resolved on the driver."""

    run_id: str
    files: list[str]  # concatenated in this order
    pars: list[str]  # chain column order


def read_pars_file(path: str) -> list[str]:
    """pars.txt sidecar -> parameter names in chain column order."""
    with open(path) as fh:
        return [ln.strip() for ln in fh if ln.strip()]


# the full-width (suffix-free) segment family only: chain_STAMP.txt.
# The par-masked family chain_STAMP_PARS.txt has FEWER columns, so mixing
# the two would misalign par/value pairs (reference get_chain_file_name,
# results.py:427-448, loads exactly one family depending on --par).
SEPARATED_RE = re.compile(r"chain_\d{14}\.txt$")


def resolve_chain_dir(
    run_dir: str, separated: bool = False, par_label: str | None = None
) -> ChainRun:
    """Driver-side resolution of a reference-style run directory.

    Regular load (results.py:427-478): chain_1.txt, else chain_1.0.txt,
    else the first `chain_[0-9]*.txt` match, against pars.txt.

    separated=True (--load_separated, results.py:427-495): the timestamped
    segment files of ONE family, concatenated in filename (= timestamp)
    order. par_label None/'' selects the full-width chain_STAMP.txt segments
    against pars.txt; a non-empty par_label selects the par-masked
    chain_STAMP_<label>.txt segments against pars_<label>.txt. Like the
    reference's get_pars (results.py:467-470), a par_label whose
    pars_<label>.txt does not exist falls back to the full-width family. A
    directory with no segments of that family falls back to the regular
    load (the reference's could-not-load tolerance)."""
    run_id = os.path.basename(run_dir.rstrip("/"))
    if separated:
        if par_label and not os.path.exists(
            os.path.join(run_dir, f"pars_{par_label}.txt")
        ):
            par_label = None
        if par_label:
            seg_re = re.compile(r"chain_\d{14}_" + re.escape(par_label) + r"\.txt$")
            pars_name = f"pars_{par_label}.txt"
        else:
            seg_re, pars_name = SEPARATED_RE, "pars.txt"
        segs = sorted(
            p for p in glob.glob(os.path.join(run_dir, "chain_*.txt"))
            if seg_re.search(p)
        )
        if segs:
            return ChainRun(
                run_id, segs, read_pars_file(os.path.join(run_dir, pars_name))
            )
    candidates = [
        os.path.join(run_dir, "chain_1.txt"),
        os.path.join(run_dir, "chain_1.0.txt"),
    ]
    existing = [p for p in candidates if os.path.exists(p)] or sorted(
        glob.glob(os.path.join(run_dir, "chain_[0-9]*.txt"))
    )
    if not existing:
        raise FileNotFoundError(f"no chain file in {run_dir}")
    return ChainRun(
        run_id, existing[:1], read_pars_file(os.path.join(run_dir, "pars.txt"))
    )


def sampled_pars(run: ChainRun) -> list[str]:
    """The parameter names `read_chain_runs` gives values for: the leading
    pars that the first non-blank chain line has a column for (empty when
    the chain has no line). Reads one line, not the chain; assumes every
    line is as wide as the first."""
    for path in run.files:
        with open(path) as fh:
            for line in fh:
                width = len(line.split())
                if width:
                    return run.pars[: max(0, width - len(AUX_COLS))]
    return []


def read_chain_runs(
    spark: SparkSession, runs: list[ChainRun], burn_frac: float = 0.25
) -> DataFrame:
    """Every resolved run in one scan -> burned long form
    (run_id, step, par, value): the first floor(n_rows * burn_frac) lines
    of each run are dropped. n_rows is the run's count of non-blank lines,
    which is analytics.chains.burn_in's max(step) + 1 whenever the last
    line carries parameter values."""
    ids = [r.run_id for r in runs]
    if len(set(ids)) != len(ids):
        raise ValueError(f"run ids must be distinct: {sorted(ids)}")
    # input_file_name() is a URI: spaces arrive as %20 but '+' stays
    # literal, and url_decode alone would turn it into a space
    parent = F.regexp_extract(F.input_file_name(), r"([^/]+)/[^/]+$", 1)
    run_id = F.url_decode(F.regexp_replace(parent, r"\+", "%2B"))
    raw = (
        spark.read.text([p for r in runs for p in r.files])
        .filter(F.trim("value") != "")
        .select(
            run_id.alias("run_id"),
            F.input_file_name().alias("file"),
            F.monotonically_increasing_id().alias("mid"),
            F.expr(_ROW).alias("row"),
        )
        .repartition(
            min(len(runs), spark.sparkContext.defaultParallelism), "run_id"
        )
    )
    w = Window.partitionBy("run_id").orderBy("file", "mid")
    whole = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    pars = F.create_map(*[
        x
        for r in runs
        for x in (F.lit(r.run_id), F.array(*map(F.lit, r.pars)).cast("array<string>"))
    ])
    return (
        raw.select(
            "run_id",
            "row",
            (F.row_number().over(w) - 1).alias("step"),
            F.floor(F.count(F.lit(1)).over(whole) * burn_frac).alias("_burn"),
        )
        .filter(F.col("step") >= F.col("_burn"))
        .select(
            "run_id",
            "step",
            # a run id that decodes to no resolved run fails loudly
            # instead of dropping its rows
            F.coalesce(
                F.element_at(pars, F.col("run_id")),
                F.raise_error(F.concat(F.lit("chain row of unknown run "), "run_id")),
            ).alias("_pars"),
            F.posexplode(F.expr("slice(row, 1, size(row) - 4)")).alias("idx", "value"),
        )
        .filter(F.col("idx") < F.size("_pars"))
        .select(
            "run_id",
            "step",
            F.element_at("_pars", F.col("idx") + 1).alias("par"),
            "value",
        )
    )
