"""S6b — bilby-result JSON posterior source.

Reference: `BilbyWarpResult` (results.py:1050-1081) loads a run's
`<label>_result.json` (falling back to `glob(outdir + "*_result.json")[0]`,
results.py:1056-1064) via `bilby.result.read_in_result`, then exposes
`chain = np.array(result.posterior)` and `pars = result.parameter_labels`
(results.py:1070-1078) so the whole chain-analytics stack (burn-in, credible
levels, noise summarization, ...) runs on bilby output exactly as on PTMCMC
chain_1.txt matrices.

Public bilby JSON layout (bilby.core.result.Result.to_json with
BilbyJsonEncoder): a single JSON document whose `posterior` field is the
encoded pandas DataFrame {"__dataframe__": true, "content": {col: [values]}}
with one list per column — sampled parameters plus `log_likelihood` /
`log_prior` — and whose `parameter_labels` / `search_parameter_keys` list the
sampled parameter names in order.

Spark shape: `spark.read.json(multiLine)` parses the document JVM-side (one
task per result file; a directory of runs parallelizes per file), the column
lists are zipped with `arrays_zip` and `posexplode` assigns the step index —
no driver-side JSON parse of the (potentially large) posterior arrays. The
output is the wide chain form (run_id, step, values, lnpost, lnlike,
accept, pt); `analytics.results_pipeline` explodes it into the same long
form the PTMCMC runs load into, so every §3.2 analytics operator runs
unchanged. lnpost = log_likelihood + log_prior; bilby stores no accept/pt
columns, so they are filled with 1.0 / 0.0 (the values PTMCMC writes for
an always-kept zero-temperature chain).
"""

from __future__ import annotations

import glob
import os
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType


class BilbyRun(NamedTuple):
    """One bilby result: the chain plus what the driver learns reading it."""

    chain: DataFrame  # (run_id, step, values, lnpost, lnlike, accept, pt)
    labels: list[str]  # sampled parameters, in `values` order
    n_samples: int  # rows in `chain`


def load_bilby_result(
    spark: SparkSession, path: str, run_id: str | None = None
) -> BilbyRun:
    """Result JSON -> BilbyRun. The labels and the posterior's array sizes
    come back in the one row the label lookup already fetches."""
    run_id = run_id or os.path.basename(path).replace("_result.json", "") or "run"
    raw = spark.read.option("multiLine", "true").json(path)
    field_names = [f.name for f in raw.schema.fields]
    label_col = (
        "parameter_labels"
        if "parameter_labels" in field_names
        else "search_parameter_keys"
    )
    content_fields = raw.schema["posterior"].dataType["content"].dataType.fields
    content = [f.name for f in content_fields]
    arrays = [f.name for f in content_fields if isinstance(f.dataType, ArrayType)]
    head = raw.select(
        label_col, *[F.size(f"posterior.content.`{c}`") for c in arrays]
    ).first()
    labels = list(head[0])
    size_of = dict(zip(arrays, head[1:]))
    missing = [p for p in labels if p not in content]
    if missing:
        raise ValueError(
            f"bilby result {path}: posterior.content lacks sampled parameters "
            f"{missing} (has {content})"
        )
    has_lp = "log_prior" in content
    aliased = raw.select(
        *[
            F.col(f"posterior.content.`{p}`").alias(f"_p{i}")
            for i, p in enumerate(labels)
        ],
        F.col("posterior.content.log_likelihood").alias("_ll"),
        (
            F.col("posterior.content.log_prior")
            if has_lp
            else F.expr("transform(posterior.content.log_likelihood, x -> double(0.0))")
        ).alias("_lp"),
    )
    zipped = aliased.select(
        F.posexplode(
            F.arrays_zip(
                *[F.col(f"_p{i}") for i in range(len(labels))], F.col("_ll"), F.col("_lp")
            )
        ).alias("step", "s")
    )
    chain = zipped.select(
        F.lit(run_id).alias("run_id"),
        F.col("step"),
        F.array(
            *[F.col(f"s._p{i}").cast("double") for i in range(len(labels))]
        ).alias("values"),
        (F.col("s._ll") + F.col("s._lp")).cast("double").alias("lnpost"),
        F.col("s._ll").cast("double").alias("lnlike"),
        F.lit(1.0).alias("accept"),
        F.lit(0.0).alias("pt"),
    )
    # posexplode(arrays_zip(...)) yields as many rows as the longest array
    zip_cols = labels + ["log_likelihood"] + (["log_prior"] if has_lp else [])
    return BilbyRun(chain, labels, max(size_of[c] for c in zip_cols))


def bilby_result_path(run_dir: str) -> str:
    """Resolve a run directory's result file the way the reference does
    without a label (results.py:1056-1064): the first `*_result.json` glob
    match."""
    matches = sorted(glob.glob(os.path.join(run_dir, "*_result.json")))
    if not matches:
        raise FileNotFoundError(f"no *_result.json in {run_dir}")
    return matches[0]

