"""Compat sinks (SURVEY §2.1 K2/K4): reference-format artifacts written
from DataFrames. Parquet is the native output everywhere else; these exist
so downstream consumers of the reference's file formats keep working."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame


def write_noise_json_files(noise, out_dir: str) -> list[str]:
    """K2 — one sorted-key flat JSON per run_id (PAL2 format,
    results.py:236-248). noise: a (run_id, par, value) DataFrame, or the
    collected rows of analytics.chains.stats_by_run."""
    from enterprise_warp_spark.analytics.chains import noise_files_json

    if isinstance(noise, DataFrame):
        noise = noise_files_json(noise).collect()
    os.makedirs(out_dir, exist_ok=True)
    paths = []
    for r in noise:
        p = os.path.join(out_dir, f"{r['run_id']}_noise.json")
        with open(p, "w") as fh:
            fh.write(r["noise_json"] + "\n")
        paths.append(p)
    return paths


def write_covm_csv(covm: DataFrame, path: str) -> None:
    """K4 — dense CSV export of the long-form covariance
    (results.py:542-553); pivot happens only here, at the edge."""
    from enterprise_warp_spark.analytics.covariance import covm_to_dense

    dense = covm_to_dense(covm).orderBy("row_par")
    pdf = dense.toPandas()
    pdf.to_csv(path, index=False)


