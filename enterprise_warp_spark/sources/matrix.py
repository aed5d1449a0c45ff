"""S7 — covariance-matrix source (cov.npy).

Reference: cov.npy per run dir (results.py:562). .npy has no splittable
reader, so ingest is a one-shot driver-side conversion to the long-form
covm table (small matrices).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def ingest_npy(spark: SparkSession, npy_path: str, par_names: list[str], run_id: str = "run") -> DataFrame:
    """cov.npy -> long form (driver-side numpy load; matrices are npar^2)."""
    import numpy as np

    m = np.load(npy_path)
    rows = [
        (run_id, par_names[i], par_names[j], float(m[i, j]))
        for i in range(m.shape[0])
        for j in range(m.shape[1])
    ]
    return spark.createDataFrame(
        rows, "run_id string, row_par string, col_par string, value double"
    )
