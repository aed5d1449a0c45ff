"""S5/J2 — PAL2 noise-file JSON source.

Reference: get_noise_dict (enterprise_warp.py:583-597) globs *_noise.json
files, keeps those whose FILENAME contains a wanted pulsar name (a substring
join), and flattens `{"<PSR>_<BACKEND>_<param>": value}` into constants.

Spark shape: wholetext read -> from_json to MAP<STRING,DOUBLE> -> explode;
the psr/backend/param split is by expression. The substring join against the
pulsar allow-list is a broadcast theta-join (tiny dimension side).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def read_noise_files(spark: SparkSession, paths: str | list[str]) -> DataFrame:
    raw = spark.read.text(paths, wholetext=True).select(
        F.input_file_name().alias("path"),
        F.from_json("value", "map<string,double>").alias("kv"),
    )
    exploded = raw.select("path", F.explode("kv").alias("key", "value"))
    # key = <PSR>_<BACKEND>_<param>; PSR is the leading Jxxxx+/-xxxx token,
    # param is the known trailing token set, backend is the middle.
    return exploded.select(
        "path",
        F.regexp_extract("key", r"^([JB]\d{4}[+-]\d{4}[A-Za-z]?)_", 1).alias("psr"),
        F.col("key"),
        F.col("value"),
    )


def apply_noise_dict(residuals: DataFrame, noise: DataFrame) -> DataFrame:
    """Apply a noise dictionary DISTRIBUTEDLY — the reference's 'rebuild the
    PTA with the noise dictionary applied' step (the OS flow takes noise
    parameters from the posterior/noise files before correlating,
    results.py:710-734) as a broadcast column join instead of a driver dict:

      noise rows (read_noise_files) -> pivot to one row per (psr, backend)
      with efac / log10_equad / log10_ecorr -> broadcast-join on the
      residual rows' (psr, backend) -> COALESCE onto the efac/equad data
      columns (existing values kept where unbound) + an `ecorr` seconds
      column ready for per_pulsar_reduction(ecorr_col='ecorr').

    The noise side is tiny (one row per pulsar-backend) — always broadcast;
    the TOA side is never reshuffled.
    """
    if "backend" not in residuals.columns:
        # fail at plan time with a clear message, not as an opaque
        # AnalysisException deep inside run_os_pipeline (noise-file keys are
        # per-(psr, backend); a backendless residual table cannot bind them)
        raise ValueError(
            "apply_noise_dict needs a 'backend' column in residuals to join "
            "the per-(psr, backend) noise-file parameters onto; got columns "
            f"{residuals.columns}"
        )
    parsed = noise.withColumn(
        "rest", F.expr("substring(key, length(psr) + 2)")
    )
    per = (
        parsed.withColumn(
            "param",
            F.when(F.col("rest").endswith("_log10_equad"), "log10_equad")
            .when(F.col("rest").endswith("_log10_ecorr"), "log10_ecorr")
            .when(F.col("rest").endswith("_efac"), "efac"),
        )
        .filter(F.col("param").isNotNull())
        .withColumn(
            "backend",
            F.expr("substring(rest, 1, length(rest) - length(param) - 1)"),
        )
        .groupBy("psr", "backend")
        .pivot("param", ["efac", "log10_equad", "log10_ecorr"])
        .agg(F.first("value"))
        .withColumnRenamed("efac", "nf_efac")
        .withColumnRenamed("log10_equad", "nf_log10_equad")
        .withColumnRenamed("log10_ecorr", "nf_log10_ecorr")
    )
    out = residuals.join(F.broadcast(per), ["psr", "backend"], "left")
    return (
        out.withColumn("efac", F.coalesce(F.col("nf_efac"), F.col("efac")))
        .withColumn(
            "equad",
            F.coalesce(F.pow(F.lit(10.0), F.col("nf_log10_equad")), F.col("equad")),
        )
        .withColumn(
            "ecorr",
            F.coalesce(
                F.pow(F.lit(10.0), F.col("nf_log10_ecorr")),
                F.col("ecorr") if "ecorr" in residuals.columns else F.lit(0.0),
            ),
        )
        .drop("nf_efac", "nf_log10_equad", "nf_log10_ecorr")
    )


def white_noise_constants(noise: DataFrame, psr: str) -> dict[str, float]:
    """O2/F16 — turn PAL2 noise-file rows into the kernel's `fixed` dict:
    '<PSR>_<BACKEND>_efac' -> efac_<BACKEND>, '..._log10_equad' ->
    log10_equad_<BACKEND> (kept in log space; the kernel applies 10**x,
    mirroring readconstpar's transform at enterprise_warp.py:571-581).
    Driver-side collect: noise files are tiny constants stores."""
    out: dict[str, float] = {}
    for row in noise.filter(F.col("psr") == psr).collect():
        key, value = row["key"], row["value"]
        rest = key[len(psr) + 1 :] if key.startswith(psr + "_") else key
        for suffix, kernel_name in (
            ("_log10_equad", "log10_equad"),
            ("_log10_ecorr", "log10_ecorr"),
            ("_efac", "efac"),
        ):
            if rest.endswith(suffix):
                backend = rest[: -len(suffix)]
                name = f"{kernel_name}_{backend}" if backend else kernel_name
                out[name] = float(value)
                break
    return out
