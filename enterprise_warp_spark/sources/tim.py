"""S1 — .tim TOA scan.

Reference behavior (enterprise_warp/enterprise_warp.py:648-660 ``read_tim``):
rows are `<src> <freq_MHz> <toa_MJD> <toa_err_us> <obs> [-flag value ...]`;
only lines starting with a space are active TOAs (line_elements[0]=='' at
:658) — `FORMAT`/`MODE` headers and `C`-commented rows are dropped. Trailing
`-flag value` pairs form an open-ended string->string map per row.

TOA MJDs carry ~19 significant digits (ns over decades): kept as both
DECIMAL(27,19) and the raw string (precision round-trip, SURVEY §1.9).

The parse is a filter and two projections over spark.read.text: splits,
slices and a map_from_arrays — whole-stage codegen, parallel over file
splits at scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TOA_SCHEMA = (
    "psr string, src string, freq_mhz double, toa_mjd decimal(27,19), "
    "toa_mjd_str string, toa_err_us double, obs string, flags map<string,string>"
)


def read_tim(spark: SparkSession, paths: str | list[str]) -> DataFrame:
    """Parse one or many .tim files into the `toas` table; psr from filename.

    The plan is built from SQL text (a filter and two expression lists),
    so its driver cost does not grow with one py4j call per column."""
    # active TOAs start with whitespace (reference: line_elements[0] == '')
    fields = spark.read.text(paths).where(r"value RLIKE '^\\s\\S'").selectExpr(
        r"regexp_extract(input_file_name(), '([^/]+)\\.tim', 1) AS psr",
        r"split(trim(value), '\\s+') AS f",
    )
    return fields.selectExpr(
        "psr",
        "f[0] AS src",
        "CAST(f[1] AS DOUBLE) AS freq_mhz",
        "CAST(f[2] AS DECIMAL(27,19)) AS toa_mjd",
        "f[2] AS toa_mjd_str",
        "CAST(f[3] AS DOUBLE) AS toa_err_us",
        "f[4] AS obs",
        # trailing "-key value" pairs -> MAP<STRING,STRING>. Guards:
        # rows with no flags (size(f)=5; sequence(6,5) would DESCEND) and
        # a dangling key with no value (i < size(f)).
        "IF(size(f) >= 7,"
        " map_from_arrays("
        "  transform(filter(sequence(6, size(f)), i -> (i - 6) % 2 = 0 AND i < size(f)),"
        "            i -> substring(element_at(f, i), 2)),"
        "  transform(filter(sequence(6, size(f)), i -> (i - 6) % 2 = 0 AND i < size(f)),"
        "            i -> element_at(f, i + 1))),"
        " map()) AS flags",
    )


def read_tim_tables(spark: SparkSession, paths: list[str]) -> dict:
    """Every .tim file in one scan, collected once -> {file name: pandas
    `toas` table}, one entry per path (no rows for a file with no TOA).
    Each table keeps its file's line order and adds `toa_idx`, the TOA's
    index in that order (a tie-breaker for TOAs that share a time). The
    collect returns the scan's partitions in order and a file's splits in
    offset order, so a stable split by file keeps it."""
    import os
    from urllib.parse import unquote

    toas = (
        read_tim(spark, paths)
        .withColumn("_file", F.regexp_extract(F.input_file_name(), "[^/]*$", 0))
        .toPandas()
    )
    toas["toa_idx"] = toas.groupby("_file", sort=False).cumcount().astype("int64")
    # input_file_name() is a URI: a space in the name arrives as %20
    files = toas.pop("_file").map(unquote)
    out = {os.path.basename(p): toas.iloc[:0] for p in paths}
    for name, rows in toas.groupby(files, sort=False):
        out[name] = rows.reset_index(drop=True)
    return out


