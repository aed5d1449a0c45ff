"""Deequ-style one-pass table profiler: the per-column health numbers an
operator checks before trusting a 100 TB table.

`profile_table` builds EVERY column's statistics as expressions inside a
single wide aggregate — one scan, one reduce, all JVM-side (no Python in
the pass) — then reshapes the 1-row result into a tidy per-column frame on
the driver (C rows, trivially small). Sketch-backed where exactness would
shuffle the key space: distinct counts via HLL++, quantiles via GK, the
modal value via Spark's mode() aggregate.

Profiles ANY table. Not in the oracle catalog (HLL/GK outputs
are engine-internal); correctness is pinned against exact pandas twins in
tests/test_profiling.py, the sketch-family precedent.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    BooleanType,
    ByteType,
    DateType,
    DecimalType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    ShortType,
    StringType,
    TimestampNTZType,
    TimestampType,
)

_NUMERIC = (
    ByteType, ShortType, IntegerType, LongType, FloatType, DoubleType,
    DecimalType,
)


def profile_table(
    df: DataFrame,
    columns: list[str] | None = None,
    rsd: float = 0.02,
    quantile_accuracy: int = 10_000,
    exact_quantiles: bool = False,
    histogram_bins: int = 0,
) -> DataFrame:
    """-> one row per profiled column:

        column, dtype, n_rows, n_null, null_rate, approx_distinct,
        min, max (stringified for cross-type tidiness),
        mean, stddev, p50, p95 (numeric columns; null otherwise),
        mode (most frequent non-null value, stringified),
        mean_length (string columns; null otherwise)

    Complex-typed columns (arrays/structs/maps/binary) get the
    null/distinct block only (distinct over their md5). The whole profile
    is ONE aggregate job regardless of column count.

    `exact_quantiles=True` replaces the GK p50/p95 with EXACT type-1
    order statistics: every numeric column is melted into one
    (column, value) stack and a single exact_rank_select call (staged
    histogram selection, operators/binning.py) resolves all of them
    together — the user pays O(log_B n) extra passes, never a global
    sort. The one-job plan pin applies only to the default sketch path.

    `histogram_bins` > 0 adds a `histogram` column for numeric columns —
    array<struct<x double, y double>> of (centroid, count) bins from
    Spark's streaming histogram aggregate (Ben-Haim & Tom-Tov, JMLR
    2010) — still inside the SAME single wide aggregate (the one-job pin
    holds). Bin centroids are merge-order-dependent (approximate by
    design); counts sum to the non-null count exactly."""
    if columns is None:
        columns = [f.name for f in df.schema.fields]
    fields = {f.name: f.dataType for f in df.schema.fields}
    unknown = [c for c in columns if c not in fields]
    if unknown:
        raise ValueError(f"profile_table: unknown columns {unknown}")

    aggs = [F.count(F.lit(1)).alias("__n")]
    for c in columns:
        dt = fields[c]
        q = f"`{c}`"
        aggs.append(F.count(F.when(F.col(c).isNull(), 1)).alias(f"{c}__nnull"))
        simple = isinstance(
            dt,
            _NUMERIC
            + (
                StringType, BooleanType, DateType, TimestampType,
                TimestampNTZType,
            ),
        )
        if simple:
            probe = F.col(c)
        elif isinstance(dt, BinaryType):
            probe = F.md5(F.col(c))
        else:  # arrays/structs/maps: a stable serialized spelling; keep
            # NULLs null (to_json would spell them '{}', a non-null value)
            probe = F.when(
                F.col(c).isNotNull(), F.md5(F.to_json(F.struct(F.col(c))))
            )
        aggs.append(F.approx_count_distinct(probe, rsd).alias(f"{c}__dist"))
        if simple:
            aggs.append(F.min(c).cast("string").alias(f"{c}__min"))
            aggs.append(F.max(c).cast("string").alias(f"{c}__max"))
            aggs.append(F.expr(f"cast(mode({q}) as string)").alias(f"{c}__mode"))
        else:
            for suffix in ("min", "max", "mode"):
                aggs.append(F.lit(None).cast("string").alias(f"{c}__{suffix}"))
        if isinstance(dt, _NUMERIC):
            aggs.append(F.round(F.avg(c).cast("double"), 6).alias(f"{c}__mean"))
            aggs.append(
                F.round(F.stddev_samp(F.col(c).cast("double")), 6).alias(
                    f"{c}__std"
                )
            )
            aggs.append(
                F.expr(
                    f"percentile_approx(cast({q} as double), "
                    f"array(0.5D, 0.95D), {quantile_accuracy})"
                ).alias(f"{c}__q")
            )
        else:
            aggs.append(F.lit(None).cast("double").alias(f"{c}__mean"))
            aggs.append(F.lit(None).cast("double").alias(f"{c}__std"))
            aggs.append(
                F.lit(None).cast("array<double>").alias(f"{c}__q")
            )
        if isinstance(dt, StringType):
            aggs.append(
                F.round(F.avg(F.length(c)), 6).alias(f"{c}__mlen")
            )
        else:
            aggs.append(F.lit(None).cast("double").alias(f"{c}__mlen"))
        if histogram_bins > 0:
            if isinstance(dt, _NUMERIC):
                aggs.append(
                    F.expr(
                        f"histogram_numeric(cast({q} as double), "
                        f"{int(histogram_bins)})"
                    ).alias(f"{c}__hist")
                )
            else:
                aggs.append(
                    F.lit(None)
                    .cast("array<struct<x: double, y: double>>")
                    .alias(f"{c}__hist")
                )

    row = df.agg(*aggs).collect()[0]
    n = row["__n"]

    exact_q: dict[tuple[str, float], float] = {}
    if exact_quantiles:
        from .operators.binning import exact_rank_select

        num_cols = [c for c in columns if isinstance(fields[c], _NUMERIC)]
        if num_cols:
            pairs = ", ".join(
                f"'{c}', cast(`{c}` as double)" for c in num_cols
            )
            melted = df.selectExpr(
                f"stack({len(num_cols)}, {pairs}) as (__pc, __pv)"
            )
            for r in exact_rank_select(
                melted, "__pc", "__pv", probs=(0.5, 0.95)
            ):
                exact_q[(r["group"], r["p"])] = r["value"]

    out = []
    for c in columns:
        if exact_quantiles and (c, 0.5) in exact_q:
            q = [exact_q[(c, 0.5)], exact_q[(c, 0.95)]]
        elif exact_quantiles and isinstance(fields[c], _NUMERIC):
            q = None  # all-null numeric column: no rank to select
        else:
            q = row[f"{c}__q"]
        vals = (
            c,
            fields[c].simpleString(),
            n,
            row[f"{c}__nnull"],
            round(row[f"{c}__nnull"] / n, 6) if n else 0.0,
            row[f"{c}__dist"],
            row[f"{c}__min"],
            row[f"{c}__max"],
            row[f"{c}__mean"],
            row[f"{c}__std"],
            float(q[0]) if q is not None else None,
            float(q[1]) if q is not None else None,
            row[f"{c}__mode"],
            row[f"{c}__mlen"],
        )
        if histogram_bins > 0:
            h = row[f"{c}__hist"]
            vals = vals + (
                [(float(b["x"]), float(b["y"])) for b in h]
                if h is not None
                else None,
            )
        out.append(vals)
    schema = (
        "column string, dtype string, n_rows long, n_null long, "
        "null_rate double, approx_distinct long, min string, max string, "
        "mean double, stddev double, p50 double, p95 double, mode string, "
        "mean_length double"
    )
    if histogram_bins > 0:
        schema += ", histogram array<struct<x: double, y: double>>"
    return df.sparkSession.createDataFrame(out, schema)


def profile_checks(
    profile: DataFrame,
    max_null_rate: float = 0.0,
    min_distinct: int | None = None,
    unique: tuple[str, ...] = (),
    not_null: tuple[str, ...] = (),
    rsd: float = 0.02,
) -> DataFrame:
    """Deequ-style constraint evaluation over a profile_table result ->
    (column, check, passed, observed). Sketch-aware: the `unique` check
    allows the HLL rsd band instead of demanding exact equality — pass
    the SAME rsd the profile was built with (a profile built at rsd=0.1
    judged against the default 0.02 band would falsely fail genuinely
    unique columns)."""
    rows = []
    for r in profile.collect():
        if r["column"] in not_null or max_null_rate is not None:
            required = 0.0 if r["column"] in not_null else max_null_rate
            rows.append(
                (
                    r["column"], "null_rate",
                    bool(r["null_rate"] <= required),
                    float(r["null_rate"]),
                )
            )
        if min_distinct is not None:
            rows.append(
                (
                    r["column"], "min_distinct",
                    bool(r["approx_distinct"] >= min_distinct),
                    float(r["approx_distinct"]),
                )
            )
        if r["column"] in unique:
            nn = r["n_rows"] - r["n_null"]
            ok = r["approx_distinct"] >= nn * (1 - 3 * rsd)
            rows.append(
                (r["column"], "unique", bool(ok), float(r["approx_distinct"]))
            )
    return profile.sparkSession.createDataFrame(
        rows, "column string, check string, passed boolean, observed double"
    )
