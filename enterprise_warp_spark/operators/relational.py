"""Core relational operators from the reference's analytics surface.

Reference semantics (file:line into /root/reference/enterprise_warp/):
  - tspan            A1: max(toas)-min(toas), global / grouped
                     (enterprise_warp.py:440-443,460; enterprise_models.py:508-539)
  - model_counts     A2: np.unique(round(nmodel), return_counts) (results.py:502-507)
  - log_bayes_factors A3: log(count_j/count_i) over model pairs (results.py:605-616)
  - credible_levels  A4: 16/50/84 percentiles (results.py:201-213)
  - census           A11: distinct flag values (libstempo_warp.py:60-75)
  - burnin_filter    P5: drop first 25% of samples (results.py:499-500)
  - thin             P6: stride slicing [::k] (results.py:670,691)

All are pure DataFrame plans; at scale the groupBys are map-side-combinable
hash aggregates and the only shuffle is on the (low-cardinality) group key.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def tspan(df: DataFrame, ts: Column | str, group_cols: Sequence[str] = ()) -> DataFrame:
    """A1 — observation span per group (or global when group_cols empty).

    For timestamps pass ``unix_micros(col)`` so arithmetic is exact int64.
    """
    ts = F.col(ts) if isinstance(ts, str) else ts
    agg = [
        (F.max(ts) - F.min(ts)).alias("tspan"),
        F.count(F.lit(1)).alias("n"),
    ]
    return df.groupBy(*group_cols).agg(*agg) if group_cols else df.agg(*agg)


def model_counts(df: DataFrame, nmodel: Column | str) -> DataFrame:
    """A2 — posterior sample counts per (rounded) model index."""
    nmodel = F.col(nmodel) if isinstance(nmodel, str) else nmodel
    return (
        df.select(F.round(nmodel, 0).cast("bigint").alias("nmodel"))
        .groupBy("nmodel")
        .agg(F.count(F.lit(1)).alias("n_samples"))
    )


def log_bayes_factors(counts: DataFrame, key: str = "nmodel", n: str = "n_samples") -> DataFrame:
    """A3 — ln(count_b/count_a) for every unordered model pair (a < b).

    counts is the tiny A2 output; the self-join is broadcast by size.
    """
    a = counts.select(F.col(key).alias("model_a"), F.col(n).alias("n_a"))
    b = counts.select(F.col(key).alias("model_b"), F.col(n).alias("n_b"))
    return (
        a.join(b, F.col("model_a") < F.col("model_b"))
        .select(
            "model_a",
            "model_b",
            "n_a",
            "n_b",
            F.round(F.log(F.col("n_b") / F.col("n_a")), 9).alias("log_bf"),
        )
    )


def credible_levels(
    df: DataFrame,
    value: Column | str,
    group_cols: Sequence[str] = (),
    probs: Sequence[float] = (0.16, 0.5, 0.84),
) -> DataFrame:
    """A4 — exact interpolated percentiles (reference uses numpy.percentile)."""
    value = F.col(value) if isinstance(value, str) else value
    aggs = [
        F.round(F.percentile(value, F.lit(p)), 6).alias(f"p{int(p * 100)}")
        for p in probs
    ]
    return df.groupBy(*group_cols).agg(*aggs) if group_cols else df.agg(*aggs)


def census(df: DataFrame, col: str, group_cols: Sequence[str] = ()) -> DataFrame:
    """A11 — distinct-value census of a flag/backend-like column."""
    if group_cols:
        return df.groupBy(*group_cols).agg(
            F.countDistinct(col).alias("n_distinct"), F.count(F.lit(1)).alias("n")
        )
    return df.select(col).distinct()


def _ranked(df: DataFrame, order_col: str) -> DataFrame:
    # Single global window: fine for chain-sized data; for huge tables prefer
    # a precomputed monotonically increasing step column.
    w = Window.orderBy(order_col)
    return df.withColumn("_rn", F.row_number().over(w)).withColumn(
        "_n", F.count(F.lit(1)).over(Window.partitionBy())
    )


def burnin_filter(df: DataFrame, order_col: str, frac: float = 0.25) -> DataFrame:
    """P5 — drop the first ``frac`` of rows in ``order_col`` order."""
    return (
        _ranked(df, order_col)
        .filter(F.col("_rn") > F.floor(F.lit(frac) * F.col("_n")))
        .drop("_rn", "_n")
    )


def thin(df: DataFrame, order_col: str, k: int, with_rank: bool = False) -> DataFrame:
    """P6 — keep rows at 0-based stride positions 0, k, 2k, ... in
    ``order_col`` order — numpy's chain[::k] (results.py:670,691): the FIRST
    sample is always kept (a rank-%k==0 predicate would drop it and shift
    the stride phase). with_rank=True keeps the internal 1-based `_rn`
    column for callers that report it."""
    out = _ranked(df, order_col).filter((F.col("_rn") - 1) % k == 0)
    return out.drop("_n") if with_rank else out.drop("_n", "_rn")


