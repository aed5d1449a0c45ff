"""Binning aggregations.

Reference semantics:
  - histogram_mode  A5: 50-bin histogram, left edge of argmax bin
                    (results.py:154-170 dist_mode_position)
  - ntile_bins      A8: sort by x, fixed-count bins of n/k rows, per-bin stats
                    (results.py:305-346 avg_ostat_bins)

Scale notes: histogram_mode computes (min,max) in one pass and broadcasts the
1-row stats to the bucketing pass — two scans, no wide shuffle (bucket
cardinality == bins). ntile_bins needs a total order; at cluster scale a
global window is a single-partition sort, so for >~10^8 rows replace with
range-partitioned approx quantile cuts. Fine at chain/pair cardinalities.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def histogram_mode(df: DataFrame, value: str, bins: int = 50) -> DataFrame:
    """A5 — returns one row: (bucket, cnt, mode_position=left bin edge)."""
    v = F.col(value)
    stats = df.agg(F.min(v).alias("_lo"), F.max(v).alias("_hi"))
    w = (F.col("_hi") - F.col("_lo")) / bins
    # constant column (min == max): zero bin width would DIVIDE_BY_ZERO
    # under ANSI mode — everything belongs in bucket 0 (mode_position = lo)
    bucket = F.when(F.col("_hi") == F.col("_lo"), F.lit(0).cast("bigint")).otherwise(
        F.least(F.floor((v - F.col("_lo")) / w).cast("bigint"), F.lit(bins - 1))
    )
    bucketed = (
        df.join(F.broadcast(stats))
        .select(bucket.alias("bucket"), "_lo", "_hi")
    )
    counted = bucketed.groupBy("bucket", "_lo", "_hi").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    return (
        counted.orderBy(F.desc("cnt"), F.asc("bucket"))
        .limit(1)
        .select(
            "bucket",
            "cnt",
            F.round(
                F.col("_lo") + F.col("bucket") * (F.col("_hi") - F.col("_lo")) / bins, 6
            ).alias("mode_position"),
        )
    )


def grouped_histogram(
    df: DataFrame, keys: Sequence[str], value: str, bins: int = 50
) -> DataFrame:
    """A5 grouped form — (keys..., bucket, cnt, lo, hi): per-group 50-bin
    histogram counts, the K7 plot-sink feeding aggregation. Two passes like
    histogram_mode (per-group min/max, then bucket+count); the stats join is
    broadcast (one row per group) and output is bounded by groups x bins,
    never by sample count — the property that makes the plot sink safe at
    100 TB."""
    keys = list(keys)
    v = F.col(value)
    stats = df.groupBy(*keys).agg(F.min(v).alias("_lo"), F.max(v).alias("_hi"))
    w = (F.col("_hi") - F.col("_lo")) / bins
    bucket = F.when(
        F.col("_hi") == F.col("_lo"), F.lit(0).cast("bigint")
    ).otherwise(
        F.least(F.floor((v - F.col("_lo")) / w).cast("bigint"), F.lit(bins - 1))
    )
    return (
        df.join(F.broadcast(stats), keys)
        .select(*keys, bucket.alias("bucket"), "_lo", "_hi")
        .groupBy(*keys, "bucket", "_lo", "_hi")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            *keys,
            "bucket",
            "cnt",
            F.col("_lo").alias("lo"),
            F.col("_hi").alias("hi"),
        )
    )


def ntile_bins(
    df: DataFrame,
    order_by: Sequence[str],
    n_bins: int = 8,
    aggs: Sequence[Column] = (),
) -> DataFrame:
    """A8 — ntile(n) over a tie-free total order, then per-bin aggregates.

    ``order_by`` must end with a unique key so the tiling is deterministic.
    """
    w = Window.orderBy(*order_by)
    tiled = df.withColumn("bin", F.ntile(n_bins).over(w))
    default_aggs = [F.count(F.lit(1)).alias("n")]
    return tiled.groupBy("bin").agg(*(list(aggs) or default_aggs))


def exact_rank_select(
    df: DataFrame,
    group: str,
    col: str,
    probs: Sequence[float] = (0.5,),
    buckets: int = 512,
    collect_cap: int = 100_000,
    max_levels: int = 8,
) -> list[dict]:
    """EXACT per-group order statistics WITHOUT a global sort — the staged
    histogram-selection algorithm (the classic distributed quickselect /
    BigQuery-style exact-percentile shape).

    For each group g with n non-null values and each p in `probs`, returns
    the exact element of rank floor((n-1)*p) + 1 (the type-1 discrete
    quantile) as a list of dicts: {group, p, rank, n, value}. NaN/NULL
    are excluded (they have no rank); +-inf ARE ranked (-inf sorts first,
    +inf last — the sorted-order contract) and resolve from the stats
    pass without touching the histogram machinery.

    Plan shape (100 TB): one count/min/max aggregate, then per level ONE
    histogram aggregate over all still-active (group, p) tasks at once —
    rows join the broadcast task table, bucket via the task's own
    [lo, hi] split, count per (task, bucket); the driver walks cumulative
    counts to pick the rank's bucket and narrows. A bucket whose count
    <= collect_cap is resolved by one final filtered collect + local
    sort (bounded by collect_cap rows per task). With 512 buckets a
    10^12-row column resolves in <= 4 histogram passes; no stage ever
    sorts more than collect_cap rows. Compare approx_quantiles_by (GK):
    that streams one pass with rank error; this is exact in O(log_B n)
    passes. Bucket membership re-uses the SAME floor expression that
    built the histogram, so float boundary rounding can never drop or
    double-count a row between passes."""
    import math

    if not 1 <= buckets:
        raise ValueError(f"buckets must be >= 1, got {buckets}")
    for p in probs:
        if not 0.0 <= p <= 1.0:
            raise ValueError(f"prob {p} outside [0, 1]")
    base = df.select(
        F.col(group).alias("__g"), F.col(col).cast("double").alias("__v")
    ).filter(F.col("__v").isNotNull() & ~F.isnan("__v"))
    # +-inf sort deterministically (-inf prefix, +inf suffix) but poison
    # histogram arithmetic (infinite range -> NaN buckets), so the stats
    # pass counts them separately and keeps min/max over FINITE values;
    # ranks landing in an inf zone resolve here, the finite middle becomes
    # a sub-problem with shifted rank, and the join frames below see only
    # finite rows
    inf = F.lit(float("inf"))
    stats = base.groupBy("__g").agg(
        F.count(F.lit(1)).alias("n"),
        F.count(F.when(F.col("__v") == -inf, 1)).alias("n_neg"),
        F.count(F.when(F.col("__v") == inf, 1)).alias("n_pos"),
        F.min(F.when(F.abs("__v") != inf, F.col("__v"))).alias("mn"),
        F.max(F.when(F.abs("__v") != inf, F.col("__v"))).alias("mx"),
    ).collect()
    fin = base.filter(F.abs("__v") != inf)

    tasks = []
    for r in stats:
        for p in probs:
            rank = math.floor((r["n"] - 1) * p) + 1
            if rank <= r["n_neg"]:
                value, k, cnt, lo, hi = float("-inf"), 0, 0, 0.0, 0.0
            elif rank > r["n"] - r["n_pos"]:
                value, k, cnt, lo, hi = float("inf"), 0, 0, 0.0, 0.0
            else:
                k = rank - r["n_neg"]
                cnt = r["n"] - r["n_neg"] - r["n_pos"]
                lo, hi = float(r["mn"]), float(r["mx"])
                # min == max: the whole finite zone is one value —
                # resolved with no further passes regardless of group size
                value = lo if lo >= hi else None
            tasks.append(
                dict(
                    group=r["__g"], p=float(p), rank=int(rank), n=int(r["n"]),
                    lo=lo, hi=hi, k=int(k), count=int(cnt), constraints=[],
                    value=value,
                )
            )
    spark = df.sparkSession

    # one SCAN per pass, not one scan per task: rows equi-join the tiny
    # broadcast task table on the group key, a forall() over the task's
    # constraint structs replays every prior level's bucket test, and the
    # current level's bucket comes from the task row's own [lo, hi]
    def _task_df(ts):
        from pyspark.sql.types import (
            ArrayType,
            DoubleType,
            IntegerType,
            StructField,
            StructType,
        )

        gtype = base.schema["__g"].dataType
        schema = StructType(
            [
                StructField("__task", IntegerType()),
                StructField("__tg", gtype),
                StructField(
                    "__cons",
                    ArrayType(
                        StructType(
                            [
                                StructField("lo", DoubleType()),
                                StructField("hi", DoubleType()),
                                StructField("b", IntegerType()),
                            ]
                        )
                    ),
                ),
                StructField("__lo", DoubleType()),
                StructField("__hi", DoubleType()),
            ]
        )
        rows = [
            (
                i,
                t["group"],
                [(float(lo), float(hi), int(b)) for lo, hi, b in t["constraints"]],
                float(t["lo"]),
                float(t["hi"]),
            )
            for i, t in enumerate(ts)
        ]
        return spark.createDataFrame(rows, schema)

    # bucket spelling is overflow-proof for full-double-range data:
    # (v/2 - lo/2) never overflows where (v - lo) can (a [-1e308, 1e308]
    # range doubles past DBL_MAX), and the ratio is clamped into [-1, B]
    # BEFORE floor/cast so an extreme value replayed against a narrow
    # later-level constraint can't push the int cast out of range. The
    # active-task guard below keeps the denominator > 0.
    def _bexpr(v, lo, hi):
        q = f"(({v}/2 - {lo}/2) / ({hi}/2 - {lo}/2) * {buckets})"
        return (
            f"least({buckets - 1}, greatest(0, cast(floor("
            f"least(greatest({q}, -1.0D), {float(buckets)!r}D)) as int)))"
        )

    _member = f"forall(__cons, c -> {_bexpr('__v', 'c.lo', 'c.hi')} = c.b)"
    _cur_bucket = _bexpr("__v", "__lo", "__hi")

    for _level in range(max_levels):
        # a range that collapses MID-narrowing (float width underflow) may
        # still hold several ulp-adjacent distinct doubles, so it is NOT
        # assumed single-valued — it drops out of the histogram loop here
        # and resolves exactly in the final collect (its row count is the
        # last bucket count, ulp-narrow in any non-adversarial data)
        active = [
            t for t in tasks
            if t["value"] is None and t["count"] > collect_cap
            and t["hi"] / 2 - t["lo"] / 2 > 0  # bucket denominator > 0
        ]
        if not active:
            break
        joined = fin.join(
            F.broadcast(_task_df(active)), base["__g"] == F.col("__tg")
        ).filter(F.expr(_member))
        hist = (
            joined.groupBy("__task", F.expr(_cur_bucket).alias("__b"))
            .agg(F.count(F.lit(1)).alias("c"))
            .collect()
        )
        counts: dict = {}
        for r in hist:
            counts.setdefault(r["__task"], {})[r["__b"]] = r["c"]
        for i, t in enumerate(active):
            cum = 0
            for b in range(buckets):
                c = counts.get(i, {}).get(b, 0)
                if cum + c >= t["k"]:
                    t["constraints"].append((t["lo"], t["hi"], b))
                    # halved form: (hi - lo) overflows for full-range data
                    width = t["hi"] / buckets - t["lo"] / buckets
                    t["lo"], t["hi"] = (
                        t["lo"] + b * width,
                        t["lo"] + (b + 1) * width,
                    )
                    t["k"] -= cum
                    t["count"] = c
                    break
                cum += c
    # final exact pick: one filtered collect over all remaining tasks in
    # one job (bounded by collect_cap rows per task).  Tasks can exit the
    # histogram loop still holding count > collect_cap — max_levels
    # exhaustion, or a ulp-collapsed range (hi <= lo) packed with ties —
    # so the row collect is NOT trusted for those: they resolve through a
    # distinct-VALUE-count aggregate instead (bounded by the number of
    # distinct doubles in the final range, which a count-distinct pass
    # verifies <= collect_cap first; beyond that we raise rather than pull
    # unbounded rows to the driver).
    pending = [t for t in tasks if t["value"] is None]
    small = [t for t in pending if t["count"] <= collect_cap]
    big = [t for t in pending if t["count"] > collect_cap]
    if small:
        rows = (
            fin.join(
                F.broadcast(_task_df(small)), fin["__g"] == F.col("__tg")
            )
            .filter(F.expr(_member))
            .select("__task", "__v")
            .collect()
        )
        by_task: dict = {}
        for r in rows:
            by_task.setdefault(r["__task"], []).append(r["__v"])
        for i, t in enumerate(small):
            vs = sorted(by_task.get(i, []))
            if not (1 <= t["k"] <= len(vs)):
                raise RuntimeError(
                    f"exact_rank_select bookkeeping: k={t['k']} of {len(vs)}"
                )
            t["value"] = vs[t["k"] - 1]
    if big:
        bjoined = fin.join(
            F.broadcast(_task_df(big)), fin["__g"] == F.col("__tg")
        ).filter(F.expr(_member))
        ndist = {
            r["__task"]: r["nd"]
            for r in bjoined.groupBy("__task")
            .agg(F.countDistinct("__v").alias("nd"))
            .collect()
        }
        over = {
            big[i]["group"]: nd
            for i, nd in ndist.items()
            if nd > collect_cap
        }
        if over:
            raise ValueError(
                "exact_rank_select: range could not be narrowed under "
                f"collect_cap={collect_cap} for groups {sorted(over)} "
                f"(distinct values in final range: {over}); raise "
                "max_levels, buckets, or collect_cap"
            )
        vrows = (
            bjoined.groupBy("__task", "__v")
            .agg(F.count(F.lit(1)).alias("c"))
            .collect()
        )
        by_task2: dict = {}
        for r in vrows:
            by_task2.setdefault(r["__task"], []).append((r["__v"], r["c"]))
        for i, t in enumerate(big):
            cum = 0
            for v, c in sorted(by_task2.get(i, [])):
                cum += c
                if cum >= t["k"]:
                    t["value"] = v
                    break
            if t["value"] is None:
                raise RuntimeError(
                    f"exact_rank_select bookkeeping: k={t['k']} of {cum}"
                )
    return [
        {k: t[k] for k in ("group", "p", "rank", "n", "value")}
        for t in tasks
    ]
