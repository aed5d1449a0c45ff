"""Event-sequence analytics: funnels and retention cohorts.

The product-analytics pair every event warehouse grows, expressed as
plain DataFrame ops over the (user_id, event_type, ts) shape of the
`events` table. The funnel uses EARLIEST-ANCHOR semantics (each user's
window anchors at their first step-1 event); ClickHouse windowFunnel /
Amplitude re-anchor on window expiry and can count strictly more
windowed conversions — documented difference, not an equivalence claim.

Scale shape:

- `funnel` is k-1 self-joins for a k-step funnel, but each join is a
  per-user EQUI-join on user_id against an already per-user-aggregated
  (one row per user per step) frame — never row-level event x event.
  Cost: k tiny aggregates over the events scan + k-1 joins on user_id.
  Step counts are monotone by construction.
- `retention_cohorts` is two hash aggregates (first-seen per user, then
  cohort x offset counts) — one shuffle each on user_id/cohort.

Both are exactly SQL-expressible; the tests pin them against DuckDB
twins on the real events table.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def funnel(
    events: DataFrame,
    steps: Sequence[str],
    within_us: int | None = None,
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts_us",
) -> DataFrame:
    """Ordered-funnel conversion: for each step i, the number of users who
    performed steps[0..i] IN ORDER (each step strictly after the previous
    one; the whole sequence within `within_us` of step 1 when given)
    -> (step, event_type, n_users), step 1-based, counts monotone
    non-increasing.

    Semantics: earliest-completion matching — a user's step-i time is the
    MIN timestamp of an event of type steps[i] strictly after their
    step-(i-1) time. Earliest matching is the standard funnel definition
    and makes the result order-independent of event duplication."""
    if not steps:
        raise ValueError("funnel needs at least one step")
    from pyspark.sql.types import TimestampType

    ts_type = dict((f.name, f.dataType) for f in events.schema.fields).get(ts_col)
    if isinstance(ts_type, TimestampType):
        raise ValueError(
            f"funnel: {ts_col!r} is a TIMESTAMP — casting it to long yields "
            "epoch SECONDS and silently breaks the microsecond window; pass "
            "the epoch-microsecond column (e.g. ts_us) instead"
        )
    # step 1: each user's earliest occurrence (hash aggregate, no arrays —
    # a hot user with millions of events never materializes a giant list)
    cur = (
        events.filter(F.col(type_col) == steps[0])
        .groupBy(F.col(user_col).alias("u"))
        .agg(F.min(F.col(ts_col).cast("long")).alias("__t"))
        .withColumn("__t0", F.col("__t"))
    )
    counts = [(1, steps[0], cur)]
    for i, s in enumerate(steps[1:], start=1):
        ev = events.filter(F.col(type_col) == s).select(
            F.col(user_col).alias("u"), F.col(ts_col).cast("long").alias("__ts")
        )
        # earliest event of this step strictly after the previous step time:
        # equi-join on user, filter, min — volume is this step's events
        joined = (
            ev.join(cur, "u")
            .filter(F.col("__ts") > F.col("__t"))
            .groupBy("u", "__t0")
            .agg(F.min("__ts").alias("__t"))
        )
        if within_us is not None:
            joined = joined.filter(
                F.col("__t") - F.col("__t0") <= F.lit(int(within_us))
            )
        cur = joined
        counts.append((i + 1, s, cur))
    spark = events.sparkSession
    out = None
    for step_no, s, frame in counts:
        row = frame.agg(F.countDistinct("u").alias("n")).select(
            F.lit(step_no).alias("step"),
            F.lit(s).alias("event_type"),
            F.col("n").alias("n_users"),
        )
        out = row if out is None else out.unionByName(row)
    return out


def retention_cohorts(
    events: DataFrame,
    period_us: int,
    user_col: str = "user_id",
    ts_col: str = "ts_us",
    max_offset: int | None = None,
) -> DataFrame:
    """Cohort retention matrix: users grouped by their FIRST-seen period
    (cohort); for each later period offset, how many of them were active
    -> (cohort_us, offset, n_users), offset 0 = the cohort period itself
    (n_users = cohort size)."""
    if period_us <= 0:
        raise ValueError(f"period_us must be positive, got {period_us}")
    pu = (F.floor(F.col(ts_col).cast("long") / period_us) * period_us).cast(
        "long"
    )
    activity = events.select(
        F.col(user_col).alias("u"), pu.alias("__p")
    ).distinct()
    first = activity.groupBy("u").agg(F.min("__p").alias("__cohort"))
    joined = activity.join(first, "u").select(
        "__cohort",
        ((F.col("__p") - F.col("__cohort")) / period_us).cast("long").alias(
            "offset"
        ),
        "u",
    )
    if max_offset is not None:
        joined = joined.filter(F.col("offset") <= max_offset)
    return (
        joined.groupBy(F.col("__cohort").alias("cohort_us"), "offset")
        .agg(F.countDistinct("u").alias("n_users"))
    )


