"""As-of join / interval join / time_bucket unit tests (operators/temporal.py)
against hand-computed expectations, plus plan-shape assertions: the whole
point of these operators is that they compile to single-shuffle / equi-join
plans, never nested-loop theta joins."""

from __future__ import annotations

from pyspark.sql import Row
from pyspark.sql import functions as F

from enterprise_warp_spark.operators.temporal import (
    asof_join,
    interval_join,
    time_bucket,
)


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "extended"
    )


def test_asof_join_basic(spark):
    left = spark.createDataFrame(
        [(1, 10, "a"), (1, 20, "b"), (1, 5, "c"), (2, 7, "d")],
        "k int, t int, tag string",
    )
    right = spark.createDataFrame(
        [(1, 8, 1.0), (1, 15, 2.0), (2, 9, 3.0)], "k int, t int, v double"
    )
    out = {
        r["tag"]: (r["match"]["t"] if r["match"] else None)
        for r in asof_join(left, right, on="k", ts="t").collect()
    }
    # a(t=10) -> right t=8; b(t=20) -> t=15; c(t=5) -> none; d(t=7, k=2) -> none (9>7)
    assert out == {"a": 8, "b": 15, "c": None, "d": None}


def test_asof_join_tie_is_inclusive(spark):
    left = spark.createDataFrame([(1, 10)], "k int, t int")
    right = spark.createDataFrame([(1, 10, 7.0)], "k int, t int, v double")
    [row] = asof_join(left, right, on="k", ts="t").collect()
    assert row["match"]["v"] == 7.0


def test_asof_join_no_join_node(spark):
    """The as-of join must NOT be a join at all — union + window, one
    shuffle, no cartesian/nested-loop anywhere."""
    left = spark.createDataFrame([(1, 10)], "k int, t int")
    right = spark.createDataFrame([(1, 8, 1.0)], "k int, t int, v double")
    p = _plan(asof_join(left, right, on="k", ts="t"))
    assert "CartesianProduct" not in p
    assert "NestedLoop" not in p
    assert "Join" not in p.split("== Physical Plan ==")[-1]


def test_interval_join_membership(spark):
    iv = spark.createDataFrame(
        [(1, 100, 200, "w1"), (1, 150, 260, "w2"), (2, 0, 50, "w3")],
        "k int, s long, e long, wid string",
    )
    pt = spark.createDataFrame(
        [(1, 100), (1, 199), (1, 200), (1, 250), (2, 49), (2, 50), (3, 120)],
        "k int, t long",
    )
    got = {
        (r["wid"], r["point"]["t"])
        for r in interval_join(
            iv, pt, on="k", start="s", end="e", point_ts="t", bucket=128
        ).collect()
    }
    # [start, end): 200 excluded from w1, included in w2; 50 excluded from w3
    assert got == {
        ("w1", 100),
        ("w1", 199),
        ("w2", 199),
        ("w2", 200),
        ("w2", 250),
        ("w3", 49),
    }


def test_interval_join_is_equi_join(spark):
    iv = spark.createDataFrame([(1, 100, 200)], "k int, s long, e long")
    pt = spark.createDataFrame([(1, 150)], "k int, t long")
    p = _plan(
        interval_join(iv, pt, on="k", start="s", end="e", point_ts="t", bucket=256)
    )
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_interval_join_wide_interval_spans_buckets(spark):
    """Intervals wider than the bucket grid still match every point (the
    explode covers ceil(width/bucket)+1 cells)."""
    iv = spark.createDataFrame([(1, 0, 1000, "w")], "k int, s long, e long, wid string")
    pt = spark.createDataFrame([(1, t) for t in range(0, 1000, 37)], "k int, t long")
    n = interval_join(
        iv, pt, on="k", start="s", end="e", point_ts="t", bucket=100
    ).count()
    assert n == len(range(0, 1000, 37))


def test_time_bucket(spark):
    df = spark.createDataFrame([(0,), (999_999,), (1_000_000,), (2_500_000,)], "t long")
    got = [r[0] for r in df.select(time_bucket("t", 1_000_000)).collect()]
    assert got == [0, 0, 1_000_000, 2_000_000]


def test_salted_join_equals_plain_join(spark):
    from enterprise_warp_spark.operators.skew import salted_join

    left = spark.createDataFrame(
        [(k, i) for k in ("hot", "cold") for i in range(50 if k == "hot" else 3)],
        "k string, i int",
    )
    right = spark.createDataFrame(
        [("hot", 1.0), ("cold", 2.0), ("absent", 3.0)], "k string, v double"
    )
    plain = {(r["k"], r["i"], r["v"]) for r in left.join(right, "k").collect()}
    salted = {
        (r["k"], r["i"], r["v"])
        for r in salted_join(left, right, "k", n_salt=4).collect()
    }
    assert salted == plain
    assert len(plain) == 53


def test_salted_join_spreads_hot_key(spark):
    """Each (key, salt) sub-key carries only a fraction of the hot key."""
    from enterprise_warp_spark.operators.skew import salted_join
    from pyspark.sql import functions as F

    left = spark.createDataFrame([("hot", i) for i in range(400)], "k string, i int")
    right = spark.createDataFrame([("hot", 1.0)], "k string, v double")
    s = left.withColumn("__salt", (F.floor(F.rand(7) * 8)).cast("int"))
    per_salt = [
        r["n"] for r in s.groupBy("__salt").agg(F.count("*").alias("n")).collect()
    ]
    assert len(per_salt) > 1 and max(per_salt) < 400
    assert salted_join(left, right, "k", n_salt=8).count() == 400


def test_gapfill_locf_linear_and_duckdb_twin(spark, sf_dir, duck):
    """gapfill == a DuckDB twin (generate_series grid + window locf) on the
    real events table, and linear interpolation matches hand math on a
    known series."""
    import pytest
    from pyspark.sql import functions as F

    from enterprise_warp_spark.operators.temporal import gapfill
    from enterprise_warp_spark.tables import table

    events = table(spark, sf_dir, "events")
    hour = 3_600_000_000
    got = gapfill(
        events, "ts_us", ["event_type"], hour, "value", agg="avg", method="locf"
    )
    got_rows = {
        (r["event_type"], r["bucket_us"]): (r["value"], r["filled"])
        for r in got.collect()
    }

    twin = duck.sql(f"""
        WITH obs AS (
          SELECT event_type,
                 (epoch_us(ts) // {hour}) * {hour} AS b,
                 avg(value) AS v
          FROM events GROUP BY 1, 2
        ),
        spans AS (
          SELECT event_type, min(b) lo, max(b) hi FROM obs GROUP BY 1
        ),
        grid AS (
          SELECT event_type, unnest(generate_series(lo, hi, {hour})) AS b
          FROM spans
        ),
        j AS (
          SELECT g.event_type, g.b, o.v, o.v IS NULL AS filled
          FROM grid g LEFT JOIN obs o USING (event_type, b)
        )
        SELECT event_type, b,
               last_value(v IGNORE NULLS) OVER (
                 PARTITION BY event_type ORDER BY b
                 ROWS UNBOUNDED PRECEDING) AS v,
               filled
        FROM j
    """).fetchall()
    want = {(et, b): (v, f) for et, b, v, f in twin}
    assert set(got_rows) == set(want)
    n_filled = 0
    for k, (v, f) in want.items():
        assert got_rows[k][1] == f
        if v is None:
            assert got_rows[k][0] is None
        else:
            assert got_rows[k][0] == pytest.approx(v, rel=1e-12)
        n_filled += bool(f)
    # the synthetic events table must actually have gaps for this to test
    assert n_filled > 0, "no gaps at this bucket width — shrink bucket"

    # linear interpolation: hand-checked series 0, _, _, 9 -> 0, 3, 6, 9
    df = spark.createDataFrame(
        [("a", 0, 0.0), ("a", 30, 9.0), ("b", 0, 5.0)],
        "g string, ts_us long, value double",
    )
    lin = {
        (r["g"], r["bucket_us"]): r["value"]
        for r in gapfill(df, "ts_us", ["g"], 10, "value", method="linear").collect()
    }
    assert lin[("a", 0)] == 0.0 and lin[("a", 30)] == 9.0
    assert lin[("a", 10)] == pytest.approx(3.0)
    assert lin[("a", 20)] == pytest.approx(6.0)
    assert lin[("b", 0)] == 5.0


def test_gapfill_null_group_and_weighted_median_guards(spark):
    """Review regressions: a NULL group key keeps its observed values
    through the null-safe join-back; weighted_median ignores NULLs."""
    from enterprise_warp_spark.operators.temporal import gapfill
    from enterprise_warp_spark.operators.weighted import weighted_median

    df = spark.createDataFrame(
        [(None, 0, 1.0), (None, 20, 5.0), ("a", 0, 2.0)],
        "g string, ts_us long, value double",
    )
    out = {
        (r["g"], r["bucket_us"]): (r["value"], r["filled"])
        for r in gapfill(df, "ts_us", ["g"], 10, "value", method="locf").collect()
    }
    assert out[(None, 0)] == (1.0, False)   # observed value survives
    assert out[(None, 10)] == (1.0, True)   # gap filled by locf
    assert out[(None, 20)] == (5.0, False)
    assert out[("a", 0)] == (2.0, False)

    # weighted_median: NULL values carry no mass
    wm = spark.createDataFrame(
        [("x", None, 1.0), ("x", 1.0, 1.0), ("x", 2.0, 1.0), ("x", 3.0, 1.0)],
        "g string, v double, w double",
    )
    assert weighted_median(wm, "v", "w", ["g"]).first()["wmedian"] == 2.0


def test_rolling_zscore_flags_injected_spike(spark):
    """A spike injected into a stable series is flagged; the stable points
    and a constant series are not; the spike never masks itself (window
    excludes the current row)."""
    import pytest
    from enterprise_warp_spark.operators.temporal import rolling_zscore

    rows = [("a", i * 10, 100.0 + (i % 3)) for i in range(60)]
    rows[40] = ("a", 400, 500.0)  # spike
    rows += [("const", i * 10, 7.0) for i in range(30)]
    df = spark.createDataFrame(rows, "g string, ts_us long, value double")
    out = {
        (r["g"], r["ts_us"]): (r["is_anomaly"], r["zscore"])
        for r in rolling_zscore(df, "ts_us", "value", ["g"], window_rows=20).collect()
    }
    assert out[("a", 400)][0] is True and abs(out[("a", 400)][1]) > 3
    # neighbors stay clean; so does the whole constant series
    flagged = [k for k, (a, _) in out.items() if a]
    assert flagged == [("a", 400)]
    assert all(out[("const", i * 10)][1] is None or abs(out[("const", i * 10)][1]) < 3
               for i in range(30))
    # first points (insufficient history) are null-z, not anomalous
    assert out[("a", 0)][1] is None and out[("a", 0)][0] is False
