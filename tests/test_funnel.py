"""Funnel and retention-cohort analytics: DuckDB twins on the real events
table plus hand-built sequences for the ordering/window semantics."""

import pytest


def test_funnel_matches_duckdb_twin(spark, sf_dir, duck):
    """3-step view->click->purchase funnel on the real events table ==
    an independent recursive-min DuckDB formulation."""
    from enterprise_warp_spark.operators.funnel import funnel
    from enterprise_warp_spark.tables import table

    events = table(spark, sf_dir, "events")
    got = {
        r["step"]: r["n_users"]
        for r in funnel(events, ["view", "click", "purchase"]).collect()
    }

    twin = duck.sql("""
        WITH s1 AS (
          SELECT user_id, min(epoch_us(ts)) AS t
          FROM events WHERE event_type = 'view' GROUP BY 1
        ),
        s2 AS (
          SELECT e.user_id, min(epoch_us(e.ts)) AS t, any_value(s1.t) AS t0
          FROM events e JOIN s1 ON e.user_id = s1.user_id
          WHERE e.event_type = 'click' AND epoch_us(e.ts) > s1.t
          GROUP BY 1
        ),
        s3 AS (
          SELECT e.user_id, min(epoch_us(e.ts)) AS t
          FROM events e JOIN s2 ON e.user_id = s2.user_id
          WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > s2.t
          GROUP BY 1
        )
        SELECT (SELECT count(*) FROM s1),
               (SELECT count(*) FROM s2),
               (SELECT count(*) FROM s3)
    """).fetchone()
    assert (got[1], got[2], got[3]) == twin
    assert got[1] >= got[2] >= got[3] > 0  # monotone, non-trivial


def test_funnel_ordering_and_window_semantics(spark):
    """Hand-built sequences: order matters (click before view does not
    count), and the within_us window truncates late completions."""
    from enterprise_warp_spark.operators.funnel import funnel

    rows = [
        # u1 completes in order, fast
        (1, "view", 100), (1, "click", 200), (1, "purchase", 300),
        # u2 clicks BEFORE viewing -> stops at step 1
        (2, "click", 50), (2, "view", 100),
        # u3 completes but the purchase is late (t0=100 -> dt=900)
        (3, "view", 100), (3, "click", 150), (3, "purchase", 1000),
        # u4 views only
        (4, "view", 10),
    ]
    df = spark.createDataFrame(rows, "user_id long, event_type string, ts_us long")
    full = {
        r["step"]: r["n_users"]
        for r in funnel(df, ["view", "click", "purchase"]).collect()
    }
    assert full == {1: 4, 2: 2, 3: 2}

    windowed = {
        r["step"]: r["n_users"]
        for r in funnel(df, ["view", "click", "purchase"], within_us=500).collect()
    }
    assert windowed == {1: 4, 2: 2, 3: 1}  # u3's late purchase drops


def test_retention_cohorts_matches_duckdb_twin(spark, sf_dir, duck):
    from enterprise_warp_spark.operators.funnel import retention_cohorts
    from enterprise_warp_spark.tables import table

    events = table(spark, sf_dir, "events")
    week = 7 * 24 * 3_600_000_000
    got = {
        (r["cohort_us"], r["offset"]): r["n_users"]
        for r in retention_cohorts(events, week).collect()
    }
    twin = duck.sql(f"""
        WITH act AS (
          SELECT DISTINCT user_id,
                 (epoch_us(ts) // {week}) * {week} AS p
          FROM events
        ),
        first AS (SELECT user_id, min(p) AS cohort FROM act GROUP BY 1)
        SELECT f.cohort, (a.p - f.cohort) // {week} AS off,
               count(DISTINCT a.user_id)
        FROM act a JOIN first f USING (user_id)
        GROUP BY 1, 2
    """).fetchall()
    want = {(int(c), int(o)): n for c, o, n in twin}
    assert got == want
    # offset-0 cell of each cohort equals the cohort size; later offsets shrink
    cohorts = {c for c, _ in want}
    assert len(cohorts) >= 1
    for c in cohorts:
        size = want[(c, 0)]
        assert all(n <= size for (cc, o), n in want.items() if cc == c)


def test_funnel_and_retention_guards(spark, sf_dir):
    """Timestamp-typed ts_col and non-positive periods raise loudly."""
    from enterprise_warp_spark.operators.funnel import funnel, retention_cohorts
    from enterprise_warp_spark.tables import table

    events = table(spark, sf_dir, "events")
    with pytest.raises(ValueError, match="TIMESTAMP"):
        funnel(events, ["view", "click"], ts_col="ts")
    with pytest.raises(ValueError, match="positive"):
        retention_cohorts(events, 0)


