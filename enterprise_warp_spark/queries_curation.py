"""Driver-facing hash gates for the round-5 operator families (VERDICT r5 #1).

Two tag-discriminated union gates (the ``kernel_value_slices`` consolidation
pattern) give every round-5 operator family a hash-checked CORRECTNESS row
within the driver artifact's 50-entry capacity:

* ``temporal_curation_ops`` — gapfill LOCF + linear interpolation, rolling
  z-score anomaly detection, SCD Type-2 point-in-time reads, funnel
  conversion, retention cohorts; r8 adds [mix] mixture resampling,
  [pak] token-budget packing and [chk] fixed-window chunking.
* ``matching_geo_ops`` — geo radius join, point-in-polygon containment join,
  fuzzy edit-distance join.

Both gates share the union schema (gate, k1 string, k2 long, v1 double,
v2 double). Cross-engine determinism per branch:

* gapfill uses agg='min' (order-independent, exact double) so the LOCF copy
  and the linear-interpolation arithmetic see bit-identical inputs in both
  engines; the interpolation expression is written in the SAME IEEE
  operation order as the SQL twin.
* rolling z-score divides two windowed aggregates of exact inputs; the
  engines' window-frame summation orders differ (segment tree vs running),
  so z is ROUND()ed at 4 with ~9 orders of margin.
* the geo branches are pure arithmetic on identical doubles except the trig
  in haversine (libm vs JVM, <=1 ulp) — distance_km is ROUND()ed at 4
  (0.1 m) with ~7 orders of margin.
* fuzzy-join distances are small exact integers; SCD2 validity windows are
  exact int64 microseconds.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from enterprise_warp_spark.queries import register, run_branches
from enterprise_warp_spark.tables import table

HOUR_US = 3_600_000_000
WEEK_US = 7 * 24 * HOUR_US

# --------------------------------------------------------------------------
# temporal_curation_ops
# --------------------------------------------------------------------------

_FUNNEL_STEPS = ("signup", "view", "purchase")

_TEMPORAL_ORACLE = f"""
    WITH obs AS (
      SELECT event_type, (epoch_us(ts) // {HOUR_US}) * {HOUR_US} AS b,
             min(value) AS v
      FROM events GROUP BY 1, 2
    ),
    spans AS (SELECT event_type, min(b) lo, max(b) hi FROM obs GROUP BY 1),
    grid AS (
      SELECT event_type, unnest(generate_series(lo, hi, {HOUR_US})) AS b
      FROM spans
    ),
    j AS (
      SELECT g.event_type, g.b, o.v, o.v IS NULL AS filled
      FROM grid g LEFT JOIN obs o USING (event_type, b)
    ),
    locf AS (
      SELECT event_type, b,
             last_value(v IGNORE NULLS) OVER (
               PARTITION BY event_type ORDER BY b
               ROWS UNBOUNDED PRECEDING) AS v,
             filled
      FROM j
    ),
    lin0 AS (
      SELECT event_type, b, v, filled,
             last_value(v IGNORE NULLS) OVER wp AS pv,
             last_value(CASE WHEN v IS NOT NULL THEN b END IGNORE NULLS)
               OVER wp AS pb,
             first_value(v IGNORE NULLS) OVER wf AS nv,
             first_value(CASE WHEN v IS NOT NULL THEN b END IGNORE NULLS)
               OVER wf AS nb
      FROM j
      WINDOW wp AS (PARTITION BY event_type ORDER BY b
                    ROWS UNBOUNDED PRECEDING),
             wf AS (PARTITION BY event_type ORDER BY b
                    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
    ),
    lin AS (
      SELECT event_type, b,
             CASE WHEN v IS NOT NULL THEN v
                  WHEN pb IS NULL THEN nv
                  WHEN nb IS NULL THEN pv
                  ELSE pv + (nv - pv) * ((b - pb) / (nb - pb)) END AS v,
             filled
      FROM lin0
    ),
    z AS (
      SELECT event_type, b, v,
             avg(v) OVER w AS m, stddev_samp(v) OVER w AS sd,
             count(v) OVER w AS np
      FROM obs
      WINDOW w AS (PARTITION BY event_type ORDER BY b, v
                   ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)
    ),
    fn1 AS (
      SELECT user_id, min(epoch_us(ts)) AS t FROM events
      WHERE event_type = '{_FUNNEL_STEPS[0]}' GROUP BY 1
    ),
    fn2 AS (
      SELECT e.user_id, min(epoch_us(e.ts)) AS t
      FROM events e JOIN fn1 ON e.user_id = fn1.user_id
      WHERE e.event_type = '{_FUNNEL_STEPS[1]}' AND epoch_us(e.ts) > fn1.t
      GROUP BY 1
    ),
    fn3 AS (
      SELECT e.user_id, min(epoch_us(e.ts)) AS t
      FROM events e JOIN fn2 ON e.user_id = fn2.user_id
      WHERE e.event_type = '{_FUNNEL_STEPS[2]}' AND epoch_us(e.ts) > fn2.t
      GROUP BY 1
    ),
    act AS (
      SELECT DISTINCT user_id,
             (epoch_us(ts) // {WEEK_US}) * {WEEK_US} AS p
      FROM events
    ),
    coh AS (SELECT user_id, min(p) AS cohort FROM act GROUP BY 1)
    SELECT 'gfl' AS gate, event_type AS k1, b AS k2, v AS v1,
           CAST(filled AS DOUBLE) AS v2
    FROM locf
    UNION ALL
    SELECT 'gfi', event_type, b, ROUND(v, 6) + 0.0, CAST(filled AS DOUBLE)
    FROM lin
    UNION ALL
    SELECT 'zsc', event_type, b,
           ROUND(CASE WHEN np >= 3 AND sd > 0 THEN (v - m) / sd END, 4) + 0.0,
           CAST(COALESCE(
             ABS(CASE WHEN np >= 3 AND sd > 0 THEN (v - m) / sd END) > 2.0,
             FALSE) AS DOUBLE)
    FROM z
    UNION ALL
    SELECT 'fnl', '{_FUNNEL_STEPS[0]}', 1,
           CAST((SELECT count(*) FROM fn1) AS DOUBLE), 0.0
    UNION ALL
    SELECT 'fnl', '{_FUNNEL_STEPS[1]}', 2,
           CAST((SELECT count(*) FROM fn2) AS DOUBLE), 0.0
    UNION ALL
    SELECT 'fnl', '{_FUNNEL_STEPS[2]}', 3,
           CAST((SELECT count(*) FROM fn3) AS DOUBLE), 0.0
    UNION ALL
    SELECT 'ret', CAST(c.cohort AS VARCHAR),
           (a.p - c.cohort) // {WEEK_US},
           CAST(count(DISTINCT a.user_id) AS DOUBLE), 0.0
    FROM act a JOIN coh c ON a.user_id = c.user_id
    GROUP BY 1, 2, 3
    UNION ALL
    SELECT 'scd', 't1', c_custkey, c_acctbal, 0.0 FROM customer
    UNION ALL
    SELECT 'scd', 't2', c_custkey,
           c_acctbal + CASE WHEN c_custkey % 10 = 0 THEN 100.0 ELSE 0.0 END,
           0.0
    FROM customer
    UNION ALL
    SELECT 'scd', 't2', 9999999, 42.0, 0.0
    UNION ALL
    SELECT 'pak', '', doc_id,
           CAST(FLOOR(CAST(start AS DOUBLE) / 512) AS DOUBLE),
           CAST(start % 512 AS DOUBLE)
    FROM (
      SELECT doc_id,
             COALESCE(SUM(nt) OVER (ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start
      FROM (
        SELECT doc_id,
               len(list_filter(string_split(text, ' '), x -> x <> '')) AS nt
        FROM documents
      )
    )
    UNION ALL
    SELECT 'chk', substr(md5(array_to_string(piece, ' ')), 1, 16), doc_id,
           CAST(ci AS DOUBLE), CAST(len(piece) AS DOUBLE)
    FROM (
      SELECT doc_id, u.i AS ci,
             list_slice(tok, 1 + u.i * 48, 1 + u.i * 48 + 63) AS piece
      FROM (
        SELECT doc_id,
               list_filter(string_split(text, ' '), x -> x <> '') AS tok
        FROM documents
      ), unnest(
        CASE WHEN len(tok) = 0 THEN CAST([] AS BIGINT[])
             WHEN len(tok) <= 64 THEN [CAST(0 AS BIGINT)]
             ELSE range(0, CAST(ceil((len(tok) - 64)
                                     / CAST(48 AS DOUBLE)) AS BIGINT) + 1)
        END) AS u(i)
    )
    UNION ALL
    SELECT 'mix', r.lang, COUNT(*), ROUND(r.rate, 9), 0.0
    FROM documents d JOIN (
      SELECT lang, LEAST(w / 1.0 * (
               SELECT MIN(n * 1.0 / w) FROM (
                 SELECT c.lang, c.n, CAST(wt.w AS DOUBLE) AS w
                 FROM (SELECT lang, COUNT(*) AS n FROM documents GROUP BY lang) c
                 JOIN (VALUES ('en', 0.5), ('zh', 0.25), ('de', 0.125),
                              ('fr', 0.125)) wt(lang, w) USING (lang)
               )
             ) / n, 1.0) AS rate
      FROM (
        SELECT c.lang, c.n, CAST(wt.w AS DOUBLE) AS w
        FROM (SELECT lang, COUNT(*) AS n FROM documents GROUP BY lang) c
        JOIN (VALUES ('en', 0.5), ('zh', 0.25), ('de', 0.125),
                     ('fr', 0.125)) wt(lang, w) USING (lang)
      )
    ) r ON d.lang = r.lang
    WHERE CAST('0x' || substr(md5(CAST(d.doc_id AS VARCHAR) || '|11'), 1, 15)
               AS BIGINT) / CAST(16.0**15 AS DOUBLE) < r.rate
    GROUP BY r.lang, r.rate
"""


def _hourly_min_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(event_type, b, v): hourly MIN(value) — min is order-independent, so
    both engines see bit-identical series values."""
    ev = table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            "event_type",
            ((F.col("ts_us") / HOUR_US).cast("long") * HOUR_US)
            .cast("long")
            .alias("b"),
        )
        .agg(F.min("value").alias("v"))
    )


def _scd2_branch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build a real SCD2 dimension (init -> merge) in a temp dir, read it
    back as-of two instants bracketing the merge, then MATERIALIZE the two
    (small) as-of views and delete the directory — the gate must not leak
    one parquet dimension copy per invocation."""
    import shutil
    import tempfile

    from enterprise_warp_spark.maintenance import scd2_as_of, scd2_init, scd2_merge

    t1, t2 = 1_000_000, 2_000_000
    path = tempfile.mkdtemp(prefix="ews_scd2_gate_")
    snap = table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_acctbal"
    )
    scd2_init(snap, t1).write.mode("overwrite").parquet(path)
    updates = (
        snap.filter(F.col("c_custkey") % 10 == 0)
        .withColumn("c_acctbal", F.col("c_acctbal") + F.lit(100.0))
        .unionByName(
            spark.createDataFrame(
                [(9_999_999, "Customer#new", 42.0)],
                "c_custkey long, c_name string, c_acctbal double",
            )
        )
    )
    scd2_merge(spark, path, updates, ["c_custkey"], t2)
    try:
        dim = spark.read.parquet(path)
        out = None
        for label, ts in (("t1", t1 + 500_000), ("t2", t2 + 500_000)):
            view = scd2_as_of(dim, ts).select(
                F.lit("scd").alias("gate"),
                F.lit(label).alias("k1"),
                F.col("c_custkey").cast("long").alias("k2"),
                F.col("c_acctbal").alias("v1"),
                F.lit(0.0).alias("v2"),
            )
            out = view if out is None else out.unionByName(view)
        # distributed materialization (NOT toPandas — the as-of views scale
        # with the customer table): the eager checkpoint pins the data on
        # the executors so the temp dimension dir can be deleted before the
        # gate's plan is consumed
        return out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(path, ignore_errors=True)


def _pack_chunk_branches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-layout operators (r8, pipeline/packing.py): [pak]
    pack_documents at budget 512 — the two-phase distributed prefix sum
    vs a plain SQL running sum (pack ids/offsets are exact integers);
    [chk] chunk_documents at 64 tokens / 16 overlap — fixed-size token
    windows vs the same starts arithmetic + list_slice in SQL (k1 hashes
    the chunk text, so window CONTENT is checked, not just shape)."""
    from enterprise_warp_spark.pipeline.packing import (
        chunk_documents,
        pack_documents,
    )
    from enterprise_warp_spark.pipeline.text import TOKENS

    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    with_nt = docs.withColumn(
        "n_tokens", F.expr(f"size({TOKENS.format(s='text')})")
    )
    pak = pack_documents(with_nt, budget=512).select(
        F.lit("pak").alias("gate"),
        F.lit("").alias("k1"),
        F.col("doc_id").cast("long").alias("k2"),
        F.col("pack_id").cast("double").alias("v1"),
        F.col("pack_offset").cast("double").alias("v2"),
    )
    chk = chunk_documents(docs, chunk_tokens=64, overlap=16).select(
        F.lit("chk").alias("gate"),
        F.substring(F.md5("chunk_text"), 1, 16).alias("k1"),
        F.col("doc_id").cast("long").alias("k2"),
        F.col("chunk_idx").cast("double").alias("v1"),
        F.col("n_chunk_tokens").cast("double").alias("v2"),
    )
    return pak.unionByName(chk)


def _mix_branch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture resample toward a target language mix (folded in from the
    r2-era mixture_resample_by_lang gate, r8): deterministic hash
    downsampling with exact binary weights (en .5 / zh .25 / de .125 /
    fr .125; es carries weight 0 and drops out). One tiny count aggregate
    -> broadcast rates -> map-side hash filter; operators/sampling.py."""
    from enterprise_warp_spark.operators.sampling import (
        mixture_rates,
        mixture_resample,
    )

    docs = table(spark, sf_dir, "documents")
    weights = {"en": 0.5, "zh": 0.25, "de": 0.125, "fr": 0.125}
    rates = mixture_rates(docs, "lang", weights)
    kept = mixture_resample(docs, "lang", weights, key="doc_id", seed=11)
    rate_col = F.lit(None).cast("double")
    for g, r in sorted(rates.items()):
        rate_col = F.when(F.col("lang") == g, F.lit(float(r))).otherwise(rate_col)
    return (
        kept.groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_kept"))
        .select(
            F.lit("mix").alias("gate"),
            F.col("lang").alias("k1"),
            F.col("n_kept").cast("long").alias("k2"),
            F.round(rate_col, 9).alias("v1"),
            F.lit(0.0).alias("v2"),
        )
    )


@register(
    "temporal_curation_ops",
    _TEMPORAL_ORACLE,
    doc="Union hash gate for the r5 temporal/curation families: [gfl/gfi] "
    "hypertable gapfill with LOCF and linear interpolation "
    "(operators/temporal.py gapfill, timescaledb time_bucket_gapfill "
    "analogue) over the hourly MIN series; [zsc] rolling z-score anomaly "
    "detection (temporal.py rolling_zscore); [fnl] 3-step ordered funnel "
    "(operators/funnel.py funnel, earliest-completion semantics); [ret] "
    "weekly retention cohorts (funnel.py retention_cohorts); [scd] SCD "
    "Type-2 init+merge+as-of validity chain (maintenance.py scd2_*) built "
    "in a temp dir from the customer table with updated, unchanged and "
    "brand-new keys; [mix] mixture resample toward a target language mix "
    "(operators/sampling.py, deterministic hash downsampling, r8 fold of "
    "the mixture_resample_by_lang gate); [pak] token-budget sequence "
    "packing (pipeline/packing.py pack_documents, two-phase distributed "
    "prefix sum) and [chk] fixed-window document chunking with overlap "
    "(chunk_documents) vs their exact SQL twins (r8).",
)
def temporal_curation_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    from enterprise_warp_spark.operators.funnel import funnel, retention_cohorts
    from enterprise_warp_spark.operators.temporal import gapfill, rolling_zscore

    ev = table(spark, sf_dir, "events")

    # The build-phase branches each run their own driver-side jobs (the
    # hourly-MIN checkpoint; SCD2's real dimension write/merge/read; the
    # mix and pack/chunk materializations) that are independent, and the
    # gapfill/zscore/funnel/retention CONSTRUCTIONS are pure plan building
    # (hundreds of py4j round-trips each) that overlaps the eager lanes.
    def gf(inp, method: str, tag: str, rounded: bool) -> DataFrame:
        g = gapfill(
            inp["hm"], "b", ["event_type"], HOUR_US, "v",
            agg="min", method=method,
        )
        v1 = (F.round("v", 6) + F.lit(0.0)) if rounded else F.col("v")
        return g.select(
            F.lit(tag).alias("gate"),
            F.col("event_type").alias("k1"),
            F.col("bucket_us").cast("long").alias("k2"),
            v1.alias("v1"),
            F.col("filled").cast("double").alias("v2"),
        )

    def _z(inp) -> DataFrame:
        return rolling_zscore(
            inp["hm"], "b", "v", ["event_type"],
            window_rows=24, threshold=2.0,
        ).select(
            F.lit("zsc").alias("gate"),
            F.col("event_type").alias("k1"),
            F.col("b").cast("long").alias("k2"),
            (F.round("zscore", 4) + F.lit(0.0)).alias("v1"),
            F.col("is_anomaly").cast("double").alias("v2"),
        )

    def _fnl(_) -> DataFrame:
        return funnel(ev, list(_FUNNEL_STEPS)).select(
            F.lit("fnl").alias("gate"),
            F.col("event_type").alias("k1"),
            F.col("step").cast("long").alias("k2"),
            F.col("n_users").cast("double").alias("v1"),
            F.lit(0.0).alias("v2"),
        )

    def _ret(_) -> DataFrame:
        return retention_cohorts(ev, WEEK_US).select(
            F.lit("ret").alias("gate"),
            F.col("cohort_us").cast("string").alias("k1"),
            F.col("offset").cast("long").alias("k2"),
            F.col("n_users").cast("double").alias("v1"),
            F.lit(0.0).alias("v2"),
        )

    parts = run_branches(
        spark,
        "temporal_curation_ops",
        {
            # the eager lanes first, so they hold threads from the start
            "scd": lambda _: _scd2_branch(spark, sf_dir),
            "mix": lambda _: _mix_branch(spark, sf_dir),
            "pak": lambda _: _pack_chunk_branches(spark, sf_dir),
            "gfl": lambda inp: gf(inp, "locf", "gfl", False),
            "gfi": lambda inp: gf(inp, "linear", "gfi", True),
            "zsc": _z,
            "fnl": _fnl,
            "ret": _ret,
        },
        # ONE hourly-MIN aggregate shared by gfl/gfi/zsc (the
        # _customer_slim / grams= pattern): min is idempotent under
        # re-aggregation, so gapfill over the pre-bucketed series (ts=b,
        # agg=min) is value-identical to gapfill over raw events — three
        # corpus scans+aggregates become one
        shared={
            "hm": lambda _: _hourly_min_series(spark, sf_dir).localCheckpoint(
                eager=True
            ),
        },
    )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


# --------------------------------------------------------------------------
# matching_geo_ops
# --------------------------------------------------------------------------

# deterministic synthetic coordinates from c_custkey (integer arithmetic
# then one exact-decimal scale — bit-identical in both engines)
_LAT_SQL = "((c_custkey * 7919) % 17000) / 100.0 - 85.0"
_LNG_SQL = "((c_custkey * 104729) % 36000) / 100.0 - 180.0"

_RADIUS_KM = 200.0

# [ifp]/[img]: perceptual-image-dedup gate constants. Deterministic 9x8
# grayscale test images from c_custkey: even/odd siblings share a base
# pattern, odd ids perturb ONE pixel at (y=6, x=3) — flipping <= 2 dHash
# bits, both in the LOW half, so sibling pairs stay in the same top-32-bit
# Hamming bucket. p(0,0)=255 / p(0,1)=0 pins dHash bit 0 (the sign bit) to
# zero, so the 64-bit fingerprint stays in positive BIGINT range and the
# SQL twin's acc*2+b fold can never overflow.
_IMG_N = 400
_IMG_HAMMING = 10

# DuckDB twin of the pixel formula (y/x substituted per dHash bit)
_IMG_P = (
    "CASE WHEN ({y}) = 0 AND ({x}) = 0 THEN 255 "
    "WHEN ({y}) = 0 AND ({x}) = 1 THEN 0 "
    "WHEN id % 2 = 1 AND ({y}) = 6 AND ({x}) = 3 THEN 250 "
    "ELSE ((id // 2) * 131 + ({y}) * 17 + ({x}) * 29) % 251 END"
)
_IMG_PL = _IMG_P.format(y="i // 8", x="i % 8")
_IMG_PR = _IMG_P.format(y="i // 8", x="i % 8 + 1")

# polygons over the synthetic coordinate space: convex, concave, and a
# degenerate 2-vertex one (contains nothing — exercises the n>=3 guard on
# the Spark side; intentionally absent from the oracle)
_POLYGONS: dict[str, list[tuple[float, float]]] = {
    "triangle": [(10.0, -20.0), (40.0, 10.0), (5.0, 30.0)],
    "concave": [
        (-60.0, 60.0), (-20.0, 70.0), (-40.0, 100.0),
        (-20.0, 130.0), (-60.0, 140.0), (-45.0, 100.0),
    ],
    "box": [(-10.0, -170.0), (25.0, -170.0), (25.0, -120.0), (-10.0, -120.0)],
    "degenerate": [(0.0, 0.0), (1.0, 1.0)],
}


def _polygon_edges_sql() -> str:
    rows = []
    for name, verts in _POLYGONS.items():
        if len(verts) < 3:
            continue  # contains nothing by the n>=3 guard
        for i, (la1, lo1) in enumerate(verts):
            la2, lo2 = verts[(i + 1) % len(verts)]
            rows.append(f"('{name}', {la1!r}, {lo1!r}, {la2!r}, {lo2!r})")
    return ",\n        ".join(rows)


_MATCHING_ORACLE = f"""
    WITH pts AS (
      SELECT c_custkey AS id, {_LAT_SQL} AS lat, {_LNG_SQL} AS lng
      FROM customer
    ),
    rad AS (
      SELECT a.id AS ida, b.id AS idb,
             2 * 6371.0088 * ASIN(SQRT(LEAST(
               POW(SIN((RADIANS(b.lat) - RADIANS(a.lat)) / 2), 2)
               + COS(RADIANS(a.lat)) * COS(RADIANS(b.lat))
                 * POW(SIN((RADIANS(b.lng) - RADIANS(a.lng)) / 2), 2),
               1.0))) AS d
      FROM pts a JOIN pts b ON a.id < b.id
    ),
    edges(poly, la1, lo1, la2, lo2) AS (VALUES
        {_polygon_edges_sql()}
    ),
    pip AS (
      SELECT e.poly, p.id,
             SUM(CASE WHEN ((e.la1 > p.lat) != (e.la2 > p.lat))
                       AND p.lng < ((e.lo2 - e.lo1) * (p.lat - e.la1)
                                    / (e.la2 - e.la1) + e.lo1)
                      THEN 1 ELSE 0 END) AS crossings
      FROM pts p CROSS JOIN edges e
      GROUP BY 1, 2
    ),
    names AS (
      SELECT c_custkey AS id, c_name AS nm FROM customer
    ),
    imgid AS (SELECT c_custkey AS id FROM customer WHERE c_custkey <= {_IMG_N}),
    ifp AS (
      SELECT id,
             list_reduce(list_prepend(CAST(0 AS BIGINT),
               list_transform(range(0, 64), i ->
                 CASE WHEN ({_IMG_PR}) > ({_IMG_PL})
                      THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END)),
               (acc, b) -> acc * 2 + b) AS fp
      FROM imgid
    )
    SELECT 'rad' AS gate, CAST(ida AS VARCHAR) AS k1, idb AS k2,
           ROUND(d, 4) AS v1, 0.0 AS v2
    FROM rad WHERE d <= {_RADIUS_KM!r}
    UNION ALL
    SELECT 'pip', poly, id, 0.0, 0.0
    FROM pip WHERE crossings % 2 = 1
    UNION ALL
    SELECT 'fuz', CAST(a.id AS VARCHAR), b.id,
           CAST(levenshtein(a.nm, b.nm) AS DOUBLE), 0.0
    FROM names a JOIN names b
      ON a.id % 20 = 0 AND levenshtein(a.nm, b.nm) <= 1
    UNION ALL
    SELECT 'ifp', CAST(id AS VARCHAR), fp, 0.0, 0.0 FROM ifp
    UNION ALL
    SELECT 'img', CAST(a.id AS VARCHAR), b.id,
           CAST(bit_count(xor(a.fp, b.fp)) AS DOUBLE), 0.0
    FROM ifp a JOIN ifp b ON (a.fp >> 32) = (b.fp >> 32) AND a.id < b.id
    WHERE bit_count(xor(a.fp, b.fp)) <= {_IMG_HAMMING}
"""


def _customer_slim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONE materialized slim customer projection shared by every branch
    (VERDICT r7 Next #3, the repeated_ngram_spans `grams=` pattern): the
    rad branch reads it twice (self-join sides), pip once, fuz twice —
    without the checkpoint that is five parquet scans + five projection
    stages for identical rows."""
    return (
        table(spark, sf_dir, "customer")
        .select("c_custkey", "c_name")
        .localCheckpoint(eager=True)
    )


def _points(base: DataFrame) -> DataFrame:
    return base.select(
        F.col("c_custkey").alias("id"),
        (((F.col("c_custkey") * 7919) % 17000) / 100.0 - 85.0).alias("lat"),
        (((F.col("c_custkey") * 104729) % 36000) / 100.0 - 180.0).alias("lng"),
    )


def _img_branch(spark: SparkSession, sf_dir: str, base: DataFrame) -> DataFrame:
    """Perceptual image dedup, driver-gated END-TO-END THROUGH A REAL
    CODEC (the [wrc]/[pii] constructed-expected pattern applied to binary
    media): deterministic 9x8 grayscale images built from c_custkey are
    PNG-ENCODED in a distributed Arrow kernel, ingested through the real
    decode path (pipeline/codecs.decode_png inside
    multimodal.image_fingerprints), dHashed, and Hamming-bucket-joined
    (image_near_dup_pairs) — while the oracle computes the expected
    64-bit fingerprints directly from the pixel FORMULA in SQL, never
    touching PNG bytes. [ifp] hash-pins every fingerprint (a single
    wrong pixel anywhere in encode->decode->grayscale->dHash flips it);
    [img] pins the near-dup pair set + Hamming distances (even/odd
    sibling images differ by one low-half pixel by construction)."""
    from enterprise_warp_spark.pipeline.multimodal import (
        MEDIA_SCHEMA,
        image_fingerprints,
        image_near_dup_pairs,
    )

    ids = base.filter(F.col("c_custkey") <= _IMG_N).select(
        F.col("c_custkey").alias("media_id")
    )

    def gen(batches):
        import numpy as np
        import pandas as pd

        from enterprise_warp_spark.pipeline import codecs

        cols = [f.name for f in MEDIA_SCHEMA.fields]
        for pdf in batches:
            rows = []
            for mid in pdf["media_id"]:
                mid = int(mid)
                y, x = np.mgrid[0:8, 0:9]
                p = ((mid // 2) * 131 + y * 17 + x * 29) % 251
                p[0, 0] = 255
                p[0, 1] = 0
                if mid % 2 == 1:
                    p[6, 3] = 250
                rows.append(
                    (
                        mid, "image",
                        codecs.encode_png(p.astype(np.uint8)),
                        "image/png", 9, 8, None, None,
                    )
                )
            yield pd.DataFrame(rows, columns=cols)

    media = ids.mapInPandas(gen, MEDIA_SCHEMA)
    # fingerprints computed (and the corpus decoded) ONCE for both rows
    fp = image_fingerprints(media).filter(F.col("decoded")).localCheckpoint(
        eager=True
    )
    ifp = fp.select(
        F.lit("ifp").alias("gate"),
        F.col("media_id").cast("string").alias("k1"),
        F.col("fingerprint").cast("long").alias("k2"),
        F.lit(0.0).alias("v1"),
        F.lit(0.0).alias("v2"),
    )
    img = image_near_dup_pairs(
        media, max_hamming=_IMG_HAMMING, fingerprints=fp
    ).select(
        F.lit("img").alias("gate"),
        F.col("media_a").cast("string").alias("k1"),
        F.col("media_b").cast("long").alias("k2"),
        F.col("hamming").cast("double").alias("v1"),
        F.lit(0.0).alias("v2"),
    )
    return ifp.unionByName(img)


@register(
    "matching_geo_ops",
    _MATCHING_ORACLE,
    doc="Union hash gate for the r5 matching/geo families: [rad] bucketed "
    "radius join (operators/geo.py radius_join — cell-grid equi-join + "
    "exact haversine verify, never cartesian) over synthetic coordinates "
    "derived from c_custkey vs a brute-force SQL haversine; [pip] "
    "point-in-polygon containment join (geo.py points_in_polygons_join, "
    "pure-Catalyst ray-cast fold) incl. a degenerate 2-vertex polygon that "
    "must match nothing, vs an explicit edge-crossing SQL ray cast; [fuz] "
    "edit-distance join (operators/fuzzy.py edit_distance_join, q-gram + "
    "length blocking) on customer names at max_dist=1 vs brute-force SQL "
    "levenshtein; [ifp]/[img] perceptual image dedup END-TO-END THROUGH A "
    "REAL CODEC (r9): deterministic 9x8 images PNG-encoded distributed, "
    "re-decoded by pipeline/codecs.decode_png inside "
    "multimodal.image_fingerprints, dHashed, Hamming-bucket-joined "
    "(image_near_dup_pairs) — the oracle computes expected fingerprints "
    "and the pair set from the pixel FORMULA, never touching PNG bytes.",
)
def matching_geo_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    from enterprise_warp_spark.operators.fuzzy import edit_distance_join
    from enterprise_warp_spark.operators.geo import (
        points_in_polygons_join,
        radius_join,
    )

    base = _customer_slim(spark, sf_dir)
    pts = _points(base)

    # all four branches are LAZY plan constructions, but each is hundreds
    # of py4j round-trips (the haversine/ray-cast/q-gram expression
    # trees); build them on a pool so the round-trip latency overlaps
    # (r14). Union order stays fixed by code.
    def _rad(_):
        return (
            radius_join(pts, pts, _RADIUS_KM, lat_col="lat", lng_col="lng")
            .filter(F.col("id_l") < F.col("id_r"))
            .select(
                F.lit("rad").alias("gate"),
                F.col("id_l").cast("string").alias("k1"),
                F.col("id_r").cast("long").alias("k2"),
                F.round("distance_km", 4).alias("v1"),
                F.lit(0.0).alias("v2"),
            )
        )

    poly_schema = T.StructType(
        [
            T.StructField("poly", T.StringType()),
            T.StructField(
                "polygon",
                T.ArrayType(
                    T.StructType(
                        [
                            T.StructField("lat", T.DoubleType()),
                            T.StructField("lng", T.DoubleType()),
                        ]
                    )
                ),
            ),
        ]
    )
    def _pip(_):
        polys = spark.createDataFrame(
            [(name, verts) for name, verts in _POLYGONS.items()], poly_schema
        )
        return points_in_polygons_join(
            pts, polys, lat_col="lat", lng_col="lng", polygon_col="polygon"
        ).select(
            F.lit("pip").alias("gate"),
            F.col("poly").alias("k1"),
            F.col("id").cast("long").alias("k2"),
            F.lit(0.0).alias("v1"),
            F.lit(0.0).alias("v2"),
        )

    def _fuz(_):
        names = base
        return edit_distance_join(
            names.filter(F.col("c_custkey") % 20 == 0),
            names,
            "c_name",
            max_dist=1,
            q=2,
        ).select(
            F.lit("fuz").alias("gate"),
            F.col("c_custkey_l").cast("string").alias("k1"),
            F.col("c_custkey_r").cast("long").alias("k2"),
            F.col("distance").cast("double").alias("v1"),
            F.lit(0.0).alias("v2"),
        )

    parts = run_branches(spark, "matching_geo_ops", {
        "rad": _rad,
        "pip": _pip,
        "fuz": _fuz,
        "img": lambda _: _img_branch(spark, sf_dir, base),
    })
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out
