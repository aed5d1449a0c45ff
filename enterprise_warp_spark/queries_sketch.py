"""Driver-facing hash gate for the sketch / semantic-dedup families
(VERDICT r7 Next #6): the remaining pytest-only operators with expressible
oracles get CORRECTNESS rows.

Branches (shared schema: gate, k1 string, k2 long, v1 double, h string):

* ``semd`` — pipeline.similarity.semdedup_pairs (Abbas et al. 2023):
  within-cell semantic near-dup pairs over the embeddings table. Fully
  SQL-expressible because the coarse quantizer is deterministic_centroids
  (first n_cells vectors BY ID) and both the cell-assignment distance and
  the pair cosine are ROUND()ed before any comparison. n_cells=32 keeps
  the sum-of-cell^2 pair count at gate scale. Threshold 0.35 is
  gate-scale (the synthetic embeddings are near-orthogonal; production
  default 0.95 would select nothing) — the SQL shape is identical.
* ``hh`` — operators.sketches.heavy_hitters (Misra-Gries merge) over
  events with col = user_id % 200: the value domain (200) is below the
  sketch capacity (256), so NO decrement ever fires, eps_tot == 0, and
  the sketch's [n_lower, n_upper] interval COLLAPSES to the exact count —
  the oracle is plain GROUP BY + HAVING. min_share = 1/256 is binary-
  exact, so the threshold comparison is bit-identical across engines.
  (With a larger-than-capacity domain the output is a provable interval,
  not a point — that contract stays pytest-gated in test_sketches.py.)
* ``hll`` — operators.sketches.approx_distinct_by (HyperLogLog++,
  rsd=0.02) per event_type: HLL register layouts are engine-specific, so
  the ESTIMATE has no SQL twin; the gate instead hash-checks the error
  CONTRACT — v1 = 1.0 iff |est - exact| <= 3*rsd*exact (computed
  engine-side with exact countDistinct), k2 = the exact distinct count
  (SQL-checkable). A drifted estimate flips v1 to 0.0 and fails the hash.
* ``gkq`` — operators.sketches.approx_quantiles_by (Greenwald-Khanna,
  accuracy=10000) median per event_type: same contract shape — v1 = 1.0
  iff the approximate median lies within the exact [p40, p60] envelope
  (GK guarantees rank error <= n/accuracy ~ 0.01% of n, vastly inside
  that envelope), k2 = the group row count.
* ``lmp`` — pipeline.lm bigram perplexity (r8): add-1 bigram LM trained
  on the lang='en' slice scores every document through the
  pair -> context-floor -> unseen-floor fallback chain; per-doc mean NLL
  rounded at 6 vs the same joins in SQL.
* ``dsr`` — operators.sampling DSIR importance log-weights (r8): hashed
  unigram+bigram bucket models, target = the lang='en' slice; per-doc
  cnt * log-ratio sums rounded at 6 vs a full SQL reproduction.
* ``ccn`` — pipeline.lm ccnet_buckets (r8, Wenzek et al. 2020): CCNet
  perplexity bucketing — unigram LM trained on the en slice in one
  token aggregate, per-language 3-tier tie-aware percent_rank threshold over rounded NLL;
  tier AND score are both hash-checked vs the SQL model + window.
* ``kmc`` — pipeline.similarity.lloyd_kmeans (r8): deterministic
  fixed-iteration Lloyd k-means (k=8, 2 iterations, lowest-id init,
  every distance and centroid coordinate rounded at 6 before reuse).
  Both the final per-vector assignment (cell, rounded distance) and the
  final centroid coordinates are hash-checked against an unrolled
  kmc0 -> kmc1 -> kmc2 SQL CTE chain — the trajectory, not just the end
  state, is pinned (a flipped argmin in iteration 1 moves a mean in
  iteration 2 and fails the hash).
* ``kbs`` — pipeline.similarity.prototype_prune (r8, Sorscher et al.
  2022 "Beyond neural scaling laws"): keep the 3 hardest
  (farthest-from-centroid) vectors per lloyd_kmeans cell; rides the
  same clustering call, and the oracle replays the DESC rank window
  over its final-assignment CTE — kept set AND rank order hash-checked.
* ``rpj`` — pipeline.similarity.random_projection (r8, Achlioptas
  2003 sparse JL transform): every projected coordinate vs the same
  md5-derived literal matrix folded in SQL; map-only on both engines.
* ``blm`` — operators.sketches Bloom filter (r8): build over the
  doc_id % 23 == 0 keys into a deliberately under-sized filter (256
  bits, 2 md5 double-hashes) and probe every document map-only (filter
  as array literal, zero shuffle); the oracle replays the position
  arithmetic as SQL set membership, so the exact bit-collision pattern —
  including real false positives — is hash-checked.

The learned quality classifier (pipeline/classify.py) stays OUT of this
gate by design: LogisticRegression training is an iterative L-BFGS fit
with no SQL twin; its correctness surface is pytest (separability,
deterministic refit, JVM-only scoring plan) — documented exclusion.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from enterprise_warp_spark.queries import register, run_branches
from enterprise_warp_spark.queries_pipeline import _D_DOT
from enterprise_warp_spark.tables import table

_SEMD_THRESHOLD = 0.35
_SEMD_CELLS = 32
_HH_DOMAIN = 200
_HH_SHARE = 1.0 / 256.0  # binary-exact: threshold compare is bit-identical
_HLL_RSD = 0.02
_GK_ACCURACY = 10_000
_KMV_K = 64  # KMV sketch size; estimate = (k-1)/u_(k), rel err ~ 1/sqrt(k-2)
_AMS_R = 16  # AMS F2 counters: 4 buckets of 4 for the median-of-means
_DDS_ALPHA = 0.02  # DDSketch relative accuracy; gamma = (1+a)/(1-a)
_DDS_GAMMA = (1.0 + _DDS_ALPHA) / (1.0 - _DDS_ALPHA)
import math as _math  # noqa: E402 — ln(gamma) literal for the oracle

_DDS_LG = _math.log(_DDS_GAMMA)
# Count-Min: 4 hash rows x 64 buckets over the hv domain (200 keys >> 64
# buckets, so collisions/overestimates genuinely occur and get checked)
_CMS_D, _CMS_W = 4, 64
_DSIR_DIM = 256
# Bloom gate: m deliberately TINY (256 bits vs ~20+ inserted keys at sf0.01)
# so real false positives occur and the oracle checks the exact FP pattern,
# not just the no-false-negative contract.
_BLM_M = 256
_KMC_K = 8
_KMC_ITER = 2
_KBS_KEEP = 3
# [rpj] sparse random projection: the SAME deterministic Achlioptas
# matrix random_projection derives from md5(seed|i|j), regenerated here
# and embedded in the oracle as array literals (shortest-roundtrip repr
# parses back to the identical double in DuckDB)
_RPJ_DIM = 16
_RPJ_SEED = 7
_RPJ_IN_DIM = 64  # the testdata embeddings width; the operator itself sniffs


def _rpj_matrix() -> list[list[float]]:
    import hashlib
    import math

    s = math.sqrt(3.0 / _RPJ_DIM)
    out = []
    for i in range(_RPJ_DIM):
        row = []
        for j in range(_RPJ_IN_DIM):
            h = hashlib.md5(f"{_RPJ_SEED}|{i}|{j}".encode()).digest()
            u = int.from_bytes(h[:8], "big") % 6
            row.append(s if u == 0 else (-s if u == 1 else 0.0))
        out.append(row)
    return out


_RPJ_ROWS_SQL = ", ".join(
    f"({i}, [{', '.join(repr(v) for v in row)}])"
    for i, row in enumerate(_rpj_matrix())
)
_BLM_K = 2
_BLM_MOD = 23

_SKETCH_ORACLE = f"""
    WITH n AS (
      SELECT vec_id, embedding,
             {_D_DOT.format(a="embedding", b="embedding")} AS nsq
      FROM embeddings
    ),
    cent AS (
      SELECT vec_id AS cell_id, embedding AS c_emb, nsq AS c_nsq
      FROM n WHERE vec_id < {_SEMD_CELLS}
    ),
    d AS (
      SELECT n.vec_id, n.embedding, n.nsq, cent.cell_id,
             ROUND(n.nsq - 2 * {_D_DOT.format(a="n.embedding", b="cent.c_emb")}
                   + cent.c_nsq, 6) AS dist
      FROM n CROSS JOIN cent
    ),
    a AS (
      SELECT vec_id, embedding, nsq, cell_id FROM (
        SELECT *, ROW_NUMBER() OVER (
          PARTITION BY vec_id ORDER BY dist, cell_id) AS rn
        FROM d) WHERE rn = 1
    ),
    hv AS (
      SELECT event_type, CAST(user_id % {_HH_DOMAIN} AS VARCHAR) AS v
      FROM events
    ),
    hht AS (SELECT event_type, COUNT(*) AS total FROM hv GROUP BY 1),
    hhc AS (SELECT event_type, v, COUNT(*) AS n FROM hv GROUP BY 1, 2),
    cmss AS (
      SELECT row_i, bucket, COUNT(*) AS c FROM (
        SELECT r.row_i,
               CAST('0x' || substr(md5(CAST(r.row_i AS VARCHAR) || '|'
                    || CAST(user_id % {_HH_DOMAIN} AS VARCHAR)), 1, 15)
                    AS BIGINT) % {_CMS_W} AS bucket
        FROM events CROSS JOIN (SELECT UNNEST([{", ".join(str(i) for i in range(_CMS_D))}]) AS row_i) r
      ) GROUP BY row_i, bucket
    ),
    cmsp AS (
      SELECT k.kv, MIN(COALESCE(s.c, 0)) AS est FROM (
        SELECT kv, r.row_i,
               CAST('0x' || substr(md5(CAST(r.row_i AS VARCHAR) || '|'
                    || CAST(kv AS VARCHAR)), 1, 15)
                    AS BIGINT) % {_CMS_W} AS bucket
        FROM (SELECT DISTINCT user_id % {_HH_DOMAIN} AS kv FROM events)
        CROSS JOIN (SELECT UNNEST([{", ".join(str(i) for i in range(_CMS_D))}]) AS row_i) r
      ) k LEFT JOIN cmss s ON s.row_i = k.row_i AND s.bucket = k.bucket
      GROUP BY k.kv
    ),
    kme AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings
    ),
    kme_n AS (SELECT vec_id, e, list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(range(1, len(e) + 1), i -> CAST(e[i] AS DOUBLE) * CAST(e[i] AS DOUBLE))), (acc, x) -> acc + x) AS nsq FROM kme),
    kmc0 AS (
      SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cell_id,
             list_transform(e, x -> ROUND(x, 6) + 0.0) AS c
      FROM (SELECT * FROM kme ORDER BY vec_id LIMIT 8)
    ),
    kma1_d AS (
      SELECT kme_n.vec_id, kme_n.e, kmc0.cell_id,
             ROW_NUMBER() OVER (PARTITION BY kme_n.vec_id ORDER BY
               ROUND(kme_n.nsq + list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(range(1, len(kmc0.c) + 1), i -> CAST(kmc0.c[i] AS DOUBLE) * CAST(kmc0.c[i] AS DOUBLE))), (acc, x) -> acc + x) - 2 * list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(range(1, len(kme_n.e) + 1), i -> CAST(kme_n.e[i] AS DOUBLE) * CAST(kmc0.c[i] AS DOUBLE))), (acc, x) -> acc + x), 6), kmc0.cell_id) AS rn,
             ROUND(kme_n.nsq + list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(range(1, len(kmc0.c) + 1), i -> CAST(kmc0.c[i] AS DOUBLE) * CAST(kmc0.c[i] AS DOUBLE))), (acc, x) -> acc + x) - 2 * list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(range(1, len(kme_n.e) + 1), i -> CAST(kme_n.e[i] AS DOUBLE) * CAST(kmc0.c[i] AS DOUBLE))), (acc, x) -> acc + x), 6) AS dist
      FROM kme_n CROSS JOIN kmc0
    ),
    kma1 AS (SELECT vec_id, e, cell_id, dist FROM kma1_d WHERE rn = 1),
    kmc1 AS (
      SELECT kmc0.cell_id, COALESCE(m.c, kmc0.c) AS c
      FROM kmc0 LEFT JOIN (
        SELECT cell_id, list(ROUND(av, 6) + 0.0 ORDER BY i) AS c
        FROM (
          SELECT cell_id, u.i AS i, AVG(e[u.i]) AS av
          FROM kma1, unnest(range(1, len(e) + 1)) AS u(i)
          GROUP BY cell_id, u.i
        ) GROUP BY cell_id
      ) m USING (cell_id)
    ),
    kma2_d AS (
      SELECT kme_n.vec_id, kme_n.e, kmc1.cell_id,
             ROW_NUMBER() OVER (PARTITION BY kme_n.vec_id ORDER BY
               ROUND(kme_n.nsq + list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(range(1, len(kmc1.c) + 1), i -> CAST(kmc1.c[i] AS DOUBLE) * CAST(kmc1.c[i] AS DOUBLE))), (acc, x) -> acc + x) - 2 * list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(range(1, len(kme_n.e) + 1), i -> CAST(kme_n.e[i] AS DOUBLE) * CAST(kmc1.c[i] AS DOUBLE))), (acc, x) -> acc + x), 6), kmc1.cell_id) AS rn,
             ROUND(kme_n.nsq + list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(range(1, len(kmc1.c) + 1), i -> CAST(kmc1.c[i] AS DOUBLE) * CAST(kmc1.c[i] AS DOUBLE))), (acc, x) -> acc + x) - 2 * list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(range(1, len(kme_n.e) + 1), i -> CAST(kme_n.e[i] AS DOUBLE) * CAST(kmc1.c[i] AS DOUBLE))), (acc, x) -> acc + x), 6) AS dist
      FROM kme_n CROSS JOIN kmc1
    ),
    kma2 AS (SELECT vec_id, e, cell_id, dist FROM kma2_d WHERE rn = 1),
    kmc2 AS (
      SELECT kmc1.cell_id, COALESCE(m.c, kmc1.c) AS c
      FROM kmc1 LEFT JOIN (
        SELECT cell_id, list(ROUND(av, 6) + 0.0 ORDER BY i) AS c
        FROM (
          SELECT cell_id, u.i AS i, AVG(e[u.i]) AS av
          FROM kma2, unnest(range(1, len(e) + 1)) AS u(i)
          GROUP BY cell_id, u.i
        ) GROUP BY cell_id
      ) m USING (cell_id)
    ),
    kmaf_d AS (
      SELECT kme_n.vec_id, kme_n.e, kmc2.cell_id,
             ROW_NUMBER() OVER (PARTITION BY kme_n.vec_id ORDER BY
               ROUND(kme_n.nsq + list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(range(1, len(kmc2.c) + 1), i -> CAST(kmc2.c[i] AS DOUBLE) * CAST(kmc2.c[i] AS DOUBLE))), (acc, x) -> acc + x) - 2 * list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(range(1, len(kme_n.e) + 1), i -> CAST(kme_n.e[i] AS DOUBLE) * CAST(kmc2.c[i] AS DOUBLE))), (acc, x) -> acc + x), 6), kmc2.cell_id) AS rn,
             ROUND(kme_n.nsq + list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(range(1, len(kmc2.c) + 1), i -> CAST(kmc2.c[i] AS DOUBLE) * CAST(kmc2.c[i] AS DOUBLE))), (acc, x) -> acc + x) - 2 * list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(range(1, len(kme_n.e) + 1), i -> CAST(kme_n.e[i] AS DOUBLE) * CAST(kmc2.c[i] AS DOUBLE))), (acc, x) -> acc + x), 6) AS dist
      FROM kme_n CROSS JOIN kmc2
    ),
    kmaf AS (SELECT vec_id, e, cell_id, dist FROM kmaf_d WHERE rn = 1),
    kvd AS (
      SELECT DISTINCT event_type,
             CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15)
                  AS BIGINT) AS __h
      FROM events
    ),
    kvk AS (
      SELECT event_type, __h FROM (
        SELECT event_type, __h,
               ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY __h) AS rn
        FROM kvd
      ) WHERE rn <= {_KMV_K}
    ),
    kvt AS (
      SELECT event_type,
             CASE WHEN COUNT(*) < {_KMV_K}
                  THEN CAST(1152921504606846976 AS BIGINT)
                  ELSE MAX(__h) END AS theta
      FROM kvk GROUP BY event_type
    ),
    kvp AS (
      SELECT a.event_type AS ga, b.event_type AS gb,
             LEAST(a.theta, b.theta) AS theta
      FROM kvt a JOIN kvt b ON a.event_type < b.event_type
    ),
    kvsa AS (
      SELECT p.ga, p.gb, COUNT(*) AS sa FROM kvp p
      JOIN kvk k ON k.event_type = p.ga AND k.__h < p.theta
      GROUP BY p.ga, p.gb
    ),
    kvsb AS (
      SELECT p.ga, p.gb, COUNT(*) AS sb FROM kvp p
      JOIN kvk k ON k.event_type = p.gb AND k.__h < p.theta
      GROUP BY p.ga, p.gb
    ),
    kvsi AS (
      SELECT p.ga, p.gb, COUNT(*) AS si FROM kvp p
      JOIN kvk x ON x.event_type = p.ga AND x.__h < p.theta
      JOIN kvk y ON y.event_type = p.gb AND y.__h = x.__h
      GROUP BY p.ga, p.gb
    ),
    kvo AS (
      SELECT p.ga, p.gb, p.theta,
             COALESCE(i.si, 0) AS inter_cnt,
             COALESCE(a.sa, 0) + COALESCE(b.sb, 0) - COALESCE(i.si, 0)
               AS union_cnt
      FROM kvp p
      LEFT JOIN kvsa a ON a.ga = p.ga AND a.gb = p.gb
      LEFT JOIN kvsb b ON b.ga = p.ga AND b.gb = p.gb
      LEFT JOIN kvsi i ON i.ga = p.ga AND i.gb = p.gb
    ),
    kvdu AS (SELECT DISTINCT event_type, user_id FROM events),
    kvexi AS (
      SELECT a.event_type AS ga, b.event_type AS gb, COUNT(*) AS exi
      FROM kvdu a JOIN kvdu b
        ON a.user_id = b.user_id AND a.event_type < b.event_type
      GROUP BY 1, 2
    ),
    kvsz AS (SELECT event_type, COUNT(*) AS n FROM kvdu GROUP BY 1),
    amsz AS (
      SELECT event_type, j,
             CAST(SUM(1 - 2 * (CAST('0x' || substr(md5(CAST(j AS VARCHAR)
                  || '|' || CAST(user_id AS VARCHAR)), 1, 15) AS BIGINT)
                  % 2)) AS BIGINT) AS z
      FROM events CROSS JOIN (SELECT UNNEST(range(0, {_AMS_R})) AS j) jj
      GROUP BY event_type, j
    ),
    amsm AS (
      SELECT event_type, CAST(j // 4 AS INT) AS b,
             CAST(SUM(z * z) AS DOUBLE) / COUNT(*) AS m
      FROM amsz GROUP BY 1, 2
    ),
    amse AS (
      SELECT event_type,
             CASE WHEN len(ms) % 2 = 1
                  THEN ms[CAST((len(ms) + 1) // 2 AS INT)]
                  ELSE (ms[CAST(len(ms) // 2 AS INT)]
                        + ms[CAST(len(ms) // 2 + 1 AS INT)]) / 2
             END AS f2_est
      FROM (SELECT event_type, list_sort(list(m)) AS ms
            FROM amsm GROUP BY event_type)
    ),
    amsx AS (
      SELECT event_type, CAST(SUM(c * c) AS BIGINT) AS f2
      FROM (SELECT event_type, user_id, COUNT(*) AS c
            FROM events GROUP BY 1, 2)
      GROUP BY 1
    ),
    ddsk AS (
      SELECT event_type, CAST(sign(value) AS INT) AS sgn,
             CASE WHEN value = 0 THEN CAST(0 AS BIGINT)
                  ELSE CAST(ceil(round(ln(abs(value)) / {_DDS_LG!r}, 6))
                       AS BIGINT) END AS idx,
             COUNT(*) AS c
      FROM events GROUP BY 1, 2, 3
    ),
    ddn AS (SELECT event_type, CAST(SUM(c) AS BIGINT) AS n
            FROM ddsk GROUP BY 1),
    ddcum AS (
      SELECT event_type, sgn, idx, c,
             SUM(c) OVER (PARTITION BY event_type ORDER BY sgn,
                          CASE WHEN sgn < 0 THEN -idx ELSE idx END
                          ROWS UNBOUNDED PRECEDING) AS cum
      FROM ddsk
    ),
    ddr AS (
      SELECT d.event_type, CAST(pp.p AS DOUBLE) AS p, pp.pi, d.n,
             CAST(FLOOR((d.n - 1) * pp.p) + 1 AS BIGINT) AS rank
      FROM ddn d CROSS JOIN
           (SELECT UNNEST([0.5, 0.95]) AS p, UNNEST([0, 1]) AS pi) pp
    ),
    ddq AS (
      SELECT c.event_type, r.pi, r.rank,
             CASE WHEN c.sgn = 0 THEN 0.0
                  ELSE c.sgn * ROUND(2 * power({_DDS_GAMMA!r}, c.idx)
                                     / {_DDS_GAMMA + 1.0!r}, 6) END AS est
      FROM ddcum c JOIN ddr r ON c.event_type = r.event_type
      WHERE c.cum >= r.rank AND c.cum - c.c < r.rank
    ),
    ddx AS (
      SELECT q.event_type, xp.pi, q.v
      FROM (
        SELECT event_type, value AS v,
               ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY value)
                 AS rn,
               COUNT(*) OVER (PARTITION BY event_type) AS cnt
        FROM events
      ) q JOIN (SELECT UNNEST([0.5, 0.95]) AS p, UNNEST([0, 1]) AS pi) xp
        ON q.rn = CAST(FLOOR((q.cnt - 1) * xp.p) + 1 AS BIGINT)
    ),
    kvx AS (
      SELECT o.ga, o.gb, o.theta, o.inter_cnt, o.union_cnt,
             COALESCE(e.exi, 0) AS exi,
             za.n + zb.n - COALESCE(e.exi, 0) AS exu,
             ROUND(CAST(o.inter_cnt AS DOUBLE)
                   * (CAST(1152921504606846976 AS DOUBLE)
                      / CAST(o.theta AS DOUBLE)), 6) AS intersect_est,
             ROUND(CAST(o.union_cnt AS DOUBLE)
                   * (CAST(1152921504606846976 AS DOUBLE)
                      / CAST(o.theta AS DOUBLE)), 6) AS union_est,
             CASE WHEN o.union_cnt = 0 THEN 0.0
                  ELSE ROUND(CAST(o.inter_cnt AS DOUBLE) / o.union_cnt, 6)
             END AS jaccard
      FROM kvo o
      JOIN kvsz za ON za.event_type = o.ga
      JOIN kvsz zb ON zb.event_type = o.gb
      LEFT JOIN kvexi e ON e.ga = o.ga AND e.gb = o.gb
    )
    SELECT 'semd' AS gate, CAST(a1.vec_id AS VARCHAR) AS k1,
           a2.vec_id AS k2,
           ROUND({_D_DOT.format(a="a1.embedding", b="a2.embedding")}
                 / SQRT(a1.nsq * a2.nsq), 6) AS v1,
           '' AS h
    FROM a a1 JOIN a a2
      ON a1.cell_id = a2.cell_id AND a1.vec_id < a2.vec_id
    WHERE ROUND({_D_DOT.format(a="a1.embedding", b="a2.embedding")}
                / SQRT(a1.nsq * a2.nsq), 6) >= {_SEMD_THRESHOLD}
    UNION ALL
    SELECT 'hh', hhc.event_type || '|' || hhc.v, hhc.n,
           ROUND(hhc.n / hht.total, 6), CAST(hhc.n AS VARCHAR)
    FROM hhc JOIN hht USING (event_type)
    WHERE hhc.n >= CAST(hht.total AS DOUBLE) / 256
    UNION ALL
    SELECT 'hll', event_type, COUNT(DISTINCT user_id), 1.0, ''
    FROM events GROUP BY event_type
    UNION ALL
    SELECT 'gkq', event_type, COUNT(*), 1.0, ''
    FROM events GROUP BY event_type
    UNION ALL
    SELECT 'cms', 'b|' || CAST(row_i AS VARCHAR), bucket,
           CAST(c AS DOUBLE), ''
    FROM cmss
    UNION ALL
    SELECT 'cms', '', p.kv, CAST(p.est AS DOUBLE), CAST(e.n AS VARCHAR)
    FROM cmsp p JOIN (
      SELECT user_id % {_HH_DOMAIN} AS kv, COUNT(*) AS n
      FROM events GROUP BY 1
    ) e USING (kv)
    UNION ALL
    SELECT 'kmv', kk.event_type, kx.exact_d,
           CASE WHEN kk.n_kept < {_KMV_K} THEN CAST(kk.n_kept AS DOUBLE)
                ELSE ROUND(CAST({_KMV_K - 1} AS DOUBLE)
                           * CAST(1152921504606846976 AS DOUBLE)
                           / CAST(kk.kth AS DOUBLE), 6) END,
           CAST(kk.kth AS VARCHAR)
    FROM (
      SELECT event_type, COUNT(*) AS n_kept, MAX(__h) AS kth
      FROM (
        SELECT event_type, __h,
               ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY __h) AS rn
        FROM (
          SELECT DISTINCT event_type,
                 CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15)
                      AS BIGINT) AS __h
          FROM events
        )
      ) WHERE rn <= {_KMV_K} GROUP BY event_type
    ) kk JOIN (
      SELECT event_type, COUNT(DISTINCT user_id) AS exact_d
      FROM events GROUP BY event_type
    ) kx USING (event_type)
    UNION ALL
    SELECT 'kvx', 'i|' || ga || '|' || gb, exi, intersect_est,
           CAST(theta AS VARCHAR)
    FROM kvx
    UNION ALL
    SELECT 'kvx', 'u|' || ga || '|' || gb, exu, union_est,
           CAST(theta AS VARCHAR)
    FROM kvx
    UNION ALL
    SELECT 'kvx', 'j|' || ga || '|' || gb, 0, jaccard, ''
    FROM kvx
    UNION ALL
    SELECT 'ams', 'z|' || event_type || '|' || CAST(j AS VARCHAR), z, 0.0, ''
    FROM amsz
    UNION ALL
    SELECT 'ams', 'e|' || event_type, x.f2, e.f2_est, ''
    FROM amse e JOIN amsx x USING (event_type)
    UNION ALL
    SELECT 'dds', 'b|' || event_type || '|' || CAST(sgn AS VARCHAR)
           || '|' || CAST(idx AS VARCHAR), c, 0.0, ''
    FROM ddsk
    UNION ALL
    SELECT 'dds', 'q|' || event_type || '|' || CAST(pi AS VARCHAR),
           rank, est, ''
    FROM ddq
    UNION ALL
    SELECT 'dds', 'c|' || q.event_type || '|' || CAST(q.pi AS VARCHAR), 0,
           CASE WHEN (x.v = 0 AND q.est = 0)
                  OR (x.v <> 0 AND abs(q.est - x.v)
                      <= {_DDS_ALPHA!r} * abs(x.v) + 1e-12)
                THEN 1.0 ELSE 0.0 END, ''
    FROM ddq q JOIN ddx x ON q.event_type = x.event_type AND q.pi = x.pi
    UNION ALL
    SELECT 'lmp' AS gate, '' AS k1, doc_id AS k2,
           ROUND(-AVG(lp), 6) + 0.0 AS v1,
           CAST(COUNT(*) AS VARCHAR) AS h
    FROM (
      SELECT tr.doc_id,
             COALESCE(
               ln((CAST(pc.cpt AS DOUBLE) + CAST(1 AS DOUBLE))
                  / (CAST(cc.cp AS DOUBLE) + vv.v + CAST(1 AS DOUBLE))),
               ln(CAST(1 AS DOUBLE)
                  / (CAST(cc.cp AS DOUBLE) + vv.v + CAST(1 AS DOUBLE))),
               ln(CAST(1 AS DOUBLE) / (vv.v + CAST(1 AS DOUBLE)))
             ) AS lp
      FROM (
        SELECT doc_id, lang, tok[i] AS prev, tok[i + 1] AS token
        FROM (
          SELECT doc_id, lang,
                 list_filter(string_split(text, ' '), x -> x <> '') AS tok
          FROM documents
        ), unnest(range(1, len(tok))) AS u(i)
      ) tr
      LEFT JOIN (
        SELECT prev, token, COUNT(*) AS cpt FROM (
          SELECT tok[i] AS prev, tok[i + 1] AS token
          FROM (
            SELECT lang, list_filter(string_split(text, ' '), x -> x <> '') AS tok
            FROM documents WHERE lang = 'en'
          ), unnest(range(1, len(tok))) AS u(i)
        ) GROUP BY 1, 2
      ) pc ON tr.prev = pc.prev AND tr.token = pc.token
      LEFT JOIN (
        SELECT prev, COUNT(*) AS cp FROM (
          SELECT tok[i] AS prev
          FROM (
            SELECT list_filter(string_split(text, ' '), x -> x <> '') AS tok
            FROM documents WHERE lang = 'en'
          ), unnest(range(1, len(tok))) AS u(i)
        ) GROUP BY 1
      ) cc ON tr.prev = cc.prev
      CROSS JOIN (
        SELECT CAST(COUNT(DISTINCT t) AS DOUBLE) AS v FROM (
          SELECT unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS t
          FROM documents WHERE lang = 'en'
        )
      ) vv
    ) GROUP BY doc_id
    UNION ALL
    SELECT 'dsr' AS gate, '' AS k1, d.doc_id AS k2,
           ROUND(COALESCE(w.logw, CAST(0 AS DOUBLE)), 6) + 0.0 AS v1, '' AS h
    FROM documents d LEFT JOIN (
      SELECT db.doc_id, SUM(db.cnt * lr.log_ratio) AS logw
      FROM (
        SELECT doc_id, bucket, COUNT(*) AS cnt FROM (
          SELECT doc_id,
                 CAST('0x' || substr(md5(g), 1, 15) AS BIGINT)
                   % {_DSIR_DIM} AS bucket
          FROM (
            SELECT doc_id, unnest(list_concat(tok,
              CASE WHEN len(tok) < 2 THEN CAST([] AS VARCHAR[]) ELSE
                list_transform(range(1, len(tok)),
                               i -> tok[i] || ' ' || tok[i + 1]) END)) AS g
            FROM (
              SELECT doc_id,
                     list_filter(string_split(text, ' '), x -> x <> '') AS tok
              FROM documents
            )
          )
        ) GROUP BY doc_id, bucket
      ) db
      JOIN (
        SELECT b.bucket,
               ln((CAST(COALESCE(tc.c, 0) AS DOUBLE) + CAST(1 AS DOUBLE))
                  / ((SELECT CAST(COUNT(*) AS DOUBLE) FROM (
                        SELECT doc_id,
                               CAST('0x' || substr(md5(g), 1, 15) AS BIGINT) AS hh
                        FROM (
                          SELECT doc_id, unnest(list_concat(tok,
                            CASE WHEN len(tok) < 2 THEN CAST([] AS VARCHAR[]) ELSE
                              list_transform(range(1, len(tok)),
                                             i -> tok[i] || ' ' || tok[i + 1]) END)) AS g
                          FROM (
                            SELECT d2.doc_id,
                                   list_filter(string_split(d2.text, ' '),
                                               x -> x <> '') AS tok
                            FROM documents d2 WHERE d2.lang = 'en'
                          )
                        )
                      )) + CAST({_DSIR_DIM} AS DOUBLE)))
               - ln((CAST(COALESCE(qc.c, 0) AS DOUBLE) + CAST(1 AS DOUBLE))
                  / ((SELECT CAST(COUNT(*) AS DOUBLE) FROM (
                        SELECT doc_id,
                               CAST('0x' || substr(md5(g), 1, 15) AS BIGINT) AS hh
                        FROM (
                          SELECT doc_id, unnest(list_concat(tok,
                            CASE WHEN len(tok) < 2 THEN CAST([] AS VARCHAR[]) ELSE
                              list_transform(range(1, len(tok)),
                                             i -> tok[i] || ' ' || tok[i + 1]) END)) AS g
                          FROM (
                            SELECT d3.doc_id,
                                   list_filter(string_split(d3.text, ' '),
                                               x -> x <> '') AS tok
                            FROM documents d3
                          )
                        )
                      )) + CAST({_DSIR_DIM} AS DOUBLE))) AS log_ratio
        FROM (SELECT unnest(range(0, {_DSIR_DIM})) AS bucket) b
        LEFT JOIN (
          SELECT CAST('0x' || substr(md5(g), 1, 15) AS BIGINT)
                   % {_DSIR_DIM} AS bucket, COUNT(*) AS c
          FROM (
            SELECT unnest(list_concat(tok,
              CASE WHEN len(tok) < 2 THEN CAST([] AS VARCHAR[]) ELSE
                list_transform(range(1, len(tok)),
                               i -> tok[i] || ' ' || tok[i + 1]) END)) AS g
            FROM (
              SELECT list_filter(string_split(text, ' '), x -> x <> '') AS tok
              FROM documents WHERE lang = 'en'
            )
          ) GROUP BY 1
        ) tc ON b.bucket = tc.bucket
        LEFT JOIN (
          SELECT CAST('0x' || substr(md5(g), 1, 15) AS BIGINT)
                   % {_DSIR_DIM} AS bucket, COUNT(*) AS c
          FROM (
            SELECT unnest(list_concat(tok,
              CASE WHEN len(tok) < 2 THEN CAST([] AS VARCHAR[]) ELSE
                list_transform(range(1, len(tok)),
                               i -> tok[i] || ' ' || tok[i + 1]) END)) AS g
            FROM (
              SELECT list_filter(string_split(text, ' '), x -> x <> '') AS tok
              FROM documents
            )
          ) GROUP BY 1
        ) qc ON b.bucket = qc.bucket
      ) lr ON db.bucket = lr.bucket
      GROUP BY db.doc_id
    ) w ON d.doc_id = w.doc_id
    UNION ALL
    SELECT 'ccn' AS gate,
           lang || '|' || CAST(LEAST(3, CAST(FLOOR(PERCENT_RANK() OVER (
             PARTITION BY lang ORDER BY r) * 3) AS INT) + 1) AS VARCHAR)
             AS k1,
           doc_id AS k2, r + 0.0 AS v1, '' AS h
    FROM (
      SELECT t.doc_id, t.lang,
             ROUND(-AVG(COALESCE(u.logp, ln(1.0 / cd.denom))), 6) AS r
      FROM (
        SELECT doc_id, lang,
               unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS token
        FROM documents
      ) t
      LEFT JOIN (
        SELECT c.token,
               ln((CAST(c.n AS DOUBLE) + 1.0) / d.denom) AS logp
        FROM (
          SELECT token, COUNT(*) AS n FROM (
            SELECT unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS token
            FROM documents WHERE lang = 'en'
          ) GROUP BY 1
        ) c CROSS JOIN (
          SELECT CAST(SUM(n) + COUNT(*) + 1 AS DOUBLE) AS denom FROM (
            SELECT token, COUNT(*) AS n FROM (
              SELECT unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS token
              FROM documents WHERE lang = 'en'
            ) GROUP BY 1
          )
        ) d
      ) u ON t.token = u.token
      CROSS JOIN (
        SELECT CAST(SUM(n) + COUNT(*) + 1 AS DOUBLE) AS denom FROM (
          SELECT token, COUNT(*) AS n FROM (
            SELECT unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS token
            FROM documents WHERE lang = 'en'
          ) GROUP BY 1
        )
      ) cd
      GROUP BY t.doc_id, t.lang
    )
    UNION ALL
    SELECT 'blm' AS gate, '' AS k1, doc_id AS k2,
           CASE WHEN flagged THEN 1.0 ELSE 0.0 END + 0.0 AS v1, '' AS h
    FROM (
      SELECT ph.doc_id,
             BOOL_AND((ph.h1 + u.j * ph.h2) % {_BLM_M} IN
                      (SELECT p FROM (
                        SELECT DISTINCT (bh.h1 + t.j * bh.h2) % {_BLM_M} AS p
                        FROM (
                          SELECT CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) AS h1,
                                 CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 16, 15) AS BIGINT) AS h2
                          FROM documents WHERE doc_id % {_BLM_MOD} = 0
                        ) bh, unnest(range(0, {_BLM_K})) AS t(j)
                      ))) AS flagged
      FROM (
        SELECT doc_id,
               CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) AS h1,
               CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 16, 15) AS BIGINT) AS h2
        FROM documents
      ) ph, unnest(range(0, {_BLM_K})) AS u(j)
      GROUP BY ph.doc_id
    )
    UNION ALL
    SELECT 'kmc' AS gate, CAST(cell_id AS VARCHAR) AS k1, vec_id AS k2,
           dist + 0.0 AS v1, '' AS h
    FROM kmaf
    UNION ALL
    SELECT 'kmc', 'c|' || CAST(cell_id AS VARCHAR), u.i, c[u.i] + 0.0, ''
    FROM kmc2, unnest(range(1, len(c) + 1)) AS u(i)
    UNION ALL
    SELECT 'kbs', CAST(cell_id AS VARCHAR), vec_id, dist + 0.0,
           CAST(rn AS VARCHAR)
    FROM (
      SELECT cell_id, vec_id, dist, ROW_NUMBER() OVER (
        PARTITION BY cell_id ORDER BY dist DESC, vec_id) AS rn
      FROM kmaf
    ) WHERE rn <= {_KBS_KEEP}
    UNION ALL
    SELECT 'rpj', CAST(m.i AS VARCHAR), kme.vec_id,
           list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
             list_transform(range(1, len(kme.e) + 1),
                            k -> kme.e[k] * m.r[k])),
             (acc, x) -> acc + x) + 0.0 AS v1,
           '' AS h
    FROM kme CROSS JOIN (VALUES {_RPJ_ROWS_SQL}) m(i, r)
"""


def _sketch_emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONE checkpointed (vec_id, embedding) slim shared by the
    semd / kmc+kbs / rpj branches (VERDICT r8 #2): each otherwise re-scans
    embeddings.parquet — same pattern as _tokdocs for the LM branches."""
    from enterprise_warp_spark.functions.arrays import spread

    return (
        spread(table(spark, sf_dir, "embeddings"), "vec_id")
        .select("vec_id", "embedding")
        .localCheckpoint(eager=True)
    )


def _events_slim(spark: SparkSession, sf_dir: str):
    """ONE checkpointed events slim + ONE checkpointed exact-aggregate
    shared by the hh / hll / gkq branches (VERDICT r8 #2): previously
    events.parquet was scanned 5x (hh once, hll twice via approx + exact,
    gkq twice) and the exact groupBy ran twice."""
    from enterprise_warp_spark.functions.arrays import spread

    # spread: a single-file events scan otherwise pins every downstream
    # map stage (hh partials, kmv hashing, cms md5s) to 1-4 tasks
    ev = (
        spread(table(spark, sf_dir, "events"), "event_id")
        .select(
            "event_type", "user_id", "value",
            (F.col("user_id") % _HH_DOMAIN).alias("hv"),
        )
        .localCheckpoint(eager=True)
    )
    exact = (
        ev.groupBy("event_type")
        .agg(
            F.countDistinct("user_id").alias("exact_d"),
            F.count(F.lit(1)).alias("n"),
            F.expr("percentile(value, array(0.4, 0.6))").alias("env"),
        )
        .localCheckpoint(eager=True)
    )
    return ev, exact


def _semd_branch(spark: SparkSession, sf_dir: str, emb: DataFrame) -> DataFrame:
    from enterprise_warp_spark.pipeline.similarity import semdedup_pairs

    return semdedup_pairs(
        emb, threshold=_SEMD_THRESHOLD, n_cells=_SEMD_CELLS
    ).select(
        F.lit("semd").alias("gate"),
        F.col("vec_a").cast("string").alias("k1"),
        F.col("vec_b").cast("long").alias("k2"),
        F.col("cosine").alias("v1"),
        F.lit("").alias("h"),
    )


def _hh_branch(spark: SparkSession, sf_dir: str, ev: DataFrame) -> DataFrame:
    from enterprise_warp_spark.operators.sketches import heavy_hitters

    out = heavy_hitters(
        ev.select("event_type", "hv"), "event_type", "hv",
        min_share=_HH_SHARE, capacity=256,
    )
    return out.select(
        F.lit("hh").alias("gate"),
        F.concat_ws("|", "event_type", "hv").alias("k1"),
        F.col("n_lower").cast("long").alias("k2"),
        F.col("share_lower").alias("v1"),
        # n_upper == n_lower here (domain < capacity => eps_tot == 0); the
        # oracle pins that collapse by writing n into BOTH k2 and h
        F.col("n_upper").cast("string").alias("h"),
    )


def _hll_gk_branches(
    spark: SparkSession, sf_dir: str, ev: DataFrame, exact: DataFrame
) -> DataFrame:
    from enterprise_warp_spark.operators.sketches import (
        approx_distinct_by,
        approx_quantiles_by,
    )

    hll = (
        approx_distinct_by(ev, "event_type", "user_id", rsd=_HLL_RSD)
        .join(exact, "event_type")
        .select(
            F.lit("hll").alias("gate"),
            F.col("event_type").alias("k1"),
            F.col("exact_d").cast("long").alias("k2"),
            F.when(
                F.abs(F.col("approx_distinct") - F.col("exact_d"))
                <= F.lit(3.0 * _HLL_RSD) * F.col("exact_d"),
                F.lit(1.0),
            )
            .otherwise(F.lit(0.0))
            .alias("v1"),
            F.lit("").alias("h"),
        )
    )
    from enterprise_warp_spark.operators.sketches import kmv_distinct_by

    kmv = (
        kmv_distinct_by(
            ev.select("event_type", "user_id"), "event_type", "user_id",
            k=_KMV_K,
        )
        .join(exact, "event_type")
        .select(
            F.lit("kmv").alias("gate"),
            F.col("event_type").alias("k1"),
            F.col("exact_d").cast("long").alias("k2"),
            # the KMV ESTIMATE itself is hash-gated (exact md5 + integer
            # order + one multiply/divide on both engines) — stronger
            # than the hll/gkq error-contract rows
            (F.col("kmv_distinct") + F.lit(0.0)).alias("v1"),
            F.col("kth_hash").cast("string").alias("h"),
        )
    )
    gk = (
        approx_quantiles_by(
            ev, "event_type", "value", probs=(0.5,), accuracy=_GK_ACCURACY
        )
        .join(exact, "event_type")
        .select(
            F.lit("gkq").alias("gate"),
            F.col("event_type").alias("k1"),
            F.col("n").cast("long").alias("k2"),
            F.when(
                (F.col("approx_q")[0] >= F.col("env")[0])
                & (F.col("approx_q")[0] <= F.col("env")[1]),
                F.lit(1.0),
            )
            .otherwise(F.lit(0.0))
            .alias("v1"),
            F.lit("").alias("h"),
        )
    )
    return hll.unionByName(gk).unionByName(kmv)


def _kvx_branch(spark: SparkSession, sf_dir: str, ev: DataFrame) -> DataFrame:
    """KMV set-operation estimates (operators/sketches.py kmv_set_ops, the
    theta-sketch framework over the module's KMV bottom-k): for every
    event_type pair, three hash-gated rows — [i] intersection estimate with
    the exact distinct-user intersection as witness (k2), [u] union
    estimate with the exact union as witness, [j] the sample Jaccard (theta
    cancels, so it is exact arithmetic on two sample counts). Like [kmv],
    the ESTIMATES themselves hash-match DuckDB: md5 hashing, integer
    order statistics, and one matched-order multiply/divide per row."""
    from enterprise_warp_spark.operators.sketches import kmv_set_ops

    s = kmv_set_ops(
        ev.select("event_type", "user_id"), "event_type", "user_id",
        k=_KMV_K,
    )
    du = ev.select("event_type", "user_id").distinct().localCheckpoint(
        eager=True
    )
    ua = du.select(F.col("event_type").alias("group_a"), "user_id")
    ub = du.select(F.col("event_type").alias("group_b"), "user_id")
    exi = (
        ua.join(ub, "user_id")
        .filter(F.col("group_a") < F.col("group_b"))
        .groupBy("group_a", "group_b")
        .agg(F.count(F.lit(1)).alias("exi"))
    )
    sz = du.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    za = sz.select(F.col("event_type").alias("group_a"), F.col("n").alias("na"))
    zb = sz.select(F.col("event_type").alias("group_b"), F.col("n").alias("nb"))
    keys = ["group_a", "group_b"]
    full = (
        s.join(za, "group_a")
        .join(zb, "group_b")
        .join(exi, keys, "left")
        .na.fill(0, ["exi"])
        .withColumn("exu", F.col("na") + F.col("nb") - F.col("exi"))
    )

    def _k1(tag: str):
        return F.concat_ws(
            "|", F.lit(tag), F.col("group_a"), F.col("group_b")
        ).alias("k1")

    i_rows = full.select(
        F.lit("kvx").alias("gate"),
        _k1("i"),
        F.col("exi").cast("long").alias("k2"),
        F.col("intersect_est").alias("v1"),
        F.col("theta").cast("string").alias("h"),
    )
    u_rows = full.select(
        F.lit("kvx").alias("gate"),
        _k1("u"),
        F.col("exu").cast("long").alias("k2"),
        F.col("union_est").alias("v1"),
        F.col("theta").cast("string").alias("h"),
    )
    j_rows = full.select(
        F.lit("kvx").alias("gate"),
        _k1("j"),
        F.lit(0).cast("long").alias("k2"),
        F.col("jaccard").alias("v1"),
        F.lit("").alias("h"),
    )
    return i_rows.unionByName(u_rows).unionByName(j_rows)


def _ams_branch(spark: SparkSession, sf_dir: str, ev: DataFrame) -> DataFrame:
    """AMS F2 sketch gate (operators/sketches.py ams_f2_by /
    ams_f2_estimate, Alon-Matias-Szegedy 1996): every sign counter z_j per
    event_type is hash-gated as exact integer arithmetic ([z] rows, z in
    k2), and the median-of-means F2 estimate is hash-gated as matched-order
    double arithmetic with the EXACT second moment (self-join size,
    sum of per-user count^2) as witness in k2 ([e] rows)."""
    from enterprise_warp_spark.operators.sketches import (
        ams_f2_by,
        ams_f2_estimate,
    )

    z = ams_f2_by(
        ev.select("event_type", "user_id"), "event_type", "user_id",
        r=_AMS_R,
    ).localCheckpoint(eager=True)  # sketch space: G x r rows, two consumers
    zrows = z.select(
        F.lit("ams").alias("gate"),
        F.concat_ws(
            "|", F.lit("z"), F.col("event_type"), F.col("j").cast("string")
        ).alias("k1"),
        F.col("z").cast("long").alias("k2"),
        F.lit(0.0).alias("v1"),
        F.lit("").alias("h"),
    )
    exact = (
        ev.groupBy("event_type", "user_id")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("event_type")
        .agg(F.sum(F.col("c") * F.col("c")).alias("f2"))
    )
    erows = (
        ams_f2_estimate(z, "event_type")
        .join(exact, "event_type")
        .select(
            F.lit("ams").alias("gate"),
            F.concat_ws("|", F.lit("e"), F.col("event_type")).alias("k1"),
            F.col("f2").cast("long").alias("k2"),
            F.col("f2_est").alias("v1"),
            F.lit("").alias("h"),
        )
    )
    return zrows.unionByName(erows)


def _dds_branch(spark: SparkSession, sf_dir: str, ev: DataFrame) -> DataFrame:
    """DDSketch gate (operators/sketches.py ddsketch_by /
    ddsketch_quantiles, Masson-Rim-Lee VLDB 2019): [b] every log-gamma
    bucket count hash-gated (the bucketing is one portable expression —
    unlike GK, the sketch itself replays in SQL), [q] the p50/p95
    estimates hash-gated as matched-order double arithmetic, [c] the
    paper's relative-error guarantee CHECKED against the exact order
    statistic inside both engines (flag row, hll-contract style)."""
    from enterprise_warp_spark.operators.sketches import (
        ddsketch_by,
        ddsketch_quantiles,
    )

    sk = ddsketch_by(
        ev.select("event_type", "value"), "event_type", "value",
        alpha=_DDS_ALPHA,
    ).localCheckpoint(eager=True)  # sketch space; feeds buckets + quantiles
    brows = sk.select(
        F.lit("dds").alias("gate"),
        F.concat_ws(
            "|", F.lit("b"), F.col("event_type"),
            F.col("sign").cast("string"), F.col("idx").cast("string"),
        ).alias("k1"),
        F.col("c").cast("long").alias("k2"),
        F.lit(0.0).alias("v1"),
        F.lit("").alias("h"),
    )
    q = ddsketch_quantiles(
        sk, "event_type", (0.5, 0.95), alpha=_DDS_ALPHA
    ).withColumn(
        "pi", F.when(F.col("p") == 0.5, F.lit(0)).otherwise(F.lit(1))
    )
    qrows = q.select(
        F.lit("dds").alias("gate"),
        F.concat_ws(
            "|", F.lit("q"), F.col("event_type"), F.col("pi").cast("string")
        ).alias("k1"),
        F.col("rank").cast("long").alias("k2"),
        F.col("est").alias("v1"),
        F.lit("").alias("h"),
    )
    from pyspark.sql import Window

    w = Window.partitionBy("event_type").orderBy("value")
    ranked = ev.select("event_type", "value").withColumn(
        "rn", F.row_number().over(w)
    ).withColumn(
        "cnt", F.count(F.lit(1)).over(Window.partitionBy("event_type"))
    )
    exact = (
        ranked.crossJoin(
            F.broadcast(
                spark.createDataFrame(
                    [(0.5, 0), (0.95, 1)], "p double, pi int"
                )
            )
        )
        .filter(
            F.col("rn")
            == (F.floor((F.col("cnt") - 1) * F.col("p")) + 1)
        )
        .select("event_type", "pi", F.col("value").alias("exact_v"))
    )
    crows = (
        q.join(exact, ["event_type", "pi"])
        .select(
            F.lit("dds").alias("gate"),
            F.concat_ws(
                "|", F.lit("c"), F.col("event_type"),
                F.col("pi").cast("string"),
            ).alias("k1"),
            F.lit(0).cast("long").alias("k2"),
            F.when(
                ((F.col("exact_v") == 0) & (F.col("est") == 0))
                | (
                    (F.col("exact_v") != 0)
                    & (
                        F.abs(F.col("est") - F.col("exact_v"))
                        <= F.lit(_DDS_ALPHA) * F.abs(F.col("exact_v"))
                        + F.lit(1e-12)
                    )
                ),
                F.lit(1.0),
            )
            .otherwise(F.lit(0.0))
            .alias("v1"),
            F.lit("").alias("h"),
        )
    )
    return brows.unionByName(qrows).unionByName(crows)


def _cms_branch(spark: SparkSession, sf_dir: str, ev: DataFrame) -> DataFrame:
    """Count-Min sketch gate (operators/sketches.py count_min_by /
    count_min_estimate, Cormode & Muthukrishnan 2005): the _CMS_D x _CMS_W
    sketch matrix over the hv key domain AND the min-over-rows probe
    estimate for EVERY key are both hash-gated — build and probe are exact
    integer arithmetic (md5-prefix hash, mod, COUNT, MIN) on both engines.
    With 200 keys over 64 buckets the collisions (and so the CM
    overestimates) genuinely occur and get value-checked; h carries the
    exact count so the artifact also witnesses est >= exact."""
    from enterprise_warp_spark.operators.sketches import (
        count_min_estimate,
        count_min_from_counts,
    )

    # ONE corpus aggregate produces the hv frequency table; the sketch is
    # then built from the 200-row counts (count_min_from_counts — exactly
    # the raw-rows sketch at a fraction of the cost) and the SAME table
    # doubles as the probe key set and the exact-count witness. The raw
    # count_min_by path is equivalence-pytested against this.
    exact = ev.groupBy("hv").agg(
        F.count(F.lit(1)).alias("n")
    ).localCheckpoint(eager=True)
    sk = count_min_from_counts(
        exact, "hv", "n", depth=_CMS_D, width=_CMS_W
    ).localCheckpoint(eager=True)
    srows = sk.select(
        F.lit("cms").alias("gate"),
        F.concat(F.lit("b|"), F.col("row_i").cast("string")).alias("k1"),
        F.col("bucket").cast("long").alias("k2"),
        F.col("c").cast("double").alias("v1"),
        F.lit("").alias("h"),
    )
    probe = count_min_estimate(
        sk, exact.select("hv"), "hv", depth=_CMS_D, width=_CMS_W
    )
    prows = probe.join(exact, probe["value"] == exact["hv"]).select(
        F.lit("cms").alias("gate"),
        F.lit("").alias("k1"),
        F.col("value").cast("long").alias("k2"),
        F.col("cm_count").cast("double").alias("v1"),
        F.col("n").cast("string").alias("h"),
    )
    return srows.unionByName(prows)


def _tokdocs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONE tokenized-documents table (doc_id, lang, toks) shared by the
    lmp / dsr / ccn branches (the matching_geo_ops `_customer_slim` /
    repeated_ngram_spans `grams=` pattern): each of those branches
    otherwise re-scans documents.parquet and re-runs the same
    split+filter tokenization 1-2 times. Materialized once
    (localCheckpoint), consumed as a pre-tokenized array column via the
    featurizers' _toks convention."""
    from enterprise_warp_spark.functions.arrays import spread
    from enterprise_warp_spark.pipeline.text import TOKENS

    # spread: the slim's partitioning is inherited by every consumer's
    # heavy map stage (dsr's gram explode + md5 runs ~serial off a
    # single-file documents scan — measured 12s -> ~2s at the 10x probe)
    return (
        spread(table(spark, sf_dir, "documents"), "doc_id")
        .select(
            "doc_id", "lang", F.expr(TOKENS.format(s="text")).alias("toks")
        )
        .localCheckpoint(eager=True)
    )


def _lmp_branch(spark: SparkSession, sf_dir: str, docs: DataFrame) -> DataFrame:
    """Bigram-LM perplexity scoring (r8, pipeline/lm.py): train add-1
    bigram counts on the lang='en' slice, score EVERY document's
    transitions through the observed-pair -> seen-context-floor ->
    unseen-context-floor fallback chain (bigram_perplexity). v1 = the
    per-doc mean negative log-likelihood ROUNDed at 6 (the ~160-term
    average leaves >=8 orders below the rounding grain); h carries the
    transition count; docs with < 2 tokens have no transitions and no
    row, matching the SQL GROUP BY."""
    from enterprise_warp_spark.pipeline.lm import (
        bigram_perplexity,
        train_bigram_lm,
    )

    bi, ctx, vocab = train_bigram_lm(
        docs.filter(F.col("lang") == "en"), text_col="toks"
    )
    out = bigram_perplexity(docs, bi, ctx, vocab, text_col="toks")
    return out.select(
        F.lit("lmp").alias("gate"),
        F.lit("").alias("k1"),
        F.col("doc_id").cast("long").alias("k2"),
        (F.round("mean_nll", 6) + F.lit(0.0)).alias("v1"),
        F.col("n_transitions").cast("string").alias("h"),
    )


def _ccn_branch(spark: SparkSession, sf_dir: str, docs: DataFrame) -> DataFrame:
    """CCNet-style perplexity bucketing (r8, pipeline/lm.py ccnet_buckets,
    Wenzek et al. 2020): unigram LM trained on the lang='en' slice
    (unigram_lm_components — ONE token aggregate), every document scored,
    each language split into 3 quality tiers by a tie-aware percent_rank
    threshold over the rounded NLL (equal scores share a tier).
    k1 = lang|bucket and v1 = the rounded mean NLL, so BOTH the tier
    assignment and the underlying score are hash-checked. The oracle
    replays model + percent_rank threshold in SQL."""
    from enterprise_warp_spark.pipeline.lm import (
        ccnet_buckets,
        unigram_lm_components,
    )

    lm, unseen = unigram_lm_components(
        docs.filter(F.col("lang") == "en"), text_col="toks"
    )
    b = ccnet_buckets(docs, lm, unseen, n_buckets=3, text_col="toks")
    return b.select(
        F.lit("ccn").alias("gate"),
        F.concat("lang", F.lit("|"), F.col("bucket").cast("string")).alias("k1"),
        F.col("doc_id").cast("long").alias("k2"),
        (F.round("mean_nll", 6) + F.lit(0.0)).alias("v1"),
        F.lit("").alias("h"),
    )


def _blm_branch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter decontamination probe (r8, operators/sketches.py
    bloom_build/bloom_probe): insert the doc_id % _BLM_MOD == 0 keys into a
    deliberately under-sized filter (_BLM_M bits, _BLM_K md5 double-hashes)
    and probe EVERY document — v1 flags maybe-membership, so the oracle
    (the same position arithmetic as a DuckDB set-membership check) verifies
    the exact bit-collision pattern including real false positives, not just
    the no-false-negative contract. The probe plan is map-only: the filter
    rides as an array literal, no join, no shuffle."""
    from enterprise_warp_spark.operators.sketches import bloom_build, bloom_probe

    docs = table(spark, sf_dir, "documents").select(
        "doc_id", F.col("doc_id").cast("string").alias("x")
    )
    bl = bloom_build(
        docs.filter(F.col("doc_id") % _BLM_MOD == 0).select("x"),
        "x", m_bits=_BLM_M, k=_BLM_K,
    )
    out = bloom_probe(docs, "x", bl, m_bits=_BLM_M, k=_BLM_K)
    return out.select(
        F.lit("blm").alias("gate"),
        F.lit("").alias("k1"),
        F.col("doc_id").cast("long").alias("k2"),
        (F.when(F.col("maybe_member"), 1.0).otherwise(0.0) + F.lit(0.0)).alias("v1"),
        F.lit("").alias("h"),
    )


def _kmc_branch(spark: SparkSession, sf_dir: str, emb: DataFrame) -> DataFrame:
    """Deterministic fixed-iteration Lloyd k-means (r8,
    pipeline/similarity.py lloyd_kmeans): k=8 centroids seeded from the 8
    lowest vec_ids, 2 full Lloyd iterations with every distance and every
    centroid coordinate ROUNDed at 6 before reuse — so the whole
    trajectory is replayable by the unrolled kmc0->kmc1->kmc2 SQL CTE
    chain. TWO row families are hash-checked: the final assignment of
    every vector (k1=cell, k2=vec_id, v1=rounded distance) AND the final
    centroid coordinates themselves (k1='c|'||cell, k2=1-based dim,
    v1=coordinate), so a drifted mean or a flipped argmin in EITHER
    iteration fails the gate.

    [kbs] rides the SAME lloyd_kmeans call (no extra clustering jobs):
    prototype_prune keeps the _KBS_KEEP hardest (farthest-from-centroid)
    vectors per cell — Sorscher et al. 2022 pruning — and the oracle
    replays the rank window over its own final-assignment CTE, so the
    kept SET and the rank ORDER are both hash-checked."""
    from enterprise_warp_spark.pipeline.similarity import (
        lloyd_kmeans,
        prototype_prune,
    )

    # input_materialized: emb is the gate's shared _sketch_emb — already
    # spread + checkpointed — so lloyd_kmeans skips its own blocking
    # corpus-copy checkpoint (r15, verdict #5); its consumers redo only
    # the cast+nsq map over the shared in-memory partitions
    assignments, centroids = lloyd_kmeans(
        emb, k=_KMC_K, n_iter=_KMC_ITER, input_materialized=True
    )
    kept = prototype_prune(assignments, _KBS_KEEP, hardest=True)
    b = kept.select(
        F.lit("kbs").alias("gate"),
        F.col("cell_id").cast("string").alias("k1"),
        F.col("vec_id").cast("long").alias("k2"),
        (F.col("dist") + F.lit(0.0)).alias("v1"),
        F.col("proto_rank").cast("string").alias("h"),
    )
    a = assignments.select(
        F.lit("kmc").alias("gate"),
        F.col("cell_id").cast("string").alias("k1"),
        F.col("vec_id").cast("long").alias("k2"),
        (F.col("dist") + F.lit(0.0)).alias("v1"),
        F.lit("").alias("h"),
    )
    c = centroids.select(
        "cell_id", F.posexplode("c_emb").alias("pos", "cv")
    ).select(
        F.lit("kmc").alias("gate"),
        F.concat(F.lit("c|"), F.col("cell_id").cast("string")).alias("k1"),
        (F.col("pos") + 1).cast("long").alias("k2"),
        (F.col("cv") + F.lit(0.0)).alias("v1"),
        F.lit("").alias("h"),
    )
    return a.unionByName(c).unionByName(b)


def _rpj_branch(spark: SparkSession, sf_dir: str, emb: DataFrame) -> DataFrame:
    """Sparse random projection (r8, pipeline/similarity.py
    random_projection, Achlioptas 2003): every output coordinate of
    every vector is hash-checked against the identical md5-derived
    literal matrix folded in SQL — map-only on BOTH engines, so any
    drift in matrix derivation, literal fidelity, or fold order fails
    the gate."""
    from enterprise_warp_spark.pipeline.similarity import random_projection

    p = random_projection(emb, _RPJ_DIM, seed=_RPJ_SEED)
    return p.select(
        "vec_id", F.posexplode("proj").alias("pos", "pv")
    ).select(
        F.lit("rpj").alias("gate"),
        F.col("pos").cast("string").alias("k1"),
        F.col("vec_id").cast("long").alias("k2"),
        (F.col("pv") + F.lit(0.0)).alias("v1"),
        F.lit("").alias("h"),
    )


def _dsr_branch(spark: SparkSession, sf_dir: str, docs: DataFrame) -> DataFrame:
    """DSIR importance log-weights (r8, operators/sampling.py
    dsir_weights): raw = the documents table, target = its lang='en'
    slice, hashed unigram+bigram features in _DSIR_DIM buckets with the
    module's portable md5 hash — the oracle reproduces the whole
    pipeline (feature hash, Laplace-smoothed bucket models, per-doc
    cnt * log-ratio sums) in SQL. ROUND at 6 absorbs the <=1-ulp ln()
    and summation-order differences."""
    from enterprise_warp_spark.operators.sampling import dsir_weights

    # target ⊆ raw: the flag fast path featurizes the corpus ONCE (the en
    # slice's p-distribution sums the flagged rows of the same bucket table)
    w = dsir_weights(
        docs, None, text_col="toks", dim=_DSIR_DIM,
        target_flag=F.col("lang") == "en",
    )
    return w.select(
        F.lit("dsr").alias("gate"),
        F.lit("").alias("k1"),
        F.col("doc_id").cast("long").alias("k2"),
        (F.round("dsir_logw", 6) + F.lit(0.0)).alias("v1"),
        F.lit("").alias("h"),
    )


@register(
    "learned_sketch_ops",
    _SKETCH_ORACLE,
    doc="Union hash gate for the sketch/semantic-dedup families: [semd] "
    "SemDeDup within-cell cosine pairs (pipeline/similarity.py "
    "semdedup_pairs; deterministic centroids, rounded distances/cosines), "
    "[hh] Misra-Gries heavy hitters (operators/sketches.py) on a domain "
    "below capacity so the MG interval provably collapses to the exact "
    "count, [hll] HyperLogLog++ distinct estimate gated on its 3*rsd "
    "error contract vs the exact count, [gkq] Greenwald-Khanna approx "
    "median gated on the exact [p40, p60] envelope, [kmv] k-minimum-values "
    "distinct sketch (operators/sketches.py kmv_distinct_by, Bar-Yossef et "
    "al. 2002 / Beyer et al. 2007) whose ESTIMATE is itself hash-gated — "
    "portable md5-prefix hash, k smallest per group, (k-1)/u_(k) — the "
    "exactly-SQL-replayable sketch alongside the hll/gkq contract rows "
    "(r9), [cms] Count-Min sketch (operators/sketches.py "
    "count_min_from_counts + count_min_estimate, Cormode & Muthukrishnan "
    "2005; the raw-rows count_min_by builder is equivalence-pytested) — "
    "the d x w sketch matrix AND every key's min-over-rows probe estimate "
    "hash-gated against the same exact integer arithmetic in SQL, with "
    "real collisions at 200 keys over 64 buckets (r9), [lmp] bigram-LM "
    "perplexity scoring (pipeline/lm.py, trained on the en slice, full "
    "fallback chain) vs its SQL twin, [dsr] DSIR importance log-weights "
    "(operators/sampling.py, Xie et al. 2023) vs a full SQL "
    "reproduction, [blm] Bloom-filter decontamination probe "
    "(operators/sketches.py, md5 double-hash, map-only zero-shuffle "
    "probe) vs SQL position-set membership incl. real false positives "
    "(r8), [kmc] deterministic fixed-iteration Lloyd k-means "
    "(pipeline/similarity.py lloyd_kmeans: lowest-id init, rounded "
    "trajectory) — final assignments AND centroid coordinates vs the "
    "unrolled 2-iteration SQL CTE chain (r8), [kbs] prototypicality "
    "pruning (pipeline/similarity.py prototype_prune, Sorscher et al. "
    "2022: hardest-per-cell keep over the same lloyd_kmeans assignments) "
    "vs the rank window in SQL (r8), [rpj] Achlioptas sparse random "
    "projection (pipeline/similarity.py random_projection: md5-derived "
    "inlined sign matrix, map-only) — every projected coordinate vs the "
    "same literal matrix folded in SQL (r8), [ccn] CCNet perplexity "
    "bucketing (pipeline/lm.py "
    "ccnet_buckets: en-trained unigram LM, per-language tie-aware 3-tier) "
    "vs the same model + window in SQL (r8). The learned quality "
    "classifier stays pytest-gated (iterative L-BFGS has no SQL twin) — "
    "see module docstring.",
)
def learned_sketch_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The branch BUILDS are where most of the gate's wall-clock goes:
    # each runs its own driver-side jobs (eager checkpoints, k-means
    # iteration collects, LM/DSIR model totals) that are independent of
    # every other branch, so on the branch pool the serial chain collapses
    # to the longest single branch (kmc's iteration chain). Each branch
    # blocks only on the shared input IT consumes (r14) — a branch needing
    # just the embeddings does not wait for the events checkpoint.
    parts = run_branches(
        spark,
        "learned_sketch_ops",
        {
            # first: [blm] needs no shared input, so its eager probe
            # starts as soon as the shared inputs have threads
            "blm": lambda _: _blm_branch(spark, sf_dir),
            "semd": lambda inp: _semd_branch(spark, sf_dir, inp["emb"]),
            "hh": lambda inp: _hh_branch(spark, sf_dir, inp["ev"][0]),
            "hll_gk": lambda inp: _hll_gk_branches(spark, sf_dir, *inp["ev"]),
            "lmp": lambda inp: _lmp_branch(spark, sf_dir, inp["td"]),
            "dsr": lambda inp: _dsr_branch(spark, sf_dir, inp["td"]),
            "ccn": lambda inp: _ccn_branch(spark, sf_dir, inp["td"]),
            "kmc": lambda inp: _kmc_branch(spark, sf_dir, inp["emb"]),
            "rpj": lambda inp: _rpj_branch(spark, sf_dir, inp["emb"]),
            "cms": lambda inp: _cms_branch(spark, sf_dir, inp["ev"][0]),
            "kvx": lambda inp: _kvx_branch(spark, sf_dir, inp["ev"][0]),
            "ams": lambda inp: _ams_branch(spark, sf_dir, inp["ev"][0]),
            "dds": lambda inp: _dds_branch(spark, sf_dir, inp["ev"][0]),
        },
        shared={
            "td": lambda _: _tokdocs(spark, sf_dir),
            "emb": lambda _: _sketch_emb(spark, sf_dir),
            "ev": lambda _: _events_slim(spark, sf_dir),
        },
    )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out
