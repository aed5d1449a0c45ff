"""Driver-facing hash gate for the search/ranking and link-graph families
(VERDICT r7 Next #1): BM25 and TF-IDF scoring promoted from their pytest
DuckDB-twins into the CORRECTNESS artifact, plus a fixed-iteration PageRank
branch with an unrolled join-per-iteration SQL oracle.

Branches (shared schema: gate, k1 string, k2 long, v1 double, h string):

* ``bm25`` — pipeline.search.build_index + bm25_topk over the documents
  table for a fixed 3-term query; every matched document is scored (k
  passed above corpus size so the gate never depends on unrounded-score
  order at a top-k boundary), scores ROUND()ed at 4, then ranked by
  (rounded score desc, doc_id) and cut at rank<=50 — a total order both
  engines reproduce exactly. h carries rank|n_terms_matched.
* ``tfidf`` — same shape through tfidf_topk (ln(1+tf)*ln(N/df)/sqrt(dl))
  for a different query.
* ``phr`` — exact phrase query (r8): pipeline.search.phrase_match over
  build_positional_index, the classical position-list-intersection plan;
  the oracle shifts each slot's positions and GROUPs starts having all
  slots present. Occurrence counts are exact integers — no rounding.
* ``pr`` — pipeline.graph.pagerank, 5 damped iterations with uniform
  dangling-mass redistribution, over a deterministic 25-node link table
  derived from nation (two arithmetic out-edges per non-dangling node;
  node k with k%5==0 is dangling; node 6's two edges coincide, so edge
  multiplicity is exercised). The oracle unrolls the iteration as five
  chained CTEs computing the same rank/outdeg flow + dangling scalar.

Determinism: BM25/TF-IDF scores agree across engines at rel ~1e-12 (the
long-standing pytest twin bound), so ROUND at 4 leaves >=8 orders of
margin; PageRank's per-iteration float divergence is contracted by the
damping factor, so ROUND at 8 after 5 iterations leaves ~7 orders. The
rank window orders by the ROUNDED score with a doc_id tie-break, so a
sub-rounding score wiggle can never flip a rank across engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from enterprise_warp_spark.queries import register, run_branches
from enterprise_warp_spark.tables import table

_BM25_QUERY = "spark hash window"
_TFIDF_QUERY = "merge sort batch"
_PHRASE = "fast table"
_TOPK = 50
_PR_ITERS = 5
_PR_DAMPING = 0.85


def _terms_sql(query: str) -> str:
    return ", ".join(f"'{t}'" for t in sorted(set(query.split())))


def _rank_sql(score_expr: str, tag: str, query: str) -> str:
    """Shared CTE tail: round, rank by (rounded desc, doc_id), cut, emit."""
    return f"""
    SELECT '{tag}' AS gate, '' AS k1, doc_id AS k2, v1,
           CAST(rnk AS VARCHAR) || '|' || CAST(n_terms_matched AS VARCHAR) AS h
    FROM (
      SELECT doc_id, v1, n_terms_matched,
             ROW_NUMBER() OVER (ORDER BY v1 DESC, doc_id) AS rnk
      FROM (
        SELECT doc_id, ROUND({score_expr}, 4) + 0.0 AS v1,
               COUNT(*) AS n_terms_matched
        FROM m_{tag}
        JOIN dfs_{tag} USING (term) JOIN dl USING (doc_id) CROSS JOIN stats
        GROUP BY doc_id
      )
    ) WHERE rnk <= {_TOPK}
    """


def _pr_oracle() -> str:
    steps = []
    prev = "r0"
    for i in range(1, _PR_ITERS + 1):
        steps.append(f"""
    r{i} AS (
      SELECT b.node, b.odeg,
             (CAST(1 AS DOUBLE) - {_PR_DAMPING}) / vn.n
             + CAST({_PR_DAMPING} AS DOUBLE) * (
                 COALESCE(inf.inflow, CAST(0 AS DOUBLE))
                 + (SELECT COALESCE(SUM(rank), CAST(0 AS DOUBLE))
                    FROM {prev} WHERE odeg = 0) / vn.n
               ) AS rank
      FROM base b CROSS JOIN vn
      LEFT JOIN (
        SELECT e.dst AS node, SUM(r.rank / r.odeg) AS inflow
        FROM {prev} r JOIN edges e ON r.node = e.src
        WHERE r.odeg > 0 GROUP BY e.dst
      ) inf ON b.node = inf.node
    )""")
        prev = f"r{i}"
    return (
        ",\n".join(steps)
        + f"""
    , pr_out AS (
      SELECT 'pr' AS gate, '' AS k1, node AS k2,
             ROUND(rank, 8) + 0.0 AS v1, '' AS h
      FROM {prev}
    )"""
    )


_SEARCH_ORACLE = f"""
    WITH toks AS (
      SELECT doc_id, t AS term
      FROM documents, unnest(string_split(text, ' ')) AS u(t)
      WHERE t <> ''
    ),
    post AS (
      SELECT term, doc_id, CAST(count(*) AS DOUBLE) AS tf
      FROM toks GROUP BY term, doc_id
    ),
    dl AS (
      SELECT d.doc_id, CAST(COALESCE(c.c, 0) AS DOUBLE) AS dl
      FROM documents d LEFT JOIN (
        SELECT doc_id, count(*) AS c FROM toks GROUP BY doc_id
      ) c ON d.doc_id = c.doc_id
    ),
    stats AS (
      SELECT CAST((SELECT count(*) FROM documents) AS DOUBLE) AS n,
             (SELECT avg(dl) FROM dl) AS avgdl
    ),
    q_bm25 AS (SELECT unnest([{_terms_sql(_BM25_QUERY)}]) AS term),
    q_tfidf AS (SELECT unnest([{_terms_sql(_TFIDF_QUERY)}]) AS term),
    m_bm25 AS (SELECT p.* FROM post p JOIN q_bm25 USING (term)),
    m_tfidf AS (SELECT p.* FROM post p JOIN q_tfidf USING (term)),
    dfs_bm25 AS (
      SELECT term, CAST(count(DISTINCT doc_id) AS DOUBLE) AS df
      FROM m_bm25 GROUP BY term
    ),
    dfs_tfidf AS (
      SELECT term, CAST(count(DISTINCT doc_id) AS DOUBLE) AS df
      FROM m_tfidf GROUP BY term
    ),
    edges AS (
      SELECT n_nationkey AS src, (3 * n_nationkey + 1) % 25 AS dst
      FROM nation WHERE n_nationkey % 5 <> 0
      UNION ALL
      SELECT n_nationkey, (7 * n_nationkey + 2) % 25
      FROM nation WHERE n_nationkey % 5 <> 0
    ),
    verts AS (
      SELECT DISTINCT v AS node FROM (
        SELECT src AS v FROM edges UNION ALL SELECT dst FROM edges)
    ),
    vn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM verts),
    od AS (
      SELECT src AS node, CAST(COUNT(*) AS DOUBLE) AS odeg
      FROM edges GROUP BY 1
    ),
    base AS (
      SELECT v.node, COALESCE(od.odeg, CAST(0 AS DOUBLE)) AS odeg
      FROM verts v LEFT JOIN od ON v.node = od.node
    ),
    r0 AS (
      SELECT node, odeg, CAST(1 AS DOUBLE) / vn.n AS rank
      FROM base CROSS JOIN vn
    ),
    {_pr_oracle()}
    {_rank_sql(
        "sum( ln(1 + (stats.n - dfs_bm25.df + 0.5) / (dfs_bm25.df + 0.5))"
        " * (m_bm25.tf * (1.2 + 1))"
        " / (m_bm25.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / stats.avgdl)) )",
        "bm25", _BM25_QUERY)}
    UNION ALL
    {_rank_sql(
        "sum( ln(1 + m_tfidf.tf) * ln(stats.n / dfs_tfidf.df)"
        " / sqrt(dl.dl) )",
        "tfidf", _TFIDF_QUERY)}
    UNION ALL
    SELECT * FROM pr_out
    UNION ALL
    SELECT 'phr' AS gate, '' AS k1, doc_id AS k2,
           CAST(n_occ AS DOUBLE) AS v1, '' AS h
    FROM (
      SELECT doc_id, COUNT(*) AS n_occ FROM (
        SELECT p.doc_id, p.pos - ph.slot AS start
        FROM (
          SELECT t.doc_id, t.tok[u.i] AS term, u.i AS pos
          FROM (
            SELECT doc_id,
                   list_filter(string_split(text, ' '), x -> x != '') AS tok
            FROM documents
          ) t, unnest(range(1, len(t.tok) + 1)) AS u(i)
        ) p JOIN (VALUES {", ".join(
            f"('{t}', {i})" for i, t in enumerate(_PHRASE.split())
        )}) ph(term, slot) USING (term)
        GROUP BY p.doc_id, p.pos - ph.slot
        HAVING COUNT(DISTINCT ph.slot) = {len(_PHRASE.split())}
      ) GROUP BY doc_id
    )
"""


def _ranked(scored: DataFrame, tag: str) -> DataFrame:
    """Round scores, rank by (rounded desc, doc_id), cut at _TOPK. The
    engine-side twin of _rank_sql. Scale shape: the cut happens FIRST via
    orderBy+limit (TakeOrderedAndProject: per-partition top-k, one tiny
    merge — never a global single-partition window over all matched docs);
    the row_number window then runs over <=_TOPK rows."""
    cut = (
        scored.withColumn("v1", F.round("score", 4) + F.lit(0.0))
        .orderBy(F.col("v1").desc(), F.col("doc_id"))
        .limit(_TOPK)
    )
    w = Window.orderBy(F.col("v1").desc(), F.col("doc_id"))
    return (
        cut.withColumn("rnk", F.row_number().over(w))
        .select(
            F.lit(tag).alias("gate"),
            F.lit("").alias("k1"),
            F.col("doc_id").cast("long").alias("k2"),
            "v1",
            F.concat_ws(
                "|",
                F.col("rnk").cast("string"),
                F.col("n_terms_matched").cast("string"),
            ).alias("h"),
        )
    )


def _pr_branch(spark: SparkSession, sf_dir: str) -> DataFrame:
    from enterprise_warp_spark.pipeline.graph import pagerank

    nat = table(spark, sf_dir, "nation").filter(F.col("n_nationkey") % 5 != 0)
    edges = nat.select(
        F.col("n_nationkey").alias("src"),
        ((F.col("n_nationkey") * 3 + 1) % 25).alias("dst"),
    ).unionByName(
        nat.select(
            F.col("n_nationkey").alias("src"),
            ((F.col("n_nationkey") * 7 + 2) % 25).alias("dst"),
        )
    )
    return pagerank(
        edges, damping=_PR_DAMPING, iterations=_PR_ITERS
    ).select(
        F.lit("pr").alias("gate"),
        F.lit("").alias("k1"),
        F.col("node").cast("long").alias("k2"),
        (F.round("rank", 8) + F.lit(0.0)).alias("v1"),
        F.lit("").alias("h"),
    )


@register(
    "search_rank_ops",
    _SEARCH_ORACLE,
    doc="Union hash gate for the search/ranking + link-graph families: "
    "[bm25] Okapi BM25 over the inverted index (pipeline/search.py "
    "build_index + bm25_topk; k above corpus size, rank over ROUNDed "
    "scores cut at 50), [tfidf] ln(1+tf)*ln(N/df)/sqrt(dl) via "
    "tfidf_topk, [phr] exact phrase query via position-list intersection "
    "over the positional index (build_positional_index + phrase_match) vs "
    "a shifted-position GROUP BY twin, [pr] 5-iteration damped PageRank "
    "with dangling-mass redistribution (pipeline/graph.py pagerank) on a "
    "deterministic nation-derived 25-node link table vs an unrolled "
    "per-iteration SQL oracle.",
)
def search_rank_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    from enterprise_warp_spark.pipeline.search import (
        bm25_topk,
        build_positional_index,
        phrase_match,
        tfidf_topk,
    )

    docs = table(spark, sf_dir, "documents").select("doc_id", "text")

    # [pr] never touches the text index, and pagerank's per-iteration
    # dangling-mass aggregates are blocking driver jobs; the index build
    # runs two eager corpus jobs (doclen + postings checkpoints) and the
    # three query-branch CONSTRUCTIONS are each hundreds of py4j
    # round-trips. Everything builds on the branch pool, the query
    # branches blocking on the shared index inside their own closures.

    # ONE corpus explode+shuffle serves all four branches: the
    # positional postings are a strict superset of build_index's
    # (term, doc_id, tf), so bm25/tfidf score straight off them and
    # phrase_match gets its position lists — no second index build.
    # Materialize so the three consumers read the aggregated
    # postings, not three corpus scans (doclen is checkpointed
    # inside _index_from_postings, where the stats read shares it).
    def _idx(_):
        idx = build_positional_index(docs)
        idx["postings"] = idx["postings"].localCheckpoint(eager=True)
        return idx

    # k far above corpus size: every matched doc is scored, so the
    # gate's own rank window (over ROUNDED scores) is the only
    # ordering that matters — bm25_topk's internal unrounded orderBy
    # can't cut anything
    big = 1 << 30
    parts = run_branches(
        spark,
        "search_rank_ops",
        {
            "bm25": lambda inp: _ranked(
                bm25_topk(inp["idx"], _BM25_QUERY, k=big), "bm25"
            ),
            "tfidf": lambda inp: _ranked(
                tfidf_topk(inp["idx"], _TFIDF_QUERY, k=big), "tfidf"
            ),
            "phr": lambda inp: phrase_match(inp["idx"], _PHRASE).select(
                F.lit("phr").alias("gate"),
                F.lit("").alias("k1"),
                F.col("doc_id").cast("long").alias("k2"),
                F.col("n_occurrences").cast("double").alias("v1"),
                F.lit("").alias("h"),
            ),
            "pr": lambda _: _pr_branch(spark, sf_dir),
        },
        shared={"idx": _idx},
    )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out
