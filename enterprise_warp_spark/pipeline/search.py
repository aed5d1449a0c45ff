"""Distributed full-text search: inverted index + TF-IDF / BM25 scoring.

A training-data pipeline needs corpus search for targeted curation (pull
every document matching a probe query, rank boilerplate candidates, audit
contamination hits in context). The reference engine has no text search —
this module is part of the LLM-pipeline surface alongside dedup /
decontamination (`pipeline/dedup.py`, `pipeline/decontaminate.py`).

Scale shape (the part that matters at 100 TB):

- The inverted index is ONE explode + groupBy over the corpus — a single
  shuffle keyed by (term, doc_id), with map-side partial aggregation
  folding per-document term repeats before the exchange. Document lengths
  ride the same scan.
- Query scoring never touches the corpus text again: the query's terms
  (a handful of rows) are broadcast and hash-joined against the index, so
  only the matched postings flow into the per-document score aggregate.
- IDF needs the corpus document count and average length: two scalars,
  computed once per index build, never per query.

All scoring is pure Catalyst arithmetic (log/multiply/aggregate) — no
Python in any per-row path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .text import TOKENS

def _tokens(text_col: str):
    return F.expr(TOKENS.format(s=text_col))


def _index_from_postings(toks: DataFrame, postings: DataFrame) -> dict:
    """Shared tail of both index builders: doc lengths + corpus stats.
    doclen is checkpointed BEFORE the stats read: the stats job then
    scans the tiny cached (doc_id, dl) partitions instead of
    re-tokenizing the corpus, and every downstream doclen consumer
    (bm25/tfidf length normalization) reads the same materialization —
    one tokenize pass serves stats + scoring instead of one each (r14)."""
    doclen = toks.select(
        "doc_id", F.size("toks").cast("long").alias("dl")
    ).localCheckpoint(eager=True)
    stats = doclen.agg(
        F.count(F.lit(1)).alias("n"),
        F.avg("dl").alias("avgdl"),
    ).first()
    return {
        "postings": postings,
        "doclen": doclen,
        "n_docs": int(stats["n"]),
        "avgdl": float(stats["avgdl"] or 0.0),
    }


def build_index(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> dict:
    """Build the inverted index from a document table.

    Returns {'postings': DF(term, doc_id, tf), 'doclen': DF(doc_id, dl),
    'n_docs': int, 'avgdl': float}. One corpus scan; postings are the
    exploded tokens aggregated per (term, doc) — the only shuffle.
    """
    toks = docs.select(
        F.col(id_col).alias("doc_id"), _tokens(text_col).alias("toks")
    )
    postings = (
        toks.select("doc_id", F.explode("toks").alias("term"))
        .groupBy("term", "doc_id")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    return _index_from_postings(toks, postings)


def _query_tokens(query: str) -> list[str]:
    """Tokenize a query with EXACTLY the document tokenizer's semantics
    (text.TOKENS = split on single spaces, drop empties): a tab/newline or
    punctuation-adjacent character stays INSIDE a token, same as it would
    in an indexed document — so query and index always agree (ADVICE r5).
    """
    return [t for t in query.split(" ") if t]


def _query_terms(spark: SparkSession, query: str) -> DataFrame:
    """Distinct query terms (tiny; broadcast). Term multiplicity in the
    query is deliberately ignored — the classic Okapi k3 weighting is a
    no-op for the short probe queries this serves."""
    terms = sorted(set(_query_tokens(query)))
    if not terms:
        raise ValueError("query has no tokens")
    return spark.createDataFrame([(t,) for t in terms], "term string")


def bm25_topk(
    index: dict,
    query: str,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Top-k documents for `query` under BM25 (Robertson/Sparck Jones, the
    public Okapi formulation) -> (doc_id, score, n_terms_matched), ties
    broken by doc_id for determinism.

    score(d) = sum over query terms t of
        idf(t) * tf * (k1 + 1) / (tf + k1 * (1 - b + b * dl / avgdl)),
    idf(t) = ln(1 + (N - df + 0.5) / (df + 0.5)).

    The per-term document frequency is computed on the POSTINGS MATCHED BY
    THE QUERY only (after the broadcast semi-join), so query cost is
    O(matched postings), never O(corpus).
    """
    spark = index["postings"].sparkSession
    q = _query_terms(spark, query)
    n_docs, avgdl = index["n_docs"], index["avgdl"]
    if n_docs == 0 or avgdl <= 0:
        raise ValueError("empty index")

    matched = index["postings"].join(F.broadcast(q), "term")
    df_per_term = matched.groupBy("term").agg(
        F.countDistinct("doc_id").alias("df")
    )
    scored = (
        matched.join(F.broadcast(df_per_term), "term")
        .join(index["doclen"], "doc_id")
        .withColumn(
            "idf",
            F.log(
                F.lit(1.0)
                + (F.lit(float(n_docs)) - F.col("df") + F.lit(0.5))
                / (F.col("df") + F.lit(0.5))
            ),
        )
        .withColumn(
            "contrib",
            F.col("idf")
            * (F.col("tf") * F.lit(k1 + 1.0))
            / (
                F.col("tf")
                + F.lit(k1)
                * (F.lit(1.0 - b) + F.lit(b) * F.col("dl") / F.lit(avgdl))
            ),
        )
        .groupBy("doc_id")
        .agg(
            F.sum("contrib").alias("score"),
            F.count(F.lit(1)).alias("n_terms_matched"),
        )
    )
    return (
        scored.orderBy(F.col("score").desc(), F.col("doc_id").asc()).limit(k)
    )


def tfidf_topk(index: dict, query: str, k: int = 10) -> DataFrame:
    """Top-k under plain TF-IDF with cosine-style length damping:
    score(d) = sum_t ln(1 + tf) * ln(N / df) / sqrt(dl). Same join shape
    as bm25_topk; kept as the simpler reference ranking."""
    spark = index["postings"].sparkSession
    q = _query_terms(spark, query)
    n_docs = index["n_docs"]
    if n_docs == 0:
        raise ValueError("empty index")
    matched = index["postings"].join(F.broadcast(q), "term")
    df_per_term = matched.groupBy("term").agg(
        F.countDistinct("doc_id").alias("df")
    )
    scored = (
        matched.join(F.broadcast(df_per_term), "term")
        .join(index["doclen"], "doc_id")
        .withColumn(
            "contrib",
            F.log(F.lit(1.0) + F.col("tf"))
            * F.log(F.lit(float(n_docs)) / F.col("df"))
            / F.sqrt(F.col("dl")),
        )
        .groupBy("doc_id")
        .agg(
            F.sum("contrib").alias("score"),
            F.count(F.lit(1)).alias("n_terms_matched"),
        )
    )
    return (
        scored.orderBy(F.col("score").desc(), F.col("doc_id").asc()).limit(k)
    )


def build_positional_index(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> dict:
    """build_index plus per-(term, doc) POSITION LISTS (1-based token
    offsets), enabling exact phrase queries. Same single explode+groupBy
    shuffle; positions ride the aggregate as a collect_list folded map-side.
    Postings schema: (term, doc_id, tf, positions array<int>)."""
    toks = docs.select(
        F.col(id_col).alias("doc_id"), _tokens(text_col).alias("toks")
    )
    pos_rows = toks.select(
        "doc_id",
        F.posexplode("toks").alias("pos0", "term"),
    ).select("doc_id", "term", (F.col("pos0") + 1).alias("pos"))
    postings = (
        pos_rows.groupBy("term", "doc_id")
        .agg(
            F.count(F.lit(1)).alias("tf"),
            F.sort_array(F.collect_list("pos")).alias("positions"),
        )
    )
    return _index_from_postings(toks, postings)


def phrase_match(index: dict, phrase: str) -> DataFrame:
    """Documents containing the exact token phrase -> (doc_id, n_occurrences).

    Position-list intersection, the classical phrase-query plan: for the
    i-th phrase term, shift its positions by -i; a phrase occurrence is a
    position present in EVERY term's shifted list. All Catalyst: the
    broadcast phrase-term join prunes the postings to the phrase's terms,
    one groupBy(doc_id) collects each term's shifted list, and
    aggregate()/array_intersect folds the intersection — no Python rows,
    query cost O(matched postings) like bm25_topk.

    Repeated terms in the phrase are handled naturally: each occurrence of
    the term contributes its own (slot, shifted-positions) row."""
    spark = index["postings"].sparkSession
    if "positions" not in index["postings"].columns:
        raise ValueError("phrase_match needs build_positional_index postings")
    terms = _query_tokens(phrase)
    if not terms:
        raise ValueError("phrase has no tokens")
    slots = spark.createDataFrame(
        [(t, i) for i, t in enumerate(terms)], "term string, slot int"
    )
    n_slots = len(terms)
    matched = index["postings"].join(F.broadcast(slots), "term").select(
        "doc_id",
        "slot",
        F.expr("transform(positions, p -> p - slot)").alias("shifted"),
    )
    return (
        matched.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("_n_slots"),
            F.expr(
                "aggregate(collect_list(shifted), "
                "cast(null as array<int>), "
                "(acc, x) -> CASE WHEN acc IS NULL THEN x "
                "ELSE array_intersect(acc, x) END)"
            ).alias("_starts"),
        )
        .filter(
            (F.col("_n_slots") == n_slots) & (F.size("_starts") > 0)
        )
        .select("doc_id", F.size("_starts").alias("n_occurrences"))
    )

