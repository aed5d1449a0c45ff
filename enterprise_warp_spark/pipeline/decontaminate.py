"""Benchmark decontamination: find training documents that contain n-grams
from an evaluation set.

The standard pre-training hygiene step (GPT-3 appendix C, PaLM, Llama): a
training document is contaminated if it shares any long-enough token n-gram
with an eval benchmark. Long n-grams (default 8) make coincidental overlap
negligible, so a single shared gram is a hit.

Scale shape: eval sets are tiny (thousands of rows) next to a 100 TB corpus
— explode the CORPUS n-grams once (map-side, no shuffle of the corpus
beyond the aggregate) and equi-join against the broadcast eval-gram set.
Never the reverse join order, and never a similarity scan: membership in a
broadcast hash set is the cheapest possible per-gram test.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from enterprise_warp_spark.functions.arrays import explode_nonnull, spread
from enterprise_warp_spark.pipeline.text import TOKENS

NGRAMS = (
    "CASE WHEN size({t}) < {n} THEN cast(array() as array<string>) "
    "ELSE transform(sequence(1, size({t}) - {n} + 1), i -> "
    "concat_ws(' ', slice({t}, i, {n}))) END"
)


def _doc_grams(df: DataFrame, n: int, text_col: str, id_col: str) -> DataFrame:
    toks = spread(
        df.select(id_col, F.expr(TOKENS.format(s=text_col)).alias("toks")),
        id_col,
    )
    grams = NGRAMS.format(t="toks", n=n)
    return explode_nonnull(toks, f"array_distinct({grams})", "gram", id_col)


def ngram_contamination(
    docs: DataFrame,
    eval_docs: DataFrame,
    n: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    eval_id_col: str = "eval_id",
) -> DataFrame:
    """-> (doc_id, eval_id, n_shared_grams): every (training doc, eval doc)
    pair sharing at least one token n-gram. Empty result = clean corpus."""
    corpus = _doc_grams(docs, n, text_col, id_col)
    evals = _doc_grams(eval_docs, n, text_col, eval_id_col)
    return (
        corpus.join(F.broadcast(evals), "gram")
        .groupBy(id_col, eval_id_col)
        .agg(F.count(F.lit(1)).alias("n_shared_grams"))
    )


def decontaminate(
    docs: DataFrame,
    eval_docs: DataFrame,
    n: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    eval_id_col: str = "eval_id",
) -> DataFrame:
    """Drop every training document sharing an n-gram with the eval set."""
    hits = ngram_contamination(docs, eval_docs, n, text_col, id_col, eval_id_col)
    return docs.join(hits.select(id_col).distinct(), id_col, "left_anti")


def contaminated_spans(
    docs: DataFrame,
    eval_docs: DataFrame,
    n: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    grams: DataFrame | None = None,
) -> DataFrame:
    """(doc_id, span_start, span_end, n_grams): maximal TOKEN spans of each
    training document covered by eval-set n-grams — the surgical
    alternative to whole-document dropping: a long document quoting one
    benchmark sentence loses the sentence, not the document.

    Shape: the corpus explodes one row per gram START POSITION (linear,
    the ExactSubstr dedup machinery in pipeline/dedup.py), the eval side
    reduces to a distinct gram-hash set (tiny, broadcast), and matched
    positions merge gaps-and-islands into spans — one window per doc_id,
    no cross joins."""
    from enterprise_warp_spark.pipeline.dedup import (
        _gram_position_hashes,
        _spans_from_positions,
    )

    # grams: optional precomputed corpus (doc_id, pos, gh) table, shared
    # with other span analyses over the same corpus (one explode+hash)
    corpus = grams if grams is not None else _gram_position_hashes(
        docs.select(F.col(id_col).alias("doc_id"), text_col), text_col, n
    )
    eval_gh = (
        _gram_position_hashes(
            eval_docs.select(
                F.col(eval_docs.columns[0]).alias("doc_id"), text_col
            ),
            text_col,
            n,
        )
        .select("gh")
        .distinct()
    )
    hits = corpus.join(F.broadcast(eval_gh), "gh", "left_semi").select(
        "doc_id", "pos"
    )
    return _spans_from_positions(hits, n)


def strip_contaminated_spans(
    docs: DataFrame,
    eval_docs: DataFrame,
    n: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    grams: DataFrame | None = None,
) -> DataFrame:
    """-> (doc_id, cleaned_text, n_removed_tokens): every eval-overlapping
    span removed from every document, one row per input document
    (uncontaminated docs come back with n_removed_tokens = 0). Like the
    ExactSubstr removal step, cleaned_text is the surviving tokens
    re-joined with single spaces — the tokenizer's whitespace
    normalization, not the original byte layout."""
    from enterprise_warp_spark.pipeline.dedup import _strip_spans

    spans = contaminated_spans(docs, eval_docs, n, text_col, id_col,
                               grams=grams)
    return _strip_spans(
        docs.select(F.col(id_col).alias("doc_id"), text_col), spans, text_col
    )


