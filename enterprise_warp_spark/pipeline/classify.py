"""Model-based document quality classification (fasttext-style).

Modern curation pipelines (CCNet, FineWeb, Gopher/MassiveText) filter with a
LEARNED quality model, not just heuristics: a linear classifier over hashed
token/bigram features, trained on "known good" (e.g. curated reference text)
vs "known bad" (crawl noise) labels. The heuristic scores in
`pipeline/text.py` are this module's complement, not a substitute.

Spark-first shape:

- Features are the hashing trick over unigrams + adjacent bigrams —
  `pyspark.ml.feature.HashingTF` (JVM, sparse vectors, no Python rows),
  matching fasttext's bag-of-ngrams input.
- Training is `pyspark.ml.classification.LogisticRegression` — MLlib's
  distributed L-BFGS: each iteration is one map-reduce gradient aggregate
  over the executors, so a 100 TB labeled set trains without any driver
  materialization (in practice you train on a sample of labeled data and
  SCORE the full corpus).
- Scoring (`score_quality`) is a pure JVM transform chain; the output
  probability column is a per-document keep probability for downstream
  sampling.

Everything here is public MLlib API; no reference-repo counterpart exists
(the reference has no text pipeline) — this is part of the training-data
surface mandated alongside dedup/similarity/text analysis.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .text import BIGRAMS, TOKENS

DEFAULT_DIM = 1 << 18


def featurize(
    df: DataFrame, text_col: str = "text", dim: int = DEFAULT_DIM
) -> DataFrame:
    """Append a `features` sparse vector: hashing trick over unigrams +
    adjacent bigrams (fasttext's wordNgrams=2 input representation).

    The token array is STAGED in its own projection before the bigram
    expression references it: lambda subexpressions are not deduplicated
    (SPARK-35410, same staging pattern as pipeline/text.py), so inlining
    TOKENS into every {t} of BIGRAMS would re-tokenize each document ~6x."""
    from pyspark.ml.feature import HashingTF

    staged = (
        df.drop("__tok", "__ngrams")
        .withColumn("__tok", F.expr(TOKENS.format(s=text_col)))
        .withColumn(
            "__ngrams",
            F.expr(f"concat(__tok, {BIGRAMS.format(t='__tok')})"),
        )
    )
    tf = HashingTF(inputCol="__ngrams", outputCol="features", numFeatures=dim)
    return tf.transform(staged).drop("__tok", "__ngrams")


def train_quality_classifier(
    labeled: DataFrame,
    text_col: str = "text",
    label_col: str = "label",
    dim: int = DEFAULT_DIM,
    reg_param: float = 1e-4,
    max_iter: int = 50,
):
    """Fit the quality model on (text, label in {0 bad, 1 good}) rows.

    Returns the fitted LogisticRegressionModel. Deterministic: L-BFGS from a
    zero init on fixed data has no RNG. Distributed: per-iteration cost is
    one treeAggregate of gradients; nothing scales with driver memory except
    the coefficient vector (`dim` floats)."""
    from pyspark.ml.classification import LogisticRegression

    feats = featurize(labeled, text_col, dim).select(
        F.col(label_col).cast("double").alias("label"), "features"
    )
    lr = LogisticRegression(
        featuresCol="features",
        labelCol="label",
        regParam=reg_param,
        maxIter=max_iter,
        standardization=False,
    )
    return lr.fit(feats)


def score_quality(
    model,
    df: DataFrame,
    text_col: str = "text",
    out_col: str = "quality_prob",
) -> DataFrame:
    """Append P(good) for every document. Pure JVM transform chain
    (HashingTF + a dot product); the input columns pass through unchanged."""
    dim = model.numFeatures
    scored = model.transform(featurize(df, text_col, dim))
    # element 1 of the probability vector = P(label==1)
    from pyspark.ml.functions import vector_to_array

    return scored.withColumn(
        out_col, vector_to_array("probability").getItem(1)
    ).drop("features", "rawPrediction", "probability", "prediction")


def quality_filter(
    model, df: DataFrame, threshold: float = 0.5, text_col: str = "text"
) -> DataFrame:
    """Keep documents the model scores at or above `threshold`; drops the
    score column so the output schema equals the input schema."""
    return (
        score_quality(model, df, text_col)
        .filter(F.col("quality_prob") >= threshold)
        .drop("quality_prob")
    )
