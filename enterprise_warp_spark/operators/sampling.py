"""Deterministic sampling operators for training-data pipelines.

`F.rand()`-based sampling is nondeterministic across retries and partition
re-splits — a task that fails and reruns sees different rows, which breaks
exactly-once training-set construction. Every operator here derives its
randomness from a content hash of a caller-named key column, so the sample
is a pure function of the data: reproducible across runs, engines, retries,
and repartitioning, and expressible as plain SQL for cross-engine checks.

Scale notes (100 TB):
  stratified_sample  map-side filter with a per-stratum rate CASE expression
  split_dataset      disjoint train/val/test by hash range — a row's split is
                     stable under appends, the property resumable pipelines
                     need
"""

from __future__ import annotations

from collections.abc import Mapping

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Uniform in [0, 1): top 15 hex digits of md5 (60 bits) over 16^15.
# Portable: identical in Spark and DuckDB/ANSI SQL (see tests/oracle use).
_DENOM = float(16**15)


def _unit_hash(key: Column | str, seed: int) -> Column:
    key = F.col(key) if isinstance(key, str) else key
    h = F.md5(F.concat_ws("|", key.cast("string"), F.lit(str(seed))))
    return F.conv(F.substring(h, 1, 15), 16, 10).cast("decimal(20,0)").cast(
        "double"
    ) / F.lit(_DENOM)


def stratified_sample(
    df: DataFrame,
    strata: str,
    fractions: Mapping[str, float],
    key: Column | str,
    seed: int = 0,
    default_fraction: float = 0.0,
) -> DataFrame:
    """Per-stratum deterministic sampling (e.g. downweight one source or
    language): keep a row iff its key-hash < fractions[stratum]. Strata
    absent from `fractions` use `default_fraction`. The rate lookup is a
    literal CASE expression (broadcast-free, map-side)."""
    rate = F.lit(float(default_fraction))
    for value, frac in sorted(fractions.items()):
        if not 0.0 <= frac <= 1.0:
            raise ValueError(f"fraction for {value!r} must be in [0, 1], got {frac}")
        rate = F.when(F.col(strata) == value, F.lit(float(frac))).otherwise(rate)
    return df.filter(_unit_hash(key, seed) < rate)


def split_dataset(
    df: DataFrame,
    key: Column | str,
    weights: Mapping[str, float],
    seed: int = 0,
    split_col: str = "split",
) -> DataFrame:
    """Disjoint deterministic split (train/val/test): label each row by which
    cumulative-weight interval its key-hash falls in. Weights must sum to 1
    (±1e-9). Unlike randomSplit, a row's split never changes when the rest of
    the dataset changes."""
    total = sum(weights.values())
    if abs(total - 1.0) > 1e-9:
        raise ValueError(f"weights must sum to 1, got {total}")
    h = _unit_hash(key, seed)
    expr = None
    acc = 0.0
    names = sorted(weights)
    for name in names[:-1]:
        acc += weights[name]
        cond = h < F.lit(acc)
        expr = F.when(cond, F.lit(name)) if expr is None else expr.when(cond, F.lit(name))
    last = F.lit(names[-1])
    return df.withColumn(split_col, last if expr is None else expr.otherwise(last))


def mixture_rates(
    df: DataFrame,
    group_col: str,
    weights: Mapping[str, float],
    target_total: int | None = None,
) -> dict[str, float]:
    """Per-group acceptance rates that reshape the corpus toward a TARGET
    MIXTURE (the data-mixing step of training-set construction: 'sample so
    the result is w_en English, w_code code, ...') by downsampling only.

    rate_g = (w_g / sum w) * N_out / n_g, with N_out defaulting to the
    LARGEST total achievable without upsampling any group
    (min_g n_g * sum_w / w_g). Groups absent from `weights` get rate 0.
    The per-group counts are one tiny aggregate (n_groups rows collected);
    the sampling itself stays a map-side hash filter (stratified_sample)."""
    wsum = float(sum(weights.values()))
    if wsum <= 0:
        raise ValueError("weights must have positive sum")
    counts = {
        r[group_col]: r["n"]
        for r in df.groupBy(group_col).agg(F.count(F.lit(1)).alias("n")).collect()
    }
    # zero-weight groups need no rows — only positive weights must exist
    missing = [g for g, w in weights.items() if w > 0 and g not in counts]
    if missing:
        raise ValueError(f"mixture groups absent from the data: {missing}")
    n_out_max = min(counts[g] * wsum / w for g, w in weights.items() if w > 0)
    n_out = float(target_total) if target_total is not None else n_out_max
    if n_out > n_out_max + 1e-9:
        raise ValueError(
            f"target_total={target_total} needs upsampling: max achievable "
            f"total without replacement is {int(n_out_max)}"
        )
    return {
        g: min((w / wsum) * n_out / counts[g], 1.0) if w > 0 else 0.0
        for g, w in weights.items()
    }


def cap_per_group(
    df: DataFrame,
    group_col: str,
    cap: int,
    key: Column | str,
    seed: int = 0,
    n_salt: int = 32,
) -> DataFrame:
    """Keep at most `cap` rows per group, chosen deterministically by
    key-hash order (per-domain caps: 'no single host contributes more than
    N documents').

    SKEW-SAFE two-phase top-k: a naive row_number() over
    Window.partitionBy(group) sorts a hot group (one domain = billions of
    rows at 100 TB) in a single task. Phase 1 splits each group into
    `n_salt` hash-derived sub-buckets and takes the `cap` smallest hashes
    within each (group, salt) — parallel, and the survivors are <=
    n_salt * cap rows per group no matter how hot the group is. Phase 2
    ranks those survivors per group — now a bounded-size window.

    Correct because the global cap smallest hashes of a group are each the
    cap smallest within their own sub-bucket (a superset survives phase 1).
    Deterministic ties: rank orders by (hash, key) — which makes the
    SELECTION deterministic only when `key` is unique per row (the
    shuffle_corpus contract, ADVICE r5). Rows sharing a key value are
    fully tied, so WHICH physical duplicate survives the cap is
    partition-layout dependent; if duplicates differ in payload columns
    and that matters, pre-dedupe on the key or pass a composite unique
    key (e.g. F.concat(host, doc_id))."""
    if cap <= 0:
        raise ValueError(f"cap must be positive, got {cap}")
    if n_salt <= 0:
        raise ValueError(f"n_salt must be positive, got {n_salt}")
    from pyspark.sql import Window

    keyc = F.col(key) if isinstance(key, str) else key
    h = _unit_hash(keyc, seed)
    salted = df.withColumn("__h", h).withColumn(
        "__salt", F.pmod(F.xxhash64(keyc.cast("string"), F.lit(seed)), F.lit(n_salt))
    )
    w1 = Window.partitionBy(group_col, "__salt").orderBy(
        F.col("__h").asc(), keyc.cast("string").asc()
    )
    phase1 = (
        salted.withColumn("__r", F.row_number().over(w1))
        .filter(F.col("__r") <= cap)
        .drop("__r", "__salt")
    )
    w2 = Window.partitionBy(group_col).orderBy(
        F.col("__h").asc(), keyc.cast("string").asc()
    )
    return (
        phase1.withColumn("__r", F.row_number().over(w2))
        .filter(F.col("__r") <= cap)
        .drop("__r", "__h")
    )


def mixture_resample(
    df: DataFrame,
    group_col: str,
    weights: Mapping[str, float],
    key: Column | str,
    seed: int = 0,
    target_total: int | None = None,
) -> DataFrame:
    """Deterministically resample toward a target group mixture (see
    mixture_rates). Pure map-side filter after one tiny count aggregate."""
    rates = mixture_rates(df, group_col, weights, target_total)
    return stratified_sample(df, group_col, rates, key, seed)


def shuffle_corpus(
    df: DataFrame, key: Column | str, seed: int = 0, n_partitions: int | None = None
) -> DataFrame:
    """Deterministic global pseudo-random ordering for training-data
    serving: sort the corpus by key-hash so (a) the order is a pure function
    of (data, seed) — reproducible across runs, retries, and cluster sizes —
    and (b) any contiguous slice of the output is an unbiased sample, which
    interleaves sources/languages uniformly (no 'all of domain X first'
    curriculum accidents).

    Physical shape: repartitionByRange on the hash (sampled range bounds,
    one shuffle) + in-partition sort — a total order WITHOUT a single-task
    global sort; writing the result preserves per-file order and the file
    index inherits the global order. Re-shuffling between epochs = new seed.
    Ties (duplicate keys) are broken by the key itself, so the order is
    total whenever the key is unique."""
    keyc = F.col(key) if isinstance(key, str) else key
    h = _unit_hash(keyc, seed).alias("__ord")
    out = df.withColumn("__ord", h)
    n = n_partitions or out.sparkSession.sparkContext.defaultParallelism
    return (
        out.repartitionByRange(n, F.col("__ord"), keyc.cast("string"))
        .sortWithinPartitions(F.col("__ord"), keyc.cast("string"))
        .drop("__ord")
    )


# ---------------------------------------------------------------------------
# DSIR — Data Selection via Importance Resampling (Xie et al., NeurIPS
# 2023, arXiv:2302.03169, public method): select raw documents whose
# hashed-n-gram distribution looks like a target corpus, by importance
# weights under bag-of-hashed-ngrams models of target and raw.
# ---------------------------------------------------------------------------


def hashed_ngram_buckets(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    dim: int = 1024,
    flag_col: str | None = None,
) -> DataFrame:
    """(id, bucket, cnt[, flag]): DSIR's feature map — unigrams + adjacent
    bigrams hashed into `dim` buckets. Portable hash (md5 prefix, the
    module's _unit_hash family) so the whole pipeline has an exact SQL twin.
    Map-side explode + one (id, bucket) aggregate; no corpus-wide state.

    `flag_col` (a boolean column of `df`, constant per document) rides
    through the aggregate so a caller can split one featurization pass into
    sub-corpus distributions (dsir_weights' target-subset fast path) —
    grouping by (id, bucket, flag) equals grouping by (id, bucket) when the
    flag is per-document."""
    # STAGE the token array before the bigram lambda references it:
    # lambda subexpressions are not deduplicated (SPARK-35410), so an
    # inlined split() re-tokenizes the document inside EVERY element_at —
    # O(n_tokens^2) per document (measured 3s -> 0.4s on 5k docs at
    # sf0.1). Same staging pattern as pipeline/classify.featurize.
    # `text_col` may already be a pre-tokenized array<string> (a caller
    # sharing ONE tokenization across several featurizers, pipeline.lm._toks
    # convention) — then it passes through untouched.
    from pyspark.sql import types as T

    pretok = any(
        fld.name == text_col and isinstance(fld.dataType, T.ArrayType)
        for fld in df.schema.fields
    )
    toks = text_col if pretok else f"filter(split({text_col}, ' '), x -> x != '')"
    grams = (
        "concat(__tok, CASE WHEN size(__tok) < 2 THEN "
        "cast(array() as array<string>) ELSE "
        "transform(sequence(1, size(__tok) - 1), "
        "i -> concat(element_at(__tok, i), ' ', "
        "element_at(__tok, i + 1))) END)"
    )
    carry = [F.col(flag_col).alias("flag")] if flag_col else []
    g = df.select(
        F.col(id_col).alias("id"), *carry, F.expr(toks).alias("__tok")
    ).select("id", *(["flag"] if flag_col else []), F.explode(F.expr(grams)).alias("g"))
    bucket = (
        F.conv(F.substring(F.md5("g"), 1, 15), 16, 10)
        .cast("decimal(20,0)")
        .cast("long")
        % dim
    )
    keys = ["id", "bucket"] + (["flag"] if flag_col else [])
    return (
        g.withColumn("bucket", bucket)
        .groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def _dsir_smoothed_dist(spark, counts: DataFrame, name: str, dim: int,
                        smoothing: float) -> DataFrame:
    total = counts.agg(F.sum("c")).first()[0] or 0
    full = spark.range(dim).select(F.col("id").alias("bucket"))
    return full.join(counts, "bucket", "left").select(
        "bucket",
        F.log(
            (F.coalesce("c", F.lit(0)).cast("double") + F.lit(smoothing))
            / F.lit(float(total) + smoothing * dim)
        ).alias(name),
    )


def dsir_weights(
    raw: DataFrame,
    target: DataFrame | None,
    text_col: str = "text",
    id_col: str = "doc_id",
    dim: int = 1024,
    smoothing: float = 1.0,
    target_flag=None,
) -> DataFrame:
    """raw + `dsir_logw` column: per-document importance log-weight
    sum_b cnt_b * log_ratio_b. The dim-row ratio table broadcasts; the
    only data-scale shuffles are the two (id/bucket) aggregates — the
    raw corpus is gram-exploded ONCE (its per-doc bucket table is
    materialized and re-aggregated for the q distribution, instead of a
    second full-corpus pass). Documents with no tokens get weight 0.

    When the target is a SUBSET of raw, pass `target_flag` (a boolean
    Column over raw, e.g. ``F.col("lang") == "en"``) instead of a `target`
    DataFrame: the target corpus is then NOT featurized separately — the
    flag rides through the single featurization pass and the p
    distribution sums the flagged slice of the same bucket table, saving
    a full tokenize+hash+shuffle pass over the target."""
    spark = raw.sparkSession
    if target_flag is not None:
        flagged = hashed_ngram_buckets(
            raw.withColumn("__tflag", target_flag), text_col, id_col, dim,
            flag_col="__tflag",
        ).localCheckpoint(eager=True)
        raw_buckets = flagged.drop("flag")
        # ONE per-bucket aggregate carries BOTH distributions (q over all
        # rows, p over the flagged slice) and ONE scalar job reads both
        # totals — vs the general path's two aggregates + two totals.
        per_bucket = flagged.groupBy("bucket").agg(
            F.sum("cnt").alias("c_q"),
            F.sum(
                F.when(F.col("flag"), F.col("cnt")).otherwise(F.lit(0))
            ).alias("c_p"),
        )
        tot = per_bucket.agg(F.sum("c_q"), F.sum("c_p")).first()
        tq, tp = float(tot[0] or 0), float(tot[1] or 0)
        full = spark.range(dim).select(F.col("id").alias("bucket"))
        # the two F.log terms are the exact expressions _dsir_smoothed_dist
        # builds for lp and lq — the fast path must stay bit-identical to
        # the general path (and to the SQL oracle)
        ratios = full.join(per_bucket, "bucket", "left").select(
            "bucket",
            (
                F.log(
                    (F.coalesce("c_p", F.lit(0)).cast("double") + F.lit(smoothing))
                    / F.lit(tp + smoothing * dim)
                )
                - F.log(
                    (F.coalesce("c_q", F.lit(0)).cast("double") + F.lit(smoothing))
                    / F.lit(tq + smoothing * dim)
                )
            ).alias("log_ratio"),
        )
    else:
        raw_buckets = hashed_ngram_buckets(
            raw, text_col, id_col, dim
        ).localCheckpoint(eager=True)
        p_counts = (
            hashed_ngram_buckets(target, text_col, id_col, dim)
            .groupBy("bucket")
            .agg(F.sum("cnt").alias("c"))
        )
        q = _dsir_smoothed_dist(
            spark,
            raw_buckets.groupBy("bucket").agg(F.sum("cnt").alias("c")),
            "lq", dim, smoothing,
        )
        p = _dsir_smoothed_dist(spark, p_counts, "lp", dim, smoothing)
        ratios = p.join(q, "bucket").select(
            "bucket", (F.col("lp") - F.col("lq")).alias("log_ratio")
        )
    per_doc = (
        raw_buckets.join(F.broadcast(ratios), "bucket")
        .groupBy("id")
        .agg(F.sum(F.col("cnt") * F.col("log_ratio")).alias("dsir_logw"))
    )
    return raw.join(
        per_doc, raw[id_col] == per_doc["id"], "left"
    ).drop("id").withColumn(
        "dsir_logw", F.coalesce("dsir_logw", F.lit(0.0))
    )


