"""Deduplication operators for document corpora.

    exact_groups        hash-groupBy on a normalization key
    minhash_signature   word-3-shingles -> H universal-hash minima
    minhash_bands       LSH banding of the signature (band-key equi-join
                        turns the quadratic candidate search into a shuffle
                        join on band_key — the 100 TB-safe plan shape)
    simhash             32-bit sign-of-weighted-bits fingerprint
    simhash_pairs       near-dup candidates: bucket on top bits (equi-join),
                        verify hamming distance <= k
    ngram_jaccard_pairs blocked pairwise exact Jaccard over 3-gram sets

Hashes are md5-derived (portable across engines); universal hashes are
(a*h + b) mod p with p = 2^31-1 so products stay within int64 in any engine.

Scale notes: every pair-generating operator goes through an equi-join on a
blocking key (band_key / simhash bucket / (lang, length-bucket)) — never a
global cross join. Skewed buckets are handled by AQE skew-join splitting.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from enterprise_warp_spark.functions.arrays import explode_nonnull, spread
from enterprise_warp_spark.pipeline.text import H64, TOKENS

P31 = 2_147_483_647  # 2^31 - 1 (Mersenne prime)

# fixed universal-hash parameters (classic LCG multipliers/increments)
MINHASH_PARAMS: tuple[tuple[int, int], ...] = (
    (1103515245, 12345),
    (1664525, 1013904223),
    (22695477, 1),
    (48271, 7),
    (65537, 11),
    (69621, 13),
    (214013, 2531011),
    (134775813, 1),
)

SHINGLES3 = (
    "CASE WHEN size({t}) < 3 THEN array(concat_ws(' ', {t})) "
    "ELSE transform(sequence(1, size({t}) - 2), i -> "
    "concat_ws(' ', element_at({t}, i), element_at({t}, i+1), element_at({t}, i+2))) END"
)


def exact_groups(df: DataFrame, key_expr: str) -> DataFrame:
    """Exact dedup: md5 over a normalization key; keeper = min(doc_id)."""
    return (
        spread(df).select("doc_id", F.expr(f"md5({key_expr})").alias("h"))
        .groupBy("h")
        .agg(F.count(F.lit(1)).alias("n"), F.min("doc_id").alias("keeper"))
    )


def minhash_signature(df: DataFrame, text_col: str = "text", n_hashes: int = 8) -> DataFrame:
    """Explode shingles, md5 each ONCE, then n_hashes cheap integer minima in
    a single hash aggregate. (The naive per-column array expression would
    re-tokenize + re-hash the document once per hash function — 8x the md5
    work; measured 20x slower at sf0.1.)"""
    t = TOKENS.format(s=text_col)
    # tokenize BEFORE the spread() exchange: the shuffle boundary stops
    # Catalyst from inlining split() into every shingle sub-expression
    # (9x re-tokenization per row otherwise)
    toks = spread(df.select("doc_id", F.expr(t).alias("toks")))
    sh = SHINGLES3.format(t="toks")
    exploded = explode_nonnull(toks, sh, "s", "doc_id").select(
        "doc_id", F.expr(f"{H64.format(s='s')} % {P31}").alias("hp")
    )
    aggs = [
        F.expr(f"min(({a} * hp + {b}) % {P31})").alias(f"mh{j}")
        for j, (a, b) in enumerate(MINHASH_PARAMS[:n_hashes])
    ]
    return exploded.groupBy("doc_id").agg(*aggs)


def minhash_bands(df: DataFrame, text_col: str = "text", n_hashes: int = 8, rows_per_band: int = 2) -> DataFrame:
    """Long-form (doc_id, band_id, band_key) — band_key is md5 of the band's
    signature slice; candidate pairs come from an equi-join on it."""
    sig = minhash_signature(df, text_col, n_hashes)
    n_bands = n_hashes // rows_per_band
    bands = []
    for b in range(n_bands):
        cols = ", ".join(
            f"cast(mh{b * rows_per_band + r} as string)" for r in range(rows_per_band)
        )
        bands.append(
            F.struct(
                F.lit(b).cast("int").alias("band_id"),
                F.expr(f"md5(concat_ws(',', {cols}))").alias("band_key"),
            )
        )
    return (
        sig.select("doc_id", F.explode(F.array(*bands)).alias("band"))
        .select("doc_id", "band.band_id", "band.band_key")
    )


def lsh_candidate_pairs(
    bands: DataFrame, n_salt: int | None = None, hot_min: int = 32
) -> DataFrame:
    """Distinct candidate pairs from the band table (equi-join on band key).

    n_salt: spread HOT band keys over n_salt tasks. A corpus with a large
    exact-duplicate class funnels every one of its O(d^2) candidate rows
    through the single task that owns that band key — AQE can split the
    partition but every split still carries the whole build side of the key.
    Band keys with >= hot_min member rows (found by one aggregate over the
    band table — linear, vs the join's quadratic hot-key output) join through
    operators.skew salted_join, which spreads the skewed side's keys over
    n_salt sub-keys and replicates the OTHER side's (hot-only) rows n_salt
    times, bounding any task's share of a hot key at ~1/n_salt; replicating
    s * count rows is noise against the count^2 pair output. Cold keys join
    plain — the build side is NOT replicated for the bulk of the corpus.
    Same pair set either way (property-tested).

    The hot-key list is broadcast; it holds at most n_band_rows / hot_min
    keys, so size hot_min to the scale (hot_min=32 suits tests; at 100 TB
    use ~1e5 so 'hot' means keys whose quadratic pair output actually
    dominates a task, and the broadcast list stays tiny)."""
    a = bands.select(
        F.col("doc_id").alias("doc_a"), "band_id", "band_key"
    )
    b = bands.select(
        F.col("doc_id").alias("doc_b"), "band_id", "band_key"
    )
    if n_salt:
        from enterprise_warp_spark.operators.skew import salted_join

        hot = (
            bands.groupBy("band_id", "band_key")
            .agg(F.count(F.lit(1)).alias("__n"))
            .filter(F.col("__n") >= hot_min)
            .select("band_id", "band_key")
        )
        keys = ["band_id", "band_key"]
        a_hot = a.join(F.broadcast(hot), keys, "left_semi")
        a_cold = a.join(F.broadcast(hot), keys, "left_anti")
        b_hot = b.join(F.broadcast(hot), keys, "left_semi")
        joined = salted_join(a_hot, b_hot, keys, n_salt=n_salt).unionByName(
            a_cold.join(b, keys)
        )
    else:
        joined = a.join(b, ["band_id", "band_key"])
    return (
        joined.filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )


def simhash(df: DataFrame, text_col: str = "text") -> DataFrame:
    """32-bit SimHash over the token multiset (sign of per-bit weighted sum).

    Shape: explode tokens -> hash each ONCE -> 32 conditional-sum aggregates
    in one pass -> assemble the fingerprint from the bit weights. (A nested
    array-aggregate expression re-hashes every token once per bit: 32x the
    md5 work.) One shuffle on doc_id; partial aggregation is map-side.
    """
    t = TOKENS.format(s=text_col)
    tok_h = explode_nonnull(
        spread(df.select("doc_id", F.expr(t).alias("toks"))), F.col("toks"), "tok", "doc_id"
    ).select("doc_id", F.expr(H64.format(s="tok")).alias("h"))
    weights = tok_h.groupBy("doc_id").agg(
        *[
            F.expr(f"sum(IF((shiftright(h, {i}) & 1) = 1, 1, -1))").alias(f"w{i}")
            for i in range(32)
        ]
    )
    assemble = " + ".join(
        f"IF(w{i} > 0, cast({1 << i} as bigint), cast(0 as bigint))" for i in range(32)
    )
    return weights.select("doc_id", F.expr(assemble).alias("simhash"))


def simhash_pairs(
    df: DataFrame,
    text_col: str = "text",
    bucket_bits: int = 26,
    max_hamming: int = 10,
) -> DataFrame:
    """Near-dup candidates: equi-join on the top (32 - bucket_bits) simhash
    bits, then exact hamming distance check. At scale, rotate the bucket bits
    over several passes for full recall (pigeonhole); one pass here."""
    sh = simhash(df, text_col)
    a = sh.select(F.col("doc_id").alias("doc_a"), F.col("simhash").alias("sim_a"))
    b = sh.select(F.col("doc_id").alias("doc_b"), F.col("simhash").alias("sim_b"))
    return (
        a.join(
            b,
            F.expr(
                f"shiftright(sim_a, {bucket_bits}) = shiftright(sim_b, {bucket_bits})"
                " AND doc_a < doc_b"
            ),
        )
        .withColumn("hamming", F.expr("bit_count(sim_a ^ sim_b)"))
        .filter(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    block_cols: tuple[str, ...] = ("lang",),
    length_bucket: int = 50,
) -> DataFrame:
    """Exact 3-gram Jaccard between blocked document pairs that share at
    least one gram.

    Shape: inverted-index join — explode distinct grams, equi-join on
    (block, gram), count shared grams per pair, then join back per-doc set
    sizes. Beats the quadratic per-block array-intersection scan (O(|A|x|B|)
    string compares per pair; measured 140s -> ~2s at sf0.1) and is the only
    shape that survives 100 TB: every join is an equi-join on a key with
    bounded fan-out, so AQE can split skewed grams.
    """
    t = TOKENS.format(s=text_col)
    tokenized = spread(
        df.select(
            "doc_id",
            *block_cols,
            F.expr(f"cast(floor(n_chars / {length_bucket}) as bigint)").alias("len_bucket"),
            F.expr(t).alias("toks"),
        )
    )
    sh = SHINGLES3.format(t="toks")
    base = tokenized.select(
        "doc_id", *block_cols, "len_bucket",
        F.expr(f"array_distinct({sh})").alias("grams"),
    ).withColumn("n_grams", F.expr("size(grams)"))
    # n_grams rides along through the explode so no extra join (and no extra
    # evaluation of the shingle subtree) is needed to recover set sizes.
    ex = explode_nonnull(
        base, F.col("grams"), "gram", "doc_id", *block_cols, "len_bucket", "n_grams"
    )
    keys = [*block_cols, "len_bucket", "gram"]
    # ~86% of gram keys are unique within their block (measured at sf0.1) and
    # contribute zero pairs — drop them before the self-join. The window
    # shuffles on the same key the join needs, so no extra exchange shape.
    from pyspark.sql import Window

    ex = (
        ex.withColumn("_df", F.count(F.lit(1)).over(Window.partitionBy(*keys)))
        .filter(F.col("_df") >= 2)
        .drop("_df")
    )
    a = ex.select(F.col("doc_id").alias("doc_a"), F.col("n_grams").alias("la"), *keys)
    b = ex.select(F.col("doc_id").alias("doc_b"), F.col("n_grams").alias("lb"), *keys)
    return (
        a.join(b, keys)
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(
            F.count(F.lit(1)).alias("inter"),
            F.first("la").alias("la"),
            F.first("lb").alias("lb"),
        )
        .select(
            "doc_a",
            "doc_b",
            F.round(
                F.expr("inter / cast(la + lb - inter as double)"), 9
            ).alias("jaccard"),
        )
    )


def _readable_parquet(spark, path: str):
    """Scheme-agnostic 'does a readable parquet dataset exist here' probe.

    os.path.isdir is wrong for s3://, hdfs://, abfs:// — it is always False
    there, which would SILENTLY disable the corpus probe and degrade the
    dedup to within-batch only. Use the Hadoop FileSystem of the path's own
    scheme; a directory that exists but holds no data files yet (e.g. only
    _SUCCESS from an appended empty frame) reads as 'no index'.
    """
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(hpath):
        return None
    spark.catalog.refreshByPath(path)
    try:
        return spark.read.parquet(path)
    except Exception:
        return None  # exists but no readable data files yet


def incremental_minhash_filter(
    new_docs: DataFrame,
    index_path: str,
    text_col: str = "text",
    n_hashes: int = 8,
    rows_per_band: int = 2,
    update_index: bool = True,
    exclude_epoch: int | None = None,
) -> DataFrame:
    """Incremental dedup of an arriving batch against a persisted corpus:
    drop new documents that LSH-collide with any already-indexed document,
    then (optionally) append the survivors' bands to the index.

    The index at `index_path` is the long-form band table
    (doc_id, band_id, band_key) written by minhash_bands — parquet,
    partitioned by band_id so the probe join prunes to the bands it needs.
    The probe is a left-semi equi-join on (band_id, band_key): new-batch
    cost is O(new x bands) regardless of corpus size, which is what makes
    continuous corpus construction feasible — no O(corpus) rescan per batch.

    Within-batch duplicates are also removed (keep lowest doc_id), so the
    result is collision-free both against the corpus and internally.
    Returns the surviving rows of `new_docs`.

    exclude_epoch: when the index carries an `__epoch` partition column
    (the streaming corpus flow), ignore rows of that epoch during the probe
    — a crash-replayed micro-batch must not see its own partially-written
    bands as 'corpus' and drop its documents (that would lose them).

    The batch's bands are computed ONCE and reused for the probe, the
    within-batch pass and the index update (they were previously re-derived
    from raw text up to three times per call).
    """
    spark = new_docs.sparkSession
    bands_all = minhash_bands(
        new_docs, text_col, n_hashes, rows_per_band
    ).localCheckpoint(eager=True)

    index = _readable_parquet(spark, index_path)
    if index is not None:
        if exclude_epoch is not None and "__epoch" in index.columns:
            index = index.filter(F.col("__epoch") != int(exclude_epoch))
        hit_corpus = (
            bands_all.join(index, ["band_id", "band_key"], "left_semi")
            .select("doc_id")
            .distinct()
        )
        survivors_vs_corpus = new_docs.join(hit_corpus, "doc_id", "left_anti")
    else:
        survivors_vs_corpus = new_docs

    # within-batch: among colliding pairs keep the smallest doc_id
    batch_bands = bands_all.join(
        survivors_vs_corpus.select("doc_id"), "doc_id", "left_semi"
    )
    losers = (
        lsh_candidate_pairs(batch_bands)
        .select(F.col("doc_b").alias("doc_id"))
        .distinct()
    )
    survivors = survivors_vs_corpus.join(losers, "doc_id", "left_anti")
    # Materialize the result NOW: the plan reads the index path this call is
    # about to append to, so a lazy re-evaluation after the append would see
    # the batch's own bands and drop every row (self-collision).
    survivors = survivors.localCheckpoint(eager=True)

    if update_index:
        out_bands = bands_all.join(
            survivors.select("doc_id"), "doc_id", "left_semi"
        )
        if out_bands.take(1):  # appending an empty frame leaves a data-less
            out_bands.write.mode("append").partitionBy("band_id").parquet(
                index_path
            )
            spark.catalog.refreshByPath(index_path)
    return survivors


def connected_components(
    pairs: DataFrame, max_iter: int = 25, a_col: str = "doc_a", b_col: str = "doc_b"
) -> DataFrame:
    """Near-dup CLUSTERS from the pair table: (doc_id, component) where
    component = min doc_id reachable through any chain of pairs.

    Pair-wise dedup (drop the larger of each pair) keeps every local-minimum
    document — a chain A-C-B with ids 1,3,2 keeps BOTH 1 and 2. Transitive
    clustering keeps exactly one representative per component, which is the
    semantics corpus dedup actually wants.

    Algorithm: min-label propagation WITH pointer doubling — each round
    every vertex takes the min label among itself and its neighbors (one
    groupBy over the symmetrized edge list), then shortcuts through its
    label's own label (labels self-join). The shortcut step gives
    O(log diameter) convergence instead of O(diameter): a 1000-hop chain
    of near-copies finishes in ~12 rounds, not 1000. Each round is two
    shuffles; lineage is cut per round (localCheckpoint) so plans stay
    flat. Converges early when a round changes nothing; raises loudly if
    max_iter rounds pass without a fixpoint.
    """
    edges = (
        pairs.select(F.col(a_col).alias("u"), F.col(b_col).alias("v"))
        .union(pairs.select(F.col(b_col).alias("u"), F.col(a_col).alias("v")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    labels = (
        edges.select(F.col("u").alias("id"))
        .distinct()
        .withColumn("component", F.col("id"))
        .localCheckpoint(eager=True)
    )
    for _ in range(max_iter):
        neighbor_min = (
            edges.join(labels, edges["v"] == labels["id"])
            .groupBy("u")
            .agg(F.min("component").alias("nbr_min"))
        )
        # carry the round's INPUT label through as `prev`: the fixpoint
        # detector then reads it off the round's own checkpoint instead of
        # shuffle-joining new labels back against old labels — one fewer
        # corpus-label shuffle per round (r14)
        stepped = labels.join(
            neighbor_min, labels["id"] == neighbor_min["u"], "left"
        ).select(
            "id",
            F.col("component").alias("prev"),
            F.least(
                F.col("component"), F.coalesce(F.col("nbr_min"), F.col("component"))
            ).alias("component"),
        )
        # pointer doubling: follow the label's own label (component ids ARE
        # vertex ids, so this is a labels self-join) — halves the distance
        # to each component's minimum every round
        new_labels = (
            stepped.alias("s")
            .join(
                stepped.select(
                    F.col("id").alias("cid"),
                    F.col("component").alias("ccomp"),
                ),
                F.col("s.component") == F.col("cid"),
                "left",
            )
            .select(
                F.col("s.id").alias("id"),
                F.least(
                    F.col("s.component"),
                    F.coalesce(F.col("ccomp"), F.col("s.component")),
                ).alias("component"),
                F.col("s.prev").alias("prev"),
            )
            .localCheckpoint(eager=True)
        )
        changed = (
            new_labels.filter(F.col("component") != F.col("prev")).count()
        )
        labels = new_labels.select("id", "component")
        if changed == 0:
            break
    else:
        # max_iter rounds elapsed with changes still propagating: the labels
        # are NOT a fixpoint and several component ids may still cover one
        # true cluster — silently returning them would keep multiple
        # representatives of the same duplicate cluster downstream
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds "
            f"({changed} labels still changing); the pair graph's diameter "
            "exceeds max_iter — raise it"
        )
    return labels.select(F.col("id").alias("doc_id"), "component")


def cluster_keep_list(docs: DataFrame, pairs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Docs surviving transitive dedup: one representative (min id) per
    connected component, plus every doc in no pair at all."""
    comp = connected_components(pairs)
    losers = comp.filter(F.col("doc_id") != F.col("component")).select("doc_id")
    return docs.join(
        losers.withColumnRenamed("doc_id", id_col), id_col, "left_anti"
    )


# ---------------------------------------------------------------------------
# Span-level repeated-substring dedup (the ExactSubstr family: published
# web-corpus pipelines remove substrings of >= k tokens that occur more than
# once corpus-wide, not just whole near-duplicate documents)
# ---------------------------------------------------------------------------


def _gram_position_hashes(df: DataFrame, text_col: str, k: int) -> DataFrame:
    """(doc_id, pos, gh): portable md5-64 hash of the k-gram starting at
    each 1-based token position (linear explode; one row per gram)."""
    toks = spread(df.select("doc_id", F.expr(TOKENS.format(s=text_col)).alias("toks")))
    pos = explode_nonnull(
        toks,
        F.expr(
            f"CASE WHEN size(toks) >= {k} THEN sequence(1, size(toks) - {k} + 1) "
            "ELSE cast(array() as array<int>) END"
        ),
        "pos",
        "doc_id",
        "toks",
    )
    gram = f"concat_ws(' ', slice(toks, pos, {k}))"
    return pos.select(
        "doc_id", F.col("pos").cast("long").alias("pos"),
        F.expr(H64.format(s=gram)).alias("gh"),
    )


def repeated_ngram_positions(
    df: DataFrame, text_col: str = "text", k: int = 8, min_count: int = 2,
    grams: DataFrame | None = None,
) -> DataFrame:
    """(doc_id, pos) token positions (1-based) whose k-token gram occurs at
    least min_count times CORPUS-WIDE.

    Shape: explode one row per gram start position (linear in token count),
    hash the gram (portable md5-64), count per hash with map-side partial
    aggregation, left-semi join the duplicated hashes back. No cross joins;
    a boilerplate gram repeated millions of times is just a hot aggregate
    key (partial agg) and a hot semi-join key whose probe rows are distinct
    (doc, pos) pairs — both AQE-splittable.

    grams: optionally a precomputed (doc_id, pos, gh) table from
    _gram_position_hashes(df, text_col, k) — callers running several
    span analyses over one corpus (e.g. repeated-span dedup AND
    decontamination) share one explode+hash pass this way."""
    hashed = grams if grams is not None else _gram_position_hashes(df, text_col, k)
    dup = (
        hashed.groupBy("gh")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= min_count)
        .select("gh")
    )
    return hashed.join(dup, "gh", "left_semi").select("doc_id", "pos")


def _spans_from_positions(flagged: DataFrame, k: int) -> DataFrame:
    """Merge (doc_id, pos) duplicated-gram positions into maximal spans
    gaps-and-islands style; span covers tokens [span_start, span_end]
    with span_end = last gram start + k - 1."""
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy("pos")
    islands = flagged.withColumn("isl", F.col("pos") - F.row_number().over(w))
    return (
        islands.groupBy("doc_id", "isl")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + F.lit(k - 1)).alias("span_end"),
            F.count(F.lit(1)).alias("n_grams"),
        )
        .drop("isl")
    )


def repeated_ngram_spans(
    df: DataFrame, text_col: str = "text", k: int = 8, min_count: int = 2,
    grams: DataFrame | None = None,
) -> DataFrame:
    """Maximal duplicated spans per document: consecutive duplicated gram
    positions merged gaps-and-islands style -> (doc_id, span_start,
    span_end, n_grams), where [span_start, span_end] is the covered TOKEN
    range (span_end = last gram start + k - 1). The single window is
    partitioned by doc_id — per-document state only, shuffles once on
    doc_id."""
    return _spans_from_positions(
        repeated_ngram_positions(df, text_col, k, min_count, grams=grams), k
    )


def _strip_spans(df: DataFrame, spans: DataFrame, text_col: str) -> DataFrame:
    """Rebuild each document's text with the given spans' tokens removed.

    Shape (r14): the span table is aggregated to one sorted span LIST per
    document (the only shuffle proportional to span count), merged into
    disjoint clamped intervals by a linear fold, and the surviving text is
    re-sliced from the token array through the COMPLEMENT gaps — all
    map-side expression work on the docs scan. The previous shape exploded
    every token of every document into rows, shuffled them against an
    exploded covered-position table and re-assembled with a per-document
    collect_list — a corpus-sized token shuffle that this formulation
    removes outright (the spans shuffle is all that remains, and spans are
    bounded by covered tokens). Per-row state is one document's token and
    span arrays — the same per-document bound the rest of the pipeline
    carries."""
    per_doc = spans.groupBy("doc_id").agg(
        F.array_sort(
            F.collect_list(
                F.struct(
                    F.col("span_start").cast("long").alias("s"),
                    F.col("span_end").cast("long").alias("e"),
                )
            )
        ).alias("__sp")
    )
    toks = df.select(
        "doc_id", F.expr(TOKENS.format(s=text_col)).alias("__toks")
    ).join(per_doc, "doc_id", "left")
    # merge sorted (possibly overlapping/adjacent) spans into disjoint
    # intervals, then clamp to the valid position range [1, n]: covered
    # positions outside the document (defensive) counted nothing before
    # and count nothing now
    merged = (
        "aggregate("
        "  coalesce(__sp, cast(array() as array<struct<s:bigint,e:bigint>>)),"
        "  cast(array() as array<struct<s:bigint,e:bigint>>),"
        "  (acc, x) -> CASE"
        "    WHEN size(acc) = 0 OR x.s > element_at(acc, -1).e + 1L"
        "      THEN concat(acc, array(x))"
        "    WHEN x.e > element_at(acc, -1).e"
        "      THEN concat(slice(acc, 1, size(acc) - 1),"
        "                  array(named_struct('s', element_at(acc, -1).s,"
        "                                     'e', x.e)))"
        "    ELSE acc END)"
    )
    clamped = (
        f"filter(transform({merged}, r -> named_struct("
        "   's', greatest(r.s, 1L),"
        "   'e', least(r.e, cast(size(__toks) as bigint)))),"
        " r -> r.e >= r.s)"
    )
    work = toks.select("doc_id", "__toks", F.expr(clamped).alias("__cov"))
    # complement gaps of the disjoint covered intervals -> kept slices
    gaps = (
        "filter(transform(sequence(0, size(__cov)), i -> named_struct("
        "  'lo', CASE WHEN i = 0 THEN 1L"
        "             ELSE element_at(__cov, i).e + 1L END,"
        "  'hi', CASE WHEN i = size(__cov)"
        "             THEN cast(size(__toks) as bigint)"
        "             ELSE element_at(__cov, i + 1).s - 1L END)),"
        " g -> g.hi >= g.lo)"
    )
    return work.select(
        "doc_id",
        F.concat_ws(
            " ",
            F.expr(
                f"flatten(transform({gaps}, g -> slice(__toks,"
                " cast(g.lo as int), cast(g.hi - g.lo + 1 as int))))"
            ),
        ).alias("cleaned_text"),
        F.expr(
            "aggregate(__cov, 0L, (acc, r) -> acc + r.e - r.s + 1L)"
        ).alias("n_removed_tokens"),
    )


def leakage_safe_splits(
    docs: DataFrame,
    pairs: DataFrame,
    weights,
    seed: int = 0,
    id_col: str = "doc_id",
    split_col: str = "split",
) -> DataFrame:
    """Train/val/test labels that near-duplicates can NEVER straddle: split
    by the dedup CLUSTER, not the document — a benchmark-style val set is
    worthless when a near-copy of a val document sits in train, and plain
    per-row hashing puts ~p*q of every near-dup pair across the boundary.

    Every document takes its connected component's representative id (min
    id reachable through `pairs`; singletons are their own component) and
    the deterministic hash-range split (operators.sampling.split_dataset)
    is evaluated on THAT key, so whole clusters move together and a rerun
    over the SAME pairs table always reproduces the same labels.

    Stability under growth: adding documents that introduce NO new pairs
    never relabels anything (pinned by test). A new pair that BRIDGES two
    existing clusters (or adds a smaller-id member) changes the merged
    component's representative, so one side's documents relabel — together,
    to the merged cluster's split. That is the correct semantics (documents
    newly discovered to be near-dups of val documents must leave train) but
    it IS a relabel; pipelines that need sticky labels across corpus
    versions should persist the component registry and re-join it instead
    of recomputing (the pairs-never-straddle invariant holds either way,
    pinned by the bridging test).

    -> docs + (split_col). Cost: the component propagation (one shuffle
    per graph-diameter round, near-dup chains are shallow) + one
    broadcast-ish join of the component labels + the map-side hash label.
    """
    from enterprise_warp_spark.operators.sampling import split_dataset

    comp = connected_components(pairs)
    labeled = (
        docs.join(
            comp.withColumnRenamed("id", id_col), id_col, "left"
        )
        .withColumn("component", F.coalesce("component", F.col(id_col)))
    )
    return split_dataset(
        labeled, "component", weights, seed=seed, split_col=split_col
    ).drop("component")


def strip_repeated_lines(
    docs: DataFrame,
    min_docs: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Cross-document line-level boilerplate removal (the CCNet /
    RefinedWeb line-dedup step, Wenzek et al. 2020 / Penedo et al. 2023):
    any line occurring in >= min_docs DISTINCT documents (nav bars,
    cookie banners, footers) is stripped from every document. Returns the
    input plus `<text_col>_clean` (surviving lines rejoined in original
    order; '' when everything was boilerplate) and `n_kept_lines`.

    Scale shape: one explode, one (line -> distinct-doc count) aggregate
    (partial map-side), one left-anti equi-join on the line string, one
    per-doc rebuild via sort_array over (idx, line) structs — every stage
    keys on a hash-distributable value, no broadcast of corpus-sized
    state, no cartesian. The rebuild's collect_list is bounded by a
    single document's line count."""
    lines = docs.select(
        id_col, F.posexplode(F.split(text_col, "\n")).alias("__idx", "__l")
    )
    boiler = (
        lines.groupBy("__l")
        .agg(F.countDistinct(id_col).alias("__nd"))
        .filter(F.col("__nd") >= min_docs)
        .select("__l")
    )
    kept = lines.join(boiler, "__l", "left_anti")
    rebuilt = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("__idx", "__l"))
                ),
                lambda s: s["__l"],
            ),
            "\n",
        ).alias("__clean"),
        F.count(F.lit(1)).alias("__n"),
    )
    return (
        docs.join(rebuilt, id_col, "left")
        .withColumn(f"{text_col}_clean", F.coalesce("__clean", F.lit("")))
        .withColumn("n_kept_lines", F.coalesce("__n", F.lit(0)).cast("int"))
        .drop("__clean", "__n")
    )


# ---------------------------------------------------------------------------
# Winnowing document fingerprints (Schleimer, Wilkerson & Aiken, SIGMOD 2003
# — the MOSS algorithm). Reference parity note: the reference engine has no
# fingerprinting; this is part of the LLM-data-pipeline surface (document
# fingerprinting via rolling hashes).
# ---------------------------------------------------------------------------


def winnow_fingerprints(
    df: DataFrame,
    text_col: str = "text",
    k: int = 6,
    w: int = 4,
    grams: DataFrame | None = None,
) -> DataFrame:
    """(doc_id, pos, gh) winnowing fingerprint selection over k-token grams.

    SWA 2003: slide a window of ``w`` consecutive gram hashes over each
    document; in every window select the MINIMUM hash, breaking ties by the
    RIGHTMOST position (the paper's rule — it maximizes the chance the same
    gram is re-selected by the next window, minimizing fingerprint density).
    The distinct selected (pos, hash) pairs are the document fingerprint.

    Guarantee: any shared token run of length >= w + k - 1 between two
    documents yields at least one shared fingerprint hash. Expected density
    is 2/(w+1) of gram positions.

    Documents with fewer than ``w`` grams get one truncated window covering
    all their grams (so every document with >= k tokens is fingerprinted);
    window starts therefore run 1..max(1, m-w+1) for m grams.

    Plan shape (100 TB, r14): ONE shuffle — the per-document gram list
    aggregate — then a map-only expression computes every window's
    rightmost-min in place (left-fold over each w-slice of the sorted
    (pos, gh) array; `x.gh <= acc.gh` takes the later element on ties,
    which IS the paper's rightmost rule). The previous shape exploded
    every gram into its w windows and hash-aggregated 4x the gram rows
    over (doc_id, window) groups — this one shuffles the grams once and
    touches nothing wider than one document's gram list per row (the
    same per-document bound every collect_list operator here carries).
    ``grams`` lets callers share one explode+md5 pass with the
    ExactSubstr/decontamination operators; the layout contract is
    _gram_position_hashes' contiguous 1..m positions per document (the
    slice-by-index arithmetic relies on it).
    """
    hashed = grams if grams is not None else _gram_position_hashes(df, text_col, k)
    per_doc = hashed.groupBy("doc_id").agg(
        F.array_sort(F.collect_list(F.struct("pos", "gh"))).alias("__arr")
    )
    gh_t = dict(hashed.dtypes)["gh"]
    sel = (
        f"array_distinct(transform("
        f"  sequence(1, greatest(1, size(__arr) - {w - 1})),"
        f"  s -> aggregate("
        f"    slice(__arr, s, {w}),"
        f"    cast(null as struct<pos:bigint, gh:{gh_t}>),"
        f"    (acc, x) -> CASE WHEN acc IS NULL OR x.gh <= acc.gh"
        f"                     THEN x ELSE acc END)))"
    )
    return per_doc.select(
        "doc_id", F.explode(F.expr(sel)).alias("__s")
    ).select(
        "doc_id", F.col("__s.pos").alias("pos"), F.col("__s.gh").alias("gh")
    )


def winnow_overlap_pairs(
    fingerprints: DataFrame,
    min_shared: int = 2,
    max_df: int | None = None,
) -> DataFrame:
    """(doc_a, doc_b, shared_fp) document pairs sharing >= min_shared
    distinct fingerprint hashes (MOSS-style overlap detection).

    Blocking is the fingerprint hash itself: an equi-join on gh with
    ``doc_a < doc_b`` — never a cross join. ``max_df`` drops hashes present
    in more than that many documents first (the paper's "ignore very common
    fingerprints" option) — at corpus scale a boilerplate gram shared by
    millions of documents would otherwise emit a quadratic pair set; with
    the cap the join output is bounded by max_df^2 per hash.
    """
    fp = fingerprints.select("doc_id", "gh").distinct()
    if max_df is not None:
        rare = (
            fp.groupBy("gh")
            .agg(F.count(F.lit(1)).alias("__df"))
            .filter(F.col("__df") <= max_df)
            .select("gh")
        )
        fp = fp.join(rare, "gh", "left_semi")
    # explicit aliases, not positional toDF: a USING join reorders the key
    # column to the front, so positional renames would swap doc_id and gh
    a = fp.select(F.col("doc_id").alias("doc_a"), "gh")
    b = fp.select(F.col("doc_id").alias("doc_b"), "gh")
    return (
        a.join(b, "gh")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("shared_fp"))
        .filter(F.col("shared_fp") >= min_shared)
    )
