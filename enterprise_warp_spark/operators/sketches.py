"""Approximate (sketch) aggregates for cardinality/quantile/heavy-hitter
questions at 100 TB, where exactness costs a full shuffle of the key space.

All are single-pass, mergeable sketches built into Spark (JVM-side,
whole-stage codegen; merge happens in partial aggregation, so the driver
only sees one small sketch per group):

    approx_distinct_by   HyperLogLog++ (relativeSD-controlled)
    approx_quantiles_by  Greenwald-Khanna percentile_approx
    heavy_hitters        Misra-Gries (space-saving family) per-partition
                         partials + one merge aggregate over the ≤m-row
                         summaries — the value key space is NEVER shuffled

They are deliberately NOT in the oracle catalog: sketch outputs are
engine-specific (HLL register layouts differ across engines), so correctness
is gated by error-bound tests against the exact aggregates instead
(tests/test_sketches.py).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def approx_distinct_by(
    df: DataFrame, group: str, col: str, rsd: float = 0.02
) -> DataFrame:
    """HLL++ distinct count of `col` per `group` (rsd = target relative
    standard deviation). Map-side partial sketches merge in one shuffle of
    sketch bytes, not of the key space."""
    return df.groupBy(group).agg(
        F.approx_count_distinct(col, rsd).alias("approx_distinct")
    )


def approx_quantiles_by(
    df: DataFrame,
    group: str,
    col: str,
    probs: tuple[float, ...] = (0.16, 0.5, 0.84),
    accuracy: int = 10_000,
) -> DataFrame:
    """Greenwald-Khanna approximate percentiles per group; error <=
    1/accuracy in rank. The exact twin (`credible_levels`) sorts the whole
    group; this streams it."""
    arr = F.array(*[F.lit(p) for p in probs])
    return df.groupBy(group).agg(
        F.percentile_approx(col, arr, F.lit(accuracy)).alias("approx_q")
    )


def heavy_hitters(
    df: DataFrame,
    group: str,
    col: str,
    min_share: float = 0.01,
    capacity: int = 256,
) -> DataFrame:
    """Values of `col` with frequency >= `min_share` of their `group`, via a
    TRUE mergeable sketch: a Misra-Gries (space-saving family) summary of at
    most `capacity` counters per (group, partition), merged in ONE aggregate
    over the tiny summaries. The raw value key space is never shuffled — at
    100 TB with high-cardinality `col`, the only exchange carries
    <= capacity rows per (group, input-partition).

    Guarantees (standard MG bounds, preserved under this merge):
      * for each reported value: n_lower <= true count <= n_upper, with
        n_upper - n_lower = eps_tot (the summed decrement totals)
        <= n_group / (capacity + 1);
      * no false negatives PROVIDED capacity + 1 > 1/min_share: a true heavy
        hitter (count >= min_share * n_group > eps_tot) cannot be evicted
        from every partition summary, and the filter keeps everything whose
        UPPER bound clears the threshold.
    Choose capacity >> 1/min_share (default 256 vs 1% support) so the
    guarantee holds with a narrow false-positive band.

    Output: (group, col AS STRING, n_lower, n_upper, share_lower). Null
    values of `col` are EXCLUDED (the exact twin reports them as a null
    row; a string sketch has no faithful spelling for them).
    """

    def partials(batches):
        # per-group bounded counter state for THIS input partition
        state: dict = {}  # g -> [pd.Series counts, eps, n_rows]
        for pdf in batches:
            for g, chunk in pdf.groupby(group, dropna=False, observed=True):
                # exclude null values: astype(str) would fold them into the
                # literal strings 'None'/'nan' (dtype-dependent spellings!)
                # while the exact twin reports a null row — neither matches
                vc = chunk[col].dropna().astype(str).value_counts()
                st = state.setdefault(g, [pd.Series(dtype="int64"), 0, 0])
                st[2] += int(len(chunk))
                s = st[0].add(vc, fill_value=0).astype("int64")
                if len(s) > capacity:
                    # Misra-Gries decrement: subtract the (capacity+1)-th
                    # largest count from all counters, drop the non-positive
                    delta = int(s.nlargest(capacity + 1).iloc[-1])
                    s = (s - delta)[lambda x: x > 0]
                    st[1] += delta
                st[0] = s
        out = []
        for g, (s, eps, n_rows) in state.items():
            for v, c in s.items():
                out.append((g, str(v), int(c), int(eps), False, 0))
            # one marker row per (group, partition): carries eps + row count
            out.append((g, None, 0, int(eps), True, int(n_rows)))
        yield pd.DataFrame(
            out, columns=[group, "_v", "_cnt", "_eps", "_marker", "_n"]
        ).astype({"_cnt": "int64", "_eps": "int64", "_n": "int64"})

    schema = (
        f"{group} string, _v string, _cnt long, _eps long, _marker boolean, _n long"
    )
    summaries = df.select(
        F.col(group).cast("string").alias(group), F.col(col).alias(col)
    ).mapInPandas(partials, schema)
    # the summaries feed TWO consumers (marker totals + counter merge);
    # without materialization each would re-run the full-data partials
    # pass — at 100 TB that doubles the scan. The checkpoint pins at most
    # `capacity` + 1 rows per (group, input partition).
    summaries = summaries.localCheckpoint(eager=True)

    # group-level constants from the marker rows (tiny: one per partition)
    totals = (
        summaries.filter("_marker")
        .groupBy(group)
        .agg(F.sum("_n").alias("_total"), F.sum("_eps").alias("_eps_tot"))
    )
    merged = (
        summaries.filter(~F.col("_marker"))
        .groupBy(group, "_v")
        .agg(F.sum("_cnt").alias("n_lower"))
    )
    # MG counters UNDERcount: cnt_p <= true_p <= cnt_p + eps_p where present,
    # 0 <= true_p <= eps_p where absent — so upper = lower + sum_p eps_p
    return (
        merged.join(F.broadcast(totals), group)
        .withColumn("n_upper", F.col("n_lower") + F.col("_eps_tot"))
        .filter(F.col("n_upper") >= F.col("_total") * min_share)
        .select(
            group,
            F.col("_v").alias(col),
            "n_lower",
            "n_upper",
            F.round(F.col("n_lower") / F.col("_total"), 6).alias("share_lower"),
        )
    )


def frequent_values_exact(
    df: DataFrame, group: str, col: str, min_share: float = 0.01
) -> DataFrame:
    """EXACT heavy hitters — aggregate-then-filter, shuffling the full value
    key space. The test oracle for `heavy_hitters`; at 100 TB prefer the
    sketch."""
    counts = df.groupBy(group, col).agg(F.count(F.lit(1)).alias("n"))
    totals = df.groupBy(group).agg(F.count(F.lit(1)).alias("total"))
    return (
        counts.join(F.broadcast(totals), group)
        .filter(F.col("n") >= F.col("total") * min_share)
        .select(group, col, "n", F.round(F.col("n") / F.col("total"), 6).alias("share"))
    )


# ---------------------------------------------------------------------------
# Bloom filter: compact set membership for decontamination-style probes.
# A 100 TB eval-set decontamination doesn't need a corpus-vs-evalset join:
# build a filter over the (small) eval side once, broadcast the <= m/64-row
# word table, and probe the corpus map-side. False positives only — a
# flagged row may be re-checked exactly; a clean row never needs the join.
# The hash family is the module-portable md5 double-hash (Kirsch-
# Mitzenmacher: pos_j = (h1 + j*h2) mod m), so build and probe have an
# exact SQL twin and the filter is engine-independent — unlike Spark's own
# fs.BloomFilter (private murmur layout), this one can be persisted and
# probed by any engine that has md5.
# ---------------------------------------------------------------------------


def _bloom_h1_h2(col):
    """Two independent 60-bit hashes from one md5: hex chars 1-15 and
    16-30. Non-negative, so modular arithmetic stays in [0, m)."""
    hx = F.md5(col.cast("string"))
    def _i(start):
        return (
            F.conv(F.substring(hx, start, 15), 16, 10)
            .cast("decimal(20,0)")
            .cast("long")
        )
    return _i(1), _i(16)


def bloom_build(
    df: DataFrame, col: str, m_bits: int = 1 << 16, k: int = 5
) -> DataFrame:
    """-> (word_idx long, word long): the filter as a sparse table of 64-bit
    words (at most m_bits/64 rows regardless of input size). One explode of
    k positions per item + one bit_or aggregate; filters built over shards
    merge by unioning the tables and re-aggregating bit_or (mergeable, like
    every sketch in this module)."""
    if m_bits % 64 != 0 or m_bits <= 0:
        raise ValueError(f"m_bits must be a positive multiple of 64, got {m_bits}")
    if not 1 <= k <= 8:
        # k*h2 must stay under 2^63: h1 + 7*h2 < 8*2^60 = 2^63 exactly
        raise ValueError(f"k must be in [1, 8], got {k}")
    h1, h2 = _bloom_h1_h2(F.col(col))
    items = df.select(h1.alias("__h1"), h2.alias("__h2"))
    pos = items.select(
        F.explode(F.sequence(F.lit(0), F.lit(k - 1))).alias("__j"), "__h1", "__h2"
    ).select(
        ((F.col("__h1") + F.col("__j") * F.col("__h2")) % m_bits).alias("__pos")
    )
    return (
        pos.groupBy(F.expr("__pos div 64").alias("word_idx"))
        .agg(
            F.bit_or(
                F.expr("shiftleft(cast(1 as bigint), cast(__pos % 64 as int))")
            ).alias("word")
        )
    )


def bloom_probe(
    df: DataFrame,
    col: str,
    bloom: DataFrame,
    m_bits: int = 1 << 16,
    k: int = 5,
    out_col: str = "maybe_member",
) -> DataFrame:
    """df + `out_col` boolean: true iff ALL k bits for df[col] are set in
    the filter (maybe-in-set); false is definite. The word table is
    collected into an array LITERAL (bounded by m_bits/64 longs — 1024 at
    the default m, well under plan-size limits; raise m_bits past ~2^22 and
    a broadcast join would be the better shape) and the probe is a pure
    map-side Catalyst fold over the k positions: no join, no explode, no
    shuffle — the corpus plan is untouched."""
    if m_bits > (1 << 22):
        raise ValueError(
            f"m_bits={m_bits} would inline a {m_bits // 64}-element literal "
            "into the plan; for filters this large use a broadcast join on "
            "bloom's (word_idx, word) table instead"
        )
    words = [0] * (m_bits // 64)
    for r in bloom.collect():
        words[int(r["word_idx"])] = int(r["word"])
    # ONE parsed SQL literal, not m_bits/64 F.lit py4j round-trips of
    # driver time (1024 words = ~2k round-trips at the default m; r14)
    from enterprise_warp_spark.functions.arrays import long_array_lit

    arr = long_array_lit(words)
    h1, h2 = _bloom_h1_h2(F.col(col))
    probed = df.withColumn("__bw", arr).withColumn("__h1", h1).withColumn("__h2", h2)
    hit = (
        f"forall(sequence(0, {k - 1}), j -> "
        f"((element_at(__bw, cast(cast((__h1 + j * __h2) % {m_bits} as int) div 64 + 1 as int)) "
        f">> cast((__h1 + j * __h2) % 64 as int)) & 1) = 1)"
    )
    return probed.withColumn(out_col, F.expr(hit)).drop("__bw", "__h1", "__h2")


def kmv_distinct_by(
    df: DataFrame, group: str, col: str, k: int = 64
) -> DataFrame:
    """K-minimum-values distinct sketch (Bar-Yossef et al. 2002; the
    unbiased estimator form of Beyer et al., SIGMOD 2007) of `col` per
    `group` -> (group, n_kept, kth_hash, kmv_distinct).

    Each distinct value hashes to a 60-bit integer (the module-standard
    portable md5 prefix, same twin as pipeline.text.H64); the k smallest
    distinct hashes per group survive a per-group top-k; with u_(k) =
    kth_hash / 2^60 the estimate is (k-1) / u_(k), or the exact kept
    count when the group has fewer than k distinct hashes.

    Unlike HLL (whose register layout is engine-specific, so its gate row
    is an error CONTRACT), every step here — md5, integer compare, one
    multiply, one divide, round — is exactly reproducible in ANSI SQL, so
    the ESTIMATE ITSELF is hash-gateable across engines. Scale shape: the
    distinct + per-group top-k shuffles only (group, hash) pairs; the
    sketch is mergeable by construction (union the hash sets, re-take the
    k smallest)."""
    if k < 2:
        raise ValueError(f"kmv_distinct_by needs k >= 2, got {k}")
    return kmv_estimate_from_kept(kmv_kept(df, group, col, k), group, k)


def kmv_kept(df: DataFrame, group: str, col: str, k: int) -> DataFrame:
    """The KMV sketch STATE: per `group`, the k smallest distinct 60-bit
    portable hashes of `col` -> (group, __h). Public because this is the
    mergeable unit — the k smallest distinct hashes of a union of
    per-micro-batch kept tables are an identical global sketch (the global
    k smallest are each among their own batch's k smallest, so the merge
    is EXACT, not approximate)."""
    from pyspark.sql import Window

    h = (
        f"cast(conv(substr(md5(cast({col} as string)), 1, 15), 16, 10) "
        "as bigint)"
    )
    dh = (
        df.select(group, F.expr(h).alias("__h"))
        # NULL values don't count toward COUNT(DISTINCT) semantics — and a
        # null hash would sort NULLS FIRST into a kept slot in Spark while
        # MAX ignores it (and DuckDB sorts NULLS LAST), corrupting the
        # estimate and the cross-engine twin
        .filter(F.col("__h").isNotNull())
        .distinct()  # distinct VALUES collapse to distinct hashes
    )
    w = Window.partitionBy(group).orderBy("__h")
    return (
        dh.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .select(group, "__h")
    )


def kmv_estimate_from_kept(kept: DataFrame, group: str, k: int) -> DataFrame:
    """(group, __h) kept table -> (group, n_kept, kth_hash, kmv_distinct):
    the Beyer et al. unbiased estimator (k-1)/u_(k), exact below
    saturation. Same output schema whether the sketch came from one batch
    pass (kmv_distinct_by) or a merge of batch kept tables."""
    two60 = float(1 << 60)
    return kept.groupBy(group).agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.max("__h").alias("kth_hash"),
    ).select(
        group,
        "n_kept",
        "kth_hash",
        F.when(
            F.col("n_kept") < k, F.col("n_kept").cast("double")
        )
        .otherwise(
            F.round(
                F.lit(float(k - 1)) * F.lit(two60)
                / F.col("kth_hash").cast("double"),
                6,
            )
        )
        .alias("kmv_distinct"),
    )


def count_min_by(
    df: DataFrame, col: str, depth: int = 4, width: int = 256
) -> DataFrame:
    """Count-Min sketch (Cormode & Muthukrishnan 2005) of the frequency of
    `col` values -> the sketch table (row_i, bucket, c): `depth`
    independent hash rows of `width` buckets, each bucket holding the
    exact count of values landing in it.

    The sketch BUILD is one exact aggregate over (row_i, bucket) — d*w
    rows total, never the key space — and sketches MERGE by elementwise
    sum (union + re-aggregate), so partial sketches from shards compose.
    Like kmv_distinct_by (and unlike HLL), every step is deterministic,
    portable arithmetic (md5-prefix hash, integer mod, COUNT), so the
    sketch and its estimates are exactly replayable in ANSI SQL
    (learned_sketch_ops[cms] hash-gates them against DuckDB)."""
    if depth < 1 or width < 1:
        raise ValueError(f"need depth/width >= 1, got {depth}/{width}")
    h = (
        "cast(conv(substr(md5(concat(cast(row_i as string), '|', "
        f"cast(__v as string))), 1, 15), 16, 10) as bigint) % {width}"
    )
    return (
        df.select(F.col(col).alias("__v"))
        .filter(F.col("__v").isNotNull())
        .withColumn(
            "row_i", F.explode(F.sequence(F.lit(0), F.lit(depth - 1)))
        )
        .select("row_i", F.expr(h).alias("bucket"))
        .groupBy("row_i", "bucket")
        .agg(F.count(F.lit(1)).alias("c"))
    )


def count_min_estimate(
    sketch: DataFrame,
    keys: DataFrame,
    col: str,
    depth: int = 4,
    width: int = 256,
) -> DataFrame:
    """Point-frequency estimates from a count_min_by sketch for every
    distinct value of `col` in `keys` -> (value, cm_count). The CM
    guarantee: cm_count >= true count always (collisions only ADD), and
    the overestimate is bounded by ~n/width per row, minimized over the
    `depth` rows. Probe cost: |keys| x depth rows equi-joined against the
    d*w-row sketch — broadcastable, never a corpus scan."""
    h = (
        "cast(conv(substr(md5(concat(cast(row_i as string), '|', "
        f"cast(value as string))), 1, 15), 16, 10) as bigint) % {width}"
    )
    k = (
        keys.select(F.col(col).alias("value"))
        .filter(F.col("value").isNotNull())
        .distinct()
        .withColumn(
            "row_i", F.explode(F.sequence(F.lit(0), F.lit(depth - 1)))
        )
        .withColumn("bucket", F.expr(h))
    )
    return (
        k.join(F.broadcast(sketch), ["row_i", "bucket"], "left")
        .groupBy("value")
        .agg(F.min(F.coalesce("c", F.lit(0))).alias("cm_count"))
    )


def count_min_from_counts(
    counts: DataFrame,
    value_col: str,
    count_col: str,
    depth: int = 4,
    width: int = 256,
) -> DataFrame:
    """Count-Min sketch built from a PRE-AGGREGATED (value, count) table —
    exactly equivalent to count_min_by over the raw rows (each bucket is
    the sum of the counts hashing into it) at a fraction of the cost when
    a counts table already exists (shard partials, a prior groupBy, a
    frequency dictionary): the hash/explode touches |distinct values| * d
    rows instead of |corpus| * d. Same (row_i, bucket, c) schema, same
    estimates, merges with count_min_by output by elementwise sum."""
    if depth < 1 or width < 1:
        raise ValueError(f"need depth/width >= 1, got {depth}/{width}")
    h = (
        "cast(conv(substr(md5(concat(cast(row_i as string), '|', "
        f"cast(__v as string))), 1, 15), 16, 10) as bigint) % {width}"
    )
    return (
        counts.select(
            F.col(value_col).alias("__v"), F.col(count_col).alias("__n")
        )
        .filter(F.col("__v").isNotNull())
        .withColumn(
            "row_i", F.explode(F.sequence(F.lit(0), F.lit(depth - 1)))
        )
        .select("row_i", F.expr(h).alias("bucket"), "__n")
        .groupBy("row_i", "bucket")
        .agg(F.sum("__n").alias("c"))
    )


def kmv_set_ops(
    df: DataFrame, group: str, col: str, k: int = 64
) -> DataFrame:
    """Theta-sketch-framework set-operation estimates between every pair of
    groups' KMV sketches (Dasgupta, Lang, Malkin et al., "Theta sketches";
    the KMV instance of it) -> (group_a, group_b, theta, inter_exact-free
    estimates): union_cnt/inter_cnt sample counts, union_est, intersect_est,
    jaccard.

    Per group: keep the k smallest distinct 60-bit hashes (same portable
    md5-prefix hash as kmv_distinct_by, so sketches from either operator
    merge). theta_g = kth smallest hash when saturated (sample = hashes
    STRICTLY below it, the k-1 retained entries) else 2^60 (sample = all).
    For a pair, theta_ab = min(theta_a, theta_b); both samples are cut to
    h < theta_ab, and |S| / (theta_ab / 2^60) estimates the set size:
    union via |S_a ∪ S_b|, intersection via |S_a ∩ S_b|, jaccard as their
    sample-count ratio. Unsaturated pairs degrade to EXACT set ops.

    Scale shape: after the per-group top-k (the only pass over the data —
    one distinct + one windowed top-k, same as kmv_distinct_by), everything
    runs in sketch space: G groups x k hashes, so pair costs are
    O(G^2 k) independent of corpus size, and every step is deterministic
    portable arithmetic — exactly replayable in ANSI SQL."""
    if k < 2:
        raise ValueError(f"kmv_set_ops needs k >= 2, got {k}")
    two60 = 1 << 60
    # sketch space after checkpoint: G*k rows
    kept = kmv_kept(df, group, col, k).localCheckpoint(eager=True)
    thetas = kept.groupBy(group).agg(
        F.count(F.lit(1)).alias("__n"), F.max("__h").alias("__kth")
    ).select(
        group,
        F.when(F.col("__n") < k, F.lit(two60))
        .otherwise(F.col("__kth"))
        .alias("theta"),
    )
    pa = thetas.select(F.col(group).alias("group_a"), F.col("theta").alias("__ta"))
    pb = thetas.select(F.col(group).alias("group_b"), F.col("theta").alias("__tb"))
    pairs = (
        pa.join(pb, F.col("group_a") < F.col("group_b"))
        .select("group_a", "group_b", F.least("__ta", "__tb").alias("theta"))
        # checkpoint the G^2-row pair table: it feeds FOUR consumers
        # (sa/sb/inter/the output join) and its non-equi join subtree
        # would otherwise be replicated into each consumer's plan
        .localCheckpoint(eager=True)
    )
    ka = kept.select(F.col(group).alias("group_a"), F.col("__h").alias("__ha"))
    kb = kept.select(F.col(group).alias("group_b"), F.col("__h").alias("__hb"))
    sa = (
        pairs.join(ka, "group_a")
        .filter(F.col("__ha") < F.col("theta"))
        .groupBy("group_a", "group_b")
        .agg(F.count(F.lit(1)).alias("__sa"))
    )
    sb = (
        pairs.join(kb, "group_b")
        .filter(F.col("__hb") < F.col("theta"))
        .groupBy("group_a", "group_b")
        .agg(F.count(F.lit(1)).alias("__sb"))
    )
    keys = ["group_a", "group_b"]
    common = ka.join(kb, F.col("__ha") == F.col("__hb")).select(
        "group_a", "group_b", "__ha"
    )
    inter = (
        pairs.join(common, keys)
        .filter(F.col("__ha") < F.col("theta"))
        .groupBy(keys)
        .agg(F.count(F.lit(1)).alias("__si"))
    )
    out = (
        pairs.join(sa, keys, "left")
        .join(sb, keys, "left")
        .join(inter, keys, "left")
        .na.fill(0, ["__sa", "__sb", "__si"])
        .withColumn("inter_cnt", F.col("__si"))
        .withColumn("union_cnt", F.col("__sa") + F.col("__sb") - F.col("__si"))
    )
    scale = F.lit(float(two60)) / F.col("theta").cast("double")
    return out.select(
        "group_a",
        "group_b",
        "theta",
        "inter_cnt",
        "union_cnt",
        F.round(F.col("inter_cnt") * scale, 6).alias("intersect_est"),
        F.round(F.col("union_cnt") * scale, 6).alias("union_est"),
        F.when(F.col("union_cnt") == 0, F.lit(0.0))
        .otherwise(
            F.round(
                F.col("inter_cnt").cast("double") / F.col("union_cnt"), 6
            )
        )
        .alias("jaccard"),
    )


def ams_f2_by(
    df: DataFrame, group: str, col: str, r: int = 16
) -> DataFrame:
    """AMS sketch of the second frequency moment (Alon, Matias & Szegedy,
    STOC 1996) -> (group, j, z): r independent sign-hash counters per
    group, z_j = sum over rows of s_j(col) with s_j(v) in {-1,+1} from the
    module-standard portable md5 prefix (LSB of md5(j|v)), so each z_j --
    and therefore the F2 estimate -- is exact integer arithmetic,
    replayable in ANSI SQL.

    E[z_j^2] = F2 = sum_v count(v)^2 (the self-join size); combine with
    ams_f2_estimate for the classic median-of-means bound. Scale shape:
    one constant r-fold explode then a single (group, j) hash aggregate
    with map-side partials -- sketch space is G x r counters."""
    if r < 1:
        raise ValueError(f"ams_f2_by needs r >= 1, got {r}")
    s = (
        "1 - 2 * cast(cast(conv(substr(md5(concat(cast(j as string), '|', "
        f"cast({col} as string))), 1, 15), 16, 10) as bigint) % 2 as int)"
    )
    return (
        df.select(group, col)
        .filter(F.col(col).isNotNull())
        .withColumn("j", F.explode(F.sequence(F.lit(0), F.lit(r - 1))))
        .select(group, "j", F.expr(s).alias("__s"))
        .groupBy(group, "j")
        .agg(F.sum("__s").alias("z"))
    )


def ams_f2_estimate(
    zdf: DataFrame, group: str = None, group_size: int = 4
) -> DataFrame:
    """Median-of-means F2 estimate from an ams_f2_by table -> (group,
    f2_est): square each counter, average within buckets of `group_size`
    consecutive j, take the exact median across buckets (even bucket
    counts average the two middle values -- computed explicitly from the
    sorted bucket means so any engine reproduces it bit-for-bit)."""
    gcols = [group] if group else []
    # integer div, not cast(j/4 as int): a float-division cast truncates in
    # Spark but ROUNDS in DuckDB — div floors identically in both engines
    bucketed = zdf.groupBy(
        *gcols, F.expr(f"cast(j div {group_size} as int)").alias("__b")
    ).agg(
        (F.sum(F.col("z") * F.col("z")) / F.count(F.lit(1))).alias("__m")
    )
    n = "size(__ms)"
    med = (
        f"CASE WHEN {n} % 2 = 1 "
        f"THEN element_at(__ms, cast(({n} + 1) div 2 as int)) "
        f"ELSE (element_at(__ms, cast({n} div 2 as int)) "
        f"+ element_at(__ms, cast({n} div 2 + 1 as int))) / 2 END"
    )
    return (
        bucketed.groupBy(*gcols)
        .agg(F.array_sort(F.collect_list("__m")).alias("__ms"))
        .select(*gcols, F.expr(med).alias("f2_est"))
    )


def ddsketch_by(
    df: DataFrame, group: str, col: str, alpha: float = 0.02
) -> DataFrame:
    """DDSketch (Masson, Rim & Lee, VLDB 2019): the RELATIVE-error quantile
    sketch -> (group, sign, idx, c) log-gamma bucket counts with
    gamma = (1+alpha)/(1-alpha).

    Bucketing is one deterministic expression — ceil(round(ln|x|/ln gamma,
    6)) with a sign column and a zero bucket — so unlike GK (whose summary
    is engine-internal) the SKETCH ITSELF is portable arithmetic,
    hash-gateable across engines; the round-6 absorbs libm ulp skew.
    One pass, map-side partial aggregation, trivially mergeable (bucket
    counts add). Completes the quantile triad: GK = one-pass rank error,
    this = one-pass relative VALUE error + mergeable, exact_rank_select =
    multi-pass exact."""
    import math

    if not 0.0 < alpha < 1.0:
        raise ValueError(f"alpha must be in (0, 1), got {alpha}")
    gamma = (1.0 + alpha) / (1.0 - alpha)
    lg = math.log(gamma)
    sign = f"cast(sign({col}) as int)"
    idx = (
        f"CASE WHEN {col} = 0 THEN cast(0 as bigint) "
        f"ELSE cast(ceil(round(ln(abs({col})) / {lg!r}, 6)) as bigint) END"
    )
    return (
        df.select(group, F.col(col))
        .filter(F.col(col).isNotNull() & ~F.isnan(col))
        .groupBy(group, F.expr(sign).alias("sign"), F.expr(idx).alias("idx"))
        .agg(F.count(F.lit(1)).alias("c"))
    )


def ddsketch_quantiles(
    sk: DataFrame, group: str, probs, alpha: float = 0.02
) -> DataFrame:
    """Quantile estimates from a ddsketch_by table -> (group, p, rank, n,
    est): walk the buckets in value order (negatives by descending
    magnitude, zero, positives ascending), pick the bucket containing rank
    floor((n-1)*p) + 1, estimate sign * 2 gamma^idx / (gamma + 1) — the
    midpoint guaranteeing relative error <= alpha for nonzero values.
    Sketch-space only: one window cumsum over G x buckets rows."""
    from pyspark.sql import Window

    gamma = (1.0 + alpha) / (1.0 - alpha)
    spark = sk.sparkSession
    totals = sk.groupBy(group).agg(F.sum("c").alias("n"))
    pdf_probs = spark.createDataFrame(
        [(float(p), i) for i, p in enumerate(probs)], "p double, pi int"
    )
    # rename the group key on the ranks side: ranks and cum share sk's
    # lineage, and a same-name same-lineage join can hit Spark's
    # conflicting-reference resolution (seen with memory-sink inputs)
    ranks = totals.crossJoin(F.broadcast(pdf_probs)).select(
        F.col(group).alias("__rg"), "p", "pi", "n",
        (F.floor((F.col("n") - 1) * F.col("p")) + 1).alias("rank"),
    )
    w_ord = F.expr("CASE WHEN sign < 0 THEN -idx ELSE idx END")
    w = (
        Window.partitionBy(group)
        .orderBy(F.col("sign"), w_ord)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = sk.withColumn("cum", F.sum("c").over(w))
    est_mag = F.round(
        F.lit(2.0) * F.pow(F.lit(gamma), F.col("idx")) / F.lit(gamma + 1.0), 6
    )
    picked = (
        cum.join(ranks, F.col(group) == F.col("__rg"))
        .filter(
            (F.col("cum") >= F.col("rank"))
            & (F.col("cum") - F.col("c") < F.col("rank"))
        )
        .select(
            group, "p", "rank", "n",
            F.when(F.col("sign") == 0, F.lit(0.0))
            .otherwise(F.col("sign") * est_mag)
            .alias("est"),
        )
    )
    return picked
