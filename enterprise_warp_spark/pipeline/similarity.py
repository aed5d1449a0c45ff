"""Similarity search over an embedding column (array<float>).

    cosine_topk          brute-force top-k: broadcast query matrix, BLAS
                         per corpus batch, batch-local then global top-k.
                         Exact; the correctness baseline AND the
                         production exact-search shape (no Q x N rows).
    bucketed_topk        LSH-bucketed variant: deterministic random-hyperplane
                         signs bucket both sides, candidates come from an
                         equi-join on the bucket — the 100 TB plan shape
                         (shuffle join on bucket key instead of cross join).
    ivf_topk             IVF variant: nearest-centroid inverted lists +
                         nprobe cell scan; centroids pluggable (deterministic
                         dataset pick for oracles, MLlib KMeans at scale).

The dot product is a sequential left-fold over the array in both engines
(element order fixed), so results are bit-deterministic; cosines are rounded
to 6 dp *before* ranking so a 1-ulp wiggle can never flip an order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# left-fold dot product of two array<double> expressions, 1-based index walk
DOT = (
    "aggregate(sequence(1, size({a})), cast(0.0 as double), "
    "(acc, i) -> acc + cast(element_at({a}, i) as double) * cast(element_at({b}, i) as double))"
)


# NOTE on the fold: an unrolled 64-term sum was probed as a codegen-able
# replacement and measured 3x SLOWER — Catalyst refuses whole-stage codegen
# on the giant Add tree and interprets it node-by-node. The fold stays; the
# genuinely hot all-pairs path (SemDeDup) uses the grouped Arrow gram
# kernel below instead.


def _with_norm_sq(
    df: DataFrame, emb: str = "embedding", id_col: str = "vec_id"
) -> DataFrame:
    from enterprise_warp_spark.pipeline.dedup import spread

    # spread must repartition on the CALLER's id column — hardcoding vec_id
    # fails on tables with a different id (review finding)
    key = id_col if id_col in df.columns else df.columns[0]
    return spread(df, key).withColumn("nsq", F.expr(DOT.format(a=emb, b=emb)))


def cosine_topk(
    emb: DataFrame,
    query_filter: str,
    k: int = 5,
    emb_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact top-k cosine neighbors for rows matching query_filter.

    Scale shape (r11): the queries (a search REQUEST — bounded by
    definition) are collected and broadcast as one matrix; a batched
    Arrow kernel scores each corpus batch in BLAS and keeps only each
    query's batch-local top-k, so the Q x N score join never
    materializes as Spark rows (the former crossJoin shape shipped
    Q x N pair rows through the interpreted fold — 10^12 rows for 1000
    queries against a 10^9 corpus). Kernel output is <= batches x Q x k
    light rows; ONE tiny window takes the global top-k. Tie semantics
    are identical end-to-end: cosines round at 6 BEFORE any selection,
    ties order by ascending neighbor id both batch-locally and in the
    final rank (BLAS-vs-fold margin measured in
    tests/test_semdedup_shuffle.py)."""
    n = _with_norm_sq(emb, emb_col, id_col)
    qrows = n.filter(F.expr(query_filter)).select(
        id_col, emb_col, "nsq"
    ).collect()
    return _broadcast_topk(n, qrows, k, emb_col, id_col)


def _broadcast_topk(
    corpus_n: DataFrame, qrows, k: int, emb_col: str, id_col: str
) -> DataFrame:
    """Exact top-k of collected query rows (id, emb, nsq) against a
    corpus frame carrying (id, emb, nsq): broadcast query matrix, BLAS
    per batch, batch-local then global top-k. Shared by cosine_topk
    (exact corpus) and sq8_topk_adc (dequantized corpus)."""
    import numpy as np

    id_type = dict(corpus_n.dtypes)[id_col]
    if not qrows:
        return corpus_n.sparkSession.createDataFrame(
            [],
            f"query_id {id_type}, neighbor_id {id_type}, "
            "cosine double, rnk int",
        )
    Q = np.stack([np.asarray(r[emb_col], np.float64) for r in qrows])
    qn = np.array([float(r["nsq"]) for r in qrows], dtype=np.float64)
    qids = [r[id_col] for r in qrows]
    n = corpus_n
    b = n.sparkSession.sparkContext.broadcast((Q, qn, qids))
    out_schema = f"query_id {id_type}, neighbor_id {id_type}, cosine double"

    def kernel(batches):
        import pandas as pd

        Qm, qnsq, qid = b.value
        nq = len(qid)
        for pdf in batches:
            m = len(pdf)
            if not m:
                continue
            E = np.stack(pdf[emb_col].to_numpy()).astype(np.float64)
            nsq = pdf["nsq"].to_numpy(dtype=np.float64)
            nids = pdf[id_col].to_numpy()
            C = np.round(
                (Qm @ E.T) / np.sqrt(qnsq[:, None] * nsq[None, :]), 6
            )
            kk = min(k, m)
            out_q, out_n, out_c = [], [], []
            for qi in range(nq):
                c = C[qi].copy()
                c[nids == qid[qi]] = -np.inf  # self-exclusion
                # batch-local top-k with EXACT final-rank tie semantics
                # (rounded cosine desc, neighbor id asc): partition for
                # the kth value, then lexsort the >=kth candidates so an
                # equal-cosine lower-id can never be cut at the boundary
                sel = np.argpartition(-c, kk - 1)[:kk]
                v = c[sel].min()
                cand = np.nonzero(c >= v)[0]
                cand = cand[np.lexsort((nids[cand], -c[cand]))][:kk]
                cand = cand[np.isfinite(c[cand])]
                out_q.extend([qid[qi]] * len(cand))
                out_n.extend(nids[cand])
                out_c.extend(c[cand])
            if out_q:
                yield pd.DataFrame(
                    {"query_id": out_q, "neighbor_id": out_n,
                     "cosine": out_c}
                )

    local = n.select(id_col, emb_col, "nsq").mapInPandas(kernel, out_schema)
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return (
        local.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("query_id", "neighbor_id", "cosine", "rnk")
    )


def sq8_params(
    emb: DataFrame, emb_col: str = "embedding"
) -> list[tuple[float, float]]:
    """Per-dimension (min, span) for 8-bit scalar quantization (the
    FAISS SQ8 recipe): ONE posexplode + 64-key aggregate over the corpus
    — min/max are order-free, so the collected params are exact and
    engine-independent. Returned as a plain list (dim entries — the same
    bounded driver crossing a centroid table makes) ready to inline as
    plan literals."""
    rows = (
        emb.select(F.posexplode(emb_col).alias("j", "x"))
        .groupBy("j")
        .agg(
            F.min(F.col("x").cast("double")).alias("mn"),
            F.max(F.col("x").cast("double")).alias("mx"),
        )
        .collect()
    )
    if not rows:
        raise ValueError("sq8_params: empty input")
    by_j = {r["j"]: (float(r["mn"]), float(r["mx"]) - float(r["mn"]))
            for r in rows}
    return [by_j[j] for j in sorted(by_j)]


def _sq8_code_col(emb_col: str, params) -> F.Column:
    """codes array<int>: c_j = clamp(floor((x_j - mn_j)/span_j * 255
    + 0.5), 0, 255); floor(z + 0.5) instead of round() so both engines
    share ONE explicit half-up rule. span 0 (constant dimension) -> 0."""
    from enterprise_warp_spark.functions.arrays import double_array_lit

    mns = double_array_lit([m for m, _ in params])
    spans = double_array_lit([s for _, s in params])

    def one(x, j):
        mn = F.element_at(mns, j + 1)
        sp = F.element_at(spans, j + 1)
        z = (x.cast("double") - mn) / sp * 255 + F.lit(0.5)
        clamped = F.least(
            F.lit(255.0), F.greatest(F.lit(0.0), F.floor(z).cast("double"))
        )
        return F.when(sp > 0, clamped).otherwise(F.lit(0.0)).cast("int")

    return F.transform(F.col(emb_col), one)


def _sq8_dequant_col(codes_col: str, params) -> F.Column:
    """eh array<double>: mn_j + c_j * span_j / 255 — the asymmetric-
    distance reconstruction every query is scored against."""
    from enterprise_warp_spark.functions.arrays import double_array_lit

    mns = double_array_lit([m for m, _ in params])
    spans = double_array_lit([s for _, s in params])

    def one(c, j):
        mn = F.element_at(mns, j + 1)
        sp = F.element_at(spans, j + 1)
        return F.when(
            sp > 0, mn + c.cast("double") * sp / 255
        ).otherwise(mn)

    return F.transform(F.col(codes_col), one)


def sq8_encode(
    emb: DataFrame,
    params=None,
    emb_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """(id, codes array<int>) — 4x compression of a float32 corpus (32x
    of the doubles the math runs in). Map-only: the 2*dim param literals
    ride in the plan; no join, no shuffle."""
    params = params if params is not None else sq8_params(emb, emb_col)
    return emb.select(
        id_col, _sq8_code_col(emb_col, params).alias("codes")
    )


def sq8_topk_adc(
    emb: DataFrame,
    query_filter: str,
    k: int = 5,
    params=None,
    emb_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """ANN top-k, scalar-quantization flavor (FAISS IndexScalarQuantizer
    SQ8 with asymmetric distance): the corpus is stored as 8-bit codes;
    each EXACT query is scored against the dequantized reconstruction
    eh = mn + c * span / 255. Same execution shape as cosine_topk
    (broadcast query matrix, batched BLAS, batch-local then global
    top-k) — the quantization error, not the plan, is the accuracy
    trade. Corpus norms use the reconstruction (the ADC denominator),
    computed by the same sequential fold the SQL oracle replays."""
    params = params if params is not None else sq8_params(emb, emb_col)
    n = _with_norm_sq(emb, emb_col, id_col)
    qrows = n.filter(F.expr(query_filter)).select(
        id_col, emb_col, "nsq"
    ).collect()
    deq = (
        sq8_encode(emb, params, emb_col, id_col)
        .select(id_col, _sq8_dequant_col("codes", params).alias(emb_col))
        .withColumn("nsq", F.expr(DOT.format(a=emb_col, b=emb_col)))
    )
    return _broadcast_topk(deq, qrows, k, emb_col, id_col)


def hyperplane_bucket(emb_col: str, n_planes: int = 8, dim: int = 64) -> str:
    """SQL fragment: deterministic random-hyperplane LSH bucket id.

    Plane p's component for dimension i is a +-1 sign derived from a portable
    integer mix of (p, i) — no stored model, reproducible anywhere.
    """
    plane_dot = (
        f"aggregate(sequence(1, size({emb_col})), cast(0.0 as double), (acc, i) -> acc + "
        f"cast(element_at({emb_col}, i) as double) * "
        f"IF(((i * 2654435761 + p * 40503) % 97) % 2 = 0, 1.0, -1.0))"
    )
    return (
        f"aggregate(sequence(0, {n_planes - 1}), cast(0 as bigint), (acc, p) -> acc + "
        f"IF({plane_dot} > 0, shiftleft(cast(1 as bigint), p), cast(0 as bigint)))"
    )


def bucketed_topk(
    emb: DataFrame,
    query_filter: str,
    k: int = 5,
    emb_col: str = "embedding",
    id_col: str = "vec_id",
    n_planes: int = 8,
) -> DataFrame:
    """ANN top-k: candidates restricted to the query's hyperplane bucket.

    Recall < 1 by construction (single probe); multi-probe = union over
    neighboring buckets. The join is bucket-equi, so at 100 TB this is a
    shuffle hash join on an int key, never a cross join.
    """
    n = _with_norm_sq(emb, emb_col, id_col).withColumn(
        "bucket", F.expr(hyperplane_bucket(emb_col, n_planes))
    )
    q = n.filter(F.expr(query_filter)).select(
        F.col(id_col).alias("query_id"),
        F.col(emb_col).alias("q_emb"),
        F.col("nsq").alias("q_nsq"),
        "bucket",
    )
    c = n.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(emb_col).alias("c_emb"),
        F.col("nsq").alias("c_nsq"),
        "bucket",
    )
    dot = DOT.format(a="q_emb", b="c_emb")
    pairs = (
        q.join(c, "bucket")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("cosine", F.round(F.expr(f"{dot} / sqrt(q_nsq * c_nsq)"), 6))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        pairs.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("query_id", "neighbor_id", "cosine", "rnk")
    )


def deterministic_centroids(
    emb: DataFrame, n_cells: int, emb_col: str = "embedding", id_col: str = "vec_id"
) -> DataFrame:
    """IVF coarse quantizer, oracle-reproducible flavor: the n_cells
    LOWEST-id vectors ARE the centroids — for the testdata's dense-from-0
    integer ids this is exactly the oracle contract `id < n_cells`, and
    unlike a value predicate it also works for string/sparse ids (r11).
    The limit compiles to TakeOrderedAndProject (per-partition heap +
    one merge, never a global sort). cell_id is the dense 0..n_cells-1
    rank so downstream argmin kernels can index a packed matrix whatever
    the id type. Production path at 100 TB: swap in MLlib KMeans cluster
    centers with the same (cell_id, c_emb, c_nsq) schema — every
    downstream op is unchanged."""
    n = _with_norm_sq(emb, emb_col, id_col)
    picked = n.orderBy(id_col).limit(n_cells).collect()
    spark = emb.sparkSession
    return spark.createDataFrame(
        [
            (ci, list(map(float, r[emb_col])), float(r["nsq"]))
            for ci, r in enumerate(picked)
        ],
        "cell_id int, c_emb array<float>, c_nsq double",
    )


def _cell_distances(n: DataFrame, centroids: DataFrame, emb_col: str) -> DataFrame:
    """vector x centroid squared-L2 distances: ||v||^2 - 2 v.c + ||c||^2,
    rounded before any argmin so a 1-ulp wiggle can never flip a cell
    assignment across engines. Centroid table is tiny -> broadcast; the
    'cross join' is corpus x n_cells, the IVF fan-out, not corpus x corpus."""
    dot = DOT.format(a=emb_col, b="c_emb")
    return n.crossJoin(F.broadcast(centroids)).withColumn(
        "dist", F.round(F.col("nsq") - 2.0 * F.expr(dot) + F.col("c_nsq"), 6)
    )


def ivf_topk(
    emb: DataFrame,
    query_filter: str,
    k: int = 5,
    n_cells: int = 16,
    nprobe: int = 4,
    emb_col: str = "embedding",
    id_col: str = "vec_id",
    centroids: DataFrame | None = None,
) -> DataFrame:
    """ANN top-k, IVF shape: corpus vectors are assigned to their nearest
    centroid cell (inverted lists); a query scans only its nprobe nearest
    cells. Candidate join is an equi-join on cell_id, so at scale the
    inverted lists shuffle once on a small int key and recall is tuned by
    nprobe (nprobe = n_cells degenerates to exact search)."""
    n = _with_norm_sq(emb, emb_col, id_col)
    cents = centroids if centroids is not None else deterministic_centroids(
        emb, n_cells, emb_col, id_col
    )
    # corpus-side assignment: batched Arrow argmin (one row per vector —
    # the corpus x n_cells fan-out never materializes; see
    # _assign_cells_arrow). Query-side keeps the SQL fan-out: it is
    # queries x n_cells (search-request-sized) and needs top-nprobe
    # cells, not argmin-1.
    assigned = _assign_cells_arrow(n, cents, emb_col, id_col).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(emb_col).alias("c_vec"),
        F.col("nsq").alias("c_nsq2"),
        "cell_id",
    )
    qd = _cell_distances(n.filter(F.expr(query_filter)), cents, emb_col)
    w_assign = Window.partitionBy(id_col).orderBy("dist", "cell_id")
    probes = (
        qd.withColumn("prn", F.row_number().over(w_assign))
        .filter(F.col("prn") <= nprobe)
        .select(
            F.col(id_col).alias("query_id"),
            F.col(emb_col).alias("q_emb"),
            F.col("nsq").alias("q_nsq"),
            "cell_id",
        )
    )
    dot = DOT.format(a="q_emb", b="c_vec")
    pairs = (
        probes.join(assigned, "cell_id")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("cosine", F.round(F.expr(f"{dot} / sqrt(q_nsq * c_nsq2)"), 6))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        pairs.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("query_id", "neighbor_id", "cosine", "rnk")
    )


# hyperplane-bucket sizing contract (the SemDeDup cell-size convention):
# with n_planes derived so expected bucket population ~ this constant, the
# within-bucket gram cost sum(|bucket|^2) grows ~linearly with the corpus
COSINE_TARGET_BUCKET_ROWS = 2000

# rough parquet bytes per embedding row (id + compressed float array;
# measured 260-400 B on the 64-dim fixtures) — feeds the DRIVER-SIDE
# row-count estimate that sizes the gram hot-key split. Only a
# parallelism knob rides on it, never a result.
_EST_EMB_ROW_BYTES = 300


def cosine_near_dup_pairs(
    emb: DataFrame,
    threshold: float = 0.35,
    emb_col: str = "embedding",
    id_col: str = "vec_id",
    n_planes: int | None = 2,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: candidates from hyperplane
    buckets (coarse buckets for recall), verified by exact cosine against
    the threshold. The dedup counterpart of bucketed_topk. r11: the
    within-bucket comparison is the shared grouped Arrow gram kernel —
    same values as the former bucket equi-join (round-6 cosines on
    carried SQL-fold norms), but candidate pairs never materialize as
    Spark rows and one task per bucket parallelizes the compute-bound
    stage AQE's byte-based coalescing misjudges.

    n_planes=None derives the plane count from a corpus count() so the
    EXPECTED bucket population stays ~COSINE_TARGET_BUCKET_ROWS — the
    SemDeDup cell-sizing contract applied to the hyperplane family. A
    FIXED plane count is density-quadratic: the r13 sf1 sweep measured
    the n_planes=2 gate at 12.25x cost for 10x vectors (within-bucket
    pairs grow with density squared); with the derived count the
    within-bucket work grows ~linearly in the corpus, at the standard
    LSH recall trade (more planes split more true pairs across buckets —
    raise threshold recall by lowering COSINE_TARGET_BUCKET_ROWS
    pressure only when profiling says so)."""
    if n_planes is None:
        import math as _math

        n_planes = max(
            1,
            _math.ceil(
                _math.log2(
                    max(emb.count() / COSINE_TARGET_BUCKET_ROWS, 2.0)
                )
            ),
        )
    n = _with_norm_sq(emb, emb_col, id_col).withColumn(
        "bucket", F.expr(hyperplane_bucket(emb_col, n_planes))
    )
    # hot-key split (r15, guide §2.1): 2^n_planes buckets means at most
    # that many gram tasks, each quadratic in its bucket — with a small
    # FIXED plane count (this gate pins n_planes=2 -> 4 tasks) the whole
    # compute-bound stage runs on 4 cores regardless of cluster width.
    # Split each bucket into c sub-chunks by id hash and resolve the
    # c(c+1)/2 chunk pairs as independent tasks: total gram work is
    # unchanged, shuffled bytes grow only c-fold over a slim projection,
    # and parallelism grows ~c^2/2. c is SCALE-ADAPTIVE (guide §2): the
    # expected bucket population, estimated from the input's file bytes
    # (driver-side Hadoop FS metadata, no job), divided by the same
    # COSINE_TARGET_BUCKET_ROWS grain the derived-planes path uses —
    # fixture-sized inputs keep c=1 (a split there is pure explode/
    # shuffle overhead, measured +0.55s at sf0.1), inputs past the
    # bucket-size grain jump straight to the cluster-width cap — a
    # proportional c underfills the cluster and load-imbalances
    # (interleaved sf1 A/B: c=3 median 2.22s vs c=8 1.17s vs unsplit
    # 6.65s). Unknown footprints (non-file inputs) stay unsplit: they
    # are in-memory test frames, not 100 TB scans. Limitation:
    # input_bytes sees only what emb.inputFiles() lists, so a
    # checkpointed or in-memory emb reads as 0 bytes and stays unsplit
    # however large it is.
    from enterprise_warp_spark.tables import input_bytes

    width_cap = max(
        1, min(16, emb.sparkSession.sparkContext.defaultParallelism
               // (1 << n_planes))
    )
    est_rows = input_bytes(emb) // _EST_EMB_ROW_BYTES
    est_bucket = est_rows >> n_planes
    n_split = width_cap if est_bucket >= COSINE_TARGET_BUCKET_ROWS else 1
    return _group_gram_pairs(
        n, "bucket", threshold, emb_col, id_col, n_split=n_split
    )


def lloyd_kmeans(
    emb: DataFrame,
    k: int,
    n_iter: int = 2,
    emb_col: str = "embedding",
    id_col: str = "vec_id",
    decimals: int = 6,
    input_materialized: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """Deterministic fixed-iteration Lloyd k-means -> (assignments,
    centroids): assignments = (id, cell_id, dist) labeling every vector
    with its nearest FINAL centroid; centroids = (cell_id, c_emb).

    The reproducible counterpart of MLlib KMeans: init = the k lowest-id
    vectors, every distance and every centroid coordinate ROUNDed at
    `decimals` before any comparison or reuse, ties broken by cell_id — so
    the whole trajectory is bit-reproducible across runs AND replayable by
    a plain SQL twin (curation pipelines pin cluster-balanced sampling and
    SemDeDup cells on exactly this property).

    Distributed shape: the centroid matrix is INLINED into the plan as
    literal expressions (k x dim doubles — the same bound that crosses
    the driver anyway), so assignment is map-only: per row, an
    array_min over k distance structs — no join, no window, ZERO
    shuffle. Each iteration is then one corpus scan + one k-group
    partial-aggregated mean; between iterations only the k x dim
    centroid matrix crosses the driver, bounded by the definition of
    k-means, never by data volume. Empty cells keep their previous
    centroid (the deterministic analogue of MLlib's no-reseed behavior).
    Distance is the nsq + c_nsq - 2*dot expansion; dot is
    zip_with-multiply + sequential fold-add — operation-for-operation
    the module's DOT macro (and the SQL twins' list_reduce), so the
    rounded trajectory is bit-identical to the broadcast-join shape it
    replaced."""
    from enterprise_warp_spark.pipeline.dedup import spread

    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if n_iter < 0:
        raise ValueError(f"n_iter must be >= 0, got {n_iter}")
    spark = emb.sparkSession
    # materialize the slim (id, e, nsq) projection ONCE (MLlib KMeans'
    # cache-the-input pattern): every iteration and the final assignment
    # re-read these partitions instead of re-scanning the source and
    # re-folding nsq n_iter+1 times. input_materialized (r15, verdict
    # #5): a caller that already holds a checkpointed, well-partitioned
    # slim (the sketch gate's shared _sketch_emb) skips this SECOND
    # materialization — its n_iter+2 consumers then redo only the
    # cast+nsq map over the caller's in-memory partitions, one cheap
    # fold per pass in place of a blocking corpus-copy job on the
    # gate's critical path.
    base = emb.select(
        id_col, F.col(emb_col).cast("array<double>").alias("__e")
    ).withColumn("nsq", F.expr(DOT.format(a="__e", b="__e")))
    if not input_materialized:
        base = spread(base, id_col).localCheckpoint(eager=True)
    init = (
        base.select(id_col, "__e").orderBy(id_col).limit(k).collect()
    )
    if not init:
        raise ValueError("lloyd_kmeans: empty input")
    # init coordinates rounded too, so iteration 1 sees the same numbers
    # a SQL replay of the rounded-centroid trajectory sees
    cents = [
        [round(float(v), decimals) for v in r["__e"]] for r in init
    ]
    dim = len(cents[0])

    def assign(cs: list[list[float]]) -> DataFrame:
        # struct comparison is field-order lexicographic, so
        # array_min(struct(dist, cell_id)) IS "ORDER BY dist, cell_id
        # LIMIT 1" — computed map-side, no shuffle. The centroid matrix
        # and its norms ride as ONE array-of-arrays literal walked by a
        # transform lambda, not k separate expression subtrees: the
        # arithmetic per (row, cell) is identical (element_at is pure
        # indexing), but analysis/codegen sees one tree instead of k —
        # this is pure planning-time cost on tiny-but-wide literal plans
        # (3 assign() calls per 2-iteration run used to dominate the
        # gate's build phase). Built as ONE parsed SQL expression, not
        # k*dim F.lit py4j round-trips (r14: ~0.8 s -> ~0.2 s of driver
        # time per assign(), bit-identical output; see double_matrix_lit).
        from enterprise_warp_spark.functions.arrays import (
            double_array_lit,
            double_matrix_lit,
        )

        m_lit = double_matrix_lit(cs)
        nsq_vals = []
        for c in cs:
            c_nsq = 0.0
            for v in c:  # same sequential fold as DOT over the centroid
                c_nsq += v * v
            nsq_vals.append(c_nsq)
        nsq_lit = double_array_lit(nsq_vals)

        def one(ci):
            dot = F.aggregate(
                F.zip_with(
                    F.col("__e"),
                    F.element_at(m_lit, ci + 1),
                    lambda x, y: x * y,
                ),
                F.lit(0.0).cast("double"),
                lambda acc, x: acc + x,
            )
            return F.struct(
                F.round(
                    F.col("nsq") + F.element_at(nsq_lit, ci + 1) - 2 * dot,
                    decimals,
                ).alias("dist"),
                ci.alias("cell_id"),
            )

        structs = F.transform(F.sequence(F.lit(0), F.lit(k - 1)), one)
        # two projections: CollapseProject keeps the non-cheap array_min
        # on its own line, so the k dot folds run ONCE per row (higher-
        # order functions get no codegen subexpression elimination —
        # same class as the SPARK-35410 featurizer fix)
        return base.select(
            id_col, "__e", F.array_min(structs).alias("__b")
        ).select(
            id_col,
            "__e",
            F.col("__b")["cell_id"].alias("cell_id"),
            F.col("__b")["dist"].alias("dist"),
        )

    for _ in range(n_iter):
        # one F.expr per mean column (not col/getItem/avg/round/alias
        # chains — 5 py4j round-trips each x dim x n_iter of driver time);
        # `round(avg(__e[i]), d)` resolves to the identical expression
        new = (
            assign(cents)
            .groupBy("cell_id")
            .agg(
                *[
                    F.expr(f"round(avg(__e[{i}]), {decimals}) as c{i}")
                    for i in range(dim)
                ]
            )
            .collect()
        )
        got = {
            int(r["cell_id"]): [float(r[f"c{i}"]) for i in range(dim)]
            for r in new
        }
        cents = [got.get(ci, c) for ci, c in enumerate(cents)]
    assignments = assign(cents).select(
        id_col, "cell_id", "dist"
    )
    centroids = spark.createDataFrame(
        [(ci, c) for ci, c in enumerate(cents)],
        "cell_id int, c_emb array<double>",
    )
    return assignments, centroids


def random_projection(
    emb: DataFrame,
    out_dim: int,
    seed: int = 0,
    emb_col: str = "embedding",
) -> DataFrame:
    """Sparse random projection (Achlioptas 2003 JL transform): append
    `proj` = R @ e where R is the deterministic out_dim x in_dim sign
    matrix with entries +s / -s / 0 at probabilities 1/6, 1/6, 2/3 and
    s = sqrt(3 / out_dim). The JL lemma bounds pairwise-distance
    distortion, so `proj` is a drop-in cheaper column for the ANN /
    near-dup bucketing stages (LSH over 16 dims instead of 1024).

    R is derived row-by-row from md5(seed|i|j) — reproducible across
    runs, engines and languages, never stored. The matrix is INLINED as
    literal coefficient arrays (the lloyd_kmeans pattern), so the
    projection is map-only: out_dim zip_with/fold dots per row, no
    join, no shuffle, nothing driver-side but the out_dim x in_dim
    literals the plan carries anyway. in_dim is read from the first row
    (one tiny job)."""
    import hashlib
    import math

    if out_dim < 1:
        raise ValueError(f"out_dim must be >= 1, got {out_dim}")
    first = emb.select(emb_col).first()
    if first is None:
        raise ValueError("random_projection: empty input")
    in_dim = len(first[0])
    s = math.sqrt(3.0 / out_dim)

    def entry(i: int, j: int) -> float:
        h = hashlib.md5(f"{seed}|{i}|{j}".encode()).digest()
        u = int.from_bytes(h[:8], "big") % 6
        return s if u == 0 else (-s if u == 1 else 0.0)

    # the whole matrix rides as ONE parsed SQL literal (not out_dim x
    # in_dim F.lit py4j round-trips of driver time); element_at of a
    # literal matrix constant-folds to the identical per-row coefficient
    # array, so values and fold order are unchanged (r14)
    from enterprise_warp_spark.functions.arrays import double_matrix_lit

    m_lit = double_matrix_lit(
        [[entry(i, j) for j in range(in_dim)] for i in range(out_dim)]
    )
    e = F.col(emb_col).cast("array<double>")
    proj = F.array(
        *[
            F.aggregate(
                F.zip_with(e, F.element_at(m_lit, i + 1), lambda x, y: x * y),
                F.lit(0.0).cast("double"),
                lambda acc, x: acc + x,
            )
            for i in range(out_dim)
        ]
    )
    return emb.withColumn("proj", proj)


def prototype_prune(
    assignments: DataFrame,
    keep_per_cell: int,
    hardest: bool = True,
    id_col: str = "vec_id",
) -> DataFrame:
    """Prototypicality-based data pruning (Sorscher et al. 2022, "Beyond
    neural scaling laws"): given per-vector cluster assignments
    (id, cell_id, dist) — e.g. lloyd_kmeans's first return — keep the
    `keep_per_cell` examples per cell ranked by distance to their
    centroid. hardest=True keeps the FARTHEST (the paper's
    recommendation on large corpora: prune easy/prototypical examples);
    hardest=False keeps the most prototypical (their small-data regime).
    Returns the kept rows + `proto_rank` (1 = first kept).

    Ties break on (dist, id): with lloyd_kmeans's rounded distances the
    ordering — and therefore the kept SET — is deterministic and
    SQL-replayable. One window over data already partitioned by the
    caller's clustering; no extra corpus scan."""
    if keep_per_cell < 1:
        raise ValueError(f"keep_per_cell must be >= 1, got {keep_per_cell}")
    order = (
        [F.col("dist").desc(), F.col(id_col)]
        if hardest
        else [F.col("dist").asc(), F.col(id_col)]
    )
    w = Window.partitionBy("cell_id").orderBy(*order)
    return (
        assignments.withColumn("proto_rank", F.row_number().over(w))
        .filter(F.col("proto_rank") <= keep_per_cell)
    )


# ---------------------------------------------------------------------------
# Product quantization (PQ): compress vectors to M byte codes, search via
# asymmetric distance computation — the FAISS IVF-PQ memory-scaling story.
# ---------------------------------------------------------------------------


def pq_codebooks(
    emb: DataFrame,
    m_subspaces: int,
    k_codes: int,
    emb_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """-> (subspace, code, c_sub): per-subspace codebooks, deterministic
    flavor (the first k_codes vectors' subvectors are the codes — same
    pluggable-quantizer pattern as deterministic_centroids; swap in
    per-subspace KMeans centers at scale, schema unchanged). M*K rows —
    always broadcastable."""
    slices = _subvectors(emb, m_subspaces, emb_col, id_col)
    return (
        slices.filter(F.col(id_col) < k_codes)
        .select(
            "subspace",
            F.col(id_col).cast("int").alias("code"),
            F.col("sub").alias("c_sub"),
        )
    )


def _subvectors(
    emb: DataFrame, m: int, emb_col: str, id_col: str
) -> DataFrame:
    """Explode each vector into m contiguous subvectors (subspace, sub).

    Requires dim % m == 0: slicing would otherwise silently TRUNCATE the
    trailing dimensions (dim=64, m=6 ignores dims 61-64 in codebooks,
    encoding and the query LUT), and dim < m degenerates to empty
    subvectors whose distances are all 0.0 — garbage with no error. The
    guard is IN-PLAN (raise_error on the first bad row) rather than an
    eager .first() probe: the check stays loud, the extra scheduled job
    per caller disappears (r14 — pq_codebooks/pq_encode/pq_topk each
    paid one)."""
    from enterprise_warp_spark.functions.arrays import explode_nonnull
    from enterprise_warp_spark.pipeline.dedup import spread

    sub_arr = (
        f"CASE WHEN size({emb_col}) >= {m} AND size({emb_col}) % {m} = 0 "
        f"THEN transform(sequence(0, {m - 1}), s -> struct(s as subspace, "
        f"slice({emb_col}, s * (size({emb_col}) div {m}) + 1, "
        f"size({emb_col}) div {m}) as sub)) "
        f"ELSE raise_error(concat('PQ needs size({emb_col}) divisible by "
        f"m_subspaces: dim=', size({emb_col}), ', m={m}')) END"
    )
    return explode_nonnull(spread(emb, id_col), sub_arr, "sv", id_col).select(
        id_col, "sv.subspace", "sv.sub"
    )


def pq_encode(
    emb: DataFrame,
    codebooks: DataFrame,
    m_subspaces: int,
    emb_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """-> (vec_id, codes array<int>): each vector compressed to M codebook
    indices (nearest sub-centroid per subspace, L2). Storage drops from
    dim floats to M small ints — the compression that lets a 100 TB corpus'
    index fit in memory.

    Execution shape (r14): the codebook is M*K rows by construction, so it
    aggregates to ONE row (per-entry ||c||^2 precomputed once) attached to
    the corpus with the repo's constant-key BroadcastHashJoin pattern
    (pagerank's dangling-mass attach), and the per-vector argmin is a
    single map-side expression: per subspace, array_min over
    struct(rounded dist, code) replicates the former window's ORDER BY
    (dist, code) tie rule exactly. The former shape — explode to M
    rows/vector, broadcast-join to M*K candidate rows, window shuffle,
    groupBy shuffle — moved the whole corpus through two exchanges; this
    one moves it through none. The distance arithmetic is term-for-term
    the old plan's ((||sub||^2 - 2.0*dot) + ||c||^2, rounded at 6), the
    slice/guard expressions are _subvectors' own, so codes are
    bit-identical (pinned by test_similarity's joined-twin test and the
    [pqc]/[pq] oracle gates)."""
    m = m_subspaces
    cb1 = (
        codebooks.withColumn(
            "c_nsq", F.expr(DOT.format(a="c_sub", b="c_sub"))
        ).agg(
            F.sort_array(
                F.collect_list(F.struct("subspace", "code", "c_sub", "c_nsq"))
            ).alias("__cbs"),
            # count-based constant non-foldable key (never NULL); two
            # LITERAL keys would constant-fold into a trivially-true
            # condition and degenerate the attach to
            # BroadcastNestedLoopJoin
            F.substring(F.count(F.lit(1)).cast("string"), 1, 0).alias(
                "__one"
            ),
        )
    )
    dot_sc = DOT.format(a="sub", b="c.c_sub")
    nsq_sub = DOT.format(a="sub", b="sub")
    # same divisibility guard as _subvectors: in-plan raise_error, loud on
    # the first bad row, zero probe jobs; the array(...)-wrapped transforms
    # bind `sub` (the slice) and `nsq` (its norm) once per subspace instead
    # of re-evaluating the slice under every codebook entry's fold
    codes = (
        f"CASE WHEN size({emb_col}) >= {m} AND size({emb_col}) % {m} = 0 "
        f"THEN transform(sequence(0, {m - 1}), s -> "
        f"element_at(transform(array(slice({emb_col}, "
        f"s * (size({emb_col}) div {m}) + 1, size({emb_col}) div {m})), "
        f"sub -> element_at(transform(array({nsq_sub}), nsq -> "
        f"array_min(transform(filter(__cbs, c -> c.subspace = s), "
        f"c -> struct(round((nsq - CAST(2.0 AS DOUBLE) * {dot_sc}) "
        f"+ c.c_nsq, 6) as dist, c.code as code))).code), 1)), 1)) "
        f"ELSE raise_error(concat('PQ needs size({emb_col}) divisible by "
        f"m_subspaces: dim=', size({emb_col}), ', m={m}')) END"
    )
    from enterprise_warp_spark.pipeline.dedup import spread

    return (
        spread(emb, id_col)
        .withColumn(
            "__one",
            F.substring(
                F.coalesce(F.col(id_col).cast("string"), F.lit("")), 1, 0
            ),
        )
        .join(F.broadcast(cb1), "__one")
        .select(id_col, F.expr(codes).alias("codes"))
    )


def pq_topk(
    emb: DataFrame,
    codebooks: DataFrame,
    m_subspaces: int,
    query_filter: str,
    k: int = 5,
    emb_col: str = "embedding",
    id_col: str = "vec_id",
    encoded: DataFrame | None = None,
    rank_by: str = "dot",
) -> DataFrame:
    """ANN top-k by asymmetric distance computation (ADC): queries stay
    exact, corpus vectors are their PQ codes; approx dot(q, v) =
    sum_m LUT_q[m, code_m] where LUT_q holds dot(q_sub, c_sub) for every
    (subspace, code) — M*K entries per query, computed once and broadcast.
    The corpus-side scan touches only the code arrays (explode to M rows per
    vector, equi-join on (query-independent) (subspace, code)).

    rank_by: 'dot' ranks by the raw approximate inner product (right for
    normalized corpora / max-IP search); 'cosine' divides by
    sqrt(q_nsq * reconstructed ||v||^2) — the reconstructed norm is a
    codes-only sum of per-(subspace, code) centroid norms, so the corpus
    scan still never touches raw vectors. Use 'cosine' when feeding a
    cosine re-ranker on UNNORMALIZED embeddings: dot ranking would flood
    the candidate set with long vectors and starve high-cosine short ones.
    """
    codes = (
        encoded
        if encoded is not None
        else pq_encode(emb, codebooks, m_subspaces, emb_col, id_col)
    )
    qrows = emb.filter(F.expr(query_filter))
    q = _subvectors(qrows, m_subspaces, emb_col, id_col).select(
        F.col(id_col).alias("query_id"), "subspace", "sub"
    )
    lut = (
        q.join(F.broadcast(codebooks), "subspace")
        .withColumn("part_dot", F.expr(DOT.format(a="sub", b="c_sub")))
        .select("query_id", "subspace", "code", "part_dot")
    )
    corpus = codes.select(
        F.col(id_col).alias("neighbor_id"),
        F.posexplode("codes").alias("subspace", "code"),
    )
    if rank_by == "cosine":
        # reconstructed ||v||^2 = sum_m ||c_{m,code_m}||^2 — query-independent
        cb_nsq = F.broadcast(
            codebooks.withColumn(
                "c_nsq_part", F.expr(DOT.format(a="c_sub", b="c_sub"))
            ).select("subspace", "code", "c_nsq_part")
        )
        q_nsq = F.broadcast(
            _with_norm_sq(qrows, emb_col, id_col).select(
                F.col(id_col).alias("query_id"), F.col("nsq").alias("q_nsq")
            )
        )
        pairs = (
            corpus.join(cb_nsq, ["subspace", "code"])
            .join(F.broadcast(lut), ["subspace", "code"])
            .filter(F.col("neighbor_id") != F.col("query_id"))
            .groupBy("query_id", "neighbor_id")
            .agg(
                F.round(F.sum("part_dot"), 4).alias("approx_dot"),
                F.sum("c_nsq_part").alias("_rnsq"),
            )
            .join(q_nsq, "query_id")
            .withColumn(
                "_score",
                F.round(
                    F.col("approx_dot")
                    / F.sqrt(F.col("q_nsq") * F.greatest(F.col("_rnsq"), F.lit(1e-30))),
                    6,
                ),
            )
        )
    else:
        pairs = (
            corpus.join(F.broadcast(lut), ["subspace", "code"])
            .filter(F.col("neighbor_id") != F.col("query_id"))
            .groupBy("query_id", "neighbor_id")
            .agg(F.round(F.sum("part_dot"), 4).alias("approx_dot"))
            .withColumn("_score", F.col("approx_dot"))
        )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("_score"), F.asc("neighbor_id")
    )
    return (
        pairs.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("query_id", "neighbor_id", "approx_dot", "rnk")
    )


def pq_topk_reranked(
    emb: DataFrame,
    codebooks: DataFrame,
    m_subspaces: int,
    query_filter: str,
    k: int = 5,
    rerank: int = 25,
    emb_col: str = "embedding",
    id_col: str = "vec_id",
    encoded: DataFrame | None = None,
) -> DataFrame:
    """Two-stage PQ search (the standard production shape): a wide ADC pass
    selects `rerank` candidates per query from the compressed codes, then
    ONLY those candidates' raw vectors are fetched (equi-join on id) and
    re-scored with the exact dot product. Recall approaches exact search at
    a fraction of its cost: the exact math touches n_queries x rerank
    vectors, never the corpus. Candidates are ranked by APPROXIMATE COSINE
    (reconstructed norms) so the final cosine re-rank isn't starved of
    high-cosine short vectors on unnormalized corpora; pass `encoded` to
    reuse a precomputed code table instead of re-encoding the corpus per
    search call."""
    cand = pq_topk(
        emb, codebooks, m_subspaces, query_filter, k=rerank,
        emb_col=emb_col, id_col=id_col, encoded=encoded, rank_by="cosine",
    ).select("query_id", "neighbor_id")
    n = _with_norm_sq(emb, emb_col, id_col)
    q = n.filter(F.expr(query_filter)).select(
        F.col(id_col).alias("query_id"),
        F.col(emb_col).alias("q_emb"),
        F.col("nsq").alias("q_nsq"),
    )
    c = n.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(emb_col).alias("c_emb"),
        F.col("nsq").alias("c_nsq"),
    )
    dot = DOT.format(a="q_emb", b="c_emb")
    pairs = (
        cand.join(q, "query_id")
        .join(c, "neighbor_id")
        .withColumn("cosine", F.round(F.expr(f"{dot} / sqrt(q_nsq * c_nsq)"), 6))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        pairs.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("query_id", "neighbor_id", "cosine", "rnk")
    )


# production cell-sizing contract: n_cells defaults to corpus_rows /
# SEMDEDUP_TARGET_CELL_ROWS, keeping EXPECTED cell size constant so the
# within-cell pair cost sum(|cell|^2) grows ~linearly with the corpus
# (Abbas et al. 2023 scale n_cells with corpus size for the same reason)
SEMDEDUP_TARGET_CELL_ROWS = 500

# assign='auto' knee: above this many cells the flat Arrow argmin kernel
# (full centroid-matrix broadcast, corpus x n_cells FLOPs) loses to the
# two-level hierarchical quantizer — measured in PERF.md r12 (flat 61.8x
# per input decade vs hier 9.7x; 2M x 200k cells: hier 644s, flat ~3.5h)
SEMDEDUP_FLAT_MAX_CELLS = 32_768


def _assign_cells_arrow(
    n: DataFrame, cents: DataFrame, emb_col: str, id_col: str
) -> DataFrame:
    """FAISS-shape coarse assignment: the centroid table is collected
    ONCE (n_cells x dim — the bound that crosses the driver in any IVF
    build) and broadcast as one matrix; a batched Arrow kernel computes
    every vector's rounded distance row in BLAS and emits ONE row per
    vector. The corpus x n_cells fan-out never materializes as Spark
    rows — the 100x probe measured the SQL fan-out shape (explode +
    interpreted fold + row_number window over N*cells rows) as
    SemDeDup's dominant production-contract cost, because with n_cells
    ~ N/target the fan-out is O(N^2/target) ROWS even though the argmin
    output is O(N).

    Determinism: dist = round(nsq + c_nsq - 2*dot, 6) with BOTH norms
    carried from the SQL fold (input columns); only the dot is BLAS
    (~1e-15 relative vs the fold — the round-6 doctrine, same as the
    gram kernel). np.argmin takes the FIRST minimum and the matrix is
    ordered by ascending cell_id, so ties break to the lowest cell_id —
    exactly the SQL ORDER BY dist, cell_id."""
    import numpy as np
    import pandas as pd

    rows = sorted(cents.collect(), key=lambda r: r["cell_id"])
    if not rows:
        raise ValueError("semdedup: no centroids")
    C = np.stack([np.asarray(r["c_emb"], dtype=np.float64) for r in rows])
    cnsq = np.array([float(r["c_nsq"]) for r in rows], dtype=np.float64)
    cell_ids = np.array([int(r["cell_id"]) for r in rows], dtype=np.int64)
    b = n.sparkSession.sparkContext.broadcast((C, cnsq, cell_ids))
    fields = dict(n.dtypes)
    out_schema = (
        f"{id_col} {fields[id_col]}, {emb_col} {fields[emb_col]}, "
        "nsq double, cell_id int"
    )

    def kernel(batches):
        Cm, cn, cids = b.value
        for pdf in batches:
            if not len(pdf):
                continue
            E = np.stack(pdf[emb_col].to_numpy()).astype(np.float64)
            nsq = pdf["nsq"].to_numpy(dtype=np.float64)
            d = np.round(nsq[:, None] + cn[None, :] - 2.0 * (E @ Cm.T), 6)
            idx = np.argmin(d, axis=1)
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    emb_col: pdf[emb_col],
                    "nsq": nsq,
                    "cell_id": cids[idx].astype(np.int32),
                }
            )

    return n.select(id_col, emb_col, "nsq").mapInPandas(kernel, out_schema)


def assign_cells_hierarchical(
    n: DataFrame,
    cents: DataFrame,
    emb_col: str,
    id_col: str,
    n_super: int | None = None,
    nprobe_super: int = 8,
) -> DataFrame:
    """Two-level (FAISS IVF-on-IVF) coarse assignment — the scale path
    past _assign_cells_arrow's documented boundary (the FLAT kernel must
    collect + broadcast the full n_cells x dim centroid matrix, ~512 MB
    at 1e6 cells x 64 dims f64, which stops fitting the driver/broadcast
    budget long before the corpus stops fitting the cluster).

    Shape: (1) the sqrt(L) lowest-cell_id centroids become SUPER-centroids
    (only this sqrt(L) x dim matrix ever crosses the driver); (2) the
    centroid TABLE is flat-assigned to super-cells with the existing Arrow
    argmin kernel (L rows vs sqrt(L) supers — cheap); (3) each vector's
    top-nprobe_super super-cells come from one broadcast-super Arrow
    kernel (nprobe rows per vector, never L); (4) a COGROUPED
    applyInPandas on super_id pairs each vector batch with that super's
    centroid sub-matrix — the centroid inverted lists reach executors by
    shuffle, no broadcast — and emits the per-super best (dist, cell_id);
    (5) one min(struct(dist, cell_id, ...)) reduce picks the global best.

    Semantics: every distance is the SAME round(nsq + c_nsq - 2*dot, 6)
    as the flat kernel, and the final lexicographic struct-min breaks ties
    to the lowest cell_id — so with nprobe_super = n_super the result is
    the flat assignment EXACTLY (pinned in tests/test_semdedup_shuffle.py).
    Smaller nprobe_super trades recall for probing cost, the standard IVF
    knob: a vector whose true cell lives in an unprobed super-cell gets
    its best PROBED cell instead (SemDeDup then misses only cross-cell
    pairs it already document-misses by construction).
    """
    import math as _math

    import numpy as np

    L = cents.count()
    if L == 0:
        raise ValueError("assign_cells_hierarchical: no centroids")
    if n_super is None:
        n_super = max(1, _math.isqrt(L))
    nprobe_super = max(1, min(nprobe_super, n_super))

    # (1) super-centroid table: lowest-cell_id centroids, renamed so the
    # flat kernel and the vector-probe kernel can treat it as any other
    # centroid table. sqrt(L) rows — the ONLY driver collect in this path.
    sup = (
        cents.orderBy("cell_id")
        .limit(n_super)
        .select(
            F.col("cell_id").alias("sid"),
            F.col("c_emb").alias("s_emb"),
            F.col("c_nsq").alias("s_nsq"),
        )
    )
    sup_rows = sorted(sup.collect(), key=lambda r: r["sid"])
    S = np.stack([np.asarray(r["s_emb"], dtype=np.float64) for r in sup_rows])
    snsq = np.array([float(r["s_nsq"]) for r in sup_rows], dtype=np.float64)
    sids = np.array([int(r["sid"]) for r in sup_rows], dtype=np.int64)
    spark = n.sparkSession
    bsup = spark.sparkContext.broadcast((S, snsq, sids))

    # (2) centroids -> super-cells: reuse the flat Arrow argmin verbatim
    # (the centroid table IS a vector table with cell_id as its id)
    sup_as_cents = sup.select(
        F.col("sid").alias("cell_id"),
        F.col("s_emb").alias("c_emb"),
        F.col("s_nsq").alias("c_nsq"),
    )
    cents_assigned = _assign_cells_arrow(
        cents.select(
            F.col("cell_id").alias("__cid"),
            F.col("c_emb").alias("__cemb"),
            F.col("c_nsq").alias("nsq"),
        ),
        sup_as_cents,
        "__cemb",
        "__cid",
    ).select(
        F.col("cell_id").alias("super_id"),
        F.col("__cid").alias("m_cell_id"),
        F.col("__cemb").alias("m_emb"),
        F.col("nsq").alias("m_nsq"),
    )

    # (3) vectors -> top-nprobe_super super-cells (round-6 dist, ties to
    # the lowest sid — np.lexsort's stable (sid, dist) key order)
    import pandas as pd

    fields = dict(n.dtypes)
    probe_schema = (
        f"{id_col} {fields[id_col]}, {emb_col} {fields[emb_col]}, "
        "nsq double, super_id int"
    )
    npr = nprobe_super

    def probe_kernel(batches):
        Sm, sn, sidv = bsup.value
        for pdf in batches:
            if not len(pdf):
                continue
            E = np.stack(pdf[emb_col].to_numpy()).astype(np.float64)
            nsq = pdf["nsq"].to_numpy(dtype=np.float64)
            d = np.round(nsq[:, None] + sn[None, :] - 2.0 * (E @ Sm.T), 6)
            order = np.argsort(d, axis=1, kind="stable")[:, :npr]
            reps = order.shape[1]
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col].to_numpy().repeat(reps),
                    emb_col: pdf[emb_col].to_numpy().repeat(reps),
                    "nsq": nsq.repeat(reps),
                    "super_id": sidv[order.ravel()].astype(np.int32),
                }
            )

    probes = n.select(id_col, emb_col, "nsq").mapInPandas(
        probe_kernel, probe_schema
    )

    # (4) cogroup on super_id: vector batch x that super's inverted list
    cand_schema = (
        f"{id_col} {fields[id_col]}, {emb_col} {fields[emb_col]}, "
        "nsq double, dist double, cell_id int"
    )

    def within_super(vec_pdf, cent_pdf):
        if not len(vec_pdf) or not len(cent_pdf):
            return pd.DataFrame(
                columns=[id_col, emb_col, "nsq", "dist", "cell_id"]
            )
        cent_pdf = cent_pdf.sort_values("m_cell_id", kind="mergesort")
        Cm = np.stack(cent_pdf["m_emb"].to_numpy()).astype(np.float64)
        cn = cent_pdf["m_nsq"].to_numpy(dtype=np.float64)
        cid = cent_pdf["m_cell_id"].to_numpy(dtype=np.int64)
        E = np.stack(vec_pdf[emb_col].to_numpy()).astype(np.float64)
        nsq = vec_pdf["nsq"].to_numpy(dtype=np.float64)
        d = np.round(nsq[:, None] + cn[None, :] - 2.0 * (E @ Cm.T), 6)
        idx = np.argmin(d, axis=1)  # first min == lowest cell_id (sorted)
        return pd.DataFrame(
            {
                id_col: vec_pdf[id_col],
                emb_col: vec_pdf[emb_col],
                "nsq": nsq,
                "dist": d[np.arange(len(idx)), idx],
                "cell_id": cid[idx].astype(np.int32),
            }
        )

    cands = (
        probes.groupBy("super_id")
        .cogroup(cents_assigned.groupBy("super_id"))
        .applyInPandas(lambda _k, v, c: within_super(v, c), cand_schema)
    )

    # (5) global best among probed supers: lexicographic struct-min —
    # (dist, cell_id) is unique per candidate so the trailing payload
    # fields never participate in the comparison
    best = cands.groupBy(id_col).agg(
        F.min(F.struct("dist", "cell_id", emb_col, "nsq")).alias("__b")
    )
    return best.select(
        id_col,
        F.col(f"__b.{emb_col}").alias(emb_col),
        F.col("__b.nsq").alias("nsq"),
        F.col("__b.cell_id").alias("cell_id"),
    )


def semdedup_pairs(
    emb: DataFrame,
    threshold: float = 0.95,
    n_cells: int | None = None,
    emb_col: str = "embedding",
    id_col: str = "vec_id",
    centroids: DataFrame | None = None,
    assign: str = "flat",
    nprobe_super: int = 8,
) -> DataFrame:
    """SemDeDup candidate pairs (Abbas et al. 2023, arXiv:2303.09540):
    semantic near-duplicates found WITHIN k-means cells only — cluster the
    embeddings, then compare pairs inside each cell. -> (vec_a, vec_b,
    cosine) with vec_a < vec_b and cosine >= threshold.

    Scale shape: the all-pairs comparison is confined to one cell — ONE
    shuffle on cell_id, then a grouped Arrow kernel (applyInPandas)
    computes each cell's gram matrix with BLAS and emits only the pairs
    above threshold. Total work is sum over cells of |cell|^2 * d FLOPs
    instead of corpus^2 — the published recipe's exact cost model — and
    the |cell|^2 candidate pairs NEVER materialize as Spark rows (the r10
    equi-join shape shipped 12.5M joined rows each carrying two embedding
    arrays through an interpreted per-element dot; the kernel is ~10x
    faster at 10x rows and parallelizes one task per cell, which AQE's
    byte-based coalescing got wrong for this compute-bound stage). Kernel
    memory is O(|cell| * d + chunk * |cell|) doubles, bounded by the
    production contract's ~constant cell size; a pathologically hot cell
    degrades to one long task, not an OOM (chunked gram). Cell assignment
    is the batched Arrow argmin kernel (_assign_cells_arrow): broadcast
    centroid matrix, one output row per vector — under the production
    contract (n_cells ~ corpus/target) the SQL fan-out shape would
    materialize O(N^2/target) rows just to argmin them (the r11 100x
    probe's dominant cost). Cross-cell duplicates
    are missed by construction (the documented SemDeDup recall trade-off);
    lower `threshold`/raise `n_cells` per the paper's ablations.

    Determinism: cosine = round(dot / sqrt(nsq_a * nsq_b), 6) where both
    nsq factors are the carried SQL left-fold values; the BLAS dot's
    summation order differs from the SQL fold by ~1e-15 relative, which
    ROUND at 6 absorbs (the lmp/dsr doctrine — equality with the SQL
    pair join is pinned exactly in tests/test_semdedup_shuffle.py).

    n_cells=None (production default) derives the cell count from a corpus
    count() so expected cell size stays ~SEMDEDUP_TARGET_CELL_ROWS and the
    pair cost scales linearly with the corpus (one scalar count on the
    driver — metadata-scale coordination, not a data collect). Callers
    needing a deterministic oracle contract (the [semd] gate) pass an
    explicit n_cells."""
    n = _with_norm_sq(emb, emb_col, id_col)
    if centroids is not None:
        # n_cells only sizes the centroid build — with explicit centroids
        # the count() scan would be paid for a value that's never used
        cents = centroids
    else:
        if n_cells is None:
            import math as _math

            n_cells = max(
                4, _math.ceil(emb.count() / SEMDEDUP_TARGET_CELL_ROWS)
            )
        cents = deterministic_centroids(emb, n_cells, emb_col, id_col)
    if assign == "auto":
        # past the measured knee the flat kernel is compute-quadratic in
        # the production contract and its full-matrix broadcast grows past
        # the driver budget (PERF.md r12: 61.8x vs 9.7x at 10x); one count
        # of the tiny centroid table decides
        assign = "hier" if cents.count() > SEMDEDUP_FLAT_MAX_CELLS else "flat"
    if assign == "hier":
        # past ~1e5 cells the flat kernel's full centroid broadcast stops
        # fitting; the two-level path never ships more than sqrt(L) rows
        # to the driver (see assign_cells_hierarchical)
        assigned = assign_cells_hierarchical(
            n, cents, emb_col, id_col, nprobe_super=nprobe_super
        )
    elif assign == "flat":
        assigned = _assign_cells_arrow(n, cents, emb_col, id_col)
    else:
        raise ValueError(f"semdedup_pairs: unknown assign mode {assign!r}")
    return _group_gram_pairs(assigned, "cell_id", threshold, emb_col, id_col)


def _group_gram_pairs(
    grouped: DataFrame,
    group_col: str,
    threshold: float,
    emb_col: str,
    id_col: str,
    n_split: int = 1,
) -> DataFrame:
    """Within-group all-pairs cosine >= threshold via the grouped Arrow
    gram kernel: `grouped` carries (id, emb, nsq, group_col); each group's
    gram matrix runs in chunked BLAS and only pairs above threshold are
    emitted -> (vec_a, vec_b, cosine) with vec_a < vec_b. Candidate pairs
    never materialize as Spark rows; kernel memory is O(|group| * d +
    chunk * |group|) doubles. Cosine = round(dot / sqrt(nsq_a * nsq_b), 6)
    with both norms carried from the SQL fold (round-6 doctrine); shared
    by SemDeDup cells and the hyperplane-bucket near-dup path.

    n_split > 1 (r15, guide §2.1 hot-key split): rows are sub-chunked by
    id hash and each of the n_split(n_split+1)/2 chunk PAIRS becomes its
    own Arrow group — same pair set, same round-6 values (the kernel
    arithmetic is per-pair and order-free), but a group's quadratic gram
    now runs across ~n_split^2/2 tasks instead of one. Use for FEW fat
    groups (fixed-plane hyperplane buckets); leave 1 for many small
    groups (SemDeDup cells), where the c-fold row replication would
    outweigh the parallelism."""
    id_type = dict(grouped.dtypes)[id_col]
    out_schema = f"vec_a {id_type}, vec_b {id_type}, cosine double"

    def gram_block(A, B, cross):
        # A, B: (ids, nsq, E) triples; cross=False means A is B (one
        # chunk against itself -> va < vb dedups and drops the diagonal);
        # cross=True emits every A x B pair once, oriented by id
        import numpy as np
        import pandas as pd

        ids_a, nsq_a, Ea = A
        ids_b, nsq_b, Eb = B
        m = len(ids_a)
        outs = []
        # chunk the gram so memory stays ~<=256 MB even on a hot group
        chunk = max(64, min(m, int(3.2e7 // max(len(ids_b), 1)) or 64))
        for s in range(0, m, chunk):
            g = Ea[s : s + chunk] @ Eb.T
            c = np.round(
                g / np.sqrt(nsq_a[s : s + chunk, None] * nsq_b[None, :]), 6
            )
            ia, ib = np.nonzero(c >= threshold)
            va, vb = ids_a[s + ia], ids_b[ib]
            if cross:
                cos = c[ia, ib]
                lo = np.minimum(va, vb)
                hi = np.maximum(va, vb)
                outs.append(
                    pd.DataFrame({"vec_a": lo, "vec_b": hi, "cosine": cos})
                )
            else:
                keep = va < vb  # dedups (i,j)/(j,i), drops the diagonal
                outs.append(
                    pd.DataFrame(
                        {
                            "vec_a": va[keep],
                            "vec_b": vb[keep],
                            "cosine": c[ia[keep], ib[keep]],
                        }
                    )
                )
        if not outs:
            return pd.DataFrame({"vec_a": [], "vec_b": [], "cosine": []})
        return pd.concat(outs, ignore_index=True)

    def unpack(pdf):
        import numpy as np

        ids = pdf[id_col].to_numpy()
        nsq = pdf["nsq"].to_numpy(dtype=np.float64)
        E = np.stack(pdf[emb_col].to_numpy()).astype(np.float64)
        return ids, nsq, E

    def empty_out():
        import pandas as pd

        return pd.DataFrame({"vec_a": [], "vec_b": [], "cosine": []})

    if n_split <= 1:
        def group_gram(pdf):
            blk = unpack(pdf)
            return gram_block(blk, blk, cross=False)

        return grouped.groupBy(group_col).applyInPandas(
            group_gram, out_schema
        )

    # scatter each row to its n_split chunk-pair groups: row in chunk ci
    # joins groups {min(ci,t), max(ci,t)} for every t — one diagonal
    # group (ga == gb == ci) plus n_split-1 cross groups
    ci = F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_split)).cast("int")
    scattered = (
        grouped.select(
            id_col, emb_col, "nsq", group_col, ci.alias("__ci"),
            F.explode(
                F.sequence(F.lit(0), F.lit(n_split - 1))
            ).alias("__t"),
        )
        .select(
            id_col, emb_col, "nsq", group_col, "__ci",
            F.least("__ci", "__t").alias("__ga"),
            F.greatest("__ci", "__t").alias("__gb"),
        )
    )

    def chunk_pair_gram(pdf):
        ga = int(pdf["__ga"].iloc[0])
        gb = int(pdf["__gb"].iloc[0])
        if ga == gb:
            blk = unpack(pdf)
            return gram_block(blk, blk, cross=False)
        side_a = pdf[pdf["__ci"] == ga]
        side_b = pdf[pdf["__ci"] == gb]
        if not len(side_a) or not len(side_b):
            return empty_out()
        return gram_block(unpack(side_a), unpack(side_b), cross=True)

    return scattered.groupBy(group_col, "__ga", "__gb").applyInPandas(
        chunk_pair_gram, out_schema
    )


def semdedup_keep_list(
    emb: DataFrame,
    threshold: float = 0.95,
    n_cells: int | None = None,
    emb_col: str = "embedding",
    id_col: str = "vec_id",
    centroids: DataFrame | None = None,
    assign: str = "flat",
) -> DataFrame:
    """Rows surviving SemDeDup: one representative (min id) per connected
    semantic-duplicate component, everything unpaired untouched. Reuses the
    transitive min-label keep-list from pipeline/dedup.py. `assign` is
    forwarded to semdedup_pairs ('auto' switches to the hierarchical
    quantizer past the flat kernel's knee — what production call sites
    such as curate.prepare_training_corpus use)."""
    from enterprise_warp_spark.pipeline.dedup import cluster_keep_list

    pairs = semdedup_pairs(
        emb, threshold, n_cells, emb_col, id_col, centroids, assign=assign
    )
    return cluster_keep_list(
        emb, pairs.withColumnRenamed("vec_a", "doc_a").withColumnRenamed(
            "vec_b", "doc_b"
        ), id_col
    )

