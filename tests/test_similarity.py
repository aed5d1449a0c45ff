"""IVF ANN properties: full-probe degeneration to exact search, single-cell
assignment, and pluggable centroids."""

import pytest
from pyspark.sql import functions as F

from enterprise_warp_spark.pipeline import similarity
from enterprise_warp_spark.tables import table


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return table(spark, sf_dir, "embeddings")


def test_full_probe_equals_exact(spark, emb):
    """nprobe == n_cells scans every inverted list -> results must equal the
    brute-force baseline row for row."""
    exact = similarity.cosine_topk(emb, "vec_id < 6", 4)
    ivf = similarity.ivf_topk(emb, "vec_id < 6", 4, n_cells=8, nprobe=8)
    a = sorted(map(tuple, exact.collect()))
    b = sorted(map(tuple, ivf.collect()))
    assert a == b


def test_partial_probe_recall(spark, emb):
    """nprobe < n_cells keeps most true neighbors (sanity floor, not a
    guarantee: recall tunes with nprobe)."""
    exact = {(r["query_id"], r["neighbor_id"]) for r in similarity.cosine_topk(emb, "vec_id < 10", 5).collect()}
    ivf = {(r["query_id"], r["neighbor_id"]) for r in similarity.ivf_topk(emb, "vec_id < 10", 5, n_cells=16, nprobe=4).collect()}
    assert len(exact & ivf) / len(exact) >= 0.6


def test_single_cell_assignment(spark, emb):
    """Inverted lists partition the corpus: each vector lands in exactly one
    cell."""
    n = similarity._with_norm_sq(emb)
    cents = similarity.deterministic_centroids(emb, 8)
    d = similarity._cell_distances(n, cents, "embedding")
    from pyspark.sql import Window

    w = Window.partitionBy("vec_id").orderBy("dist", "cell_id")
    assigned = d.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    total = emb.count()
    assert assigned.count() == total
    assert assigned.select("vec_id").distinct().count() == total


def test_custom_centroids(spark, emb):
    """Centroids are pluggable (KMeans path): any (cell_id, c_emb, c_nsq)
    table drives the same plan."""
    cents = similarity.deterministic_centroids(emb, 32).filter(
        F.col("cell_id") % 2 == 0
    )
    out = similarity.ivf_topk(emb, "vec_id < 3", 3, centroids=cents)
    rows = out.collect()
    assert {r["query_id"] for r in rows} == {0, 1, 2}
    assert all(1 <= r["rnk"] <= 3 for r in rows)


def test_pq_exact_when_codebook_contains_subvectors(spark, emb):
    """With k_codes >= corpus size the codebook contains every subvector, so
    PQ encoding is lossless: ADC scores equal exact dot products and the
    top-k ranking matches brute force."""
    n_corpus = emb.count()
    cb = similarity.pq_codebooks(emb, 4, n_corpus)
    enc = {r["vec_id"]: r["codes"] for r in similarity.pq_encode(emb, cb, 4).collect()}
    assert all(len(c) == 4 for c in enc.values())
    # lossless: each vector's code in every subspace is its own id (ties
    # broken toward the smallest code pick the first identical subvector)
    pdf = {r["vec_id"]: r["embedding"] for r in emb.collect()}
    import numpy as np

    got = similarity.pq_topk(emb, cb, 4, "vec_id < 5", k=3)
    rows = got.collect()
    assert {r["query_id"] for r in rows} == {0, 1, 2, 3, 4}
    for r in rows:
        q, nb = np.array(pdf[r["query_id"]], float), np.array(pdf[r["neighbor_id"]], float)
        assert r["approx_dot"] == pytest.approx(float(q @ nb), abs=1e-3)


def test_pq_lossy_recall(spark, emb):
    """Small codebook (real compression): PQ is approximate but keeps
    reasonable top-k recall vs exact dot ranking. Measured recall on this
    corpus: M=8 -> 0.24, M=16 -> 0.54, M=32 -> 0.76 (random embeddings are
    PQ's worst case — no cluster structure); recall tunes with M as theory
    says. Pinned at M=16 with a 0.4 floor."""
    cb = similarity.pq_codebooks(emb, 16, 32)
    got = similarity.pq_topk(emb, cb, 16, "vec_id < 10", k=5)
    assert got.groupBy("query_id").count().filter("count != 5").count() == 0
    # recall floor vs exact-dot ranking
    import numpy as np

    pdf = {r["vec_id"]: np.array(r["embedding"], float) for r in emb.collect()}
    hits = total = 0
    by_q = {}
    for r in got.collect():
        by_q.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    for q, nbs in by_q.items():
        dots = {v: float(pdf[q] @ e) for v, e in pdf.items() if v != q}
        exact = set(sorted(dots, key=lambda v: (-dots[v], v))[:5])
        hits += len(exact & nbs)
        total += 5
    assert hits / total >= 0.4


def test_pq_rerank_beats_raw_adc(spark, emb):
    """Exact re-ranking of a wide ADC candidate set: recall vs the exact
    top-k must improve on (or match) raw ADC at the same k."""
    import numpy as np

    cb = similarity.pq_codebooks(emb, 16, 32)
    pdf = {r["vec_id"]: np.array(r["embedding"], float) for r in emb.collect()}

    def recall(df):
        by_q = {}
        for r in df.collect():
            by_q.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        hits = total = 0
        for q, nbs in by_q.items():
            dots = {v: float(pdf[q] @ e) for v, e in pdf.items() if v != q}
            exact = set(sorted(dots, key=lambda v: (-dots[v], v))[:5])
            hits += len(exact & nbs)
            total += 5
        return hits / total

    raw = recall(similarity.pq_topk(emb, cb, 16, "vec_id < 10", k=5))
    rr = recall(similarity.pq_topk_reranked(emb, cb, 16, "vec_id < 10", k=5, rerank=40))
    assert rr >= raw
    assert rr >= 0.6  # wide-candidate exact re-rank recovers most of exact


def test_lloyd_kmeans_numpy_twin(spark, emb):
    """The deterministic Lloyd trajectory (lowest-id init, rounded
    distances/centroids, cell_id tiebreak, empty-cell retention) replayed
    step for step in plain Python must reproduce BOTH the final
    assignments and the final centroid coordinates exactly."""
    import numpy as np

    X = {
        int(r["vec_id"]): [float(v) for v in r["embedding"]]
        for r in emb.collect()
    }
    ids = sorted(X)
    k, n_iter = 5, 2
    cents = [[round(v, 6) for v in X[i]] for i in ids[:k]]

    def dot(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            acc += x * y
        return acc

    def assign(cs):
        out = {}
        for i in ids:
            e = X[i]
            nsq = dot(e, e)
            best = None
            for ci, c in enumerate(cs):
                d = round(nsq + dot(c, c) - 2 * dot(e, c), 6)
                if best is None or (d, ci) < best:
                    best = (d, ci)
            out[i] = best
        return out

    for _ in range(n_iter):
        a = assign(cents)
        nxt = []
        for ci, c in enumerate(cents):
            members = [X[i] for i in ids if a[i][1] == ci]
            if members:
                nxt.append(
                    [
                        round(float(np.mean([m[j] for m in members])), 6)
                        for j in range(len(c))
                    ]
                )
            else:
                nxt.append(c)  # empty cell keeps its centroid
        cents = nxt
    want = assign(cents)

    asg, cdf = similarity.lloyd_kmeans(emb, k=k, n_iter=n_iter)
    got = {
        int(r["vec_id"]): (float(r["dist"]), int(r["cell_id"]))
        for r in asg.collect()
    }
    assert got == want
    got_c = {
        int(r["cell_id"]): [float(v) for v in r["c_emb"]]
        for r in cdf.collect()
    }
    assert got_c == dict(enumerate(cents))


def test_lloyd_kmeans_zero_iter_is_rounded_init(spark, emb):
    """n_iter=0 assigns against the rounded lowest-id seeds unchanged —
    the base case the SQL twin's kmc0 CTE pins."""
    asg, cdf = similarity.lloyd_kmeans(emb, k=3, n_iter=0)
    seeds = {
        int(r["cell_id"]): [float(v) for v in r["c_emb"]]
        for r in cdf.collect()
    }
    first = [
        [round(float(v), 6) for v in r["embedding"]]
        for r in emb.orderBy("vec_id").limit(3).collect()
    ]
    assert seeds == dict(enumerate(first))
    n = emb.count()
    assert asg.count() == n
    assert asg.select("vec_id").distinct().count() == n


def test_prototype_prune_hardest_and_easiest(spark, emb):
    """Per-cell cap respected; hardest keeps the max-dist rows, easiest
    the min-dist rows; ranks are 1..n within each cell."""
    asg, _ = similarity.lloyd_kmeans(emb, k=4, n_iter=1)
    all_rows = asg.collect()
    by_cell = {}
    for r in all_rows:
        by_cell.setdefault(r["cell_id"], []).append((r["dist"], r["vec_id"]))
    hard = similarity.prototype_prune(asg, 2, hardest=True).collect()
    easy = similarity.prototype_prune(asg, 2, hardest=False).collect()
    for kept, rev in ((hard, True), (easy, False)):
        got = {}
        for r in kept:
            got.setdefault(r["cell_id"], []).append(
                (r["proto_rank"], r["dist"], r["vec_id"])
            )
        for cell, rows in got.items():
            rows.sort()
            assert [rk for rk, _, _ in rows] == list(range(1, len(rows) + 1))
            want = sorted(
                by_cell[cell],
                key=lambda t: (-t[0], t[1]) if rev else (t[0], t[1]),
            )[: len(rows)]
            assert [(d, v) for _, d, v in rows] == want
    with pytest.raises(ValueError):
        similarity.prototype_prune(asg, 0)


def test_random_projection_python_twin_and_jl(spark, emb):
    """The inlined-literal projection must equal a sequential-fold python
    replay exactly (same matrix derivation, same operation order), the
    plan must be shuffle-free, and the JL contract must hold in
    aggregate: median pairwise-distance distortion bounded."""
    import hashlib
    import math

    out_dim, seed = 16, 7
    got = {
        int(r["vec_id"]): list(r["proj"])
        for r in similarity.random_projection(emb, out_dim, seed=seed)
        .select("vec_id", "proj")
        .collect()
    }
    X = {
        int(r["vec_id"]): [float(v) for v in r["embedding"]]
        for r in emb.collect()
    }
    in_dim = len(next(iter(X.values())))
    s = math.sqrt(3.0 / out_dim)

    def entry(i, j):
        h = hashlib.md5(f"{seed}|{i}|{j}".encode()).digest()
        u = int.from_bytes(h[:8], "big") % 6
        return s if u == 0 else (-s if u == 1 else 0.0)

    R = [[entry(i, j) for j in range(in_dim)] for i in range(out_dim)]
    for vid, e in X.items():
        for i in range(out_dim):
            acc = 0.0
            for x, y in zip(e, R[i]):
                acc += x * y
            assert got[vid][i] == acc, (vid, i)

    # map-only: no Exchange in the executed plan
    plan = (
        similarity.random_projection(emb, out_dim, seed=seed)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan

    # JL distortion sanity on a sample of pairs (aggregate, not per-pair)
    ids = sorted(X)[:30]
    ratios = []
    for a in range(0, len(ids) - 1, 2):
        va, vb = ids[a], ids[a + 1]
        d_in = sum((x - y) ** 2 for x, y in zip(X[va], X[vb]))
        d_out = sum((x - y) ** 2 for x, y in zip(got[va], got[vb]))
        if d_in > 0:
            ratios.append(d_out / d_in)
    ratios.sort()
    med = ratios[len(ratios) // 2]
    assert 0.5 < med < 2.0, med


def test_random_projection_seed_changes_matrix(spark, emb):
    a = similarity.random_projection(emb, 8, seed=1).select("proj").first()[0]
    b = similarity.random_projection(emb, 8, seed=2).select("proj").first()[0]
    assert list(a) != list(b)
    with pytest.raises(ValueError):
        similarity.random_projection(emb, 0)


def test_lloyd_assignment_plan_is_shuffle_free(spark, emb):
    """The final k-means assignment must be map-only: inlined-literal
    centroids over the checkpointed base, no Exchange, no Window, no
    Join in the executed plan."""
    asg, _ = similarity.lloyd_kmeans(emb, k=4, n_iter=1)
    plan = asg._jdf.queryExecution().executedPlan().toString()
    for node in ("Exchange", "Window", "Join"):
        assert node not in plan, node


def test_random_projection_feeds_ann(spark, emb):
    """Composability: JL-projected vectors drive the existing exact/ANN
    operators unchanged (emb_col='proj'). The corpus's synthetic
    embeddings are near-orthogonal (top-k among them is noise, which no
    distance-preserving map keeps), so plant REAL neighbors — an exact
    copy of each vector under a shifted id — and require the projected
    search to rank every query's copy first: identical inputs project
    identically, cosine 1 survives any projection."""
    from pyspark.sql import functions as F

    planted = emb.unionByName(
        emb.withColumn("vec_id", F.col("vec_id") + F.lit(100_000))
    )
    p = similarity.random_projection(planted, 16, seed=3)
    top1 = {
        r["query_id"]: r["neighbor_id"]
        for r in similarity.cosine_topk(p, "vec_id < 10", 1, emb_col="proj")
        .collect()
    }
    assert top1 == {q: q + 100_000 for q in range(10)}


def test_kernel_paths_handle_string_ids_and_empty_queries(spark):
    """The Arrow kernels are generic over the id column: string ids must
    flow through assignment, gram pairs, and brute top-k (the numpy
    object-array compares and Arrow schema derivation), and an empty
    query set returns an empty, correctly-typed frame instead of
    crashing."""
    from enterprise_warp_spark.pipeline.similarity import (
        cosine_near_dup_pairs,
        cosine_topk,
        semdedup_pairs,
    )

    rows = [
        ("doc_a", [1.0, 0.0, 0.0, 0.0]),
        ("doc_b", [0.99, 0.01, 0.0, 0.0]),
        ("doc_c", [0.0, 1.0, 0.0, 0.0]),
        ("doc_d", [0.0, 0.98, 0.02, 0.0]),
    ]
    emb = spark.createDataFrame(rows, "doc_id string, embedding array<float>")

    pairs = semdedup_pairs(
        emb, threshold=0.9, n_cells=1, id_col="doc_id"
    ).collect()
    got = {(r["vec_a"], r["vec_b"]) for r in pairs}
    assert ("doc_a", "doc_b") in got and ("doc_c", "doc_d") in got
    assert all(r["vec_a"] < r["vec_b"] for r in pairs)

    nd = cosine_near_dup_pairs(
        emb, threshold=0.9, id_col="doc_id", n_planes=1
    ).collect()
    assert {(r["vec_a"], r["vec_b"]) for r in nd} >= {("doc_a", "doc_b")}

    tk = cosine_topk(emb, "doc_id = 'doc_a'", 2, id_col="doc_id").collect()
    assert [r["neighbor_id"] for r in sorted(tk, key=lambda r: r["rnk"])][0] == "doc_b"
    assert all(r["query_id"] == "doc_a" for r in tk) and len(tk) == 2

    empty = cosine_topk(emb, "doc_id = 'nope'", 3, id_col="doc_id")
    assert empty.count() == 0
    assert [f[0] for f in empty.dtypes] == [
        "query_id", "neighbor_id", "cosine", "rnk",
    ]


def test_sq8_quantization_and_adc_search(spark, sf_dir):
    """Scalar quantization (r11, FAISS SQ8 recipe): codes must equal the
    numpy twin dimension-for-dimension on the real corpus, dequantized
    reconstruction error is bounded by half a step per dim, and the ADC
    search's top-1 matches exact brute force on well-separated data
    (8 bits over 64 dims is a fine grid)."""
    import numpy as np

    from enterprise_warp_spark.pipeline.similarity import (
        cosine_topk,
        sq8_encode,
        sq8_params,
        sq8_topk_adc,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    params = sq8_params(emb)
    rows = emb.orderBy("vec_id").collect()
    E = np.stack([np.asarray(r["embedding"], np.float64) for r in rows])
    mn, mx = E.min(axis=0), E.max(axis=0)
    assert np.allclose([p[0] for p in params], mn)
    assert np.allclose([p[1] for p in params], mx - mn)

    got = {
        r["vec_id"]: np.asarray(r["codes"])
        for r in sq8_encode(emb, params).collect()
    }
    span = np.where(mx - mn > 0, mx - mn, 1.0)
    for i, r in enumerate(rows):
        z = (E[i] - mn) / span * 255 + 0.5
        want = np.where(mx - mn > 0,
                        np.clip(np.floor(z), 0, 255), 0).astype(int)
        assert np.array_equal(got[r["vec_id"]], want), r["vec_id"]
        # reconstruction error <= half a quantization step per dim
        eh = mn + want * (mx - mn) / 255
        assert np.all(np.abs(eh - E[i]) <= (mx - mn) / 255 / 2 + 1e-12)

    adc = sq8_topk_adc(emb, "vec_id < 10", 5, params=params)
    ex = cosine_topk(emb, "vec_id < 10", 5)
    top1 = {r["query_id"]: r["neighbor_id"]
            for r in adc.filter("rnk = 1").collect()}
    want1 = {r["query_id"]: r["neighbor_id"]
             for r in ex.filter("rnk = 1").collect()}
    assert top1 == want1 and len(top1) == 10


def test_cosine_near_dup_auto_plane_sizing(spark, sf_dir):
    """n_planes=None derives the plane count so expected bucket population
    stays ~COSINE_TARGET_BUCKET_ROWS (the r13 answer to the sf1 sweep's
    density quadratic at fixed n_planes). Coarser auto buckets can only
    ADD recall versus a finer fixed split that shares plane 0 — every
    2-plane co-bucketed pair is 1-plane co-bucketed."""
    import math

    from enterprise_warp_spark.pipeline.similarity import (
        COSINE_TARGET_BUCKET_ROWS,
        cosine_near_dup_pairs,
    )
    from enterprise_warp_spark.tables import table

    emb = table(spark, sf_dir, "embeddings")
    n = emb.count()
    want_planes = max(
        1, math.ceil(math.log2(max(n / COSINE_TARGET_BUCKET_ROWS, 2.0)))
    )
    assert want_planes == 1  # 2000 vectors at the 2000-row target
    key = lambda r: (r["vec_a"], r["vec_b"])  # noqa: E731
    fixed = {key(r) for r in cosine_near_dup_pairs(emb, 0.35, n_planes=2).collect()}
    auto = {key(r) for r in cosine_near_dup_pairs(emb, 0.35, n_planes=None).collect()}
    assert fixed <= auto
    assert len(auto) > 0


def test_cosine_auto_planes_bucket_population_band_at_10x(spark):
    """r13 verdict #3: the n_planes=None auto-sizing contract, measured at
    two densities — the DERIVED plane count must keep the expected bucket
    population (N / 2^planes) inside the stated band
    (COSINE_TARGET_BUCKET_ROWS/2, COSINE_TARGET_BUCKET_ROWS] at BOTH N and
    10N, and the realized size-weighted mean bucket population must stay
    ~flat (within 3x) across the 10x density step — the property that
    makes within-bucket gram work ~linear instead of density-quadratic."""
    import math

    from pyspark.sql import functions as F

    from enterprise_warp_spark.pipeline.similarity import (
        COSINE_TARGET_BUCKET_ROWS,
        _with_norm_sq,
        hyperplane_bucket,
    )

    def derived_planes(n):
        return max(
            1, math.ceil(math.log2(max(n / COSINE_TARGET_BUCKET_ROWS, 2.0)))
        )

    def mean_bucket(n_rows):
        # >=32 dims so up to ~8 derived planes can split ~independently
        # (a 4-dim corpus cannot support 7 independent sign splits)
        emb = spark.range(n_rows).select(
            F.col("id").alias("vec_id"),
            F.array(
                *[
                    F.cos(F.col("id") * float(0.13 + 0.61 * k))
                    for k in range(32)
                ]
            ).alias("embedding"),
        )
        p = derived_planes(n_rows)
        expected = n_rows / 2**p
        assert COSINE_TARGET_BUCKET_ROWS / 2 < expected
        assert expected <= COSINE_TARGET_BUCKET_ROWS
        sizes = (
            _with_norm_sq(emb, "embedding", "vec_id")
            .withColumn("bucket", F.expr(hyperplane_bucket("embedding", p)))
            .groupBy("bucket")
            .count()
            .agg(
                (F.sum(F.col("count") * F.col("count")) / F.sum("count"))
                .alias("m")
            )
            .first()["m"]
        )
        return float(sizes)

    m1 = mean_bucket(24_000)
    m10 = mean_bucket(240_000)
    assert m10 / m1 < 3.0, (m1, m10)


def test_pq_encode_matches_joined_window_twin(spark, emb):
    """The r14 map-only pq_encode (one-row broadcast codebook + per-vector
    argmin fold) must be BIT-IDENTICAL to the former explode -> broadcast
    join -> window -> groupBy shape, including the window's (dist, code)
    tie rule — the twin below is that shape verbatim. Plan contract: the
    corpus side crosses no Window/exchange and the codebook attach stays a
    BroadcastHashJoin (never BNLJ)."""
    import contextlib
    import io

    from pyspark.sql import Window

    cbs = similarity.pq_codebooks(emb, 4, 16).localCheckpoint(eager=True)

    def twin(emb, codebooks, m, emb_col="embedding", id_col="vec_id"):
        dot = similarity.DOT.format(a="sub", b="c_sub")
        nsq_sub = similarity.DOT.format(a="sub", b="sub")
        nsq_c = similarity.DOT.format(a="c_sub", b="c_sub")
        slices = similarity._subvectors(emb, m, emb_col, id_col)
        d = slices.join(F.broadcast(codebooks), "subspace").withColumn(
            "dist",
            F.round(F.expr(nsq_sub) - 2.0 * F.expr(dot) + F.expr(nsq_c), 6),
        )
        w = Window.partitionBy(id_col, "subspace").orderBy("dist", "code")
        best = d.withColumn("rn", F.row_number().over(w)).filter(
            F.col("rn") == 1
        )
        return (
            best.groupBy(id_col)
            .agg(
                F.array_sort(
                    F.collect_list(F.struct("subspace", "code"))
                ).alias("sc")
            )
            .select(
                id_col, F.expr("transform(sc, x -> x.code)").alias("codes")
            )
        )

    new = similarity.pq_encode(emb, cbs, 4)
    got = {r["vec_id"]: list(r["codes"]) for r in new.collect()}
    want = {r["vec_id"]: list(r["codes"]) for r in twin(emb, cbs, 4).collect()}
    assert got == want and len(got) > 0

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        new.explain("formatted")
    p = buf.getvalue()
    assert "Window" not in p
    assert "BroadcastHashJoin" in p
    assert "BroadcastNestedLoopJoin" not in p


def test_group_gram_split_twin_matches_unsplit(spark, sf_dir):
    """r15 hot-key split (guide §2.1): the chunk-pair decomposition of the
    grouped gram kernel must emit EXACTLY the unsplit kernel's pair set —
    same (vec_a, vec_b) orientation, same round-6 cosines — for split
    widths that exercise diagonal-only, balanced, and
    more-chunks-than-rows shapes."""
    from pyspark.sql import functions as F

    from enterprise_warp_spark.pipeline import similarity as sim
    from enterprise_warp_spark.tables import table

    emb = table(spark, sf_dir, "embeddings")
    n = sim._with_norm_sq(emb, "embedding", "vec_id").withColumn(
        "bucket", F.expr(sim.hyperplane_bucket("embedding", 2))
    )
    base = sorted(
        map(
            tuple,
            sim._group_gram_pairs(
                n, "bucket", 0.35, "embedding", "vec_id"
            ).collect(),
        )
    )
    assert len(base) > 0
    for c in (2, 8, 33):
        split = sorted(
            map(
                tuple,
                sim._group_gram_pairs(
                    n, "bucket", 0.35, "embedding", "vec_id", n_split=c
                ).collect(),
            )
        )
        assert split == base, f"n_split={c} diverged"
