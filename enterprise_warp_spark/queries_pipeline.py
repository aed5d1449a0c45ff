"""Catalog entries for the LLM-data-pipeline operators (dedup, similarity,
text analysis, multimodal metadata) with DuckDB oracles.

DuckDB dialect notes mirrored here (kept byte-compatible with the Spark
plans): hex-literal cast replaces conv(); list_* replaces higher-order array
functions; len() is BIGINT so it is cast to INTEGER wherever Spark's size()
(int32) feeds the output; numeric literals in fractions are cast to DOUBLE
because bare 1.0/100.0 parse as DECIMAL in both engines and would change the
division type.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from enterprise_warp_spark.pipeline import dedup, similarity, text
from enterprise_warp_spark.queries import register, run_branches
from enterprise_warp_spark.tables import table

# ---------------------------------------------------------------------------
# Shared DuckDB fragments
# ---------------------------------------------------------------------------

D_TOK = "list_filter(string_split(text, ' '), x -> x != '')"
D_H64 = "CAST('0x' || substr(md5({s}), 1, 15) AS BIGINT)"
D_SHINGLES = (
    "CASE WHEN len(tok) < 3 THEN [array_to_string(tok, ' ')] "
    "ELSE list_transform(range(1, len(tok) - 1), i -> "
    "concat_ws(' ', tok[i], tok[i+1], tok[i+2])) END"
)


def _d_minhash(j: int) -> str:
    a, b = dedup.MINHASH_PARAMS[j]
    h = D_H64.format(s="s")
    return (
        f"list_min(list_transform(sh, s -> "
        f"({a} * ({h} % {dedup.P31}) + {b}) % {dedup.P31}))"
    )


_D_SIG_CTE = f"""
    t AS (SELECT doc_id, {D_TOK} AS tok FROM documents),
    sgl AS (SELECT doc_id, {D_SHINGLES} AS sh FROM t),
    m AS (SELECT doc_id, {", ".join(f"{_d_minhash(j)} AS mh{j}" for j in range(8))} FROM sgl),
    bands AS (
      SELECT doc_id, 0 AS band_id, md5(concat_ws(',', CAST(mh0 AS VARCHAR), CAST(mh1 AS VARCHAR))) AS band_key FROM m
      UNION ALL
      SELECT doc_id, 1, md5(concat_ws(',', CAST(mh2 AS VARCHAR), CAST(mh3 AS VARCHAR))) FROM m
      UNION ALL
      SELECT doc_id, 2, md5(concat_ws(',', CAST(mh4 AS VARCHAR), CAST(mh5 AS VARCHAR))) FROM m
      UNION ALL
      SELECT doc_id, 3, md5(concat_ws(',', CAST(mh6 AS VARCHAR), CAST(mh7 AS VARCHAR))) FROM m
    )
"""

# ---------------------------------------------------------------------------
# Deduplication
# ---------------------------------------------------------------------------


@register(
    "dedup_exact",
    f"""
    WITH t AS (SELECT doc_id, {D_TOK} AS tok FROM documents)
    SELECT md5(array_to_string(tok[1:5], ' ')) AS h,
           COUNT(*) AS n, MIN(doc_id) AS keeper
    FROM t GROUP BY 1
    """,
    doc="Exact dedup: hash-groupBy on normalization key (first-5-token prefix).",
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    key = f"concat_ws(' ', slice({text.TOKENS.format(s='text')}, 1, 5))"
    return dedup.exact_groups(docs, key)


@register(
    "minhash_lsh",
    f"""
    WITH {_D_SIG_CTE},
    h AS (SELECT doc_id, list_transform(tok, tk -> {D_H64.format(s="tk")}) AS hs FROM t),
    s AS (SELECT doc_id, CAST(list_sum(list_transform(range(0, 32), i ->
      CASE WHEN list_sum(list_transform(hs, hv -> CASE WHEN (hv >> i) & 1 = 1 THEN 1 ELSE -1 END)) > 0
           THEN (CAST(1 AS BIGINT) << i) ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS simhash FROM h)
    SELECT 'band' AS op, doc_id AS a, CAST(band_id AS BIGINT) AS b, band_key AS key
    FROM bands
    UNION ALL
    SELECT DISTINCT 'pair' AS op, a.doc_id AS a, b.doc_id AS b, '' AS key
    FROM bands a JOIN bands b
      ON a.band_id = b.band_id AND a.band_key = b.band_key AND a.doc_id < b.doc_id
    UNION ALL
    SELECT 'ssig' AS op, doc_id AS a, CAST(-1 AS BIGINT) AS b,
           CAST(simhash AS VARCHAR) AS key
    FROM s
    UNION ALL
    SELECT 'spair' AS op, a.doc_id AS a, b.doc_id AS b,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS VARCHAR) AS key
    FROM s a JOIN s b
      ON (a.simhash >> 26) = (b.simhash >> 26) AND a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= 10
    """,
    doc="Hash-based near-dup families, tag-discriminated in one gate: "
    "[band/pair] MinHash signature -> LSH band table (shingle->minhash->"
    "band) + candidate pairs via band-key equi-join (100TB-safe plan); "
    "[ssig/spair] SimHash fingerprint (32-bit sign-of-weighted-bits) per "
    "document + near-dup pairs (top-6-bit bucket equi-join + hamming "
    "verify) — folded in from the r2-era simhash_near_dups gate (r8, "
    "freeing a 50-cap slot for learned_sketch_ops).",
)
def minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    bands = dedup.minhash_bands(docs)
    band_rows = bands.select(
        F.lit("band").alias("op"),
        F.col("doc_id").alias("a"),
        F.col("band_id").cast("bigint").alias("b"),
        F.col("band_key").alias("key"),
    )
    pair_rows = dedup.lsh_candidate_pairs(bands).select(
        F.lit("pair").alias("op"),
        F.col("doc_a").alias("a"),
        F.col("doc_b").alias("b"),
        F.lit("").alias("key"),
    )
    sig = dedup.simhash(docs).select(
        F.lit("ssig").alias("op"),
        F.col("doc_id").alias("a"),
        F.lit(-1).cast("bigint").alias("b"),
        F.col("simhash").cast("string").alias("key"),
    )
    spairs = dedup.simhash_pairs(docs, bucket_bits=26, max_hamming=10).select(
        F.lit("spair").alias("op"),
        F.col("doc_a").alias("a"),
        F.col("doc_b").alias("b"),
        F.col("hamming").cast("string").alias("key"),
    )
    return (
        band_rows.unionByName(pair_rows).unionByName(sig).unionByName(spairs)
    )


@register(
    "ngram_jaccard_pairs",
    f"""
    WITH t AS (SELECT doc_id, lang, CAST(FLOOR(n_chars / 50) AS BIGINT) AS len_bucket,
                      {D_TOK} AS tok FROM documents),
    g AS (SELECT doc_id, lang, len_bucket, list_distinct({D_SHINGLES}) AS grams FROM t),
    p AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             len(list_filter(a.grams, x -> list_contains(b.grams, x))) AS inter,
             len(a.grams) AS la, len(b.grams) AS lb
      FROM g a JOIN g b
        ON a.lang = b.lang AND a.len_bucket = b.len_bucket AND a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b, ROUND(inter / CAST(la + lb - inter AS DOUBLE), 9) AS jaccard
    FROM p WHERE inter >= 1
    """,
    doc="Blocked pairwise exact n-gram Jaccard (inverted-index join; pairs sharing >=1 gram).",
)
def ngram_jaccard_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.ngram_jaccard_pairs(table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# Similarity search over embeddings
# ---------------------------------------------------------------------------

_D_DOT = (
    "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
    "list_transform(range(1, len({a}) + 1), i -> "
    "CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE))), (acc, x) -> acc + x)"
)

_D_PLANE_DOT = (
    "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
    "list_transform(range(1, len(embedding) + 1), i -> "
    "CAST(embedding[i] AS DOUBLE) * "
    "CASE WHEN ((i * 2654435761 + p * 40503) % 97) % 2 = 0 THEN CAST(1 AS DOUBLE) ELSE CAST(-1 AS DOUBLE) END)), "
    "(acc, x) -> acc + x)"
)

_D_BUCKET = (
    "CAST(list_sum(list_transform(range(0, 4), p -> "
    f"CASE WHEN {_D_PLANE_DOT} > 0 THEN (CAST(1 AS BIGINT) << p) ELSE CAST(0 AS BIGINT) END)) AS BIGINT)"
)


# PQ gate constants: M subspaces over dim-64 embeddings, K codes per
# subspace (deterministic codebooks = first K vectors' subvectors), ADC
# candidate width before the exact rerank.
_PQ_M, _PQ_K, _PQ_RERANK = 4, 16, 25

# DuckDB twin of pipeline.similarity._subvectors' slice: contiguous
# sub-slices of the embedding, 1-based inclusive list_slice bounds.
_D_SUB = (
    "list_slice(embedding, s * (len(embedding) // {m}) + 1, "
    "(s + 1) * (len(embedding) // {m}))"
)


@register(
    "embedding_ann_methods",
    f"""
    WITH n AS (SELECT vec_id, embedding, {_D_DOT.format(a="embedding", b="embedding")} AS nsq
               FROM embeddings),
    bf AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             ROUND({_D_DOT.format(a="q.embedding", b="c.embedding")} / SQRT(q.nsq * c.nsq), 6) AS cosine
      FROM n q JOIN n c ON c.vec_id <> q.vec_id
      WHERE q.vec_id < 10
    ),
    bfr AS (SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS INTEGER) AS rnk FROM bf),
    nb AS (SELECT vec_id, embedding, nsq, {_D_BUCKET} AS bucket FROM n),
    lsh AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             ROUND({_D_DOT.format(a="q.embedding", b="c.embedding")} / SQRT(q.nsq * c.nsq), 6) AS cosine
      FROM nb q JOIN nb c ON q.bucket = c.bucket AND c.vec_id <> q.vec_id
      WHERE q.vec_id < 10
    ),
    lshr AS (SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS INTEGER) AS rnk FROM lsh),
    cent AS (SELECT vec_id AS cell_id, embedding AS c_emb, nsq AS c_nsq FROM n WHERE vec_id < 16),
    d AS (SELECT n.vec_id, n.embedding, n.nsq, cent.cell_id,
                 ROUND(n.nsq - 2 * {_D_DOT.format(a="n.embedding", b="cent.c_emb")} + cent.c_nsq, 6) AS dist
          FROM n CROSS JOIN cent),
    a AS (SELECT vec_id, embedding, nsq, cell_id FROM
            (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cell_id) AS rn FROM d)
          WHERE rn = 1),
    probe AS (SELECT vec_id AS query_id, embedding AS q_emb, nsq AS q_nsq, cell_id FROM
                (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cell_id) AS prn
                 FROM d WHERE vec_id < 10)
              WHERE prn <= 4),
    ivf AS (SELECT probe.query_id, a.vec_id AS neighbor_id,
                 ROUND({_D_DOT.format(a="probe.q_emb", b="a.embedding")} / SQRT(probe.q_nsq * a.nsq), 6) AS cosine
          FROM probe JOIN a ON a.cell_id = probe.cell_id AND a.vec_id <> probe.query_id),
    ivfr AS (SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS INTEGER) AS rnk FROM ivf),
    sv AS (SELECT vec_id, s AS subspace, {_D_SUB.format(m=_PQ_M)} AS sub
           FROM n CROSS JOIN (SELECT UNNEST([{", ".join(str(s) for s in range(_PQ_M))}]) AS s)),
    cb AS (SELECT subspace, CAST(vec_id AS INTEGER) AS code, sub AS c_sub
           FROM sv WHERE vec_id < {_PQ_K}),
    encd AS (SELECT sv.vec_id, sv.subspace, cb.code,
                    ROUND(({_D_DOT.format(a="sv.sub", b="sv.sub")}
                           - 2.0 * {_D_DOT.format(a="sv.sub", b="cb.c_sub")})
                          + {_D_DOT.format(a="cb.c_sub", b="cb.c_sub")}, 6) AS dist
             FROM sv JOIN cb USING (subspace)),
    best AS (SELECT vec_id, subspace, code FROM (
               SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, subspace ORDER BY dist, code) AS rn
               FROM encd) WHERE rn = 1),
    qsv AS (SELECT vec_id AS query_id, subspace, sub FROM sv WHERE vec_id < 10),
    lut AS (SELECT qsv.query_id, qsv.subspace, cb.code,
                   {_D_DOT.format(a="qsv.sub", b="cb.c_sub")} AS part_dot,
                   {_D_DOT.format(a="cb.c_sub", b="cb.c_sub")} AS c_nsq_part
            FROM qsv JOIN cb USING (subspace)),
    adc AS (SELECT l.query_id, b.vec_id AS neighbor_id,
                   ROUND(SUM(l.part_dot), 4) AS approx_dot,
                   SUM(l.c_nsq_part) AS rnsq
            FROM best b JOIN lut l ON l.subspace = b.subspace AND l.code = b.code
            WHERE b.vec_id <> l.query_id
            GROUP BY l.query_id, b.vec_id),
    qn AS (SELECT vec_id AS query_id, embedding AS q_emb, nsq AS q_nsq FROM n WHERE vec_id < 10),
    cand AS (SELECT query_id, neighbor_id FROM (
               SELECT a.query_id, a.neighbor_id,
                      ROW_NUMBER() OVER (PARTITION BY a.query_id ORDER BY
                        ROUND(a.approx_dot / SQRT(q.q_nsq * GREATEST(a.rnsq, 1e-30)), 6) DESC,
                        a.neighbor_id) AS crn
               FROM adc a JOIN qn q USING (query_id))
             WHERE crn <= {_PQ_RERANK}),
    pqr AS (SELECT query_id, neighbor_id, cosine,
                   CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS INTEGER) AS rnk
            FROM (SELECT c.query_id, c.neighbor_id,
                         ROUND({_D_DOT.format(a="q.q_emb", b="m.embedding")} / SQRT(q.q_nsq * m.nsq), 6) AS cosine
                  FROM cand c JOIN qn q USING (query_id) JOIN n m ON m.vec_id = c.neighbor_id)),
    prm AS (
      SELECT j, MIN(CAST(embedding[j] AS DOUBLE)) AS mn,
             MAX(CAST(embedding[j] AS DOUBLE)) - MIN(CAST(embedding[j] AS DOUBLE)) AS span
      FROM embeddings CROSS JOIN (SELECT UNNEST(range(1, 65)) AS j)
      GROUP BY j),
    sprm AS (SELECT LIST(mn ORDER BY j) AS mns, LIST(span ORDER BY j) AS spans FROM prm),
    sqc AS (
      SELECT e.vec_id, p.j,
             CASE WHEN p.span > 0
                  THEN LEAST(255, GREATEST(0, FLOOR((CAST(e.embedding[p.j] AS DOUBLE) - p.mn) / p.span * 255 + 0.5)))
                  ELSE 0 END AS code
      FROM embeddings e CROSS JOIN prm p),
    sqd AS (
      SELECT e.vec_id,
             list_transform(range(1, 65), j ->
               CASE WHEN sp.spans[j] > 0
                    THEN sp.mns[j] + LEAST(255, GREATEST(0, FLOOR((CAST(e.embedding[j] AS DOUBLE) - sp.mns[j]) / sp.spans[j] * 255 + 0.5))) * sp.spans[j] / 255
                    ELSE sp.mns[j] END) AS eh
      FROM embeddings e CROSS JOIN sprm sp),
    sqn AS (SELECT vec_id, eh, {_D_DOT.format(a="eh", b="eh")} AS nsqh FROM sqd),
    sqt AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             ROUND({_D_DOT.format(a="q.embedding", b="c.eh")} / SQRT(q.nsq * c.nsqh), 6) AS cosine
      FROM n q JOIN sqn c ON c.vec_id <> q.vec_id
      WHERE q.vec_id < 10),
    sqtr AS (SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS INTEGER) AS rnk FROM sqt)
    SELECT 'brute' AS method, query_id, neighbor_id, cosine, rnk FROM bfr WHERE rnk <= 5
    UNION ALL
    SELECT 'lsh' AS method, query_id, neighbor_id, cosine, rnk FROM lshr WHERE rnk <= 5
    UNION ALL
    SELECT 'ivf' AS method, query_id, neighbor_id, cosine, rnk FROM ivfr WHERE rnk <= 5
    UNION ALL
    SELECT 'pqc' AS method, vec_id AS query_id, CAST(subspace AS BIGINT) AS neighbor_id,
           CAST(code AS DOUBLE) AS cosine, CAST(subspace + 1 AS INTEGER) AS rnk
    FROM best
    UNION ALL
    SELECT 'pq' AS method, query_id, neighbor_id, cosine, rnk FROM pqr WHERE rnk <= 5
    UNION ALL
    SELECT 'sqc' AS method, vec_id AS query_id, CAST(j AS BIGINT) AS neighbor_id,
           CAST(code AS DOUBLE) AS cosine, CAST(j AS INTEGER) AS rnk
    FROM sqc
    UNION ALL
    SELECT 'sq8' AS method, query_id, neighbor_id, cosine, rnk FROM sqtr WHERE rnk <= 5
    """,
    doc="ANN over the embedding column, five methods tag-discriminated in one "
    "gate: brute-force cosine top-k (exact baseline), hyperplane-sign LSH "
    "bucket equi-join (scale path), IVF nearest-centroid inverted lists "
    "with nprobe=4 of 16 cells (centroids = deterministic dataset pick; "
    "KMeans-pluggable), [pqc] product-quantization code assignment of EVERY "
    "vector (pipeline/similarity.py pq_codebooks + pq_encode: deterministic "
    "per-subspace codebooks, rounded L2 argmin), and [pq] the two-stage "
    "PQ/ADC search (pq_topk_reranked: LUT of per-subspace partial dots, "
    "approximate-cosine candidate cut with reconstructed norms, exact "
    "cosine rerank of only the candidates) — the r8 VERDICT's last "
    "pytest-only ANN surface, driver-gated via the [rpj]-style exact "
    "arithmetic twin (r9). r11 adds scalar quantization (FAISS SQ8): "
    "[sqc] gates EVERY vector's full 8-bit code array as exact integers "
    "(per-dim min/span from one corpus aggregate, floor(z+0.5) half-up "
    "shared by both engines — no rounding doctrine involved) and [sq8] "
    "the asymmetric-distance top-k of exact queries against the "
    "dequantized corpus (pipeline/similarity.py sq8_params/sq8_encode/"
    "sq8_topk_adc; same broadcast-BLAS execution shape as brute).",
)
def embedding_ann_methods(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    # Every method branch builds on the branch pool: the eager lanes run
    # independent driver-side jobs (IVF's centroid collect, the two PQ
    # checkpoints, SQ8's param aggregate), and the lazy branch
    # CONSTRUCTIONS are each hundreds of py4j round-trips whose latency
    # overlaps across threads. Dependent branches (pqc/pq on the PQ lane,
    # sqc/sq8 on the SQ8 params) block on their shared input inside their
    # own closure, so they start the moment it resolves.

    # PQ: codebooks (M*K rows) and the code table are each built ONCE
    # and checkpointed — the codes feed both the [pqc] rows and the
    # [pq] search (encoded=), the codebooks feed encode + LUT + norms.
    def _pq_lane(_):
        cbs = similarity.pq_codebooks(emb, _PQ_M, _PQ_K).localCheckpoint(
            eager=True
        )
        return cbs, similarity.pq_encode(emb, cbs, _PQ_M).localCheckpoint(
            eager=True
        )

    def _brute(_):
        return similarity.cosine_topk(emb, "vec_id < 10", 5).select(
            F.lit("brute").alias("method"), "query_id", "neighbor_id",
            "cosine", "rnk"
        )

    def _lsh(_):
        return similarity.bucketed_topk(
            emb, "vec_id < 10", 5, n_planes=4
        ).select(
            F.lit("lsh").alias("method"), "query_id", "neighbor_id",
            "cosine", "rnk"
        )

    def _ivf(_):
        return similarity.ivf_topk(
            emb, "vec_id < 10", 5, n_cells=16, nprobe=4
        ).select(
            F.lit("ivf").alias("method"), "query_id", "neighbor_id",
            "cosine", "rnk"
        )

    def _pqc(inp):
        _, codes = inp["pq_lane"]
        return codes.select(
            F.col("vec_id").alias("query_id"),
            F.posexplode("codes").alias("subspace", "code"),
        ).select(
            F.lit("pqc").alias("method"),
            "query_id",
            F.col("subspace").cast("long").alias("neighbor_id"),
            F.col("code").cast("double").alias("cosine"),
            (F.col("subspace") + 1).cast("int").alias("rnk"),
        )

    def _pqs(inp):
        cbs, codes = inp["pq_lane"]
        return similarity.pq_topk_reranked(
            emb, cbs, _PQ_M, "vec_id < 10", k=5, rerank=_PQ_RERANK,
            encoded=codes,
        ).select(
            F.lit("pq").alias("method"), "query_id", "neighbor_id",
            "cosine", "rnk"
        )

    # SQ8 (r11): scalar quantization — [sqc] gates every vector's
    # full 8-bit code array (exact integers, no rounding doctrine
    # needed) and [sq8] the asymmetric-distance top-k against the
    # dequantized corpus. ONE params derivation feeds encode and
    # search.
    def _sqc(inp):
        return (
            similarity.sq8_encode(emb, inp["sq8_params"])
            .select(
                F.col("vec_id").alias("query_id"),
                F.posexplode("codes").alias("j", "code"),
            )
            .select(
                F.lit("sqc").alias("method"),
                "query_id",
                (F.col("j") + 1).cast("long").alias("neighbor_id"),
                F.col("code").cast("double").alias("cosine"),
                (F.col("j") + 1).cast("int").alias("rnk"),
            )
        )

    def _sq8(inp):
        return similarity.sq8_topk_adc(
            emb, "vec_id < 10", 5, params=inp["sq8_params"]
        ).select(
            F.lit("sq8").alias("method"), "query_id", "neighbor_id",
            "cosine", "rnk"
        )

    parts = run_branches(
        spark,
        "embedding_ann_methods",
        {"brute": _brute, "lsh": _lsh, "ivf": _ivf, "pqc": _pqc, "pq": _pqs,
         "sqc": _sqc, "sq8": _sq8},
        shared={
            "pq_lane": _pq_lane,
            "sq8_params": lambda _: similarity.sq8_params(emb),
        },
    )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------


def _d_hits(lang: str) -> str:
    arr = ", ".join(f"'{w}'" for w in text.STOPWORDS[lang])
    return f"CAST(len(list_filter(tok, x -> list_contains([{arr}], x))) AS INTEGER)"


@register(
    "text_metrics",
    f"""
    WITH t0 AS (SELECT doc_id, lang, text, {D_TOK} AS tok,
                      list_transform(string_split(text, ''), ch -> ascii(ch)) AS codes,
                      list_transform(string_split(substr(text, 1, 64), ''), ch -> ascii(ch)) AS codes64
               FROM documents),
    t AS (SELECT *, CASE WHEN len(tok) >= 2
                         THEN list_transform(range(1, len(tok)), i -> tok[i] || ' ' || tok[i + 1])
                         ELSE [] END AS big
          FROM t0)
    SELECT doc_id, lang,
           {_d_hits("en")} AS en_hits,
           {_d_hits("es")} AS es_hits,
           {_d_hits("de")} AS de_hits,
           CASE WHEN {_d_hits("en")} = 0 AND {_d_hits("es")} = 0 AND {_d_hits("de")} = 0 THEN 'und'
                WHEN {_d_hits("en")} >= {_d_hits("es")} AND {_d_hits("en")} >= {_d_hits("de")} THEN 'en'
                WHEN {_d_hits("es")} >= {_d_hits("de")} THEN 'es' ELSE 'de' END AS predicted,
           CAST(length(text) AS INTEGER) AS n_chars_obs,
           CAST(len(tok) AS INTEGER) AS n_tokens,
           ROUND((length(text) - length(replace(text, ' ', ''))) / CAST(greatest(len(tok), 1) AS DOUBLE), 6) AS space_ratio,
           ROUND(length(replace(text, ' ', '')) / CAST(greatest(len(tok), 1) AS DOUBLE), 6) AS avg_token_len,
           ROUND({_d_hits("en")} / CAST(greatest(len(tok), 1) AS DOUBLE), 6) AS stopword_ratio,
           ROUND(0.5 * least(CAST(len(tok) AS DOUBLE) / 100, CAST(1 AS DOUBLE)) + 0.5 * ({_d_hits("en")} / CAST(greatest(len(tok), 1) AS DOUBLE)), 6) AS quality_score,
           CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS INTEGER) AS n_bpe_tokens,
           list_reduce(list_prepend(CAST(0 AS BIGINT), codes), (acc, c) -> (acc * 31 + c) % 1000000007) AS fp_full,
           list_reduce(list_prepend(CAST(0 AS BIGINT), codes64), (acc, c) -> (acc * 31 + c) % 1000000007) AS fp_prefix64,
           CAST(len(list_distinct(tok)) AS INTEGER) AS n_distinct_tokens,
           ROUND((len(tok) - len(list_distinct(tok))) / CAST(greatest(len(tok), 1) AS DOUBLE), 6) AS dup_token_ratio,
           ROUND(COALESCE(list_max(list_transform(list_distinct(tok), g -> len(list_filter(tok, x -> x = g)))), 0) / CAST(greatest(len(tok), 1) AS DOUBLE), 6) AS top_token_share,
           ROUND((len(big) - len(list_distinct(big))) / CAST(greatest(len(big), 1) AS DOUBLE), 6) AS dup_bigram_ratio,
           ROUND(COALESCE(list_max(list_transform(list_distinct(big), g -> len(list_filter(big, x -> x = g)))), 0) / CAST(greatest(len(big), 1) AS DOUBLE), 6) AS top_bigram_share,
           ROUND(length(regexp_replace(text, '[a-z0-9 ]', '', 'g')) / CAST(greatest(length(text), 1) AS DOUBLE), 6) AS symbol_char_ratio
    FROM t
    """,
    doc="One wide per-document pass: language-ID stopword voting, quality "
    "scoring (length/space/stopword ratios + combined score), token counting "
    "(whitespace + BPE-ish pre-tokenizer regex), polynomial rolling-hash "
    "fingerprints (full + 64-char prefix), and Gopher/C4-style repetition "
    "signals (dup-token/bigram ratios, top token/bigram share, symbol ratio; "
    "max-multiplicity via sort+run-length aggregate, O(n log n) per doc) — "
    "previously four separate gates.",
)
def text_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.all_metrics(table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# Multimodal metadata (pure-SQL part; decode kernels live in pipeline.multimodal)
# ---------------------------------------------------------------------------


@register(
    "multimodal_binary_meta",
    """
    SELECT 'bin' AS gate, doc_id, 0.0 AS v1,
           CAST(octet_length(encode(text)) AS BIGINT) AS v2,
           md5(text) AS s
    FROM documents
    UNION ALL
    SELECT 'mp3', doc_id,
           CASE WHEN doc_id % 3 = 1
                THEN ROUND((3 + doc_id % 5) * 576.0 / 22050, 6)
                ELSE ROUND((3 + doc_id % 5) * 1152.0 / 44100, 6) END,
           3 + doc_id % 5,
           concat_ws('/',
             CASE WHEN doc_id % 3 = 1 THEN '2' ELSE '1' END, '3',
             CASE WHEN doc_id % 3 = 1 THEN '64' ELSE '128' END,
             CASE WHEN doc_id % 3 = 1 THEN '22050' ELSE '44100' END,
             CASE WHEN doc_id % 3 = 1 THEN '1' ELSE '2' END,
             CASE WHEN doc_id % 3 = 1 THEN 'mono' ELSE 'joint' END,
             CASE WHEN doc_id % 3 = 2 THEN 'true' ELSE 'false' END,
             CASE WHEN doc_id % 14 = 0 THEN 'T' || doc_id
                  WHEN doc_id % 21 = 0 THEN 'V' || doc_id ELSE '' END,
             CASE WHEN doc_id % 21 = 0 THEN 'A' || doc_id ELSE '' END)
    FROM documents WHERE doc_id % 7 = 0
    """,
    doc="Opaque-binary metadata family. [bin] byte length + content hash "
    "over the whole table (decode stubbed). [mp3] the MP3 metadata census "
    "(pipeline/mp3meta.py) run over SYNTHETIC payloads constructed "
    "deterministically from doc_id — the [pii]/[wrc] constructed-expected "
    "pattern: every 7th doc gets 3 + id%5 frames of one of three stream "
    "flavors (MPEG-1 L3 128k stereo / MPEG-2 L3 64k mono / VBR 128+160 "
    "mix), an ID3v2.2 3-char-frame tag on multiples of 14 and an ID3v1 "
    "trailer on multiples of 21; the REAL frame walk + tag parsers produce "
    "duration (v1), walked frame count (v2) and a version/layer/bitrate/"
    "rate/channels/mode/vbr/title/album descriptor (s), while the oracle "
    "computes the same census in closed form from the construction "
    "arithmetic. DuckDB never parses MP3; the PARSER is what's under test.",
)
def multimodal_binary_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    import struct as _struct

    import pandas as pd

    from enterprise_warp_spark.pipeline.mp3meta import mp3_meta
    from enterprise_warp_spark.pipeline.multimodal import binary_meta

    docs = table(spark, sf_dir, "documents")
    bin_rows = binary_meta(docs).select(
        F.lit("bin").alias("gate"),
        "doc_id",
        F.lit(0.0).alias("v1"),
        F.col("n_bytes").cast("long").alias("v2"),
        F.col("payload_md5").alias("s"),
    )

    # deterministic synthetic MP3 fixtures (independent arithmetic: frame
    # lengths 144*bitrate/rate from the published tables — 417/522/208)
    f128 = bytes([0xFF, 0xFB, 0x90, 0x40]) + b"\xAA" * (417 - 4)
    f160 = bytes([0xFF, 0xFB, 0xA0, 0x40]) + b"\xCC" * (522 - 4)
    f64m = bytes([0xFF, 0xF3, 0x80, 0xC0]) + b"\xBB" * (208 - 4)

    def _id3v22(title: str) -> bytes:
        payload = b"\x00" + title.encode()
        body = b"TT2" + len(payload).to_bytes(3, "big") + payload
        sz = len(body)
        ss = bytes([(sz >> 21) & 0x7F, (sz >> 14) & 0x7F,
                    (sz >> 7) & 0x7F, sz & 0x7F])
        return b"ID3\x02\x00\x00" + ss + body

    def _id3v1(title: str, album: str) -> bytes:
        return (b"TAG" + title.encode().ljust(30, b"\x00")
                + b"\x00" * 30 + album.encode().ljust(30, b"\x00")
                + b"\x00" * 35)

    def build(batches):
        for pdf in batches:
            payloads = []
            for d in pdf["doc_id"]:
                d = int(d)
                nf = 3 + d % 5
                flavor = d % 3
                if flavor == 1:
                    body = f64m * nf
                elif flavor == 2:
                    body = f128 * (nf - 1) + f160
                else:
                    body = f128 * nf
                head = _id3v22(f"T{d}") if d % 14 == 0 else b""
                tail = _id3v1(f"V{d}", f"A{d}") if d % 21 == 0 else b""
                payloads.append(head + body + tail)
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "payload": payloads}
            )

    media = docs.filter(F.col("doc_id") % 7 == 0).select("doc_id").mapInPandas(
        build, "doc_id long, payload binary"
    )
    meta = mp3_meta(media)
    mp3 = meta.select(
        F.lit("mp3").alias("gate"),
        "doc_id",
        F.col("duration_s").alias("v1"),
        F.col("n_frames").cast("long").alias("v2"),
        F.concat_ws(
            "/",
            "version",
            F.col("layer").cast("string"),
            F.col("bitrate_kbps").cast("string"),
            F.col("sample_rate").cast("string"),
            F.col("channels").cast("string"),
            "mode",
            F.col("vbr").cast("string"),
            F.coalesce("title", F.lit("")),
            F.coalesce("album", F.lit("")),
        ).alias("s"),
    )
    return bin_rows.unionByName(mp3)


_D_BUCKET2 = (
    "CAST(list_sum(list_transform(range(0, 2), p -> "
    f"CASE WHEN {_D_PLANE_DOT} > 0 THEN (CAST(1 AS BIGINT) << p) ELSE CAST(0 AS BIGINT) END)) AS BIGINT)"
)


@register(
    "dedup_embedding_cosine",
    f"""
    WITH n AS (SELECT vec_id, embedding,
                      {_D_DOT.format(a="embedding", b="embedding")} AS nsq,
                      {_D_BUCKET2} AS bucket
               FROM embeddings)
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           ROUND({_D_DOT.format(a="a.embedding", b="b.embedding")} / SQRT(a.nsq * b.nsq), 6) AS cosine
    FROM n a JOIN n b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
    WHERE ROUND({_D_DOT.format(a="a.embedding", b="b.embedding")} / SQRT(a.nsq * b.nsq), 6) >= 0.35
    """,
    doc="Embedding-cosine near-dup pairs: hyperplane-bucket candidates + cosine threshold.",
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.cosine_near_dup_pairs(
        table(spark, sf_dir, "embeddings"), threshold=0.35, n_planes=2
    )


def _sfx_branch(spark: SparkSession, docs: DataFrame) -> DataFrame:
    """[sfx] suffix-array exact duplicate spans (pipeline/suffix.py) on a
    deterministic FIXED sub-corpus with PLANTED cross-document spans:
    every 29th document below id 490 (the same 17 docs at every driver
    sf — the [wrc] bounded-fixture doctrine; the suffix array's SCALE
    curve is pinned by the PERF.md probes, the gate pins correctness),
    each truncated to its first 32 tokens (caps the doubling depth),
    plus derived docs carrying its 15-token slice [4, 18] (one per
    source; a second copy for every 58th source, so spans occur at 3+
    positions and exercise the run-clustered maximal-span sweep).
    The suffix array itself is iterative and non-SQL; its OUTPUT — per
    position, the maximal >=5-token span shared with another document —
    is brute-forceable in SQL at gate scale (every (position, length)
    gram, grouped by hash, kept where >= 2 distinct docs hold it)."""
    from enterprise_warp_spark.pipeline.suffix import exact_duplicate_spans

    sub = (
        docs.filter((F.col("doc_id") % 29 == 0) & (F.col("doc_id") < 490))
        .select("doc_id", F.slice(F.expr(
            "filter(split(text, ' '), x -> x != '')"
        ), 1, 32).alias("toks"))
    )
    der1 = sub.filter(F.size("toks") >= 18).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.slice("toks", 4, 15).alias("toks"),
    )
    der2 = sub.filter(
        (F.size("toks") >= 18) & (F.col("doc_id") % 58 == 0)
    ).select(
        (F.col("doc_id") + 2000000).alias("doc_id"),
        F.slice("toks", 4, 15).alias("toks"),
    )
    corp = (
        sub.unionByName(der1)
        .unionByName(der2)
        .select("doc_id", F.concat_ws(" ", "toks").alias("text"))
    )
    return exact_duplicate_spans(corp, min_tokens=5, n_parts=8).select(
        F.lit("sfx").alias("gate"),
        "doc_id",
        F.col("start_tok").cast("long").alias("span_start"),
        (F.col("start_tok") + F.col("n_tokens") - 1).cast("long").alias(
            "span_end"
        ),
        F.col("n_tokens").cast("long").alias("n_grams"),
        F.lit("").alias("h"),
    )



@register(
    "repeated_ngram_spans",
    f"""
    WITH t AS (
      SELECT doc_id, list_filter(string_split(text, ' '), x -> x != '') AS tok
      FROM documents
    ),
    px AS (
      SELECT doc_id, tok, UNNEST(range(1, len(tok) - 6 + 2)) AS pos
      FROM t WHERE len(tok) >= 6
    ),
    p AS (
      SELECT doc_id, CAST(pos AS BIGINT) AS pos,
             {D_H64.format(s="array_to_string(list_slice(tok, CAST(pos AS INTEGER), CAST(pos AS INTEGER) + 5), ' ')")} AS gh
      FROM px
    ),
    d AS (SELECT gh FROM p GROUP BY gh HAVING COUNT(*) >= 2),
    f AS (SELECT p.doc_id, p.pos FROM p JOIN d USING (gh)),
    n AS (
      SELECT doc_id, pos,
             pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS isl
      FROM f
    ),
    ev AS (
      SELECT list_slice(tok, 5, 14) AS tok FROM t
      WHERE doc_id % 41 = 0 AND len(tok) >= 14
    ),
    evp AS (
      SELECT tok, UNNEST(range(1, len(tok) - 6 + 2)) AS pos FROM ev
    ),
    evg AS (
      SELECT DISTINCT {D_H64.format(s="array_to_string(list_slice(tok, CAST(pos AS INTEGER), CAST(pos AS INTEGER) + 5), ' ')")} AS gh
      FROM evp
    ),
    cf AS (SELECT p.doc_id, p.pos FROM p JOIN evg USING (gh)),
    cn AS (
      SELECT doc_id, pos,
             pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS isl
      FROM cf
    ),
    cspans AS (
      SELECT doc_id, MIN(pos) AS span_start, MAX(pos) + 5 AS span_end,
             COUNT(*) AS n_grams
      FROM cn GROUP BY doc_id, isl
    ),
    cov AS (
      SELECT DISTINCT doc_id, UNNEST(generate_series(span_start, span_end)) AS pos
      FROM cspans
    ),
    tokpos AS (
      SELECT doc_id, CAST(pos AS BIGINT) AS pos, tok[CAST(pos AS INTEGER)] AS tk
      FROM (SELECT doc_id, tok, UNNEST(range(1, len(tok) + 1)) AS pos FROM t)
    ),
    cleaned AS (
      SELECT tr.doc_id,
             COALESCE(string_agg(tk, ' ' ORDER BY tr.pos)
                        FILTER (cov.pos IS NULL), '') AS cleaned_text,
             COUNT(*) FILTER (cov.pos IS NOT NULL) AS n_removed
      FROM tokpos tr
      LEFT JOIN cov ON tr.doc_id = cov.doc_id AND tr.pos = cov.pos
      GROUP BY tr.doc_id
    ),
    mx AS (SELECT doc_id, MAX(pos) AS m FROM p GROUP BY doc_id),
    ww AS (
      SELECT p.doc_id, p.pos, p.gh,
             UNNEST(generate_series(GREATEST(1, p.pos - 3),
                                    LEAST(p.pos, GREATEST(1, mx.m - 3)))) AS win
      FROM p JOIN mx USING (doc_id)
    ),
    wsel AS (
      SELECT doc_id, win, pos, gh,
             ROW_NUMBER() OVER (PARTITION BY doc_id, win
                                ORDER BY gh ASC, pos DESC) AS rn
      FROM ww
    ),
    wfp AS (SELECT DISTINCT doc_id, pos, gh FROM wsel WHERE rn = 1),
    wd AS (SELECT DISTINCT doc_id, gh FROM wfp),
    wrare AS (SELECT gh FROM wd GROUP BY gh HAVING COUNT(*) <= 50),
    wk AS (SELECT wd.doc_id, wd.gh FROM wd JOIN wrare USING (gh)),
    wpair AS (
      SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS shared
      FROM wk a JOIN wk b ON a.gh = b.gh AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
      HAVING COUNT(*) >= 2
    ),
    sxs AS (
      SELECT doc_id,
             list_slice(list_filter(string_split(text, ' '), x -> x != ''),
                        1, 32) AS tok
      FROM documents WHERE doc_id % 29 = 0 AND doc_id < 490
    ),
    sxc AS (
      SELECT doc_id, tok FROM sxs
      UNION ALL
      SELECT doc_id + 1000000, list_slice(tok, 4, 18) FROM sxs
      WHERE len(tok) >= 18
      UNION ALL
      SELECT doc_id + 2000000, list_slice(tok, 4, 18) FROM sxs
      WHERE len(tok) >= 18 AND doc_id % 58 = 0
    ),
    sxg AS (
      SELECT doc_id, CAST(i AS BIGINT) AS i, CAST(L AS BIGINT) AS L,
             md5(array_to_string(list_slice(tok, CAST(i AS INTEGER),
                 CAST(i AS INTEGER) + CAST(L AS INTEGER) - 1), ' ')) AS gh
      FROM (
        SELECT doc_id, tok, i, UNNEST(range(5, len(tok) - CAST(i AS INTEGER) + 2)) AS L
        FROM (SELECT doc_id, tok, UNNEST(range(1, len(tok) + 1)) AS i FROM sxc)
      )
    ),
    sxq AS (
      SELECT gh, L FROM sxg GROUP BY gh, L
      HAVING COUNT(DISTINCT doc_id) >= 2
    ),
    sxm AS (
      SELECT g.doc_id, g.i, MAX(g.L) AS n
      FROM sxg g JOIN sxq USING (gh, L) GROUP BY g.doc_id, g.i
    )
    SELECT 'rep' AS gate, doc_id, MIN(pos) AS span_start,
           MAX(pos) + 5 AS span_end, COUNT(*) AS n_grams, '' AS h
    FROM n GROUP BY doc_id, isl
    UNION ALL
    SELECT 'dcn', doc_id, span_start, span_end, n_grams, '' FROM cspans
    UNION ALL
    SELECT 'str', doc_id, n_removed, 0, 0, substr(md5(cleaned_text), 1, 16)
    FROM cleaned
    UNION ALL
    SELECT 'wfp', doc_id, COUNT(*), 0, 0,
           substr(md5(string_agg(CAST(gh AS VARCHAR), ',' ORDER BY gh)), 1, 16)
    FROM wfp GROUP BY doc_id
    UNION ALL
    SELECT 'wov', da, db, 0, shared, '' FROM wpair
    UNION ALL
    SELECT 'sfx', doc_id, i - 1, i - 2 + n, n, '' FROM sxm
    """,
    doc="Span-level gate family over the ExactSubstr machinery "
    "(pipeline/dedup.py): [rep] token positions whose 6-gram occurs >= 2 "
    "times CORPUS-WIDE, merged gaps-and-islands into maximal per-document "
    "spans (linear explode -> portable md5-64 gram hash -> hash aggregate "
    "-> left-semi join back -> one per-doc window); [dcn] span-level "
    "benchmark decontamination (pipeline/decontaminate.py "
    "contaminated_spans) against a deterministic eval set — token slices "
    "[5,14] of every 41st document — via broadcast eval-gram semi-join; "
    "[str] strip_contaminated_spans: one row per document with the "
    "surviving tokens re-joined (md5-16 fingerprint) and the removed-token "
    "count. Columns overloaded per branch: for [str] span_start carries "
    "n_removed_tokens and h the cleaned-text fingerprint. [wfp] winnowing "
    "document fingerprints (Schleimer-Wilkerson-Aiken 2003, w=4 over the "
    "same k=6 gram hashes — rightmost-min window selection via a min_by "
    "hash aggregate, no sort window): span_start carries the fingerprint "
    "count and h an md5-16 over the sorted fingerprint hashes. [wov] "
    "MOSS-style overlap pairs (fingerprint-hash equi-join, a<b, df<=50 "
    "common-hash cap): doc_id/span_start carry the pair, n_grams the "
    "shared-fingerprint count.",
)
def repeated_ngram_spans_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from enterprise_warp_spark.pipeline.decontaminate import (
        contaminated_spans,
        strip_contaminated_spans,
    )
    from enterprise_warp_spark.pipeline.dedup import (
        _gram_position_hashes,
        repeated_ngram_spans,
        winnow_fingerprints,
        winnow_overlap_pairs,
    )

    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    # Every branch builds on the branch pool: the [sfx] suffix-array
    # machinery is a chain of blocking driver jobs (per-round two-pass
    # ranks), the grams and fingerprint checkpoints are eager corpus
    # jobs, and the gram-branch CONSTRUCTIONS are each hundreds of py4j
    # round-trips whose latency overlaps across threads. Dependent
    # branches block on their shared input inside their own closure
    # (rep/dcn/str on the grams checkpoint, wfp/wov on the fingerprint
    # checkpoint), so each starts the moment its input resolves.
    toks = F.expr("filter(split(text, ' '), x -> x != '')")
    evals = (
        docs.filter(F.col("doc_id") % 41 == 0)
        .select("doc_id", toks.alias("toks"))
        .filter(F.size("toks") >= 14)
        .select(
            F.col("doc_id").alias("eval_id"),
            F.expr("concat_ws(' ', slice(toks, 5, 10))").alias("text"),
        )
    )

    def _rep(inp):
        return repeated_ngram_spans(
            docs, k=6, min_count=2, grams=inp["grams"]
        ).select(
            F.lit("rep").alias("gate"),
            "doc_id",
            "span_start",
            "span_end",
            "n_grams",
            F.lit("").alias("h"),
        )

    def _dcn(inp):
        return contaminated_spans(
            docs, evals, n=6, grams=inp["grams"]
        ).select(
            F.lit("dcn").alias("gate"),
            "doc_id",
            "span_start",
            "span_end",
            "n_grams",
            F.lit("").alias("h"),
        )

    def _str(inp):
        return strip_contaminated_spans(
            docs, evals, n=6, grams=inp["grams"]
        ).select(
            F.lit("str").alias("gate"),
            "doc_id",
            F.col("n_removed_tokens").cast("long").alias("span_start"),
            F.lit(0).cast("long").alias("span_end"),
            F.lit(0).cast("long").alias("n_grams"),
            F.substring(F.md5("cleaned_text"), 1, 16).alias("h"),
        )

    def _wfp(inp):
        return (
            inp["fp"]
            .groupBy("doc_id")
            .agg(
                F.count(F.lit(1)).alias("n_fp"),
                F.substring(
                    F.md5(
                        F.concat_ws(
                            ",",
                            F.transform(
                                F.array_sort(F.collect_list("gh")),
                                lambda x: x.cast("string"),
                            ),
                        )
                    ),
                    1,
                    16,
                ).alias("hh"),
            )
            .select(
                F.lit("wfp").alias("gate"),
                "doc_id",
                F.col("n_fp").cast("long").alias("span_start"),
                F.lit(0).cast("long").alias("span_end"),
                F.lit(0).cast("long").alias("n_grams"),
                F.col("hh").alias("h"),
            )
        )

    def _wov(inp):
        return winnow_overlap_pairs(
            inp["fp"], min_shared=2, max_df=50
        ).select(
            F.lit("wov").alias("gate"),
            F.col("doc_a").alias("doc_id"),
            F.col("doc_b").cast("long").alias("span_start"),
            F.lit(0).cast("long").alias("span_end"),
            F.col("shared_fp").cast("long").alias("n_grams"),
            F.lit("").alias("h"),
        )

    parts = run_branches(
        spark,
        "repeated_ngram_spans_q",
        {"rep": _rep, "dcn": _dcn, "str": _str, "wfp": _wfp, "wov": _wov,
         "sfx": lambda _: _sfx_branch(spark, docs)},
        shared={
            # ONE corpus gram explode+hash pass shared by rep / dcn / str
            # (each consumes the same (doc_id, pos, gh) table)
            "grams": lambda _: _gram_position_hashes(
                docs, "text", 6
            ).localCheckpoint(eager=True),
            # shared slim: both winnowing branches consume the same
            # selection (95k rows at sf0.1 — cheap to materialize, saves a
            # full re-derive)
            "fp": lambda inp: winnow_fingerprints(
                docs, k=6, w=4, grams=inp["grams"]
            ).localCheckpoint(eager=True),
        },
    )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


# mixture_resample_by_lang was folded into queries_curation.temporal_
# curation_ops as the [mix] branch (r8 fold, freeing a 50-cap slot for
# search_rank_ops — the nation_set_ops -> grouping_sets_orders pattern);
# the operators live on in operators/sampling.py (mixture_rates /
# mixture_resample) and keep their pytest coverage in test_sampling.py.
