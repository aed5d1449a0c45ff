"""BM25 / TF-IDF search: DuckDB-twin scoring parity, phrase matching, one
query-tokenization contract, and per-group cap correctness."""

import pytest


def _corpus(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "a quick quick brown cat sleeps"),
        (3, "the dog barks at the mail carrier every day without fail"),
        (4, "brown bread and brown butter on a plate"),
        (5, "completely unrelated text about pulsar timing arrays"),
        (6, "fox news is not about a fox"),
        (7, ""),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_bm25_matches_duckdb_twin(spark):
    """Spark BM25 scores == an independent DuckDB implementation of the
    same public Okapi formula over the same corpus (rel 1e-12)."""
    import duckdb

    from enterprise_warp_spark.pipeline.search import build_index, bm25_topk

    docs = _corpus(spark)
    idx = build_index(docs)
    query = "quick brown fox"
    got = {
        r["doc_id"]: (r["score"], r["n_terms_matched"])
        for r in bm25_topk(idx, query, k=10).collect()
    }

    con = duckdb.connect()
    con.register("docs", docs.toPandas())
    twin = con.sql(
        """
        WITH toks AS (
          SELECT doc_id, t AS term
          FROM docs, unnest(string_split(text, ' ')) AS u(t)
          WHERE t <> ''
        ),
        post AS (
          SELECT term, doc_id, count(*)::DOUBLE AS tf
          FROM toks GROUP BY term, doc_id
        ),
        dl AS (SELECT doc_id, count(*)::DOUBLE AS dl FROM toks GROUP BY doc_id),
        stats AS (
          SELECT (SELECT count(*) FROM docs)::DOUBLE AS n,
                 (SELECT avg(coalesce(dl, 0)) FROM docs LEFT JOIN dl USING (doc_id)) AS avgdl
        ),
        q AS (SELECT unnest(['quick','brown','fox']) AS term),
        m AS (SELECT p.* FROM post p JOIN q USING (term)),
        dfs AS (SELECT term, count(DISTINCT doc_id)::DOUBLE AS df FROM m GROUP BY term)
        SELECT m.doc_id,
               sum( ln(1 + (stats.n - dfs.df + 0.5) / (dfs.df + 0.5))
                    * (m.tf * (1.2 + 1)) / (m.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / stats.avgdl)) ) AS score,
               count(*) AS n_terms_matched
        FROM m
        JOIN dfs USING (term) JOIN dl USING (doc_id) CROSS JOIN stats
        GROUP BY m.doc_id
        """
    ).fetchall()
    want = {int(d): (s, n) for d, s, n in twin}
    assert set(got) == set(want)
    for d in want:
        assert got[d][1] == want[d][1]
        assert got[d][0] == pytest.approx(want[d][0], rel=1e-12)
    # ranking sanity: doc 1 and 2 both match 'quick brown'; 5 matches nothing
    assert 5 not in got and 7 not in got


def test_bm25_idf_penalizes_common_terms(spark):
    """'the' (common) must contribute less than 'fox' (rare): a doc matching
    only rare terms outranks one matching only common terms."""
    from enterprise_warp_spark.pipeline.search import build_index, bm25_topk

    idx = build_index(_corpus(spark))
    top = bm25_topk(idx, "fox", k=3).collect()
    assert {r["doc_id"] for r in top} == {1, 6}
    # tf=2 for 'fox' in doc 6 vs tf=1 in doc 1, doc 6 also shorter
    assert top[0]["doc_id"] == 6


def test_tfidf_topk_runs_and_ranks(spark):
    from enterprise_warp_spark.pipeline.search import build_index, tfidf_topk

    idx = build_index(_corpus(spark))
    top = tfidf_topk(idx, "brown butter", k=2).collect()
    assert top[0]["doc_id"] == 4  # only doc with both terms


def test_cap_per_group_matches_single_window_reference(spark):
    """Two-phase skew-safe cap == naive global row_number reference, and is
    invariant under repartitioning (determinism)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from enterprise_warp_spark.operators.sampling import _unit_hash, cap_per_group

    n = 500
    df = spark.range(n).select(
        F.col("id").alias("k"),
        (F.pmod(F.col("id"), F.lit(7))).cast("string").alias("grp"),
    )
    # hot group: half the rows land in one group
    df = df.withColumn(
        "grp", F.when(F.col("k") < n / 2, F.lit("hot")).otherwise(F.col("grp"))
    )
    cap = 11
    got = {r["k"] for r in cap_per_group(df, "grp", cap, "k", seed=3).collect()}

    ref_w = Window.partitionBy("grp").orderBy(
        _unit_hash(F.col("k"), 3).asc(), F.col("k").cast("string").asc()
    )
    want = {
        r["k"]
        for r in df.withColumn("r", F.row_number().over(ref_w))
        .filter(F.col("r") <= cap)
        .collect()
    }
    assert got == want

    again = {
        r["k"]
        for r in cap_per_group(df.repartition(13), "grp", cap, "k", seed=3).collect()
    }
    assert again == want

    # every group at or under the cap; hot group exactly at it
    sizes = (
        cap_per_group(df, "grp", cap, "k", seed=3)
        .groupBy("grp")
        .count()
        .collect()
    )
    assert all(r["count"] <= cap for r in sizes)
    assert {r["count"] for r in sizes if r["grp"] == "hot"} == {cap}


def test_cap_per_group_small_groups_untouched(spark):
    from pyspark.sql import functions as F

    from enterprise_warp_spark.operators.sampling import cap_per_group

    df = spark.range(20).select(
        F.col("id").alias("k"), F.pmod("id", F.lit(10)).alias("grp")
    )
    out = cap_per_group(df, "grp", 5, "k")
    assert out.count() == 20  # all groups have 2 rows < cap
    assert set(out.columns) == {"k", "grp"}


def test_mixture_rates_zero_weight_group_may_be_absent(spark):
    """A zero-weight group absent from the data is satisfiable (it needs no
    rows) — no error, rate 0; only positive-weight groups must exist."""
    from pyspark.sql import functions as F

    from enterprise_warp_spark.operators.sampling import mixture_rates

    df = spark.range(100).select(
        F.col("id").alias("k"), F.lit("en").alias("lang")
    )
    rates = mixture_rates(df, "lang", {"en": 1.0, "xx": 0.0})
    assert rates == {"en": 1.0, "xx": 0.0}
    with pytest.raises(ValueError, match="absent"):
        mixture_rates(df, "lang", {"en": 0.5, "xx": 0.5})


def test_phrase_match_exact_and_counts(spark):
    from enterprise_warp_spark.pipeline.search import (
        build_positional_index,
        phrase_match,
    )

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the quick brown dog"),
            (2, "quick brown things and brown quick things"),
            (3, "the fox"),
            (4, "quick quick quick"),
        ],
        "doc_id long, text string",
    )
    idx = build_positional_index(docs)
    got = {
        r["doc_id"]: r["n_occurrences"]
        for r in phrase_match(idx, "quick brown").collect()
    }
    # doc 1 has it twice, doc 2 once (positions 1-2), doc 3/4 never
    assert got == {1: 2, 2: 1}

    # repeated-term phrase
    got2 = {
        r["doc_id"]: r["n_occurrences"]
        for r in phrase_match(idx, "quick quick").collect()
    }
    assert got2 == {4: 2}

    # full-sentence phrase matches only itself
    assert {
        r["doc_id"] for r in phrase_match(idx, "the fox").collect()
    } == {3}
    assert phrase_match(idx, "brown the").count() == 0


def test_phrase_match_matches_python_reference(spark):
    """Random corpus with seeded phrase injections: distributed position
    intersection == a direct substring-over-token-list reference."""
    import random

    from enterprise_warp_spark.pipeline.search import (
        build_positional_index,
        phrase_match,
    )

    rng = random.Random(23)
    vocab = [f"w{i}" for i in range(12)]
    phrase = ["alpha", "beta", "gamma"]
    rows = []
    for did in range(60):
        toks = [rng.choice(vocab) for _ in range(rng.randint(0, 30))]
        for _ in range(rng.randint(0, 2)):
            pos = rng.randint(0, len(toks))
            toks = toks[:pos] + phrase + toks[pos:]
        rows.append((did, " ".join(toks)))

    def ref_count(toks, ph):
        return sum(
            1
            for i in range(len(toks) - len(ph) + 1)
            if toks[i : i + len(ph)] == ph
        )

    want = {
        did: ref_count(txt.split(), phrase)
        for did, txt in rows
        if ref_count(txt.split(), phrase) > 0
    }
    idx = build_positional_index(spark.createDataFrame(rows, "doc_id long, text string"))
    got = {
        r["doc_id"]: r["n_occurrences"]
        for r in phrase_match(idx, " ".join(phrase)).collect()
    }
    assert got == want and len(want) >= 10


def test_query_tokenization_contract_all_three_paths(spark):
    """ONE contract across every query entry point (r6 verdict #7): a query
    containing a hostile token (embedded tab + punctuation — which
    text.TOKENS keeps INSIDE a token because documents split on single
    spaces only) must retrieve the document holding that exact token
    through bm25_topk, tfidf_topk and phrase_match — none of the three may
    re-tokenize differently from the document side."""
    from enterprise_warp_spark.pipeline.search import (
        bm25_topk,
        build_index,
        build_positional_index,
        phrase_match,
        tfidf_topk,
    )

    weird = "foo,bar\tbaz"  # one TOKEN: comma and tab are not separators
    docs = spark.createDataFrame(
        [
            (1, f"alpha {weird} omega"),
            (2, "alpha beta omega"),
            (3, "gamma delta " + "filler " * 20),
        ],
        "doc_id long, text string",
    )
    idx = build_index(docs)
    q = f"{weird} omega"

    hits_bm25 = {r["doc_id"] for r in bm25_topk(idx, q, k=3).collect()}
    assert 1 in hits_bm25
    top_bm25 = bm25_topk(idx, q, k=1).first()["doc_id"]
    assert top_bm25 == 1  # both terms match only doc 1

    hits_tfidf = {r["doc_id"] for r in tfidf_topk(idx, q, k=3).collect()}
    assert 1 in hits_tfidf

    pos = build_positional_index(docs)
    ph = phrase_match(pos, f"alpha {weird}").collect()
    assert {r["doc_id"] for r in ph} == {1}
