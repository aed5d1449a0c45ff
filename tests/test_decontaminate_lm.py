"""Benchmark decontamination + unigram-LM perplexity scoring."""

from __future__ import annotations

import math
from collections import Counter

import pytest
from pyspark.sql import functions as F

from enterprise_warp_spark.pipeline.decontaminate import (
    decontaminate,
    ngram_contamination,
)
from enterprise_warp_spark.pipeline.lm import (
    perplexity,
    train_unigram_lm,
    unseen_logp,
)
from enterprise_warp_spark.tables import table


def test_contamination_detects_injected_eval_text(spark, sf_dir):
    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    base = {r["doc_id"]: r["text"] for r in docs.filter("doc_id < 3").collect()}
    eval_text = "the quick brown fox jumps over the lazy dog every single morning"
    eval_docs = spark.createDataFrame(
        [(1, eval_text), (2, "completely unrelated benchmark question here okay " * 2)],
        "eval_id long, text string",
    )
    # inject the eval sentence into doc 0's text
    contaminated = docs.withColumn(
        "text",
        F.when(F.col("doc_id") == 0, F.concat_ws(" ", "text", F.lit(eval_text))).otherwise(
            F.col("text")
        ),
    )
    hits = ngram_contamination(contaminated, eval_docs, n=8).collect()
    assert {(r["doc_id"], r["eval_id"]) for r in hits} == {(0, 1)}
    # shared-gram count: eval sentence has 12 tokens -> 5 distinct 8-grams
    assert hits[0]["n_shared_grams"] == 5

    clean = decontaminate(contaminated, eval_docs, n=8)
    kept = {r["doc_id"] for r in clean.select("doc_id").collect()}
    assert 0 not in kept and 1 in kept and 2 in kept
    assert clean.count() == docs.count() - 1
    # untouched docs preserved verbatim
    got = {r["doc_id"]: r["text"] for r in clean.filter("doc_id < 3").collect()}
    assert got[1] == base[1] and got[2] == base[2]


def test_contamination_short_docs_no_false_hits(spark):
    docs = spark.createDataFrame(
        [(1, "too short for an eight gram"), (2, "")], "doc_id long, text string"
    )
    evals = spark.createDataFrame([(1, "too short for an eight gram")], "eval_id long, text string")
    # both sides shorter than n -> zero grams -> no hits, no crash
    assert ngram_contamination(docs, evals, n=8).count() == 0


def test_unigram_lm_matches_counter_reference(spark):
    texts = ["a a b c", "a b b d", "c c a a"]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    lm = train_unigram_lm(docs, k=1.0)
    got = {r["token"]: r["logp"] for r in lm.collect()}
    counts = Counter(" ".join(texts).split())
    total, vocab = sum(counts.values()), len(counts)
    for tok, c in counts.items():
        assert got[tok] == pytest.approx(math.log((c + 1) / (total + vocab + 1)))

    unseen = unseen_logp((total, vocab), k=1.0)
    scored = {r["doc_id"]: r for r in perplexity(docs, lm, unseen).collect()}
    for i, t in enumerate(texts):
        toks = t.split()
        nll = -sum(
            math.log((counts[x] + 1) / (total + vocab + 1)) for x in toks
        ) / len(toks)
        assert scored[i]["mean_nll"] == pytest.approx(nll, rel=1e-9)
        assert scored[i]["ppl"] == pytest.approx(math.exp(nll), rel=1e-9)

    # unseen tokens get the smoothing floor, not -inf/null
    oov = spark.createDataFrame([(99, "zzz qqq")], "doc_id long, text string")
    r = perplexity(oov, lm, unseen).collect()[0]
    assert r["mean_nll"] == pytest.approx(-unseen)


def test_lm_ranks_gibberish_above_fluent(spark, sf_dir):
    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    lm = train_unigram_lm(docs)
    vocab_size = lm.count()
    # fluent = a real document's text; gibberish = junk tokens
    probe = spark.createDataFrame(
        [
            (1, docs.filter("doc_id = 5").first()["text"]),
            (2, "xqzv wvvk jjqx zzpr mmnn qqll"),
        ],
        "doc_id long, text string",
    )
    totals_row = docs.select(
        F.expr("sum(size(filter(split(text, ' '), x -> x != '')))").alias("total")
    ).first()
    unseen = unseen_logp((totals_row["total"], vocab_size))
    scored = {r["doc_id"]: r["ppl"] for r in perplexity(probe, lm, unseen).collect()}
    assert scored[2] > scored[1] * 5  # gibberish is much more perplexing


def test_redact_patterns_and_counts(spark):
    from enterprise_warp_spark.pipeline.redact import redact

    docs = spark.createDataFrame(
        [
            (1, "mail me at jane.doe+x@example.co.uk or visit https://a.example.com/p?q=1 now"),
            (2, "server 10.0.255.3 answered, call 5551234567 or 123456 (too short)"),
            (3, "clean text with no sensitive content at all"),
            (4, "www.example.org and bob@site.io and 99999999999"),
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in redact(docs).collect()}
    assert got[1]["n_email"] == 1 and got[1]["n_url"] == 1
    assert got[1]["text_redacted"] == "mail me at <EMAIL> or visit <URL> now"
    assert got[2]["n_ip"] == 1 and got[2]["n_digits"] == 1
    assert got[2]["text_redacted"] == "server <IP> answered, call <NUMBER> or 123456 (too short)"
    assert got[3]["text_redacted"] == got[3]["text"]
    assert all(got[3][c] == 0 for c in ("n_email", "n_url", "n_ip", "n_digits"))
    assert got[4]["text_redacted"] == "<URL> and <EMAIL> and <NUMBER>"
    # original column untouched
    assert got[1]["text"].startswith("mail me at jane.doe")


def test_bigram_lm_matches_counter_reference(spark):
    from enterprise_warp_spark.pipeline.lm import (
        bigram_perplexity,
        train_bigram_lm,
        unseen_context_logp,
    )

    texts = ["a b a b c", "b c a a", "c a b"]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    bigrams, contexts, vocab = train_bigram_lm(docs, k=1.0)

    pair_c, ctx_c = Counter(), Counter()
    for t in texts:
        toks = t.split()
        for a, b in zip(toks, toks[1:]):
            pair_c[(a, b)] += 1
            ctx_c[a] += 1
    all_toks = set(" ".join(texts).split())
    assert vocab == len(all_toks)
    denom_k = vocab + 1

    got_big = {(r["prev"], r["token"]): r["logp"] for r in bigrams.collect()}
    assert set(got_big) == set(pair_c)
    for (a, b), c in pair_c.items():
        assert got_big[(a, b)] == pytest.approx(
            math.log((c + 1) / (ctx_c[a] + denom_k))
        )

    # scoring: mixed seen pairs / seen-context-unseen-pair / unseen context
    probe = spark.createDataFrame(
        [(1, "a b c"), (2, "a zzz"), (3, "qqq www"), (4, "solo")],
        "doc_id long, text string",
    )
    scored = {r["doc_id"]: r for r in bigram_perplexity(probe, bigrams, contexts, vocab).collect()}

    def ref_lp(a, b):
        if (a, b) in pair_c:
            return math.log((pair_c[(a, b)] + 1) / (ctx_c[a] + denom_k))
        if a in ctx_c:
            return math.log(1 / (ctx_c[a] + denom_k))
        return unseen_context_logp(vocab)

    for doc_id, text in [(1, "a b c"), (2, "a zzz"), (3, "qqq www")]:
        toks = text.split()
        lps = [ref_lp(a, b) for a, b in zip(toks, toks[1:])]
        assert scored[doc_id]["n_transitions"] == len(lps)
        assert scored[doc_id]["mean_nll"] == pytest.approx(-sum(lps) / len(lps), rel=1e-9)
    assert 4 not in scored  # single-token doc has no transitions
    # fluent (in-distribution) sequence is less perplexing than unseen junk
    assert scored[1]["ppl"] < scored[3]["ppl"]


def test_strip_contaminated_spans_is_surgical(spark):
    """Span-level decontamination removes EXACTLY the eval-overlapping
    token range and keeps the rest of the document; clean docs survive
    verbatim (modulo the documented single-space rejoin) with
    n_removed_tokens = 0 — checked against a Python reference."""
    from enterprise_warp_spark.pipeline.decontaminate import (
        decontaminate,
        strip_contaminated_spans,
    )

    bench = "the quick brown fox jumps over the lazy dog today"  # 10 tokens
    pre = "this training document starts with some original prose and then quotes"
    post = "before returning to its own original material for several more tokens"
    docs = [
        (1, f"{pre} {bench} {post}"),
        (2, "a completely clean document with no benchmark overlap at all here"),
        (3, bench),  # the benchmark verbatim: everything goes
    ]
    evals = [(100, bench)]
    ddf = spark.createDataFrame(docs, "doc_id long, text string")
    edf = spark.createDataFrame(evals, "eval_id long, text string")

    out = {
        r["doc_id"]: r
        for r in strip_contaminated_spans(ddf, edf, n=8).collect()
    }
    assert set(out) == {1, 2, 3}

    # python reference for doc 1: every 8-gram of the doc that appears in
    # the eval text marks its 8 positions; remove the union
    def ref_strip(text, ev, n=8):
        toks, evt = text.split(), ev.split()
        ev_grams = {tuple(evt[i : i + n]) for i in range(len(evt) - n + 1)}
        cut = set()
        for i in range(len(toks) - n + 1):
            if tuple(toks[i : i + n]) in ev_grams:
                cut.update(range(i, i + n))
        kept = [t for i, t in enumerate(toks) if i not in cut]
        return " ".join(kept), len(cut)

    for did, (text) in [(1, docs[0][1]), (2, docs[1][1]), (3, docs[2][1])]:
        want_text, want_cut = ref_strip(text, bench)
        assert out[did]["cleaned_text"] == want_text, did
        assert out[did]["n_removed_tokens"] == want_cut, did
    assert out[2]["n_removed_tokens"] == 0
    assert out[3]["cleaned_text"] == ""  # fully contaminated

    # the drop-based decontaminate removes docs 1 and 3 entirely — the
    # span strip keeps doc 1's original prose
    kept_ids = {r["doc_id"] for r in decontaminate(ddf, edf, n=8).collect()}
    assert kept_ids == {2}
    assert "original prose" in out[1]["cleaned_text"]
    assert "quick brown" not in out[1]["cleaned_text"]


def test_ccnet_buckets_exact_and_sketch_modes(spark):
    """pipeline/lm.py ccnet_buckets: per-language tiers rank fluent text
    into bucket 1 and gibberish into the top bucket; the sketch mode
    (percentile_approx cutoffs, no sort) agrees with the exact NTILE on
    well-separated scores; empty docs produce no row."""
    from pyspark.sql import functions as F

    from enterprise_warp_spark.pipeline.lm import (
        ccnet_buckets,
        unigram_lm_components,
    )

    fluent = "the cat sat on the mat and the dog sat on the cat"
    rows = []
    for i in range(12):
        rows.append((i, fluent, "en"))                    # matches the LM
    for i in range(12, 24):
        rows.append((i, f"zzq{i} xvw{i} qqj{i} kkp{i}", "en"))  # OOV noise
    rows.append((100, "", "en"))                          # empty: no row
    rows.append((200, fluent, "fr"))                      # own partition
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")

    lm, unseen = unigram_lm_components(docs.filter(F.col("lang") == "en"))
    exact = ccnet_buckets(docs, lm, unseen, n_buckets=3).toPandas()
    assert 100 not in set(exact["doc_id"])
    by_id = exact.set_index("doc_id")
    # every fluent en doc ranks strictly below every noise doc
    assert by_id.loc[range(0, 12), "bucket"].max() < by_id.loc[
        range(12, 24), "bucket"
    ].min()
    assert by_id.loc[200, "bucket"] == 1  # sole fr doc: its own tier 1
    # sketch mode: same buckets here (scores are far apart vs GK error)
    approx = (
        ccnet_buckets(docs, lm, unseen, n_buckets=3, exact=False)
        .toPandas()
        .set_index("doc_id")
    )
    assert (approx["bucket"].reindex(by_id.index) == by_id["bucket"]).all()
    # the sketch path must not sort: no rank Window in the plan (only the
    # percentile_approx AGGREGATE — careful: "percentile" contains "ntile")
    plan = (
        ccnet_buckets(docs, lm, unseen, n_buckets=3, exact=False)
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    assert "percent_rank" not in plan.lower()
    assert "specifiedwindowframe" not in plan.lower()
