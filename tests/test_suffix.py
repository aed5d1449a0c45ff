"""Distributed suffix array / LCP / exact duplicate spans
(pipeline/suffix.py) vs a brute-force sorted-suffix oracle."""

import random

import pytest
from pyspark.sql import functions as F

from enterprise_warp_spark.pipeline.suffix import (
    adjacent_lcp,
    corpus_positions,
    exact_duplicate_spans,
    suffix_array,
)


def _docs(spark, texts):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], ["doc_id", "text"]
    )


def _brute(texts):
    """All suffixes (with per-doc sentinels) in sorted order + adjacent
    LCPs, exactly the module's contract, computed the slow way."""
    seqs = []
    for d, t in enumerate(texts):
        toks = [w for w in t.split(" ") if w] + [f"\x00{d}"]
        base = sum(len(s[2]) for s in seqs)
        seqs.append((d, base, toks))
    sufs = []
    for d, base, toks in seqs:
        for i in range(len(toks)):
            sufs.append((toks[i:], base + i, d, i))
    sufs.sort(key=lambda s: s[0])
    lcps = []
    for x, y in zip(sufs, sufs[1:]):
        n = 0
        for u, v in zip(x[0], y[0]):
            if u != v:
                break
            n += 1
        lcps.append((x[1], y[1], n, x[2], y[2], x[3], y[3]))
    return sufs, lcps


def _brute_spans(texts, min_tokens, cross_doc_only=True, doc_ids=None):
    """{(doc, start): maximal shared length} the O(n^2 L) way — for every
    position, the longest prefix of its suffix occurring at some OTHER
    admissible position (different doc when cross_doc_only)."""
    ids = list(range(len(texts))) if doc_ids is None else doc_ids
    toked = {d: [w for w in texts[i].split(" ") if w]
             for i, d in enumerate(ids)}
    out = {}
    for d, toks in toked.items():
        for i in range(len(toks)):
            best = 0
            for d2, toks2 in toked.items():
                if cross_doc_only and d2 == d:
                    continue
                for j in range(len(toks2)):
                    if (d2, j) == (d, i):
                        continue
                    n = 0
                    while (i + n < len(toks) and j + n < len(toks2)
                           and toks[i + n] == toks2[j + n]):
                        n += 1
                    best = max(best, n)
            if best >= min_tokens:
                out[(d, i)] = best
    return out


TEXTS = [
    "the cat sat on the mat and the cat sat still",
    "a dog and the cat sat on the mat together today",
    "completely different words here entirely",
    "the cat sat on the mat and the cat sat still",  # full duplicate of 0
]


def test_suffix_order_matches_brute_force(spark):
    pos = corpus_positions(_docs(spark, TEXTS))
    sa, _ = suffix_array(pos)
    got = [
        r["pos"]
        for r in sa.orderBy("sa_rank").collect()
    ]
    want = [s[1] for s in _brute(TEXTS)[0]]
    assert got == want


def test_adjacent_lcp_matches_brute_force(spark):
    pos = corpus_positions(_docs(spark, TEXTS))
    sa, levels = suffix_array(pos)
    got = {
        (r["pos_a"], r["pos_b"]): r["lcp"]
        for r in adjacent_lcp(sa, levels).collect()
    }
    want = {(a, b): n for a, b, n, *_ in _brute(TEXTS)[1]}
    assert got == want


def test_adjacent_lcp_min_lcp_pushdown_equals_post_filter(spark):
    """min_lcp filters BEFORE the attribute-attach joins (r14: the walk
    carries only (pos_a, pos_b, lcp)); the pushed-down path must equal
    filtering the full result, rows AND attached attributes."""
    pos = corpus_positions(_docs(spark, TEXTS))
    sa, levels = suffix_array(pos)
    cols = [
        "pos_a", "doc_a", "idx_a", "rank_a",
        "pos_b", "doc_b", "idx_b", "lcp",
    ]
    full = adjacent_lcp(sa, levels)
    assert full.columns == cols  # attach preserves the public schema
    want = sorted(
        tuple(r[c] for c in cols)
        for r in full.collect()
        if r["lcp"] >= 3
    )
    got = sorted(
        tuple(r[c] for c in cols)
        for r in adjacent_lcp(sa, levels, min_lcp=3).collect()
    )
    assert got == want
    assert len(got) > 0  # the fixture must actually exercise the filter


def test_exact_duplicate_spans_match_brute_maxima(spark):
    spans = exact_duplicate_spans(
        _docs(spark, TEXTS), min_tokens=5
    ).collect()
    got = {(r["doc_id"], r["start_tok"]): r["n_tokens"] for r in spans}
    assert len(got) == len(spans)  # one row per position
    assert got == _brute_spans(TEXTS, min_tokens=5)
    # headline facts still visible through the oracle: the identical twin
    # pair (docs 0/3, 11 tokens) and doc 1's shared 6-token phrase
    assert got[(0, 0)] == 11 and got[(3, 0)] == 11
    assert got[(1, 3)] == 6
    assert all(d != 2 for d, _ in got)
    # every reported twin actually achieves the reported length, from a
    # DIFFERENT document
    toks = {d: t.split(" ") for d, t in enumerate(TEXTS)}
    for r in spans:
        assert r["twin_doc"] != r["doc_id"]
        a = toks[r["doc_id"]][r["start_tok"]:r["start_tok"] + r["n_tokens"]]
        b = toks[r["twin_doc"]][r["twin_start"]:r["twin_start"] + r["n_tokens"]]
        assert a == b and len(a) == r["n_tokens"]


def test_exact_duplicate_spans_string_ids(spark):
    """The advertised generic id_col with STRING document ids (the
    r12-advice regression: the offset schema was hardcoded long)."""
    docs = spark.createDataFrame(
        [(f"doc-{i}", t) for i, t in enumerate(TEXTS)], ["doc_id", "text"]
    )
    got = {
        (r["doc_id"], r["start_tok"]): r["n_tokens"]
        for r in exact_duplicate_spans(docs, min_tokens=5).collect()
    }
    want = _brute_spans(
        TEXTS, min_tokens=5, doc_ids=[f"doc-{i}" for i in range(len(TEXTS))]
    )
    assert got == want


def test_three_occurrence_run_reports_every_member(spark):
    """The r12-advice under-removal case: a span twice in doc A and once
    in doc B — adjacent-pair filtering used to drop one A occurrence; the
    run sweep must report all three with their exact maxima."""
    texts = [
        "p q r s t u v w filler p q r s t u v w end",  # A: twice
        "prefix words p q r s t u v w suffix words",   # B: once
    ]
    got = {
        (r["doc_id"], r["start_tok"]): r["n_tokens"]
        for r in exact_duplicate_spans(
            _docs(spark, texts), min_tokens=8
        ).collect()
    }
    assert got == _brute_spans(texts, min_tokens=8)
    # all three occurrence starts present
    assert (0, 0) in got and (0, 9) in got and (1, 2) in got


def test_within_doc_repeats_gated_by_flag(spark):
    texts = ["x y z q r s t u x y z q r s t u tail words here now"]
    cross = exact_duplicate_spans(
        _docs(spark, texts), min_tokens=8, cross_doc_only=True
    ).count()
    assert cross == 0
    within = exact_duplicate_spans(
        _docs(spark, texts), min_tokens=8, cross_doc_only=False
    ).collect()
    assert any(r["n_tokens"] == 8 for r in within)


def test_randomized_corpora_match_brute(spark):
    rng = random.Random(5)
    vocab = [f"w{i}" for i in range(12)]
    for trial in range(3):
        texts = [
            " ".join(rng.choice(vocab) for _ in range(rng.randint(1, 40)))
            for _ in range(rng.randint(2, 6))
        ]
        pos = corpus_positions(_docs(spark, texts))
        sa, levels = suffix_array(pos)
        got_order = [r["pos"] for r in sa.orderBy("sa_rank").collect()]
        sufs, lcps = _brute(texts)
        assert got_order == [s[1] for s in sufs], (trial, texts)
        got_lcp = {
            (r["pos_a"], r["pos_b"]): r["lcp"]
            for r in adjacent_lcp(sa, levels).collect()
        }
        assert got_lcp == {(a, b): n for a, b, n, *_ in lcps}, trial


def test_single_doc_and_empty_text_edge(spark):
    sa, _ = suffix_array(corpus_positions(_docs(spark, ["one two"])))
    assert sa.count() == 3  # two tokens + sentinel
    # an empty text contributes only its sentinel position
    sa2, _ = suffix_array(corpus_positions(_docs(spark, ["", "a b"])))
    assert sa2.count() == 4


def test_non_ascii_corpus_matches_brute(spark):
    """UTF-8 byte order == code-point order by design, so Spark's string
    comparison and Python's sort agree on accented/CJK/emoji tokens —
    pinned here because the whole suffix order rests on it."""
    texts = [
        "café über straße 中文 字 🎵 note café über",
        "中文 字 appears again 中文 字 and café too",
        "ASCII only words here",
    ]
    pos = corpus_positions(_docs(spark, texts))
    sa, levels = suffix_array(pos)
    got = [r["pos"] for r in sa.orderBy("sa_rank").collect()]
    sufs, lcps = _brute(texts)
    assert got == [s[1] for s in sufs]
    got_lcp = {
        (r["pos_a"], r["pos_b"]): r["lcp"]
        for r in adjacent_lcp(sa, levels).collect()
    }
    assert got_lcp == {(a, b): n for a, b, n, *_ in lcps}


def test_sharded_spans_subset_of_global_and_exact_within_shard(spark):
    from enterprise_warp_spark.pipeline.suffix import (
        exact_duplicate_spans_sharded,
    )

    texts = [
        "the cat sat on the mat and slept there all day",  # 0
        "the cat sat on the mat and slept there all day",  # 1 (dup of 0)
        "a completely different document goes right here",  # 2
        "another text where the cat sat on the mat appears",  # 3
    ]
    docs = _docs(spark, texts)
    key = lambda r: (r["doc_id"], r["start_tok"], r["n_tokens"])  # noqa: E731
    sharded = {
        key(r)
        for r in exact_duplicate_spans_sharded(
            docs, n_shards=2, min_tokens=6
        ).collect()
    }
    # per-shard EXACT: the union of each shard's brute-force maxima
    from pyspark.sql import functions as _F

    shard = {
        r["doc_id"]: r["s"]
        for r in docs.select(
            "doc_id", _F.pmod(_F.xxhash64("doc_id"), _F.lit(2)).alias("s")
        ).collect()
    }
    want = set()
    for s in (0, 1):
        ids = [d for d in sorted(shard) if shard[d] == s]
        sub = _brute_spans(
            [texts[d] for d in ids], min_tokens=6, doc_ids=ids
        )
        want |= {(d, i, n) for (d, i), n in sub.items()}
    assert sharded == want
    # the shard split can only shrink or shorten spans, never invent them
    global_spans = _brute_spans(texts, min_tokens=6)
    for d, i, n in sharded:
        assert global_spans.get((d, i), 0) >= n
    # n_shards=1 is exactly the global result
    one = {
        key(r)
        for r in exact_duplicate_spans_sharded(
            docs, n_shards=1, min_tokens=6
        ).collect()
    }
    assert one == {(d, i, n) for (d, i), n in global_spans.items()}
    import pytest as _pytest

    with _pytest.raises(ValueError, match="n_shards"):
        exact_duplicate_spans_sharded(docs, n_shards=0)


def test_cross_shard_span_missed_but_hash_backstop_catches_it(spark):
    """The sharded contract (suffix.py), EXECUTABLE: a duplicate span
    whose two occurrences straddle the shard boundary is missed by
    construction by exact_duplicate_spans_sharded — and the documented
    backstop, the shard-free hash-granularity repeated_ngram_spans,
    catches it."""
    from pyspark.sql import functions as _F

    from enterprise_warp_spark.pipeline.dedup import repeated_ngram_spans
    from enterprise_warp_spark.pipeline.suffix import (
        exact_duplicate_spans_sharded,
    )

    # pick two doc ids that land in DIFFERENT shards under the recipe's
    # own hash (pmod(xxhash64(doc_id), 2))
    probe = spark.createDataFrame([(i,) for i in range(8)], ["doc_id"])
    shard = {
        r["doc_id"]: r["s"]
        for r in probe.select(
            "doc_id", _F.pmod(_F.xxhash64("doc_id"), _F.lit(2)).alias("s")
        ).collect()
    }
    a = next(d for d in shard if shard[d] == 0)
    b = next(d for d in shard if shard[d] == 1)
    phrase = "p q r s t u v w x y"  # 10 tokens, only in docs a and b
    rows = [
        (a, f"alpha beta {phrase} gamma"),
        (b, f"one two three {phrase} four"),
        (next(d for d in shard if d not in (a, b)),
         "completely unrelated filler text goes here"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    # the per-shard suffix arrays never see both occurrences together
    assert exact_duplicate_spans_sharded(
        docs, n_shards=2, min_tokens=10
    ).count() == 0
    # ...but the global (unsharded) run finds it
    assert exact_duplicate_spans(docs, min_tokens=10).count() == 2
    # ...and the hash-granularity backstop covers the straddling span
    got = {
        r["doc_id"]: (r["span_start"], r["span_end"])
        for r in repeated_ngram_spans(docs, k=10).collect()
    }
    assert got[a] == (3, 12) and got[b] == (4, 13)


def test_sharded_strip_with_backstop_covers_the_straddling_span(spark):
    """The one-call production recipe: per-shard exact spans + the
    shard-free hash backstop. The duplicate phrase whose occurrences
    straddle the shard boundary (missed by the per-shard suffix arrays —
    pinned above) is REMOVED from both documents; unique text survives."""
    from pyspark.sql import functions as _F

    from enterprise_warp_spark.pipeline.suffix import (
        strip_exact_duplicate_spans_sharded,
    )

    probe = spark.createDataFrame([(i,) for i in range(8)], ["doc_id"])
    shard = {
        r["doc_id"]: r["s"]
        for r in probe.select(
            "doc_id", _F.pmod(_F.xxhash64("doc_id"), _F.lit(2)).alias("s")
        ).collect()
    }
    a = next(d for d in shard if shard[d] == 0)
    b = next(d for d in shard if shard[d] == 1)
    c = next(d for d in shard if d not in (a, b))
    phrase = "p q r s t u v w x y"  # 10 tokens, straddles the shards
    docs = spark.createDataFrame(
        [
            (a, f"alpha beta {phrase} gamma"),
            (b, f"one two three {phrase} four"),
            (c, "completely unrelated filler text right here"),
        ],
        ["doc_id", "text"],
    )
    got = {
        r["doc_id"]: r
        for r in strip_exact_duplicate_spans_sharded(
            docs, n_shards=2, min_tokens=10
        ).collect()
    }
    assert got[a]["cleaned_text"] == "alpha beta gamma"
    assert got[b]["cleaned_text"] == "one two three four"
    assert got[a]["n_removed_tokens"] == 10
    assert got[c]["cleaned_text"] == docs.filter(
        _F.col("doc_id") == c
    ).first()["text"]
    assert got[c]["n_removed_tokens"] == 0


def test_max_run_members_guard(spark):
    """r13 verdict #7: the run-resolver's single-worker pathology (a span
    repeated N times = one N-member run on one worker) is now an enforced
    contract. 'error' fails loud with the multiplicity; 'drop' removes the
    oversized run from the exact path but keeps smaller runs; and the
    sharded strip composition stays CORRECT under 'drop' because the hash
    backstop still removes the high-multiplicity span."""
    phrase = "h i j k l m n o p q"  # 10 tokens, planted in many docs
    texts = [f"doc{i} unique{i} {phrase} tail{i}" for i in range(8)]
    texts.append("small a b c d e f g h x one")
    texts.append("small2 a b c d e f g h x two")  # 8-token repeat < min
    texts.append(f"pair one {'r s t u v w x y z zz'} mid")
    texts.append(f"pair two {'r s t u v w x y z zz'} end")  # 2-member run
    docs = _docs(spark, texts)

    # unguarded: the 8-occurrence phrase resolves fine (baseline)
    base = exact_duplicate_spans(docs, min_tokens=10).count()
    assert base > 0

    # error mode: the oversized run fails LOUD — at plan time, via the
    # map-side-combined run-size count, BEFORE any worker collects the
    # run's rows (the r14 review fix: the old in-kernel check only fired
    # after Arrow had already materialized the oversized group)
    with pytest.raises(ValueError) as ei:
        exact_duplicate_spans(
            docs, min_tokens=10, max_run_members=4, on_oversized="error"
        )
    assert "max_run_members=4" in str(ei.value)

    # drop mode: the big run's spans vanish; the 2-member run survives
    dropped = exact_duplicate_spans(
        docs, min_tokens=10, max_run_members=4, on_oversized="drop"
    ).toPandas()
    assert set(dropped["doc_id"]) == {10, 11}

    # the strip composition stays correct: the hash backstop removes the
    # planted phrase from every doc even though the exact path dropped it
    from enterprise_warp_spark.pipeline.suffix import (
        strip_exact_duplicate_spans_sharded,
    )

    got = {
        r["doc_id"]: r
        for r in strip_exact_duplicate_spans_sharded(
            docs, n_shards=1, min_tokens=10, max_run_members=4
        ).collect()
    }
    for i in range(8):
        assert phrase not in got[i]["cleaned_text"]
        assert f"unique{i}" in got[i]["cleaned_text"]
    # bad mode name is rejected at plan time
    with pytest.raises(ValueError):
        exact_duplicate_spans(docs, on_oversized="nope")


def test_key_changes_matches_the_row_loop():
    """The vectorised key-change count equals the per-row loop it replaced,
    across batch boundaries, for string keys and for int64 keys that
    differ only beyond float64 precision."""
    import numpy as np
    import pandas as pd

    from enterprise_warp_spark.pipeline.suffix import _key_changes

    rng = np.random.default_rng(5)
    big = 2**60
    pdf = pd.DataFrame({
        "a": np.sort(rng.integers(0, 4, 200)) + big,
        "b": rng.integers(0, 2, 200) + big,
        "s": rng.choice(["x", "y"], 200),
    }).sort_values(["a", "b", "s"], kind="mergesort").reset_index(drop=True)
    cols = ["a", "b", "s"]

    want, last = [], None
    for key in zip(*[pdf[c] for c in cols]):
        want.append(key != last)
        last = key

    got, last = [], None
    for lo in range(0, len(pdf), 37):  # batches split runs of equal keys
        changed, last = _key_changes(pdf.iloc[lo:lo + 37], cols, last)
        got.extend(changed.tolist())
    assert got == want

    with pytest.raises(AssertionError, match="non-null"):
        _key_changes(pd.DataFrame({"a": [1.0, None]}), ["a"], None)
