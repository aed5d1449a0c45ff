"""Unigram-LM tokenizer (pipeline/unigram.py, Kudo 2018) — Viterbi vs a
brute-force all-segmentations oracle, EM likelihood monotonicity, planted
pattern recovery, lossless coverage, corpus encode."""

import itertools
import math
import random

import pytest
from pyspark.sql import functions as F

from enterprise_warp_spark.pipeline.tokenizer import word_counts
from enterprise_warp_spark.pipeline.unigram import (
    _viterbi,
    candidate_pieces,
    encode_corpus_unigram,
    train_unigram,
)


def _brute_best_score(word, logp, max_len):
    """Best segmentation SCORE by enumerating every split (exponential;
    words kept short)."""
    n = len(word)
    best = -math.inf
    for cuts in itertools.product([0, 1], repeat=max(n - 1, 0)):
        pos = [0] + [i + 1 for i, c in enumerate(cuts) if c] + [n]
        pieces = [word[a:b] for a, b in zip(pos, pos[1:])]
        if any(len(p) > max_len or p not in logp for p in pieces):
            continue
        best = max(best, sum(logp[p] for p in pieces))
    return best


def test_viterbi_matches_bruteforce_scores():
    rng = random.Random(3)
    for trial in range(30):
        alphabet = "abc"
        pieces = {"a", "b", "c"}
        for _ in range(rng.randint(1, 6)):
            pieces.add(
                "".join(rng.choice(alphabet) for _ in range(rng.randint(2, 4)))
            )
        logp = {p: rng.uniform(-5, -0.1) for p in pieces}
        word = "".join(rng.choice(alphabet) for _ in range(rng.randint(1, 9)))
        got_pieces, got = _viterbi(word, logp, 4)
        want = _brute_best_score(word, logp, 4)
        assert got == pytest.approx(want), (trial, word)
        assert "".join(got_pieces) == word


def test_viterbi_unsegmentable_returns_none():
    pieces, score = _viterbi("axe", {"a": -1.0, "e": -1.0}, 4)
    assert pieces is None and score == -math.inf


def test_candidate_pieces_cover_all_chars(spark):
    counts = spark.createDataFrame(
        [("hello", 3), ("help", 2)], ["word", "n"]
    )
    got = {r["piece"]: r["weight"] for r in candidate_pieces(counts).collect()}
    for ch in "helop":
        assert ch in got
    assert got["hel"] == 5  # substring weight sums word frequencies
    assert got["hello"] == 3


def test_train_recovers_planted_pattern_and_ll_monotone(spark):
    """A corpus dominated by one multi-char pattern: the trained vocab
    keeps it as a single piece, segmentation uses it, and the hard-EM
    corpus log-likelihood never decreases across iterations."""
    docs = spark.createDataFrame(
        [(i, "ababab " * 4 + "xyz") for i in range(30)]
        + [(100 + i, "qrs tuv") for i in range(5)],
        ["doc_id", "text"],
    )
    counts = word_counts(docs)
    model = train_unigram(counts, vocab_size=24, max_piece_len=6, n_iters=4)
    assert model["vocab_size"] <= 24
    assert "ababab" in model["logp"]
    lls = model["train_ll"]
    assert all(b >= a - 1e-6 for a, b in zip(lls, lls[1:])), lls
    enc = encode_corpus_unigram(docs, model).filter(F.col("doc_id") == 0)
    pieces = enc.collect()[0]["pieces"]
    # the first word 'ababab' (6 chars) is one piece; later words carry
    # the GPT-2-style leading space (' ababab', 7 chars > max_piece_len)
    # and segment through the learned ' abab' + 'ab' pair
    assert pieces.count("ababab") == 1
    assert pieces.count(" abab") >= 3
    assert "".join(pieces).startswith("ababab ababab")


def test_encode_round_trips_and_unk(spark):
    docs = spark.createDataFrame(
        [(1, "abc abc zz"), (2, "abc")], ["doc_id", "text"]
    )
    model = train_unigram(word_counts(docs), vocab_size=12, n_iters=2)
    out = {r["doc_id"]: r for r in encode_corpus_unigram(docs, model).collect()}
    # concatenated pieces reproduce each pre-token's characters exactly
    assert "".join(out[2]["pieces"]).strip() == "abc"
    assert out[1]["n_pieces"] >= 2
    # unseen characters at encode time surface as <unk>, never an error
    new = spark.createDataFrame([(3, "abc Q4")], ["doc_id", "text"])
    enc = encode_corpus_unigram(new, model).collect()[0]
    assert "<unk>" in enc["pieces"]


def test_vocab_size_guards(spark):
    counts = spark.createDataFrame([("abcdefgh", 1)], ["word", "n"])
    with pytest.raises(ValueError, match="below the"):
        train_unigram(counts, vocab_size=2)
    with pytest.raises(ValueError, match="vocab_size"):
        train_unigram(counts, vocab_size=0)


def test_determinism(spark):
    docs = spark.createDataFrame(
        [(i, "the quick brown fox " * 3) for i in range(8)],
        ["doc_id", "text"],
    )
    counts = word_counts(docs)
    m1 = train_unigram(counts, vocab_size=30, n_iters=3)
    m2 = train_unigram(counts, vocab_size=30, n_iters=3)
    assert m1["logp"] == m2["logp"]


def _brute_posterior(word, logp, max_len):
    """Expected piece counts + marginal logZ by enumerating EVERY
    segmentation (exponential; short words only)."""
    n = len(word)
    segs = []
    for cuts in itertools.product([0, 1], repeat=max(n - 1, 0)):
        pos = [0] + [i + 1 for i, c in enumerate(cuts) if c] + [n]
        pieces = [word[a:b] for a, b in zip(pos, pos[1:])]
        if any(len(p) > max_len or p not in logp for p in pieces):
            continue
        segs.append((pieces, sum(logp[p] for p in pieces)))
    if not segs:
        return None, -math.inf
    mx = max(s for _, s in segs)
    z = mx + math.log(sum(math.exp(s - mx) for _, s in segs))
    exp = {}
    for pieces, s in segs:
        w = math.exp(s - z)
        for p in pieces:
            exp[p] = exp.get(p, 0.0) + w
    return exp, z


def test_forward_backward_matches_enumeration():
    from enterprise_warp_spark.pipeline.unigram import _forward_backward

    rng = random.Random(11)
    for trial in range(25):
        alphabet = "ab"
        pieces = {"a", "b"}
        for _ in range(rng.randint(1, 5)):
            pieces.add(
                "".join(rng.choice(alphabet) for _ in range(rng.randint(2, 3)))
            )
        logp = {p: rng.uniform(-4, -0.2) for p in pieces}
        word = "".join(rng.choice(alphabet) for _ in range(rng.randint(1, 8)))
        got_exp, got_z = _forward_backward(word, logp, 3)
        want_exp, want_z = _brute_posterior(word, logp, 3)
        assert got_z == pytest.approx(want_z, abs=1e-10), (trial, word)
        assert set(got_exp) == set(want_exp)
        for p in want_exp:
            assert got_exp[p] == pytest.approx(want_exp[p], abs=1e-10), (
                trial, word, p,
            )


def test_forward_backward_unsegmentable():
    from enterprise_warp_spark.pipeline.unigram import _forward_backward

    exp, z = _forward_backward("axe", {"a": -1.0, "e": -1.0}, 3)
    assert exp is None and z == -math.inf


def test_soft_em_marginal_ll_monotone_without_pruning(spark):
    """With a vocab budget big enough that no pruning fires, soft EM's
    marginal log-likelihood must be non-decreasing every iteration — the
    textbook EM guarantee, which hard (Viterbi) EM does not carry."""
    docs = spark.createDataFrame(
        [(i, "ababab abba baab " * 2) for i in range(20)],
        ["doc_id", "text"],
    )
    counts = word_counts(docs)
    model = train_unigram(
        counts, vocab_size=500, max_piece_len=5, n_iters=5, em="soft"
    )
    lls = model["train_ll"]
    assert len(lls) == 5
    assert all(b >= a - 1e-3 for a, b in zip(lls, lls[1:])), lls
    assert model["train_ll"][-1] > model["train_ll"][0]


def test_soft_and_hard_agree_on_planted_pattern(spark):
    docs = spark.createDataFrame(
        [(i, "ababab " * 4) for i in range(10)], ["doc_id", "text"]
    )
    counts = word_counts(docs)
    hard = train_unigram(counts, vocab_size=20, max_piece_len=6, em="hard")
    soft = train_unigram(counts, vocab_size=20, max_piece_len=6, em="soft")
    assert "ababab" in hard["logp"] and "ababab" in soft["logp"]
    with pytest.raises(ValueError, match="em must be"):
        train_unigram(counts, vocab_size=20, em="nope")


def test_soft_em_deterministic(spark):
    docs = spark.createDataFrame(
        [(i, "xy yx xyxy " * 2) for i in range(6)], ["doc_id", "text"]
    )
    counts = word_counts(docs)
    m1 = train_unigram(counts, vocab_size=40, n_iters=3, em="soft")
    m2 = train_unigram(counts, vocab_size=40, n_iters=3, em="soft")
    assert m1["logp"] == m2["logp"] and m1["train_ll"] == m2["train_ll"]


def test_ids_output_interops_with_bpe_schema_and_packing(spark, tmp_path):
    """output='ids': the stable unigram_vocab id space, the byte-BPE
    encode schema (token_ids/n_tokens) so pack_documents takes either
    tokenizer, and JSON save/load reproduces ids exactly."""
    from enterprise_warp_spark.pipeline.packing import pack_documents
    from enterprise_warp_spark.pipeline.tokenizer import (
        load_tokenizer,
        save_tokenizer,
    )
    from enterprise_warp_spark.pipeline.unigram import unigram_vocab

    docs = spark.createDataFrame(
        [(i, "abc abd abc") for i in range(6)], ["doc_id", "text"]
    )
    model = train_unigram(word_counts(docs), vocab_size=16, n_iters=2)
    enc = encode_corpus_unigram(docs, model, output="ids")
    assert {"token_ids", "n_tokens"} <= set(enc.columns)
    rows = enc.collect()
    vocab = unigram_vocab(model)
    inv = {v: k for k, v in vocab.items()}
    # ids decode back to the piece segmentation's characters
    for r in rows:
        text_back = "".join(inv[i] for i in r["token_ids"])
        assert text_back.replace(" ", "") == r["text"].replace(" ", "")
        assert r["n_tokens"] == len(r["token_ids"])
    # packing consumes the schema unchanged
    packed = pack_documents(enc, budget=16)
    assert {"pack_id", "pack_offset"} <= set(packed.columns)
    # model JSON round-trip preserves the id space bit-for-bit
    p = str(tmp_path / "uni.json")
    save_tokenizer(model, p)
    assert unigram_vocab(load_tokenizer(p)) == vocab
    with pytest.raises(ValueError, match="output"):
        encode_corpus_unigram(docs, model, output="tokens").collect()


def test_uni_oracle_per_char_unk_fallback(spark, tmp_path):
    """ADVICE r13: the [uni] oracle's recursive CTE only extends positions
    via coverage pieces, so a word with any out-of-coverage character
    (digit, uppercase) had NO ubest row and the inner join silently
    dropped it — while encode_corpus_unigram emits per-char pieces with
    <unk>=0 for the unknown chars. The oracle now carries a per-char
    fallback branch; pin the equivalence on a corpus that actually
    exercises it."""
    import duckdb
    import pandas as pd
    from pyspark.sql import functions as F

    from enterprise_warp_spark.queries_hygiene import (
        _HYGIENE_ORACLE,
        _docs_shared,
        _uni_branch,
    )
    from tests.oracle import _normalize

    docs = pd.DataFrame(
        {
            "doc_id": [1, 2, 3, 4],
            "text": [
                "the cat in the hat",        # fully covered — Viterbi path
                "th3 cat has 9 lives",       # digits block segmentation
                "HELLO there the end",       # uppercase out of coverage
                "mix3d and plain words",     # fallback + covered in one doc
            ],
            "lang": ["en"] * 4,
            "source": ["a", "a", "b", "b"],
        }
    )
    docs["n_chars"] = docs["text"].str.len()
    sf = str(tmp_path)
    import os

    for t in os.listdir("/root/testdata/sf0.01"):
        if t != "documents.parquet":
            os.symlink(f"/root/testdata/sf0.01/{t}", f"{sf}/{t}")
    spark.createDataFrame(docs).coalesce(1).write.mode("overwrite").parquet(
        f"{sf}/documents.parquet"
    )
    # the other tables the combined oracle references come from real sf0.01
    con = duckdb.connect()
    con.sql(f"CREATE VIEW documents AS SELECT * FROM '{sf}/documents.parquet/*.parquet'")
    for t in ("customer",):
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"'/root/testdata/sf0.01/{t}.parquet'"
        )
    want = con.sql(
        f"SELECT * FROM ({_HYGIENE_ORACLE}) WHERE gate = 'uni'"
    )
    got = _uni_branch(spark, sf, _docs_shared(spark, sf)).filter(
        F.col("gate") == "uni"
    )
    left = _normalize(got.toPandas())
    right = _normalize(want.df())
    assert len(left) == 4, left
    assert left.equals(right), (left, right)
    # and the fallback genuinely fired: doc 2/3/4 token counts include the
    # per-char words (e.g. 'th3' -> 3 pieces with id 0 for '3')
    v = {int(r["k2"]): float(r["v1"]) for _, r in left.iterrows()}
    assert v[2] > 0 and v[3] > 0 and v[4] > 0
