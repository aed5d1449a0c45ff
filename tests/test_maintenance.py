"""Parquet table maintenance (partition upsert, SCD2 history) and the
corpus dedup/strip/split operators that run over such tables."""

from __future__ import annotations

import glob
import os

import pytest
from pyspark.sql import functions as F

from enterprise_warp_spark.maintenance import upsert_partitions


def _mk(spark, rows):
    return spark.createDataFrame(rows, "k long, v string, part string")


def _files(path, part):
    return sorted(glob.glob(os.path.join(path, f"part={part}", "*.parquet")))


def test_upsert_partitions_leaves_others_untouched(spark, tmp_path):
    path = str(tmp_path / "t")
    base = _mk(spark, [(1, "a1", "a"), (2, "a2", "a"), (3, "b1", "b")])
    base.write.partitionBy("part").parquet(path)
    before_a = _files(path, "a")

    upsert_partitions(_mk(spark, [(9, "b9", "b")]), path, ["part"])

    got = {(r["k"], r["v"], r["part"]) for r in spark.read.parquet(path).collect()}
    # partition b fully replaced, partition a untouched (same physical files)
    assert got == {(1, "a1", "a"), (2, "a2", "a"), (9, "b9", "b")}
    assert _files(path, "a") == before_a
    # conf restored (no session-wide side effect)
    assert (
        spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static").lower()
        == "static"
    )
    with pytest.raises(ValueError):
        upsert_partitions(base, path, [])


def test_incremental_minhash_filter(spark, tmp_path, sf_dir):
    """Continuous corpus construction: batch 2 docs colliding with batch 1
    are dropped via the persisted band index, not a corpus rescan."""
    from enterprise_warp_spark.pipeline.dedup import incremental_minhash_filter
    from enterprise_warp_spark.tables import table

    idx = str(tmp_path / "band_index")
    docs = table(spark, sf_dir, "documents").select("doc_id", "text")

    batch1 = docs.filter("doc_id < 200")
    kept1 = incremental_minhash_filter(batch1, idx)
    n1 = kept1.count()
    assert 0 < n1 <= 200
    assert os.path.isdir(idx)

    # batch 2 = copies of batch-1 docs (new ids) + genuinely new docs
    dupes = batch1.limit(50).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"), "text"
    )
    fresh = docs.filter("doc_id >= 200 and doc_id < 300")
    kept2 = incremental_minhash_filter(dupes.unionByName(fresh), idx)
    ids2 = {r["doc_id"] for r in kept2.select("doc_id").collect()}
    # every copy of an indexed doc is dropped; fresh docs mostly survive
    assert not {i for i in ids2 if i >= 1_000_000}
    assert len(ids2) > 0

    # batch 3: re-sending batch 2's survivors drops them all (index updated)
    kept3 = incremental_minhash_filter(
        kept2.select((F.col("doc_id") + 2_000_000).alias("doc_id"), "text"), idx
    )
    assert kept3.count() == 0


def test_dedup_corpus_stream(spark, tmp_path, sf_dir):
    """Streaming ingest with cross-batch near-dup filtering: batch 2's copies
    of batch-1 docs never reach the corpus."""
    from enterprise_warp_spark.streaming.corpus import dedup_corpus_stream
    from enterprise_warp_spark.tables import table

    src = tmp_path / "incoming"
    src.mkdir()
    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    # batch 1: docs 0..99; batch 2: copies of 0..29 (new ids) + fresh 100..149
    docs.filter("doc_id < 100").coalesce(1).write.parquet(str(src / "b1"))
    copies = docs.filter("doc_id < 30").select(
        (F.col("doc_id") + 5_000_000).alias("doc_id"), "text"
    )
    copies.unionByName(docs.filter("doc_id >= 100 and doc_id < 150")).coalesce(
        1
    ).write.parquet(str(src / "b2"))

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src / "*"))
    )
    q = dedup_corpus_stream(
        stream,
        index_path=str(tmp_path / "bands"),
        corpus_path=str(tmp_path / "corpus"),
        checkpoint_path=str(tmp_path / "ckpt"),
    )
    q.awaitTermination(300)

    corpus = spark.read.parquet(str(tmp_path / "corpus"))
    ids = {r["doc_id"] for r in corpus.select("doc_id").collect()}
    assert not {i for i in ids if i >= 5_000_000}  # no cross-batch near-dups
    assert ids & set(range(100, 150))  # fresh batch-2 docs did land
    assert "__epoch" in corpus.columns  # epoch-keyed idempotent layout
    # corpus is internally collision-free: no two docs share all band keys
    from enterprise_warp_spark.pipeline.dedup import lsh_candidate_pairs, minhash_bands

    assert lsh_candidate_pairs(minhash_bands(corpus.select("doc_id", "text"))).count() == 0

    # full replay (fresh checkpoint, worst case): every doc already indexed
    # -> empty survivors -> corpus unchanged, no duplicates
    q2 = dedup_corpus_stream(
        stream,
        index_path=str(tmp_path / "bands"),
        corpus_path=str(tmp_path / "corpus"),
        checkpoint_path=str(tmp_path / "ckpt2"),
    )
    q2.awaitTermination(300)
    spark.catalog.refreshByPath(str(tmp_path / "corpus"))
    again = {r["doc_id"] for r in spark.read.parquet(str(tmp_path / "corpus")).collect()}
    assert again == ids


def test_connected_components_transitive_chain(spark):
    """Chain A-C-B (pairs (1,3),(3,2)): pairwise drop-the-larger keeps BOTH
    1 and 2; transitive clustering keeps exactly min(component) = 1."""
    from enterprise_warp_spark.pipeline.dedup import (
        cluster_keep_list,
        connected_components,
    )

    pairs = spark.createDataFrame(
        [(1, 3), (3, 2), (10, 11), (20, 21), (21, 22), (22, 23)],
        "doc_a long, doc_b long",
    )
    comp = {r["doc_id"]: r["component"] for r in connected_components(pairs).collect()}
    assert comp == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20, 23: 20}

    docs = spark.createDataFrame([(i,) for i in [1, 2, 3, 10, 11, 20, 21, 22, 23, 99]], "doc_id long")
    kept = {r["doc_id"] for r in cluster_keep_list(docs, pairs).collect()}
    assert kept == {1, 10, 20, 99}  # one rep per component + unpaired doc


def test_connected_components_on_real_pairs(spark, sf_dir):
    from enterprise_warp_spark.pipeline.dedup import (
        connected_components,
        lsh_candidate_pairs,
        minhash_bands,
    )
    from enterprise_warp_spark.tables import table

    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    pairs = lsh_candidate_pairs(minhash_bands(docs))
    comp = connected_components(pairs)
    rows = comp.collect()
    assert len(rows) == pairs.select(
        F.explode(F.array("doc_a", "doc_b")).alias("d")
    ).distinct().count()
    # component label is always <= member id and is itself a member
    labels = {r["component"] for r in rows}
    ids = {r["doc_id"] for r in rows}
    assert all(r["component"] <= r["doc_id"] for r in rows)
    assert labels <= ids


def test_pack_documents(spark, sf_dir):
    from enterprise_warp_spark.pipeline.packing import pack_documents
    from enterprise_warp_spark.pipeline.text import token_counts
    from enterprise_warp_spark.tables import table

    docs = table(spark, sf_dir, "documents")
    with_tokens = docs.join(
        token_counts(docs).select(
            "doc_id", F.col("n_ws_tokens").alias("n_tokens")
        ),
        "doc_id",
    )
    budget = 500
    packed = pack_documents(with_tokens, budget).select(
        "doc_id", "n_tokens", "pack_id", "pack_offset"
    )
    rows = sorted(
        ((r["doc_id"], r["n_tokens"], r["pack_id"], r["pack_offset"]) for r in packed.collect())
    )
    # sequential reference: cumulative layout in doc_id order
    cum = 0
    max_doc = 0
    for doc_id, n, pack_id, off in rows:
        assert pack_id == cum // budget
        assert off == cum % budget
        cum += n
        max_doc = max(max_doc, n)
    # overflow bound: every pack holds <= budget + (max doc - 1) tokens
    from collections import defaultdict

    per_pack = defaultdict(int)
    for _, n, pack_id, _ in rows:
        per_pack[pack_id] += n
    assert max(per_pack.values()) <= budget + max_doc - 1
    # partition-count independence: same assignment with a different split
    packed2 = pack_documents(with_tokens, budget, n_partitions=7).select(
        "doc_id", "n_tokens", "pack_id", "pack_offset"
    )
    assert rows == sorted(
        ((r["doc_id"], r["n_tokens"], r["pack_id"], r["pack_offset"]) for r in packed2.collect())
    )
    with pytest.raises(ValueError):
        pack_documents(with_tokens, 0)


def test_chunk_documents(spark):
    from enterprise_warp_spark.pipeline.packing import chunk_documents

    docs = spark.createDataFrame(
        [
            (1, " ".join(f"t{i}" for i in range(10))),  # 10 tokens
            (2, "a b c"),                                # shorter than chunk
            (3, ""),                                     # empty
        ],
        "doc_id long, text string",
    )
    # no overlap: 10 tokens / 4 -> chunks of 4,4,2
    got = sorted(
        (r["doc_id"], r["chunk_idx"], r["n_chunk_tokens"], r["chunk_text"])
        for r in chunk_documents(docs, 4).collect()
    )
    assert got == [
        (1, 0, 4, "t0 t1 t2 t3"),
        (1, 1, 4, "t4 t5 t6 t7"),
        (1, 2, 2, "t8 t9"),
        (2, 0, 3, "a b c"),
    ]
    # overlap 2: starts 1,3,5,7 -> windows of 4 with 2-token overlap
    ov = sorted(
        (r["chunk_idx"], r["chunk_text"])
        for r in chunk_documents(docs.filter("doc_id = 1"), 4, overlap=2).collect()
    )
    assert ov == [
        (0, "t0 t1 t2 t3"),
        (1, "t2 t3 t4 t5"),
        (2, "t4 t5 t6 t7"),
        (3, "t6 t7 t8 t9"),
    ]
    # every token covered exactly once with no overlap (reconstruction)
    recon = " ".join(text for d, _, _, text in got if d == 1)
    assert recon == " ".join(f"t{i}" for i in range(10))
    import pytest as _pytest

    with _pytest.raises(ValueError):
        chunk_documents(docs, 0)
    with _pytest.raises(ValueError):
        chunk_documents(docs, 4, overlap=4)


def _strip_repeated_spans(df, k, min_count):
    """Every duplicated span's tokens removed from every document, by the
    span-removal step the exact-substring and decontamination strips use."""
    from enterprise_warp_spark.pipeline.dedup import _strip_spans, repeated_ngram_spans

    return _strip_spans(df, repeated_ngram_spans(df, "text", k, min_count), "text")


def test_repeated_ngram_spans_known_corpus(spark):
    """A 6-gram shared by two documents is flagged in BOTH, merged into one
    maximal span each; unique text produces no spans."""
    from enterprise_warp_spark.pipeline.dedup import repeated_ngram_spans

    boiler = "all rights reserved click here to subscribe now"  # 8 tokens
    docs = spark.createDataFrame(
        [
            (1, f"alpha beta gamma {boiler} delta epsilon"),
            (2, f"zeta eta {boiler} theta"),
            (3, "totally unique words appear in this document only once ever"),
        ],
        "doc_id long, text string",
    )
    spans = {
        r["doc_id"]: (r["span_start"], r["span_end"], r["n_grams"])
        for r in repeated_ngram_spans(docs, k=6, min_count=2).collect()
    }
    # doc 1: boiler tokens are positions 4..11 -> gram starts 4,5,6 share
    # doc 2's grams -> span [4, 11], 3 grams
    assert spans[1] == (4, 11, 3)
    # doc 2: boiler at positions 3..10 -> gram starts 3,4,5 -> span [3, 10]
    assert spans[2] == (3, 10, 3)
    assert 3 not in spans

    cleaned = {
        r["doc_id"]: (r["cleaned_text"], r["n_removed_tokens"])
        for r in _strip_repeated_spans(docs, k=6, min_count=2).collect()
    }
    assert cleaned[1] == ("alpha beta gamma delta epsilon", 8)
    assert cleaned[2] == ("zeta eta theta", 8)
    assert cleaned[3][1] == 0 and cleaned[3][0].startswith("totally unique")


def test_strip_repeated_spans_keeps_zero_token_docs(spark):
    """Documents whose text tokenizes to nothing (empty / whitespace-only)
    must still appear in the output with cleaned_text='' and 0 removals —
    they produce no token rows, so only the doc_id re-attach preserves them."""
    boiler = "all rights reserved click here to subscribe now"
    docs = spark.createDataFrame(
        [
            (1, f"alpha {boiler}"),
            (2, f"beta {boiler}"),
            (3, ""),
            (4, "   "),
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: (r["cleaned_text"], r["n_removed_tokens"])
        for r in _strip_repeated_spans(docs, k=6, min_count=2).collect()
    }
    assert set(out) == {1, 2, 3, 4}
    assert out[3] == ("", 0) and out[4] == ("", 0)
    assert out[1] == ("alpha", 8) and out[2] == ("beta", 8)


def test_strip_repeated_spans_matches_python_reference(spark):
    """Distributed span removal == a direct per-document Python reference
    over a random corpus with seeded duplicate injections."""
    import random

    rng = random.Random(5)
    vocab = [f"w{i}" for i in range(40)]
    boiler_a = ["spam1", "spam2", "spam3", "spam4", "spam5", "spam6", "spam7"]
    boiler_b = ["ad1", "ad2", "ad3", "ad4", "ad5", "ad6"]
    docs = []
    for i in range(30):
        toks = [rng.choice(vocab) for _ in range(rng.randint(8, 25))]
        if i % 3 == 0:
            at = rng.randint(0, len(toks))
            toks[at:at] = boiler_a
        if i % 4 == 0:
            at = rng.randint(0, len(toks))
            toks[at:at] = boiler_b
        docs.append((i, " ".join(toks)))

    k, min_count = 6, 2
    # python reference: corpus-wide gram counts -> covered positions -> strip
    from collections import Counter

    gram_counts = Counter()
    tok_lists = {}
    for did, text in docs:
        toks = text.split()
        tok_lists[did] = toks
        for p in range(len(toks) - k + 1):
            gram_counts[" ".join(toks[p : p + k])] += 1
    expect = {}
    for did, toks in tok_lists.items():
        covered = set()
        for p in range(len(toks) - k + 1):
            if gram_counts[" ".join(toks[p : p + k])] >= min_count:
                covered.update(range(p, p + k))
        kept = [t for j, t in enumerate(toks) if j not in covered]
        expect[did] = (" ".join(kept), len(covered))

    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["cleaned_text"], r["n_removed_tokens"])
        for r in _strip_repeated_spans(df, k=k, min_count=min_count).collect()
    }
    assert got == expect


def test_mixture_resample_reaches_target_mixture(spark):
    """The resampled corpus approximates the target mixture; rates cap at 1
    for the scarcest weighted group; upsampling demands fail loudly."""
    import math

    from enterprise_warp_spark.operators.sampling import (
        mixture_rates,
        mixture_resample,
    )

    rows = (
        [(i, "en") for i in range(4000)]
        + [(10_000 + i, "code") for i in range(500)]
        + [(20_000 + i, "junk") for i in range(2000)]
    )
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    weights = {"en": 0.75, "code": 0.25}
    rates = mixture_rates(df, "lang", weights)
    assert rates["code"] == 1.0  # scarcest weighted group keeps everything
    assert math.isclose(rates["en"], 0.75 * 2000 / 4000)
    kept = mixture_resample(df, "lang", weights, key="doc_id", seed=3)
    counts = {r["lang"]: r["n"] for r in kept.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n")).collect()}
    assert "junk" not in counts  # weight 0 -> dropped
    assert counts["code"] == 500
    # en share ~ 0.75 within binomial noise
    share = counts["en"] / (counts["en"] + counts["code"])
    assert abs(share - 0.75) < 0.05
    with pytest.raises(ValueError, match="upsampling"):
        mixture_rates(df, "lang", weights, target_total=10_000)
    with pytest.raises(ValueError, match="absent"):
        mixture_rates(df, "lang", {"en": 0.5, "nope": 0.5})


def test_scd2_merge_and_point_in_time(spark, tmp_path):
    """SCD Type-2 lifecycle: init -> merge (changed/unchanged/new keys) ->
    point-in-time views return the version valid at each timestamp;
    identical re-sends create no spurious versions."""
    from enterprise_warp_spark.maintenance import (
        scd2_as_of,
        scd2_init,
        scd2_merge,
    )

    path = str(tmp_path / "dim")
    t0, t1, t2 = 1000, 2000, 3000
    base = spark.createDataFrame(
        [(1, "alice", "US"), (2, "bob", "DE"), (3, "carol", "FR")],
        "k long, name string, country string",
    )
    scd2_init(base, t0).write.parquet(path)

    # t1: alice moves, bob unchanged (identical), dave is new
    updates = spark.createDataFrame(
        [(1, "alice", "JP"), (2, "bob", "DE"), (4, "dave", "BR")],
        "k long, name string, country string",
    )
    scd2_merge(spark, path, updates, ["k"], t1)

    dim = spark.read.parquet(path)
    # versions: alice has 2, bob/carol 1 (identical resend made no version)
    counts = {r["k"]: r["count"] for r in dim.groupBy("k").count().collect()}
    assert counts == {1: 2, 2: 1, 3: 1, 4: 1}

    at_t0 = {r["k"]: r["country"] for r in scd2_as_of(dim, t0).collect()}
    assert at_t0 == {1: "US", 2: "DE", 3: "FR"}  # dave not yet born
    at_t1 = {r["k"]: r["country"] for r in scd2_as_of(dim, t1).collect()}
    assert at_t1 == {1: "JP", 2: "DE", 3: "FR", 4: "BR"}

    # t2: second change for alice -> history chain of 3
    scd2_merge(
        spark,
        path,
        spark.createDataFrame([(1, "alice", "AU")], "k long, name string, country string"),
        ["k"],
        t2,
    )
    dim = spark.read.parquet(path)
    alice = sorted(
        (r["__valid_from"], r["__valid_to"], r["country"])
        for r in dim.filter("k = 1").collect()
    )
    assert alice == [(t0, t1, "US"), (t1, t2, "JP"), (t2, None, "AU")]
    assert {r["k"]: r["country"] for r in scd2_as_of(dim, t1).collect()}[1] == "JP"
    assert {r["k"]: r["country"] for r in scd2_as_of(dim, t2 + 1).collect()}[1] == "AU"
    # exactly one current row per key, always
    cur = dim.filter("__is_current").groupBy("k").count().collect()
    assert all(r["count"] == 1 for r in cur)


def test_scd2_null_keys_dups_and_ordering_guards(spark, tmp_path):
    """Review regressions: NULL business keys version correctly through
    the null-safe joins; duplicate update keys and out-of-order
    effective timestamps raise instead of corrupting the chain."""
    from enterprise_warp_spark.maintenance import scd2_as_of, scd2_init, scd2_merge

    path = str(tmp_path / "dimnull")
    base = spark.createDataFrame(
        [(None, "ghost", "US"), (1, "alice", "DE")],
        "k long, name string, country string",
    )
    scd2_init(base, 1000).write.parquet(path)
    scd2_merge(
        spark,
        path,
        spark.createDataFrame([(None, "ghost", "JP")], "k long, name string, country string"),
        ["k"],
        2000,
    )
    dim = spark.read.parquet(path)
    # the NULL key closed its old version and has exactly one current row
    cur = dim.filter("__is_current and k is null").collect()
    assert len(cur) == 1 and cur[0]["country"] == "JP"
    old = dim.filter("not __is_current and k is null").collect()
    assert len(old) == 1 and old[0]["__valid_to"] == 2000
    assert {r["country"] for r in scd2_as_of(dim, 1500).collect()} == {"US", "DE"}

    import pytest

    with pytest.raises(ValueError, match="duplicate"):
        scd2_merge(
            spark,
            path,
            spark.createDataFrame(
                [(1, "alice", "FR"), (1, "alice", "AU")],
                "k long, name string, country string",
            ),
            ["k"],
            3000,
        )
    with pytest.raises(ValueError, match="not after"):
        scd2_merge(
            spark,
            path,
            spark.createDataFrame([(None, "ghost", "BR")], "k long, name string, country string"),
            ["k"],
            1500,  # before the current version's valid_from (2000)
        )


def test_streaming_ingest_with_crawl_hygiene_transform(spark, tmp_path, sf_dir):
    """r6: the streaming dedup-ingest composes the crawl-hygiene stack via
    its deterministic `transform` hook — raw HTML micro-batches are
    tag-stripped, mojibake-repaired, and BPE-tokenized BEFORE cross-batch
    dedup; the corpus lands with clean text + token ids, and duplicate
    pages (same article, different markup chrome) dedup on the EXTRACTED
    text."""
    from enterprise_warp_spark.pipeline.html import strip_tags_catalyst
    from enterprise_warp_spark.pipeline.tokenizer import (
        encode_corpus,
        train_bpe,
        word_counts,
    )
    from enterprise_warp_spark.pipeline.weburl import repair_mojibake
    from enterprise_warp_spark.streaming.corpus import dedup_corpus_stream
    from enterprise_warp_spark.tables import table

    def page(body: str, theme: str) -> str:
        return (
            f"<html><body><nav class='{theme}'><a href='/{theme}'></a></nav>"
            f"<p>{body}</p></body></html>"
        )

    docs = table(spark, sf_dir, "documents").select("doc_id", "text").limit(40)
    texts = [(r["doc_id"], r["text"]) for r in docs.collect()]
    b1 = [(i, page(t, "chrome-home")) for i, t in texts[:25]]
    # batch 2: same articles under DIFFERENT chrome (new ids) + fresh docs
    b2 = [(i + 5_000_000, page(t, "chrome-start")) for i, t in texts[:10]]
    b2 += [(i, page(t, "chrome-home")) for i, t in texts[25:]]
    src = tmp_path / "in"
    src.mkdir()
    spark.createDataFrame(b1, "doc_id long, html string").coalesce(1).write.parquet(
        str(src / "b1")
    )
    spark.createDataFrame(b2, "doc_id long, html string").coalesce(1).write.parquet(
        str(src / "b2")
    )

    tok = train_bpe(word_counts(docs), vocab_size=256 + 64)

    def hygiene(batch):
        ex = batch.select("doc_id", strip_tags_catalyst("html").alias("text"))
        return encode_corpus(repair_mojibake(ex), tok)

    stream = (
        spark.readStream.schema("doc_id long, html string")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src / "*"))
    )
    q = dedup_corpus_stream(
        stream,
        index_path=str(tmp_path / "bands"),
        corpus_path=str(tmp_path / "corpus"),
        checkpoint_path=str(tmp_path / "ckpt"),
        transform=hygiene,
    )
    q.awaitTermination(300)

    corpus = spark.read.parquet(str(tmp_path / "corpus"))
    rows = {r["doc_id"]: r for r in corpus.collect()}
    # re-chromed duplicates dedup on the EXTRACTED text
    assert not {i for i in rows if i >= 5_000_000}
    assert set(rows) & {i for i, _ in texts[25:]}  # fresh docs landed
    some = next(iter(rows.values()))
    assert "<nav" not in some["text"] and "chrome-" not in some["text"]
    assert some["n_tokens"] == len(some["token_ids"]) > 0


def test_leakage_safe_splits_keep_clusters_together(spark, sf_dir):
    """Near-dup pairs NEVER straddle train/val/test; fractions are roughly
    honored; labels are deterministic and stable when the corpus grows."""
    from enterprise_warp_spark.pipeline.dedup import (
        leakage_safe_splits,
        lsh_candidate_pairs,
        minhash_bands,
    )
    from enterprise_warp_spark.tables import table

    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    pairs = lsh_candidate_pairs(minhash_bands(docs))
    assert pairs.count() > 10  # the synthetic corpus really has near-dups

    w = {"train": 0.8, "val": 0.1, "test": 0.1}
    out = leakage_safe_splits(docs, pairs, w, seed=3)
    lab = {r["doc_id"]: r["split"] for r in out.collect()}
    for r in pairs.collect():
        assert lab[r["doc_a"]] == lab[r["doc_b"]], (r["doc_a"], r["doc_b"])
    from collections import Counter

    shares = Counter(lab.values())
    n = sum(shares.values())
    assert abs(shares["train"] / n - 0.8) < 0.12

    # stability: adding fresh documents never relabels existing ones
    extra = spark.createDataFrame(
        [(9_000_000 + i, f"totally new unique document number {i}") for i in range(50)],
        "doc_id long, text string",
    )
    again = {
        r["doc_id"]: r["split"]
        for r in leakage_safe_splits(
            docs.unionByName(extra), pairs, w, seed=3
        ).collect()
    }
    assert all(again[d] == s for d, s in lab.items())


def test_leakage_safe_splits_bridging_pair_relabels_together(spark):
    """A NEW pair bridging two existing clusters merges them: the merged
    component takes ONE split (the representative's hash bucket), so one
    side's documents relabel — but pairs still never straddle, and docs in
    untouched components keep their labels exactly."""
    from enterprise_warp_spark.pipeline.dedup import leakage_safe_splits

    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(12)], "doc_id long, text string"
    )
    # two chain clusters {0,1,2} and {5,6,7}, plus singletons 3,4,8..11
    pairs0 = spark.createDataFrame(
        [(0, 1), (1, 2), (5, 6), (6, 7)], "doc_a long, doc_b long"
    )
    w = {"train": 0.6, "val": 0.2, "test": 0.2}
    before = {
        r["doc_id"]: r["split"]
        for r in leakage_safe_splits(docs, pairs0, w, seed=7).collect()
    }
    # bridge the two clusters
    pairs1 = pairs0.unionByName(
        spark.createDataFrame([(2, 5)], "doc_a long, doc_b long")
    )
    after = {
        r["doc_id"]: r["split"]
        for r in leakage_safe_splits(docs, pairs1, w, seed=7).collect()
    }
    merged = {0, 1, 2, 5, 6, 7}
    # the merged component is uniform and equals the min-id (0) cluster's
    # original label — the {5,6,7} side moves together
    assert {after[d] for d in merged} == {before[0]}
    # no pair straddles after the merge
    for a, b in [(0, 1), (1, 2), (5, 6), (6, 7), (2, 5)]:
        assert after[a] == after[b]
    # untouched components never relabel
    for d in set(range(12)) - merged:
        assert after[d] == before[d]


def test_connected_components_long_chain_converges_fast(spark):
    """Pointer doubling: a 200-hop chain (diameter far above the round
    budget that plain min-propagation could cover) still converges within
    max_iter=25 — O(log diameter) rounds — with every vertex labeled by
    the chain minimum."""
    from enterprise_warp_spark.pipeline.dedup import connected_components

    n = 200
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n)], "doc_a long, doc_b long"
    )
    comp = {r["doc_id"]: r["component"]
            for r in connected_components(pairs, max_iter=25).collect()}
    assert len(comp) == n + 1
    assert set(comp.values()) == {0}


