"""Tests for the §2 coverage completions: ECORR basis augmentation (F11),
marginalised OS (A12), glob pairing (S4/J1), matrix sources (S7), compat
sinks (K1/K2/K4), allow-list/drop-one filters (P2/P3), snapshots (S3)."""

import math
import os

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F


def test_ecorr_matches_dense(spark):
    """ECORR as basis augmentation must equal the dense C = N + U ec^2 U^T +
    F phi F^T evaluation."""
    from enterprise_warp_spark.likelihood.gp import (
        dense_lnlike_reference,
        gp_loglik_per_pulsar,
        powerlaw_phi,
    )

    rng = np.random.default_rng(11)
    n, T = 80, 5 * 365.25 * 86400
    t = np.sort(rng.uniform(0, T, n))
    sig = np.full(n, 1e-6)
    r = rng.normal(0, 2e-6, n)
    epoch = (t // (30 * 86400)).astype(int)  # ~monthly epochs
    rows = [
        ("J0001+0001", float(a), float(b), float(c), 1.0, 0.0, int(e))
        for a, b, c, e in zip(t, r, sig, epoch)
    ]
    df = spark.createDataFrame(
        rows,
        "psr string, toa_s double, residual_s double, toa_err_s double, "
        "efac double, equad double, epoch_id int",
    )
    samples = pd.DataFrame(
        {"sample_id": [0], "log10_A": [-13.5], "gamma": [4.0], "log10_ecorr": [-6.3]}
    )
    got = gp_loglik_per_pulsar(df, samples, nfreqs=8).first()["lnl"]

    # dense oracle
    f = np.arange(1, 9) / (t.max() - t.min())
    arg = 2 * math.pi * np.outer(t, f)
    Fmat = np.empty((n, 16))
    Fmat[:, 0::2] = np.sin(arg)
    Fmat[:, 1::2] = np.cos(arg)
    phi = powerlaw_phi(np.repeat(f, 2), np.repeat(1 / (t.max() - t.min()), 16), -13.5, 4.0)
    uniq, inv = np.unique(epoch, return_inverse=True)
    U = np.zeros((n, len(uniq)))
    U[np.arange(n), inv] = 1.0
    basis = np.hstack([Fmat, U])
    phi_aug = np.concatenate([phi, np.full(len(uniq), (10.0**-6.3) ** 2)])
    want = dense_lnlike_reference(r, sig**2, basis, phi_aug)
    assert got == pytest.approx(want, rel=1e-10)


def test_marginalised_os(spark):
    from enterprise_warp_spark.analytics.optimal_statistic import (
        marginalised_moments,
        marginalised_os,
        per_pulsar_reduction,
    )

    rng = np.random.default_rng(2)
    TSPAN = 8 * 365.25 * 86400.0
    rows, posrows = [], []
    for p in range(4):
        psr = f"J{p:04d}+0000"
        t = np.sort(rng.uniform(0, TSPAN, 100))
        rows += [
            (psr, float(ti), float(rng.normal(0, 1e-6)), 1e-6, 1.0, 0.0) for ti in t
        ]
        v = rng.normal(size=3)
        posrows.append((psr, (v / np.linalg.norm(v)).tolist()))
    res = spark.createDataFrame(
        rows,
        "psr string, toa_s double, residual_s double, toa_err_s double, efac double, equad double",
    )
    pos = spark.createDataFrame(posrows, "psr string, pos array<double>")
    red = per_pulsar_reduction(res, 6, TSPAN)
    draws = pd.DataFrame({"draw_id": range(5), "gamma": [3.0, 3.5, 4.0, 4.5, 5.0]})
    per_draw = marginalised_os(red, pos, draws, orf="hd", tspan_s=TSPAN).cache()
    assert per_draw.count() == 5
    mom = marginalised_moments(per_draw).first()
    assert mom["n_draws"] == 5 and np.isfinite(mom["a2_hat_mean"])


def test_paired_pulsar_files(spark):
    from enterprise_warp_spark.sources.globscan import paired_pulsar_files

    paired = paired_pulsar_files(spark, "/root/reference/examples/data")
    rows = {r["psr"]: r for r in paired.collect()}
    assert set(rows) == {"J1832-0836", "fake_psr_0"}
    assert rows["J1832-0836"]["parfile"].endswith("J1832-0836.par")
    assert rows["J1832-0836"]["timfile"].endswith("J1832-0836.tim")


def test_matrix_sources_and_covm_sink(spark, tmp_path):
    from enterprise_warp_spark.sinks import write_covm_csv
    from enterprise_warp_spark.sources.matrix import ingest_npy

    m = np.array([[2.0, 0.5], [0.5, 1.0]])
    npy = tmp_path / "cov.npy"
    np.save(npy, m)
    covm = ingest_npy(spark, str(npy), ["parA", "parB"], run_id="r1")
    assert covm.count() == 4
    csv = tmp_path / "covm.csv"
    write_covm_csv(covm, str(csv))
    back = pd.read_csv(csv, index_col=0)
    assert back.loc["parA", "parA"] == 2.0 and back.loc["parB", "parA"] == 0.5


def test_sinks_noise_json(spark, tmp_path):
    import json

    from enterprise_warp_spark.sinks import write_noise_json_files

    noise = spark.createDataFrame(
        [("J1", "J1_efac", 1.05), ("J1", "J1_lgA", -14.0)],
        "run_id string, par string, value double",
    )
    paths = write_noise_json_files(noise, str(tmp_path / "nf"))
    doc = json.loads(open(paths[0]).read())
    assert doc == {"J1_efac": 1.05, "J1_lgA": -14.0}


def test_snapshot_roundtrip(spark, tmp_path):
    from enterprise_warp_spark.sources.tim import read_tim
    from enterprise_warp_spark.tables import load_snapshot, save_snapshot

    toas = read_tim(spark, "/root/reference/examples/data/*.tim")
    path = str(tmp_path / "toas_snapshot")
    save_snapshot(toas, path)
    back = load_snapshot(spark, path)
    assert back.count() == toas.count() == 326 + 122
    # partition pruning works on the snapshot
    assert back.filter(F.col("psr") == "fake_psr_0").count() == 122
    assert os.path.isdir(os.path.join(path, "psr=fake_psr_0"))


def test_timestamped_chain_segments(spark, tmp_path):
    """S6/X4 — timestamped segments chain_<14 digits>.txt concatenate in
    name order (results.py:427-448, 481-489)."""
    import numpy as np

    from enterprise_warp_spark.sources.chains import (
        read_chain_runs,
        resolve_chain_dir,
    )

    d = tmp_path / "run_seg"
    d.mkdir()
    m1 = np.column_stack([np.arange(10) * 1.0, np.zeros(10), np.zeros(10), np.zeros(10), np.ones(10)])
    m2 = np.column_stack([np.arange(10, 25) * 1.0, np.zeros(15), np.zeros(15), np.zeros(15), np.ones(15)])
    np.savetxt(d / "chain_20230101000000.txt", m1)
    np.savetxt(d / "chain_20230202000000.txt", m2)
    (d / "pars.txt").write_text("x\n")
    run = resolve_chain_dir(str(d), separated=True)
    rows = read_chain_runs(spark, [run], burn_frac=0.0).orderBy("step").collect()
    assert len(rows) == 25
    # steps follow file-name order then row order: the value == step index
    assert [int(r["value"]) for r in rows] == list(range(25))
    assert [r["step"] for r in rows] == list(range(25))


def test_global_rank_and_scalable_ntile(spark, sf_dir):
    """Distributed ranking must equal the single-partition window exactly."""
    from pyspark.sql import Window

    from enterprise_warp_spark.operators.binning import ntile_bins
    from enterprise_warp_spark.operators.ranking import global_rank, ntile_bins_scalable
    from enterprise_warp_spark.tables import table

    orders = table(spark, sf_dir, "orders")
    got = global_rank(orders, ["o_totalprice", "o_orderkey"], "rank")
    w = Window.orderBy("o_totalprice", "o_orderkey")
    want = orders.withColumn("rank", F.row_number().over(w))
    assert got.select("o_orderkey", "rank").exceptAll(
        want.select("o_orderkey", "rank")
    ).count() == 0

    a = {r["bin"]: r["n"] for r in ntile_bins_scalable(
        orders, ["o_totalprice", "o_orderkey"], 8
    ).collect()}
    b = {r["bin"]: r["n"] for r in ntile_bins(
        orders, ["o_totalprice", "o_orderkey"], 8
    ).collect()}
    assert a == b


def test_curate_corpus(spark, sf_dir):
    from enterprise_warp_spark.pipeline.curate import CurationConfig, curate_corpus
    from enterprise_warp_spark.tables import table

    docs = table(spark, sf_dir, "documents")
    # inject two exact duplicates and one near-duplicate of doc 0
    base = docs.filter("doc_id = 0").first()
    extra = spark.createDataFrame(
        [
            (100001, base["text"], base["lang"], "dup_src", base["n_chars"]),
            (100002, base["text"], base["lang"], "dup_src", base["n_chars"]),
            (100003, base["text"] + " tail tweak", base["lang"], "dup_src", base["n_chars"] + 11),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    out = curate_corpus(docs.unionByName(extra), CurationConfig(min_tokens=5))
    stats = out["stats"].first()
    assert stats["n_input"] == docs.count() + 3
    assert stats["n_kept"] + stats["n_dropped_quality"] + stats["n_dropped_lang"] + stats["n_dropped_dup"] == stats["n_input"]
    kept_ids = {r["doc_id"] for r in out["kept"].select("doc_id").collect()}
    # original doc 0 survives; its exact copies and the near-dup are dropped
    assert 0 in kept_ids
    assert {100001, 100002, 100003}.isdisjoint(kept_ids)
    assert stats["n_dropped_dup"] >= 3


def test_curate_repetition_gate(spark):
    from enterprise_warp_spark.pipeline.curate import CurationConfig, curate_corpus

    docs = spark.createDataFrame(
        [
            (1, "the cat sat on the mat and then the dog sat down too", "en", "s", 0),
            # 60% duplicate tokens: "spam " * many
            (2, "spam spam spam spam spam spam spam spam spam spam", "en", "s", 0),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    out = curate_corpus(
        docs, CurationConfig(min_tokens=5, max_dup_token_ratio=0.5)
    )
    kept = {r["doc_id"] for r in out["kept"].select("doc_id").collect()}
    dropped = {r["doc_id"] for r in out["dropped_quality"].select("doc_id").collect()}
    assert kept == {1} and dropped == {2}
    # disabled gate keeps both (and adds no repetition join to the plan)
    out2 = curate_corpus(docs, CurationConfig(min_tokens=5))
    assert {r["doc_id"] for r in out2["kept"].select("doc_id").collect()} == {1, 2}


def test_psd_expressions_match_numpy(spark):
    """F1-F4 — all four PSD column expressions equal the numpy forms
    (libstempo_warp.py:6-18, enterprise_models.py:421-426,593-603)."""
    from enterprise_warp_spark.functions.psd import (
        FYR,
        broken_powerlaw_psd,
        free_spectrum_psd,
        lorentzian_psd,
        powerlaw_psd,
    )

    tspan = 10 * 365.25 * 86400.0
    f = np.arange(1, 21) / tspan
    df = 1.0 / tspan
    log10_A, gamma, fc_bpl, log10_rho = -14.5, 13.0 / 3.0, -8.5, -7.2
    p_lor, fc_lor, alpha = 3.0e-13, 1.0e-8, 2.5

    pdf = pd.DataFrame({"f_hz": f, "df_hz": df})
    out = (
        spark.createDataFrame(pdf)
        .select(
            "f_hz",
            powerlaw_psd(
                F.col("f_hz"), F.lit(log10_A), F.lit(gamma), F.col("df_hz")
            ).alias("pl"),
            broken_powerlaw_psd(
                F.col("f_hz"), F.lit(log10_A), F.lit(gamma), F.lit(fc_bpl), F.col("df_hz")
            ).alias("bpl"),
            free_spectrum_psd(F.lit(log10_rho)).alias("fs"),
            lorentzian_psd(
                F.col("f_hz"), F.lit(p_lor), F.lit(fc_lor), F.lit(alpha)
            ).alias("lor"),
        )
        .orderBy("f_hz")
        .toPandas()
    )
    a2 = 10.0 ** (2 * log10_A)
    norm = a2 / (12 * math.pi**2) * FYR**-3
    np.testing.assert_allclose(out["pl"], norm * (f / FYR) ** -gamma * df, rtol=1e-12)
    np.testing.assert_allclose(
        out["bpl"], norm * ((f + 10.0**fc_bpl) / FYR) ** -gamma * df, rtol=1e-12
    )
    np.testing.assert_allclose(out["fs"], 10.0 ** (2 * log10_rho), rtol=1e-12)
    np.testing.assert_allclose(
        out["lor"], p_lor / (1 + (f / fc_lor) ** 2) ** (alpha / 2), rtol=1e-12
    )


def test_repetition_metrics_match_counter(spark):
    """Gopher/C4 repetition signals: the sort+run-length MAXRUN expression
    must equal a collections.Counter reference on hand-built documents
    (incl. the 1-token doc where the bigram array is empty)."""
    from collections import Counter

    from enterprise_warp_spark.pipeline.text import repetition_metrics

    docs = {
        1: "a a a b c",
        2: "x y x y x y",
        3: "unique tokens only here now",
        4: "solo",
        5: "p q. r! p q. #",
    }
    pdf = pd.DataFrame({"doc_id": list(docs), "text": list(docs.values())})
    got = {
        r["doc_id"]: r
        for r in repetition_metrics(spark.createDataFrame(pdf)).collect()
    }
    for doc_id, text in docs.items():
        toks = [t for t in text.split(" ") if t]
        bigs = [f"{a} {b}" for a, b in zip(toks, toks[1:])]
        n, nb = len(toks), len(bigs)
        r = got[doc_id]
        assert r["n_distinct_tokens"] == len(set(toks))
        assert r["dup_token_ratio"] == pytest.approx(
            round((n - len(set(toks))) / max(n, 1), 6)
        )
        assert r["top_token_share"] == pytest.approx(
            round(max(Counter(toks).values()) / max(n, 1), 6)
        )
        assert r["dup_bigram_ratio"] == pytest.approx(
            round((nb - len(set(bigs))) / max(nb, 1), 6)
        )
        top_big = max(Counter(bigs).values()) if bigs else 0
        assert r["top_bigram_share"] == pytest.approx(
            round(top_big / max(nb, 1), 6)
        )
        sym = sum(1 for ch in text if not (ch.islower() or ch.isdigit() or ch == " "))
        assert r["symbol_char_ratio"] == pytest.approx(
            round(sym / max(len(text), 1), 6)
        )


def test_langid_tolerates_existing_tok_column_and_reapplication(spark):
    """ADVICE r4: __tok/__big are internal scratch names — input already
    carrying one (e.g. output of an earlier staging pass) or repeated
    application must not raise a duplicate-column AnalysisException."""
    from enterprise_warp_spark.pipeline.text import langid, repetition_metrics

    df = spark.createDataFrame(
        [(1, "the cat and the dog", ["stale"])],
        "doc_id int, text string, __tok array<string>",
    )
    out = langid(df, "text")
    row = out.first()
    assert row["predicted"] == "en"
    assert out.columns.count("__tok") <= 1  # no duplicate staging
    # repeated application of the staged-metrics path is also safe
    twice = repetition_metrics(
        spark.createDataFrame([(1, "a a b")], "doc_id int, text string"),
        "text",
    )
    assert twice.first()["dup_token_ratio"] > 0


def test_prepare_training_corpus_end_to_end(spark, sf_dir):
    """Full corpus-to-training-order recipe on the real documents table:
    curation -> per-source cap -> lang-mixture resample -> deterministic
    shuffle. Checks caps, mixture shares, ordering determinism, and that
    the corpus is a subset of the curated keep-set."""
    from enterprise_warp_spark.pipeline.curate import (
        CurationConfig,
        ServingConfig,
        prepare_training_corpus,
    )
    from enterprise_warp_spark.tables import table

    docs = table(spark, sf_dir, "documents")
    out = prepare_training_corpus(
        docs,
        CurationConfig(min_tokens=5),
        ServingConfig(
            cap_per_source=8,
            mixture_weights={"en": 0.5, "de": 0.25, "fr": 0.25},
            shuffle_seed=4,
        ),
    )
    rows = out["corpus"].collect()
    ids = [r["doc_id"] for r in rows]
    assert len(ids) == len(set(ids)) > 0

    # subset of the curated keep-set
    kept_ids = {r["doc_id"] for r in out["kept"].select("doc_id").collect()}
    assert set(ids) <= kept_ids

    # per-source cap respected
    from collections import Counter

    by_src = Counter(r["source"] for r in rows)
    assert max(by_src.values()) <= 8

    # mixture: only requested langs, shares near 2:1:1 for en:de:fr
    by_lang = Counter(r["lang"] for r in rows)
    assert set(by_lang) <= {"en", "de", "fr"}
    n = sum(by_lang.values())
    # wide tolerance: the deterministic hash downsample meets the rate in
    # expectation; at n~100 binomial noise is ~0.1 (exact share recovery is
    # pinned at scale in test_mixture_resample_reaches_target_mixture)
    assert abs(by_lang["en"] / n - 0.5) < 0.2
    assert abs(by_lang["de"] / n - 0.25) < 0.15

    # deterministic: same seed -> same order; different seed -> different
    again = [
        r["doc_id"]
        for r in prepare_training_corpus(
            docs,
            CurationConfig(min_tokens=5),
            ServingConfig(
                cap_per_source=8,
                mixture_weights={"en": 0.5, "de": 0.25, "fr": 0.25},
                shuffle_seed=4,
            ),
        )["corpus"].collect()
    ]
    assert again == ids


def test_prepare_training_corpus_semdedup_auto_switch(spark, sf_dir, monkeypatch):
    """Recipe-level pin of the assign='auto' knee (VERDICT r12 Next #8):
    with a centroid table past SEMDEDUP_FLAT_MAX_CELLS the recipe's
    SemDeDup stage must take the hierarchical quantizer and must NEVER
    flat-assign the corpus (the quadratic path); below the knee it takes
    flat. Also checks the stage actually removes a semantic duplicate."""
    from pyspark.sql import functions as F

    from enterprise_warp_spark.pipeline import similarity
    from enterprise_warp_spark.pipeline.curate import (
        CurationConfig,
        ServingConfig,
        prepare_training_corpus,
    )
    from enterprise_warp_spark.tables import table

    docs = table(spark, sf_dir, "documents").filter(F.col("doc_id") < 60)
    base = prepare_training_corpus(docs, CurationConfig(min_tokens=5))
    kept_ids = sorted(
        r["doc_id"] for r in base["kept"].select("doc_id").collect()
    )
    assert len(kept_ids) >= 2
    dup_a, dup_b = kept_ids[0], kept_ids[1]

    def mk_emb(ids):
        # deterministic 4-dim embeddings; dup_b clones dup_a's vector
        src = [(i, i if i != dup_b else dup_a) for i in ids]
        return spark.createDataFrame(src, ["vec_id", "__s"]).select(
            "vec_id",
            F.array(
                F.cos("__s"), F.sin("__s"),
                F.cos(F.col("__s") * 0.7), F.sin(F.col("__s") * 0.31),
            ).alias("embedding"),
        )

    emb = mk_emb(kept_ids)

    def mk_cents(n):
        return (
            spark.range(n)
            .select(
                F.col("id").alias("cell_id"),
                F.array(
                    F.cos("id"), F.sin("id"),
                    F.cos(F.col("id") * 0.7), F.sin(F.col("id") * 0.31),
                ).alias("c_emb"),
            )
            .withColumn(
                "c_nsq",
                F.aggregate(
                    "c_emb", F.lit(0.0), lambda a, x: a + x * x
                ),
            )
        )

    seen = {"hier": 0, "flat_corpus": 0}
    real_hier = similarity.assign_cells_hierarchical
    real_flat = similarity._assign_cells_arrow

    def spy_hier(*a, **k):
        seen["hier"] += 1
        return real_hier(*a, **k)

    def spy_flat(n, cents, emb_col, id_col, *a, **k):
        if id_col == "vec_id":  # the corpus-level flat assignment; the
            seen["flat_corpus"] += 1  # hier path's internal centroid->
        return real_flat(n, cents, emb_col, id_col, *a, **k)  # super use
        # of the same kernel is legitimate (L x sqrt(L))

    monkeypatch.setattr(similarity, "assign_cells_hierarchical", spy_hier)
    monkeypatch.setattr(similarity, "_assign_cells_arrow", spy_flat)

    big = similarity.SEMDEDUP_FLAT_MAX_CELLS + 1
    out = prepare_training_corpus(
        docs,
        CurationConfig(min_tokens=5),
        ServingConfig(
            semdedup_embeddings=emb,
            semdedup_threshold=1.0,
            semdedup_centroids=mk_cents(big),
        ),
    )
    assert seen["hier"] == 1 and seen["flat_corpus"] == 0
    kept_after = {r["doc_id"] for r in out["kept"].select("doc_id").collect()}
    assert dup_a in kept_after and dup_b not in kept_after
    assert {r["doc_id"] for r in out["dropped_semdedup"].collect()} == {dup_b}

    # below the knee the auto switch stays on the flat kernel
    out2 = prepare_training_corpus(
        docs,
        CurationConfig(min_tokens=5),
        ServingConfig(
            semdedup_embeddings=emb,
            semdedup_threshold=1.0,
            semdedup_centroids=mk_cents(64),
        ),
    )
    assert seen["hier"] == 1 and seen["flat_corpus"] == 1
    kept2 = {r["doc_id"] for r in out2["kept"].select("doc_id").collect()}
    assert dup_b not in kept2


def test_prepare_training_corpus_tokenize_and_pack(spark, sf_dir):
    """r6: the recipe optionally trains a BPE on the served corpus, encodes
    it (token_ids/n_tokens ride the served rows), and emits pack
    assignments at a token budget — all deterministic end to end."""
    from enterprise_warp_spark.pipeline.curate import (
        CurationConfig,
        ServingConfig,
        prepare_training_corpus,
    )
    from enterprise_warp_spark.pipeline.tokenizer import decode_ids
    from enterprise_warp_spark.tables import table

    docs = table(spark, sf_dir, "documents")
    out = prepare_training_corpus(
        docs,
        CurationConfig(min_tokens=5),
        ServingConfig(shuffle_seed=1, bpe_vocab_size=256 + 128, pack_seq_len=512),
    )
    tok = out["tokenizer"]
    assert tok["vocab_size"] <= 256 + 128
    rows = out["corpus"].collect()
    assert rows and all(r["n_tokens"] == len(r["token_ids"]) for r in rows)
    texts = {
        r["doc_id"]: r["text"] for r in out["kept"].select("doc_id", "text").collect()
    }
    some = rows[:10]
    for r in some:  # round-trip through the learned vocabulary
        assert decode_ids(r["token_ids"], tok) == texts[r["doc_id"]]
    packed = out["packed"].collect()
    assert {r["doc_id"] for r in packed} == {r["doc_id"] for r in rows}
    # within a pack, offsets are the running token sum and the budget only
    # overflows via the documented never-split tail case
    from collections import defaultdict

    by_pack = defaultdict(list)
    for r in packed:
        by_pack[r["pack_id"]].append(r)
    for members in by_pack.values():
        members.sort(key=lambda r: r["pack_offset"])
        # offsets chain contiguously; the first starts inside the pack
        # (a doc overflowing from the previous pack shifts it past 0)
        assert 0 <= members[0]["pack_offset"] < 512
        off = members[0]["pack_offset"]
        for m in members:
            assert m["pack_offset"] == off
            off += m["n_tokens"]
        for m in members[:-1]:  # every non-final member STARTS in budget
            assert m["pack_offset"] < 512


def test_prepare_training_corpus_with_quality_model(spark):
    """The learned quality gate drops model-flagged docs from the corpus."""
    from enterprise_warp_spark.pipeline.classify import train_quality_classifier
    from enterprise_warp_spark.pipeline.curate import (
        CurationConfig,
        ServingConfig,
        prepare_training_corpus,
    )

    prose = (
        "the quiet river winds through a valley where farmers tend orchards "
        "and children walk to school past the old stone bridge every morning"
    )
    spamwords = "buy cheap now click here free winner casino deal offer"
    import random

    rng = random.Random(3)
    labeled = spark.createDataFrame(
        [
            (i, " ".join(rng.choice(prose.split()) for _ in range(25)), 1)
            for i in range(80)
        ]
        + [
            (100 + i, " ".join(rng.choice(spamwords.split()) for _ in range(25)), 0)
            for i in range(80)
        ],
        "doc_id long, text string, label int",
    )
    model = train_quality_classifier(labeled, dim=1 << 13)

    docs = spark.createDataFrame(
        [
            (1, " ".join(prose.split()[:30]) + " one", "en", "s1", 10),
            (2, " ".join((spamwords + " " + spamwords + " again now yes").split()), "en", "s1", 10),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    out = prepare_training_corpus(
        docs,
        CurationConfig(min_tokens=3),
        ServingConfig(quality_model=model, quality_threshold=0.5),
    )
    ids = {r["doc_id"] for r in out["corpus"].collect()}
    assert ids == {1}


def test_weighted_median_matches_python_reference(spark):
    """Distributed weighted median == direct per-group Python computation
    over random data; equal weights degrade to the plain lower median."""
    import random

    from enterprise_warp_spark.operators.weighted import weighted_median

    rng = random.Random(5)
    rows = [
        (g, rng.uniform(-100, 100), rng.choice([0.0, 0.5, 1.0, 2.0, 5.0]))
        for g in ("a", "b", "c")
        for _ in range(200)
    ]
    df = spark.createDataFrame(rows, "g string, v double, w double")
    got = {
        r["g"]: r["wmedian"]
        for r in weighted_median(df, "v", "w", ["g"]).collect()
    }

    def ref(pairs):
        pairs = sorted((v, w) for _, v, w in pairs if w > 0)
        tot = sum(w for _, w in pairs)
        acc = 0.0
        for v, w in pairs:
            acc += w
            if acc >= tot / 2.0:
                return v
        return pairs[-1][0]

    for g in ("a", "b", "c"):
        want = ref([r for r in rows if r[0] == g])
        assert got[g] == want, g

    # equal weights == plain lower median
    eq = spark.createDataFrame(
        [("x", float(v), 1.0) for v in [5, 1, 9, 3, 7]], "g string, v double, w double"
    )
    out = weighted_median(eq, "v", "w", ["g"]).first()
    assert out["wmedian"] == 5.0

    # ungrouped form
    assert weighted_median(eq, "v", "w").first()["wmedian"] == 5.0


def test_normalize_nfc_composes_and_is_idempotent(spark):
    """pipeline/text.normalize_nfc: decomposed combining sequences and
    Hangul jamo compose to their canonical forms; NFC-invariant ligatures
    and superscripts pass through; nulls survive; the map is idempotent.
    (Cross-engine agreement with DuckDB's ICU nfc_normalize is pinned by
    the web_hygiene_ops[nfc] driver gate.)"""
    import unicodedata

    from enterprise_warp_spark.pipeline.text import normalize_nfc

    rows = [
        (1, "éclair"),             # e + acute -> precomposed
        (2, "Ångström"),     # ring + diaeresis
        (3, "ȫ"),            # stacked diacritics
        (4, "가"),             # Hangul jamo -> syllable
        (5, "ﬁle 2⁵"),         # NFC-invariant ligature/superscript
        (6, None),
        (7, "plain ascii"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r["text"] for r in normalize_nfc(df).collect()}
    for i, raw in rows:
        want = None if raw is None else unicodedata.normalize("NFC", raw)
        assert got[i] == want, i
    assert got[1] == "éclair" and got[4] == "가"
    assert got[5] == "ﬁle 2⁵"  # NFC leaves compatibility forms
    # idempotent: a second pass changes nothing
    twice = {
        r["doc_id"]: r["text"]
        for r in normalize_nfc(normalize_nfc(df)).collect()
    }
    assert twice == got


def test_image_near_dup_pairs_reuses_precomputed_fingerprints(spark):
    """image_near_dup_pairs(fingerprints=): passing a precomputed
    fingerprint table must yield exactly the pairs of the self-computed
    path — and a doctored fingerprint table proves the parameter is
    actually honored (not silently recomputed)."""
    import numpy as np
    from pyspark.sql import functions as F

    from enterprise_warp_spark.pipeline import codecs
    from enterprise_warp_spark.pipeline.multimodal import (
        MEDIA_SCHEMA,
        image_fingerprints,
        image_near_dup_pairs,
    )

    rng = np.random.default_rng(3)
    base = rng.integers(0, 256, (8, 9), dtype=np.uint8)
    rows = []
    for mid in range(6):
        img = base.copy()
        img[7, mid % 9] ^= 0x80  # tiny per-image perturbation
        rows.append(
            (mid, "image", codecs.encode_png(img), "image/png", 9, 8,
             None, None)
        )
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    fp = image_fingerprints(media).filter(F.col("decoded"))
    auto = {
        (r["media_a"], r["media_b"], r["hamming"])
        for r in image_near_dup_pairs(media, max_hamming=64).collect()
    }
    reused = {
        (r["media_a"], r["media_b"], r["hamming"])
        for r in image_near_dup_pairs(
            media, max_hamming=64, fingerprints=fp
        ).collect()
    }
    assert auto == reused and len(auto) > 0
    doctored = fp.withColumn(
        "fingerprint", F.lit(0).cast("long")
    )
    forced = image_near_dup_pairs(media, max_hamming=0, fingerprints=doctored)
    # all-zero fingerprints -> every pair collides at hamming 0
    assert forced.count() == 15  # C(6,2)


def test_bench_reprobe_helper(spark, tmp_path):
    """bench.reprobe_worst (the judge's noise-adjudication signal): the
    'reprobe' key must land in the summary dict with one median per query,
    and a broken registry must degrade to 'reprobe_error' — never raise
    (the final summary line must always print)."""
    import sys
    import types

    sys.path.insert(0, "/root/repo")
    try:
        from bench import reprobe_worst
    finally:
        sys.path.pop(0)

    def q1(s, d):
        return s.range(3)

    def q2(s, d):
        return s.range(5).selectExpr("id * 2 as v")

    registry = {
        "a": types.SimpleNamespace(spark=q1),
        "b": types.SimpleNamespace(spark=q2),
    }
    summary = {"value": 1.0}
    out = reprobe_worst(spark, str(tmp_path), registry, ["a", "b"], summary,
                        n_probes=2)
    assert out is summary
    assert set(summary["reprobe"]) == {"a", "b"}
    assert all(v >= 0 for v in summary["reprobe"].values())

    bad = {"a": types.SimpleNamespace(spark=lambda s, d: 1 / 0)}
    summary2: dict = {}
    reprobe_worst(spark, str(tmp_path), bad, ["a"], summary2, n_probes=1)
    assert summary2["reprobe_error"] == "ZeroDivisionError"
    assert summary2["reprobe"] == {}  # partial results kept, none here
    # ad-hoc x_ timings with no runner degrade to a -1.0 sentinel instead
    # of a KeyError that would kill every other reprobe
    summary3: dict = {}
    reprobe_worst(spark, str(tmp_path), registry,
                  ["a", "x_unknown_entry"], summary3, n_probes=1)
    assert summary3["reprobe"]["x_unknown_entry"] == -1.0
    assert summary3["reprobe"]["a"] >= 0
    # x_ entries WITH a runner are re-timed like registry gates
    # (r14 verdict #5: x_importance_wave was flagged 11.16x in-sweep and
    # reprobe returned -1.0 — un-adjudicable)
    ran = []
    summary4: dict = {}
    reprobe_worst(
        spark, str(tmp_path), registry, ["x_extra"], summary4, n_probes=2,
        extra_runners={"x_extra": lambda s, d: ran.append(d)},
    )
    assert summary4["reprobe"]["x_extra"] >= 0
    assert ran == [str(tmp_path)] * 2


def test_bench_final_line_stays_under_driver_tail():
    """compact_final_summary (r13 verdict #1): the driver keeps only a
    2000-char stdout tail, and r13's artifact parsed as null because the
    final line embedded all 52 sf1 per-query times. The serializer must
    (a) pass small summaries through verbatim, (b) shed bulky optional
    fields (sf1_recorded first) when over the limit and mark truncated,
    and (c) fail LOUD, not silently truncate, if the headline fields
    alone overflow."""
    import json
    import sys

    sys.path.insert(0, "/root/repo")
    try:
        from bench import compact_final_summary
    finally:
        sys.path.pop(0)

    small = {"value": 1.23, "unit": "sec", "basket_ratio_vs_r1": 0.58}
    line = compact_final_summary(dict(small))
    assert json.loads(line) == small

    # an r13-shaped overflow: full sf1 block embedded
    big = dict(small)
    big["sf1_recorded"] = {"queries": {f"q{i}": 1.0 for i in range(200)}}
    big["worst"] = [["q1", 1.2, 0.1]]
    summary = dict(big)
    line = compact_final_summary(summary, limit=600)
    assert len(line) <= 600
    parsed = json.loads(line)
    assert parsed["truncated"] is True
    assert "sf1_recorded" not in parsed  # shed first
    assert parsed["value"] == 1.23  # headline survives
    assert "worst" in parsed  # shedding stops once under the limit
    # non-destructive (r14 review): the caller's dict keeps every field
    # even after an overflow trim
    assert summary == big

    # headline fields alone over the limit -> loud failure, never a
    # silently-truncated artifact
    import pytest

    huge = {"value": 1.0, "queries": {f"q{i}": 1.0 for i in range(500)}}
    with pytest.raises(SystemExit):
        compact_final_summary(huge, limit=100)

    # r14 verdict #1: the driver was perf-blind for two rounds because the
    # final line carried only aggregates. The real bench summary — all ~54
    # per-query medians at 2 decimals PLUS every diagnostic — must fit the
    # 1800-char bound by shedding diagnostics only; "queries" is never shed.
    # the real entry set: every registry gate plus the 4 x_ extras
    from bench import X_RUNNERS

    from enterprise_warp_spark.queries import REGISTRY

    names = sorted(set(REGISTRY) | set(X_RUNNERS))
    assert len(names) >= 54
    real = {
        "metric": "total_query_wall_seconds",
        "value": 123.4567,
        "unit": "sec",
        "sf": 0.1,
        "queries": {q: 12.34 for q in names},
        "basket_n": 32,
        "basket_ratio_vs_r1": 0.8613,
        "worst": [["multimodal_binary_meta", 3.39, 0.1427]] * 3,
        "all_ratio_vs_r11": 1.6053,
        "worst_vs_r11": [["x_importance_wave", 11.16]] * 3,
        "sentinel_factor": [1.823, 4.619],
        "all_ratio_vs_r11_norm": 0.4984,
        "worst_vs_r11_norm": [["x_importance_wave", 3.46]] * 3,
        "reprobe": {f"long_reprobe_entry_{i}": 7.5483 for i in range(5)},
        "sf1_recorded": {
            "total_sec": 219.3727, "n_queries": 53, "detail": "SCALE_sf1.json"
        },
    }
    line = compact_final_summary(dict(real), limit=1800)
    assert len(line) <= 1800
    parsed = json.loads(line)
    assert parsed["queries"] == real["queries"]  # never shed
    assert parsed["sf"] == 0.1 and parsed["value"] == 123.4567


def test_semdedup_stage_keeps_coverage_less_docs(spark, sf_dir):
    """ADVICE r13 (medium): the recipe's SemDeDup stage must only remove
    ids SemDeDup actually judged duplicates. A kept doc with NO row in
    semdedup_embeddings is unjudged — it must survive the stage and must
    NOT appear in dropped_semdedup (the old left_semi keep-list join
    silently removed it and mislabeled it a semantic duplicate)."""
    from pyspark.sql import functions as F

    from enterprise_warp_spark.pipeline.curate import (
        CurationConfig,
        ServingConfig,
        prepare_training_corpus,
    )
    from enterprise_warp_spark.tables import table

    docs = table(spark, sf_dir, "documents").filter(F.col("doc_id") < 60)
    base = prepare_training_corpus(docs, CurationConfig(min_tokens=5))
    kept_ids = sorted(
        r["doc_id"] for r in base["kept"].select("doc_id").collect()
    )
    assert len(kept_ids) >= 4
    dup_a, dup_b = kept_ids[0], kept_ids[1]
    uncovered = set(kept_ids[2:4])  # no embedding rows at all

    covered = [i for i in kept_ids if i not in uncovered]
    src = [(i, i if i != dup_b else dup_a) for i in covered]
    emb = spark.createDataFrame(src, ["vec_id", "__s"]).select(
        "vec_id",
        F.array(
            F.cos("__s"), F.sin("__s"),
            F.cos(F.col("__s") * 0.7), F.sin(F.col("__s") * 0.31),
        ).alias("embedding"),
    )
    out = prepare_training_corpus(
        docs,
        CurationConfig(min_tokens=5),
        ServingConfig(
            semdedup_embeddings=emb,
            semdedup_threshold=1.0,
            semdedup_n_cells=4,
        ),
    )
    kept_after = {r["doc_id"] for r in out["kept"].select("doc_id").collect()}
    dropped = {r["doc_id"] for r in out["dropped_semdedup"].collect()}
    # the true duplicate goes; the coverage-less docs stay and are not
    # reported as semantic duplicates
    assert dup_b in dropped and dup_b not in kept_after
    assert uncovered <= kept_after
    assert not (uncovered & dropped)


def test_x_importance_wave_value_is_pinned(spark):
    """r13 verdict #8: the bench-only importance-wave entry's evidence
    value is seed-deterministic (partition-seeded rand/randn columns);
    the run must reproduce the committed pin exactly — a drift means the
    sampling columns or weight algebra changed, not noise."""
    import sys

    sys.path.insert(0, "/root/repo")
    try:
        from bench import (
            X_IMPORTANCE_LOGZ_PIN,
            X_IMPORTANCE_LOGZ_TOL,
            _run_x_importance_wave,
        )
    finally:
        sys.path.pop(0)
    logz = _run_x_importance_wave(spark, "")
    assert abs(logz - X_IMPORTANCE_LOGZ_PIN) <= X_IMPORTANCE_LOGZ_TOL
    # and the pin itself stays near the analytic answer
    # ln(sqrt(2pi)*sqrt(2pi)*0.5/400) = -4.8465 (IS noise at n=8192)
    assert abs(X_IMPORTANCE_LOGZ_PIN + 4.8465) < 0.02


def test_sketch_branch_timing_instrumentation(spark, monkeypatch, sf_tiny):
    """r13 verdict #4: SPARK_GRAFT_BRANCH_TIMING=1 fills
    BRANCH_SECONDS[gate] with one positive entry per union branch and must
    NOT change the gate's rows (the executor only adds isolated noop
    materializations)."""
    from enterprise_warp_spark.queries import BRANCH_SECONDS, REGISTRY
    from tests.oracle import _normalize

    gate = "learned_sketch_ops"
    monkeypatch.delenv("SPARK_GRAFT_BRANCH_TIMING", raising=False)
    plain = _normalize(REGISTRY[gate].spark(spark, sf_tiny).toPandas())
    assert gate not in BRANCH_SECONDS
    monkeypatch.setenv("SPARK_GRAFT_BRANCH_TIMING", "1")
    timed = _normalize(REGISTRY[gate].spark(spark, sf_tiny).toPandas())
    secs = dict(BRANCH_SECONDS[gate])
    assert len(secs) == 13 and all(v > 0 for v in secs.values())
    assert set(secs) == {
        "blm", "hh", "semd", "hll_gk", "lmp", "ccn", "rpj", "dsr",
        "cms", "ams", "kmc", "kvx", "dds",
    }
    assert plain.equals(timed)


def test_web_hygiene_branch_timing_instrumentation(spark, monkeypatch, sf_tiny):
    """Same contract as the learned_sketch attribution: timing fills one
    positive entry per web_hygiene branch and does not change rows."""
    from enterprise_warp_spark.queries import BRANCH_SECONDS, REGISTRY
    from tests.oracle import _normalize

    gate = "web_hygiene_ops"
    monkeypatch.delenv("SPARK_GRAFT_BRANCH_TIMING", raising=False)
    plain = _normalize(REGISTRY[gate].spark(spark, sf_tiny).toPandas())
    assert gate not in BRANCH_SECONDS
    monkeypatch.setenv("SPARK_GRAFT_BRANCH_TIMING", "1")
    timed = _normalize(REGISTRY[gate].spark(spark, sf_tiny).toPandas())
    secs = dict(BRANCH_SECONDS[gate])
    assert set(secs) == {
        "stm", "wrc", "url_dom", "moj", "tag", "tok", "spl", "pii",
        "nfc", "bpe", "uni", "gqr", "c4f", "lnd",
    }
    assert all(v > 0 for v in secs.values())
    assert plain.equals(timed)
