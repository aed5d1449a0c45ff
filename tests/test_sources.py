"""Golden end-to-end tests against the reference's own example data
(SURVEY §5.2.3): /root/reference/examples/data/*.{tim,par} and the known-good
noise file. Counts and values derived from the reference parser semantics
(enterprise_warp.py:648-660)."""

import pytest
from pyspark.sql import functions as F

DATA = "/root/reference/examples/data"
NOISEFILES = "/root/reference/examples/example_noisefiles"


@pytest.fixture(scope="module")
def toas(spark):
    from enterprise_warp_spark.sources.tim import read_tim

    return read_tim(spark, f"{DATA}/J1832-0836.tim").cache()


def test_active_toa_count(toas):
    # 336 lines - 2 headers - 8 C-commented rows = 326 active TOAs
    assert toas.count() == 326


def test_fake_psr_count(spark):
    from enterprise_warp_spark.sources.tim import read_tim

    assert read_tim(spark, f"{DATA}/fake_psr_0.tim").count() == 122


def test_flag_map_and_backend_census(toas):
    # A11 census over flags['group'] must match the backends in the golden
    # noise file: CASPSR_40CM, PDFB_10CM, PDFB_20CM, PDFB_40CM
    groups = {
        r["g"]
        for r in toas.select(F.col("flags")["group"].alias("g")).distinct().collect()
    }
    assert groups == {"CASPSR_40CM", "PDFB_10CM", "PDFB_20CM", "PDFB_40CM"}


def test_mjd_precision_roundtrip(toas):
    # DECIMAL(27,19) must reproduce the raw 19-significant-digit string
    row = toas.filter(F.col("toa_mjd_str") == "56260.28623951240413348").first()
    assert row is not None
    assert f"{row['toa_mjd']:.14f}".startswith("56260.28623951240413")


def test_per_backend_stats_finite(toas):
    from enterprise_warp_spark.operators.weighted import weighted_mean

    stats = (
        toas.groupBy(F.col("flags")["group"].alias("backend"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sqrt(F.avg(F.col("toa_err_us") ** 2)).alias("rms_err"),
            F.avg("toa_err_us").alias("mean_err"),
        )
        .collect()
    )
    assert len(stats) == 4 and all(r["rms_err"] > 0 for r in stats)
    wm = weighted_mean(toas, "freq_mhz", "toa_err_us").first()
    assert wm["wavg"] > 0


def test_tspan_per_selection(toas):
    # per-backend Tspan != global Tspan (enterprise_models.py:508-539)
    from enterprise_warp_spark.operators.relational import tspan

    glob = tspan(toas, F.col("toa_mjd").cast("double")).first()
    per = tspan(
        toas.withColumn("backend", F.col("flags")["group"]),
        F.col("toa_mjd").cast("double"),
        ["backend"],
    ).collect()
    assert glob["tspan"] > 0
    assert any(r["tspan"] < glob["tspan"] for r in per)


def test_read_tim_tables_keys_each_file_by_its_name(spark, tmp_path):
    """One scan over several files: each path maps to its own table in
    line order with `toa_idx`, whatever the directory is called, and a
    file with no active TOA maps to an empty table."""
    from enterprise_warp_spark.sources.tim import read_tim_tables

    d = tmp_path / "obs.timing dir"
    d.mkdir()
    (d / "J1.tim").write_text(
        "FORMAT 1\n J1 1400.0 55000.2 1.0 ao -be A\n"
        "C 1400.0 55000.0 1.0 ao\n J1 800.0 55000.1 1.0 ao\n"
    )
    (d / "J2.tim").write_text(" J2 1400.0 56000.5 2.0 gbt\n")
    (d / "J3.tim").write_text("FORMAT 1\n")
    got = read_tim_tables(spark, [str(d / f"J{i}.tim") for i in (1, 2, 3)])
    assert sorted(got) == ["J1.tim", "J2.tim", "J3.tim"]
    assert got["J1.tim"]["toa_mjd_str"].tolist() == ["55000.2", "55000.1"]
    assert got["J1.tim"]["toa_idx"].tolist() == [0, 1]
    assert got["J2.tim"]["freq_mhz"].tolist() == [1400.0]
    assert got["J2.tim"]["toa_idx"].tolist() == [0]
    assert got["J3.tim"].empty and "toa_idx" in got["J3.tim"]


def test_par_parse(spark):
    from enterprise_warp_spark.sources.par import read_par

    par = read_par(spark, f"{DATA}/J1832-0836.par")
    rows = {r["param"]: r for r in par.collect()}
    assert rows["PSRJ"]["value"] == "J1832-0836"
    assert rows["F0"]["value"].startswith("367.767115417") and rows["F0"]["fit"] == 1
    assert rows["RAJ"]["value"] == "18:32:27.5923449"
    # DMEPOCH has a 3rd numeric field that is an uncertainty, not a fit flag
    assert rows["DMEPOCH"]["fit"] is None
    assert rows["DMEPOCH"]["uncertainty"] == pytest.approx(3e-9)
    # dynamic schema: fake pulsar has a different parameter set
    fake = read_par(spark, f"{DATA}/fake_psr_0.par")
    assert {r["param"] for r in fake.collect()} != set(rows)


def test_noise_file_source(spark):
    from enterprise_warp_spark.sources.noisefiles import read_noise_files

    nf = read_noise_files(spark, f"{NOISEFILES}/J1832-0836_noise.json")
    rows = {r["key"]: r["value"] for r in nf.collect()}
    assert rows["J1832-0836_CASPSR_40CM_efac"] == pytest.approx(1.0073561516481144)
    psrs = {r["psr"] for r in nf.select("psr").distinct().collect()}
    assert psrs == {"J1832-0836"}


# ---------------------------------------------------------------------------
# S6b — bilby-result JSON posterior source (results.py:1050-1081)
# ---------------------------------------------------------------------------


def _write_bilby_result(tmp_path, label="dynesty_run", n=400):
    """Synthetic golden fixture in the public bilby to_json layout."""
    import json

    import numpy as np

    rng = np.random.default_rng(11)
    post = {
        "red_noise_log10_A": (-14.0 + 0.3 * rng.standard_normal(n)).tolist(),
        "red_noise_gamma": (4.0 + 0.5 * rng.standard_normal(n)).tolist(),
        "nmodel": rng.uniform(-0.5, 1.5, n).round(3).tolist(),
        "log_likelihood": rng.uniform(-1200, -1100, n).round(4).tolist(),
        "log_prior": rng.uniform(-5, 0, n).round(4).tolist(),
    }
    doc = {
        "label": label,
        "sampler": "dynesty",
        "parameter_labels": ["red_noise_log10_A", "red_noise_gamma", "nmodel"],
        "search_parameter_keys": ["red_noise_log10_A", "red_noise_gamma", "nmodel"],
        "log_evidence": -1150.0,
        "posterior": {"__dataframe__": True, "content": post},
    }
    run_dir = tmp_path / "J0000+0000"
    run_dir.mkdir()
    p = run_dir / f"{label}_result.json"
    p.write_text(json.dumps(doc))
    return run_dir, post


def test_bilby_result_round_trip(spark, tmp_path):
    from enterprise_warp_spark.analytics.results_pipeline import (
        load_run_dirs,
        read_run_dir,
    )

    labels = ["red_noise_log10_A", "red_noise_gamma", "nmodel"]
    run_dir, post = _write_bilby_result(tmp_path)
    run = read_run_dir(spark, str(run_dir))
    assert run.labels == labels and run.n_samples == 400
    rows = run.chain.orderBy("step").collect()
    assert len(rows) == 400
    # values keep parameter order; lnpost = log_likelihood + log_prior
    for i in (0, 123, 399):
        r = rows[i]
        assert r["run_id"] == "J0000+0000"
        assert r["values"] == [post[p][i] for p in labels]
        assert abs(r["lnlike"] - post["log_likelihood"][i]) < 1e-12
        assert abs(r["lnpost"] - (post["log_likelihood"][i] + post["log_prior"][i])) < 1e-12

    # the long form the results CLI loads, with no burn-in
    long, run_pars = load_run_dirs(spark, str(tmp_path), burn_frac=0.0)
    assert run_pars == {"J0000+0000": labels}
    got = {(r["step"], r["par"]): r["value"] for r in long.collect()}
    assert len(got) == 400 * len(labels)
    for i in (0, 123, 399):
        assert [got[(i, p)] for p in labels] == [post[p][i] for p in labels]


def test_bilby_chain_runs_results_pipeline(spark, tmp_path):
    """End-to-end: the §3.2 analytics stack consumes bilby output exactly as
    PTMCMC chains (the reference's BilbyWarpResult promise)."""
    import numpy as np

    from enterprise_warp_spark.analytics.chains import (
        credible_levels_by_par,
        log_bayes_factors_from_chain,
        noise_summary,
    )
    from enterprise_warp_spark.analytics.results_pipeline import load_run_dirs

    _, post = _write_bilby_result(tmp_path)
    kept, _ = load_run_dirs(spark, str(tmp_path), burn_frac=0.25)
    assert kept.filter("par = 'nmodel'").count() == 300

    cl = {
        r["par"]: (r["p16"], r["p50"], r["p84"])
        for r in credible_levels_by_par(kept).collect()
    }
    arr = np.array(post["red_noise_gamma"][100:])
    exact = np.percentile(arr, [16, 50, 84], method="linear")
    got = cl["red_noise_gamma"]
    for g, e in zip(got, exact):
        assert abs(g - e) < 1e-9

    bf = log_bayes_factors_from_chain(kept).collect()
    assert len(bf) == 1  # models 0 and 1 -> one pair
    ns = noise_summary(kept)
    assert ns.count() > 0


# ---------------------------------------------------------------------------
# K8 — tempo2 shell source (tempo2_warp.py:4-48), golden stdout fixture
# ---------------------------------------------------------------------------


CANNED_TEMPO2_STDOUT = """\
This program comes with ABSOLUTELY NO WARRANTY.
[tempo2Util.c:396] Warning: [MISC1] Unknown parameter in par file
Starting general2 plugin
"53000.5\t1440.0\t1.2e-06\t0.9e-06\t1.1e-06\t2.0e-07\t3.0e-07
53001.5\t1440.0\t-2.2e-06\t0.8e-06\t-2.0e-06\t1.0e-07\t-1.0e-07
53002.5\t3100.0\t0.5e-06\t1.1e-06\t0.4e-06\t0.5e-07\t0.2e-07
"Finished general2 plugin
Goodbye.
"""


def test_tempo2_sentinel_scrape_and_parse(spark):
    from enterprise_warp_spark.sources.tempo2 import (
        DEFAULT_FORMAT,
        format_fields,
        general2_to_df,
        parse_general2_output,
    )

    assert format_fields(DEFAULT_FORMAT) == [
        "bat", "freq", "post", "err", "posttn", "tndm", "tnrn",
    ]
    scraped = parse_general2_output(CANNED_TEMPO2_STDOUT)
    assert "Warning" not in scraped and "Goodbye" not in scraped
    assert '"' not in scraped
    df = general2_to_df(spark, scraped)
    rows = df.orderBy("bat").collect()
    assert len(rows) == 3
    assert rows[0]["bat"] == 53000.5
    assert rows[1]["post"] == -2.2e-06
    assert rows[2]["freq"] == 3100.0


def test_tempo2_disabled_by_default(spark):
    import pytest as _pytest

    from enterprise_warp_spark.sources.tempo2 import run_tempo2_prediction

    with _pytest.raises(RuntimeError, match="disabled"):
        run_tempo2_prediction(spark, "x.par", "x.tim")


def test_tempo2_residual_bridge_feeds_gp_kernel(spark):
    """general2 output -> residuals_from_general2 -> GP kernel: the §3.1
    raw-data path composes end-to-end on the golden stdout fixture."""
    import pandas as pd

    from enterprise_warp_spark.likelihood.gp import (
        RedComponent,
        gp_loglik_per_pulsar,
    )
    from enterprise_warp_spark.sources.tempo2 import (
        general2_to_df,
        parse_general2_output,
        residuals_from_general2,
    )

    g2 = general2_to_df(spark, parse_general2_output(CANNED_TEMPO2_STDOUT))
    res = residuals_from_general2(g2, "J0000+0000", bat_mjd0=53000.0, err_scale=1.0)
    rows = res.orderBy("toa_s").collect()
    assert [r["toa_s"] for r in rows] == [0.5 * 86400.0, 1.5 * 86400.0, 2.5 * 86400.0]
    assert rows[0]["residual_s"] == 1.2e-06
    assert rows[0]["toa_err_s"] == 0.9e-06
    assert rows[2]["freq_mhz"] == 3100.0
    samples = pd.DataFrame({"sample_id": [0], "log10_A": [-14.0], "gamma": [4.0]})
    lnl = gp_loglik_per_pulsar(res, samples, nfreqs=1).first()["lnl"]
    assert lnl == lnl  # finite, not NaN
    # the noise-subtracted column selects posttn instead
    res_tn = residuals_from_general2(
        g2, "J0000+0000", bat_mjd0=53000.0, residual_col="posttn", err_scale=1.0
    )
    assert res_tn.orderBy("toa_s").first()["residual_s"] == 1.1e-06


def test_apply_noise_dict_distributed(spark, tmp_path):
    """apply_noise_dict joins bound efac/equad/ecorr onto residual rows by
    (psr, backend), keeping data values where unbound, and feeds the
    ECORR-aware reduction; parity with the driver-dict path
    (white_noise_constants -> sampled-constant kernel columns)."""
    import json as _json

    import numpy as np
    import pandas as pd

    from enterprise_warp_spark.likelihood.gp import gp_loglik_per_pulsar
    from enterprise_warp_spark.sources.noisefiles import (
        apply_noise_dict,
        read_noise_files,
        white_noise_constants,
    )

    nf = {
        "J0437-4715_PDFB_20CM_efac": 1.3,
        "J0437-4715_PDFB_20CM_log10_equad": -6.2,
        "J0437-4715_PDFB_20CM_log10_ecorr": -6.5,
        "J0437-4715_CASPSR_40CM_efac": 0.9,
    }
    p = tmp_path / "J0437-4715_noise.json"
    p.write_text(_json.dumps(nf))
    noise = read_noise_files(spark, str(p))

    rng = np.random.default_rng(7)
    tspan = 3.0e8
    rows = []
    for i, t in enumerate(np.sort(rng.uniform(0, tspan, 60))):
        backend = "PDFB_20CM" if i % 2 == 0 else "CASPSR_40CM"
        rows.append(
            ("J0437-4715", float(t), float(rng.normal(0, 1e-6)), 1e-6,
             1.0, 0.0, backend, int(t // (tspan / 12)))
        )
    res = spark.createDataFrame(
        rows,
        "psr string, toa_s double, residual_s double, toa_err_s double, "
        "efac double, equad double, backend string, epoch_id int",
    )
    applied = apply_noise_dict(res, noise)
    got = {r["backend"]: r for r in applied.select("backend", "efac", "equad", "ecorr").distinct().collect()}
    assert got["PDFB_20CM"]["efac"] == 1.3
    assert got["PDFB_20CM"]["equad"] == pytest.approx(10.0**-6.2)
    assert got["PDFB_20CM"]["ecorr"] == pytest.approx(10.0**-6.5)
    assert got["CASPSR_40CM"]["efac"] == 0.9
    assert got["CASPSR_40CM"]["equad"] == 0.0  # unbound: data value kept
    assert got["CASPSR_40CM"]["ecorr"] == 0.0

    # parity: column-applied efac/equad == the driver-dict sampled-constant
    # path (ECORR excluded on both sides; it rides separately)
    consts = white_noise_constants(noise, "J0437-4715")
    samples = pd.DataFrame({"sample_id": [0], "log10_A": [-13.5], "gamma": [4.0]})
    lnl_applied = gp_loglik_per_pulsar(
        applied.drop("ecorr"), samples, nfreqs=4
    ).first()["lnl"]
    samples_const = samples.assign(
        **{k: v for k, v in consts.items() if not k.startswith("log10_ecorr")}
    )
    lnl_const = gp_loglik_per_pulsar(res, samples_const, nfreqs=4).first()["lnl"]
    assert lnl_applied == pytest.approx(lnl_const, rel=1e-12)


def test_apply_noise_dict_requires_backend_column(spark, tmp_path):
    """ADVICE r4: a residual table without a backend column must fail at
    PLAN time with a message naming the column, not as an opaque
    AnalysisException inside run_os_pipeline."""
    import json as _json

    from enterprise_warp_spark.sources.noisefiles import (
        apply_noise_dict,
        read_noise_files,
    )

    p = tmp_path / "J1_noise.json"
    p.write_text(_json.dumps({"J1_X_efac": 1.1}))
    noise = read_noise_files(spark, str(p))
    res = spark.createDataFrame(
        [("J1", 0.0, 0.0, 1e-6, 1.0, 0.0)],
        "psr string, toa_s double, residual_s double, toa_err_s double, "
        "efac double, equad double",
    )
    with pytest.raises(ValueError, match="backend"):
        apply_noise_dict(res, noise)


class TestWarcSource:
    """sources/warc.py: WARC/WET crawl-archive ingestion (no reference
    counterpart — training-pipeline extension surface)."""

    def _sample(self):
        return [
            {
                "warc_type": "warcinfo",
                "content": "software: test-crawler/1.0",
                "content_type": "application/warc-fields",
            },
            {
                "warc_type": "response",
                "target_uri": "https://example.com/a",
                "content": b"HTTP/1.1 200 OK\r\n\r\n<html>A body \xe2\x9c\x93</html>",
                "content_type": "application/http; msgtype=response",
            },
            {
                "warc_type": "conversion",
                "target_uri": "https://example.com/a",
                "content": "A body ✓ extracted text",
                "content_type": "text/plain",
            },
            {
                "warc_type": "conversion",
                "target_uri": "https://example.org/b",
                "content": "second doc text with tokens",
                "content_type": "text/plain",
            },
        ]

    def test_round_trip_plain_and_gzip_members(self, spark, tmp_path):
        from enterprise_warp_spark.sources.warc import (
            encode_warc,
            parse_warc_bytes,
            read_warc,
        )

        recs = self._sample()
        for gz, name in [(False, "f.warc"), (True, "f.warc.gz")]:
            data = encode_warc(recs, gzip_per_record=gz)
            got = parse_warc_bytes(data)
            assert [r["warc_type"] for r in got] == [
                "warcinfo", "response", "conversion", "conversion",
            ]
            assert got[1]["content"].endswith("\xe2\x9c\x93</html>".encode("latin1"))
            assert not any(r["truncated"] for r in got)
            (tmp_path / name).write_bytes(data)
        df = read_warc(spark, str(tmp_path / "*.warc*"))
        rows = df.collect()
        assert len(rows) == 8  # 4 records x 2 files

    def test_truncated_tail_keeps_complete_records(self):
        from enterprise_warp_spark.sources.warc import (
            encode_warc,
            parse_warc_bytes,
        )

        data = encode_warc(self._sample())
        for cut in (len(data) - 7, len(data) - 40):
            got = parse_warc_bytes(data[:cut])
            assert len(got) == 3  # last record incomplete
            assert got[-1]["truncated"] is True
            assert not any(r["truncated"] for r in got[:-1])
        # garbage-only file: one all-null marker row
        got = parse_warc_bytes(b"NOT A WARC FILE AT ALL")
        assert len(got) == 1 and got[0]["truncated"] and got[0]["content"] is None

    def test_binary_payload_with_embedded_crlf(self):
        from enterprise_warp_spark.sources.warc import (
            encode_warc,
            parse_warc_bytes,
        )

        payload = b"\r\n\r\nWARC/1.0\r\n\x00\xff" * 9  # adversarial body
        data = encode_warc(
            [{"warc_type": "resource", "content": payload}]
        )
        got = parse_warc_bytes(data)
        assert len(got) == 1 and got[0]["content"] == payload

    def test_whole_file_gzip(self):
        import gzip as _gzip

        from enterprise_warp_spark.sources.warc import (
            encode_warc,
            parse_warc_bytes,
        )

        data = _gzip.compress(encode_warc(self._sample()))
        got = parse_warc_bytes(data)
        assert len(got) == 4 and not any(r["truncated"] for r in got)

    def test_corrupt_gzip_member_surfaces_as_truncated(self):
        """ADVICE r8: a corrupt member (bad deflate data / CRC, not merely
        truncated) must keep the already-decoded records and mark the file
        truncated instead of raising zlib.error and killing the task."""
        from enterprise_warp_spark.sources.warc import (
            encode_warc,
            parse_warc_bytes,
        )

        recs = self._sample()
        data = bytearray(encode_warc(recs, gzip_per_record=True))
        # flip bits in the deflate payload of the LAST member (past its
        # 10-byte gzip header) so earlier members still decode
        import gzip as _gzip

        # locate the start of the final gzip member
        starts = [
            i for i in range(len(data) - 1)
            if data[i] == 0x1F and data[i + 1] == 0x8B
        ]
        last = starts[-1]
        for off in range(last + 12, min(last + 20, len(data))):
            data[off] ^= 0xFF
        got = parse_warc_bytes(bytes(data))
        # the three leading records decode; the file is flagged truncated
        assert len(got) >= 3
        assert got[-1]["truncated"] is True
        assert [r["warc_type"] for r in got[:3]] == [
            "warcinfo", "response", "conversion",
        ]
        # bad-CRC-only corruption (flip a CRC byte at the member tail)
        data2 = bytearray(encode_warc(recs, gzip_per_record=True))
        data2[-8] ^= 0xFF  # CRC32 field of the last member
        got2 = parse_warc_bytes(bytes(data2))
        assert got2[-1]["truncated"] is True or len(got2) == 4
