"""URL canonicalization + mojibake repair."""

from __future__ import annotations

from pyspark.sql import functions as F


def test_canonical_url_cases(spark):
    from enterprise_warp_spark.pipeline.weburl import canonical_url

    cases = [
        # scheme/host case, default port, fragment
        ("HTTP://Example.COM:80/Path/?b=2&a=1#frag", "http://example.com/Path?a=1&b=2"),
        # https default port; non-default kept
        ("https://a.org:443/x", "https://a.org/x"),
        ("https://a.org:8443/x", "https://a.org:8443/x"),
        # tracking params removed, others sorted; trailing slash stripped
        ("https://s.io/p/?utm_source=tw&z=1&a=2&fbclid=xyz", "https://s.io/p?a=2&z=1"),
        # all params tracking -> no query part
        ("http://s.io/p?utm_campaign=c", "http://s.io/p"),
        # root path keeps its slash
        ("http://h.net/", "http://h.net/"),
        # non-URL passes through untouched
        ("not a url at all", "not a url at all"),
        (None, None),
    ]
    df = spark.createDataFrame(
        [(i, u) for i, (u, _) in enumerate(cases)], "i long, url string"
    )
    got = {
        r["i"]: r["c"]
        for r in df.select("i", canonical_url("url").alias("c")).collect()
    }
    for i, (_, want) in enumerate(cases):
        assert got[i] == want, (i, got[i], want)


def test_canonical_url_enables_dedup_and_domain_grouping(spark):
    from enterprise_warp_spark.pipeline.weburl import (
        canonical_url,
        registrable_domain,
    )

    urls = [
        "https://News.example.com/story/1?utm_source=x",
        "https://news.example.com:443/story/1",
        "https://news.example.com/story/1#comments",
        "https://shop.example.co.uk/item",
        "https://www.example.co.uk/item2",
        "http://example.com/other",
    ]
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    out = df.select(
        canonical_url("url").alias("c"),
    ).withColumn("host", F.parse_url("c", F.lit("HOST"))).withColumn(
        "dom",
        registrable_domain("host"),
    )
    rows = out.collect()
    # the three spellings of story/1 collapse to ONE canonical form
    assert len({r["c"] for r in rows[:3]}) == 1
    doms = [r["dom"] for r in rows]
    assert doms[0] == "example.com" and doms[5] == "example.com"
    assert doms[3] == "example.co.uk" and doms[4] == "example.co.uk"


def test_mojibake_repair_fixes_double_encoding_only(spark):
    from enterprise_warp_spark.pipeline.weburl import repair_mojibake

    clean = "café già — naïve résumé “quoted” and 中文 stays"
    broken = clean.encode("utf-8").decode("cp1252", errors="replace")
    # only test when the classic round trip actually applies (no lossy
    # replacement chars from the cp1252 holes)
    assert "�" not in broken[:20]
    rows = [
        (1, broken),
        (2, clean),
        (3, "plain ascii text"),
        (4, None),
        (5, "Ã lone tell that does NOT round-trip to utf-8 Ã"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in repair_mojibake(df).collect()}
    assert out[2]["text"] == clean and out[2]["mojibake_fixed"] is False
    assert out[3]["mojibake_fixed"] is False
    assert out[4]["text"] is None and out[4]["mojibake_fixed"] is False
    assert out[5]["text"] == rows[4][1] or out[5]["mojibake_fixed"] in (False,)
    # the broken row repairs back to the clean original
    if "�" not in broken:
        assert out[1]["mojibake_fixed"] is True
        assert out[1]["text"] == clean


def test_canonical_url_keeps_content_identifying_ref_param(spark):
    """Bare ?ref= selects different resources on major sites (GitHub
    branches) — it must survive canonicalization by default, while the
    tracking variant ref_src still strips; the param list is overridable."""
    from enterprise_warp_spark.pipeline.weburl import canonical_url

    df = spark.createDataFrame(
        [
            (0, "https://github.com/o/r/tree?ref=main"),
            (1, "https://example.com/p?ref_src=twsrc&x=1"),
        ],
        "i long, url string",
    )
    got = {
        r["i"]: r["c"]
        for r in df.select("i", canonical_url("url").alias("c")).collect()
    }
    assert got[0] == "https://github.com/o/r/tree?ref=main"
    assert got[1] == "https://example.com/p?x=1"
    # per-corpus override: caller decides ref IS noise for their crawl
    strict = df.select(
        "i", canonical_url("url", tracking_params="ref|ref_src").alias("c")
    ).collect()
    assert {r["i"]: r["c"] for r in strict}[0] == "https://github.com/o/r/tree"


