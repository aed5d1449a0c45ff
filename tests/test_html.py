"""HTML extraction: tag stripping, entity decode, Catalyst-vs-SAX
agreement on clean markup."""

from __future__ import annotations

from html.parser import HTMLParser


def test_strip_tags_catalyst_matches_sax_on_clean_markup(spark):
    """On well-formed markup with only named entities, the JVM tier and the
    stdlib SAX parser agree on the visible words."""
    from enterprise_warp_spark.pipeline.html import strip_tags_catalyst

    class Text(HTMLParser):
        def __init__(self):
            super().__init__(convert_charrefs=True)
            self.parts = []

        def handle_data(self, data):
            self.parts.append(data)

    page = (
        "<html><body><p>alpha beta</p><p>gamma &amp; delta</p>"
        "<div>epsilon</div></body></html>"
    )
    df = spark.createDataFrame([(1, page)], "doc_id long, html string")
    jvm = df.select(strip_tags_catalyst("html").alias("t")).first()["t"]
    sax = Text()
    sax.feed(page)
    assert jvm.split() == " ".join(sax.parts).split() == [
        "alpha", "beta", "gamma", "&", "delta", "epsilon",
    ]


def test_strip_tags_catalyst_plan_is_jvm_only(spark):
    from enterprise_warp_spark.pipeline.html import strip_tags_catalyst

    df = spark.createDataFrame([(1, "<p>x</p>")], "doc_id long, html string")
    plan = (
        df.select(strip_tags_catalyst("html").alias("t"))
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Python" not in plan and "ArrowEval" not in plan


def test_strip_tags_escaped_entities_do_not_double_decode(spark):
    """'&amp;lt;' is the ESCAPED text '&lt;' — decoding &amp; first would
    double-decode it into a literal '<'; the Catalyst tier must agree with
    html.unescape (&amp; decodes last)."""
    import html as _html

    from enterprise_warp_spark.pipeline.html import strip_tags_catalyst

    body = "a &amp;lt;b&amp;gt; c &amp;amp; d &lt;real&gt; &amp; e"
    df = spark.createDataFrame(
        [(1, f"<p>{body}</p>")], "doc_id long, html string"
    )
    got = df.select(strip_tags_catalyst("html").alias("t")).first()["t"]
    assert got == _html.unescape(body)
    assert "&lt;b&gt;" in got and "<real>" in got and "&amp;" in got


