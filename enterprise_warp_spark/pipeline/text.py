"""Text analysis for training-data pipelines: tokenization, language ID,
quality scores, fingerprints.

All pure Catalyst expressions (split/filter/transform/aggregate + md5) so the
work stays in whole-stage codegen — at 100 TB the text columns stream through
the JVM with zero Python round-trips.

PRECONDITION: stopword matching and the BPE-ish token regex assume
lowercased text — run normalize_text (or lower(text)) first; raw
upper/mixed-case input skews language-ID hits and token counts.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# md5-derived portable 64-bit hash: identical in Spark (conv) and DuckDB
# (hex-literal cast); 15 hex digits keeps it < 2^60 (positive int64).
H64 = "cast(conv(substr(md5({s}), 1, 15), 16, 10) as bigint)"

TOKENS = "filter(split({s}, ' '), x -> x != '')"

# Max multiplicity of any element in a string array, computed scale-safe:
# sort once (O(n log n)) then a single run-length aggregate — stays inside
# whole-stage codegen with no shuffle, unlike the naive
# transform(array_distinct, g -> count matches) form which is O(n·d) per row
# and explodes on long documents. Init prev='' is safe: TOKENS drops empties.
MAXRUN = (
    "aggregate(array_sort({a}), named_struct('prev', cast('' as string), 'run', 0, 'best', 0), "
    "(acc, x) -> named_struct('prev', x, "
    "'run', CASE WHEN x = acc.prev THEN acc.run + 1 ELSE 1 END, "
    "'best', greatest(acc.best, CASE WHEN x = acc.prev THEN acc.run + 1 ELSE 1 END)), "
    "acc -> acc.best)"
)

# Adjacent-token bigrams; guarded because Spark's sequence(1, 0) counts DOWN.
BIGRAMS = (
    "CASE WHEN size({t}) >= 2 THEN transform(sequence(1, size({t}) - 1), "
    "i -> concat(element_at({t}, i), ' ', element_at({t}, i + 1))) "
    "ELSE cast(array() as array<string>) END"
)

STOPWORDS = {
    "en": ("the", "a", "of", "and", "to", "in", "is"),
    "es": ("el", "la", "de", "que", "y", "los"),
    "de": ("der", "die", "das", "und", "ist", "von"),
}


def tokens(col: str = "text") -> Column:
    return F.expr(TOKENS.format(s=col))


def stopword_hits(tok_expr: str, lang: str) -> str:
    arr = ", ".join(f"'{w}'" for w in STOPWORDS[lang])
    return f"size(filter({tok_expr}, x -> array_contains(array({arr}), x)))"


def langid(df: DataFrame, text_col: str = "text") -> DataFrame:
    """n-gram-heuristic language ID: stopword-hit voting per language.

    Returns doc rows + per-language hit counts + predicted label
    ('und' when no stopwords hit at all).
    """
    hits = {lang: stopword_hits("__tok", lang) for lang in STOPWORDS}
    pred = (
        "CASE WHEN en_hits = 0 AND es_hits = 0 AND de_hits = 0 THEN 'und' "
        "WHEN en_hits >= es_hits AND en_hits >= de_hits THEN 'en' "
        "WHEN es_hits >= de_hits THEN 'es' ELSE 'de' END"
    )
    # stage the token array once (SPARK-35410: lambda expressions are not
    # deduplicated, so three hit columns would tokenize three times).
    # __tok is internal scratch: drop any stale copy first so repeated
    # application (or input that carries one from an earlier stage) cannot
    # raise a duplicate-column AnalysisException or resolve ambiguously.
    out = df.drop("__tok").select(
        "*", F.expr(TOKENS.format(s=text_col)).alias("__tok")
    )
    for lang, expr in hits.items():
        out = out.withColumn(f"{lang}_hits", F.expr(expr))
    return out.withColumn("predicted", F.expr(pred)).drop("__tok")


def quality_scores(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Heuristic quality scoring: token stats + stopword ratio + a combined
    score. Mirrors the length/punct/stopword-ratio style filters used in
    public web-scale dataset pipelines."""
    t = TOKENS.format(s=text_col)
    n_tok = f"size({t})"
    return df.select(
        "doc_id",
        F.expr(f"length({text_col})").alias("n_chars_obs"),
        F.expr(n_tok).alias("n_tokens"),
        F.round(
            F.expr(
                f"(length({text_col}) - length(replace({text_col}, ' ', ''))) "
                f"/ cast(greatest({n_tok}, 1) as double)"
            ),
            6,
        ).alias("space_ratio"),
        F.round(
            F.expr(
                f"length(replace({text_col}, ' ', '')) / cast(greatest({n_tok}, 1) as double)"
            ),
            6,
        ).alias("avg_token_len"),
        F.round(
            F.expr(
                f"{stopword_hits(t, 'en')} / cast(greatest({n_tok}, 1) as double)"
            ),
            6,
        ).alias("stopword_ratio"),
        F.round(
            F.expr(
                f"0.5 * least(cast({n_tok} as double) / 100, cast(1 as double)) + 0.5 * "
                f"({stopword_hits(t, 'en')} / cast(greatest({n_tok}, 1) as double))"
            ),
            6,
        ).alias("quality_score"),
    )


def token_counts(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Whitespace token count + BPE-ish regex token count (letter runs, digit
    runs, single punctuation — the classic pre-tokenizer shape)."""
    return df.select(
        "doc_id",
        F.expr(f"size({TOKENS.format(s=text_col)})").alias("n_ws_tokens"),
        F.expr(
            f"size(regexp_extract_all({text_col}, '[a-z]+|[0-9]+|[^a-z0-9 ]', 0))"
        ).alias("n_bpe_tokens"),
    )


def _repetition_cols(text_col: str) -> list[Column]:
    """Gopher/C4-style repetition + symbol signals over materialized `__tok`
    and `__big` columns (see repetition_metrics for the staging contract)."""
    return [
        F.expr("size(array_distinct(__tok))").alias("n_distinct_tokens"),
        F.round(
            F.expr(
                "(size(__tok) - size(array_distinct(__tok))) "
                "/ cast(greatest(size(__tok), 1) as double)"
            ),
            6,
        ).alias("dup_token_ratio"),
        F.round(
            F.expr(
                MAXRUN.format(a="__tok")
                + " / cast(greatest(size(__tok), 1) as double)"
            ),
            6,
        ).alias("top_token_share"),
        F.round(
            F.expr(
                "(size(__big) - size(array_distinct(__big))) "
                "/ cast(greatest(size(__big), 1) as double)"
            ),
            6,
        ).alias("dup_bigram_ratio"),
        F.round(
            F.expr(
                MAXRUN.format(a="__big")
                + " / cast(greatest(size(__big), 1) as double)"
            ),
            6,
        ).alias("top_bigram_share"),
        F.round(
            F.expr(
                f"length(regexp_replace({text_col}, '[a-z0-9 ]', '')) "
                f"/ cast(greatest(length({text_col}), 1) as double)"
            ),
            6,
        ).alias("symbol_char_ratio"),
    ]


def _with_token_arrays(df: DataFrame, text_col: str) -> DataFrame:
    """Stage the token/bigram arrays as real columns so each is computed ONCE.
    Catalyst's CollapseProject leaves these projections alone (the aliases are
    non-cheap and multiply referenced), which is exactly what we want — no
    re-tokenization per downstream expression."""
    staged = df.drop("__tok", "__big").select(
        "*", F.expr(TOKENS.format(s=text_col)).alias("__tok")
    )
    return staged.select("*", F.expr(BIGRAMS.format(t="__tok")).alias("__big"))


def repetition_metrics(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Repetition / boilerplate signals used by web-scale curation filters
    (the Gopher 'repetitious text' family, C4 policy filters):

      dup_token_ratio    fraction of tokens that repeat an earlier token
      top_token_share    share of tokens taken by the single most frequent one
      dup_bigram_ratio   same, over adjacent-token bigrams
      top_bigram_share   share of bigrams taken by the most frequent bigram
      symbol_char_ratio  non-alphanumeric, non-space character fraction

    All pure Catalyst expressions; the max-multiplicity terms use the
    sort+run-length MAXRUN form so cost is O(n log n) per document even at
    10k-token documents (no O(n·d) lambda scans, no explode/shuffle)."""
    return _with_token_arrays(df, text_col).select(
        "doc_id", *_repetition_cols(text_col)
    )


def all_metrics(df: DataFrame, text_col: str = "text") -> DataFrame:
    """One wide per-document projection with every text metric: language-ID
    hit counts + prediction, quality scores, token counts and fingerprints —
    a single scan + single shuffle-free select (the shape a curation pass
    runs at 100 TB: compute all row-wise features in one pass, not four).
    """
    from enterprise_warp_spark.functions.arrays import spread

    # every token-derived metric reads the STAGED __tok column — Spark skips
    # subexpression elimination for lambda expressions (SPARK-35410), so
    # formatting TOKENS into each expression would re-tokenize the text
    # ~15x per row (the pred CASE alone embeds it 6x)
    t = "__tok"
    n_tok = f"size({t})"
    hits = {lang: stopword_hits(t, lang) for lang in STOPWORDS}
    pred = (
        f"CASE WHEN {hits['en']} = 0 AND {hits['es']} = 0 AND {hits['de']} = 0 THEN 'und' "
        f"WHEN {hits['en']} >= {hits['es']} AND {hits['en']} >= {hits['de']} THEN 'en' "
        f"WHEN {hits['es']} >= {hits['de']} THEN 'es' ELSE 'de' END"
    )
    poly = (
        "aggregate(filter(split({s}, ''), x -> x != ''), cast(0 as bigint), "
        "(acc, c) -> (acc * 31 + ascii(c)) % 1000000007)"
    )
    return _with_token_arrays(spread(df), text_col).select(
        "doc_id",
        "lang",
        F.expr(hits["en"]).alias("en_hits"),
        F.expr(hits["es"]).alias("es_hits"),
        F.expr(hits["de"]).alias("de_hits"),
        F.expr(pred).alias("predicted"),
        F.expr(f"length({text_col})").alias("n_chars_obs"),
        F.expr(n_tok).alias("n_tokens"),
        F.round(
            F.expr(
                f"(length({text_col}) - length(replace({text_col}, ' ', ''))) "
                f"/ cast(greatest({n_tok}, 1) as double)"
            ),
            6,
        ).alias("space_ratio"),
        F.round(
            F.expr(
                f"length(replace({text_col}, ' ', '')) / cast(greatest({n_tok}, 1) as double)"
            ),
            6,
        ).alias("avg_token_len"),
        F.round(
            F.expr(f"{hits['en']} / cast(greatest({n_tok}, 1) as double)"), 6
        ).alias("stopword_ratio"),
        F.round(
            F.expr(
                f"0.5 * least(cast({n_tok} as double) / 100, cast(1 as double)) + 0.5 * "
                f"({hits['en']} / cast(greatest({n_tok}, 1) as double))"
            ),
            6,
        ).alias("quality_score"),
        F.expr(
            f"size(regexp_extract_all({text_col}, '[a-z]+|[0-9]+|[^a-z0-9 ]', 0))"
        ).alias("n_bpe_tokens"),
        F.expr(poly.format(s=text_col)).alias("fp_full"),
        F.expr(poly.format(s=f"substring({text_col}, 1, 64)")).alias("fp_prefix64"),
        *_repetition_cols(text_col),
    )


def fingerprints(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Deterministic document fingerprints: polynomial rolling hash (base 31,
    mod 1e9+7) over characters, full text + 64-char prefix."""
    from enterprise_warp_spark.functions.arrays import spread

    poly = (
        "aggregate(filter(split({s}, ''), x -> x != ''), cast(0 as bigint), "
        "(acc, c) -> (acc * 31 + ascii(c)) % 1000000007)"
    )
    return spread(df).select(
        "doc_id",
        F.expr(poly.format(s=text_col)).alias("fp_full"),
        F.expr(poly.format(s=f"substring({text_col}, 1, 64)")).alias("fp_prefix64"),
    )


def normalize_text(
    df: DataFrame, text_col: str = "text", out_col: str = "text_norm"
) -> DataFrame:
    """Standard pre-dedup text normalization: lowercase, map tab/newline/CR
    to spaces, collapse whitespace runs to single spaces, trim. Dedup keys
    built on the normalized column catch case/spacing variants of the same
    document. Pure Catalyst (map-only at any scale)."""
    return df.withColumn(
        out_col,
        F.trim(
            F.regexp_replace(
                F.lower(F.expr(f"translate({text_col}, '\\t\\n\\r', '   ')")),
                " +",
                " ",
            )
        ),
    )


def compression_ratio(
    df: DataFrame, text_col: str = "text", out_col: str = "zlib_ratio",
    level: int = 6,
) -> DataFrame:
    """df + `out_col`: len(zlib(text)) / len(utf8(text)) — the classic
    cheap redundancy signal (Gopher / RefinedWeb-style filters drop the
    extremes: near-0 ratios are boilerplate/repetition, ratios ~>1 are
    already-compressed or random bytes pretending to be text). Spark has
    no JVM-side deflate expression, so this is the one text metric that
    rides an Arrow-batched pandas UDF — map-only, no shuffle, ~100 MB/s
    per core. Empty/null text scores null (nothing to judge).

    The VALUE is a heuristic: deflate output length at a given level is
    stable for a given zlib build but not contractually identical across
    zlib versions — treat thresholds as tunable, don't hash-gate the raw
    ratio across engines."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def _ratio(s: pd.Series) -> pd.Series:
        import zlib

        def one(t):
            if t is None:
                return None
            b = t.encode("utf-8")
            if not b:
                return None
            return len(zlib.compress(b, level)) / len(b)

        return s.map(one)

    return df.withColumn(out_col, _ratio(F.col(text_col)))


def normalize_nfc(
    df: DataFrame, text_col: str = "text", out_col: str | None = None
) -> DataFrame:
    """Unicode NFC normalization (canonical composition) of a text
    column — the standard first hygiene pass before tokenization /
    hashing, so that 'e' + COMBINING ACUTE and the precomposed 'é' hash,
    dedup and tokenize identically across crawl sources.

    Arrow-batched pandas UDF over stdlib unicodedata (no third-party
    dep); the SQL twin is DuckDB's nfc_normalize(), verified character-
    identical on combining sequences, multi-diacritics, Hangul jamo and
    ligature/superscript NFC-invariants (web_hygiene_ops[nfc] gate +
    tests). Map-only: no shuffle, no driver data."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def _nfc(s: pd.Series) -> pd.Series:
        import unicodedata

        return s.map(
            lambda t: unicodedata.normalize("NFC", t) if t is not None else None
        )

    return df.withColumn(out_col or text_col, _nfc(F.col(text_col)))


# Every UTF-8 lead byte (C2-F4) read back as latin-1/cp1252 lands in
# [Â-ô] ('Ã' for 2-byte Latin, 'ä'-'æ' for CJK, 'ð' for 4-byte emoji);
# the continuation byte (0x80-0xBF) shows up either as
# U+0080-U+00BF (latin-1 reads) or as cp1252's remapped printables (the
# 'â€™' smart-quote wreck). One literal character class covers both,
# valid in Java (Catalyst) and Python regex alike.
_MOJIBAKE_RE = "[Â-ô][-¿€‚ƒ„…†‡ˆ‰Š‹ŒŽ‘’“”•–—˜™š›œžŸ]"


def mojibake_score(text_col: str = "text") -> Column:
    """Count of mojibake marker sequences (UTF-8 bytes mis-decoded as
    latin-1/cp1252: 'Ã©' for 'é', 'â€™' for a right quote). Pure Catalyst
    regexp — a PREFILTER to select candidates cheaply; fix_mojibake is
    the decider. Zero for clean ASCII and typical accented prose (a lone
    'é' has no lead/continuation pair shape); an accented char directly
    followed by a cp1252 punctuation printable ('café–bar') can score
    without being mojibake — the repair's strict-UTF-8 round-trip guard
    leaves such text untouched."""
    return F.regexp_count(F.col(text_col), F.lit(_MOJIBAKE_RE))


def fix_mojibake(
    df: DataFrame,
    text_col: str = "text",
    out_col: str | None = None,
    max_passes: int = 2,
) -> DataFrame:
    """Repair latin-1/cp1252 mojibake (the ftfy/CCNet encoding-fix step):
    re-encode the text as cp1252 (latin-1 fallback) and strictly decode
    as UTF-8; accept a pass only when the text actually carried mojibake
    markers AND the byte round-trip decodes cleanly — legitimate accented
    text re-encodes to bytes that are NOT valid UTF-8, so it can never be
    'repaired' into garbage. `max_passes` handles double-encoded text
    ('ÃÂ©' -> 'Ã©' -> 'é'). Adds `out_col` (default: in-place) and
    a `mojibake_fixed` boolean. Arrow-batched kernel, map-only.

    This is deliberately the conservative core of ftfy (Speer,
    zenodo.2591652): full ftfy also handles HTML-entity soup and
    curly-quote salvage; those live upstream in html.py / normalize.

    Relationship to pipeline/weburl.py repair_mojibake: that one is the
    FROZEN oracle-gated contract (web_hygiene_ops[moj] — single pass,
    cp1252 only, tell-count-reduction acceptance, exactly replayable
    against its DuckDB twin). This is the production generalization:
    latin-1 fallback (repairs 4-byte/CJK wrecks whose bytes are undefined
    in cp1252), multi-pass double-encoding repair, and the free Catalyst
    prefilter. On single-encoded cp1252-representable text the two agree
    (pinned in tests/test_mojibake.py)."""
    import re as _re

    from pyspark.sql.functions import pandas_udf

    marker = _re.compile(_MOJIBAKE_RE)

    @pandas_udf("struct<text: string, fixed: boolean>")
    def _fix(s: pd.Series) -> pd.DataFrame:
        def one(t):
            if t is None or not marker.search(t):
                return t, False
            cur, fixed = t, False
            for _ in range(max_passes):
                if not marker.search(cur):
                    break
                try:
                    raw = cur.encode("cp1252")
                except UnicodeEncodeError:
                    try:
                        raw = cur.encode("latin-1")
                    except UnicodeEncodeError:
                        break
                try:
                    dec = raw.decode("utf-8")
                except UnicodeDecodeError:
                    break
                if dec == cur:
                    break
                cur, fixed = dec, True
            return cur, fixed

        out = s.map(one)
        return pd.DataFrame(
            {"text": out.map(lambda x: x[0]), "fixed": out.map(lambda x: x[1])}
        )

    res = _fix(F.col(text_col))
    return df.withColumn("__mj", res).withColumn(
        out_col or text_col, F.col("__mj.text")
    ).withColumn("mojibake_fixed", F.col("__mj.fixed")).drop("__mj")


GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def gopher_rules(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Gopher quality-rule filter (Rae et al. 2021, arXiv:2112.11446
    Table A1) — the document-level heuristics large-scale curation runs
    before any model-based scoring. Adds one column per rule (pass =
    true), the packed `gopher_mask` (bit i = rule i+1 passed, 127 = all),
    and `gopher_keep`:

      1. word count in [50, 100000]
      2. mean word length in [3, 10]
      3. symbol-to-word ratio ('#' chars + '...' runs) <= 0.1
      4. <= 90% of lines start with a bullet (-, *, the bullet glyph)
      5. <= 30% of lines end with '...'
      6. >= 80% of words contain an alphabetic character
      7. >= 2 distinct Gopher stop words present

    Every rule evaluates in INTEGER arithmetic (e.g. mean word length as
    sum_len >= 3*n_words AND sum_len <= 10*n_words) so the SQL oracle
    replays it exactly — no floating point, no rounding doctrine. One
    map-only projection: no shuffle, no UDF."""
    t = f"filter(split({text_col}, ' '), x -> x != '')"
    lines = f"split({text_col}, '\\n')"
    n_words = f"size({t})"
    sum_wl = f"aggregate({t}, cast(0 as bigint), (a, w) -> a + length(w))"
    alpha = f"size(filter({t}, w -> w rlike '[A-Za-z]'))"
    n_hash = f"length({text_col}) - length(replace({text_col}, '#', ''))"
    n_ell = (
        f"cast((length({text_col}) - "
        f"length(replace({text_col}, '...', ''))) / 3 as int)"
    )
    bullets = (
        f"size(filter({lines}, l -> ltrim(l) like '-%' "
        "or ltrim(l) like '*%' or ltrim(l) like '•%'))"
    )
    ellines = f"size(filter({lines}, l -> rtrim(l) like '%...'))"
    n_lines = f"size({lines})"
    stops = " + ".join(
        f"if(array_contains(transform({t}, w -> lower(w)), '{w}'), 1, 0)"
        for w in GOPHER_STOPWORDS
    )
    out = df.selectExpr(
        "*",
        f"{n_words} as __nw",
        f"{sum_wl} as __swl",
        f"{alpha} as __aw",
        f"({n_hash}) + ({n_ell}) as __sym",
        f"{bullets} as __bl",
        f"{ellines} as __el",
        f"{n_lines} as __nl",
        f"({stops}) as __st",
    ).selectExpr(
        "*",
        "__nw >= 50 and __nw <= 100000 as gopher_word_count",
        "__swl >= 3 * __nw and __swl <= 10 * __nw as gopher_mean_word_len",
        "10 * __sym <= __nw as gopher_symbol_ratio",
        "10 * __bl <= 9 * __nl as gopher_bullet_lines",
        "10 * __el <= 3 * __nl as gopher_ellipsis_lines",
        "10 * __aw >= 8 * __nw as gopher_alpha_words",
        "__st >= 2 as gopher_stop_words",
    ).selectExpr(
        "*",
        "if(gopher_word_count, 1, 0) + if(gopher_mean_word_len, 2, 0) + "
        "if(gopher_symbol_ratio, 4, 0) + if(gopher_bullet_lines, 8, 0) + "
        "if(gopher_ellipsis_lines, 16, 0) + if(gopher_alpha_words, 32, 0) + "
        "if(gopher_stop_words, 64, 0) as gopher_mask",
    ).withColumn(
        "gopher_keep", F.col("gopher_mask") == 127
    )
    return (
        out.withColumnRenamed("__nw", "gopher_n_words")
        .withColumnRenamed("__aw", "gopher_alpha_n")
        .withColumnRenamed("__st", "gopher_stop_n")
        .drop("__swl", "__sym", "__bl", "__el", "__nl")
    )


def c4_filters(df: DataFrame, text_col: str = "text") -> DataFrame:
    """C4 cleaning heuristics (Raffel et al. 2020, arXiv:1910.10683 §2.2)
    — the line-level companion to the document-level gopher_rules:

      * keep only lines that end in terminal punctuation (. ! ? ") and
        contain at least 5 words            -> `c4_clean_text`
      * count the kept lines and the terminal-punctuation sentences in
        the cleaned text                    -> `c4_kept_lines`,
                                               `c4_sentences`
      * flag pages containing the C4 code/boilerplate markers
        ('lorem ipsum', '{', 'javascript', case-insensitive)
                                            -> `c4_flagged`
      * `c4_keep` = >= 3 sentences survive AND not flagged

    Pure string/integer arithmetic over one map-only projection — the
    SQL oracle replays the whole transform exactly (the [c4f] gate hashes
    the cleaned text itself)."""
    keep_line = (
        "l -> (rtrim(l) like '%.' or rtrim(l) like '%!' "
        "or rtrim(l) like '%?' or rtrim(l) like '%\"') "
        "and size(filter(split(l, ' '), x -> x != '')) >= 5"
    )
    kept = f"filter(split({text_col}, '\\n'), {keep_line})"
    clean = f"array_join({kept}, '\\n')"
    low = f"lower({text_col})"
    return df.selectExpr(
        "*",
        f"{clean} as c4_clean_text",
        f"size({kept}) as c4_kept_lines",
        f"length({clean}) - length(translate({clean}, '.!?', ''))"
        " as c4_sentences",
        f"{low} like '%lorem ipsum%' or {low} like '%{{%'"
        f" or {low} like '%javascript%' as c4_flagged",
    ).selectExpr(
        "*", "c4_sentences >= 3 and not c4_flagged as c4_keep"
    )
