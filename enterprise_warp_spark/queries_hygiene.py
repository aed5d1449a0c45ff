"""Driver-facing hash gate for the round-6 web-hygiene / curation families
(VERDICT r6 Next #1): one tag-discriminated union gate (the
``kernel_value_slices`` consolidation pattern) gives every round-6 module a
hash-checked CORRECTNESS row within the driver artifact's 50-entry cap.

Branches (shared schema: gate, k1 string, k2 long, v1 double, h string):

* ``url`` — pipeline.weburl.canonical_url over three synthetic URL shapes
  built from c_custkey (case/port/fragment/tracking/trailing-slash, an
  all-tracking query, and a non-URL passthrough). The oracle constructs the
  EXPECTED canonical string directly — it does not re-implement the parser.
* ``dom`` — weburl.registrable_domain over two-level-suffix, deep-subdomain
  and single-label hosts.
* ``moj`` — weburl.repair_mojibake over a deterministically double-encoded
  corpus (every 'a' replaced by the UTF-8-as-cp1252 'Ã©'); the oracle
  applies the inverse substitution ('a' -> 'é') since the cp1252->utf-8
  round trip provably restores exactly that.
* ``tag`` — pipeline.html.strip_tags_catalyst over documents wrapped in a
  fixed chrome (script block, comment, block tags, escaped entities); the
  oracle builds the expected plain text from the template.
* ``tok`` — pipeline.tokenizer.word_counts (the BPE trainer's single
  corpus shuffle): the Python pre-tokenizer's (word, n) table vs DuckDB
  regexp_extract_all with the RE2 spelling of the SAME Unicode classes
  (_TOK_PATTERN below), so non-ASCII text pre-tokenizes identically in
  both engines.
* ``spl`` — pipeline.dedup.leakage_safe_splits with star-shaped pair
  clusters per (lang, source): component = min doc_id of the cluster, so
  the oracle reproduces the split label from the same md5 hash-range
  arithmetic the engine uses (operators.sampling.split_dataset).
* ``pii`` — pipeline.redact over documents carrying a deterministic
  doc_id-derived PII suffix (one email, URL, IP, long digit run each);
  the oracle builds the EXPECTED scrubbed text from the template (r8).
* ``gqr`` — pipeline.text.gopher_rules (Rae et al. 2021 Table A1): the
  7-rule document quality filter as a pass bitmask; every rule evaluates
  in integer arithmetic (mean word length as sum-of-lengths bounds, the
  ratio rules as cross-multiplied integers), so the oracle replays the
  FILTER itself exactly, with h pinning the word/alpha/stopword counts.
* ``c4f`` — pipeline.text.c4_filters (Raffel et al. 2020 §2.2): the C4
  line filter (terminal punctuation + >=5 words), sentence count and
  blocklist over documents wrapped in a deterministic page chrome; the
  gate hashes the CLEANED TEXT itself plus the keep/drop decision.
* ``lnd`` — pipeline.dedup.strip_repeated_lines (the CCNet/RefinedWeb
  line-dedup): lines occurring in >= 2 distinct docs are stripped from
  every doc; over the same chrome as [c4f], the shared nav/CTA lines,
  the even-id footer and the lorem line all vanish while unique body
  lines survive — the gate hashes each rebuilt text.
* ``stm`` — streaming.corpus.dedup_corpus_stream with the crawl-hygiene
  transform hook: each micro-batch is re-chromed (HTML wrapper varying by
  source), the hook extracts text back out, and near-dup survivors land in
  the corpus. The whole documents table arrives as ONE availableNow batch
  (single parquet file, no maxFilesPerTrigger), so the survivor set equals
  "docs minus within-batch LSH losers" — the same band-join SQL the
  minhash_lsh gate pins. Replay idempotence is pinned separately in
  tests/test_streaming.py.

Determinism: every branch's values are exact (strings, counts, int-valued
doubles) — no rounding needed anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from enterprise_warp_spark.queries import register, run_branches
from enterprise_warp_spark.queries_pipeline import _D_SIG_CTE
from enterprise_warp_spark.tables import table

# RE2 twin of the tokenizer's _PY_PRETOKEN_RE (" ?[^\W\d_]+| ?\d+|\s+|
# [^\s\w]+|_+"): Python's str-mode classes expand to Unicode categories —
# \w = L* u Nd u Nl u No u {_}, so [^\W\d_] = [\p{L}\p{Nl}\p{No}]; \d =
# \p{Nd}; \s = {\t\n\x0B\f\r\x1C-\x1F\x85} u Z* — spelled out here in RE2
# syntax so the DuckDB oracle pre-tokenizes non-ASCII text identically
# (parity pinned corpus-wide in tests/test_tokenizer.py).
_RE2_WS = r"\t\n\x0B\f\r\x1C-\x1F\x85\p{Z}"
_TOK_PATTERN = (
    r" ?[\p{L}\p{Nl}\p{No}]+| ?\p{Nd}+|[" + _RE2_WS + r"]+|[^"
    + _RE2_WS + r"\p{L}\p{N}_]+|_+"
)

# [bpe]: FIXED byte-BPE vocabulary (24 merges), trained ONCE on the sf0.01
# documents word table (pipeline.tokenizer.train_bpe, vocab 256+24) and
# inlined as a literal so both engines replay one merge table at every sf.
# The oracle replays encode as a rank-ordered replace() chain over a
# (hex)-delimited token rendering — exactly equivalent to the tokenizer's
# lowest-rank-first merge walk because BPE training guarantees each rule's
# constituents are base bytes or products of STRICTLY earlier rules (so a
# later merge can never create a pair an earlier rank would have eaten),
# and a single non-overlapping left-to-right replace per rank cannot form
# new occurrences of its own rule (the product is strictly longer than
# either constituent). Equality with the real heap-walk encoder is pinned
# corpus-wide in tests/test_tokenizer.py.
_BPE_MERGES = [
    ("20", "73"), ("65", "72"), ("69", "6e"), ("6f", "77"), ("6f", "72"),
    ("6d", "6572"), ("61", "74"), ("6c", "75"), ("20", "63"), ("61", "73"),
    ("20", "62"), ("20", "76"), ("61", "72"), ("70", "6172"), ("20", "66"),
    ("20", "61"), ("20", "74"), ("6a", "6f"), ("6a6f", "696e"),
    ("6173", "68"), ("68", "617368"), ("20", "6a6f696e"), ("73", "74"),
    ("72", "6f77"),
]
_BPE_TOK = {
    "merges": [list(p) for p in _BPE_MERGES],
    "vocab_size": 256 + len(_BPE_MERGES),
}
# token rendering is SELF-DELIMITING — '(hex)' per token, words joined by
# '/' so no merge can cross a pre-token boundary. A '|t1|t2|' rendering
# would be WRONG: adjacent matches share the boundary pipe, so forward
# non-overlapping replace misses every second back-to-back occurrence
# (caught by the equivalence test on 'hash hashhash'-class inputs).
_BPE_CHAIN_SQL = "s"
for _a, _b in _BPE_MERGES:
    _BPE_CHAIN_SQL = f"replace({_BPE_CHAIN_SQL}, '({_a})({_b})', '({_a}{_b})')"

# [uni]: FIXED unigram-LM model (the _BPE_MERGES convention): 27 coverage
# characters + 29 multi-character pieces with GENERIC log-probs (every
# piece distinct, no sum-commensurate families), inlined as one literal so
# both engines replay one model at every sf. Ids follow
# pipeline.unigram.unigram_vocab: '<unk>' = 0, pieces sorted from 1.
_UNI_CHARS = " abcdefghijklmnopqrstuvwxyz"
_UNI_MULTI = [
    " the", " of", " and", " to", " in", "th", "he", "in", "er", "an",
    "re", "on", "at", "es", "en", "ti", "te", "or", "st", "ar", "al",
    "it", "as", "ed", "is", "ing", "ion", "ent", "ati",
]
_UNI_LOGP = {c: -7.0 - 0.003 * i for i, c in enumerate(_UNI_CHARS)}
_UNI_LOGP |= {p: -(4.0 + 0.07 * i) for i, p in enumerate(_UNI_MULTI)}
_UNI_MODEL = {"logp": _UNI_LOGP, "max_len": 4}
_UNI_PIECES_SQL = ", ".join(
    f"('{p}', CAST({lp!r} AS DOUBLE), {i + 1})"
    for i, (p, lp) in enumerate(sorted(_UNI_LOGP.items()))
)

# [nfc]: deterministic DECOMPOSED suffix appended to every document —
# combining acute / ring / double diacritic / dot-below+above / Hangul
# jamo, plus NFC-invariant ligature and superscript. Written as escapes so
# no tool can silently re-compose the source file. ONE python constant
# feeds both engines (F.lit on the Spark side, a SQL literal in the
# oracle), so the gate pins the normalization itself, not the fixture.
_NFC_SUFFIX = (
    " nfc e\u0301 A\u030A o\u0308\u0304 s\u0323\u0307"
    " \u1100\u1161 \uFB01 2\u2075 fin"
)
_NFC_SUFFIX_SQL = "'" + _NFC_SUFFIX + "'"

_HYGIENE_ORACLE = f"""
    WITH RECURSIVE up(piece, lp, pid) AS (
      SELECT * FROM (VALUES {_UNI_PIECES_SQL})
    ),
    uw AS (
      SELECT DISTINCT UNNEST(regexp_extract_all(text, '{_TOK_PATTERN}')) AS w
      FROM documents
    ),
    useg AS (
      SELECT w, 0 AS pos, CAST(0.0 AS DOUBLE) AS sc, 0 AS np,
             CAST('' AS VARCHAR) AS ids, CAST('' AS VARCHAR) AS rev
      FROM uw
      UNION ALL
      SELECT s.w, s.pos + length(p.piece), s.sc + p.lp, s.np + 1,
             CASE WHEN s.ids = '' THEN CAST(p.pid AS VARCHAR)
                  ELSE s.ids || ',' || p.pid END,
             p.piece || chr(1) || s.rev
      FROM useg s JOIN up p
        ON substr(s.w, s.pos + 1, length(p.piece)) = p.piece
      WHERE s.pos < length(s.w)
    ),
    ubest AS (
      SELECT w, ids, np FROM (
        SELECT w, ids, np, ROW_NUMBER() OVER (
          PARTITION BY w ORDER BY sc DESC, np ASC, rev ASC) AS rn
        FROM useg WHERE pos = length(w)
      ) WHERE rn = 1
    ),
    -- per-char <unk> fallback (ADVICE r13): a word with NO complete
    -- segmentation (any character outside the 27-char coverage blocks
    -- the recursion) mirrors the encoder's fallback — one piece per
    -- character, unknown chars as id 0 — instead of silently vanishing
    -- from the inner join
    uchars AS (
      SELECT w, UNNEST(range(1, length(w) + 1)) AS i
      FROM uw WHERE w NOT IN (SELECT w FROM ubest)
    ),
    ufall AS (
      SELECT c.w,
             string_agg(CAST(COALESCE(p.pid, 0) AS VARCHAR), ','
                        ORDER BY c.i) AS ids,
             COUNT(*) AS np
      FROM uchars c LEFT JOIN up p ON p.piece = substr(c.w, c.i, 1)
      GROUP BY c.w
    ),
    uall AS (
      SELECT w, ids, np FROM ubest
      UNION ALL SELECT w, ids, np FROM ufall
    ),
    uexp AS (
      SELECT doc_id, UNNEST(arr) AS w, UNNEST(range(1, len(arr) + 1)) AS ord
      FROM (SELECT doc_id, regexp_extract_all(text, '{_TOK_PATTERN}') AS arr
            FROM documents)
    ),
    ujoin AS (
      SELECT e.doc_id, string_agg(b.ids, ',' ORDER BY e.ord) AS allids,
             SUM(b.np) AS ntok
      FROM uexp e JOIN uall b ON e.w = b.w
      GROUP BY e.doc_id
    ),
    ku AS (
      SELECT c_custkey, c_custkey % 97 AS k, c_custkey % 7 AS k2 FROM customer
    ),
    words AS (
      SELECT UNNEST(regexp_extract_all(text, '{_TOK_PATTERN}')) AS w
      FROM documents
    ),
    comp AS (
      SELECT doc_id, MIN(doc_id) OVER (PARTITION BY lang, source) AS comp
      FROM documents
    ),
    hx AS (
      SELECT doc_id,
             CAST('0x' || substr(md5(CAST(comp AS VARCHAR) || '|7'), 1, 15)
                  AS BIGINT) / CAST(16.0**15 AS DOUBLE) AS u
      FROM comp
    ),
    {_D_SIG_CTE},
    losers AS (
      SELECT DISTINCT b.doc_id
      FROM bands a JOIN bands b
        ON a.band_id = b.band_id AND a.band_key = b.band_key
       AND a.doc_id < b.doc_id
      WHERE a.doc_id % 2 = 0 AND b.doc_id % 2 = 0
    ),
    chrome AS (
      SELECT doc_id,
             'Menu Home About' || chr(10) || text
             || '. It was a good day. All tests passed.' || chr(10)
             || 'Copyright 2026 all rights reserved'
             || CASE WHEN doc_id % 2 = 0 THEN '.' ELSE '' END
             || chr(10) || 'Click here now!'
             || CASE WHEN doc_id % 7 = 0
                THEN chr(10) || 'And lorem ipsum dolor sit amet today.'
                ELSE '' END AS text
      FROM documents
    ),
    cls AS (SELECT doc_id, string_split(text, chr(10)) AS arr FROM chrome),
    clines AS (
      SELECT doc_id, idx, arr[idx] AS l
      FROM (SELECT doc_id, UNNEST(range(1, len(arr) + 1)) AS idx, arr FROM cls)
    ),
    cboiler AS (
      SELECT l FROM clines GROUP BY l HAVING COUNT(DISTINCT doc_id) >= 2
    )
    SELECT 'url' AS gate, 'u1' AS k1, c_custkey AS k2, 0.0 AS v1,
           'http://www.site' || CAST(k AS VARCHAR) || '.com/Items/'
             || CAST(k AS VARCHAR) || '?a=1&b=' || CAST(k2 AS VARCHAR) AS h
    FROM ku
    UNION ALL
    SELECT 'url', 'u2', c_custkey, 0.0,
           'https://blog.example.co.uk/post/' || CAST(k AS VARCHAR)
    FROM ku
    UNION ALL
    SELECT 'url', 'u3', c_custkey, 0.0,
           'item ' || CAST(k AS VARCHAR) || ' not a url'
    FROM ku
    UNION ALL
    SELECT 'dom', 'd1', c_custkey, 0.0,
           'site' || CAST(k AS VARCHAR) || '.co.uk'
    FROM ku
    UNION ALL
    SELECT 'dom', 'd2', c_custkey, 0.0,
           'site' || CAST(k AS VARCHAR) || '.com'
    FROM ku
    UNION ALL
    SELECT 'dom', 'd3', c_custkey, 0.0, 'localhost' FROM ku
    UNION ALL
    SELECT 'moj', '', doc_id,
           CASE WHEN text LIKE '%a%' THEN 1.0 ELSE 0.0 END,
           substr(md5(replace(text, 'a', 'é')), 1, 16)
    FROM documents
    UNION ALL
    SELECT 'tag', '', doc_id,
           CAST(LENGTH('Doc ' || CAST(doc_id % 50 AS VARCHAR) || chr(10)
                       || text || chr(10) || '& <ok>') AS DOUBLE),
           substr(md5('Doc ' || CAST(doc_id % 50 AS VARCHAR) || chr(10)
                      || text || chr(10) || '& <ok>'), 1, 16)
    FROM documents
    UNION ALL
    SELECT 'tok', w, COUNT(*), 0.0, '' FROM words GROUP BY w
    UNION ALL
    SELECT 'spl',
           CASE WHEN u < 0.1 THEN 'test'
                WHEN u < 0.9 THEN 'train'
                ELSE 'val' END,
           doc_id, 0.0, ''
    FROM hx
    UNION ALL
    SELECT 'stm', '', doc_id, 0.0, substr(md5(text), 1, 16)
    FROM documents
    WHERE doc_id % 2 = 0 AND doc_id NOT IN (SELECT doc_id FROM losers)
    UNION ALL
    SELECT 'pii', '', doc_id, 1111.0,
           substr(md5(text ||
             ' mail <EMAIL> see <URL> ip <IP> acct <NUMBER>'), 1, 16)
    FROM documents
    UNION ALL
    SELECT 'wrc', 'conversion', doc_id,
           CAST(octet_length(encode(text)) AS DOUBLE),
           substr(md5(text), 1, 16)
    FROM (SELECT doc_id, text FROM documents
          WHERE doc_id % 5 = 0 ORDER BY doc_id LIMIT 4096)
    UNION ALL
    SELECT 'nfc', '', doc_id,
           CAST(length(nfc_normalize(text || {_NFC_SUFFIX_SQL})) AS DOUBLE),
           substr(md5(nfc_normalize(text || {_NFC_SUFFIX_SQL})), 1, 16)
    FROM documents
    UNION ALL
    SELECT 'bpe', '', doc_id,
           CAST(length(canon) - length(replace(canon, '(', '')) AS DOUBLE),
           substr(md5(canon), 1, 16)
    FROM (
      SELECT doc_id, replace({_BPE_CHAIN_SQL}, '/', '') AS canon
      FROM (
        SELECT doc_id, array_to_string(list_transform(
          regexp_extract_all(text, '{_TOK_PATTERN}'),
          w -> regexp_replace(lower(hex(encode(w))), '(..)', '(\\1)', 'g')
        ), '/') AS s
        FROM documents
      )
    )
    UNION ALL
    SELECT 'uni', '', d.doc_id, CAST(COALESCE(u.ntok, 0) AS DOUBLE),
           substr(md5(COALESCE(u.allids, '')), 1, 16)
    FROM documents d LEFT JOIN ujoin u USING (doc_id)
    UNION ALL
    SELECT 'gqr', '', doc_id, CAST(mask AS DOUBLE),
           CAST(nw AS VARCHAR) || '|' || CAST(aw AS VARCHAR) || '|' || CAST(st AS VARCHAR)
    FROM (
      SELECT doc_id,
             (CASE WHEN nw >= 50 AND nw <= 100000 THEN 1 ELSE 0 END)
           + (CASE WHEN swl >= 3 * nw AND swl <= 10 * nw THEN 2 ELSE 0 END)
           + (CASE WHEN 10 * sym <= nw THEN 4 ELSE 0 END)
           + (CASE WHEN 10 * bl <= 9 * nl THEN 8 ELSE 0 END)
           + (CASE WHEN 10 * el <= 3 * nl THEN 16 ELSE 0 END)
           + (CASE WHEN 10 * aw >= 8 * nw THEN 32 ELSE 0 END)
           + (CASE WHEN st >= 2 THEN 64 ELSE 0 END) AS mask,
             nw, aw, st
      FROM (
        SELECT doc_id,
               len(list_filter(string_split(text, ' '), x -> x <> '')) AS nw,
               COALESCE(list_sum(list_transform(list_filter(string_split(text, ' '),
                 x -> x <> ''), w -> length(w))), 0) AS swl,
               len(list_filter(list_filter(string_split(text, ' '), x -> x <> ''),
                 w -> regexp_matches(w, '[A-Za-z]'))) AS aw,
               (length(text) - length(replace(text, '#', '')))
                 + CAST((length(text) - length(replace(text, '...', ''))) / 3 AS INT) AS sym,
               len(list_filter(string_split(text, chr(10)),
                 l -> ltrim(l) LIKE '-%' OR ltrim(l) LIKE '*%' OR ltrim(l) LIKE '•%')) AS bl,
               len(list_filter(string_split(text, chr(10)), l -> rtrim(l) LIKE '%...')) AS el,
               len(string_split(text, chr(10))) AS nl,
               ((CASE WHEN list_contains(list_transform(list_filter(string_split(text, ' '), x -> x <> ''), w -> lower(w)), 'the') THEN 1 ELSE 0 END) + (CASE WHEN list_contains(list_transform(list_filter(string_split(text, ' '), x -> x <> ''), w -> lower(w)), 'be') THEN 1 ELSE 0 END) + (CASE WHEN list_contains(list_transform(list_filter(string_split(text, ' '), x -> x <> ''), w -> lower(w)), 'to') THEN 1 ELSE 0 END) + (CASE WHEN list_contains(list_transform(list_filter(string_split(text, ' '), x -> x <> ''), w -> lower(w)), 'of') THEN 1 ELSE 0 END) + (CASE WHEN list_contains(list_transform(list_filter(string_split(text, ' '), x -> x <> ''), w -> lower(w)), 'and') THEN 1 ELSE 0 END) + (CASE WHEN list_contains(list_transform(list_filter(string_split(text, ' '), x -> x <> ''), w -> lower(w)), 'that') THEN 1 ELSE 0 END) + (CASE WHEN list_contains(list_transform(list_filter(string_split(text, ' '), x -> x <> ''), w -> lower(w)), 'have') THEN 1 ELSE 0 END) + (CASE WHEN list_contains(list_transform(list_filter(string_split(text, ' '), x -> x <> ''), w -> lower(w)), 'with') THEN 1 ELSE 0 END)) AS st
        FROM documents
      )
    )
    UNION ALL
    SELECT 'c4f', CASE WHEN c4s >= 3 AND NOT flg THEN 'keep' ELSE 'drop' END,
           doc_id, CAST(c4s AS DOUBLE), substr(md5(clean), 1, 16)
    FROM (
      SELECT doc_id, clean, flg,
             length(clean) - length(translate(clean, '.!?', '')) AS c4s
      FROM (
        SELECT doc_id,
               COALESCE(array_to_string(list_filter(string_split(text, chr(10)), l ->
                 (rtrim(l) LIKE '%.' OR rtrim(l) LIKE '%!'
                  OR rtrim(l) LIKE '%?' OR rtrim(l) LIKE '%"')
                 AND len(list_filter(string_split(l, ' '), x -> x <> '')) >= 5),
                 chr(10)), '') AS clean,
               (lower(text) LIKE '%lorem ipsum%' OR lower(text) LIKE '%{{%'
                OR lower(text) LIKE '%javascript%') AS flg
        FROM chrome
      )
    )
    UNION ALL
    SELECT 'lnd', '', d.doc_id, CAST(COALESCE(r.n, 0) AS DOUBLE),
           substr(md5(COALESCE(r.clean, '')), 1, 16)
    FROM documents d LEFT JOIN (
      SELECT doc_id, COUNT(*) AS n,
             string_agg(l, chr(10) ORDER BY idx) AS clean
      FROM clines WHERE l NOT IN (SELECT l FROM cboiler)
      GROUP BY doc_id
    ) r USING (doc_id)
"""


def _docs_shared(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONE spread + checkpointed documents table shared by the 12
    docs-consuming branches (r15; the learned_sketch_ops _tokdocs /
    _sketch_emb pattern). Two problems at once (guide §2/§6): each
    branch otherwise re-scans + re-decodes documents.parquet (12 scans
    of the text column), and a single-file scan is ONE partition — so
    every branch's heavy per-row map (URL regex, mojibake repair, BPE
    encode, redaction) ran serially regardless of cluster width. The
    spread is a no-op once the scan is at least cluster-parallel (the
    100 TB case).

    Cost at scale: the eager localCheckpoint reads the whole table once
    before any branch starts and keeps a decoded copy of every row in
    executor block storage (MEMORY_AND_DISK) until the gate's DataFrame
    is garbage-collected, so the gate holds roughly the decoded size of
    documents.parquet, which is larger than its compressed file. Where
    that copy does not fit the executors' storage memory the blocks spill
    to local disk and the checkpoint becomes a full disk write of the
    text column. It still replaces 12 scans with one."""
    from enterprise_warp_spark.functions.arrays import spread

    docs = spread(table(spark, sf_dir, "documents"), "doc_id")
    return docs.localCheckpoint(eager=True)


def _url_dom_branches(spark: SparkSession, sf_dir: str) -> DataFrame:
    from enterprise_warp_spark.pipeline.weburl import (
        canonical_url,
        registrable_domain,
    )

    from enterprise_warp_spark.functions.arrays import spread

    # spread: single-file customer scan is one partition, and the six
    # canonicalization cases below are regex-heavy per row (r15, §2)
    ku = spread(table(spark, sf_dir, "customer"), "c_custkey").select(
        F.col("c_custkey").cast("long").alias("k2"),
        (F.col("c_custkey") % 97).cast("string").alias("k"),
        (F.col("c_custkey") % 7).cast("string").alias("kq"),
    )
    raws = {
        "u1": F.concat(
            F.lit("HTTP://WWW.Site"), F.col("k"), F.lit(".COM:80/Items/"),
            F.col("k"), F.lit("/?utm_source=x&b="), F.col("kq"),
            F.lit("&a=1#frag"),
        ),
        "u2": F.concat(
            F.lit("https://Blog.Example.CO.UK/post/"), F.col("k"),
            F.lit("/?utm_campaign=c&fbclid="), F.col("k"),
        ),
        "u3": F.concat(F.lit("item "), F.col("k"), F.lit(" not a url")),
    }
    hosts = {
        "d1": F.concat(F.lit("WWW.Site"), F.col("k"), F.lit(".CO.UK")),
        "d2": F.concat(F.lit("a.b.site"), F.col("k"), F.lit(".com")),
        "d3": F.lit("localhost"),
    }
    # ONE customer scan: the six cases ride a single explode instead of a
    # six-branch union (six scans + six stages for identical input rows)
    cases = [
        F.struct(
            F.lit("url").alias("gate"), F.lit(tag).alias("k1"),
            canonical_url(raw).alias("h"),
        )
        for tag, raw in raws.items()
    ] + [
        F.struct(
            F.lit("dom").alias("gate"), F.lit(tag).alias("k1"),
            registrable_domain(host).alias("h"),
        )
        for tag, host in hosts.items()
    ]
    return ku.select(
        "k2", F.explode(F.array(*cases)).alias("c")
    ).select(
        F.col("c.gate").alias("gate"), F.col("c.k1").alias("k1"), "k2",
        F.lit(0.0).alias("v1"), F.col("c.h").alias("h"),
    )


def _moj_branch(spark: SparkSession, sf_dir: str, docs_in: DataFrame) -> DataFrame:
    from enterprise_warp_spark.pipeline.weburl import repair_mojibake

    docs = docs_in.select("doc_id", "text")
    corrupted = docs.withColumn(
        "text", F.regexp_replace("text", "a", "Ã©")
    )
    return repair_mojibake(corrupted).select(
        F.lit("moj").alias("gate"),
        F.lit("").alias("k1"),
        F.col("doc_id").cast("long").alias("k2"),
        F.col("mojibake_fixed").cast("double").alias("v1"),
        F.substring(F.md5("text"), 1, 16).alias("h"),
    )


def _tag_branch(spark: SparkSession, sf_dir: str, docs_in: DataFrame) -> DataFrame:
    from enterprise_warp_spark.pipeline.html import strip_tags_catalyst

    docs = docs_in.select("doc_id", "text")
    markup = F.concat(
        F.lit('<div class="a"><script type="text/javascript">ignore()'
              "</script><h1>Doc "),
        (F.col("doc_id") % 50).cast("string"),
        F.lit("</h1><p>"),
        F.col("text"),
        F.lit("</p><!-- note --><span>&amp; &lt;ok&gt;</span></div>"),
    )
    stripped = strip_tags_catalyst(markup)
    return docs.select(
        F.lit("tag").alias("gate"),
        F.lit("").alias("k1"),
        F.col("doc_id").cast("long").alias("k2"),
        F.length(stripped).cast("double").alias("v1"),
        F.substring(F.md5(stripped), 1, 16).alias("h"),
    )


def _tok_branch(spark: SparkSession, sf_dir: str, docs_in: DataFrame) -> DataFrame:
    from enterprise_warp_spark.pipeline.tokenizer import word_counts

    docs = docs_in.select("doc_id", "text")
    return word_counts(docs).select(
        F.lit("tok").alias("gate"),
        F.col("word").alias("k1"),
        F.col("n").cast("long").alias("k2"),
        F.lit(0.0).alias("v1"),
        F.lit("").alias("h"),
    )


def _bpe_branch(spark: SparkSession, sf_dir: str, docs_in: DataFrame) -> DataFrame:
    """[bpe] — the REAL distributed encode path (encode_corpus: mapInPandas
    heap-walk merges with a per-batch word memo) under the fixed literal
    vocabulary; rows carry n_tokens and a hash of the FULL token sequence
    ('(hex)' rendering) so any id, ordering, or merge drift breaks the
    gate."""
    from enterprise_warp_spark.pipeline.tokenizer import (
        encode_corpus,
        tokenizer_tables,
    )

    docs = docs_in.select("doc_id", "text")
    enc = encode_corpus(docs, _BPE_TOK)
    _, _, symbols = tokenizer_tables(_BPE_TOK)
    hex_list = ",".join(f"'{s.hex()}'" for s in symbols)
    canon = F.expr(
        f"array_join(transform(token_ids, "
        f"i -> concat('(', element_at(array({hex_list}), i + 1), ')')), '')"
    )
    return enc.select(
        F.lit("bpe").alias("gate"),
        F.lit("").alias("k1"),
        F.col("doc_id").cast("long").alias("k2"),
        F.col("n_tokens").cast("double").alias("v1"),
        F.substring(F.md5(canon), 1, 16).alias("h"),
    )


def _uni_branch(spark: SparkSession, sf_dir: str, docs_in: DataFrame) -> DataFrame:
    """[uni] — the REAL distributed unigram-LM encode path
    (pipeline/unigram.py encode_corpus_unigram: Viterbi per pre-token
    with the per-batch word memo, stable unigram_vocab id space) under
    the fixed literal model _UNI_MODEL; rows carry n_tokens and a hash
    of the FULL id sequence so any segmentation, tie-break, or id-space
    drift breaks the gate. The oracle replays Viterbi as a recursive-CTE
    enumeration over the distinct-word table with the identical
    (score DESC, n_pieces ASC, reversed-path ASC) ordering — the exact
    global statement of the DP's local (fewer pieces, smaller last
    piece) tie-break."""
    from enterprise_warp_spark.pipeline.unigram import encode_corpus_unigram

    docs = docs_in.select("doc_id", "text")
    enc = encode_corpus_unigram(docs, _UNI_MODEL, output="ids")
    ids_str = F.array_join(
        F.transform("token_ids", lambda i: i.cast("string")), ","
    )
    return enc.select(
        F.lit("uni").alias("gate"),
        F.lit("").alias("k1"),
        F.col("doc_id").cast("long").alias("k2"),
        F.col("n_tokens").cast("double").alias("v1"),
        F.substring(F.md5(ids_str), 1, 16).alias("h"),
    )


def _spl_branch(spark: SparkSession, sf_dir: str, docs_in: DataFrame) -> DataFrame:
    from pyspark.sql import Window

    from enterprise_warp_spark.pipeline.dedup import leakage_safe_splits

    docs = docs_in
    w = Window.partitionBy("lang", "source")
    pairs = (
        docs.select(
            F.min("doc_id").over(w).alias("doc_a"),
            F.col("doc_id").alias("doc_b"),
        )
        .filter(F.col("doc_a") != F.col("doc_b"))
    )
    out = leakage_safe_splits(
        docs.select("doc_id", "text"),
        pairs,
        {"train": 0.8, "val": 0.1, "test": 0.1},
        seed=7,
    )
    return out.select(
        F.lit("spl").alias("gate"),
        F.col("split").alias("k1"),
        F.col("doc_id").cast("long").alias("k2"),
        F.lit(0.0).alias("v1"),
        F.lit("").alias("h"),
    )


def _stm_branch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run the crawl-hygiene streaming composition to completion and return
    the surviving corpus (see module docstring: single-batch availableNow,
    so the survivor set is SQL-expressible). Temp dirs are deleted before
    returning — the result is materialized distributed (localCheckpoint),
    mirroring the SCD2 gate branch."""
    import shutil
    import tempfile

    from enterprise_warp_spark.pipeline.html import strip_tags_catalyst
    from enterprise_warp_spark.streaming.corpus import dedup_corpus_stream

    root = tempfile.mkdtemp(prefix="ews_stm_gate_")
    try:
        stream = (
            spark.readStream.schema(
                "doc_id long, text string, lang string, source string, "
                "n_chars long"
            )
            .option("pathGlobFilter", "documents.parquet")
            .parquet(sf_dir)
            # gate-scale subset (the even half — still thousands of docs at
            # sf0.1 with real near-dup collisions); the oracle filters the
            # same way
            .filter(F.col("doc_id") % 2 == 0)
        )

        def rechrome_then_extract(batch: DataFrame) -> DataFrame:
            markup = F.concat(
                F.lit('<div class="'), F.col("source"), F.lit('"><p>'),
                F.col("text"), F.lit("</p></div>"),
            )
            return batch.withColumn("text", strip_tags_catalyst(markup))

        q = dedup_corpus_stream(
            stream,
            index_path=f"{root}/index",
            corpus_path=f"{root}/corpus",
            checkpoint_path=f"{root}/ckpt",
            transform=rechrome_then_extract,
        )
        q.awaitTermination(300)
        out = (
            spark.read.parquet(f"{root}/corpus")
            .select(
                F.lit("stm").alias("gate"),
                F.lit("").alias("k1"),
                F.col("doc_id").cast("long").alias("k2"),
                F.lit(0.0).alias("v1"),
                F.substring(F.md5("text"), 1, 16).alias("h"),
            )
            .localCheckpoint(eager=True)
        )
        return out
    finally:
        shutil.rmtree(root, ignore_errors=True)


def _wrc_branch(spark: SparkSession, sf_dir: str, docs_in: DataFrame) -> DataFrame:
    """WARC/WET source round-trip gate (VERDICT r8 Next #7, the [pii]
    constructed-expected pattern): spell a deterministic documents subset
    as a real .warc.gz via the hermetic encode_warc twin (driver-side by
    design; the subset is HARD-CAPPED at the 4096 lowest qualifying
    doc_ids — non-binding at driver sfs, so a larger sf saturates the
    fixture instead of ballooning the driver copy), ingest it
    through the REAL read_warc source — binaryFile + gzip member walk +
    Arrow-batched header/payload parse — and hash-check type, URI-derived
    id, byte length and content md5 against SQL rows built directly from
    the same documents slice. DuckDB cannot parse WARC; it never has to:
    the expected rows are constructed, the PARSER is what's under test."""
    import shutil
    import tempfile

    from enterprise_warp_spark.sources.warc import encode_warc, read_warc

    rows = (
        docs_in
        .filter(F.col("doc_id") % 5 == 0)
        .select("doc_id", "lang", "text")
        .orderBy("doc_id")
        .limit(4096)  # hard bound on the driver copy: non-binding at any
        .collect()    # driver sf (100 rows at sf0.01, 1000 at sf0.1); the
    )                 # oracle applies the identical ORDER BY/LIMIT
    recs = [
        {
            "warc_type": "conversion",
            "target_uri": f"https://ex{r['doc_id']}.com/{r['lang']}",
            "content": r["text"],
            "content_type": "text/plain",
        }
        for r in rows
    ]
    root = tempfile.mkdtemp(prefix="ews_wrc_gate_")
    try:
        with open(f"{root}/part0.warc.gz", "wb") as fh:
            fh.write(encode_warc(recs, gzip_per_record=True))
        out = (
            read_warc(spark, f"{root}/part0.warc.gz")
            .select(
                F.lit("wrc").alias("gate"),
                F.col("warc_type").alias("k1"),
                F.regexp_extract("target_uri", r"ex(\d+)\.com", 1)
                .cast("long")
                .alias("k2"),
                F.col("content_length").cast("double").alias("v1"),
                F.substring(F.md5("content"), 1, 16).alias("h"),
            )
            .localCheckpoint(eager=True)
        )
        return out
    finally:
        shutil.rmtree(root, ignore_errors=True)


def _nfc_branch(spark: SparkSession, sf_dir: str, docs_in: DataFrame) -> DataFrame:
    """Unicode NFC normalization gate (pipeline/text.py normalize_nfc):
    every document gets the DECOMPOSED _NFC_SUFFIX (combining marks,
    Hangul jamo, NFC-invariant ligature/superscript); the Arrow kernel's
    stdlib-unicodedata composition is hash-checked against DuckDB's
    ICU-backed nfc_normalize — a genuine two-library interop pin of the
    normalization semantics, not a constructed-expected template. v1 =
    post-normalization codepoint count (composition shrinks it), h = md5
    of the composed text."""
    from enterprise_warp_spark.pipeline.text import normalize_nfc

    docs = docs_in.select("doc_id", "text")
    d = docs.withColumn("text", F.concat(F.col("text"), F.lit(_NFC_SUFFIX)))
    out = normalize_nfc(d)
    return out.select(
        F.lit("nfc").alias("gate"),
        F.lit("").alias("k1"),
        F.col("doc_id").cast("long").alias("k2"),
        F.length("text").cast("double").alias("v1"),
        F.substring(F.md5("text"), 1, 16).alias("h"),
    )


def _pii_branch(spark: SparkSession, sf_dir: str, docs_in: DataFrame) -> DataFrame:
    """pipeline.redact over documents with a deterministic PII suffix
    built from doc_id (one email, URL, IP and long digit run each). The
    oracle constructs the EXPECTED scrubbed text directly — placeholders
    substituted in the template — so engine regex semantics are really
    checked without re-implementing Java regex in DuckDB (the [url]
    branch's pattern). v1 packs the four audit counts as
    n_email*1000 + n_url*100 + n_ip*10 + n_digits = 1111."""
    from enterprise_warp_spark.pipeline.redact import redact

    docs = docs_in.select("doc_id", "text")
    d = F.col("doc_id")
    suffix = F.concat(
        F.lit(" mail bob"), d.cast("string"),
        F.lit("@mail"), (d % 7).cast("string"), F.lit(".com"),
        F.lit(" see https://ex"), d.cast("string"), F.lit(".com/a"),
        F.lit(" ip 10.1.2."), (d % 200).cast("string"),
        F.lit(" acct 1234567"), (d % 100).cast("string"),
    )
    out = redact(docs.withColumn("text", F.concat("text", suffix)))
    return out.select(
        F.lit("pii").alias("gate"),
        F.lit("").alias("k1"),
        F.col("doc_id").cast("long").alias("k2"),
        (
            F.col("n_email") * 1000 + F.col("n_url") * 100
            + F.col("n_ip") * 10 + F.col("n_digits")
        ).cast("double").alias("v1"),
        F.substring(F.md5("text_redacted"), 1, 16).alias("h"),
    )


def _c4f_branch(spark: SparkSession, sf_dir: str, docs_in: DataFrame) -> DataFrame:
    """C4 cleaning (r11, pipeline/text.py c4_filters — Raffel et al. 2020
    §2.2): documents are wrapped in a deterministic page chrome (the
    [tag]/[pii] fixture pattern — nav line, punctuated body, an
    even-id-only punctuated footer, a short CTA line, a 'lorem ipsum'
    line on doc_id % 7 == 0) so the line filter, sentence count and
    blocklist all genuinely fire. The gate hashes the CLEANED TEXT
    itself (md5 prefix in h), the surviving-sentence count (v1), and
    the keep/drop decision (k1) against the SQL replay."""
    from enterprise_warp_spark.pipeline.text import c4_filters

    docs = docs_in.select(
        "doc_id", _c4_chrome().alias("text")
    )
    c = c4_filters(docs)
    return c.select(
        F.lit("c4f").alias("gate"),
        F.when(F.col("c4_keep"), "keep").otherwise("drop").alias("k1"),
        F.col("doc_id").cast("long").alias("k2"),
        F.col("c4_sentences").cast("double").alias("v1"),
        F.substring(F.md5("c4_clean_text"), 1, 16).alias("h"),
    )


# the shared page chrome for the [c4f]/[lnd] fixtures: identical
# nav/CTA lines in every doc, a punctuated footer in even docs only,
# a lorem-ipsum line on doc_id % 7 == 0, the unique body in between
def _c4_chrome() -> F.Column:
    return F.concat(
        F.lit("Menu Home About\n"),
        F.col("text"),
        F.lit(". It was a good day. All tests passed.\n"),
        F.lit("Copyright 2026 all rights reserved"),
        F.when(F.col("doc_id") % 2 == 0, F.lit(".")).otherwise(F.lit("")),
        F.lit("\nClick here now!"),
        F.when(
            F.col("doc_id") % 7 == 0,
            F.lit("\nAnd lorem ipsum dolor sit amet today."),
        ).otherwise(F.lit("")),
    )


def _lnd_branch(spark: SparkSession, sf_dir: str, docs_in: DataFrame) -> DataFrame:
    """Line-level boilerplate removal (r11, pipeline/dedup.py
    strip_repeated_lines — the CCNet/RefinedWeb line-dedup): over the
    same chrome as [c4f], the shared nav/CTA lines occur in EVERY doc,
    the punctuated footer in half the docs, the lorem line in 1/7 —
    all stripped at min_docs=2 while each unique body line survives.
    v1 = surviving line count, h = md5 prefix of the rebuilt text."""
    from enterprise_warp_spark.pipeline.dedup import strip_repeated_lines

    docs = docs_in.select(
        "doc_id", _c4_chrome().alias("text")
    )
    out = strip_repeated_lines(docs, min_docs=2)
    return out.select(
        F.lit("lnd").alias("gate"),
        F.lit("").alias("k1"),
        F.col("doc_id").cast("long").alias("k2"),
        F.col("n_kept_lines").cast("double").alias("v1"),
        F.substring(F.md5("text_clean"), 1, 16).alias("h"),
    )


def _gqr_branch(spark: SparkSession, sf_dir: str, docs_in: DataFrame) -> DataFrame:
    """Gopher quality rules (r11, pipeline/text.py gopher_rules — Rae et
    al. 2021 Table A1): v1 = the 7-rule pass bitmask (127 = keep), h =
    'n_words|alpha_words|distinct_stopwords'. Every rule is integer
    arithmetic, so the oracle replays the whole filter exactly — no
    rounding anywhere."""
    from enterprise_warp_spark.pipeline.text import gopher_rules

    docs = docs_in.select("doc_id", "text")
    g = gopher_rules(docs)
    return g.select(
        F.lit("gqr").alias("gate"),
        F.lit("").alias("k1"),
        F.col("doc_id").cast("long").alias("k2"),
        F.col("gopher_mask").cast("double").alias("v1"),
        F.concat_ws(
            "|", "gopher_n_words", "gopher_alpha_n", "gopher_stop_n"
        ).alias("h"),
    )


@register(
    "web_hygiene_ops",
    _HYGIENE_ORACLE,
    doc="Union hash gate for the r6 web-hygiene/curation families: [url] "
    "canonical_url (case/port/fragment/tracking/trailing-slash, "
    "all-tracking query, non-URL passthrough; pipeline/weburl.py), [dom] "
    "registrable_domain (two-level suffix, deep subdomain, single label), "
    "[moj] repair_mojibake over a deterministically double-encoded corpus "
    "(cp1252->utf-8 round trip restores 'a'->'Ã©' to 'é'), [tag] "
    "strip_tags_catalyst over templated chrome incl. escaped entities "
    "(pipeline/html.py), [tok] the BPE trainer's pre-tokenizer word-count "
    "shuffle (pipeline/tokenizer.py word_counts) vs DuckDB "
    "regexp_extract_all, [spl] leakage_safe_splits cluster-integrity + "
    "hash-range labels over (lang, source) star clusters "
    "(pipeline/dedup.py), [stm] the streaming crawl-hygiene composition "
    "(streaming/corpus.py dedup_corpus_stream with the re-chrome->extract "
    "transform hook): survivors == docs minus within-batch LSH losers, "
    "[pii] pipeline/redact.py pattern redaction (email/URL/IP/digit-run "
    "placeholders + audit counts) over a deterministic PII suffix, the "
    "oracle constructing the expected scrubbed text directly (r8), [wrc] "
    "the WARC/WET crawl source (sources/warc.py): a deterministic doc "
    "subset encoded to a real gzip-per-record .warc.gz by the hermetic "
    "twin, ingested through the real binaryFile+mapInPandas parser, "
    "type/uri-id/byte-length/content-md5 hash-checked against "
    "SQL-constructed expected rows (r9), [nfc] Unicode NFC normalization "
    "(pipeline/text.py normalize_nfc, Arrow kernel over stdlib "
    "unicodedata) vs DuckDB's ICU nfc_normalize over a decomposed "
    "combining-mark/jamo suffix — a two-library interop pin (r9), [bpe] "
    "the distributed BPE ENCODE itself (pipeline/tokenizer.py "
    "encode_corpus under a fixed literal 24-merge vocabulary): per-doc "
    "n_tokens + a hash of the full token sequence, the oracle replaying "
    "encode as a rank-ordered replace() chain over pipe-delimited hex — "
    "provably equivalent to the heap merge walk (r10), [uni] the "
    "distributed unigram-LM ENCODE (pipeline/unigram.py "
    "encode_corpus_unigram under the fixed literal model _UNI_MODEL): "
    "per-doc n_tokens + a hash of the full stable-vocab id sequence, the "
    "oracle replaying Viterbi as a recursive-CTE enumeration over the "
    "distinct-word table ordered (score DESC, n_pieces ASC, "
    "reversed-path ASC) — the global statement of the DP tie-break "
    "(r13), [gqr] the Gopher "
    "7-rule quality filter as an exact integer bitmask (r11 — "
    "pipeline/text.py gopher_rules), [c4f] the C4 line filter + sentence/"
    "blocklist page filter hashing the cleaned text itself (r11 — "
    "pipeline/text.py c4_filters), [lnd] cross-document line-level "
    "boilerplate removal hashing each rebuilt text (r11 — "
    "pipeline/dedup.py strip_repeated_lines).",
)
def web_hygiene_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    # EVERY branch builds on the branch pool, not just the two
    # obviously-eager ones ([stm] runs a full availableNow stream, [wrc]
    # collects + encodes + re-ingests a WARC file): [spl] turned out to run eager connected-components
    # checkpoint jobs inside its build (~5 s of blocking driver jobs the
    # old stm/wrc-only pool left on the main thread), and even the lazy
    # branches each spend hundreds of py4j round-trips CONSTRUCTING
    # their plans — round-trip latency overlaps across threads (one
    # gateway connection per thread), so pooling collapses the serial
    # ~7k-call build chain to the longest single lane.
    parts = run_branches(
        spark,
        "web_hygiene_ops",
        {
            "url_dom": lambda _: _url_dom_branches(spark, sf_dir),
            "moj": lambda inp: _moj_branch(spark, sf_dir, inp["docs"]),
            "tag": lambda inp: _tag_branch(spark, sf_dir, inp["docs"]),
            "tok": lambda inp: _tok_branch(spark, sf_dir, inp["docs"]),
            "spl": lambda inp: _spl_branch(spark, sf_dir, inp["docs"]),
            "stm": lambda _: _stm_branch(spark, sf_dir),
            "pii": lambda inp: _pii_branch(spark, sf_dir, inp["docs"]),
            "wrc": lambda inp: _wrc_branch(spark, sf_dir, inp["docs"]),
            "nfc": lambda inp: _nfc_branch(spark, sf_dir, inp["docs"]),
            "bpe": lambda inp: _bpe_branch(spark, sf_dir, inp["docs"]),
            "uni": lambda inp: _uni_branch(spark, sf_dir, inp["docs"]),
            "gqr": lambda inp: _gqr_branch(spark, sf_dir, inp["docs"]),
            "c4f": lambda inp: _c4f_branch(spark, sf_dir, inp["docs"]),
            "lnd": lambda inp: _lnd_branch(spark, sf_dir, inp["docs"]),
        },
        # ONE spread + checkpointed documents table feeds the 12
        # docs-consuming branches (r15; the learned_sketch_ops shared-
        # input pattern): 12 single-partition re-scans of the text
        # column become one cluster-wide materialization every branch's
        # heavy map inherits. [stm] (a readStream source) and [url_dom]
        # (customer) don't consume it.
        shared={"docs": lambda _: _docs_shared(spark, sf_dir)},
    )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out
