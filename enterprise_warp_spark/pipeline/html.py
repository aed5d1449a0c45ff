"""HTML text extraction for web corpora.

Raw web crawls are the largest input to any training-data pipeline; the
standard first transform is markup -> clean text. ``strip_tags_catalyst``
is a pure-Catalyst regexp chain (script/style/comment blocks out, block
tags to newlines, tags stripped, the common named entities decoded).
JVM-side and whole-stage-codegen friendly: map-only (no shuffle,
partitioning preserved), the right tool when the corpus is mostly-clean
markup and throughput is everything. Numeric character references and
exotic entities survive undecoded (regexp_replace cannot compute a
codepoint) — documented contract.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# named entities the Catalyst tier decodes (the overwhelmingly common set).
# &amp; MUST decode LAST: decoding it first would turn the escaped text
# "&amp;lt;" into "&lt;" and then a later pass (or downstream consumer)
# reads it as markup — the standard entity-decoding order unescapes the
# ampersand only after every other entity has been handled, so "&amp;lt;"
# yields the literal text "&lt;" (matching html.unescape).
_NAMED_ENTITIES = {
    "&lt;": "<", "&gt;": ">", "&quot;": '"',
    "&#39;": "'", "&apos;": "'", "&nbsp;": " ",
    "&amp;": "&",  # keep last — see note above
}

_BLOCK_TAGS = (
    "p|div|br|li|ul|ol|h1|h2|h3|h4|h5|h6|tr|table|section|article|header|"
    "footer|nav|aside|blockquote|pre|form|hr|dd|dt|dl"
)


def strip_tags_catalyst(col: Column | str) -> Column:
    """Markup -> plain text, fully JVM-side. Block tags become newlines so
    downstream block logic (chunking, dedup) sees paragraph structure."""
    c = F.col(col) if isinstance(col, str) else col
    # (?is): dot matches newlines, case-insensitive tag names
    c = F.regexp_replace(c, r"(?is)<(script|style|noscript)\b.*?</\1\s*>", " ")
    c = F.regexp_replace(c, r"(?s)<!--.*?-->", " ")
    c = F.regexp_replace(c, rf"(?i)</?({_BLOCK_TAGS})\b[^>]*>", "\n")
    c = F.regexp_replace(c, r"(?s)<[^>]*>", " ")
    for ent, ch in _NAMED_ENTITIES.items():
        c = F.regexp_replace(c, ent, ch)
    # collapse intra-line runs of spaces/tabs; keep the newline structure
    c = F.regexp_replace(c, r"[ \t\r\f]+", " ")
    c = F.regexp_replace(c, r" ?\n ?", "\n")
    c = F.regexp_replace(c, r"\n{2,}", "\n")
    # F.trim strips spaces only — drop the edge newlines block tags leave
    c = F.regexp_replace(c, r"^\n+|\n+$", "")
    return F.trim(c)

