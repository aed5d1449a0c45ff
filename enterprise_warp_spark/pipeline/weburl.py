"""Web-corpus hygiene: URL canonicalization + encoding (mojibake) repair.

The two remaining cheap-but-essential crawl-curation transforms:

* URL canonicalization — crawls reference the same page under many
  spellings (scheme/host case, default ports, fragments, tracking query
  parameters, trailing slashes). Canonical forms make exact-URL dedup and
  per-domain caps (operators.sampling.cap_per_group) actually group the
  same site together. Everything is pure Catalyst on top of Spark's
  `parse_url`: no Python in the per-row path.

* Mojibake repair — the classic double-encoding defect (UTF-8 bytes
  decoded as Latin-1/cp1252 somewhere upstream: 'Ã©' for 'é', 'â€™' for
  a right quote). The repair is the standard round-trip test: if
  re-encoding the text as cp1252 and decoding as UTF-8 SUCCEEDS and
  strictly reduces the tell-tale lead bytes, the text was double-encoded
  and the round-trip restores it; anything else is left untouched, so
  clean text can never be corrupted. Arrow-batched mapInPandas (the
  per-row logic is bytes round-tripping, not expressible in Catalyst).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# query parameters that never identify content (tracking/campaign noise).
# Deliberately EXCLUDES bare 'ref': on major sites it is content-identifying
# (GitHub ?ref=<branch> selects a different resource), so stripping it would
# merge distinct pages into one canonical form and exact-URL dedup could
# drop real content. ref_src (the Twitter tracking variant) stays.
TRACKING_PARAMS = (
    "utm_source|utm_medium|utm_campaign|utm_term|utm_content|utm_id|"
    "gclid|fbclid|msclkid|mc_cid|mc_eid|ref_src|igshid|spm"
)


def canonical_url(
    col: Column | str, tracking_params: str = TRACKING_PARAMS
) -> Column:
    """Canonical URL string: scheme+host lowercased, default :80/:443
    ports dropped, fragment dropped, tracking query params removed and
    the surviving params SORTED, trailing slash normalized off non-root
    paths. NULL-safe; a string with no '://' is returned untouched
    (relative/garbage URLs are not guessed at).

    tracking_params: '|'-separated param names to strip (case-insensitive,
    exact-name match) — override per corpus when a site's 'noise' params
    are content-identifying there (the reason bare 'ref' is not in the
    default list)."""
    c = F.col(col) if isinstance(col, str) else col
    c = F.regexp_replace(c, r"#.*$", "")  # fragment never reaches servers
    scheme = F.lower(F.regexp_extract(c, r"^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    host = F.lower(F.parse_url(c, F.lit("HOST")))
    # parse_url has no PORT key — take it from the authority's tail
    port = F.regexp_extract(
        F.coalesce(F.parse_url(c, F.lit("AUTHORITY")), F.lit("")),
        r":(\d+)$",
        1,
    )
    path = F.coalesce(F.parse_url(c, F.lit("PATH")), F.lit(""))
    query = F.parse_url(c, F.lit("QUERY"))
    # drop default ports; keep explicit non-default ones
    keep_port = (
        (port != "")
        & ~((scheme == "http") & (port == "80"))
        & ~((scheme == "https") & (port == "443"))
    )
    port_part = F.when(keep_port, F.concat(F.lit(":"), port)).otherwise(F.lit(""))
    # strip ALL trailing slashes from non-root paths in one pass — one at
    # a time would make "/a//" -> "/a/" -> "/a" non-idempotent (caught by
    # the idempotence property test). "(.)/+$" cannot match the bare root.
    path = F.regexp_replace(path, r"(.)/+$", "$1")
    # filter + sort query params
    params = F.filter(
        F.split(F.coalesce(query, F.lit("")), "&"),
        lambda p: (p != "")
        & ~F.regexp_extract(p, r"^([^=]*)", 1).rlike(
            f"^(?i)({tracking_params})$"
        ),
    )
    qsorted = F.array_join(F.array_sort(params), "&")
    qpart = F.when(qsorted != "", F.concat(F.lit("?"), qsorted)).otherwise(
        F.lit("")
    )
    out = F.concat(scheme, F.lit("://"), host, port_part, path, qpart)
    return F.when(c.rlike(r"^[A-Za-z][A-Za-z0-9+.-]*://"), out).otherwise(c)


def registrable_domain(host: Column | str) -> Column:
    """Approximate eTLD+1: the last two host labels, or three when the
    final two are a common two-level public suffix (co.uk and friends).
    The full Public Suffix List is a large mutable dataset; this covers
    the overwhelmingly common cases and is DOCUMENTED as approximate —
    group-by keys need consistency more than perfection."""
    h = F.lower(F.col(host) if isinstance(host, str) else host)
    two_level = (
        "co|com|org|net|gov|ac|edu|sch|mil|police"
    )
    cc = "uk|jp|au|nz|za|in|br|kr|mx|ar|sg|hk|tw|id|th|tr|il|ke|ng"
    is_two = h.rlike(rf"\.({two_level})\.({cc})$")
    parts = F.split(h, r"\.")
    n = F.size(parts)
    take3 = F.when(n >= 3, F.concat_ws(
        ".",
        F.element_at(parts, -3), F.element_at(parts, -2), F.element_at(parts, -1),
    ))
    take2 = F.when(n >= 2, F.concat_ws(
        ".", F.element_at(parts, -2), F.element_at(parts, -1)
    )).otherwise(h)
    return F.when(is_two & (n >= 3), take3).otherwise(take2)


def repair_mojibake(
    docs: DataFrame, text_col: str = "text"
) -> DataFrame:
    """-> input columns + (<text_col> repaired in place, mojibake_fixed
    boolean). Repairs only when the cp1252->utf-8 round trip SUCCEEDS and
    strictly reduces the count of tell-tale mojibake lead characters
    (Ã, Â, â, and the cp1252 curly-quote family) — clean text that merely
    LOOKS accented never round-trips to valid UTF-8 by accident on those
    sequences, and failed round trips leave the row untouched.

    This variant is the ORACLE CONTRACT (web_hygiene_ops[moj]) — single
    pass, cp1252 only, frozen so the DuckDB twin replays it exactly. For
    production cleaning use pipeline/text.py fix_mojibake: same guard
    plus latin-1 fallback (4-byte/CJK wrecks), double-encoding passes,
    and a pure-Catalyst prefilter (mojibake_score)."""
    import pandas as pd

    tells = set("ÃÂâ€™œ“”žÅ¢")

    def fix_one(t):
        if t is None:
            return t, False
        before = sum(ch in tells for ch in t)
        if before == 0:
            return t, False
        try:
            repaired = t.encode("cp1252", errors="strict").decode(
                "utf-8", errors="strict"
            )
        except (UnicodeEncodeError, UnicodeDecodeError):
            return t, False
        after = sum(ch in tells for ch in repaired)
        if after < before:
            return repaired, True
        return t, False

    def kernel(batches):
        for pdf in batches:
            pdf = pdf.copy()
            fixed = [fix_one(t) for t in pdf[text_col]]
            pdf[text_col] = [f[0] for f in fixed]
            pdf["mojibake_fixed"] = pd.Series(
                [f[1] for f in fixed], index=pdf.index, dtype="bool"
            )
            yield pdf

    schema = ", ".join(f"{n} {d}" for n, d in docs.dtypes) + ", mojibake_fixed boolean"
    return docs.mapInPandas(kernel, schema)
