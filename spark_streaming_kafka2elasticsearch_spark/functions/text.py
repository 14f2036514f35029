"""Text-analysis expressions — tokenization, ratios, counts.

Built-in string/regexp Catalyst functions only; these are the scalar
layer under the document-pipeline operators (dedup, quality scoring,
language ID).  Token semantics are pinned to a single definition —
split on runs of whitespace, drop empties — so Spark results and
ANSI-SQL oracles agree exactly.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _as_col(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


def tokens(text: Column | str) -> Column:
    """Whitespace tokens with empties removed (array<string>).
    ``array_remove``, not a ``filter`` lambda: the same array (``split``
    yields no NULL element), in generated code where a lambda is
    interpreted per element — about a fifth of a one-task word census
    over 5 000 documents."""
    return F.array_remove(F.split(_as_col(text), r"\s+"), "")


def tokens_sql(name: str) -> str:
    """:func:`tokens` of the column ``name``, as a SQL expression for
    builders written as one SQL string."""
    return rf"array_remove(split(`{name}`, '\\s+'), '')"


def md5_hash64(c: Column | str) -> Column:
    """Cross-engine 64-bit hash: the first 16 hex chars of md5,
    read big-endian as a SIGNED 64-bit integer (Java ``<<`` wrap).

    ``xxhash64`` never leaves the JVM, so anything built on it is
    un-oracle-able; md5 agrees bit-for-bit across Spark / DuckDB /
    Postgres, which makes fingerprints built on this hash (SimHash)
    value-checkable by the driver's DuckDB gate.  Hash quality is
    equivalent for sketching (both uniform on 64 bits); md5 costs more
    cycles per token than xxhash64, but the explode+aggregate around it
    dominates either way.  DuckDB twin::

        CAST(concat('0x', substr(md5(tok), 1, 8)) AS BIGINT)  -- hi 32
        CAST(concat('0x', substr(md5(tok), 9, 8)) AS BIGINT)  -- lo 32
        -- bit j of the hash = (lo >> j) & 1  for j < 32,
        --                     (hi >> (j-32)) & 1 otherwise.
    """
    hx = F.md5(_as_col(c))
    hi = F.conv(F.substring(hx, 1, 8), 16, 10).cast("long")
    lo = F.conv(F.substring(hx, 9, 8), 16, 10).cast("long")
    return F.shiftleft(hi, 32).bitwiseOR(lo)


def token_count(text: Column | str) -> Column:
    return F.size(tokens(text))


def punct_count(text: Column | str) -> Column:
    """Number of ASCII punctuation characters ``.,;:!?``."""
    t = _as_col(text)
    return F.length(t) - F.length(F.regexp_replace(t, r"[.,;:!?]", ""))


def alpha_ratio(text: Column | str) -> Column:
    """Fraction of characters that are ASCII letters (0 for empty)."""
    t = _as_col(text)
    total = F.length(t)
    alpha = total - F.length(F.regexp_replace(t, r"[A-Za-z]", ""))
    return F.when(total == 0, F.lit(0.0)).otherwise(
        alpha.cast("double") / total.cast("double")
    )


def canonical_url(url: Column | str) -> Column:
    """URL canonicalization — the dedup key every web-crawl curation
    pipeline derives before any content-level dedup (the same page is
    fetched under scheme/case/port/tracking-param/fragment variants;
    CommonCrawl-style pipelines collapse them by canonical URL first,
    which is orders of magnitude cheaper than MinHashing the bodies).

    Rules (each a plain regex/array expression, so the whole key is
    one codegen'd projection — no UDF, no parser object):

    1. scheme and host lowercased;
    2. default ports ``:80``/``:443`` stripped (non-default kept);
    3. fragment dropped;
    4. tracking parameters dropped (``utm_*``, ``fbclid``, ``gclid``);
    5. remaining query parameters SORTED (order never distinguishes
       resources in practice; sorting makes the key order-insensitive);
    6. trailing slashes stripped from the path.

    The DuckDB twin is generated by :func:`canonical_url_sql` from the
    same rule spellings, so an external engine reproduces the key
    byte-for-byte (ASCII inputs; both engines sort arrays of ASCII
    strings identically).
    """
    u = _as_col(url)
    no_frag = F.regexp_replace(u, r"#.*$", "")
    scheme = F.lower(F.regexp_extract(no_frag, r"^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    hostport = F.regexp_extract(no_frag, r"^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)", 1)
    # Port stripping is SCHEME-conditional: :80 is only the default for
    # http and :443 only for https — http://host:443/x names a distinct
    # resource from http://host/x and must keep its port.
    lowered = F.lower(hostport)
    host = (
        F.when(scheme == "http", F.regexp_replace(lowered, r":80$", ""))
        .when(scheme == "https", F.regexp_replace(lowered, r":443$", ""))
        .otherwise(lowered)
    )
    path = F.regexp_extract(
        no_frag, r"^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]+([^?#]*)", 1
    )
    path = F.regexp_replace(path, r"/+$", "")
    query = F.regexp_extract(no_frag, r"\?([^#]*)", 1)
    kept = F.filter(
        F.split(query, "&"),
        lambda p: (p != "") & ~p.rlike(r"^(utm_[^=]*|fbclid|gclid)="),
    )
    q_norm = F.array_join(F.array_sort(kept), "&")
    return F.concat(
        scheme,
        F.lit("://"),
        host,
        path,
        F.when(q_norm == "", F.lit("")).otherwise(F.concat(F.lit("?"), q_norm)),
    )


def canonical_url_sql(url_expr: str) -> str:
    """DuckDB twin of :func:`canonical_url` over an existing VARCHAR
    expression — generated beside the Spark rules so the two spellings
    cannot drift.  DuckDB ``regexp_replace`` needs the explicit 'g'
    flag where Spark replaces globally by default (only the
    trailing-slash rule has >1 possible match here)."""
    no_frag = f"regexp_replace({url_expr}, '#.*$', '')"
    scheme = f"lower(regexp_extract({no_frag}, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1))"
    hostport = f"regexp_extract({no_frag}, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)', 1)"
    host = (
        f"(CASE WHEN {scheme} = 'http' "
        f"THEN regexp_replace(lower({hostport}), ':80$', '') "
        f"WHEN {scheme} = 'https' "
        f"THEN regexp_replace(lower({hostport}), ':443$', '') "
        f"ELSE lower({hostport}) END)"
    )
    path = (
        f"regexp_replace(regexp_extract({no_frag}, "
        f"'^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]+([^?#]*)', 1), '/+$', '', 'g')"
    )
    q_norm = (
        "array_to_string(list_sort(list_filter("
        f"string_split(regexp_extract({no_frag}, '\\?([^#]*)', 1), '&'), "
        "p -> p <> '' AND NOT regexp_matches(p, '^(utm_[^=]*|fbclid|gclid)='))), '&')"
    )
    return (
        f"{scheme} || '://' || {host} || {path} || "
        f"(CASE WHEN {q_norm} = '' THEN '' ELSE '?' || {q_norm} END)"
    )
