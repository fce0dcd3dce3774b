"""URL operators for web-crawl corpora: canonicalization, domain
extraction, per-domain statistics.

Crawl snapshots refer to the same page under many spellings — scheme
and host case, default ports, fragments, tracking parameters, trailing
slashes — so URL-keyed dedup (exact dedup, snapshot anti-joins, quota
strata) undercounts duplicates unless keys are canonicalized first.
Everything here is a pure Catalyst Column expression (regexp ops inside
whole-stage codegen, no python), so canonicalization composes into any
scan at zero extra cost and pushes through the same projection pruning
as any other column.

Canonical form (conservative, lossless for routing purposes):
  * scheme and host lowercased
  * default ports stripped (:80 for http, :443 for https)
  * fragment (#...) removed
  * tracking query parameters removed (utm_*, gclid, fbclid, ref) —
    from the query string ONLY ('&' is a legal path character and '?'
    may recur inside values; neither is touched); a query left empty
    by the removal loses its '?'
  * trailing '/' dropped from non-root paths, only when no query
    survives (the query is never rewritten); a bare root '/' with no
    query also drops, so 'http://x.com/' and 'http://x.com' — the
    single most common duplicate spelling pair — canonicalize equal

``domain_of`` returns the lowercased host (no port); per-domain stats
(the hot-domain skew report feeding quota decisions) are a
plain partial-aggregatable groupBy.
"""

from __future__ import annotations

import re
from typing import Iterable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = [
    "canonical_url",
    "domain_of",
    "domain_of_py",
    "domain_stats",
    "domain_filter",
    "domain_keep_rate",
    "induce_domain_blocklist",
    "url_dedup",
]

# tracking params dropped during canonicalization (either position in
# the query string, with or without a value)
_TRACKING = r"(?:utm_[A-Za-z0-9_]+|gclid|fbclid|ref)"


def canonical_url(url: Column | str) -> Column:
    """Canonicalized URL as a Column expression (codegen, no UDF)."""
    u = F.col(url) if isinstance(url, str) else url
    # 1. drop the fragment
    u = F.regexp_replace(u, r"#.*$", "")
    # 2. split scheme (lowercased) from the rest
    scheme = F.lower(F.regexp_extract(u, r"^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    rest = F.regexp_replace(u, r"^[A-Za-z][A-Za-z0-9+.-]*://", "")
    # 3. lowercase the authority (host[:port]), keep path case
    authority = F.regexp_extract(rest, r"^([^/?#]*)", 1)
    tail = F.regexp_replace(rest, r"^[^/?#]*", "")
    authority = F.lower(authority)
    # 4. strip default ports
    authority = F.when(
        (scheme == "http"), F.regexp_replace(authority, r":80$", "")
    ).when(
        (scheme == "https"), F.regexp_replace(authority, r":443$", "")
    ).otherwise(authority)
    # 5. drop tracking params — from the QUERY STRING only.  '&' is a
    #    legal path sub-delim (RFC 3986) and '?' may appear literally
    #    inside query VALUES, so the replaces must see neither: split at
    #    the FIRST '?' and run them on the query alone, with the
    #    promote/drop rules anchored at ^ so a '?name' inside a value
    #    ('?a=x?ref=1') can never match.  Three replaces handle ANY
    #    number of tracking params: first strip every '&name[=v]'
    #    occurrence (all non-first params; the (?=&|$) lookahead is the
    #    word boundary — 'ref' must not eat a param named 'refresh',
    #    and a zero-width boundary keeps consecutive '&utm_a&utm_b'
    #    both matchable in ONE pass), which leaves at most ONE tracking
    #    param, in first position; then promote its successor
    #    ('^?name[=v]&' -> '?') or drop a lone one.
    path = F.regexp_replace(tail, r"\?.*$", "")
    query = F.regexp_extract(tail, r"(\?.*)$", 1)  # '' when no query
    query = F.regexp_replace(query, r"&" + _TRACKING + r"(=[^&]*)?(?=&|$)", "")
    query = F.regexp_replace(query, r"^\?" + _TRACKING + r"(=[^&]*)?&", "?")
    query = F.regexp_replace(query, r"^\?" + _TRACKING + r"(=[^&]*)?$", "")
    # 6. trailing slash (no query survives): non-root '/x/' -> '/x',
    #    and the bare root '/' drops entirely so 'http://x.com/' ==
    #    'http://x.com'
    path = F.when(
        query == "",
        F.when(path == "/", F.lit(""))
        .otherwise(F.regexp_replace(path, r"^(/.+?)/$", r"$1")),
    ).otherwise(path)
    tail = F.concat(path, query)
    out = F.when(
        scheme != "", F.concat(scheme, F.lit("://"), authority, tail)
    ).otherwise(u)  # scheme-less input passes through untouched
    return out.alias("canonical_url")


def domain_of(url: Column | str) -> Column:
    """Lowercased host without port or userinfo; '' for unparseable
    input.  The optional ``userinfo@`` prefix (RFC 3986 §3.2) is
    skipped BEFORE the host capture: without it,
    ``http://spam@x.com/`` reports domain ``spam@x.com`` (or ``u``
    for ``u:p@x.com``) — which fragments per-domain stats and lets a
    crawl URL evade a ``domain_filter`` blocklist entry for x.com by
    prepending ``anything@``."""
    u = F.col(url) if isinstance(url, str) else url
    host = F.regexp_extract(u, _DOMAIN_PATTERN, 1)
    return F.lower(host).alias("domain")


#: ONE spelling for all three engines (Java regex / python re / RE2):
#: scheme, optional userinfo (anything before an @ that precedes the
#: first /?#), then the host capture up to : / ? # @.  The userinfo
#: class must NOT exclude '@' — greedy [^/?#]*@ skips through the
#: LAST '@' of the authority, matching urlsplit/WHATWG host
#: resolution: 'http://a@b@x.com/' fetches x.com, and a non-greedy
#: skip would report 'b' and let that spelling evade an x.com
#: blocklist entry (the exact evasion this skip exists to close).
_DOMAIN_PATTERN = r"^[A-Za-z][A-Za-z0-9+.-]*://(?:[^/?#]*@)?([^/:?#@]*)"

_DOMAIN_RE = re.compile(_DOMAIN_PATTERN)


def domain_of_py(url: str | None) -> str | None:
    """Python twin of ``domain_of`` — same regex, same lowercasing,
    same NULL-in/NULL-out — the host notion a pure-Python reference
    (e.g. the robots.txt gate's twin in tests/test_robots.py) keys on.
    Dual-implementation pair: change both or none (pinned by
    tests/test_urlops.py)."""
    if url is None:
        return None
    m = _DOMAIN_RE.match(url)
    return (m.group(1) if m else "").lower()


def domain_stats(
    df: DataFrame, url_col: str = "url", text_col: str | None = "text"
) -> DataFrame:
    """Per-domain corpus stats: (domain, n_docs, total_chars, share).

    The hot-domain skew report: one partial-aggregatable groupBy plus a
    broadcast scalar for the share denominator — no window.  The per-
    domain aggregate is ``cache.track``-persisted before the total is
    derived from it: without the persist, column pruning specializes
    the total branch's exchange (it drops text/total_chars) so
    ReusedExchange never fires and the corpus is scanned TWICE — the
    same measured trap CLAUDE.md documents for ordering.py.  Feed the
    output into ``stratified_sample`` quota choices; call
    ``cache.release_all()`` when done."""
    from dqc_spark import cache

    chars = (
        F.sum(F.coalesce(F.length(F.col(text_col)), F.lit(0)))
        if text_col is not None
        else F.lit(None).cast("bigint")
    )
    per = cache.track(df.groupBy(domain_of(url_col)).agg(
        F.count(F.lit(1)).alias("n_docs"),
        chars.alias("total_chars"),
    ))
    total = per.agg(F.sum("n_docs").alias("__t"))
    return per.crossJoin(F.broadcast(total)).select(
        "domain",
        "n_docs",
        "total_chars",
        (F.col("n_docs") / F.col("__t")).alias("share"),
    )


def domain_keep_rate(
    df: DataFrame,
    url_col: str = "url",
    keep_col: str = "keep",
) -> DataFrame:
    """Per-domain curation outcome: (domain, n_docs, n_keep, keep_rate).

    The feedback half of the quality loop: after ``curate()`` labels
    every page, aggregate the keep decision per host.  A domain whose
    pages are overwhelmingly dropped is itself the signal — content
    farms, parked domains and SEO spam concentrate per-host long before
    any single page looks unusual.  One partial-aggregatable groupBy on
    the (lowercased) host; keep_rate is an int-ratio double, so it
    compares raw across engines (the CLAUDE.md rounding rule).  NULL
    ``keep`` counts as drop (a page the pipeline never cleared is not
    kept)."""
    kept = F.sum(
        F.when(F.col(keep_col).eqNullSafe(F.lit(True)), 1).otherwise(0)
    )
    return df.groupBy(domain_of(url_col)).agg(
        F.count(F.lit(1)).alias("n_docs"),
        kept.cast("bigint").alias("n_keep"),
    ).select(
        "domain",
        "n_docs",
        "n_keep",
        (F.col("n_keep") / F.col("n_docs")).alias("keep_rate"),
    )


def induce_domain_blocklist(
    df: DataFrame,
    url_col: str = "url",
    keep_col: str = "keep",
    max_keep_rate: float = 0.25,
    min_docs: int = 10,
) -> DataFrame:
    """Domains whose observed keep-rate is <= ``max_keep_rate`` over at
    least ``min_docs`` pages — a blocklist INDUCED from a curated run
    rather than curated by hand.

    Feed the result straight into ``domain_filter(df, blocklist=...)``
    (it selects the same ``domain`` column name) so the NEXT crawl
    snapshot skips the spam hosts before any per-page work runs — at
    10^12 docs the cheapest page to score is the one the scan prunes.
    ``min_docs`` guards small-sample hosts (3 drops out of 3 pages is
    noise, 300 out of 300 is a content farm).  The threshold compare
    multiplies through (``n_keep <= rate * n_docs``) instead of
    dividing, so a caller's exact-binary rate (0.25, 0.5) stays exact.
    Output: (domain, n_docs, n_keep, keep_rate), keep_rate for report
    rendering."""
    rates = domain_keep_rate(df, url_col, keep_col)
    return rates.filter(
        (F.col("n_docs") >= int(min_docs))
        & (F.col("n_keep") <= F.lit(float(max_keep_rate)) * F.col("n_docs"))
    )


def url_dedup(
    df: DataFrame,
    url_col: str = "url",
    key_cols: list[str] | None = None,
    collapse_ties: bool = True,
) -> DataFrame:
    """One row per CANONICAL url: crawl snapshots list the same page
    under many spellings (tracking params, fragments, case, default
    ports, trailing slashes), so url-keyed exact dedup undercounts
    unless keys are canonicalized first.  The winner per canonical
    group is the lexicographically smallest ``key_cols`` TUPLE
    (default: the url itself) — ``min(struct)`` like dedup.dedup_exact,
    so election is a partial-aggregatable two-phase agg (never a
    hot-partition window) and the winner is always an actual row.
    Shuffle traffic for the election is (canonical_url, keys);
    document text never moves through it.

    Rows that TIE on ``key_cols`` (byte-identical urls — the same page
    re-crawled, the most common duplicate shape in snapshots) collapse
    to one output row when ``collapse_ties`` is True (the default);
    the winner KEY is fully deterministic, while non-key column values
    come from an arbitrary one of the tied rows (comparing them would
    cost even more shuffle).  The tie-collapse pass is the ONE part of
    this operator that shuffles full rows (a dropDuplicates aggregate
    keyed on ``key_cols`` carries every column, text included) — when
    ``key_cols`` is already unique per row (a doc id), pass
    ``collapse_ties=False`` to skip it: the semi-join output is then
    identical and the document text stays out of every exchange."""
    key_cols = key_cols or [url_col]
    winners = (
        df.select(canonical_url(url_col).alias("__cu"),
                  F.struct(*key_cols).alias("__k"))
        .groupBy("__cu")
        .agg(F.min("__k").alias("__k"))
        .select("__k.*")
    )
    out = df.join(winners, on=key_cols, how="left_semi")
    return out.dropDuplicates(key_cols) if collapse_ties else out


def _suffix_candidates(domain: Column, max_labels: int) -> Column:
    """Array of the domain plus its parent-domain suffixes (up to
    ``max_labels`` labels), via fixed ``substring_index`` columns — pure
    codegen, no interpreted array lambda on this per-document path."""
    return F.array_distinct(
        F.array(*[F.substring_index(domain, ".", -k)
                  for k in range(1, max_labels + 1)])
    )


def domain_filter(
    df: DataFrame,
    blocklist: DataFrame | Iterable[str],
    url_col: str = "url",
    mode: str = "block",
    max_labels: int = 8,
) -> DataFrame:
    """UT1-style domain block/allow filtering with suffix semantics: a
    page matches a list entry when its host equals the entry OR is a
    subdomain of it ('ads.x.com' matches entry 'x.com').

    ``mode='block'`` drops matching pages; ``mode='allow'`` keeps only
    matching pages.

    Two scale paths, both exact and lambda-free:
      * python iterable (curated lists, <= ~10k entries): the host's
        suffix candidates are a fixed array of ``substring_index``
        columns and the membership test is one ``arrays_overlap``
        against a constant array — zero shuffle, whole-stage codegen,
        composes into the page scan.
      * DataFrame with a ``domain`` column (UT1-scale millions of
        entries): posexplode the <= ``max_labels`` candidates and
        semi/anti-join against the (broadcastable) blocklist — traffic
        is (key, candidate) pairs, never text.

    Suffix depth is bounded by ``max_labels`` (default 8): a list entry
    with more than 8 labels cannot match a still-deeper subdomain.  Real
    blocklists name registrable domains (2-4 labels), so the bound is
    theoretical; raise it if your list disagrees."""
    if mode not in ("block", "allow"):
        raise ValueError(f"mode must be 'block' or 'allow', got {mode!r}")
    host = domain_of(url_col)
    cands = _suffix_candidates(host, max_labels)
    if isinstance(blocklist, DataFrame):
        probe = df.select(F.col(url_col).alias("__df_url"),
                          F.explode(cands).alias("__df_cand"))
        bl = blocklist.select(F.lower(F.col("domain")).alias("__df_cand"))
        matched = probe.join(F.broadcast(bl), "__df_cand", "left_semi") \
                       .select("__df_url").distinct()
        how = "left_anti" if mode == "block" else "left_semi"
        return df.join(
            matched.withColumnRenamed("__df_url", url_col), url_col, how
        )
    const = F.array(*[F.lit(b.lower()) for b in blocklist])
    hit = F.arrays_overlap(cands, const)
    # NULL/unparseable urls never match a list entry: blocked-mode keeps
    # them, allow-mode drops them (coalesce pins the three-valued edge)
    hit = F.coalesce(hit, F.lit(False))
    return df.filter(~hit if mode == "block" else hit)
