"""URL parsing helpers for web-crawl tables.

The north-rule table is keyed by ``url``, and its dominant skew axis is the
URL's domain (a handful of hot domains hold a large share of a crawl).
These are native Column expressions — ``F.parse_url`` where available, and
portable ``regexp_extract`` forms for the pieces oracle-checked queries
need to reproduce in other engines.

Heuristics, not RFC 3986: a crawl pipeline needs a grouping key that is
cheap, deterministic, and stable — not a full resolver.  No public-suffix
list is bundled (that's a data file, not code); ``registrable_domain``
uses a documented last-two-labels approximation.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: host extraction: scheme-relative or absolute URLs; stops at :port /path ?q #f
_HOST_RE = r"^(?:[a-zA-Z][a-zA-Z0-9+.-]*:)?//([^/:?#]+)"
_SCHEME_RE = r"^([a-zA-Z][a-zA-Z0-9+.-]*):"
_PATH_RE = r"^(?:[a-zA-Z][a-zA-Z0-9+.-]*:)?//[^/?#]*([^?#]*)"


def url_host(url: Column) -> Column:
    """Lower-cased host ('' when the URL has no authority component)."""
    return F.lower(F.regexp_extract(url, _HOST_RE, 1))


def url_scheme(url: Column) -> Column:
    return F.lower(F.regexp_extract(url, _SCHEME_RE, 1))


def url_path(url: Column) -> Column:
    return F.regexp_extract(url, _PATH_RE, 1)


def registrable_domain(url: Column) -> Column:
    """Last two host labels (``a.b.example.com`` → ``example.com``).

    A public-suffix-list lookup would treat ``example.co.uk`` correctly;
    this approximation is what most crawl pipelines use as a first-pass
    grouping key and is exactly reproducible in any SQL engine.
    """
    host = url_host(url)
    parts = F.split(host, r"\.")
    n = F.size(parts)
    return F.when(
        n >= 2,
        F.concat_ws(".", F.element_at(parts, -2), F.element_at(parts, -1)),
    ).otherwise(host)


#: query parameters that never identify content (analytics/click tracking)
TRACKING_PARAM_RE = r"^(utm_[a-z0-9]+|fbclid|gclid|msclkid|mc_eid|igshid)="


def canonical_url(url: Column) -> Column:
    """Canonical form for crawl dedup / URL-keyed joins.

    Transform (absolute http/https URLs; anything without a host passes
    through unchanged — relative references have no canonical authority):

    - scheme and host lowercased; userinfo dropped
    - default ports stripped (http:80, https:443); other ports kept
    - path: repeated ``/`` collapsed, trailing ``/`` removed, empty → ``/``
    - query: tracking parameters removed (``utm_*``, fbclid, gclid,
      msclkid, mc_eid, igshid), remainder sorted bytewise and rejoined;
      empty query dropped
    - fragment dropped

    Native Columns only — one projection, no UDF, safe in the scan stage
    of a 10^12-row pipeline.
    """
    scheme = F.lower(F.parse_url(url, F.lit("PROTOCOL")))
    host = F.lower(F.parse_url(url, F.lit("HOST")))
    authority = F.parse_url(url, F.lit("AUTHORITY"))
    port = F.regexp_extract(authority, r":(\d+)$", 1)
    default_port = (
        ((scheme == "http") & (port == "80"))
        | ((scheme == "https") & (port == "443"))
        | (port == "")
    )
    port_part = F.when(default_port, F.lit("")).otherwise(F.concat(F.lit(":"), port))
    raw_path = F.parse_url(url, F.lit("PATH"))
    squashed = F.regexp_replace(
        F.regexp_replace(F.coalesce(raw_path, F.lit("")), "/{2,}", "/"),
        "/+$",
        "",
    )
    path = F.when(squashed == "", F.lit("/")).otherwise(squashed)
    query = F.coalesce(F.parse_url(url, F.lit("QUERY")), F.lit(""))
    kept = F.array_join(
        F.array_sort(
            F.filter(
                F.split(query, "&"),
                lambda p: (p != "") & ~F.lower(p).rlike(TRACKING_PARAM_RE),
            )
        ),
        "&",
    )
    query_part = F.when(kept == "", F.lit("")).otherwise(F.concat(F.lit("?"), kept))
    rebuilt = F.concat(
        scheme, F.lit("://"), host, port_part, path, query_part
    )
    return F.when(host.isNull() | (host == ""), url).otherwise(rebuilt)
