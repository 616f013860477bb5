"""URL canonicalization for web-crawl corpora — pure Catalyst Columns.

Training-data pipelines over crawled corpora dedup by CANONICAL URL
before (and in addition to) content dedup: the same page is fetched as
``HTTPS://WWW.site.com:443/a//b/?utm_source=feed&id=1#frag`` and
``https://site.com/a/b?id=1``, and a URL-keyed first-stage dedup is the
cheapest way to collapse refetches (public practice: the CCNet /
RefinedWeb-style pipelines key their first dedup stage on normalized
URLs; normalization steps per RFC 3986 §6 plus the conventional
tracking-parameter strip).

Everything is built from JVM-side built-ins (regexp / split / filter /
array_sort) — no UDFs; the only interpreted pieces are the lambda
bodies inside ``filter()`` (higher-order functions are CodegenFallback)
which run over per-URL query-param arrays of length ≤ ~10, not over the
corpus.  Scale shape: a pure per-row projection — map-only, no shuffle;
the dedup that follows is one hash-groupBy on the canonical key.

Normalization steps (in order):
1. trim; strip the ``#fragment``;
2. scheme and host:port lowercased (path case is PRESERVED — RFC 3986
   says path is case-sensitive);
3. leading ``www.`` stripped from the host;
4. default port stripped (``:443`` for https, ``:80`` for http; other
   ports kept);
5. duplicate path slashes collapsed, trailing slash stripped (bare host
   normalizes to path ``/``);
6. tracking params dropped (``utm_*``, ``gclid``, ``fbclid``, ``ref``),
   remaining params sorted byte-wise, re-joined with ``&`` (an
   all-tracking query drops the ``?`` entirely).

Out of scope (documented, not silently wrong): percent-encoding case
normalization (%2f vs %2F), IDN/punycode, scheme-relative ``//host``
URLs, relative references, and userinfo (``user:pw@host`` — RFC 3986
says userinfo is case-sensitive, but a URL carrying one is lowercased
along with the host here; crawl indexes strip credentials upstream) —
inputs are assumed to be absolute ``scheme://...`` URLs as found in
crawl indexes.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from steampipe_sqlite_spark.functions.text import _let

# conventional tracking params; anchored, matches bare `ref` and `ref=x`
TRACKING_PARAM_RE = "^(utm_[^=]*|gclid|fbclid|ref)(=|$)"


def canonical_url(url: Column) -> Column:
    """Canonical form of an absolute URL (see module docstring).

    DuckDB twin: the same step chain spelled as SQL in the
    ``dedup_url_canonical`` oracle (plans/llm.py) — every regex below is
    shared verbatim between Java regex and RE2 (anchors, character
    classes and ``{2,}`` quantifiers only), and the one
    behavior-divergent call is documented there (DuckDB's
    ``regexp_replace`` needs the explicit ``'g'`` flag for the
    slash-collapse; Spark's replaces all occurrences by default).
    """
    return _let(F.regexp_replace(F.trim(url), "#.*$", ""), _split_scheme)


def _split_scheme(u: Column) -> Column:
    """canonical_url's steps over the fragment-stripped url ``u``.  Each
    step references the one before several times, so _let binds ``u``, the
    scheme, the rest, the host:port and the www-stripped host once per row
    instead of nesting each into every later step (the plan held ``u`` 120
    times)."""
    scheme = F.lower(F.regexp_extract(u, "^([A-Za-z][A-Za-z0-9+.\\-]*)://", 1))
    # '://' is 3 chars; substr is 1-based, so the rest starts at len+4
    return _let(
        scheme,
        lambda scheme: _let(
            u.substr(F.length(scheme) + F.lit(4), F.length(u)),
            lambda rest: _let(
                F.lower(F.regexp_extract(rest, "^([^/?]*)", 1)),
                lambda hostport: _let(
                    F.regexp_replace(hostport, "^www\\.", ""),
                    lambda host: _assemble(scheme, rest, hostport, host),
                ),
            ),
        ),
    )


def _assemble(scheme: Column, rest: Column, hostport: Column, host: Column) -> Column:
    tail = rest.substr(F.length(hostport) + F.lit(1), F.length(rest))
    host = (
        F.when(scheme == "https", F.regexp_replace(host, ":443$", ""))
        .when(scheme == "http", F.regexp_replace(host, ":80$", ""))
        .otherwise(host)
    )
    path0 = F.regexp_extract(tail, "^([^?]*)", 1)
    query = F.when(
        F.length(tail) > F.length(path0),
        tail.substr(F.length(path0) + F.lit(2), F.length(tail)),
    ).otherwise(F.lit(""))
    path = F.regexp_replace(path0, "/{2,}", "/")
    path = F.regexp_replace(path, "/$", "")
    path = F.when(path == "", F.lit("/")).otherwise(path)
    params = F.filter(
        F.split(query, "&"),
        lambda p: (p != "") & ~p.rlike(TRACKING_PARAM_RE),
    )
    qs = F.array_join(F.array_sort(params), "&")
    return F.concat(
        scheme,
        F.lit("://"),
        host,
        path,
        F.when(qs == "", F.lit("")).otherwise(F.concat(F.lit("?"), qs)),
    )
