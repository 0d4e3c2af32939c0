"""URL canonicalization + hashing — pure native expressions.

canonicalize: lowercase scheme+host, drop fragments, drop default ports,
collapse empty query ('?' tail). Query-parameter reordering is deliberately
NOT done (the reference treats URLs literally; GEPRIS URLs are
crawler-built and already canonical — CrawledResourceDetailDataGraph.scala:27).

url_hash = xxhash64(canonical_url): the 64-bit key stored in the url_seen
table. The URL-seen bloom (operators/url_seen.py) probes the same
xxhash64 of the url plus a salted second hash (north rule: canonicalize ->
xxhash64 -> per-partition filter shards).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

_SCHEME_HOST = r"^([a-zA-Z][a-zA-Z0-9+.-]*)://([^/?#]*)(.*)$"


def canonical_url(url: Column | str) -> Column:
    c = F.col(url) if isinstance(url, str) else url
    scheme = F.lower(F.regexp_extract(c, _SCHEME_HOST, 1))
    host = F.lower(F.regexp_extract(c, _SCHEME_HOST, 2))
    rest = F.regexp_extract(c, _SCHEME_HOST, 3)
    # strip fragment, scheme-DEFAULT ports only (https://h:80 is a distinct
    # origin from https://h and must NOT alias), trailing lone '?'
    host = (
        F.when(scheme == "http", F.regexp_replace(host, ":80$", ""))
        .when(scheme == "https", F.regexp_replace(host, ":443$", ""))
        .otherwise(host)
    )
    rest = F.regexp_replace(rest, "#.*$", "")
    rest = F.regexp_replace(rest, r"\?$", "")
    rest = F.when(rest == "", F.lit("/")).otherwise(rest)
    return F.when(
        F.regexp_extract(c, _SCHEME_HOST, 1) == "", c  # not a URL: pass through
    ).otherwise(F.concat(scheme, F.lit("://"), host, rest))


def url_hash(url: Column | str) -> Column:
    c = F.col(url) if isinstance(url, str) else url
    return F.xxhash64(c)


def host_of(url: Column | str) -> Column:
    c = F.col(url) if isinstance(url, str) else url
    return F.lower(F.regexp_replace(F.regexp_extract(c, _SCHEME_HOST, 2), ":\\d+$", ""))
