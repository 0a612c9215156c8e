"""URL column functions.

Everything except full RFC-3986 canonicalization is expressed with native
``pyspark.sql.functions`` so the admission hot path stays inside
whole-stage codegen. Canonicalization (dot segments, percent normalization)
runs as an Arrow-vectorized pandas UDF over ``webcrawler_spark.urlnorm`` —
the same module the oracle uses.

Primary-domain extraction reproduces scheduler/domain.go:8-60 natively:
the ordered suffix-regex list becomes an ordered ``coalesce`` of anchored
``regexp_extract`` captures, and the "label before the suffix" is a
``substring_index``. The Go alternation semantics (leftmost match; e.g.
``.com.cn`` beats ``.com`` when ``.com`` is not at the end) carry over
because Java regex backtracks the anchored alternation identically.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import StringType

from .. import urlnorm

# capture-group versions of scheduler/domain.go:10-29, in the same order
_DOMAIN_PATTERNS = [
    r"\.(com|com\.\w{2})$",
    r"\.(gov|gov\.\w{2})$",
    r"\.(net|net\.\w{2})$",
    r"\.(org|org\.\w{2})$",
    r"\.(me)$",
    r"\.(biz)$",
    r"\.(info)$",
    r"\.(name)$",
    r"\.(mobi)$",
    r"\.(so)$",
    r"\.(asia)$",
    r"\.(tel)$",
    r"\.(tv)$",
    r"\.(cc)$",
    r"\.(co)$",
    r"\.(\w{2})$",
]

_IP_PATTERN = r"((25[0-5]|2[0-4]\d|[01]?\d?\d)\.){3}(25[0-5]|2[0-4]\d|[01]?\d?\d)"

# Single-regex fusion of the ordered pattern list: every pattern is
# end-anchored, so any two patterns matching the same host match nested
# suffixes starting at different positions — and inspection of the suffix
# set shows a shorter suffix never belongs to a higher-priority pattern
# than a longer one ending with it (e.g. ".com.me" is P1, ".me" is P5).
# Hence Go's first-pattern-wins loop ≡ leftmost search of one alternation
# (alternation order preserved for same-position ties). One regex eval per
# row instead of 16 — the admission hot path stays codegen-compact.
_DOMAIN_SUFFIX_COMBINED = (
    r"\.(" + "|".join(p[len(r"\.("):-len(r")$")] for p in _DOMAIN_PATTERNS) + r")$"
)


@pandas_udf(StringType())
def canonicalize_udf(urls: pd.Series) -> pd.Series:
    """RFC-3986 canonical form; None for invalid/relative input."""
    return urls.map(urlnorm.canonicalize, na_action="ignore")


# Nondeterministic so each row crosses into Python once: Catalyst copies a
# deterministic UDF into every filter it pushes below the projection that
# computes it (admission's ``url IS NOT NULL``), a second Arrow pass over
# the same rows. PySpark documents asNondeterministic for exactly this.
canonicalize_udf = canonicalize_udf.asNondeterministic()


def url_scheme(url: Column) -> Column:
    """Scheme of a canonical URL (already lowercased by canonicalization)."""
    return F.regexp_extract(url, r"^([a-z][a-z0-9+.\-]*)://", 1)


def url_host(url: Column) -> Column:
    """netloc incl. non-default port — whitelist/politeness key
    (reference uses httpReq.Host, scheduler/scheduler.go:555)."""
    return F.regexp_extract(url, r"^[a-z][a-z0-9+.\-]*://([^/?#]+)", 1)


def url_path(url: Column) -> Column:
    return F.regexp_extract(url, r"^[a-z][a-z0-9+.\-]*://[^/?#]+(/[^?#]*)", 1)


# Regex-free host/path for CANONICAL urls (the admission hot path).
# canonicalize() guarantees: lowercase scheme + "://", netloc, absolute
# path (empty path became "/"), no fragment — so byte-level
# substring_index/substr reproduce the regex versions exactly, without a
# java.util.regex Matcher allocation per row (measured 4-7x cheaper and,
# unlike the regex path, scales linearly past 8 threads).

def url_rest_canonical(url: Column) -> Column:
    """Everything after the FIRST '://' of a canonical URL.

    Must be the first occurrence, not substring_index(..., -1): redirect/
    tracking URLs embed absolute URLs in the query
    (http://evil.biz/r?u=http://www.example.com/) and splitting on the
    LAST '://' would extract host/path from the embedded URL — a domain-
    whitelist bypass (the scheduler.go:555 safety invariant). instr is
    still a byte scan, preserving the no-regex hot path."""
    return F.substring(url, F.instr(url, "://") + F.lit(3), F.lit(1 << 30))


def url_host_canonical(url: Column) -> Column:
    return F.substring_index(url_rest_canonical(url), "/", 1)


def url_path_canonical(url: Column) -> Column:
    """Path without query — equals url_path() on canonical URLs."""
    rest = url_rest_canonical(url)
    host = F.substring_index(rest, "/", 1)
    path_q = F.substring(rest, F.length(host) + 1, F.lit(1 << 30))
    return F.substring_index(path_q, "?", 1)


def url_sha1(url: Column) -> Column:
    return F.sha1(F.encode(url, "UTF-8"))


def url_basename(path: Column) -> Column:
    """Go path.Base for file-name extraction (bmParser.go:153), natively:
    strip trailing slashes, take the last '/'-separated label."""
    stripped = F.regexp_replace(path, r"/+$", "")
    return (
        F.when(path == "", F.lit("."))
        .when(stripped == "", F.lit("/"))
        .otherwise(F.element_at(F.split(stripped, "/"), -1))
    )


def primary_domain(host: Column) -> Column:
    """Native reimplementation of getPrimaryDomain (scheduler/domain.go:32-60).

    Returns NULL for unrecognized hosts (the Go version returns an error,
    which the admission filter treats as reject, scheduler.go:555-563).
    """
    trimmed = F.trim(host)
    suffix = F.nullif(F.regexp_extract(trimmed, _DOMAIN_SUFFIX_COMBINED, 1), F.lit(""))
    # suffixIndex = len(host) - len(suffix) - 1  (position of the '.')
    first_part_len = F.length(trimmed) - F.length(suffix) - F.lit(1)
    first_part = F.substring(trimmed, 1, first_part_len)
    last_label = F.substring_index(first_part, ".", -1)
    return (
        F.when(trimmed == "", F.lit(None).cast("string"))
        .when(trimmed.rlike(_IP_PATTERN), trimmed)  # IP passthrough (search semantics)
        .when(suffix.isNull() | (first_part_len <= 0), F.lit(None).cast("string"))
        .otherwise(F.concat(last_label, F.lit("."), suffix))
    )


def content_type_for(url: Column) -> Column:
    """Derived response Content-Type: the pages table plays the web, so the
    'header' comes from the URL extension (fixtures.content_type_for is the
    same mapping for the oracle)."""
    path = F.lower(F.substring_index(url, "?", 1))
    return (
        F.when(path.endswith(".jpg") | path.endswith(".jpeg"), F.lit("image/jpeg"))
        .when(path.endswith(".png"), F.lit("image/png"))
        .when(path.endswith(".gif"), F.lit("image/gif"))
        .when(path.endswith(".xml"), F.lit("application/xml"))
        .otherwise(F.lit("text/html; charset=utf-8"))
    )


def image_format(content_type: Column) -> Column:
    """Substring between '/' and optional ';' (bmParser.go:137-149)."""
    after = F.regexp_extract(content_type, r"^[^/]+/([^;]*)", 1)
    return F.when(F.instr(content_type, "/") > 1, after).otherwise(F.lit(""))
