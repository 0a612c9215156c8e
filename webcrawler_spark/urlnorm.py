"""URL canonicalization, hashing and primary-domain extraction.

Pure Python, no Spark imports: these functions are called from vectorized
pandas UDFs (``functions/urls.py``), from the fixture generator and from the
single-threaded oracle, guaranteeing all three agree byte-for-byte.

Semantics reproduced from the reference (behavior, not code):

* scheme filter lowercases the scheme and accepts only http/https
  (reference: scheduler/scheduler.go:545-549);
* relative hrefs resolve against the page URL
  (reference: exampes/finder/internal/parser.go:70-78);
* primary-domain extraction: IP passthrough, ordered suffix patterns,
  last-dot split (reference: scheduler/domain.go:8-60);
* NEW (north_rule): full RFC-3986 normalization + SHA-1 URL hashing, which
  the reference does not do (it dedups on the raw resolved URL string).
"""

from __future__ import annotations

import hashlib
import re
from urllib.parse import urljoin, urlsplit, urlunsplit

DEFAULT_PORTS = {"http": "80", "https": "443"}

_UNRESERVED = set(
    "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz0123456789-._~"
)

# Same pattern as the reference's IP detector (scheduler/domain.go:8).
# NB: it is a *search*, not a full match — any embedded dotted quad counts.
_IP_RE = re.compile(
    r"((?:(?:25[0-5]|2[0-4]\d|[01]?\d?\d)\.){3}(?:25[0-5]|2[0-4]\d|[01]?\d?\d))"
)

# Ordered suffix patterns (scheduler/domain.go:10-29). First (leftmost) match
# wins; each is anchored at end-of-host.
_DOMAIN_RES = [
    re.compile(r"\.(com|com\.\w{2})$"),
    re.compile(r"\.(gov|gov\.\w{2})$"),
    re.compile(r"\.(net|net\.\w{2})$"),
    re.compile(r"\.(org|org\.\w{2})$"),
    re.compile(r"\.me$"),
    re.compile(r"\.biz$"),
    re.compile(r"\.info$"),
    re.compile(r"\.name$"),
    re.compile(r"\.mobi$"),
    re.compile(r"\.so$"),
    re.compile(r"\.asia$"),
    re.compile(r"\.tel$"),
    re.compile(r"\.tv$"),
    re.compile(r"\.cc$"),
    re.compile(r"\.co$"),
    re.compile(r"\.\w{2}$"),
]


def primary_domain(host: str | None) -> str | None:
    """Primary domain of a host, or None if unrecognized.

    Faithful to scheduler/domain.go:32-60: trim; IP-looking hosts pass
    through unchanged; otherwise the first suffix pattern that matches
    determines the registrable suffix, and everything from the label just
    before that suffix onward is the primary domain. A suffix match at
    index 0 (host *is* the suffix, e.g. ".com") is unrecognized.
    """
    if host is None:
        return None
    host = host.strip()
    if not host:
        return None
    if _IP_RE.search(host):
        return host
    suffix_index = 0
    for pat in _DOMAIN_RES:
        m = pat.search(host)
        if m is not None:
            suffix_index = m.start()
            break
    if suffix_index > 0:
        first_part = host[:suffix_index]
        dot = first_part.rfind(".")
        pd_index = 0 if dot < 0 else dot + 1
        return host[pd_index:]
    return None


def _normalize_percent(component: str) -> str:
    """Percent-normalization: uppercase hex digits, decode unreserved chars.

    Invalid escapes are left untouched (lenient, like browsers).
    """
    out = []
    i, n = 0, len(component)
    while i < n:
        ch = component[i]
        if ch == "%" and i + 2 < n + 1 and i + 3 <= n:
            hexpart = component[i + 1 : i + 3]
            if len(hexpart) == 2 and all(c in "0123456789abcdefABCDEF" for c in hexpart):
                val = chr(int(hexpart, 16))
                if val in _UNRESERVED:
                    out.append(val)
                else:
                    out.append("%" + hexpart.upper())
                i += 3
                continue
        out.append(ch)
        i += 1
    return "".join(out)


def _remove_dot_segments(path: str) -> str:
    """RFC 3986 §5.2.4 remove_dot_segments, literal string algorithm."""
    inp = path
    out: list[str] = []
    while inp:
        if inp.startswith("../"):
            inp = inp[3:]
        elif inp.startswith("./"):
            inp = inp[2:]
        elif inp.startswith("/./"):
            inp = "/" + inp[3:]
        elif inp == "/.":
            inp = "/"
        elif inp.startswith("/../"):
            inp = "/" + inp[4:]
            if out:
                out.pop()
        elif inp == "/..":
            inp = "/"
            if out:
                out.pop()
        elif inp in (".", ".."):
            inp = ""
        else:
            # move first path segment (incl. leading "/") to output
            start = 1 if inp.startswith("/") else 0
            nxt = inp.find("/", start)
            if nxt < 0:
                out.append(inp)
                inp = ""
            else:
                out.append(inp[:nxt])
                inp = inp[nxt:]
    return "".join(out)


def canonicalize(url: str | None) -> str | None:
    """RFC-3986 canonical form of an absolute URL (north_rule NEW step).

    lowercase scheme + host, strip default port, remove dot segments,
    percent-normalize path/query, empty path -> "/", drop fragment.
    Returns None for unparseable/relative input.
    """
    if url is None:
        return None
    url = url.strip()
    if not url:
        return None
    try:
        parts = urlsplit(url)
    except ValueError:
        return None
    scheme = parts.scheme.lower()
    if not scheme or not parts.netloc:
        return None
    host = parts.hostname
    if host is None:
        return None
    host = host.lower().rstrip(".")
    port = None
    try:
        port = parts.port  # may raise for garbage ports
    except ValueError:
        return None
    netloc = host
    if port is not None and str(port) != DEFAULT_PORTS.get(scheme, ""):
        netloc = f"{host}:{port}"
    path = _normalize_percent(parts.path)
    path = _remove_dot_segments(path)
    if not path:
        path = "/"
    query = _normalize_percent(parts.query)
    return urlunsplit((scheme, netloc, path, query, ""))


def resolve(base_url: str, href: str) -> str | None:
    """Resolve an href against the fetched page URL.

    Mirrors url.Parse + ResolveReference (internal/parser.go:70-78):
    absolute hrefs pass through, relative ones resolve against the base.
    """
    href = href.strip()
    if not href:
        return None
    try:
        return urljoin(base_url, href)
    except ValueError:
        return None


def url_host(url: str) -> str:
    """Host (with non-default port) of a canonical URL — the politeness key.

    The reference's whitelist check uses httpReq.Host which *includes* a
    non-default port (scheduler/scheduler.go:555); we keep that behavior.
    """
    parts = urlsplit(url)
    return parts.netloc


def url_path(url: str) -> str:
    return urlsplit(url).path


def url_scheme(url: str) -> str:
    return urlsplit(url).scheme.lower()


def sha1_hex(s: str) -> str:
    return hashlib.sha1(s.encode("utf-8")).hexdigest()


def basename(path: str) -> str:
    """path.Base semantics used for image file names (bmParser.go:153).

    Go's path.Base: trailing slashes removed; empty -> "."; all slashes -> "/".
    """
    if not path:
        return "."
    p = path.rstrip("/")
    if not p:
        return "/"
    idx = p.rfind("/")
    return p[idx + 1 :]
