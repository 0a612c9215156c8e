"""sitemap.xml source — URL discovery the reference lacks, crawl-essential.

The reference seeds only from a hardcoded paginated list (exampes/finder/
bm1365Model/JcUx.go:47-85); real crawls bootstrap their frontier from the
Sitemaps protocol (sitemaps.org, referenced by RFC 9309 robots files via
the `Sitemap:` field). This source turns fetched sitemap bodies into seed
candidates for `plans.crawl.seeds_to_candidates`.

Grammar (the sitemaps.org 0.9 subset Common-Crawl-scale sites emit):

* a URL set:   <urlset><url><loc>…</loc>[<lastmod>…][<priority>…]</url>…
* an index:    <sitemapindex><sitemap><loc>…</loc>…</sitemap>…  (children
  are further sitemap fetches — surfaced as kind='sitemap' rows so the
  crawl loop can enqueue them like any other fetch)

Plan shape: bodies are DATA (one row per fetched sitemap file), so the
parse is a per-row projection — `regexp_extract_all` for the repeated
<url>/<sitemap> blocks, one explode, then plain regexp_extract per field.
The regexes run once per sitemap FILE (the codec cost of this source, the
same budget class as the WARC parser), never per frontier URL; everything
stays JVM-side — no Python. Both regex functions exist verbatim in DuckDB,
so the parse has an exact oracle twin.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# (?s) lets blocks span lines; loc values are trimmed of whitespace
_URL_BLOCK = r"(?s)<url>(.*?)</url>"
_SMAP_BLOCK = r"(?s)<sitemap>(.*?)</sitemap>"
_LOC = r"(?s)<loc>\s*(.*?)\s*</loc>"
_LASTMOD = r"(?s)<lastmod>\s*(.*?)\s*</lastmod>"
_PRIORITY = r"(?s)<priority>\s*(.*?)\s*</priority>"

DEFAULT_PRIORITY = 0.5  # sitemaps.org: "The default priority of a page is 0.5"

PRIORITY_SCALE = 100  # frontier priority units per 1.0 of sitemap priority


def priority_units(priority) -> "F.Column":
    """Sitemap <priority> (double, 0.0-1.0) -> the integer frontier
    priority the queue ranks by (`priority long`, SURVEY §1). floor(x*100
    + 0.5) instead of round(): HALF_UP on both engines and in plain
    Python (`priority_units_py`), so 0.9 -> 90 exactly even though
    0.9*100 is 90.00000000000001 in binary."""
    return F.floor(priority * PRIORITY_SCALE + F.lit(0.5)).cast("long")


def priority_units_py(priority: float) -> int:
    """Python twin of :func:`priority_units` (oracle/simulator side)."""
    import math

    return int(math.floor(priority * PRIORITY_SCALE + 0.5))


# a sitemap file's root element is <urlset> or <sitemapindex>, after an
# optional BOM and any whitespace, <?...?> processing instructions (the XML
# declaration, WordPress's xml-stylesheet) and <!--...--> comments; any
# other XML (RSS/Atom feeds, ...) is not parsed for <loc> blocks. Anchored,
# and each prolog item is an atomic group, so a non-sitemap fails at its
# first element and no lazy match is re-extended on backtracking. Only the
# four XML whitespace characters are spelled out: Java's and Python's \s
# differ outside ASCII, and this pattern runs on both.
_SITEMAP_ROOT = (
    r"(?s)^\uFEFF?(?>[ \t\r\n]+|<\?.*?\?>|<!--.*?-->)*"
    r"<(?:urlset|sitemapindex)(?=[ \t\r\n/>])"
)


def is_sitemap_root(body) -> "F.Column":
    """True when the decoded body's root element is <urlset> or
    <sitemapindex> (:data:`_SITEMAP_ROOT`). Gate for :func:`parse_sitemaps`
    in the crawl, so a feed carrying <url><loc> blocks can neither inject
    candidates nor take sitemap fetch slots. The regex runs once per XML
    body, like the parse's own."""
    return body.rlike(_SITEMAP_ROOT)


def is_sitemap_root_py(body: str) -> bool:
    """Python twin of :func:`is_sitemap_root` (tests/oracle.py): the same
    pattern, so engine and oracle cannot drift."""
    import re

    return re.match(_SITEMAP_ROOT, body) is not None


def parse_sitemaps(
    bodies: DataFrame,
    host_col: str = "host",
    body_col: str = "body",
    carry_cols: tuple[str, ...] = (),
) -> DataFrame:
    """(host, body) -> (host, kind, pos, loc, lastmod, priority).

    kind='url' rows are page URLs (priority defaulted to 0.5 when absent
    or unparsable, per the protocol); kind='sitemap' rows are child
    sitemaps from an index file. ``pos`` is the block's 0-based position
    within its kind's blocks of that body — the deterministic in-file
    order the crawl uses as link_pos. Blocks without a <loc> are dropped —
    the protocol makes <loc> mandatory. ``carry_cols`` pass through
    untouched (the crawl threads parent url/depth alongside the body)."""
    host = F.col(host_col).alias("host")
    body = F.col(body_col)
    carried = [F.col(c) for c in carry_cols]

    def blocks(pattern: str, kind: str) -> DataFrame:
        out = bodies.select(
            host,
            *carried,
            F.lit(kind).alias("kind"),
            F.posexplode(F.regexp_extract_all(body, F.lit(pattern), 1)).alias(
                "pos", "_b"
            ),
        )
        loc = F.regexp_extract(F.col("_b"), _LOC, 1)
        lastmod = F.regexp_extract(F.col("_b"), _LASTMOD, 1)
        pr = F.regexp_extract(F.col("_b"), _PRIORITY, 1)
        return out.select(
            "host",
            *[F.col(c) for c in carry_cols],
            "kind",
            F.col("pos").cast("long").alias("pos"),
            loc.alias("loc"),
            F.when(lastmod == "", F.lit(None).cast("string"))
            .otherwise(lastmod).alias("lastmod"),
            F.coalesce(
                pr.try_cast("double"), F.lit(float(DEFAULT_PRIORITY))
            ).alias("priority"),
        ).filter(F.col("loc") != "")

    return blocks(_URL_BLOCK, "url").unionByName(blocks(_SMAP_BLOCK, "sitemap"))


def recrawl_candidates(
    parsed: DataFrame,
    crawled: DataFrame,
    url_col: str = "url",
    ts_col: str = "last_crawl",
) -> DataFrame:
    """Freshness-driven recrawl selection: sitemap ``<lastmod>`` vs the
    crawl's last-fetch time — the scheduling loop a continuously-refreshed
    100-TB corpus runs daily (fetch sitemaps cheaply, refetch only pages
    the site declares changed plus pages never crawled).

    ``parsed``: parse_sitemaps output (kind='url' rows used).
    ``crawled``: (url, last_crawl date/timestamp) — e.g. max(warc_ts) per
    url from the pages corpus, or the order table's round times.

    Rule (date granularity — sitemaps.org allows date-only lastmod, so
    finer comparison would fabricate precision): recrawl iff never crawled
    (reason='new'), or lastmod parses AND lastmod > last_crawl's date
    (reason='stale'). Unparsable/absent lastmod on a crawled URL = no row
    (the protocol gives no evidence of change). Duplicated listings
    collapse to MAX(lastmod, priority) first, so output is one row per
    URL. Plan: one groupBy(url) + one left join on url (sort-merge at
    scale; broadcast when the crawled dim is small) — nothing quadratic.
    Output: (url, reason, priority) with priority in frontier units, ready
    for seeds_to_candidates/admission."""
    urls = (
        parsed.filter(F.col("kind") == "url")
        .groupBy(F.col("loc").alias("_u"))
        .agg(
            F.max(F.col("lastmod").try_cast("date")).alias("_lastmod"),
            F.max("priority").alias("_prio"),
        )
    )
    crawled_dim = crawled.select(
        F.col(url_col).alias("_u"),
        F.col(ts_col).cast("date").alias("_crawled"),
    ).groupBy("_u").agg(F.max("_crawled").alias("_crawled"))
    j = urls.join(crawled_dim, on="_u", how="left")
    reason = (
        F.when(F.col("_crawled").isNull(), F.lit("new"))
        .when(
            F.col("_lastmod").isNotNull()
            & (F.col("_lastmod") > F.col("_crawled")),
            F.lit("stale"),
        )
    )
    return (
        j.withColumn("reason", reason)
        .filter(F.col("reason").isNotNull())
        .select(
            F.col("_u").alias("url"),
            "reason",
            priority_units(F.col("_prio")).alias("priority"),
        )
    )


def parse_sitemaps_py(body: str) -> list[dict]:
    """Plain-Python twin of :func:`parse_sitemaps` over one body (the
    single-threaded crawl simulator's sitemap step, tests/oracle.py) —
    the SAME module-level regexes, block positions, <loc> mandatory-ness
    and priority defaulting, so engine and oracle can never drift."""
    import re

    out: list[dict] = []
    for pattern, kind in ((_URL_BLOCK, "url"), (_SMAP_BLOCK, "sitemap")):
        for pos, b in enumerate(re.findall(pattern, body)):
            m = re.search(_LOC, b)
            loc = m.group(1) if m else ""
            if not loc:
                continue
            lm = re.search(_LASTMOD, b)
            pr = re.search(_PRIORITY, b)
            try:
                prio = float(pr.group(1)) if pr else float(DEFAULT_PRIORITY)
            except ValueError:
                prio = float(DEFAULT_PRIORITY)
            out.append(
                {
                    "kind": kind,
                    "pos": pos,
                    "loc": loc,
                    "lastmod": lm.group(1) if lm else None,
                    "priority": prio,
                }
            )
    return out


def sitemap_seeds(parsed: DataFrame) -> DataFrame:
    """kind='url' rows -> the (url, order, priority) seed shape the crawl
    consumes (plans.crawl.seeds_to_candidates; priority in integer frontier
    units). Order is deterministic and protocol-faithful: highest priority
    first, URL as the tiebreak — never task order.

    A URL listed in multiple sitemaps (or twice with different priorities)
    yields exactly ONE seed row carrying its MAX priority — the per-url
    aggregate runs BEFORE the rank, so (url, order) is unique as promised.

    Scale note: the dense global rank is a single-task window, which is
    correct for seed lists (bounded, like the reference's InitReqList).
    A 10^9-URL sitemap corpus is not a seed list — feed those rows
    through admission as ordinary candidates (link_pos = any
    deterministic per-row value) instead of ranking them globally."""
    w = Window.orderBy(F.col("priority").desc(), F.col("url").asc())
    return (
        parsed.filter(F.col("kind") == "url")
        .groupBy(F.col("loc").alias("url"))
        .agg(F.max("priority").alias("priority"))
        .withColumn("order", F.row_number().over(w).cast("long") - 1)
        .select("url", "order", priority_units(F.col("priority")).alias("priority"))
    )
