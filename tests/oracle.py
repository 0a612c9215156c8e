"""Single-threaded reference simulator (the correctness oracle).

Implements the reference's crawl semantics exactly, as a plain-Python BFS
over the synthetic pages table:

* admission filter conjunction in SendReq order — validity, scheme,
  seen-dedup, domain whitelist, depth (scheduler/scheduler.go:528-576);
  seen-set insertion at admission time (scheduler.go:574), not fetch time;
* depth normalization: every emitted request gets respDepth+1
  (module/local/analyzer/analyzer.go:119-132);
* parser sets: "generic" (internal/parser.go), "bm1365" (bmParser.go +
  JcUx.go), or "combined" (both, mirroring the analyzer's parser-list
  concatenation, analyzer.go:92-111);
* NEW (north_rule, not in reference): RFC-3986 canonicalization + sha1
  keys, robots.txt prefix rules, per-host politeness budgets with
  deferred-URL carry-over.

Determinism contract (SURVEY.md §5.2): the reference's within-round order is
nondeterministic (goroutine-per-Put); the defined order is the BFS round
structure with canonical within-round order (host, url_sha1). The oracle
produces golden_order/golden_seen/golden_items/golden_metrics in exactly
that canonical form, and the Spark engine must match them.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from webcrawler_spark.extract import (
    extract_img_links,
    extract_jcux,
    extract_links,
    extract_scoped_img_links,
    image_format_from_content_type,
)
from webcrawler_spark import htmldom
from webcrawler_spark.fixtures import content_type_for
from webcrawler_spark.urlnorm import (
    canonicalize,
    primary_domain,
    sha1_hex,
    url_host,
    url_path,
    url_scheme,
)


@dataclass
class CrawlConfig:
    whitelist: list[str]
    max_depth: int = 3
    max_rounds: int = 20
    parsers: str = "combined"  # "generic" | "bm1365" | "combined"
    budgets: dict[str, int] | None = None       # host -> per-round fetch slots
    robots: dict[str, list] | None = None       # host -> rules; each rule is
    # a plain str (disallow prefix) or a (prefix, allow: bool) tuple —
    # decided by RFC 9309 longest-prefix-match, allow wins ties
    max_fetch_retries: int = 0                  # fetch-miss re-enqueues


@dataclass
class Candidate:
    url: str          # canonical
    sha1: str
    depth: int
    parent: str
    link_pos: int
    priority: int = 0   # frontier priority units (sitemap <priority> x100;
    # plain links 0) — politeness ranks (priority desc, depth, sha1)
    attempts: int = 0


@dataclass
class CrawlResult:
    order: list[tuple[int, str, str, str]] = field(default_factory=list)
    seen: dict[str, tuple[str, int]] = field(default_factory=dict)  # sha1 -> (url, first_round)
    items: list[dict] = field(default_factory=list)
    metrics: list[dict] = field(default_factory=list)
    errors: list[dict] = field(default_factory=list)


def _admit(raw: str, depth: int, cfg: CrawlConfig) -> tuple[str, str] | None:
    """Filters before the seen check. Returns (canonical_url, sha1) or None.

    Reference order: validity -> scheme -> [seen] -> whitelist -> depth.
    The seen check is handled by the caller (it is stateful); the remaining
    predicates are pure so conjunction order cannot change the admitted set.
    """
    canon = canonicalize(raw)
    if canon is None:
        return None
    if url_scheme(canon) not in ("http", "https"):
        return None
    host = url_host(canon)
    if cfg.robots:
        # RFC 9309 §2.2.2: longest matching prefix wins, allow beats
        # disallow at equal length, no match = allowed (NEW per north_rule)
        best: tuple[int, bool] | None = None
        path = url_path(canon)
        for rule in cfg.robots.get(host, ()):
            prefix, allow = (rule, False) if isinstance(rule, str) else (
                rule[0], bool(rule[1])
            )
            if not prefix or not path.startswith(prefix):
                continue
            key = (len(prefix), allow)
            if best is None or key > best:
                best = key
        if best is not None and not best[1]:
            return None
    pd = primary_domain(host)
    if pd is None or pd not in cfg.whitelist:
        return None
    if depth > cfg.max_depth:
        return None
    return canon, sha1_hex(canon)


def crawl(pages: list[dict], seeds: list[dict], cfg: CrawlConfig) -> CrawlResult:
    web = {p["url"]: p for p in pages}
    res = CrawlResult()
    deferred: list[Candidate] = []
    retry: list[Candidate] = []
    candidates = [
        Candidate(url="", sha1="", depth=0, parent="",
                  link_pos=s.get("link_pos", s["order"]),
                  priority=s.get("priority", 0))
        for s in sorted(seeds, key=lambda s: s["order"])
    ]
    # seeds carry raw urls; normalize representation: raw in .url for now
    for c, s in zip(candidates, sorted(seeds, key=lambda s: s["order"])):
        c.url = s["url"]

    rnd = 0
    while rnd <= cfg.max_rounds:
        n_candidates = len(candidates)

        # --- admission: pure filters, in-round dedup, seen anti-join ---
        admitted: list[Candidate] = []
        best: dict[str, Candidate] = {}
        for c in candidates:
            adm = _admit(c.url, c.depth, cfg)
            if adm is None:
                continue
            canon, sha = adm
            cand = Candidate(url=canon, sha1=sha, depth=c.depth,
                             parent=c.parent, link_pos=c.link_pos,
                             priority=c.priority)
            prev = best.get(sha)
            # deterministic in-round winner: min (depth, parent, link_pos);
            # priority is NOT part of the ordering — the winner carries the
            # MAX priority over all duplicates (engine: max() in the agg)
            if prev is None or (cand.depth, cand.parent, cand.link_pos) < (
                prev.depth, prev.parent, prev.link_pos
            ):
                cand.priority = max(cand.priority,
                                    prev.priority if prev else cand.priority)
                best[sha] = cand
            else:
                prev.priority = max(prev.priority, cand.priority)
        for sha, cand in best.items():
            if sha in res.seen:
                continue
            res.seen[sha] = (cand.url, rnd)  # seen at admission (scheduler.go:574)
            admitted.append(cand)

        # --- politeness: per-host budget, deferred carry-over (NEW) ---
        queue = deferred + admitted + retry
        retry = []
        if not queue:
            res.metrics.append(
                {"round": rnd, "candidates": n_candidates, "admitted": len(admitted),
                 "fetched": 0, "items": 0, "errors": 0, "deferred": 0}
            )
            break
        fetch_now: list[Candidate] = []
        deferred = []
        if cfg.budgets:
            by_host: dict[str, list[Candidate]] = {}
            for c in queue:
                by_host.setdefault(url_host(c.url), []).append(c)
            for host, cands in by_host.items():
                # priority desc, then depth asc, then sha1 (politeness.ranked)
                cands.sort(key=lambda c: (-c.priority, c.depth, c.sha1))
                budget = cfg.budgets.get(host)
                if budget is None:
                    fetch_now.extend(cands)
                else:
                    fetch_now.extend(cands[:budget])
                    deferred.extend(cands[budget:])
        else:
            fetch_now = queue

        # canonical within-round order (SURVEY §5.2)
        fetch_now.sort(key=lambda c: (url_host(c.url), c.sha1))
        for c in fetch_now:
            res.order.append((rnd, url_host(c.url), c.url, c.sha1))

        # --- fetch (join against the pages table) + parse ---
        next_candidates: list[Candidate] = []
        n_items = 0
        n_errors = 0
        for c in fetch_now:
            page = web.get(c.url)
            if page is None:
                res.errors.append({"round": rnd, "url": c.url, "stage": "fetch",
                                   "message": "fetch_miss"})
                n_errors += 1
                if c.attempts < cfg.max_fetch_retries:
                    retry.append(
                        Candidate(url=c.url, sha1=c.sha1, depth=c.depth,
                                  parent=c.parent, link_pos=c.link_pos,
                                  priority=c.priority,
                                  attempts=c.attempts + 1)
                    )
                continue
            ct = content_type_for(c.url)
            if ct.startswith("image"):
                fmt = image_format_from_content_type(ct)
                if fmt:
                    res.items.append(
                        {"round": rnd, "url": c.url, "kind": "img",
                         "file_name": _basename(url_path(c.url)), "file_ext": fmt,
                         "file_size": len(page["html"]), "jcux": None}
                    )
                    n_items += 1
                continue
            if ct == "application/xml":
                # Sitemaps protocol: index children re-enter admission as
                # fetchable URLs, urlset entries as page candidates with
                # their <priority> — same constants/regexes/root gate as
                # the engine; other XML (feeds) yields nothing
                from webcrawler_spark.plans.crawl import (
                    SITEMAP_LINK_POS,
                    SITEMAP_PRIORITY,
                )
                from webcrawler_spark.sources.sitemap import (
                    is_sitemap_root_py,
                    parse_sitemaps_py,
                    priority_units_py,
                )

                body = page["html"].decode("utf-8")
                if not is_sitemap_root_py(body):
                    continue
                for blk in parse_sitemaps_py(body):
                    if blk["kind"] == "sitemap":
                        lp = SITEMAP_LINK_POS + blk["pos"]
                        pr = SITEMAP_PRIORITY
                    else:
                        lp = blk["pos"]
                        pr = priority_units_py(blk["priority"])
                    next_candidates.append(
                        Candidate(url=blk["loc"], sha1="", depth=c.depth + 1,
                                  parent=c.url, link_pos=lp, priority=pr)
                    )
                continue
            if not ct.startswith("text/html"):
                continue
            # row-level parse-error capture (mirror of the engine's UDF
            # try/except): a poisoned page yields one errors row — the
            # exception CLASS name, stable across stack depths — and
            # contributes no items/links.
            try:
                dom = htmldom.parse(page["html"])
                out_links: list[str] = []
                rec = None
                if cfg.parsers in ("bm1365", "combined"):
                    rec = extract_jcux(dom)
                    out_links.extend(extract_scoped_img_links(dom, c.url))
                if cfg.parsers in ("generic", "combined"):
                    out_links.extend(extract_links(dom, c.url))
                    out_links.extend(extract_img_links(dom, c.url))
            except Exception as e:  # noqa: BLE001
                res.errors.append({"round": rnd, "url": c.url, "stage": "parse",
                                   "message": type(e).__name__})
                n_errors += 1
                # analyze-failure retry parity (scheduler.go:394)
                if c.attempts < cfg.max_fetch_retries:
                    retry.append(
                        Candidate(url=c.url, sha1=c.sha1, depth=c.depth,
                                  parent=c.parent, link_pos=c.link_pos,
                                  priority=c.priority,
                                  attempts=c.attempts + 1)
                    )
                continue
            if rec is not None:
                res.items.append(
                    {"round": rnd, "url": c.url, "kind": "bm", "file_name": "",
                     "file_ext": "", "file_size": 0, "jcux": rec}
                )
                n_items += 1
            for pos, u in enumerate(out_links):
                next_candidates.append(
                    Candidate(url=u, sha1="", depth=c.depth + 1,
                              parent=c.url, link_pos=pos)
                )

        res.metrics.append(
            {"round": rnd, "candidates": n_candidates, "admitted": len(admitted),
             "fetched": len(fetch_now), "items": n_items, "errors": n_errors,
             "deferred": len(deferred)}
        )
        candidates = next_candidates
        rnd += 1
        if not candidates and not deferred and not retry:
            break

    return res


def _basename(path: str) -> str:
    from webcrawler_spark.urlnorm import basename

    return basename(path)
