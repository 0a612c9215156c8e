"""Frontier admission — the reference's SendReq pipeline as DataFrame algebra.

Filter conjunction (scheduler/scheduler.go:528-576, same admitted set):
validity -> scheme http/https -> [robots, NEW] -> domain whitelist ->
depth limit -> in-round dedup -> anti-join against the seen table
(the cmap test-and-set at scheduler.go:551-574).

Plan-shape notes for 100 TB scale:

* all predicates except canonicalization are native expressions — one
  WholeStageCodegen span over the candidate scan;
* dedup-before-fetch is manual predicate pushdown: the anti-join runs
  BEFORE the expensive fetch join (Catalyst will not reorder across the
  parse UDF, so the round plan fixes this order — SURVEY.md §4);
* in-round duplicate resolution is one aggregation, the min of the
  (depth, parent_url, link_pos, ...) struct, never "first row wins"
  (task order is nondeterministic);
* the seen anti-join is a shuffle on url_sha1; callers can pre-filter with
  the sharded bloom (operators/bloom.BloomTable.split) so only probably-
  seen URLs reach the exact join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions import urls as U
from ..functions.urls import canonicalize_udf

# Conservative test for "definitely already RFC-3986-canonical":
# lowercase http(s) scheme, lowercase port/userinfo-free host, absolute
# path with no percent escapes / fragments / whitespace / dot segments.
# URLs that fail the test are not necessarily non-canonical — they just
# take the Python path. Property-tested (fixed-point guarantee) in
# tests/test_urlnorm.py.
#
# Built from substring/instr byte scans, NOT regex: java.util.regex
# allocates a Matcher + String per row, which stops scaling past ~8
# threads (allocation-bandwidth bound) — measured 4-7x slower than this
# form at local[32]. The equivalent regex is kept in the test suite as the
# semantic spec.
_FAST_CANONICAL_RE = (
    r"^https?://[a-z0-9-]+(\.[a-z0-9-]+)*/[^%#?\s]*(\?[^%#\s]*)?$"
)
_DOT_SEGMENT_RE = r"/\.\.?(/|$|\?)"


def _contains_none(col, needles: list[str]):
    out = F.lit(True)
    for n in needles:
        out = out & (F.instr(col, n) == 0)
    return out


def is_definitely_canonical(url) -> "F.Column":
    scheme_ok = url.startswith("http://") | url.startswith("https://")
    # FIRST '://' — embedded absolute URLs in the query (redirect links)
    # must not shift the host window (see urls.url_rest_canonical).
    rest = F.substring(url, F.instr(url, "://") + F.lit(3), F.lit(1 << 30))
    host = F.substring_index(rest, "/", 1)
    path_q = F.substring(rest, F.length(host) + 1, F.lit(1 << 30))
    path = F.substring_index(path_q, "?", 1)
    host_ok = (
        (host != "")
        & (F.instr(rest, "/") > 0)              # absolute path present
        & (F.octet_length(host) == F.length(host))  # ASCII-only host: JVM
        # and Python lowercase agree exactly on ASCII, so the next check
        # is engine-independent
        & (host == F.lower(host))               # no uppercase anywhere
        & _contains_none(host, [":", "@", "?", "#"])
        & ~host.endswith(".")
    )
    pq_ok = _contains_none(path_q, ["%", "#", " ", "\t", "\n", "\r", "\x0b", "\x0c"])
    no_dot_segments = (
        _contains_none(path, ["/./", "/../"])
        & ~path.endswith("/.")
        & ~path.endswith("/..")
    )
    return scheme_ok & host_ok & pq_ok & no_dot_segments


def canonicalize_candidates(cand: DataFrame) -> DataFrame:
    """raw (url, depth, parent_url, link_pos) -> canonical + derived cols.

    Invalid/relative URLs become NULL and are dropped (the reference's
    nil-URL validity check, scheduler.go:536-544).

    Scale shape: most crawl-discovered URLs are already canonical after the
    parse UDF's urljoin, so a native byte-scan pre-test masks them out of
    the Arrow/Python canonicalizer's input — Python does real work only
    for the suspicious minority, in a single pass over the candidates.
    """
    # Single pass, no branch-union: the Arrow UDF's INPUT is null-masked
    # for already-canonical rows (urls.canonicalize_udf maps None -> None
    # with na_action='ignore', so fast rows cost nothing in Python), and
    # the output coalesces back. One scan of the candidate source instead
    # of two + union — measured ~2x on the 1M-URL frontier workload.
    probe = F.col("url").isNotNull() & is_definitely_canonical(F.col("url"))
    probe = F.coalesce(probe, F.lit(False))
    canon = F.when(probe, F.col("url")).otherwise(
        canonicalize_udf(F.when(~probe, F.col("url")))
    )
    out = cand.withColumn("url", canon).filter(F.col("url").isNotNull())
    # all rows now hold canonical urls — host/path via byte scans,
    # no per-row regex
    return (
        out.withColumn("url_sha1", U.url_sha1(F.col("url")))
        .withColumn("host", U.url_host_canonical(F.col("url")))
        .withColumn("path", U.url_path_canonical(F.col("url")))
    )


def rule_matches(path, r) -> "F.Column":
    """Native RFC 9309 §2.2.3 pattern match of a compiled robots rule
    (segments array from splitting the pattern on ``*``, anchored flag for
    a trailing ``$``) against a path column.

    Semantics: the pattern matches FROM THE START of the path; each ``*``
    bridges to the leftmost later occurrence of the next segment (leftmost
    is complete here: if any bridging assignment matches, the greedy-left
    one does); ``anchored`` additionally requires the final segment to end
    exactly at the end of the path. No regex — startswith/endswith plus an
    aggregate of locate() calls over the (tiny, pre-compiled) segment
    array, all inside codegen."""
    segs, anchored = r["segments"], r["anchored"]
    n = F.size(segs)
    s0 = F.element_at(segs, 1)
    # middle segments: everything after the first, minus the last when
    # anchored (the last is pinned to the end separately)
    mid = F.slice(segs, 2, F.when(anchored, F.greatest(n - 2, F.lit(0)))
                  .otherwise(n - 1))
    init = (F.length(s0) + 1).cast("int")

    def step(acc, s):
        found = F.call_function("locate", s, path, acc)
        return (
            F.when(acc <= 0, F.lit(0))
            .when(found == 0, F.lit(0))
            .otherwise((found + F.length(s)).cast("int"))
        )

    pos_after = F.aggregate(mid, init, step)
    last = F.element_at(segs, n)
    tail_ok = (
        F.when(~anchored, F.lit(True))
        .when(n == 1, F.length(path) == F.length(s0))
        .otherwise(
            path.endswith(last)
            & (F.length(path) - F.length(last) + 1 >= pos_after)
        )
    )
    return path.startswith(s0) & (pos_after > 0) & tail_ok


def whitelist_host_predicate(host, whitelist: list[str]) -> "F.Column":
    """Regex-free whitelist membership for a KNOWN whitelist: the fold
    ``host == d OR host.endswith("." + d)`` over the entries — pure byte
    scans inside codegen, no java.util.regex Matcher per row and no
    distinct-host aggregate, so it is legal BEFORE a stateful streaming op
    (where the batch path's distinct-host semi-join — an agg + self-join —
    is not).

    Equivalent to ``primary_domain(host).isin(whitelist)`` (the
    scheduler.go:555 membership test) whenever every whitelist entry is
    itself a registrable domain under the suffix table — which is the
    crawl's invariant: whitelists are built FROM ``primary_domain`` of
    seed hosts (scheduler/scheduler.go:126-131 builds the domain list the
    same way). Property-tested against the regex path in
    tests/test_property.py. Not for IP-address or bare-suffix entries
    (``10.0.0.1``, ``com.cn``) — those need the exact primary_domain path.
    """
    out = F.lit(False)
    for d in whitelist:
        out = out | (host == F.lit(d)) | host.endswith("." + d)
    return out


def admission_filters(
    cand: DataFrame,
    whitelist: list[str],
    max_depth: int,
    robots: DataFrame | None = None,
) -> DataFrame:
    """Pure admission predicates over canonicalized candidates.

    The scheme test is a prefix match, not a regex — canonicalization
    already lowercased the scheme (scheduler.go:545 lowercases too), and
    startswith stays a byte compare inside codegen."""
    out = cand.filter(
        F.col("url").startswith("http://") | F.col("url").startswith("https://")
    )

    # Whitelist: the primary-domain extraction is the one genuinely
    # regex-bound step, so it runs once per DISTINCT host, not once per
    # URL — a semi-join on the (small relative to the frontier) host set.
    # At 10^10 URLs the distinct-host aggregation is a partial-agg shuffle
    # of short strings; the join back is host-keyed (AQE broadcasts it
    # when the host set is small). Membership depends on the host alone,
    # so the host set is taken BEFORE the robots join, which then runs in
    # one branch of the plan only.
    #
    # The F.when(_n > 0, ...) guard is load-bearing: a predicate over only
    # the grouping column would be PUSHED BELOW the aggregate by Catalyst
    # (PushDownPredicates), silently re-evaluating the regex per URL —
    # measured 25s vs 0.5s at 750k rows / 137 hosts on local[32].
    # Referencing the aggregated _n (always >= 1, so semantics unchanged)
    # pins the filter above the distinct.
    ok_hosts = (
        out.groupBy("host").agg(F.count(F.lit(1)).alias("_n"))
        .filter(
            F.when(F.col("_n") > 0, U.primary_domain(F.col("host"))).isin(whitelist)
        )
        .select("host")
    )

    if robots is not None:
        # robots: tiny dim table, broadcast. Preferred shape is
        # (host, rules array<struct<prefix, allow, segments, anchored>>)
        # from sources.robots.parse_robots (wildcard patterns pre-compiled
        # to segment arrays); plain (host, disallow_prefixes) or
        # (prefix, allow)-only rules are promoted to single-segment
        # unanchored rules, for which rule_matches is a plain startswith.
        # Decision per candidate = RFC 9309 §2.2.2 most-specific-match:
        # among matching rules the LONGEST PATTERN wins; an equal-length
        # allow/disallow tie resolves to allow; no matching rule (or no
        # robots row) = allowed. All native: filter + transform +
        # array_max over (len, allow) structs — struct comparison gives
        # exactly the (longest, then allow-wins) order.
        def _promote(prefix_col, allow_col):
            return F.struct(
                prefix_col.alias("prefix"),
                allow_col.alias("allow"),
                F.array(prefix_col).alias("segments"),
                F.lit(False).alias("anchored"),
            )

        if "rules" not in robots.columns:
            rules_col = F.transform(
                F.col("disallow_prefixes"), lambda p: _promote(p, F.lit(False))
            )
        elif "segments" in robots.schema["rules"].dataType.elementType.names:
            rules_col = F.col("rules")
        else:
            rules_col = F.transform(
                F.col("rules"), lambda r: _promote(r["prefix"], r["allow"])
            )
        matched = F.filter(
            F.col("_r_rules"), lambda r: rule_matches(F.col("path"), r)
        )
        best = F.array_max(
            F.transform(
                matched,
                lambda r: F.struct(
                    F.length(r["prefix"]).alias("l"), r["allow"].alias("a")
                ),
            )
        )
        blocked = best.isNotNull() & ~best["a"]
        out = (
            out.join(
                F.broadcast(
                    robots.select(
                        F.col("host").alias("_r_host"),
                        rules_col.alias("_r_rules"),
                    )
                ),
                on=[out["host"] == F.col("_r_host")],
                how="left",
            )
            .filter(F.col("_r_rules").isNull() | ~blocked)
            .drop("_r_host", "_r_rules")
        )

    out = out.join(ok_hosts, on="host", how="left_semi")
    out = out.filter(F.col("depth") <= F.lit(max_depth))
    return out


def dedup_in_round(cand: DataFrame) -> DataFrame:
    """Two candidates for one URL in one round -> exactly one admitted
    (the test-and-set race at scheduler.go:551-574), with a deterministic
    winner: min (depth, parent_url, link_pos). Aggregation, not
    dropDuplicates — task order must not pick the winner.

    The winner is one struct min: struct comparison is field by field, so
    a NULL parent_url sorts first, a parent sorts before its own
    extensions and depth/link_pos compare as numbers, negative ones
    included. url/host/path are 1:1 with the group key and ride along as
    the struct's tail. min over a struct runs as a SortAggregate; partial
    aggregation still combines map-side, so the shuffle moves one row per
    (partition, url_sha1).

    A `priority` column, when present, is NOT part of the winner ordering:
    the admitted row carries the MAX priority over all duplicates (a URL
    discovered both by a 0.9-priority sitemap entry and a plain link keeps
    the sitemap's urgency) — one more column in the same aggregate."""
    extra = ["priority"] if "priority" in cand.columns else []
    winner = F.struct("depth", "parent_url", "link_pos", "url", "host", "path")
    return cand.groupBy("url_sha1").agg(
        F.min(winner).alias("_w"), *(F.max(c).alias(c) for c in extra)
    ).select(
        "url_sha1", "_w.url", "_w.host", "_w.path",
        "_w.depth", "_w.parent_url", "_w.link_pos", *extra,
    )


def cap_per_host(
    cand: DataFrame, max_per_host: int,
    order_cols: tuple[str, ...] = ("depth", "link_pos", "url_sha1"),
) -> tuple[DataFrame, DataFrame]:
    """Crawl-trap guard: bound admissions PER HOST per round. Calendar
    pages, session ids and faceted search mint unbounded distinct URLs on
    one host; politeness only paces fetches, so without this cap the
    frontier/queue grows without bound on a trap host. Returns
    (kept, overflow) split deterministically by a per-host row_number over
    ``order_cols`` (shallowest first — never task order). The window
    partitions by host; the trap host's sort is the cost of bounding it
    (one pass, spill-safe), and every healthy host's partition is small.
    Callers decide overflow policy — the crawl marks overflow SEEN but
    never queues it (drop-forever, the standard trap mitigation) and
    records error rows."""
    w = Window.partitionBy("host").orderBy(
        *[F.col(c).asc() for c in order_cols]
    )
    tagged = cand.withColumn("_hr", F.row_number().over(w))
    kept = tagged.filter(F.col("_hr") <= max_per_host).drop("_hr")
    overflow = tagged.filter(F.col("_hr") > max_per_host).drop("_hr")
    return kept, overflow


def anti_join_seen(cand: DataFrame, seen: DataFrame) -> DataFrame:
    """Drop already-seen URLs. `seen` needs only url_sha1. When `seen` is
    the RoundStore bucketed table (CLUSTERED BY url_sha1 — the crawl's
    default), its HashPartitioning reaches the join and only the candidate
    side exchanges; the 10^10-row seen side is never re-shuffled
    (plan-asserted in tests/test_seen_bucketed.py)."""
    return cand.join(seen.select("url_sha1"), on="url_sha1", how="left_anti")


def admit(
    cand_raw: DataFrame,
    seen: DataFrame,
    whitelist: list[str],
    max_depth: int,
    robots: DataFrame | None = None,
    bloom_prefilter=None,
    scratch: list | None = None,
) -> DataFrame:
    """Full admission: returns the admitted frontier rows for this round.

    bloom_prefilter: optional callable df -> (probably_new_df, definitely_new_df)
    from operators/bloom.py; definite-new rows skip the exact anti-join.

    scratch: optional list the canonicalized intermediate is persisted into.
    The whitelist's distinct-host semi-join branches the plan, and without
    a persist both branches recompute the canonicalized candidates (incl.
    the Python UDF). Callers pass a list and unpersist its entries AFTER the
    admitted frame is materialized.
    """
    cand = canonicalize_candidates(cand_raw)
    if scratch is not None:
        from pyspark.storagelevel import StorageLevel

        cand = cand.persist(StorageLevel.MEMORY_AND_DISK)
        scratch.append(cand)
    cand = admission_filters(cand, whitelist, max_depth, robots=robots)
    cand = dedup_in_round(cand)
    if bloom_prefilter is not None:
        maybe_seen, definitely_new = bloom_prefilter(cand)
        return anti_join_seen(maybe_seen, seen).unionByName(definitely_new)
    return anti_join_seen(cand, seen)
