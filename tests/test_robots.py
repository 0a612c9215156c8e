"""robots.txt parser (sources/robots.py): grouping, wildcard agent,
comments, empty Disallow, and the admission integration."""

from webcrawler_spark.sources.robots import parse_robots

BODY_STAR = """# example robots
User-agent: *
Disallow: /private/
Disallow: /tmp/

User-agent: OtherBot
Disallow: /otherbot-only/
"""

BODY_MULTI_UA = """User-agent: GoodBot
User-agent: *
Disallow: /both/
"""

BODY_NO_STAR = """User-agent: OnlyBot
Disallow: /x/
"""

BODY_EMPTY_DISALLOW = """User-agent: *
Disallow:
"""

BODY_MESSY = """  user-AGENT :  *   # inline comment
disallow: /a/
Crawl-delay: 10
DISALLOW: /b/
"""


def _parse(spark, items):
    df = spark.createDataFrame(items, "host: string, body: string")
    return {
        r["host"]: list(r["disallow_prefixes"])
        for r in parse_robots(df).collect()
    }


def test_star_group_only(spark):
    got = _parse(spark, [("a.com", BODY_STAR)])
    assert got == {"a.com": ["/private/", "/tmp/"]}


def test_multiple_user_agent_lines_one_group(spark):
    got = _parse(spark, [("b.com", BODY_MULTI_UA)])
    assert got == {"b.com": ["/both/"]}


def test_non_star_group_yields_nothing(spark):
    got = _parse(spark, [("c.com", BODY_NO_STAR)])
    assert got == {}  # absent row == unrestricted


def test_empty_disallow_is_allow_all(spark):
    got = _parse(spark, [("d.com", BODY_EMPTY_DISALLOW)])
    assert got == {}


def test_case_comments_whitespace_and_other_fields(spark):
    got = _parse(spark, [("e.com", BODY_MESSY)])
    assert got == {"e.com": ["/a/", "/b/"]}


def test_multi_host_isolation(spark):
    got = _parse(spark, [
        ("a.com", BODY_STAR),
        ("c.com", BODY_NO_STAR),
        ("e.com", BODY_MESSY),
    ])
    assert got == {
        "a.com": ["/private/", "/tmp/"],
        "e.com": ["/a/", "/b/"],
    }


BODY_ALLOW = """User-agent: *
Disallow: /private/
Allow: /private/pub/
Allow: /exact/
Disallow: /exact/
Allow: /a/
Disallow: /a/b/
"""


def _rules(spark, items):
    df = spark.createDataFrame(items, "host: string, body: string")
    return {
        r["host"]: sorted((x["prefix"], x["allow"]) for x in r["rules"])
        for r in parse_robots(df).collect()
    }


def test_parse_allow_rules(spark):
    got = _rules(spark, [("a.com", BODY_ALLOW)])
    assert got == {
        "a.com": [
            ("/a/", True), ("/a/b/", False), ("/exact/", False),
            ("/exact/", True), ("/private/", False), ("/private/pub/", True),
        ]
    }
    # legacy view keeps only disallows
    df = spark.createDataFrame([("a.com", BODY_ALLOW)], "host: string, body: string")
    row = parse_robots(df).collect()[0]
    assert list(row["disallow_prefixes"]) == ["/a/b/", "/exact/", "/private/"]


def _decide(spark, paths):
    """Run admission with BODY_ALLOW rules over candidate paths; return
    the surviving path set."""
    from pyspark.sql import functions as F

    from webcrawler_spark.operators import admission

    robots = parse_robots(
        spark.createDataFrame([("www.example.com", BODY_ALLOW)],
                              "host: string, body: string")
    )
    cand = spark.createDataFrame(
        [(f"http://www.example.com{p}", "www.example.com", p) for p in paths],
        "url: string, host: string, path: string",
    ).withColumn("depth", F.lit(0).cast("long"))
    out = admission.admission_filters(cand, ["example.com"], 3, robots=robots)
    return {r["path"] for r in out.collect()}


def test_longest_match_allow_overrides_disallow(spark):
    # the canonical RFC 9309 case: Allow: /private/pub/ overrides
    # Disallow: /private/ for paths under the longer prefix
    got = _decide(spark, ["/private/x", "/private/pub/x", "/ok"])
    assert got == {"/private/pub/x", "/ok"}


def test_equal_length_tie_resolves_to_allow(spark):
    got = _decide(spark, ["/exact/x"])
    assert got == {"/exact/x"}


def test_longer_disallow_beats_shorter_allow(spark):
    got = _decide(spark, ["/a/x", "/a/b/c"])
    assert got == {"/a/x"}


def test_allow_rules_e2e_engine_matches_simulator(spark, fixture_web, tmp_path):
    """Full crawl with Allow-override rules: engine ≡ reference simulator.
    Disallow /chain/ + Allow /chain/0 lets exactly the first chain page
    through on the hot host; /qy/ disallow + /qy/prod/ allow is a
    behavior-preserving override for every product URL."""
    from oracle import CrawlConfig as OracleConfig, crawl as oracle_crawl
    from webcrawler_spark.fixtures import WHITELIST
    from webcrawler_spark.plans.crawl import CrawlConfig, run_crawl

    rules = [
        ("/qy/", False), ("/qy/prod/", True),
        ("/chain/", False), ("/chain/0", True),
    ]
    host = "www.bml365.com"

    ocfg = OracleConfig(whitelist=WHITELIST, max_depth=3, max_rounds=12,
                        parsers="combined", robots={host: rules})
    golden = oracle_crawl(fixture_web["pages"], fixture_web["seeds"], ocfg)
    crawled_paths = {u.split(host, 1)[1] for _, h, u, _ in golden.order if h == host}
    assert "/chain/0" in crawled_paths
    assert not any(p.startswith("/chain/") and p != "/chain/0"
                   for p in crawled_paths)

    robots_df = spark.createDataFrame(
        [(host, [{"prefix": p, "allow": a} for p, a in rules])],
        "host: string, rules: array<struct<prefix: string, allow: boolean>>",
    )
    paths = fixture_web["paths"]
    result = run_crawl(
        spark,
        spark.read.parquet(paths["pages"]),
        spark.read.parquet(paths["seeds"]),
        CrawlConfig(whitelist=WHITELIST, max_depth=3, max_rounds=12,
                    parsers="combined"),
        checkpoint_dir=str(tmp_path / "ckpt_allow"),
        robots=robots_df,
    )
    engine_order = [
        (r["round"], r["host"], r["url"], r["url_sha1"])
        for r in result.order(spark).orderBy("round", "host", "url_sha1").collect()
    ]
    assert engine_order == golden.order


BODY_WILDCARD = """User-agent: *
Disallow: /*.php$
Disallow: /fish*.cgi
Allow: /fish/deep*.cgi
Disallow: /tmp*/
"""


def _decide_body(spark, body, paths):
    from pyspark.sql import functions as F

    from webcrawler_spark.operators import admission

    robots = parse_robots(
        spark.createDataFrame([("www.example.com", body)],
                              "host: string, body: string")
    )
    cand = spark.createDataFrame(
        [(f"http://www.example.com{p}", "www.example.com", p) for p in paths],
        "url: string, host: string, path: string",
    ).withColumn("depth", F.lit(0).cast("long"))
    out = admission.admission_filters(cand, ["example.com"], 3, robots=robots)
    return {r["path"] for r in out.collect()}


def test_wildcard_star_and_anchor(spark):
    """RFC 9309 §2.2.3 / the protocol's own example table: * bridges any
    sequence, trailing $ anchors to the end of the path."""
    got = _decide_body(spark, BODY_WILDCARD, [
        "/filename.php",        # blocked: /*.php$ (anchored hit)
        "/folder/file.php",     # blocked: anchored hit deeper
        "/filename.php.html",   # allowed: .php not at the END
        "/filename.phpx",       # allowed: does not end with .php
        "/fish.cgi",            # blocked: /fish*.cgi ('' bridge)
        "/fishheads/catfish.cgi",  # blocked: /fish*.cgi
        "/fishheads/catfish.cgi2",  # blocked: unanchored extends past match
        "/fish/deepsea.cgi",    # ALLOWED: longer Allow /fish/deep*.cgi wins
        "/tmpfoo/bar",          # blocked: /tmp*/
        "/tmpx",                # allowed: no '/' after /tmp
        "/ok.html",             # allowed: nothing matches
    ])
    assert got == {
        "/filename.php.html", "/filename.phpx", "/fish/deepsea.cgi",
        "/tmpx", "/ok.html",
    }


def test_wildcard_pattern_compilation(spark):
    """Segment compilation: runs of * collapse, trailing * on unanchored
    patterns strips, $ only anchors at the end."""
    body = """User-agent: *
Disallow: /a**b*
Disallow: /c*$
Disallow: /d$e/
"""
    row = parse_robots(
        spark.createDataFrame([("h", body)], "host: string, body: string")
    ).collect()[0]
    rules = {r["prefix"]: (list(r["segments"]), r["anchored"])
             for r in row["rules"]}
    assert rules["/a**b*"] == (["/a", "b"], False)   # collapse + strip
    assert rules["/c*$"] == (["/c", ""], True)       # trailing * kept (anchor)
    assert rules["/d$e/"] == (["/d$e/"], False)      # inner $ is literal
    # wildcard patterns are excluded from the legacy plain-prefix view
    assert list(row["disallow_prefixes"]) == ["/d$e/"]


def test_wildcard_exact_dollar_only(spark):
    body = """User-agent: *
Disallow: /exact$
"""
    got = _decide_body(spark, body, ["/exact", "/exact/", "/exactly"])
    assert got == {"/exact/", "/exactly"}


def test_feeds_admission_filter(spark):
    """Parsed output plugs straight into admission_filters' robots arg."""
    from pyspark.sql import functions as F

    from webcrawler_spark.operators import admission

    robots = parse_robots(
        spark.createDataFrame([("www.example.com", BODY_STAR)],
                              "host: string, body: string")
    )
    cand = spark.createDataFrame(
        [
            ("http://www.example.com/private/x", "www.example.com", "/private/x"),
            ("http://www.example.com/ok", "www.example.com", "/ok"),
            ("http://www.other.com/private/x", "www.other.com", "/private/x"),
        ],
        "url: string, host: string, path: string",
    ).withColumn("depth", F.lit(0).cast("long"))
    out = admission.admission_filters(
        cand, ["example.com", "other.com"], max_depth=3, robots=robots
    )
    urls = sorted(r["url"] for r in out.collect())
    assert urls == [
        "http://www.example.com/ok",
        "http://www.other.com/private/x",  # no robots row -> unrestricted
    ]


def test_robots_table_joined_once(spark):
    """Whitelist membership depends on the host alone, so the distinct-host
    set is built before the robots join: the optimized plan joins the
    robots table once, not once per branch."""
    from pyspark.sql import functions as F

    from webcrawler_spark.operators import admission

    robots = spark.createDataFrame(
        [("www.example.com", ["/private/"])],
        "host: string, disallow_prefixes: array<string>",
    )
    cand = spark.createDataFrame(
        [("http://www.example.com/private/x", "www.example.com", "/private/x"),
         ("http://www.example.com/ok", "www.example.com", "/ok")],
        "url: string, host: string, path: string",
    ).withColumn("depth", F.lit(0).cast("long"))
    out = admission.admission_filters(cand, ["example.com"], 3, robots=robots)
    assert [r["path"] for r in out.collect()] == ["/ok"]
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("Join LeftOuter") == 1, plan


# ---- Sitemap: pointers + Crawl-delay (round 5) ----------------------------

BODY_DISCOVERY = """# discovery fields
Sitemap: http://e.com/sitemap_index.xml
User-agent: OnlyBot
Disallow: /x/
Sitemap: http://e.com/extra.xml   # trailing comment
User-agent: *
Crawl-delay: 2.5
Disallow: /private/
Sitemap: http://e.com/sitemap_index.xml
"""

BODY_DELAY_NON_STAR = """User-agent: OnlyBot
Crawl-delay: 99
"""

BODY_DELAY_MULTI = """User-agent: *
Crawl-delay: 3
Crawl-delay: 12
User-agent: other
Crawl-delay: 1000
"""

BODY_DELAY_BOGUS = """User-agent: *
Crawl-delay: soon
Crawl-delay: -4
"""


def test_sitemap_pointers_group_independent(spark):
    """RFC 9309 §2.3: Sitemap lines count wherever they appear — before any
    group, inside a non-* group, inside the * group — and dedup."""
    from webcrawler_spark.sources.robots import robots_sitemaps

    df = spark.createDataFrame([("e.com", BODY_DISCOVERY)], "host: string, body: string")
    got = sorted((r["host"], r["sitemap_url"]) for r in robots_sitemaps(df).collect())
    assert got == [
        ("e.com", "http://e.com/extra.xml"),
        ("e.com", "http://e.com/sitemap_index.xml"),
    ]
    # the same body still yields the * group's rules through parse_robots
    rules = {r["host"]: list(r["disallow_prefixes"]) for r in parse_robots(df).collect()}
    assert rules == {"e.com": ["/private/"]}


def test_crawl_delay_star_group_scoped(spark):
    from webcrawler_spark.sources.robots import crawl_delays

    df = spark.createDataFrame(
        [
            ("e.com", BODY_DISCOVERY),        # 2.5 in the * group
            ("f.com", BODY_DELAY_NON_STAR),   # only a non-* group -> no row
            ("g.com", BODY_DELAY_MULTI),      # two * values -> max wins (12)
            ("h.com", BODY_DELAY_BOGUS),      # unparsable / negative -> no row
        ],
        "host: string, body: string",
    )
    got = {r["host"]: r["crawl_delay"] for r in crawl_delays(df).collect()}
    assert got == {"e.com": 2.5, "g.com": 12.0}


def test_budgets_from_crawl_delay(spark):
    from webcrawler_spark.sources.robots import budgets_from_crawl_delay, crawl_delays

    df = spark.createDataFrame(
        [("e.com", BODY_DISCOVERY), ("g.com", BODY_DELAY_MULTI)],
        "host: string, body: string",
    )
    budgets = {
        r["host"]: r["budget_per_round"]
        for r in budgets_from_crawl_delay(crawl_delays(df), round_seconds=60.0).collect()
    }
    # 60/2.5 = 24; 60/12 = 5
    assert budgets == {"e.com": 24, "g.com": 5}
    # a delay longer than the round floors at 1 (never starves the host)
    slow = spark.createDataFrame([("s.com", 600.0)], "host: string, crawl_delay: double")
    assert budgets_from_crawl_delay(slow, round_seconds=60.0).collect()[0][
        "budget_per_round"
    ] == 1
