"""The closed discovery loop (round 5): robots.txt `Sitemap:` pointer ->
sitemapindex -> child urlsets -> leaf pages — seeds come ONLY from robots,
the crawl loop fetches kind='sitemap' children like any URL, urlset
priorities thread into the frontier `priority` column, and `Crawl-delay`
derives the default politeness budget. Engine ≡ single-threaded oracle
on order/seen/metrics throughout."""

from oracle import CrawlConfig as OracleConfig, crawl as oracle_crawl
from webcrawler_spark.fixtures import HOT_HOST, WHITELIST
from webcrawler_spark.plans.crawl import (
    SITEMAP_LINK_POS,
    SITEMAP_PRIORITY,
    CrawlConfig,
    robots_bodies_from_pages,
    run_crawl,
)

IDX_URL = f"http://{HOT_HOST}/sitemap_index.xml"
SM1_URL = f"http://{HOT_HOST}/sm/products.xml"
SM2_URL = f"http://{HOT_HOST}/sm/news.xml"

LEAVES = {
    f"http://{HOT_HOST}/qy/prod/v/1-1": 0.9,
    f"http://{HOT_HOST}/qy/prod/v/1-2": None,   # defaults to 0.5
    f"http://{HOT_HOST}/qy/prod/v/1-3": 0.2,
    f"http://{HOT_HOST}/news/a": 0.7,
    f"http://{HOT_HOST}/news/b": None,
    f"http://{HOT_HOST}/private/x": 0.9,        # robots-disallowed
}

ROBOTS_BODY = f"""# discovery bootstrap
User-agent: *
Crawl-delay: 30
Disallow: /private/
Sitemap: {IDX_URL}
"""


def _urlset(entries: dict[str, float | None]) -> str:
    blocks = []
    for url, pr in entries.items():
        p = f"<priority>{pr}</priority>" if pr is not None else ""
        blocks.append(f"<url><loc>{url}</loc>{p}</url>")
    return "<urlset>" + "".join(blocks) + "</urlset>"


def _leaf_html(links: list[str]) -> bytes:
    a = "".join(f'<a href="{u}">x</a>' for u in links)
    return f"<html><body>{a}</body></html>".encode()


def _pages() -> list[dict]:
    leaf_urls = [u for u in LEAVES if "/private/" not in u]
    index = (
        "<sitemapindex>"
        f"<sitemap><loc>{SM1_URL}</loc></sitemap>"
        f"<sitemap><loc>{SM2_URL}</loc></sitemap>"
        "</sitemapindex>"
    )
    sm1 = _urlset({u: p for u, p in LEAVES.items() if "/qy/" in u or "/private/" in u})
    sm2 = _urlset({u: p for u, p in LEAVES.items() if "/news/" in u})
    pages = [
        {"url": IDX_URL, "html": index.encode()},
        {"url": SM1_URL, "html": sm1.encode()},
        {"url": SM2_URL, "html": sm2.encode()},
    ]
    # leaves cross-link (the crawl continues past sitemap-discovered pages)
    for i, u in enumerate(leaf_urls):
        pages.append({"url": u, "html": _leaf_html([leaf_urls[(i + 1) % len(leaf_urls)]])})
    return pages


def _run_engine(spark, tmp_path, pages, budgets_rows=None, max_depth=4,
                from_pages=False, round_seconds=60.0):
    pages_df = spark.createDataFrame(
        [(p["url"], bytearray(p["html"])) for p in pages], "url string, html binary"
    )
    seeds_df = spark.createDataFrame([], "url string, order long")
    robots_bodies = (
        robots_bodies_from_pages(pages_df)
        if from_pages
        else spark.createDataFrame(
            [(HOT_HOST, ROBOTS_BODY)], "host string, body string"
        )
    )
    budgets_df = (
        spark.createDataFrame(budgets_rows, "host string, budget_per_round long")
        if budgets_rows
        else None
    )
    cfg = CrawlConfig(whitelist=WHITELIST, max_depth=max_depth, max_rounds=12,
                      parsers="generic", round_seconds=round_seconds)
    return run_crawl(
        spark, pages_df, seeds_df, cfg,
        checkpoint_dir=str(tmp_path / "ckpt"),
        budgets=budgets_df, robots_bodies=robots_bodies,
    )


def _run_oracle(pages, budgets, max_depth=4):
    ocfg = OracleConfig(
        whitelist=WHITELIST, max_depth=max_depth, max_rounds=12,
        parsers="generic", budgets=budgets,
        robots={HOT_HOST: ["/private/"]},
    )
    seeds = [{"url": IDX_URL, "order": 0, "link_pos": SITEMAP_LINK_POS,
              "priority": SITEMAP_PRIORITY}]
    return oracle_crawl(pages, seeds, ocfg)


def _assert_match(spark, golden, result):
    engine_order = [
        (r["round"], r["host"], r["url"], r["url_sha1"])
        for r in result.order(spark).orderBy("round", "host", "url_sha1").collect()
    ]
    assert engine_order == golden.order
    engine_seen = {
        r["url_sha1"]: (r["url"], r["first_round"])
        for r in result.seen(spark).collect()
    }
    assert engine_seen == golden.seen
    keys = ["round", "candidates", "admitted", "fetched", "items", "errors",
            "deferred"]
    assert [{k: m[k] for k in keys} for m in result.metrics] == [
        {k: m[k] for k in keys} for m in golden.metrics
    ]


def test_robots_sitemap_bootstrap_reaches_leaves(spark, tmp_path):
    """Seeds come ONLY from the robots `Sitemap:` pointer; the crawl must
    fetch the index, fetch both child sitemaps, admit every non-disallowed
    leaf, and keep matching the oracle with the Crawl-delay-derived budget
    (60/30 = 2 fetches per round for the host)."""
    pages = _pages()
    result = _run_engine(spark, tmp_path, pages)
    golden = _run_oracle(pages, budgets={HOT_HOST: 2})
    _assert_match(spark, golden, result)

    fetched_urls = {r["url"] for r in result.order(spark).collect()}
    assert IDX_URL in fetched_urls and SM1_URL in fetched_urls and SM2_URL in fetched_urls
    for u in LEAVES:
        if "/private/" in u:
            assert u not in fetched_urls  # robots-disallowed
        else:
            assert u in fetched_urls, f"leaf {u} never reached"

    # Crawl-delay enforcement: never more than 2 fetches per host per round
    per_round = result.order(spark).groupBy("round", "host").count().collect()
    assert per_round and all(r["count"] <= 2 for r in per_round)

    # priority ordering: with budget 2, both child sitemaps (priority 200)
    # outrank every urlset URL, so they fetch together in round 1
    by_round = {}
    for r in result.order(spark).collect():
        by_round.setdefault(r["round"], set()).add(r["url"])
    assert by_round[0] == {IDX_URL}
    assert by_round[1] == {SM1_URL, SM2_URL}
    # round 2: the two highest-priority leaves (0.9 then 0.7)
    assert by_round[2] == {
        f"http://{HOT_HOST}/qy/prod/v/1-1",
        f"http://{HOT_HOST}/news/a",
    }


def test_explicit_budget_overrides_crawl_delay(spark, tmp_path):
    """An explicit budgets row for the host wins over the Crawl-delay
    derivation (5 slots instead of 2) — engine still matches the oracle."""
    pages = _pages()
    result = _run_engine(spark, tmp_path, pages,
                         budgets_rows=[(HOT_HOST, 5)])
    golden = _run_oracle(pages, budgets={HOT_HOST: 5})
    _assert_match(spark, golden, result)
    per_round = result.order(spark).groupBy("round").count().collect()
    assert max(r["count"] for r in per_round) > 2  # the override engaged


def test_round_seconds_scales_crawl_delay_budget(spark, tmp_path):
    """A longer round fits more Crawl-delay slots: at 90 s per round the
    `Crawl-delay: 30` host gets floor(90/30) = 3 fetches per round, not
    the 2 of a 60 s round — engine still matches the oracle."""
    pages = _pages()
    result = _run_engine(spark, tmp_path, pages, round_seconds=90.0)
    golden = _run_oracle(pages, budgets={HOT_HOST: 3})
    _assert_match(spark, golden, result)
    per_round = [
        r["count"]
        for r in result.order(spark).filter(f"host = '{HOT_HOST}'")
        .groupBy("round").count().collect()
    ]
    assert max(per_round) == 3


def test_robots_bodies_from_pages_self_configures_the_crawl(spark, tmp_path):
    """robots_bodies_from_pages(pages): the corpus's own scheme://host/robots.txt
    row supplies rules, Crawl-delay budget AND the Sitemap bootstrap — no
    side channel at all (pages table + empty seeds in, full crawl out),
    identical to passing the same body via robots_bodies and to the
    oracle."""
    pages = _pages() + [
        {"url": f"http://{HOT_HOST}/robots.txt", "html": ROBOTS_BODY.encode()},
        # decoy: a deeper path named robots.txt must NOT configure the host
        {"url": f"http://{HOT_HOST}/a/robots.txt",
         "html": b"User-agent: *\nDisallow: /\n"},
    ]
    result = _run_engine(spark, tmp_path, pages, from_pages=True)
    golden = _run_oracle(pages, budgets={HOT_HOST: 2})
    _assert_match(spark, golden, result)
    fetched_urls = {r["url"] for r in result.order(spark).collect()}
    for u in LEAVES:
        assert (u in fetched_urls) == ("/private/" not in u)


def test_depth_limit_applies_to_sitemap_chain(spark, tmp_path):
    """index (d0) -> child sitemaps (d1) -> urls (d2) -> leaf links (d3):
    max_depth=2 admits the urlset URLs but rejects their out-links."""
    pages = _pages()
    result = _run_engine(spark, tmp_path, pages, max_depth=2)
    golden = _run_oracle(pages, budgets={HOT_HOST: 2}, max_depth=2)
    _assert_match(spark, golden, result)
    depths = {
        r["url"]: r["first_round"] for r in result.seen(spark).collect()
    }
    assert f"http://{HOT_HOST}/qy/prod/v/1-1" in {
        r["url"] for r in result.seen(spark).collect()
    }


def test_robots_bodies_from_pages_one_body_per_host(spark):
    """A host serving robots.txt under both schemes yields ONE body: https
    wins, then the smallest url. Two bodies for one host would interleave
    their lines in parse_robots' per-host windows (same line positions),
    so its rules would depend on task order."""
    from webcrawler_spark.sources.robots import parse_robots

    http_body = "User-agent: *\nDisallow: /http-only/\n"
    https_body = "User-agent: OtherBot\nDisallow: /\n\nUser-agent: *\nAllow: /\n"
    rows = [
        (f"http://{HOT_HOST}/robots.txt", http_body),
        (f"https://{HOT_HOST}/robots.txt", https_body),
        ("http://solo.example.com/robots.txt", "User-agent: *\nDisallow: /s/\n"),
    ]
    pages = spark.createDataFrame(
        [(u, bytearray(b.encode())) for u, b in rows], "url string, html binary"
    )
    bodies = {
        r["host"]: r["body"] for r in robots_bodies_from_pages(pages).collect()
    }
    assert robots_bodies_from_pages(pages).count() == len(bodies) == 2
    assert bodies[HOT_HOST] == https_body

    def rules(n_partitions):
        df = robots_bodies_from_pages(pages.repartition(n_partitions))
        return sorted(
            (r["host"], [tuple(x) for x in r["rules"]])
            for r in parse_robots(df).collect()
        )

    assert rules(1) == rules(8)


def test_resume_adds_sitemap_pointers(spark, tmp_path):
    """A crawl started WITHOUT robots_bodies and resumed WITH them must
    enqueue the Sitemap: pointers on resume too — they were never admitted,
    so the seen anti-join keeps them (it drops only pointers a crawl that
    started with robots_bodies already admitted)."""
    import json
    import os

    from webcrawler_spark.storage import RoundStore

    pages = _pages()
    pages_df = spark.createDataFrame(
        [(p["url"], bytearray(p["html"])) for p in pages], "url string, html binary"
    )
    leaf = f"http://{HOT_HOST}/news/a"
    seeds_df = spark.createDataFrame([(leaf, 0)], "url string, order long")
    d = str(tmp_path / "ckpt")

    first = run_crawl(
        spark, pages_df, seeds_df,
        CrawlConfig(whitelist=WHITELIST, max_depth=4, max_rounds=0,
                    parsers="generic"),
        checkpoint_dir=d,
    )
    assert first.rounds == 1
    store = RoundStore(d)
    m = store.manifest(0)  # stopped after round 0, not finished
    m["done"] = False
    with open(os.path.join(store.manifest_dir, "round_0.json"), "w") as f:
        json.dump(m, f)

    robots_bodies = spark.createDataFrame(
        [(HOT_HOST, ROBOTS_BODY)], "host string, body string"
    )
    resumed = run_crawl(
        spark, pages_df, seeds_df,
        CrawlConfig(whitelist=WHITELIST, max_depth=4, max_rounds=12,
                    parsers="generic"),
        checkpoint_dir=d, robots_bodies=robots_bodies,
    )
    first_round = {
        r["url"]: r["first_round"] for r in resumed.seen(spark).collect()
    }
    assert first_round[leaf] == 0
    assert first_round[IDX_URL] == 1  # the pointer, admitted on resume
    assert SM1_URL in first_round and SM2_URL in first_round
    for u in LEAVES:
        assert (u in first_round) == ("/private/" not in u)


def test_feed_xml_is_not_a_sitemap(spark, tmp_path):
    """An RSS feed served as .xml (application/xml) that carries <url><loc>
    and <sitemap><loc> blocks is fetched, but it is not a sitemap: none of
    its <loc>s is admitted. A real urlset behind an XML declaration and
    leading whitespace still is. Engine ≡ oracle."""
    feed_url = f"http://{HOT_HOST}/feed.xml"
    sm_url = f"http://{HOT_HOST}/sm/real.xml"
    injected = f"http://{HOT_HOST}/news/injected"
    injected_sm = f"http://{HOT_HOST}/sm/injected.xml"
    listed = f"http://{HOT_HOST}/news/listed"
    feed = (
        '<?xml version="1.0"?><rss version="2.0"><channel><item>'
        f"<url><loc>{injected}</loc></url>"
        f"<sitemap><loc>{injected_sm}</loc></sitemap>"
        "</item></channel></rss>"
    )
    real = '\n <?xml version="1.0" encoding="UTF-8"?>\n' + _urlset({listed: 0.5})
    pages = [
        {"url": feed_url, "html": feed.encode()},
        {"url": sm_url, "html": real.encode()},
        {"url": injected, "html": _leaf_html([])},
        {"url": injected_sm, "html": _urlset({injected: 0.9}).encode()},
        {"url": listed, "html": _leaf_html([])},
    ]
    seeds = [{"url": feed_url, "order": 0}, {"url": sm_url, "order": 1}]
    pages_df = spark.createDataFrame(
        [(p["url"], bytearray(p["html"])) for p in pages], "url string, html binary"
    )
    seeds_df = spark.createDataFrame(
        [(s["url"], s["order"]) for s in seeds], "url string, order long"
    )
    cfg = CrawlConfig(whitelist=WHITELIST, max_depth=4, max_rounds=6,
                      parsers="generic")
    result = run_crawl(spark, pages_df, seeds_df, cfg,
                       checkpoint_dir=str(tmp_path / "ckpt"))
    golden = oracle_crawl(pages, seeds, OracleConfig(
        whitelist=WHITELIST, max_depth=4, max_rounds=6, parsers="generic",
    ))
    _assert_match(spark, golden, result)
    seen = {r["url"] for r in result.seen(spark).collect()}
    assert feed_url in seen and listed in seen
    assert injected not in seen and injected_sm not in seen
