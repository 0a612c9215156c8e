"""Sitemaps-protocol source (sources/sitemap.py): urlset + index parsing,
priority defaulting, seed ordering."""

from pyspark.sql import functions as F

from webcrawler_spark.sources.sitemap import parse_sitemaps, sitemap_seeds

URLSET = """<?xml version="1.0" encoding="UTF-8"?>
<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">
  <url>
    <loc>
      http://www.example.com/a
    </loc>
    <lastmod>2024-03-01</lastmod>
    <priority>0.9</priority>
  </url>
  <url><loc>http://www.example.com/b</loc></url>
  <url><loc>http://www.example.com/c</loc><priority>bogus</priority></url>
  <url><priority>0.3</priority></url>
</urlset>
"""

INDEX = """<sitemapindex>
  <sitemap><loc>http://www.example.com/sitemap1.xml</loc>
    <lastmod>2024-01-02</lastmod></sitemap>
  <sitemap><loc>http://www.example.com/sitemap2.xml</loc></sitemap>
</sitemapindex>
"""


def _parse(spark, items):
    df = spark.createDataFrame(items, "host: string, body: string")
    return parse_sitemaps(df)


def test_urlset_fields_and_defaults(spark):
    rows = {
        r["loc"]: (r["kind"], r["lastmod"], r["priority"])
        for r in _parse(spark, [("example.com", URLSET)]).collect()
    }
    # the loc-less block is dropped (loc is mandatory in the protocol)
    assert set(rows) == {
        "http://www.example.com/a",
        "http://www.example.com/b",
        "http://www.example.com/c",
    }
    assert rows["http://www.example.com/a"] == ("url", "2024-03-01", 0.9)
    assert rows["http://www.example.com/b"] == ("url", None, 0.5)  # default
    assert rows["http://www.example.com/c"] == ("url", None, 0.5)  # bogus -> default


def test_index_blocks(spark):
    rows = sorted(
        (r["kind"], r["loc"], r["lastmod"])
        for r in _parse(spark, [("example.com", INDEX)]).collect()
    )
    assert rows == [
        ("sitemap", "http://www.example.com/sitemap1.xml", "2024-01-02"),
        ("sitemap", "http://www.example.com/sitemap2.xml", None),
    ]


def test_seed_ordering_priority_then_url(spark):
    parsed = _parse(spark, [("example.com", URLSET)])
    seeds = sitemap_seeds(parsed).collect()
    ordered = [r["url"] for r in sorted(seeds, key=lambda r: r["order"])]
    # priority 0.9 first, then the two 0.5 defaults alphabetically
    assert ordered == [
        "http://www.example.com/a",
        "http://www.example.com/b",
        "http://www.example.com/c",
    ]
    assert [r["order"] for r in sorted(seeds, key=lambda r: r["order"])] == [0, 1, 2]
    # the output shape is exactly what seeds_to_candidates consumes;
    # priority is in integer frontier units (0.9 -> 90, default 0.5 -> 50)
    assert set(seeds[0].asDict()) == {"url", "order", "priority"}
    assert [r["priority"] for r in sorted(seeds, key=lambda r: r["order"])] == [
        90, 50, 50,
    ]


def test_block_positions_are_in_file_order(spark):
    parsed = _parse(spark, [("example.com", URLSET), ("example.com", INDEX)])
    by_loc = {r["loc"]: (r["kind"], r["pos"]) for r in parsed.collect()}
    # url blocks: 0-based position within the body's <url> blocks (the
    # loc-less block still occupies position 3 but is dropped)
    assert by_loc["http://www.example.com/a"] == ("url", 0)
    assert by_loc["http://www.example.com/b"] == ("url", 1)
    assert by_loc["http://www.example.com/c"] == ("url", 2)
    # index blocks: independent position space per kind
    assert by_loc["http://www.example.com/sitemap1.xml"] == ("sitemap", 0)
    assert by_loc["http://www.example.com/sitemap2.xml"] == ("sitemap", 1)


def test_seed_dedup_across_sitemaps_takes_max_priority(spark):
    """ADVICE fix: a URL listed in two sitemaps with different priorities
    must yield ONE seed row (max priority), so (url, order) stays unique."""
    dup_a = "<urlset><url><loc>http://www.example.com/d</loc><priority>0.2</priority></url></urlset>"
    dup_b = "<urlset><url><loc>http://www.example.com/d</loc><priority>0.8</priority></url></urlset>"
    parsed = _parse(spark, [("example.com", dup_a), ("example.com", dup_b)])
    seeds = sitemap_seeds(parsed).collect()
    assert len(seeds) == 1
    assert seeds[0]["url"] == "http://www.example.com/d"
    assert seeds[0]["order"] == 0
    assert seeds[0]["priority"] == 80


def test_recrawl_candidates_rules(spark):
    """new / stale / fresh / no-evidence quadrants, date-only and full
    W3C lastmod, unparsable lastmod, and duplicate listings collapsing to
    max(lastmod, priority)."""
    from webcrawler_spark.sources.sitemap import recrawl_candidates

    def u(body):
        return f"<urlset>{body}</urlset>"

    bodies = [
        ("example.com", u(
            "<url><loc>http://e/new</loc><priority>0.9</priority></url>"
            "<url><loc>http://e/stale</loc><lastmod>2024-02-10</lastmod></url>"
            "<url><loc>http://e/fresh</loc><lastmod>2024-01-01</lastmod></url>"
            "<url><loc>http://e/noev</loc></url>"
            "<url><loc>http://e/badmod</loc><lastmod>soonish</lastmod></url>"
            "<url><loc>http://e/dup</loc><lastmod>2024-01-01</lastmod>"
            "<priority>0.2</priority></url>"
        )),
        ("example.com", u(
            "<url><loc>http://e/dup</loc><lastmod>2024-03-01T05:00:00</lastmod>"
            "<priority>0.6</priority></url>"
        )),
    ]
    parsed = _parse(spark, bodies)
    crawled = spark.createDataFrame(
        [("http://e/stale", "2024-02-01"), ("http://e/fresh", "2024-02-01"),
         ("http://e/noev", "2024-02-01"), ("http://e/badmod", "2024-02-01"),
         ("http://e/dup", "2024-02-01")],
        "url string, last_crawl string",
    ).select("url", F.col("last_crawl").cast("date").alias("last_crawl"))
    got = {r["url"]: (r["reason"], r["priority"])
           for r in recrawl_candidates(parsed, crawled).collect()}
    assert got == {
        "http://e/new": ("new", 90),
        "http://e/stale": ("stale", 50),
        # dup: max lastmod 2024-03-01 > 2024-02-01; max priority 0.6 -> 60
        "http://e/dup": ("stale", 60),
    }


def test_sitemap_root_gate_engine_equals_python_twin(spark):
    """is_sitemap_root (engine) and is_sitemap_root_py (oracle) agree: a
    <urlset>/<sitemapindex> root, after a BOM, whitespace, processing
    instructions and comments, is a sitemap; feeds and other XML with
    <url><loc> blocks are not."""
    from webcrawler_spark.sources.sitemap import is_sitemap_root, is_sitemap_root_py

    loc = "<url><loc>http://www.example.com/x</loc></url>"
    bodies = {
        URLSET: True,
        INDEX: True,
        f"<urlset>{loc}</urlset>": True,
        f' \n\t<?xml version="1.0"?>\r\n <sitemapindex></sitemapindex>': True,
        # WordPress core's wp-sitemap.xml: declaration, then a stylesheet PI
        '<?xml version="1.0" encoding="UTF-8"?><?xml-stylesheet type="text/xsl"'
        ' href="https://e/wp-sitemap-index.xsl" ?>\n<sitemapindex'
        ' xmlns="http://www.sitemaps.org/schemas/sitemap/0.9"></sitemapindex>': True,
        # a generator comment (with a '?>' and '<url' inside) before the root
        f'<?xml version="1.0"?>\n<!-- generated by x?> <url> -->\n<urlset>{loc}</urlset>': True,
        f"\ufeff<?xml version='1.0'?><urlset>{loc}</urlset>": True,
        "\ufeff<urlset/>": True,
        f"<urlsetx>{loc}</urlsetx>": False,
        f"<?xml version='1.0'?><!-- <urlset> --><rss>{loc}</rss>": False,
        f"\ufeff<rss>{loc}</rss>": False,
        f"<!-- unterminated <urlset>{loc}</urlset>": False,
        f'<?xml version="1.0"?><rss><channel>{loc}</channel></rss>': False,
        f'<feed xmlns="http://www.w3.org/2005/Atom">{loc}</feed>': False,
        f"<rss><!-- <urlset> -->{loc}</rss>": False,
        "<?xml version='1.0'": False,
        "": False,
    }
    df = spark.createDataFrame([(b,) for b in bodies], "body string")
    got = {
        r["body"]: r["ok"]
        for r in df.select("body", is_sitemap_root(F.col("body")).alias("ok")).collect()
    }
    assert got == bodies
    assert {b: is_sitemap_root_py(b) for b in bodies} == bodies
    # the crawl gates the UTF-8 decode of the fetched bytes: a BOM survives it
    raw = spark.createDataFrame([(b"\xef\xbb\xbf<urlset>" + loc.encode(),)], "html binary")
    assert raw.select(is_sitemap_root(F.decode("html", "UTF-8"))).first()[0] is True
