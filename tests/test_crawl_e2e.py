"""End-to-end: Spark engine ≡ single-threaded oracle on the synthetic web.

The BASELINE correctness gate: identical (round, url) crawl order with
canonical within-round order, identical final seen-set, byte-identical
extracted text per url, identical items and per-round metrics — same seed
list, same politeness budgets.
"""

import pytest
from pyspark.sql import functions as F

import webcrawler_spark.plans.crawl as crawl_mod
from oracle import CrawlConfig as OracleConfig, crawl as oracle_crawl
from webcrawler_spark.fixtures import WHITELIST
from webcrawler_spark.plans.crawl import CrawlConfig, run_crawl


def _run_both(spark, fixture_web, tmp_path, parsers, with_politeness):
    paths = fixture_web["paths"]
    pages_df = spark.read.parquet(paths["pages"])
    seeds_df = spark.read.parquet(paths["seeds"])
    robots_df = spark.read.parquet(paths["robots"])

    budgets = None
    robots = None
    budgets_df = None
    robots_arg = None
    if with_politeness:
        budgets = {r["host"]: r["budget_per_round"] for r in fixture_web["robots"]}
        robots = {r["host"]: r["disallow_prefixes"] for r in fixture_web["robots"]}
        budgets_df = robots_df.select("host", "budget_per_round")
        robots_arg = robots_df.select("host", "disallow_prefixes")

    ocfg = OracleConfig(
        whitelist=WHITELIST, max_depth=3, max_rounds=12, parsers=parsers,
        budgets=budgets, robots=robots,
    )
    golden = oracle_crawl(fixture_web["pages"], fixture_web["seeds"], ocfg)

    cfg = CrawlConfig(
        whitelist=WHITELIST, max_depth=3, max_rounds=12, parsers=parsers,
    )
    result = run_crawl(
        spark, pages_df, seeds_df, cfg,
        checkpoint_dir=str(tmp_path / f"ckpt_{parsers}_{with_politeness}"),
        budgets=budgets_df, robots=robots_arg,
    )
    return golden, result


def _assert_match(spark, golden, result):
    # --- crawl order: identical (round, url) + canonical in-round order ---
    engine_order = [
        (r["round"], r["host"], r["url"], r["url_sha1"])
        for r in result.order(spark)
        .orderBy("round", "host", "url_sha1")
        .collect()
    ]
    assert engine_order == golden.order

    # --- seen set ---
    engine_seen = {
        r["url_sha1"]: (r["url"], r["first_round"])
        for r in result.seen(spark).collect()
    }
    assert engine_seen == golden.seen

    # --- metrics (per-round lineage counts) ---
    keys = ["round", "candidates", "admitted", "fetched", "items", "errors", "deferred"]
    engine_metrics = [{k: m[k] for k in keys} for m in result.metrics]
    golden_metrics = [{k: m[k] for k in keys} for m in golden.metrics]
    assert engine_metrics == golden_metrics


@pytest.mark.parametrize("parsers", ["combined", "bm1365"])
def test_engine_matches_oracle(spark, fixture_web, tmp_path, parsers):
    golden, result = _run_both(spark, fixture_web, tmp_path, parsers,
                               with_politeness=False)
    _assert_match(spark, golden, result)


def test_engine_matches_oracle_with_politeness(spark, fixture_web, tmp_path):
    golden, result = _run_both(spark, fixture_web, tmp_path, "combined",
                               with_politeness=True)
    _assert_match(spark, golden, result)


@pytest.fixture(scope="module")
def salted_crawl(spark, fixture_web, tmp_path_factory):
    """The budgeted combined crawl with the hot-host row floor lowered to
    fixture scale, so the salted two-phase top-k runs on the hot host (one
    host owns well over HOT_HOST_SHARE of the queue). Run once; the tests
    below each check one property of it."""
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(crawl_mod, "HOT_HOST_MIN_ROWS", 0)
        return _run_both(spark, fixture_web, tmp_path_factory.mktemp("salted"),
                         "combined", with_politeness=True)


def test_politeness_budgets_enforced(spark, fixture_web, salted_crawl):
    """No host fetches past its budget in any round, salted or not."""
    _golden, result = salted_crawl
    budgets = {r["host"]: r["budget_per_round"] for r in fixture_web["robots"]}
    per_round_host = (
        result.order(spark).groupBy("round", "host").count().collect()
    )
    assert any(row["host"] in budgets for row in per_round_host)
    for row in per_round_host:
        if row["host"] in budgets:
            assert row["count"] <= budgets[row["host"]]


def test_auto_salt_on_hot_host(spark, salted_crawl):
    """The salted top-k engages in at least one round, with
    order/seen/metrics still matching the oracle exactly."""
    golden, result = salted_crawl
    _assert_match(spark, golden, result)
    assert any(m.get("salted") for m in result.metrics), \
        "auto-salt never engaged on the hot-host fixture"


def test_hot_host_probe_skipped_below_row_floor(spark, fixture_web, tmp_path,
                                               monkeypatch):
    """A budgeted crawl whose queues never exceed HOT_HOST_MIN_ROWS skips
    the hot-host probe: the committed observe() counts already rule a hot
    host out, so no round prologue re-reads the previous round's order."""
    from webcrawler_spark.storage import RoundStore

    reads: list[str] = []
    real_read = RoundStore.read

    def read(self, spark, rnd, name):
        reads.append(name)
        return real_read(self, spark, rnd, name)

    monkeypatch.setattr(RoundStore, "read", read)
    robots_df = spark.read.parquet(fixture_web["paths"]["robots"])
    result = run_crawl(
        spark,
        spark.read.parquet(fixture_web["paths"]["pages"]),
        spark.read.parquet(fixture_web["paths"]["seeds"]),
        CrawlConfig(whitelist=WHITELIST, max_depth=2, max_rounds=3),
        checkpoint_dir=str(tmp_path / "ckpt_probe"),
        budgets=robots_df.select("host", "budget_per_round"),
    )
    assert any(m["deferred"] > 0 for m in result.metrics)  # budgets bind
    assert "deferred" in reads  # the round prologue reads go through read
    assert "order" not in reads
    assert not any(m["salted"] for m in result.metrics)


def test_items_and_byte_identical_text(spark, fixture_web, tmp_path):
    golden, result = _run_both(spark, fixture_web, tmp_path, "combined",
                               with_politeness=True)
    items_df = result.items(spark)

    # --- bm items: every jcux field equal, info byte-identical ---
    engine_bm = {
        r["url"]: (r["round"], r["jcux"].asDict())
        for r in items_df.filter(F.col("kind") == "bm").collect()
    }
    golden_bm = {
        i["url"]: (i["round"], i["jcux"]) for i in golden.items if i["kind"] == "bm"
    }
    assert set(engine_bm) == set(golden_bm)
    for url, (rnd, jcux) in golden_bm.items():
        e_rnd, e_jcux = engine_bm[url]
        assert e_rnd == rnd
        assert e_jcux == jcux, f"jcux mismatch for {url}"

    # --- THE invariant: extracted text byte-identical to the golden
    # `text` column of the pages table (JcUx.go:195-200) ---
    pages_df = spark.read.parquet(fixture_web["paths"]["pages"])
    joined = (
        items_df.filter(F.col("kind") == "bm")
        .join(pages_df.select("url", "text"), "url")
        .select("url", F.col("jcux.info").alias("engine_text"), "text")
        .collect()
    )
    assert len(joined) > 0
    for r in joined:
        assert r["engine_text"] == r["text"], f"text mismatch for {r['url']}"

    # --- img items ---
    engine_img = {
        r["url"]: (r["round"], r["file_name"], r["file_ext"], r["file_size"])
        for r in items_df.filter(F.col("kind") == "img").collect()
    }
    golden_img = {
        i["url"]: (i["round"], i["file_name"], i["file_ext"], i["file_size"])
        for i in golden.items
        if i["kind"] == "img"
    }
    assert engine_img == golden_img

    # --- payload bytes: savePicture persists the image content itself
    # (bmProcessor.go:39-50) — every img item's payload must equal the
    # fetched page bytes; bm items carry no payload ---
    payload_rows = (
        items_df.join(pages_df.select("url", "html"), "url", "left")
        .select("url", "kind", "payload", "html")
        .collect()
    )
    n_img = 0
    for r in payload_rows:
        if r["kind"] == "img":
            n_img += 1
            assert bytes(r["payload"]) == bytes(r["html"]), r["url"]
        else:
            assert r["payload"] is None
    assert n_img > 0


def test_errors_match(spark, fixture_web, tmp_path):
    golden, result = _run_both(spark, fixture_web, tmp_path, "generic",
                               with_politeness=False)
    engine_errors = {
        (r["round"], r["url"]) for r in result.errors(spark).collect()
    }
    golden_errors = {(e["round"], e["url"]) for e in golden.errors}
    assert engine_errors == golden_errors


def test_parse_error_capture_and_fetch_retry(spark, tmp_path):
    """A poisoned page (recursion bomb) yields a parse-stage errors row per
    attempt and the crawl still completes; fetch misses AND parse failures
    are re-enqueued max_fetch_retries times (scheduler.go:386/:394 retry
    parity — parse failures are deterministic in the pages-table world, so
    their retries always exhaust); errors/order/items match the extended
    oracle."""
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    host = "www.example.com"
    seed_url = f"http://{host}/"
    ts = datetime.datetime(2024, 1, 1, tzinfo=datetime.timezone.utc)
    pages = [
        {"url": seed_url, "warc_ts": ts, "lang": "en", "text": "",
         "html": b'<a href="/poison">p</a><a href="/missing">m</a><a href="/ok">o</a>'},
        {"url": f"http://{host}/poison", "warc_ts": ts, "lang": "en",
         "text": "", "html": ("<div>" * 5000 + "boom").encode()},
        {"url": f"http://{host}/ok", "warc_ts": ts, "lang": "en",
         "text": "", "html": b"<p>fine</p>"},
        # /missing intentionally absent -> fetch_miss + retries
    ]
    seeds = [{"url": seed_url, "order": 0}]
    outdir = tmp_path / "poisonweb"
    outdir.mkdir()
    pq.write_table(
        pa.Table.from_pydict({
            "url": [p["url"] for p in pages],
            "warc_ts": pa.array([p["warc_ts"] for p in pages],
                                type=pa.timestamp("us", tz="UTC")),
            "html": pa.array([p["html"] for p in pages], type=pa.binary()),
            "text": [p["text"] for p in pages],
            "lang": [p["lang"] for p in pages],
        }),
        str(outdir / "pages.parquet"),
    )
    pq.write_table(
        pa.Table.from_pydict({"url": [seed_url], "order": [0]}),
        str(outdir / "seeds.parquet"),
    )

    ocfg = OracleConfig(whitelist=["example.com"], max_depth=2, max_rounds=8,
                        parsers="combined", max_fetch_retries=2)
    golden = oracle_crawl(pages, seeds, ocfg)

    cfg = CrawlConfig(whitelist=["example.com"], max_depth=2, max_rounds=8,
                      parsers="combined", max_fetch_retries=2)
    result = run_crawl(
        spark,
        spark.read.parquet(str(outdir / "pages.parquet")),
        spark.read.parquet(str(outdir / "seeds.parquet")),
        cfg,
        checkpoint_dir=str(tmp_path / "ckpt_poison"),
    )

    engine_errors = sorted(
        (r["round"], r["url"], r["stage"], r["message"])
        for r in result.errors(spark).collect()
    )
    golden_errors = sorted(
        (e["round"], e["url"], e["stage"], e["message"]) for e in golden.errors
    )
    assert engine_errors == golden_errors
    # the miss is attempted 1 + max_fetch_retries times, once per round
    miss_rounds = [r for r, u, s, m in engine_errors if u.endswith("/missing")]
    assert miss_rounds == [1, 2, 3]
    assert all(m == "fetch_miss" for r, u, s, m in engine_errors if s == "fetch")
    # the poisoned page is retried like a miss: one parse error per
    # attempt (rounds 1..1+max_fetch_retries), never any items
    parse_errs = [(r, u, m) for r, u, s, m in engine_errors if s == "parse"]
    assert parse_errs == [
        (r, f"http://{host}/poison", "RecursionError") for r in (1, 2, 3)
    ]
    _assert_match(spark, golden, result)
    item_urls = {r["url"] for r in result.items(spark).collect()}
    assert f"http://{host}/poison" not in item_urls
    assert f"http://{host}/ok" in item_urls


def test_host_cap_trap_guard(spark, fixture_web, tmp_path):
    """max_admissions_per_host: overflow URLs are marked seen (never
    re-admitted), never fetched, and surface as host_cap error rows; the
    crawl still terminates."""
    paths = fixture_web["paths"]
    pages = spark.read.parquet(paths["pages"])
    seeds = spark.read.parquet(paths["seeds"])
    cfg = CrawlConfig(whitelist=WHITELIST, max_depth=2, max_rounds=8,
                      parsers="combined", max_admissions_per_host=3)
    res = run_crawl(spark, pages, seeds, cfg,
                    checkpoint_dir=str(tmp_path / "ckpt_cap"))
    capped = [r["url"] for r in res.errors(spark)
              .filter("stage = 'admission' AND message = 'host_cap'")
              .collect()]
    assert capped, "fixture web should overflow a 3-per-host cap"
    fetched = {r["url"] for r in res.order(spark).collect()}
    assert not (set(capped) & fetched)  # overflow is never fetched
    seen = {r["url"] for r in res.seen(spark).collect()}
    assert set(capped) <= seen  # ...but IS seen: never re-admitted
    # per round, at most 3 NEW urls per host enter the queue; with no
    # deferrals (no budgets) fetches per (round, host) obey the cap
    per = (
        res.order(spark).groupBy("round", "host").count().collect()
    )
    assert max(r["count"] for r in per) <= 3
    # uncapped run fetches strictly more
    res2 = run_crawl(
        spark, pages, seeds,
        CrawlConfig(whitelist=WHITELIST, max_depth=2, max_rounds=8,
                    parsers="combined"),
        checkpoint_dir=str(tmp_path / "ckpt_nocap"),
    )
    assert res2.order(spark).count() > len(fetched)


def test_bloom_never_loses_urls(spark, fixture_web, tmp_path, monkeypatch):
    """bloom 'maybe-seen' still passes the exact anti-join: results with and
    without the bloom prefilter are identical."""
    # BLOOM_MIN_SEEN=1 forces the prefilter on at fixture scale (the
    # default threshold would silently skip it and no-op this test)
    monkeypatch.setattr(crawl_mod, "BLOOM_MIN_SEEN", 1)
    golden_a, with_bloom = _run_both(spark, fixture_web, tmp_path, "combined",
                                     with_politeness=False)
    _assert_match(spark, golden_a, with_bloom)
