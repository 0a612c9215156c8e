"""Bucketed seen table: exchange-free anti-join side + crash-safe appends.

The scale claim under test (round-2 verdict item 2): with the seen set in
a CLUSTERED BY (url_sha1) datasource table, the per-round admission
anti-join must NOT re-shuffle the seen side — only the candidate side gets
an Exchange. Plus the commit-protocol property that keys inserted by a
round attempt that died before its manifest are invisible to reads.
"""

import re

import pytest
from pyspark.sql import functions as F

from webcrawler_spark.operators.admission import anti_join_seen
from webcrawler_spark.storage import RoundStore


def _keys(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.md5(F.col("id").cast("string")).alias("url_sha1")
    )


@pytest.fixture()
def store(tmp_path):
    return RoundStore(str(tmp_path / "ckpt"))


def test_append_read_roundtrip(spark, store):
    store.ensure_seen_table(spark, n_buckets=8)
    store.append_seen_bucketed(_keys(spark, 0, 1000), rnd=0)
    store.append_seen_bucketed(_keys(spark, 1000, 1500), rnd=1)
    assert store.read_seen_bucketed(spark, upto=1).count() == 1500
    assert store.read_seen_bucketed(spark, upto=0).count() == 1000


def test_orphan_round_invisible(spark, store):
    """Keys from a round attempt that never committed its manifest must not
    poison the anti-join (they would permanently drop never-fetched URLs)."""
    store.ensure_seen_table(spark, n_buckets=8)
    store.append_seen_bucketed(_keys(spark, 0, 100), rnd=0)
    # crashed attempt of round 1: insert done, manifest never written
    store.append_seen_bucketed(_keys(spark, 100, 200), rnd=1)
    visible = store.read_seen_bucketed(spark, upto=0)
    assert visible.count() == 100
    # the redo of round 1 re-inserts the same keys -> duplicates, which an
    # anti-join must tolerate
    store.append_seen_bucketed(_keys(spark, 100, 200), rnd=1)
    cand = _keys(spark, 150, 250)
    out = anti_join_seen(cand, store.read_seen_bucketed(spark, upto=1))
    assert out.count() == 50  # 200..250 survive exactly once


def test_commit_inserts_seen_keys_after_dataset_writes(spark, store,
                                                       monkeypatch):
    """A direct caller's commit shape (perfbench's frontier rounds, not the
    crawl's, whose datasets read checkpointed frames): round datasets read
    a persisted admitted set (candidates anti-joined against the seen
    table) while the seen insert of those same keys rides along as an
    extra write. The insert drops every cached plan over the seen table's
    path, so it must land only after every dataset write has finished — a
    dataset write still running would lose its cached input mid-job. One
    dataset write is slowed so an insert running free would land first;
    the insert still adds one file per bucket."""
    import threading
    import time

    from pyspark import StorageLevel
    from pyspark.sql import DataFrameWriter

    store.ensure_seen_table(spark, n_buckets=4)
    store.append_seen_bucketed(_keys(spark, 0, 100), rnd=0)
    admitted = anti_join_seen(
        _keys(spark, 50, 250), store.read_seen_bucketed(spark, upto=0)
    ).persist(StorageLevel.MEMORY_AND_DISK)

    events: list[str] = []
    lock = threading.Lock()
    real_parquet = DataFrameWriter.parquet
    real_insert = DataFrameWriter.insertInto

    def parquet(self, path, *a, **kw):
        if path.endswith("slow"):
            time.sleep(2)
        real_parquet(self, path, *a, **kw)
        with lock:
            events.append("dataset")

    def insert_into(self, table, *a, **kw):
        with lock:
            events.append("insert")
        real_insert(self, table, *a, **kw)

    monkeypatch.setattr(DataFrameWriter, "parquet", parquet)
    monkeypatch.setattr(DataFrameWriter, "insertInto", insert_into)
    try:
        manifest = store.commit_round(
            1,
            {"fast": admitted, "slow": admitted.select("url_sha1")},
            extra_writes=[
                lambda: store.append_seen_bucketed(admitted.select("url_sha1"), 1)
            ],
        )
    finally:
        admitted.unpersist()
    assert events == ["dataset", "dataset", "insert"]
    assert manifest["counts"] == {"fast": 150, "slow": 150}
    assert store.read(spark, 1, "slow").count() == 150
    assert store.read_seen_bucketed(spark, upto=1).count() == 250
    assert store.seen_files_per_bucket() == 2.0  # one file per bucket per insert


def test_bucket_count_pinned(spark, tmp_path):
    root = str(tmp_path / "ckpt")
    RoundStore(root).ensure_seen_table(spark, n_buckets=4)
    # a later open with a different request keeps the pinned count
    s2 = RoundStore(root)
    s2.ensure_seen_table(spark, n_buckets=16)
    assert s2.seen_buckets == 4


def test_anti_join_has_no_seen_side_exchange(spark, store):
    store.ensure_seen_table(spark, n_buckets=8)
    store.append_seen_bucketed(_keys(spark, 0, 20000), rnd=0)
    store.append_seen_bucketed(_keys(spark, 20000, 30000), rnd=1)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        cand = _keys(spark, 25000, 40000).withColumn("depth", F.lit(1))
        seen = store.read_seen_bucketed(spark, upto=1)
        out = anti_join_seen(cand, seen)
        assert out.count() == 10000
        plan = out._jdf.queryExecution().executedPlan().toString()
        exchanges = re.findall(r"Exchange hashpartitioning\(url_sha1", plan)
        assert len(exchanges) == 1, f"seen side re-shuffled:\n{plan}"
        assert "Bucketed: true" in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_one_file_per_bucket_per_insert(spark, store):
    """The pre-repartition keeps insert fan-out at one file per bucket
    (tasks x buckets files would explode the table at 10^4 rounds)."""
    import glob
    import os

    store.ensure_seen_table(spark, n_buckets=8)
    store.append_seen_bucketed(_keys(spark, 0, 10000).repartition(16), rnd=0)
    files = [
        f for f in glob.glob(os.path.join(store._seen_location(), "*.parquet"))
    ]
    assert len(files) <= 8


def test_fresh_store_appends_one_file_per_bucket(spark, store):
    """A second RoundStore over an existing store (never ran
    ensure_seen_table itself) appends with the PINNED bucket count: one
    more file per bucket, not one per default partition per bucket —
    which would trip compaction that many rounds early."""
    store.ensure_seen_table(spark, n_buckets=4)
    store.append_seen_bucketed(_keys(spark, 0, 2000), rnd=0)
    assert store.seen_files_per_bucket() == 1
    s2 = RoundStore(store.root)
    s2.append_seen_bucketed(_keys(spark, 2000, 4000).repartition(16), rnd=1)
    assert s2.seen_files_per_bucket() == store.seen_files_per_bucket() == 2
    assert s2.read_seen_bucketed(spark, upto=1).count() == 4000


def test_compaction_bounds_files_preserves_plan_and_data(spark, store):
    """After N rounds of appends the table holds N files/bucket; compaction
    must rewrite to one file per bucket, keep exactly the committed keys
    (dropping crash-orphan rounds > upto), keep the anti-join seen side
    exchange-free, and accept further appends."""
    store.ensure_seen_table(spark, n_buckets=8)
    for r in range(6):
        store.append_seen_bucketed(_keys(spark, r * 1000, (r + 1) * 1000), rnd=r)
    # crashed attempt of round 6: insert done, manifest never written
    store.append_seen_bucketed(_keys(spark, 6000, 7000), rnd=6)
    want = {r["url_sha1"] for r in store.read_seen_bucketed(spark, upto=5).collect()}
    assert store.seen_files_per_bucket() >= 6

    store.compact_seen_bucketed(spark, upto=5)

    assert store.seen_files_per_bucket() <= 1
    got = {r["url_sha1"] for r in store.read_seen_bucketed(spark, upto=5).collect()}
    assert got == want
    # orphan round-6 rows were dropped by the rewrite; the redo re-inserts
    assert store.read_seen_bucketed(spark, upto=6).count() == 6000
    store.append_seen_bucketed(_keys(spark, 6000, 7000), rnd=6)
    assert store.read_seen_bucketed(spark, upto=6).count() == 7000

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        cand = _keys(spark, 5000, 9000).withColumn("depth", F.lit(1))
        out = anti_join_seen(cand, store.read_seen_bucketed(spark, upto=6))
        assert out.count() == 2000
        plan = out._jdf.queryExecution().executedPlan().toString()
        exchanges = re.findall(r"Exchange hashpartitioning\(url_sha1", plan)
        assert len(exchanges) == 1, f"seen side re-shuffled:\n{plan}"
        assert "Bucketed: true" in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)

    # a fresh store object (new session analog) registers the NEW location
    s2 = RoundStore(store.root)
    s2.ensure_seen_table(spark, n_buckets=8)
    assert s2.read_seen_bucketed(spark, upto=6).count() == 7000
    # compaction is repeatable (version advances again)
    s2.compact_seen_bucketed(spark, upto=6)
    assert s2.read_seen_bucketed(spark, upto=6).count() == 7000
    assert s2.seen_files_per_bucket() <= 1


def _crawl_vs_oracle(spark, fixture_web, ckpt, **cfg_kw):
    """One crawl of the fixture web on the bucketed seen table, and the
    single-threaded oracle's (round, url) order and (url_sha1 -> url,
    first_round) seen set for the same config."""
    from oracle import CrawlConfig as OracleConfig, crawl as oracle_crawl
    from webcrawler_spark.fixtures import WHITELIST
    from webcrawler_spark.plans.crawl import CrawlConfig, run_crawl

    paths = fixture_web["paths"]
    pages = spark.read.parquet(paths["pages"])
    seeds = spark.read.parquet(paths["seeds"])
    cfg = CrawlConfig(whitelist=WHITELIST, max_depth=2, max_rounds=5, **cfg_kw)
    res = run_crawl(spark, pages, seeds, cfg, checkpoint_dir=ckpt)
    got_order = sorted((r["round"], r["url"]) for r in res.order(spark).collect())
    got_seen = {
        r["url_sha1"]: (r["url"], r["first_round"])
        for r in res.seen(spark).collect()
    }
    golden = oracle_crawl(
        fixture_web["pages"], fixture_web["seeds"],
        OracleConfig(whitelist=WHITELIST, max_depth=2, max_rounds=5,
                     parsers="combined"),
    )
    want_order = sorted((rnd, url) for rnd, _host, url, _sha in golden.order)
    assert got_order == want_order
    assert got_seen == golden.seen
    return res


def test_crawl_with_aggressive_compaction_matches(spark, fixture_web, tmp_path,
                                                  monkeypatch):
    """Compacting after (almost) every round, over a seen table with a
    bucket count of its own, must not change crawl semantics: identical
    order + seen set vs the oracle, the store pins the configured bucket
    count, and it ends compacted."""
    from webcrawler_spark.plans.crawl import CrawlConfig

    monkeypatch.setattr(CrawlConfig, "seen_compact_files_per_bucket", 1)
    res = _crawl_vs_oracle(spark, fixture_web, str(tmp_path / "ckpt"),
                           seen_buckets=3)
    assert res.store.seen_buckets == 3
    assert res.store.seen_files_per_bucket() <= 2  # compacted near the end


def _iceberg_available(spark) -> bool:
    try:
        spark._jvm.java.lang.Class.forName("org.apache.iceberg.catalog.Catalog")
        return True
    except Exception:
        return False


@pytest.mark.parametrize("provider", ["parquet", "iceberg"])
def test_seen_table_provider_seam(spark, tmp_path, provider):
    """SURVEY M5's promise, compile-checked: both providers declare the
    identical relational schema and an equivalent bucket layout; the
    parquet leg round-trips for real, the iceberg leg runs whenever the
    runtime jar is present and SKIPS (never fakes) when it is not."""
    store = RoundStore(str(tmp_path / "ckpt"))
    ddl_p = store.seen_table_ddl(8, "parquet")
    ddl_i = store.seen_table_ddl(8, "iceberg")
    assert RoundStore.SEEN_TABLE_SCHEMA in ddl_p
    assert RoundStore.SEEN_TABLE_SCHEMA in ddl_i
    assert "CLUSTERED BY (url_sha1)" in ddl_p and "INTO 8 BUCKETS" in ddl_p
    assert "bucket(8, url_sha1)" in ddl_i
    if provider == "iceberg" and not _iceberg_available(spark):
        pytest.skip("no Iceberg runtime jar in this environment")
    store.ensure_seen_table(spark, 8, provider=provider)
    store.append_seen_bucketed(_keys(spark, 0, 500), rnd=0)
    assert store.read_seen_bucketed(spark, upto=0).count() == 500
    # provider pinned: a reopen cannot silently switch layouts
    import json

    with open(store._meta_path()) as f:
        assert json.load(f)["seen_provider"] == provider


def test_crawl_bucketed_matches_oracle(spark, fixture_web, tmp_path):
    """Default crawl on the bucketed seen table: identical order and seen
    set vs the oracle."""
    _crawl_vs_oracle(spark, fixture_web, str(tmp_path / "ckpt"))


def test_ensure_seen_table_repairs_stale_catalog_location(spark, store):
    """ADVICE fix (crash window with a persistent metastore): a compaction
    that advanced the location pointer in _store_meta.json but died before
    re-pointing the catalog leaves the registered table at the OLD
    directory — which _clean_stale_seen_dirs deletes on the next start, so
    without the repair the table silently reads EMPTY. ensure_seen_table
    must detect the location mismatch and DROP/re-CREATE at the committed
    pointer."""
    import shutil

    store.ensure_seen_table(spark, 4)
    store.append_seen_bucketed(_keys(spark, 0, 20), 0)
    assert store.read_seen_bucketed(spark, upto=0).count() == 20

    # simulate the crashed compaction: data rewritten into the v1 dir and
    # the meta pointer advanced, catalog still registered at v0
    shutil.copytree(store._seen_location(0), store._seen_location(1))
    meta = store._read_meta()
    meta["seen_location_v"] = 1
    store._write_meta(meta)

    store.ensure_seen_table(spark, 4)  # restart-time re-registration
    assert store.read_seen_bucketed(spark, upto=0).count() == 20
