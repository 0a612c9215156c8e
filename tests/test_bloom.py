"""Sharded bloom (BloomTable): no false negatives ever; false-positive
guard; multi-shard probe; delta merge; sizing."""

from webcrawler_spark.operators.bloom import BloomTable
from webcrawler_spark.urlnorm import sha1_hex


def _hashes(n, prefix):
    return [sha1_hex(f"{prefix}-{i}") for i in range(n)]


def _cand_df(spark, keys):
    return spark.createDataFrame(
        [(k, f"u{i}") for i, k in enumerate(keys)], ["url_sha1", "url"]
    ).repartition(8)


def test_auto_sizing_bounds_shard_bitmaps():
    """plan() must keep every shard's bitmap <= MAX_SHARD_BYTES across the
    whole target range (10^4 .. 10^10 keys) while preserving total capacity."""
    import math

    for n in [10_000, 10**6, 10**7, 10**8, 10**10]:
        sb, expected = BloomTable.plan(n, fpp=0.01)
        m = BloomTable._optimal_m(expected, 0.01)
        assert m // 8 <= BloomTable.MAX_SHARD_BYTES, (n, sb, m // 8)
        # capacity: shards x per-shard keys covers n with the safety factor
        assert (1 << sb) * expected >= n
        # never over-sharded: one fewer bit would blow the cap (when sb > 0)
        if sb > 0:
            m_total = -n * 1.2 * math.log(0.01) / (math.log(2) ** 2)
            assert m_total / (1 << (sb - 1)) > BloomTable.MAX_SHARD_BYTES * 8


def test_auto_build_small_input(spark):
    """build() with only n_seen derives sizing itself and keeps the
    no-false-negative guarantee."""
    keys = _hashes(3000, "auto")
    df = spark.createDataFrame([(k,) for k in keys], ["url_sha1"]).repartition(8)
    table = BloomTable.build(df, n_seen=3000)
    try:
        assert table.shard_bits == 0  # tiny input -> single shard
        maybe, new = table.split(_cand_df(spark, keys))
        assert new.count() == 0
    finally:
        table.unpersist()


def test_bloomtable_split_no_false_negatives(spark):
    seen_keys = _hashes(5000, "in")
    seen = spark.createDataFrame([(k,) for k in seen_keys], ["url_sha1"]).repartition(8)
    table = BloomTable.build(seen, fpp=0.01, shard_bits=4)
    try:
        scratch: list = []
        maybe, new = table.split(_cand_df(spark, seen_keys), scratch=scratch)
        # every seen key must land in maybe (a false negative loses URLs)
        assert maybe.count() == 5000
        assert new.count() == 0
        for df in scratch:
            df.unpersist()
    finally:
        table.unpersist()


def test_bloomtable_split_fp_bounded_and_schema(spark):
    seen = spark.createDataFrame(
        [(k,) for k in _hashes(5000, "in")], ["url_sha1"]
    ).repartition(8)
    table = BloomTable.build(seen, fpp=0.01, shard_bits=4)
    try:
        out_keys = _hashes(20000, "out")
        maybe, new = table.split(_cand_df(spark, out_keys))
        n_maybe, n_new = maybe.count(), new.count()
        assert n_maybe + n_new == 20000
        assert n_maybe / 20000 < 0.05  # fp rate
        assert maybe.columns == ["url_sha1", "url"]  # passthrough schema
    finally:
        table.unpersist()


def test_bloomtable_one_shard_per_task(spark):
    """The scale invariant (round-2 verdict item 1): no probe call ever
    holds more than one shard bitmap, and every shard bitmap respects the
    per-shard byte cap — so peak task memory is ONE <=16 MB bitmap no
    matter how many keys the fleet has seen. The >1-bitmap case raises
    inside the probe, so the split()s above double as the negative test;
    here we also check the bitmap table's shape directly at a simulated
    larger shard count."""
    seen = spark.createDataFrame(
        [(k,) for k in _hashes(20000, "big")], ["url_sha1"]
    ).repartition(16)
    table = BloomTable.build(seen, fpp=0.01, shard_bits=5)
    try:
        rows = table.bitmaps.collect()
        assert 1 < len(rows) <= 32
        assert len({r["shard"] for r in rows}) == len(rows)  # one bitmap/shard
        for r in rows:
            assert len(r["bitmap"]) <= BloomTable.MAX_SHARD_BYTES
        # probing still exact through the cogroup path
        maybe, new = table.split(_cand_df(spark, _hashes(20000, "big")))
        assert new.count() == 0
    finally:
        table.unpersist()


def test_bloomtable_merge_delta_bit_exact(spark):
    """merge_delta(old, delta) must equal a FULL build over old ∪ delta at
    the same geometry — byte-for-byte, since every bitmap is the OR of its
    keys' bit patterns regardless of insertion grouping."""
    a, b = _hashes(3000, "a"), _hashes(1500, "b")
    df_a = spark.createDataFrame([(k,) for k in a], ["url_sha1"]).repartition(8)
    df_b = spark.createDataFrame([(k,) for k in b], ["url_sha1"]).repartition(4)
    table = BloomTable.build(df_a, fpp=0.01, shard_bits=3)
    merged = table.merge_delta(df_b)
    try:
        assert merged.capacity_keys == table.capacity_keys
        assert (merged.shard_bits, merged.m, merged.k) == (
            table.shard_bits, table.m, table.k
        )
        full = BloomTable._bitmap_table(
            df_a.unionByName(df_b), "url_sha1",
            merged.shard_bits, merged.m, merged.k,
        )
        got = {r["shard"]: bytes(r["bitmap"]) for r in merged.bitmaps.collect()}
        want = {r["shard"]: bytes(r["bitmap"]) for r in full.collect()}
        assert got == want
        # and the probe path still has zero false negatives over old ∪ delta
        maybe, new = merged.split(_cand_df(spark, a + b))
        assert new.count() == 0
    finally:
        merged.unpersist()


def test_crawl_builds_bloom_once_then_merges_deltas(spark, fixture_web, tmp_path,
                                                    monkeypatch):
    """The round loop must never rebuild the bloom from the full seen set:
    ONE full build when the threshold is crossed, then one merge_delta per
    committed round whose input is exactly that round's seen_delta.

    The same crawl checks how the rounds hold their frames: every dataset
    a commit writes reads materialized round frames, never the seen table
    (the commit's seen insert refreshes every cached plan over it), and
    everything a round checkpoints or persists, the carried bloom included,
    is freed by the time run_crawl returns."""
    import webcrawler_spark.plans.crawl as crawl_mod
    from webcrawler_spark.fixtures import WHITELIST
    from webcrawler_spark.plans.crawl import CrawlConfig, run_crawl
    from webcrawler_spark.storage import RoundStore

    builds: list[int] = []
    merges: list[int] = []
    seen_readers: list[tuple[int, str]] = []
    orig_build, orig_merge = BloomTable.build.__func__, BloomTable.merge_delta
    orig_commit = RoundStore.commit_round

    def checking_commit(self, rnd, datasets, *a, **kw):
        for name, df in datasets.items():
            if self.seen_table in df._jdf.queryExecution().analyzed().toString():
                seen_readers.append((rnd, name))
        return orig_commit(self, rnd, datasets, *a, **kw)

    def stored_rdd_ids():
        return {i.id() for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()}

    def counting_build(cls, seen, **kw):
        builds.append(seen.count())
        return orig_build(cls, seen, **kw)

    def counting_merge(self, delta, **kw):
        merges.append(delta.count())
        return orig_merge(self, delta, **kw)

    paths = fixture_web["paths"]
    pages = spark.read.parquet(paths["pages"])
    seeds = spark.read.parquet(paths["seeds"])
    cfg = CrawlConfig(whitelist=WHITELIST, max_depth=2, max_rounds=8,
                      parsers="combined")
    # the fixture web stays below BLOOM_MIN_SEEN: no bloom in the reference
    ref = run_crawl(spark, pages, seeds, cfg,
                    checkpoint_dir=str(tmp_path / "ref"))
    want = sorted((r["round"], r["url"]) for r in ref.order(spark).collect())

    monkeypatch.setattr(crawl_mod, "BLOOM_MIN_SEEN", 1)
    monkeypatch.setattr(RoundStore, "commit_round", checking_commit)
    stored_before = stored_rdd_ids()
    try:
        crawl_mod.BloomTable.build = classmethod(counting_build)
        crawl_mod.BloomTable.merge_delta = counting_merge
        res = run_crawl(spark, pages, seeds, cfg,
                        checkpoint_dir=str(tmp_path / "bloom"))
    finally:
        crawl_mod.BloomTable.build = classmethod(orig_build)
        crawl_mod.BloomTable.merge_delta = orig_merge
    assert stored_rdd_ids() - stored_before == set()
    assert seen_readers == []

    got = sorted((r["round"], r["url"]) for r in res.order(spark).collect())
    assert got == want  # bloom is an optimization, never a semantic change
    assert len(builds) == 1, f"full bloom build ran {len(builds)} times"
    assert builds[0] == res.store.manifest(0)["counts"]["seen_delta"]
    # merge inputs are exactly the per-round deltas, NOT the growing seen
    # set: round 0 has no bloom (seen empty), the build at round 1 covers
    # rounds <= 0, and every later round with a non-empty delta merges it
    deltas = [
        res.store.manifest(r)["counts"]["seen_delta"]
        for r in res.store.committed_rounds()
    ]
    assert merges == [d for d in deltas[1:] if d > 0]


def test_bloomtable_empty_seen(spark):
    seen = spark.createDataFrame([], "url_sha1 string")
    table = BloomTable.build(seen, fpp=0.01)
    try:
        maybe, new = table.split(_cand_df(spark, _hashes(200, "x")))
        assert maybe.count() == 0
        assert new.count() == 200
    finally:
        table.unpersist()
