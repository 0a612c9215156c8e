"""The benchmark's workloads: seeded input generators, the closed-loop
drivers that feed the engine through its public API, and output checks.

Each workload has ``generate`` (inputs and expected outputs, no Spark, runs
while the session starts), ``setup`` (load inputs, warm up untimed) and
``run_op`` (one timed operation, then its checks, untimed). One caller drives each loop: the next crawl or round starts only
after the previous one has committed.
"""

from __future__ import annotations

import hashlib
import os
import random
import shutil
import sys
import time
from dataclasses import dataclass, field

import pyarrow.parquet as pq
from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel


@dataclass
class OpResult:
    wall_s: float                # timed section
    units: int                   # pages fetched / input URLs
    round_s: list[float]         # per-round times inside the op
    rounds: int
    busy_share: float = 1.0      # busy / (busy + steal) CPU over the timed section
    ok: bool = True
    problems: list[str] = field(default_factory=list)
    extra: dict = field(default_factory=dict)


def cpu_ticks() -> tuple[int, int]:
    """(busy, steal) clock ticks of the whole machine so far, from /proc/stat:
    busy = user + nice + system + irq + softirq; steal = time the host ran
    someone else while this machine's CPUs were runnable."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return v[0] + v[1] + v[2] + v[5] + v[6], v[7]


def busy_share(start: tuple[int, int], end: tuple[int, int]) -> float:
    busy, steal = end[0] - start[0], end[1] - start[1]
    return busy / (busy + steal) if busy + steal else 1.0


def log(msg: str) -> None:
    print(f"[{time.strftime('%H:%M:%S')}] {msg}", file=sys.stderr, flush=True)


def _check(res: OpResult, cond: bool, what: str) -> None:
    if not cond:
        res.ok = False
        res.problems.append(what)


# --------------------------------------------------------------- crawl ----

class CrawlPolite:
    """``run_crawl`` over a seeded fixture web with the fixture's robots
    rules and per-host budgets (25/10/50 fetches per round) and its
    70%-hot host. Budgets bind from round 1 on, so every round carries a
    growing deferred backlog through the politeness window."""

    name = "crawl_polite"
    N_PAGES = 600
    MAX_DEPTH = 3
    MAX_ROUNDS = 1          # rounds 0..1 per crawl
    WARM_PAGES = 12
    WARM_ROUNDS = 1         # warm-up covers the round-0 and round>=1 plans

    def __init__(self, seed: int, work: str):
        self.seed, self.work = seed, work
        self.spark: SparkSession | None = None
        self.n_ops = 0
        self.trace = False

    def _web(self, tag: str, n_pages: int, seed: int, max_rounds: int) -> dict:
        from tests import oracle
        from webcrawler_spark.fixtures import WHITELIST, generate, write_parquet

        paths = write_parquet(os.path.join(self.work, f"web_{tag}"), n_pages=n_pages, seed=seed)
        pages, seeds, robots = generate(n_pages=n_pages, seed=seed)
        golden = oracle.crawl(
            pages, seeds,
            oracle.CrawlConfig(
                whitelist=WHITELIST, max_depth=self.MAX_DEPTH, max_rounds=max_rounds,
                budgets={r["host"]: r["budget_per_round"] for r in robots},
                robots={r["host"]: list(r["disallow_prefixes"]) for r in robots},
            ),
        )
        return {
            "paths": paths,
            "text": {p["url"]: p["text"] for p in pages},
            "golden": golden,
            "max_rounds": max_rounds,
        }

    def generate(self) -> None:
        """Inputs and oracle crawls; needs no Spark session."""
        self.warm = self._web("warm", self.WARM_PAGES, self.seed + 7919, self.WARM_ROUNDS)
        self.web = self._web("main", self.N_PAGES, self.seed, self.MAX_ROUNDS)
        log("crawl: webs and oracle crawls generated")

    def setup(self, spark: SparkSession) -> dict:
        self.spark = spark
        for web in (self.warm, self.web):
            paths = web["paths"]
            robots = spark.read.parquet(paths["robots"])
            web.update(
                pages=spark.read.parquet(paths["pages"]),
                seeds=spark.read.parquet(paths["seeds"]),
                budgets=robots.select("host", "budget_per_round"),
                robots=robots.select("host", "disallow_prefixes"),
            )
        warm = self._crawl(self.warm, "warm")
        if not warm.ok:
            raise RuntimeError(f"warm-up crawl failed its checks: {warm.problems}")
        return {}

    def run_op(self) -> OpResult:
        self.n_ops += 1
        return self._crawl(self.web, f"op{self.n_ops}")

    def _crawl(self, web: dict, tag: str) -> OpResult:
        from webcrawler_spark.fixtures import WHITELIST
        from webcrawler_spark.plans.crawl import CrawlConfig, run_crawl

        ckpt = os.path.join(self.work, f"ckpt_{tag}")
        shutil.rmtree(ckpt, ignore_errors=True)
        cfg = CrawlConfig(whitelist=WHITELIST, max_depth=self.MAX_DEPTH,
                          max_rounds=web["max_rounds"])
        c0 = cpu_ticks()
        t0 = time.time()
        crawl = run_crawl(self.spark, web["pages"], web["seeds"], cfg,
                          checkpoint_dir=ckpt, budgets=web["budgets"],
                          robots=web["robots"])
        wall = time.time() - t0
        share = busy_share(c0, cpu_ticks())
        log(f"crawl: {tag} {wall:.2f}s, busy share {share:.3f}")
        store = crawl.store
        commits = [t0] + [store.manifest(r)["committed_at"] for r in store.committed_rounds()]
        res = OpResult(
            wall_s=wall,
            units=sum(m["fetched"] for m in crawl.metrics),
            round_s=[b - a for a, b in zip(commits, commits[1:])],
            rounds=len(crawl.metrics),
            busy_share=share,
        )
        res.extra = {"store": store, "metrics": crawl.metrics}
        self._verify(crawl, web, res)
        return res

    def _verify(self, crawl, web: dict, res: OpResult) -> None:
        """Compare the committed round datasets with the oracle. Reads the
        parquet files directly, so the check adds no Spark jobs."""
        golden = web["golden"]
        store = crawl.store
        order = sorted(zip(*_columns(store, "order", ["round", "url"])))
        _check(res, order == sorted((r, u) for r, _h, u, _s in golden.order),
               "crawl order (round, url) differs from the oracle")
        seen = set(zip(*_columns(store, "seen_delta", ["url_sha1", "first_round"])))
        _check(res, seen == {(s, fr) for s, (_u, fr) in golden.seen.items()},
               "final seen set differs from the oracle")
        rnd, url, kind, info = _columns(store, "items", ["round", "url", "kind", "jcux.info"])
        _check(res, sorted(zip(rnd, url, kind))
               == sorted((i["round"], i["url"], i["kind"]) for i in golden.items),
               "items differ from the oracle")
        text = web["text"]
        _check(res, all(i == text[u] for u, k, i in zip(url, kind, info) if k == "bm"),
               "a bm item's jcux.info differs from pages.text")
        export = pq.read_table(store.export_path()).num_rows
        _check(res, export == len(url), "export row count differs from the items table")


def _columns(store, name: str, cols: list[str]) -> list[list]:
    """Columns of one dataset across all committed rounds (``a.b`` reads
    field ``b`` of struct column ``a``)."""
    out: list[list] = [[] for _ in cols]
    for r in store.committed_rounds():
        table = pq.read_table(store.round_path(r, name))
        for i, col in enumerate(cols):
            top, _, sub = col.partition(".")
            arr = table.column(top).combine_chunks()
            out[i].extend((arr.field(sub) if sub else arr).to_pylist())
    return out


# ------------------------------------------------------------ frontier ----

WHITELIST = ["example.com", "example.net"]
OFF_HOST = "evil.offsite.biz"


def _sha1(url: str) -> str:
    return hashlib.sha1(url.encode("utf-8")).hexdigest()


def _variant(rng: random.Random, url: str) -> str:
    """A non-canonical surface form whose canonical form is ``url``."""
    scheme, rest = url.split("://", 1)
    host, path = rest.split("/", 1)
    form = rng.randrange(4)
    if form == 0:
        return f"{scheme.upper()}://{host.upper()}/{path}"
    if form == 1:
        return f"{scheme}://{host}:{80 if scheme == 'http' else 443}/{path}"
    if form == 2:
        return f"{url}#frag{rng.randrange(100)}"
    return f"{scheme}://{host}/a/../{path}"


def frontier_batches(seed: int, n_rounds: int, n_rows: int, n_seen: int,
                     hosts: list[str], max_depth: int, budget: int) -> dict:
    """Seeded synthetic frontier with planted ground truth.

    Round 0 is the preloaded seen set (``n_seen`` canonical URLs from an
    earlier crawl). Every later round is a batch of ``n_rows`` raw
    candidates: ~50% clean new URLs, 15% non-canonical forms of new URLs,
    10% in-batch duplicates (same or another surface form), 8% URLs seen
    in an earlier round, 5% too deep, 8% off-whitelist hosts, 4% bad
    schemes. The expected admitted keys follow from the construction: a
    canonical URL is admitted iff one of its rows passes the filters and
    it is not yet seen; fetch slots follow from the per-host budget.
    """
    rng = random.Random(seed)
    seen_urls = [f"http://{hosts[k % len(hosts)]}/old/{k}" for k in range(n_seen)]
    seen_keys = {_sha1(u) for u in seen_urls}
    seen_pool = list(seen_urls)
    rounds = []
    for r in range(1, n_rounds + 1):
        rows, valid = [], {}
        k = 0

        def new_url():
            nonlocal k
            k += 1
            host = hosts[rng.randrange(len(hosts))]
            scheme = "http" if rng.random() < 0.5 else "https"
            return f"{scheme}://{host}/p/{r}/{k}"

        for _ in range(n_rows):
            x = rng.random()
            depth = rng.randrange(max_depth + 1)
            if x < 0.50:
                canon = new_url()
                raw = canon
            elif x < 0.65:
                canon = new_url()
                raw = _variant(rng, canon)
            elif x < 0.75 and rows:
                raw, canon, _d = rows[rng.randrange(len(rows))]
                if canon is not None and rng.random() < 0.5:
                    raw = _variant(rng, canon)
            elif x < 0.83:
                canon = seen_pool[rng.randrange(len(seen_pool))]
                raw = canon
            elif x < 0.88:
                canon = new_url()
                raw = canon
                depth = max_depth + 1 + rng.randrange(3)
            elif x < 0.96:
                raw = f"http://{OFF_HOST}/p/{r}/{rng.randrange(10**6)}"
                canon = None
            else:
                raw = (f"ftp://{hosts[rng.randrange(len(hosts))]}/p/{r}/{rng.randrange(10**6)}"
                       if rng.random() < 0.5 else f"mailto:user{rng.randrange(10**6)}@example.com")
                canon = None
            rows.append((raw, canon, depth))
            if canon is not None and depth <= max_depth:
                valid[canon] = True
        admitted = [u for u in valid if _sha1(u) not in seen_keys]
        per_host: dict[str, int] = {}
        for u in admitted:
            h = u.split("://", 1)[1].split("/", 1)[0]
            per_host[h] = per_host.get(h, 0) + 1
        fetch = sum(min(c, budget) for c in per_host.values())
        seen_keys.update(_sha1(u) for u in admitted)
        seen_pool.extend(admitted)
        rounds.append({
            "rows": [(raw, depth) for raw, _c, depth in rows],
            "admitted": len(admitted),
            "fetch_now": fetch,
            "deferred": len(admitted) - fetch,
        })
    return {"seen": sorted(_sha1(u) for u in seen_urls), "rounds": rounds}


class FrontierChurn:
    """Consecutive admission rounds with no fetch, against a bucketed
    ``RoundStore`` seen table preloaded past the crawl's ``bloom_min_seen``
    and a ``BloomTable`` prefilter. Each round: canonicalize + admit a fresh
    batch, assign politeness slots, commit the round (seen delta, fetch
    queue, deferred queue, bucketed-seen append), compact the seen table
    when the crawl's default threshold trips, and OR-merge the admitted keys
    into the bloom."""

    name = "frontier_churn"
    N_ROWS = 25_000
    N_SEEN = 120_000        # > CrawlConfig.bloom_min_seen (100k)
    N_HOSTS = 64
    BUDGET = 40
    MAX_DEPTH = 4
    MAX_ROUNDS = 6          # batches generated; a run uses those it needs

    def __init__(self, seed: int, work: str):
        self.seed, self.work = seed, work
        self.spark: SparkSession | None = None
        self.rnd = 0
        self.trace = False

    def generate(self) -> None:
        """Batches, preload keys and planted truth; needs no Spark session."""
        import pyarrow as pa

        self.hosts = [f"www.s{h}.example.com" for h in range(self.N_HOSTS)] + \
                     [f"h{h}.example.net" for h in range(self.N_HOSTS // 4)]
        gen = frontier_batches(self.seed, self.MAX_ROUNDS, self.N_ROWS, self.N_SEEN,
                               self.hosts, self.MAX_DEPTH, self.BUDGET)
        self.truth = gen["rounds"]
        self.paths = []
        os.makedirs(os.path.join(self.work, "frontier"), exist_ok=True)
        for r, batch in enumerate(self.truth, start=1):
            path = os.path.join(self.work, "frontier", f"batch_{r}.parquet")
            n = len(batch["rows"])
            pq.write_table(pa.table({
                "url": [u for u, _d in batch["rows"]],
                "depth": pa.array([d for _u, d in batch["rows"]], pa.int64()),
                "parent_url": [""] * n,
                "link_pos": pa.array([i % 7 for i in range(n)], pa.int64()),
                "priority": pa.array([0] * n, pa.int64()),
            }), path)
            self.paths.append(path)
        self.seen_path = os.path.join(self.work, "frontier", "seen0.parquet")
        pq.write_table(pa.table({"url_sha1": gen["seen"]}), self.seen_path)
        log("frontier: batches generated")

    def setup(self, spark: SparkSession) -> dict:
        from webcrawler_spark.operators.bloom import BloomTable
        from webcrawler_spark.plans.crawl import CrawlConfig
        from webcrawler_spark.storage import RoundStore

        self.spark = spark
        self.cfg = CrawlConfig(whitelist=WHITELIST)
        self.budgets = spark.createDataFrame(
            [(h, self.BUDGET) for h in self.hosts], "host string, budget_per_round long"
        ).persist()
        self.store = RoundStore(os.path.join(self.work, "frontier_store"))
        self.store.ensure_seen_table(spark, spark.sparkContext.defaultParallelism)
        keys = spark.read.parquet(self.seen_path)
        self.store.commit_round(
            0, {"seen_delta": keys.withColumn("first_round", F.lit(0).cast("long"))},
            extra_writes=[lambda: self.store.append_seen_bucketed(keys, 0)],
        )
        log("frontier: seen table preloaded")
        t0 = time.perf_counter()
        self.bloom = BloomTable.build(
            self.store.read_seen_bucketed(spark, upto=0), n_seen=self.N_SEEN,
            fpp=self.cfg.bloom_fpp, shard_bits=self.cfg.bloom_shard_bits,
            headroom=self.cfg.bloom_headroom,
        )
        self.bloom.bitmaps.count()
        build_s = time.perf_counter() - t0
        log(f"frontier: bloom built in {build_s:.2f}s")
        warm = self.run_op()
        log(f"frontier: warm-up round {warm.wall_s:.2f}s")
        if not warm.ok:
            raise RuntimeError(f"warm-up round failed its checks: {warm.problems}")
        return {"bloom.build_s": build_s}

    def run_op(self) -> OpResult:
        from webcrawler_spark.operators import admission, politeness

        spark, store = self.spark, self.store
        self.rnd += 1
        r = self.rnd
        if r > len(self.paths):
            raise RuntimeError("frontier batches exhausted; raise MAX_ROUNDS")
        truth = self.truth[r - 1]
        scratch: list = []
        probe: dict = {}

        def prefilter(df):
            maybe, new = self.bloom.split(df, scratch=scratch)
            probe["maybe"], probe["new"] = maybe, new
            return maybe, new

        c0 = cpu_ticks()
        t0 = time.time()
        cand = spark.read.parquet(self.paths[r - 1])
        seen = store.read_seen_bucketed(spark, upto=r - 1)
        admitted = admission.admit(
            cand, seen, WHITELIST, self.MAX_DEPTH,
            bloom_prefilter=prefilter, scratch=scratch,
        ).persist(StorageLevel.MEMORY_AND_DISK)
        fetch_now, deferred = politeness.assign_fetch_slots(admitted, self.budgets)
        manifest = store.commit_round(
            r,
            {
                "seen_delta": admitted.select(
                    "url_sha1", "url", F.lit(r).cast("long").alias("first_round")),
                "fetch_now": fetch_now.select("host", "url", "url_sha1", "depth"),
                "deferred": deferred,
            },
            extra_writes=[lambda: store.append_seen_bucketed(admitted.select("url_sha1"), r)],
        )
        if store.seen_files_per_bucket() > self.cfg.seen_compact_files_per_bucket:
            store.compact_seen_bucketed(spark, upto=r)
        self.bloom = self.bloom.merge_delta(store.read(spark, r, "seen_delta").select("url_sha1"))
        wall = time.time() - t0
        share = busy_share(c0, cpu_ticks())
        log(f"frontier: round {r} {wall:.2f}s, busy share {share:.3f}")

        res = OpResult(wall_s=wall, units=len(truth["rows"]), round_s=[wall], rounds=1,
                       busy_share=share)
        counts = manifest["counts"]
        for key in ("admitted", "fetch_now", "deferred"):
            got = counts["seen_delta" if key == "admitted" else key]
            _check(res, got == truth[key], f"round {r}: {key} {got} != planted {truth[key]}")
        seen_before = store.read_seen_bucketed(spark, upto=r - 1)
        false_neg = probe["new"].join(seen_before, "url_sha1", "left_semi").count()
        _check(res, false_neg == 0, f"round {r}: {false_neg} definitely-new bloom rows are seen")
        if self.trace:
            # bloom false positives: probably-seen rows that are not seen,
            # over all rows that are not seen
            maybe_unseen = probe["maybe"].join(seen_before, "url_sha1", "left_anti").count()
            unseen = maybe_unseen + probe["new"].count()
            res.extra["bloom.false_positive_rate"] = maybe_unseen / unseen if unseen else 0.0
        res.extra["store"] = store
        for df in scratch:
            df.unpersist()
        admitted.unpersist()
        return res


WORKLOADS = {w.name: w for w in (CrawlPolite, FrontierChurn)}
