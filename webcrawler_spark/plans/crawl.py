"""The batch-iterative crawl loop — one Spark DAG per round.

Round algebra (the reference's download/analyze/pick stage loops,
scheduler/scheduler.go:353-524, collapsed into declarative DataFrame ops):

    candidates_r --canonicalize+sha1--> admission filters (native exprs)
      --in-round dedup (min-struct agg)--> anti-join(seen) [bloom prefilt]
      --> admitted  ==> seen_delta (admission marks seen, scheduler.go:574)
    queue = deferred_{r-1} ∪ admitted
      --politeness slot window--> fetch_now | deferred_r
    fetch_now --left join pages (the web)--> fetched
      --content gates--> html pages --parse pandas UDF--> items + links
    links --posexplode, depth+1 (analyzer.go:127)--> candidates_{r+1}

Everything between the two shuffles (dedup anti-join, fetch join) is native
and codegen'd; Python appears exactly once per round (the Arrow-batched
parse UDF). Dedup runs BEFORE the fetch join — the reference's
dedup-before-fetch invariant (never fetch a URL twice) and also the cheap
side of the plan: at 10^10-frontier scale the anti-join prunes the fetch
join's probe side.

Every round commits atomically through RoundStore (frontier, seen delta,
items, errors, per-partition lineage, metrics), with one manifest write.
The frames the commit reads (admitted, fetch_now | deferred_r, fetched,
the parse) are eager localCheckpoints taken where each is built (the two
politeness halves share one), so the commit's concurrent writers read
materialized blocks and no dataset reads the seen table the commit
inserts into; they are released when the round ends. Checkpoint blocks
live only on the executors: a lost executor fails the round instead of
recomputing them, and the re-submitted call continues from the last
commit (the bloom's merged bitmaps already work this way).
Every round after the first starts from the previous round's manifest and
committed datasets alone (the round prologue: read the carry-over, compact
the seen table, maintain the bloom, decide salting and whether to stop).
The checkpoint is the crawl: every call continues at the round after the
last manifest, so a killed job re-submitted unchanged resumes through the
same code path a continuing crawl takes.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import ClassVar

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions import urls as U
from ..functions.html import JCUX_SCHEMA, parse_html_udf
from ..operators import admission
from ..operators.bloom import BloomTable
from ..operators.politeness import assign_fetch_slots
from ..session import release
from ..sources.robots import (
    budgets_from_crawl_delay, crawl_delays, parse_robots, robots_sitemaps,
)
from ..sources.sitemap import is_sitemap_root, parse_sitemaps, priority_units
from ..storage import RoundStore

# queue rows = admitted candidate columns + fetch-attempt counter (retry
# support), in the committed deferred/retry datasets' column order
QUEUE_COLUMNS = ["url", "url_sha1", "host", "path", "depth", "parent_url",
                 "link_pos", "priority", "attempts"]

# frontier priority units (SURVEY §1 `priority long`): plain links rank 0,
# sitemap-discovered URLs carry their <priority> x PRIORITY_SCALE (0-100),
# sitemap FETCHES (robots pointers + index children) rank above everything —
# discovering a 50k-URL sitemap beats fetching any single page
SITEMAP_PRIORITY = 2 * 100  # 2 x sitemap.PRIORITY_SCALE (> any <priority>)
# link_pos for sitemap-discovered candidates: a distinct space above any
# in-page link position
SITEMAP_LINK_POS = 1 << 29

# bloom prefilter gate: below this many seen keys the exact anti-join is
# cheaper than building a bloom
BLOOM_MIN_SEEN = 100_000
# salting trigger: the previous round's queue had one host above this share
# of its rows AND above HOT_HOST_MIN_ROWS rows (salting costs 3 plan
# branches, a net loss when the single-host window task is small)
HOT_HOST_SHARE = 0.05
HOT_HOST_MIN_ROWS = 100_000


@dataclass
class CrawlConfig:
    whitelist: list[str]
    max_depth: int = 3
    max_rounds: int = 20
    parsers: str = "combined"            # "generic" | "bm1365" | "combined"
    max_fetch_retries: int = 0           # re-enqueue fetch misses AND
    # parse failures up to N times in later rounds, mirroring the
    # reference's symmetric re-SendReq for download failures
    # (scheduler.go:386) and analyze failures (scheduler.go:394).
    # 0 = reference-faithful-in-effect: a retried request is already in
    # the seen set, so the reference's re-SendReq is dropped by the
    # urlMap filter (scheduler.go:551-554). In the pages-table world a
    # parse failure is deterministic (same bytes every attempt) so its
    # retries always exhaust; live fetches make them transient — the
    # counter-gated plumbing is identical for both.
    # bloom prefilter sizing (gated on BLOOM_MIN_SEEN): constants, not
    # fields, so CrawlConfig(bloom_fpp=...) is a TypeError
    bloom_fpp: ClassVar[float] = 0.01    # target false-positive rate
    bloom_shard_bits: ClassVar[int | None] = None  # None = auto-size from
    # n_seen (each shard bitmap <= 16 MB)
    bloom_headroom: ClassVar[float] = 4.0  # over-size the bloom by this
    # factor so per-round maintenance is an OR-merge of the seen DELTA only;
    # the full build re-runs only when n_seen outgrows the sized capacity —
    # geometric steps, so amortized O(1) work per key over the crawl life
    seen_buckets: int | None = None      # bucket count of the seen table
    # (RoundStore.ensure_seen_table), pinned at store creation
    # (None = defaultParallelism); pick ~fleet-cores at 10^10
    seen_compact_files_per_bucket: ClassVar[int] = 16  # compact the
    # bucketed seen table (one-file-per-bucket rewrite, committed rounds
    # only) when the per-round inserts have stacked more than this many
    # files per bucket. The trigger probe is a directory listing, the
    # rewrite one bucket-preserving shuffle of the table — amortized over
    # the threshold's worth of rounds
    max_admissions_per_host: int | None = None  # crawl-trap guard: bound
    # admitted URLs per host per round; overflow is marked SEEN but never
    # queued (drop-forever — politeness only PACES fetches, it cannot stop
    # a trap host from growing the frontier without bound) and surfaces as
    # error rows (stage='admission', message='host_cap'). None = off.
    round_seconds: float = 60.0          # polite wall-clock a round models;
    # with robots_bodies, hosts declaring `Crawl-delay: d` default to
    # budget_per_round = max(1, floor(round_seconds / d)) unless the caller's
    # explicit budgets table already names the host (explicit wins)


@dataclass
class CrawlResult:
    """A view over the crawl's checkpoint: ``rounds``, ``metrics`` and
    the datasets are read back from what the store has committed."""

    store: RoundStore

    @property
    def rounds(self) -> int:
        """Committed rounds (0..last)."""
        last = self.store.last_committed()
        return 0 if last is None else last + 1

    @property
    def metrics(self) -> list[dict]:
        """Per-round stats, read back from the committed manifests: what
        each round knew when it started, plus the row counts its commit
        observed."""
        out = []
        for rnd in range(self.rounds):
            m = self.store.manifest(rnd)
            c = m["counts"]
            out.append({
                **m["stats"], "admitted": c["seen_delta"], "fetched": c["order"],
                "items": c["items"], "errors": c["errors"],
                "deferred": c["deferred"], "retried": c["retry"],
            })
        return out

    def order(self, spark: SparkSession) -> DataFrame | None:
        return self.store.read_all(spark, "order")

    def seen(self, spark: SparkSession) -> DataFrame | None:
        return self.store.read_all(spark, "seen_delta")

    def items(self, spark: SparkSession) -> DataFrame | None:
        return self.store.read_all(spark, "items")

    def errors(self, spark: SparkSession) -> DataFrame | None:
        return self.store.read_all(spark, "errors")


def seeds_to_candidates(seeds: DataFrame) -> DataFrame:
    """Seed list -> raw round-0 candidates (InitReqList analog,
    exampes/finder/bm1365Model/JcUx.go:47-85: every seed enters SendReq at
    depth 0). Seeds from sitemap_seeds carry a `priority` column (integer
    frontier units) which threads into the queue; plain seed lists get 0."""
    prio = (
        F.col("priority").cast("long")
        if "priority" in seeds.columns
        else F.lit(0).cast("long")
    )
    return seeds.select(
        F.col("url").cast("string").alias("url"),
        F.lit(0).cast("long").alias("depth"),
        F.lit("").alias("parent_url"),
        F.col("order").cast("long").alias("link_pos"),
        prio.alias("priority"),
    )


def robots_bodies_from_pages(pages: DataFrame) -> DataFrame:
    """Extract (host, body) robots.txt rows from the pages table itself —
    a 100-TB WARC-derived corpus carries each host's robots.txt as just
    another fetched row at ``scheme://host/robots.txt``, so a crawl over
    that corpus can self-configure (rules, Crawl-delay budgets, Sitemap
    pointers) with ONE column-pruned scan instead of a side channel.

    The filter is an exact path match (url == scheme://host + "/robots.txt"
    — RFC 9309 §2.3: the file lives ONLY at the path-root), expressed as
    byte scans (endswith + a length check against the host window) so the
    scan stays a pushdown-friendly codegen'd projection. Bodies decode as
    UTF-8 with replacement (undecodable bytes become U+FFFD line noise the
    field parser ignores — never a task failure).

    One body per host: a host serving robots.txt under both schemes keeps
    the https body, then the smallest url. parse_robots orders each host's
    lines by their position in the file, so two bodies for one host would
    interleave in task order."""
    url = F.col("url")
    rest = U.url_rest_canonical(url)  # host[/path...]
    is_robots = url.endswith("/robots.txt") & (
        F.length(rest)
        == F.length(F.substring_index(rest, "/", 1))
        + F.length(F.lit("/robots.txt"))
    )
    return (
        pages.select("url", "html")
        .filter(is_robots)
        .groupBy(U.url_host_canonical(url).alias("host"))
        .agg(
            F.min_by(
                F.decode(F.col("html"), "UTF-8"),
                F.struct(~url.startswith("https://"), url),
            ).alias("body")
        )
    )


def sitemap_pointer_candidates(robots_bodies: DataFrame) -> DataFrame:
    """robots.txt bodies -> raw round-0 candidates for their ``Sitemap:``
    pointers (RFC 9309 §2.3) — the discovery bootstrap real crawls start
    from: robots -> sitemapindex -> urlset -> frontier. Pointers enter
    admission like any URL (whitelist/robots/depth/dedup all apply) at
    depth 0 with SITEMAP_PRIORITY, so politeness fetches them before any
    page. link_pos is the constant SITEMAP_LINK_POS: pointer rows need no
    within-parent order, and duplicates (two hosts naming one sitemap)
    tie on the struct-min winner's metadata — deterministic without a
    global rank."""
    return robots_sitemaps(robots_bodies).select(
        F.col("sitemap_url").alias("url"),
        F.lit(0).cast("long").alias("depth"),
        F.lit("").alias("parent_url"),
        F.lit(SITEMAP_LINK_POS).cast("long").alias("link_pos"),
        F.lit(SITEMAP_PRIORITY).cast("long").alias("priority"),
    )


def _items_schema_img(fetched: DataFrame, rnd: int) -> DataFrame:
    """parseImg items (bmParser.go:126-156) + savePicture enrichment
    (bmProcessor.go:56-61): name, format, size — all native expressions.
    `payload` carries the actual image bytes: the reference's savePicture
    persists the file content itself (bmProcessor.go:39-50), so the item
    sink is self-contained — consumers never re-join pages for the blob.
    The bytes stay columnar (parquet binary) end-to-end; the ordered
    export keeps only the metadata columns (artifact size)."""
    ct = F.col("content_type")
    return (
        fetched.filter((F.col("status") == 200) & ct.startswith("image"))
        .filter(U.image_format(ct) != "")
        .select(
            F.lit(rnd).alias("round"),
            F.col("url"),
            F.lit("img").alias("kind"),
            U.url_basename(U.url_path(F.col("url"))).alias("file_name"),
            U.image_format(ct).alias("file_ext"),
            F.length("html").cast("long").alias("file_size"),
            F.lit(None).cast(JCUX_SCHEMA).alias("jcux"),
            F.col("html").alias("payload"),
        )
    )


def _hot_host(spark: SparkSession, store: RoundStore, rnd: int,
              counts: dict, deferred: DataFrame) -> bool:
    """Salting trigger for the round after ``rnd``: one host holds more
    than HOT_HOST_MIN_ROWS rows and more than HOT_HOST_SHARE of round
    ``rnd``'s committed queue (order ∪ deferred). The probe is a columnar
    scan of the committed host column, skipped when the commit's counts
    alone rule a hot host out (no host can hold more than the floor of a
    queue that small)."""
    if counts["order"] + counts["deferred"] <= HOT_HOST_MIN_ROWS:
        return False
    top = (
        store.read(spark, rnd, "order").select("host")
        .unionByName(deferred.select("host"))
        .groupBy("host").count()
        .agg(F.max("count").alias("mx"), F.sum("count").alias("total"))
        .first()
    )
    return top["mx"] > HOT_HOST_MIN_ROWS and top["mx"] / top["total"] > HOT_HOST_SHARE


def run_crawl(
    spark: SparkSession,
    pages: DataFrame,
    seeds: DataFrame,
    cfg: CrawlConfig,
    checkpoint_dir: str,
    budgets: DataFrame | None = None,
    robots: DataFrame | None = None,
    robots_bodies: DataFrame | None = None,
) -> CrawlResult:
    """See module docstring. ``checkpoint_dir`` is the crawl's state, and
    it alone decides where a call starts: a call over a store with commits
    continues from the round after the last committed one (the same call
    re-submitted after a kill resumes the crawl), a call over a finished
    store returns it unchanged, and a new crawl needs a fresh or empty
    directory. A round holds its frames as local checkpoints (see the
    module docstring), so a lost executor fails the call; re-submitting
    it continues from the last commit.

    ``robots_bodies`` is the raw-robots.txt entry
    point ((host, body) rows): when given, the crawl derives everything a
    robots file feeds — admission rules (parse_robots, unless an explicit
    ``robots`` table overrides), default per-host politeness budgets from
    ``Crawl-delay`` (explicit ``budgets`` rows win per host), and round-0
    frontier candidates for every ``Sitemap:`` pointer. Fetched sitemap
    bodies (content-type application/xml) are parsed per the Sitemaps
    protocol each round: index children re-enter admission as fetchable
    kind='sitemap' URLs, urlset entries as page candidates carrying their
    <priority> — the full robots -> sitemapindex -> urlset -> pages
    discovery chain, closed inside the round DAG."""
    store = RoundStore(checkpoint_dir)
    result = CrawlResult(store=store)
    last = store.last_committed()
    if last is not None:
        if store.is_done():
            return result
        store.check_seen_table_resumable()
    store.ensure_seen_table(
        spark, cfg.seen_buckets or spark.sparkContext.defaultParallelism
    )

    held: list = []  # the crawl-long checkpoints this call makes
    if robots_bodies is not None:
        # bounded (one row per robots file): the checkpoint keeps the
        # robots scan (e.g. robots_bodies_from_pages) out of every plan
        # derived from it
        robots_bodies = robots_bodies.localCheckpoint()
        if robots is None:
            # localCheckpoint: the rules dim table is broadcast every round;
            # materializing it once keeps the per-host window parse out of
            # every round's plan (bounded: one row per restricted host)
            robots = parse_robots(robots_bodies).localCheckpoint()
            held.append(robots)
        delay_budgets = budgets_from_crawl_delay(
            crawl_delays(robots_bodies), cfg.round_seconds
        )
        if budgets is not None:
            # explicit budgets override per host; Crawl-delay fills the rest
            delay_budgets = budgets.unionByName(
                delay_budgets.join(budgets.select("host"), "host", "left_anti")
            )
        budgets = delay_budgets.localCheckpoint()
        held += [robots_bodies, budgets]

    # pages is scanned every round: url + html only (column pruning reaches
    # the parquet scan; `text`/`lang` are never read by the crawl plan)
    pages_fetch = pages.select("url", "html")

    # the bloom lives ACROSS rounds: built once from the full seen set, then
    # OR-merged with each committed seen_delta (BloomTable.merge_delta)
    bloom_table = None

    start = rnd = 0 if last is None else last + 1
    # committed seen keys of the rounds before rnd-1 (the prologue adds
    # round rnd-1's): a driver-side sum of manifest counts, no table scan
    n_seen = sum(
        store.manifest(k)["counts"]["seen_delta"] for k in range(rnd - 1)
    )
    while rnd <= cfg.max_rounds:
        # the first round this call runs injects the Sitemap: URLs
        pointers = rnd == start and robots_bodies is not None
        scratch: list = []
        prefilter = salt_buckets = None
        if rnd == 0:
            candidates = seeds_to_candidates(seeds)
            # an empty in-memory seen side: Catalyst drops the anti-join
            seen = spark.createDataFrame(
                [], T.StructType([T.StructField("url_sha1", T.StringType())])
            )
        else:
            # ---- prologue: round rnd starts from round rnd-1's manifest
            # and committed datasets alone, so a continuing crawl and a
            # resumed one run the same round
            prev = store.manifest(rnd - 1)["counts"]
            # stop when nothing is left to admit, fetch or retry; a round
            # that injects Sitemap: pointers still runs
            if (
                not pointers
                and prev["next_candidates"] == prev["deferred"] == prev["retry"] == 0
            ):
                break
            candidates = store.read(spark, rnd - 1, "next_candidates")
            deferred = store.read(spark, rnd - 1, "deferred")
            retry = store.read(spark, rnd - 1, "retry")
            if store.seen_files_per_bucket() > cfg.seen_compact_files_per_bucket:
                store.compact_seen_bucketed(spark, upto=rnd - 1)
            seen = store.read_seen_bucketed(spark, upto=rnd - 1)
            n_seen += prev["seen_delta"]
            if n_seen >= BLOOM_MIN_SEEN:
                if bloom_table is None or n_seen * 1.2 > bloom_table.capacity_keys:
                    # first use, or seen outgrew the sized capacity (fpp
                    # would degrade): build ONCE at the next headroom step
                    if bloom_table is not None:
                        release(bloom_table.bitmaps)
                    bloom_table = BloomTable.build(
                        seen, n_seen=n_seen,
                        fpp=cfg.bloom_fpp, shard_bits=cfg.bloom_shard_bits,
                        headroom=cfg.bloom_headroom,
                    )
                elif prev["seen_delta"] > 0:
                    # fold ONLY the previous round's committed delta into
                    # the bitmaps (cost ~ |delta| + filter size)
                    bloom_table = bloom_table.merge_delta(
                        store.read(spark, rnd - 1, "seen_delta").select("url_sha1")
                    )
                prefilter = (
                    lambda d, _bt=bloom_table: _bt.split(d, scratch=scratch)
                )
            if budgets is not None and _hot_host(spark, store, rnd - 1, prev,
                                                 deferred):
                salt_buckets = spark.sparkContext.defaultParallelism
        if pointers:
            # Sitemap: pointers bootstrap the frontier alongside the seeds.
            # On a continued crawl too: one started without robots_bodies
            # never admitted them, and the seen anti-join drops the ones
            # already admitted
            candidates = candidates.unionByName(
                sitemap_pointer_candidates(robots_bodies)
            )
        observed = Observation()
        candidates = candidates.observe(observed, F.count(F.lit(1)).alias("rows"))

        # each fixed point is checkpointed (one job, in this thread) where
        # it is built; all per-round counts come from observe() metrics:
        # the candidates stat from admitted's checkpoint, the rest captured
        # during the commit writes (see RoundStore.commit_round)
        admitted = admission.admit(
            candidates, seen, cfg.whitelist, cfg.max_depth,
            robots=robots, bloom_prefilter=prefilter, scratch=scratch,
        ).localCheckpoint()
        # AQE drops the observed scan from the final plan when it learns
        # early that nothing is admissible (no whitelisted host, say): the
        # observation then holds no row (``Observation.get`` fails on it),
        # and only then is the count a job of its own
        n_candidates = observed._jo.getAsJava().get("rows")
        if n_candidates is None:
            n_candidates = candidates.count()

        # crawl-trap guard: overflow beyond the per-host cap is marked SEEN
        # (below: seen_delta uses the FULL admitted set, so trap URLs are
        # never re-admitted) but never queued; recorded as error rows
        queue_src, capped_errors = admitted, None
        if cfg.max_admissions_per_host:
            queue_src, overflow = admission.cap_per_host(
                admitted, cfg.max_admissions_per_host
            )
            capped_errors = overflow.select(
                F.lit(rnd).cast("long").alias("round"),
                "url",
                F.lit("admission").alias("stage"),
                F.lit("host_cap").alias("message"),
            )

        queue = queue_src.select(
            *QUEUE_COLUMNS[:-1], F.lit(0).cast("long").alias("attempts")
        )
        if rnd > 0:
            queue = deferred.unionByName(queue).unionByName(retry)

        seen_delta = admitted.select(
            "url_sha1", "url", F.lit(rnd).cast("long").alias("first_round")
        )

        fetch_now, deferred_next = assign_fetch_slots(
            queue, budgets, salt_buckets=salt_buckets
        )

        order = fetch_now.select(
            F.lit(rnd).cast("long").alias("round"), "host", "url", "url_sha1"
        )

        # ---- fetch: the frontier⋈pages join (downloader.go:37-56 analog).
        # Left join keeps misses (the 404/non-200 error path).
        fetched = (
            fetch_now.join(pages_fetch, on="url", how="left")
            .withColumn("content_type", U.content_type_for(F.col("url")))
            .withColumn(
                "status",
                F.when(F.col("html").isNotNull(), F.lit(200)).otherwise(F.lit(404)),
            )
            .localCheckpoint()
        )

        items_img = _items_schema_img(fetched, rnd)

        html_pages = fetched.filter(
            (F.col("status") == 200) & F.col("content_type").startswith("text/html")
        ).select(*QUEUE_COLUMNS, "html")

        # widen the parse stage: AQE coalesces the fetch-join output by
        # BYTES, but HTML parsing is per-ROW cpu — small pages would leave
        # most cores idle
        html_pages = html_pages.repartition(spark.sparkContext.defaultParallelism)

        parsed_all = html_pages.withColumn(
            "p", parse_html_udf(F.col("html"), F.col("url"))
        ).select(*QUEUE_COLUMNS, "p").localCheckpoint()

        # the round's failures, one queue row each: fetch misses (the
        # 404/non-200 path) and row-level parse failures (no items/links;
        # the task itself never fails on one page). A URL is fetched at
        # most once per round, so the two parts are disjoint
        failed = fetched.filter(F.col("status") != 200).select(
            *QUEUE_COLUMNS,
            F.lit("fetch").alias("stage"),
            F.lit("fetch_miss").alias("message"),
        ).unionByName(
            parsed_all.filter(F.col("p.error").isNotNull()).select(
                *QUEUE_COLUMNS,
                F.lit("parse").alias("stage"),
                F.col("p.error").alias("message"),
            )
        )
        errors = failed.select(
            F.lit(rnd).cast("long").alias("round"), "url", "stage", "message"
        )
        if capped_errors is not None:
            errors = errors.unionByName(capped_errors)
        # counter-gated re-enqueue of both kinds (download and analyze
        # failures, scheduler.go:386,394). Retried URLs are already seen,
        # so they bypass admission — matching scheduler.go:574 timing
        retry_next = failed.filter(
            F.col("attempts") < F.lit(cfg.max_fetch_retries)
        ).select(*QUEUE_COLUMNS[:-1], (F.col("attempts") + 1).alias("attempts"))
        parsed = parsed_all.filter(F.col("p.error").isNull())

        if cfg.parsers == "bm1365":
            out_links = F.col("p.scoped_img_links")
        elif cfg.parsers == "generic":
            out_links = F.concat(F.col("p.links"), F.col("p.img_links"))
        else:  # combined: analyzer parser-list concat order (analyzer.go:92-111)
            out_links = F.concat(
                F.col("p.scoped_img_links"), F.col("p.links"), F.col("p.img_links")
            )

        if cfg.parsers in ("bm1365", "combined"):
            items_bm = parsed.select(
                F.lit(rnd).cast("long").alias("round"),
                F.col("url"),
                F.lit("bm").alias("kind"),
                F.lit("").alias("file_name"),
                F.lit("").alias("file_ext"),
                F.lit(0).cast("long").alias("file_size"),
                F.col("p.jcux").alias("jcux"),
                F.lit(None).cast("binary").alias("payload"),
            )
            items = items_bm.unionByName(items_img)
        else:
            items = items_img

        next_candidates = parsed.select(
            F.col("url").alias("parent_url"),
            (F.col("depth") + 1).cast("long").alias("depth"),  # analyzer.go:127
            F.posexplode(out_links).alias("link_pos", "url"),
        ).select(
            "url", "depth", "parent_url", F.col("link_pos").cast("long"),
            F.lit(0).cast("long").alias("priority"),
        )

        # ---- sitemap bodies (Sitemaps protocol): index children re-enter
        # admission as fetchable URLs, urlset entries as page candidates
        # carrying their <priority>. Per-body projection (regex once per
        # sitemap FILE); a crawl with no xml fetches pays an empty branch.
        # Only a <urlset>/<sitemapindex> root is a sitemap: other XML
        # (feeds) yields no candidates.
        xml_pages = fetched.filter(
            (F.col("status") == 200)
            & (F.col("content_type") == "application/xml")
        ).select(
            F.col("url").alias("_parent"),
            F.col("depth").alias("_pdepth"),
            "host",
            F.decode(F.col("html"), "UTF-8").alias("body"),
        ).filter(is_sitemap_root(F.col("body")))
        sm = parse_sitemaps(xml_pages, carry_cols=("_parent", "_pdepth"))
        sm_children = sm.select(
            F.col("loc").alias("url"),
            (F.col("_pdepth") + 1).cast("long").alias("depth"),
            F.col("_parent").alias("parent_url"),
            F.when(
                F.col("kind") == "sitemap",
                F.lit(SITEMAP_LINK_POS) + F.col("pos"),
            ).otherwise(F.col("pos")).cast("long").alias("link_pos"),
            F.when(
                F.col("kind") == "sitemap", F.lit(SITEMAP_PRIORITY).cast("long")
            ).otherwise(priority_units(F.col("priority"))).alias("priority"),
        )
        next_candidates = next_candidates.unionByName(sm_children)

        # per-partition lineage: which partitions produced how many fetched
        # rows this round (north_rule: per-partition lineage + metrics)
        lineage = fetched.groupBy(F.spark_partition_id().alias("partition_id")).agg(
            F.count("*").alias("rows"),
            F.sum(F.when(F.col("status") == 200, 1).otherwise(0)).alias("fetched_ok"),
        ).withColumn("round", F.lit(rnd).cast("long"))

        # the manifest is written once, at the commit: stats hold only what
        # the round knew when it started; CrawlResult.metrics adds the row
        # counts the commit observed
        stats = {
            "round": rnd,
            "candidates": n_candidates,
            "salted": bool(salt_buckets),
        }
        store.commit_round(
            rnd,
            {
                "seen_delta": seen_delta,
                "order": order,
                "items": items,
                "errors": errors,
                "lineage": lineage,
                "next_candidates": next_candidates,
                "deferred": deferred_next,
                "retry": retry_next,
            },
            stats=stats,
            # committed with the round (before the manifest rename): a
            # manifest implies the keys are in the table; orphans from a
            # crashed attempt carry this round number and stay invisible
            # until the round actually commits (reads filter round <= K)
            extra_writes=[
                lambda: store.append_seen_bucketed(admitted.select("url_sha1"), rnd)
            ],
        )

        for df in (*scratch, admitted, fetch_now, deferred_next, fetched,
                   parsed_all):
            release(df)
        rnd += 1

    if bloom_table is not None:
        release(bloom_table.bitmaps)
    for df in held:
        release(df)
    last = store.last_committed()
    if last is not None:
        export_items(spark, store)
        store.mark_done(last)
    return result


def export_items(spark: SparkSession, store: RoundStore) -> str | None:
    """End-of-crawl ordered export: ONE artifact of the items union,
    ORDER BY round, url — the Excel sink's insertion-order file
    (JcUx.go:117-148 via bmProcessor.go:83-89; the reference's insertion
    order is our deterministic (round, url)). Img items gain the
    `file_path` enrichment of bmProcessor.go:56-61 (relative
    pictures/<name>; the columnar payload replaces the per-file OS write).
    (round, url) is unique — a URL is fetched at most once — so the sort,
    and therefore the artifact, is byte-stable across resumed runs."""
    items = store.read_all(spark, "items")
    if items is None:
        return None
    # metadata-only artifact: the payload blobs live in the items table
    # itself; carrying them into the single ordered file would bloat it
    if "payload" in items.columns:
        items = items.drop("payload")
    enriched = items.withColumn(
        "file_path",
        F.when(
            F.col("kind") == "img",
            F.concat(F.lit("pictures/"), F.col("file_name")),
        ).otherwise(F.lit(None).cast("string")),
    )
    return store.write_export(enriched.orderBy("round", "url"))
