"""spark-submit entry point for the crawl engine (north_rule: "runs via
spark-submit --py-files on a multi-executor cluster").

Usage:
    spark-submit --py-files webcrawler_spark.zip jobs/crawl_round.py \
        --pages PATH --seeds PATH [--robots PATH] \
        [--robots-bodies PATH | --robots-from-pages] [--round-seconds 60] \
        --checkpoint DIR [--whitelist d1,d2] [--max-depth 3] \
        [--max-rounds 20] [--max-fetch-retries 0] [--seen-buckets N]

The checkpoint dir is the crawl's state (per-round atomic manifests):
re-submitting the same command continues the crawl from its last committed
round, so a killed job, or a cluster's automatic retry of a failed
submission, picks up exactly where it stopped, and a finished checkpoint
is left as it is. A new crawl needs a fresh or empty --checkpoint
directory. On a real cluster nothing changes except --master and the
executor/memory flags; the plan shapes (broadcast dims, url_sha1-keyed
shuffles, salted politeness ranking) were chosen for that case; the crawl
picks the bloom prefilter and the salting from the sizes it measures.
The session takes the launcher's conf as given and fills in each of the
engine's session defaults (``webcrawler_spark.session.ENGINE_DEFAULTS``:
AQE, the Arrow batch cap, the codegen cache size, no Python call-site
capture) that it leaves unset, so a ``--conf`` overrides any of them.
"""

from __future__ import annotations

import argparse
import json


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--pages", required=True)
    ap.add_argument("--seeds", required=True)
    ap.add_argument("--robots", default=None)
    ap.add_argument("--robots-bodies", default=None,
                    help="parquet of raw (host, body) robots.txt rows: "
                         "derives admission rules, Crawl-delay budgets and "
                         "the Sitemap: frontier bootstrap")
    ap.add_argument("--robots-from-pages", action="store_true",
                    dest="pages_robots",
                    help="self-configure from the pages table's own "
                         "scheme://host/robots.txt rows (no side channel; "
                         "--robots-bodies wins)")
    ap.add_argument("--round-seconds", type=float, default=60.0,
                    help="polite wall-clock one round models (Crawl-delay "
                         "d => floor(round_seconds/d) fetch slots)")
    ap.add_argument("--checkpoint", required=True,
                    help="the crawl's state: a directory with commits is "
                         "continued; a new crawl needs a fresh one")
    ap.add_argument("--whitelist", default=None,
                    help="comma-separated primary domains; default: fixtures.WHITELIST")
    ap.add_argument("--max-depth", type=int, default=3)
    ap.add_argument("--max-rounds", type=int, default=20)
    ap.add_argument("--max-fetch-retries", type=int, default=0)
    ap.add_argument("--seen-buckets", type=int, default=None,
                    help="bucket count for the seen table (pinned at store "
                         "creation; default = defaultParallelism — pick "
                         "~fleet cores at 10^10 URLs)")
    args = ap.parse_args()

    from webcrawler_spark import fixtures
    from webcrawler_spark.plans.crawl import (
        CrawlConfig,
        robots_bodies_from_pages,
        run_crawl,
    )
    from webcrawler_spark.session import submitted_spark

    spark = submitted_spark("webcrawler-spark-crawl")

    pages = spark.read.parquet(args.pages)
    seeds = spark.read.parquet(args.seeds)
    budgets = robots = None
    robots_bodies = None
    if args.robots_bodies:
        robots_bodies = spark.read.parquet(args.robots_bodies)
    elif args.pages_robots:
        robots_bodies = robots_bodies_from_pages(pages)
    if args.robots:
        robots_df = spark.read.parquet(args.robots)
        budgets = robots_df.select("host", "budget_per_round")
        # prefer the full Allow+Disallow rules when the table carries them
        rcol = "rules" if "rules" in robots_df.columns else "disallow_prefixes"
        robots = robots_df.select("host", rcol)

    whitelist = args.whitelist.split(",") if args.whitelist else fixtures.WHITELIST
    cfg = CrawlConfig(
        whitelist=whitelist,
        max_depth=args.max_depth,
        max_rounds=args.max_rounds,
        max_fetch_retries=args.max_fetch_retries,
        seen_buckets=args.seen_buckets,
        round_seconds=args.round_seconds,
    )
    result = run_crawl(
        spark, pages, seeds, cfg, checkpoint_dir=args.checkpoint,
        budgets=budgets, robots=robots, robots_bodies=robots_bodies,
    )
    print(json.dumps({"rounds": result.rounds, "metrics": result.metrics}))
    spark.stop()


if __name__ == "__main__":
    main()
