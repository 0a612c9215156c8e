"""Per-host politeness: fetch-slot assignment with budget carry-over (NEW).

The reference's only per-host throttle is MaxIdleConnsPerHost=5
(exampes/finder/internal/client.go:22); the north_rule generalizes it to a
host-keyed priority queue with per-host budgets. Semantics:

* queue = deferred-from-last-round ∪ newly-admitted;
* per host, rank by (priority desc, depth asc, url_sha1 asc) — a
  deterministic priority queue (SURVEY §1's `priority long`: sitemap
  <priority> x100 for sitemap-discovered URLs, 0 for plain links — so a
  priority-less queue ranks by (depth, url_sha1) exactly as before); the
  first `budget` rows fetch this round, the rest defer with attributes
  intact (they are already in the seen set: admission, not fetch, marks
  seen — scheduler.go:574);
* hosts without a budget row are unlimited.

Scale note: a plain `row_number() OVER (PARTITION BY host)` puts the entire
hot host in one task. Since only the top-B per host is needed and B is
small, `ranked()` uses a salted two-phase top-k: local rank within
(host, salt) keeps ≤B rows per salt bucket, then the global rank runs over
at most B×S rows per host. S defaults off for small inputs. The phase-1
bound is each host's own budget (budgets are joined before the rank), and
both halves of a split are filters over one checkpoint of the tagged queue.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

UNLIMITED = 1 << 31


def ranked(queue: DataFrame, salt_buckets: int | None = None,
           max_budget: int | Column | None = None) -> DataFrame:
    """Add `slot_rank` = deterministic per-host priority-queue position.

    Ranks by (priority desc, depth asc, url_sha1 asc) when the queue
    carries a `priority` column, (depth, url_sha1) otherwise — budget
    slots go to the highest-priority URLs first, shallowest as tiebreak.
    Salted phase 1 keeps `max_budget` (an int or a per-row Column) rows."""
    order = [F.col("depth").asc(), F.col("url_sha1").asc()]
    if "priority" in queue.columns:
        order = [F.col("priority").desc()] + order
    if salt_buckets and max_budget is not None:
        # phase 1: top max_budget per (host, salt) — shrinks hot hosts from
        # |host| rows to ≤ max_budget × salt_buckets before the global rank.
        # The losers are the same tagged frame's rows past max_budget: each
        # row lands on exactly one side, with no join back on url_sha1
        w_local = Window.partitionBy("host", "_salt").orderBy(*order)
        tagged = queue.withColumn(
            "_salt", F.pmod(F.xxhash64("url_sha1"), F.lit(salt_buckets))
        ).withColumn("_lr", F.row_number().over(w_local))
        survivors = tagged.filter(F.col("_lr") <= max_budget).drop("_salt", "_lr")
        losers = tagged.filter(F.col("_lr") > max_budget).drop("_salt", "_lr")
        w_global = Window.partitionBy("host").orderBy(*order)
        top = survivors.withColumn("slot_rank", F.row_number().over(w_global))
        # losers can never be within budget: give them rank past any budget
        rest = losers.withColumn("slot_rank", F.lit(UNLIMITED))
        return top.unionByName(rest)
    w = Window.partitionBy("host").orderBy(*order)
    return queue.withColumn("slot_rank", F.row_number().over(w))


def assign_fetch_slots(
    queue: DataFrame,
    budgets: DataFrame | None,
    salt_buckets: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Split the queue into (fetch_now, deferred) by per-host budget.

    budgets: (host, budget_per_round) small dim table — broadcast join;
    None fetches the whole queue. Both halves keep the queue's columns.
    """
    if budgets is None:
        tagged = queue.withColumn("_fetch", F.lit(True))
    else:
        r = ranked(
            queue.join(
                F.broadcast(budgets.select(
                    "host", F.col("budget_per_round").alias("_budget"))),
                on="host", how="left",
            ),
            salt_buckets=salt_buckets,
            max_budget=F.coalesce(F.col("_budget"), F.lit(0)),
        )
        tagged = r.select(*queue.columns, (
            F.col("slot_rank") <= F.coalesce(F.col("_budget"), F.lit(UNLIMITED))
        ).alias("_fetch"))
    tagged = tagged.localCheckpoint()
    return (tagged.filter(F.col("_fetch")).drop("_fetch"),
            tagged.filter(~F.col("_fetch")).drop("_fetch"))
