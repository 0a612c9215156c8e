"""Synthetic-frontier throughput workload — the north-rule metric driver.

Builds a deterministic frontier of N candidate URLs with ``spark.range``
(no I/O, so the measurement isolates engine work), then runs the full
admission hot path exactly as a crawl round does (plans/crawl.py):

    canonicalize (Arrow pandas UDF) → md5/host/path derivation →
    scheme/whitelist/depth filters → in-round dedup (min-struct agg) →
    anti-join vs a seen set of N/4 hashes → per-host politeness ranking →
    budget split

Reports frontier-URLs-processed/sec = N / wall. The same function runs at
``local[8]`` and ``local[32]`` for the N→4N-cores scaling-efficiency
evidence (tools/scaling_bench.py).

Runnable standalone (spark-submit --py-files compatible):
    spark-submit --py-files webcrawler_spark.zip jobs/frontier_bench.py [N]
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from webcrawler_spark.operators import admission

WHITELIST = ["example.com", "example.com.cn", "example.net"]


def synth_candidates(spark: SparkSession, n: int, partitions: int) -> DataFrame:
    """Deterministic raw candidates: ~60% clean, ~15% needing canonical
    work (uppercase host / default port / dot-segments / fragments), ~10%
    off-whitelist, ~5% bad scheme, ~10% duplicates of earlier URLs."""
    df = spark.range(0, n, 1, partitions)
    i = F.col("id")
    base_key = F.when(i % 10 == 9, (i / 2).cast("long")).otherwise(i)  # dups
    host = (
        F.when(i % 20 == 17, F.lit("evil.offsite.biz"))
        .when(i % 20 == 18, F.concat(F.lit("h"), (base_key % 97).cast("string"), F.lit(".example.net")))
        .otherwise(
            F.concat(F.lit("www.s"), (base_key % 211).cast("string"), F.lit(".example.com"))
        )
    )
    scheme = F.when(i % 20 == 19, F.lit("ftp")).otherwise(
        F.when(i % 2 == 0, F.lit("http")).otherwise(F.lit("https"))
    )
    path = F.concat(F.lit("/p/"), (base_key % 1000).cast("string"), F.lit("/"), base_key.cast("string"))
    url = F.concat(scheme, F.lit("://"), host, path)
    # canonicalization work: vary the surface form, same canonical target
    url = (
        F.when(i % 8 == 3, F.concat(scheme, F.lit("://"), F.upper(host), path))
        .when(i % 8 == 5, F.concat(scheme, F.lit("://"), host, F.lit(":80"), path))
        .when(i % 8 == 6, F.concat(url, F.lit("#frag")))
        .when(i % 8 == 7, F.concat(scheme, F.lit("://"), host, F.lit("/a/../"), F.substring(path, 2, 10000)))
        .otherwise(url)
    )
    return df.select(
        url.alias("url"),
        (i % 6).cast("long").alias("depth"),
        F.lit("").alias("parent_url"),
        (i % 7).cast("long").alias("link_pos"),
    )


def synth_seen(spark: SparkSession, n: int, partitions: int) -> DataFrame:
    """Seen set: the md5 of every 4th clean URL (hash-only table, like the
    real seen store)."""
    cand = synth_candidates(spark, n, partitions)
    return cand.filter(F.crc32(F.col("url")) % 4 == 0).select(
        F.md5(F.col("url")).alias("url_sha1")
    ).distinct()


def run_frontier_workload(
    spark: SparkSession, n: int = 1_000_000, partitions: int | None = None,
    max_depth: int = 4, budget: int = 50, workdir: str | None = None,
) -> dict:
    """One full admission+politeness round over N synthetic frontier URLs.

    Setup (untimed) writes the candidate + seen tables to parquet — a real
    round reads its frontier from storage, and this also keeps the
    synthesizer's big CASE expressions out of the measured plan. The timed
    section is exactly the round hot path: parquet scan → canonicalize
    (native fast path + Arrow UDF for the rest) → admission filters →
    in-round dedup agg → seen anti-join → politeness window → budget
    split, all forced by ONE action (a tagged aggregate over the ranked
    queue, so nothing runs twice).

    Returns {"n": N, "admitted": ..., "fetch_now": ..., "wall_s": ...,
    "urls_per_sec": ...}.
    """
    import shutil
    import tempfile

    from webcrawler_spark.operators.politeness import UNLIMITED, ranked

    if partitions is None:
        partitions = spark.sparkContext.defaultParallelism * 2
    own_workdir = workdir is None
    if own_workdir:
        workdir = tempfile.mkdtemp(prefix="frontier_bench_")
    try:
        cand_path = f"{workdir}/candidates"
        seen_path = f"{workdir}/seen"
        synth_candidates(spark, n, partitions).write.mode("overwrite").parquet(cand_path)
        synth_seen(spark, n, partitions).write.mode("overwrite").parquet(seen_path)

        budgets = (
            spark.range(0, 211)
            .select(
                F.concat(F.lit("www.s"), F.col("id").cast("string"),
                         F.lit(".example.com")).alias("host"),
                F.lit(budget).alias("budget_per_round"),
            )
        )

        t0 = time.time()
        cand = spark.read.parquet(cand_path)
        seen = spark.read.parquet(seen_path)
        scratch: list = []
        admitted = admission.admit(
            cand, seen, WHITELIST, max_depth=max_depth, scratch=scratch,
        )
        r = ranked(admitted).join(
            F.broadcast(budgets.select(F.col("host").alias("_b_host"),
                                       F.col("budget_per_round").alias("_budget"))),
            on=[F.col("host") == F.col("_b_host")], how="left",
        ).withColumn("_budget", F.coalesce(F.col("_budget"), F.lit(UNLIMITED)))
        row = r.agg(
            F.count("*").alias("admitted"),
            F.sum(F.when(F.col("slot_rank") <= F.col("_budget"), 1).otherwise(0)).alias("fetch_now"),
        ).collect()[0]
        wall = time.time() - t0
        for df in scratch:
            df.unpersist()
    finally:
        if own_workdir:
            shutil.rmtree(workdir, ignore_errors=True)
    return {
        "n": n,
        "admitted": row["admitted"],
        "fetch_now": row["fetch_now"],
        "deferred": row["admitted"] - row["fetch_now"],
        "wall_s": round(wall, 3),
        "urls_per_sec": round(n / wall, 1),
    }


if __name__ == "__main__":
    import sys

    from webcrawler_spark.session import get_spark

    n = int(sys.argv[1]) if len(sys.argv) > 1 else 1_000_000
    spark = get_spark("frontier-bench")
    out = run_frontier_workload(spark, n)
    print(out)
    spark.stop()
