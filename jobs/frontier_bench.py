"""Synthetic-frontier throughput workload — the north-rule metric driver.

Builds a deterministic frontier of N candidate URLs with ``spark.range``
(no I/O, so the measurement isolates engine work), then runs the full
admission hot path exactly as a crawl round does (plans/crawl.py):

    canonicalize (Arrow pandas UDF) → sha1/host/path derivation →
    scheme/whitelist/depth filters → in-round dedup (min-struct agg) →
    anti-join vs a seen set of the sha1s of ~1/4 of the canonical URLs →
    per-host politeness ranking → budget split

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
from webcrawler_spark.operators.politeness import assign_fetch_slots
from webcrawler_spark.session import release

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
    """Seen set: the `url_sha1` admission derives, of the canonical URLs
    whose crc32 is 0 mod 4 (hash-only table, like the real seen store), so
    the anti-join prunes about a quarter of the candidates."""
    cand = admission.canonicalize_candidates(synth_candidates(spark, n, partitions))
    return cand.filter(F.crc32(F.col("url")) % 4 == 0).select("url_sha1").distinct()


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
    in-round dedup agg → seen anti-join (admitted, checkpointed once) →
    politeness window → budget split (`assign_fetch_slots`, one
    checkpoint); the counts then read the checkpoints.

    Returns {"n": N, "admitted": ..., "fetch_now": ..., "wall_s": ...,
    "urls_per_sec": ...}.
    """
    import shutil
    import tempfile

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
        ).localCheckpoint()
        fetch_now, deferred = assign_fetch_slots(admitted, budgets)
        counts = {"admitted": admitted.count(), "fetch_now": fetch_now.count(),
                  "deferred": deferred.count()}
        wall = time.time() - t0
        for df in (*scratch, admitted, fetch_now):
            release(df)
    finally:
        if own_workdir:
            shutil.rmtree(workdir, ignore_errors=True)
    return {
        "n": n,
        **counts,
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
