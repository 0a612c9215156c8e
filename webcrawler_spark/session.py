"""SparkSession factory with scale-appropriate defaults.

Local testing runs on local[N] (N from $SPARK_GRAFT_CPUS, default 32), but
every setting here is chosen for the 1000-executor / 100 TB case:

* AQE on (runtime partition coalescing, skew-join splitting) — replaces the
  reference's elastic buffer pool (toolkit/buffer/pool.go:93-204);
* Arrow batches for the HTML-parse pandas UDF, capped records/batch so a
  batch of large `html` blobs stays well under executor memory;
* shuffle partitions sized from cores locally; on a real cluster AQE
  coalesces from a deliberately-high initial number.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(
    app_name: str = "webcrawler-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    cores = default_parallelism()
    master = master or f"local[{cores}]"
    shuffle = shuffle_partitions or cores
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # html blobs are up to ~100s of KB; keep Arrow batches bounded
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def release(df: DataFrame) -> None:
    """Free the blocks that hold ``df``: its cache, or the RDD behind a
    (local) checkpoint, which ``DataFrame.unpersist()`` leaves alone and
    PySpark has no public call for (pyspark 4.1.2: ``LogicalRDD.rdd()``).
    A frame that is neither is left as it is; Filter and Project nodes
    over a checkpoint lead to it, so releasing either half of
    ``politeness.assign_fetch_slots`` frees the one both halves share.

    The checkpoint's blocks go through ``SparkContext.unpersistRDD``
    (``private[spark]``, reachable through the JVM gateway), the call
    ``RDD.unpersist`` makes after it logs, for every locally
    checkpointed RDD, a warning that its lineage has been truncated — a
    line per released frame that says nothing about a finished round."""
    df.unpersist()
    plan = df._jdf.queryExecution().analyzed()
    while plan.nodeName() in ("Filter", "Project"):
        plan = plan.child()
    if plan.nodeName() == "LogicalRDD":
        rdd = plan.rdd()
        rdd.context().unpersistRDD(rdd.id(), False)
