"""SparkSession factories and the engine's session defaults.

Every session the engine starts gets ``ENGINE_DEFAULTS``: ``get_spark``
(tests, perfbench, the bench jobs and tools) sets them, and
``submitted_spark`` (``jobs/crawl_round.py``, the spark-submit path)
fills in each one the launcher's conf leaves unset, so a deployment's own
``--conf`` wins. Local testing runs on local[N] (N from $SPARK_GRAFT_CPUS,
default 32), but every setting is chosen for the 1000-executor / 100 TB
case:

* AQE on (runtime partition coalescing, skew-join splitting) — replaces the
  reference's elastic buffer pool (toolkit/buffer/pool.go:93-204);
* Arrow batches for the HTML-parse pandas UDF, capped records/batch so a
  batch of large `html` blobs stays well under executor memory;
* a generated-class cache of 1000 entries
  (``spark.sql.codegen.cache.maxEntries``, Spark's default is 100). The
  warm-up and one ``crawl_polite`` crawl touch 174 distinct classes, so a
  100-entry cache recompiled 193 of them with Janino on every warm crawl,
  in the driver and in tasks; with room for them a repeat crawl compiles
  none. A round number the session has not run yet still compiles ~18
  classes, because codegen inlines the round literal (``F.lit(rnd)``). The
  key is a static SQL conf: it only takes effect before the first codegen,
  that is, when the session is built;
* no Python call-site capture (``spark.python.sql.dataFrameDebugging.enabled
  = false``). PySpark wraps every ``Column`` and ``functions`` call to
  record where it was made, at ~4 extra Py4J round trips a call: off, a
  warm 2-round ``crawl_polite`` crawl makes 7.2–8.2k round trips instead
  of 15.1–16.2k. The price is
  that analysis errors no longer name the Python line that built the
  failing column; ``--conf spark.python.sql.dataFrameDebugging.enabled=true``
  (or ``extra_conf`` in ``get_spark``) brings the call sites back;
* shuffle partitions sized from cores locally; on a real cluster AQE
  coalesces from a deliberately-high initial number.
"""

from __future__ import annotations

import os

from pyspark import SparkConf, SparkContext
from pyspark.sql import DataFrame, SparkSession

ENGINE_DEFAULTS = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # html blobs are up to ~100s of KB; keep Arrow batches bounded
    "spark.sql.execution.arrow.maxRecordsPerBatch": "2048",
    "spark.sql.files.maxPartitionBytes": "134217728",
    "spark.sql.session.timeZone": "UTC",
    # sized from 174 distinct generated classes per warm-up + crawl (above)
    "spark.sql.codegen.cache.maxEntries": "1000",
    "spark.python.sql.dataFrameDebugging.enabled": "false",
}


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
    conf = {
        "spark.sql.shuffle.partitions": str(shuffle),
        **ENGINE_DEFAULTS,
        "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
        "spark.ui.enabled": "false",
        **(extra_conf or {}),
    }
    builder = SparkSession.builder.appName(app_name).master(master)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def submitted_spark(app_name: str) -> SparkSession:
    """The session of a spark-submit job: the launcher's conf (``--conf``,
    ``spark-defaults.conf``, ``--master``) as given, plus each
    ``ENGINE_DEFAULTS`` key it leaves unset. A builder option would
    override the launcher's value, so the context is started first and
    the defaults go only to the keys its conf lacks; all of them are SQL
    confs, which the session still takes on an existing context."""
    launcher = SparkContext.getOrCreate(SparkConf().setAppName(app_name)).getConf()
    builder = SparkSession.builder
    for k, v in ENGINE_DEFAULTS.items():
        if not launcher.contains(k):
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
