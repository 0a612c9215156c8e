"""The engine's session defaults (``session.ENGINE_DEFAULTS``) hold in the
test session: a repeat crawl finds every generated class it needs in
Spark's codegen cache, and PySpark records no Python call sites."""

from webcrawler_spark.fixtures import WHITELIST
from webcrawler_spark.plans.crawl import CrawlConfig, run_crawl


def _compiles(spark) -> int:
    """Janino compiles so far in this JVM, driver and (local) tasks."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def test_warm_crawl_compiles_nothing(spark, fixture_web, tmp_path):
    from pyspark.errors.utils import is_debugging_enabled

    paths = fixture_web["paths"]
    robots = spark.read.parquet(paths["robots"])

    def crawl(tag):
        return run_crawl(
            spark, spark.read.parquet(paths["pages"]),
            spark.read.parquet(paths["seeds"]),
            CrawlConfig(whitelist=WHITELIST, max_depth=3, max_rounds=2),
            checkpoint_dir=str(tmp_path / tag),
            budgets=robots.select("host", "budget_per_round"),
            robots=robots.select("host", "disallow_prefixes"),
        )

    first = crawl("first")
    before = _compiles(spark)
    again = crawl("again")
    assert _compiles(spark) - before == 0
    assert again.rounds == first.rounds == 3
    assert not is_debugging_enabled()
