"""Resuming a store whose seen keys are not in the bucketed seen table
fails loudly.

A checkpoint written by the retired parquet seen backend, or before the
bucketed table existed, holds its seen set only in per-round seen_delta
parquet. Continuing it would read an EMPTY bucketed table and silently
re-admit every URL already crawled, so a call over it raises instead.
"""

import json
import os
import re

import pytest

from webcrawler_spark.fixtures import WHITELIST
from webcrawler_spark.plans.crawl import CrawlConfig, run_crawl
from webcrawler_spark.storage import RoundStore


def test_backend_mismatch_fails_loudly(spark, fixture_web, tmp_path):
    """A stopped crawl's store, relabelled first with the parquet backend's
    metadata (pinned seen_backend, no bucket count), then as a store from
    before the bucketed table (no _store_meta.json): both resumes raise
    and leave the store as they found it."""
    paths = fixture_web["paths"]
    pages = spark.read.parquet(paths["pages"])
    seeds = spark.read.parquet(paths["seeds"])
    d = str(tmp_path / "ckpt")
    cfg = CrawlConfig(whitelist=WHITELIST, max_depth=1, max_rounds=1,
                      parsers="bm1365")
    run_crawl(spark, pages, seeds, cfg, checkpoint_dir=d)
    store = RoundStore(d)
    last = store.last_committed()
    m = store.manifest(last)  # stopped, not finished
    m["done"] = False
    with open(os.path.join(store.manifest_dir, f"round_{last}.json"), "w") as f:
        json.dump(m, f)
    cfg.max_rounds = 4

    with open(store._meta_path(), "w") as f:
        json.dump({"seen_backend": "parquet"}, f)
    with pytest.raises(ValueError, match=re.escape(f"checkpoint at {d}")):
        run_crawl(spark, pages, seeds, cfg, checkpoint_dir=d)
    with open(store._meta_path()) as f:
        assert json.load(f) == {"seen_backend": "parquet"}

    os.remove(store._meta_path())
    with pytest.raises(ValueError, match="no bucketed seen table"):
        run_crawl(spark, pages, seeds, cfg, checkpoint_dir=d)
    assert not os.path.exists(store._meta_path())
    assert store.last_committed() == last
