"""Checkpoint/resume: kill the crawl at a commit boundary, re-run the
identical call over the same checkpoint, and get the uninterrupted run's
final state. The checkpoint alone decides where a call starts: the re-run
commits only the rounds after the last committed one.

The kill-point matrix covers every boundary of the commit protocol:

* ``manifests_dropped`` — delete every committed round after round k
  (what a crash between rounds leaves behind: the last manifest wins);
* ``mid_dataset_writes`` — one of round k's dataset writes fails after
  the others have landed (orphan data, no manifest);
* ``seen_appended_before_manifest`` — the bucketed-seen insert and every
  dataset write landed, the manifest rename did not;
* ``mid_compaction`` — the compacted seen table's new versioned directory
  is written, the meta pointer has not advanced;
* ``mid_export`` — the ordered export is staged, the rename did not run.
  The crawl's last round had committed, so the resume commits no new
  round.

A separate test kills a budgeted crawl whose later rounds salt the
politeness window:

* ``after_manifest_rename`` — round k's manifest rename landed, the
  process died right after it: the manifest alone must carry the round
  (its stats, and the next round's salting decision).

Every kill except the first is injected in-process by a monkeypatched
raise at that boundary. Each case checks that the resumed crawl equals
the uninterrupted one on (round, url) order, the seen set with its
first_round, the items, the export bytes, the per-round metrics and the
round count.
"""

import dataclasses
import glob
import json
import os
import shutil

import pytest
from pyspark.sql import DataFrameWriter

import webcrawler_spark.plans.crawl as crawl_mod
from webcrawler_spark.fixtures import WHITELIST
from webcrawler_spark.plans.crawl import CrawlConfig, run_crawl
from webcrawler_spark.storage import RoundStore

KILL_ROUND = 2


class InjectedKill(RuntimeError):
    pass


def _cfg(**kw):
    return CrawlConfig(whitelist=WHITELIST, max_depth=2, max_rounds=8,
                       parsers="combined", **kw)


def _collect_state(spark, result):
    order = sorted(
        (r["round"], r["url"]) for r in result.order(spark).collect()
    )
    seen = {
        r["url_sha1"]: (r["url"], r["first_round"])
        for r in result.seen(spark).collect()
    }
    items = sorted(
        (r["round"], r["url"], r["kind"]) for r in result.items(spark).collect()
    )
    return order, seen, items


def _export_bytes(d):
    files = sorted(glob.glob(os.path.join(RoundStore(d).export_path(), "part-*")))
    assert len(files) == 1, files  # ONE ordered artifact
    with open(files[0], "rb") as f:
        return f.read()


def _drop_rounds_after(store: RoundStore, k: int) -> None:
    for rnd in store.committed_rounds():
        if rnd > k:
            os.remove(os.path.join(store.manifest_dir, f"round_{rnd}.json"))
            shutil.rmtree(os.path.join(store.rounds_dir, f"r={rnd}"),
                          ignore_errors=True)
    # un-done the surviving round (a crash would never have marked done)
    m = store.manifest(k)
    assert store.last_committed() == k
    if m.get("done"):
        m["done"] = False
        with open(os.path.join(store.manifest_dir, f"round_{k}.json"), "w") as f:
            json.dump(m, f)


@pytest.fixture(scope="module")
def reference(spark, fixture_web, tmp_path_factory):
    """The uninterrupted crawl every kill point must reproduce, with the
    destination of every os.replace it made."""
    paths = fixture_web["paths"]
    pages_df = spark.read.parquet(paths["pages"])
    seeds_df = spark.read.parquet(paths["seeds"])
    full_dir = str(tmp_path_factory.mktemp("resume_full"))
    renames: list[str] = []
    real = os.replace

    def replace(src, dst, *a, **kw):
        renames.append(os.fspath(dst))
        return real(src, dst, *a, **kw)

    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(os, "replace", replace)
        full = run_crawl(spark, pages_df, seeds_df, _cfg(),
                         checkpoint_dir=full_dir)
    assert full.rounds > KILL_ROUND + 1  # needs something to kill
    return {
        "dir": full_dir,
        "state": _collect_state(spark, full),
        "export": _export_bytes(full_dir),
        "metrics": full.metrics,
        "rounds": full.rounds,
        "renames": renames,
    }


def test_one_manifest_write_per_round(reference):
    """Each round's manifest is renamed into place once, at its commit;
    the last round's is renamed once more, for the done flag."""
    store = RoundStore(reference["dir"])
    rounds = store.committed_rounds()
    assert rounds == list(range(reference["rounds"]))
    writes = [
        os.path.basename(d) for d in reference["renames"]
        if os.path.dirname(d) == store.manifest_dir
    ]
    want = [f"round_{r}.json" for r in rounds] + [f"round_{rounds[-1]}.json"]
    assert writes == want
    assert store.manifest(rounds[-1])["done"]


def _kill_mid_dataset_writes(mp, spark, crash_dir):
    """One dataset write of round KILL_ROUND fails; the round's other
    writes run to completion beside it, and the seen insert lands after
    them."""
    target = os.path.join(f"r={KILL_ROUND}", "next_candidates")
    real = DataFrameWriter.parquet

    def parquet(self, path, *a, **kw):
        if path.endswith(target):
            raise InjectedKill(path)
        return real(self, path, *a, **kw)

    mp.setattr(DataFrameWriter, "parquet", parquet)

    def check(store):
        assert store.last_committed() == KILL_ROUND - 1
        landed = store.round_path(KILL_ROUND, "order")
        assert glob.glob(os.path.join(landed, "part-*")), "no write landed"

    return check


def _fail_rename_into(mp, target):
    """os.replace raises instead of creating ``target``."""
    real = os.replace

    def replace(src, dst, *a, **kw):
        if os.fspath(dst) == target and not os.path.exists(target):
            raise InjectedKill(target)
        return real(src, dst, *a, **kw)

    mp.setattr(os, "replace", replace)


def _kill_before_manifest_rename(mp, spark, crash_dir):
    """Everything of round KILL_ROUND landed, incl. the bucketed seen
    insert; the manifest's atomic rename is the one step missing."""
    _fail_rename_into(
        mp, os.path.join(crash_dir, "_manifests", f"round_{KILL_ROUND}.json")
    )

    def check(store):
        assert store.last_committed() == KILL_ROUND - 1
        orphan_rounds = {
            r["round"]
            for r in spark.table(store.seen_table).select("round").distinct().collect()
        }
        assert KILL_ROUND in orphan_rounds  # the seen insert had landed

    return check


def _kill_mid_compaction(mp, spark, crash_dir):
    """The first compaction dies after writing the new versioned seen
    directory, before _store_meta.json points at it."""
    real = RoundStore._write_meta
    seen_new_dir = []

    def write_meta(self, meta):
        v = int(meta.get("seen_location_v", 0))
        if v > int(self._read_meta().get("seen_location_v", 0)):
            seen_new_dir.append(os.path.isdir(self._seen_location(v)))
            raise InjectedKill(self._seen_location(v))
        return real(self, meta)

    mp.setattr(RoundStore, "_write_meta", write_meta)

    def check(store):
        assert seen_new_dir == [True]
        assert int(store._read_meta().get("seen_location_v", 0)) == 0

    return check


def _kill_mid_export(mp, spark, crash_dir):
    """The ordered export is staged; the rename into place never runs."""
    dest = RoundStore(crash_dir).export_path()
    _fail_rename_into(mp, dest)

    def check(store):
        assert not store.is_done()
        assert not os.path.exists(dest)
        assert os.path.isdir(dest + "._tmp")

    return check


# kill -> (injector, CrawlConfig constants the crash and the resume share)
KILLS = {
    "mid_dataset_writes": (_kill_mid_dataset_writes, {}),
    "seen_appended_before_manifest": (_kill_before_manifest_rename, {}),
    "mid_compaction": (_kill_mid_compaction,
                       {"seen_compact_files_per_bucket": 1}),
    "mid_export": (_kill_mid_export, {}),
}


@pytest.mark.parametrize("kill", ["manifests_dropped", *KILLS])
def test_kill_after_round_k_resume(spark, fixture_web, reference, tmp_path,
                                   monkeypatch, kill):
    paths = fixture_web["paths"]
    pages_df = spark.read.parquet(paths["pages"])
    seeds_df = spark.read.parquet(paths["seeds"])
    crash_dir = str(tmp_path / "crash")

    if kill == "manifests_dropped":
        cfg = _cfg()
        run_crawl(spark, pages_df, seeds_df, cfg, checkpoint_dir=crash_dir)
        _drop_rounds_after(RoundStore(crash_dir), k=1)
    else:
        inject, consts = KILLS[kill]
        cfg = _cfg()
        for name, value in consts.items():
            monkeypatch.setattr(CrawlConfig, name, value)
        with monkeypatch.context() as mp:
            check = inject(mp, spark, crash_dir)
            with pytest.raises(InjectedKill):
                run_crawl(spark, pages_df, seeds_df, cfg,
                          checkpoint_dir=crash_dir)
        check(RoundStore(crash_dir))

    last = RoundStore(crash_dir).last_committed()
    committed: list[int] = []
    real_commit = RoundStore.commit_round

    def commit_round(self, rnd, *a, **kw):
        committed.append(rnd)
        return real_commit(self, rnd, *a, **kw)

    with monkeypatch.context() as mp:
        mp.setattr(RoundStore, "commit_round", commit_round)
        resumed = run_crawl(spark, pages_df, seeds_df, cfg,
                            checkpoint_dir=crash_dir)
    assert committed == list(range(last + 1, reference["rounds"]))
    assert _collect_state(spark, resumed) == reference["state"]
    assert _export_bytes(crash_dir) == reference["export"]
    assert resumed.metrics == reference["metrics"]
    assert resumed.rounds == reference["rounds"]


def _budgeted_crawl(spark, fixture_web, ckpt):
    """The resume-matrix crawl under the fixture's robots budgets."""
    paths = fixture_web["paths"]
    robots_df = spark.read.parquet(paths["robots"])
    return run_crawl(
        spark, spark.read.parquet(paths["pages"]),
        spark.read.parquet(paths["seeds"]), _cfg(), checkpoint_dir=ckpt,
        budgets=robots_df.select("host", "budget_per_round"),
    )


def test_kill_after_manifest_rename_resume(spark, fixture_web, tmp_path,
                                           monkeypatch):
    """Round KILL_ROUND's manifest rename lands and the process dies right
    after it. With the hot-host floor at 0 the rounds after it salt, so
    the resumed crawl must recover both the round's stats and the next
    round's salting from the committed manifests alone."""
    monkeypatch.setattr(crawl_mod, "HOT_HOST_MIN_ROWS", 0)
    full_dir = str(tmp_path / "full")
    full = _budgeted_crawl(spark, fixture_web, full_dir)
    assert any(m["salted"] for m in full.metrics[KILL_ROUND + 1:])

    crash_dir = str(tmp_path / "crash")
    target = os.path.join(crash_dir, "_manifests", f"round_{KILL_ROUND}.json")
    real = os.replace

    def replace(src, dst, *a, **kw):
        first = os.fspath(dst) == target and not os.path.exists(target)
        out = real(src, dst, *a, **kw)
        if first:
            raise InjectedKill(target)
        return out

    with monkeypatch.context() as mp:
        mp.setattr(os, "replace", replace)
        with pytest.raises(InjectedKill):
            _budgeted_crawl(spark, fixture_web, crash_dir)
    assert RoundStore(crash_dir).last_committed() == KILL_ROUND

    resumed = _budgeted_crawl(spark, fixture_web, crash_dir)
    assert _collect_state(spark, resumed) == _collect_state(spark, full)
    assert _export_bytes(crash_dir) == _export_bytes(full_dir)
    assert resumed.metrics == full.metrics
    assert resumed.rounds == full.rounds


def test_export_is_ordered_and_enriched(spark, reference):
    """Export content = items union ordered by (round, url), with
    file_path on img rows only."""
    exp = RoundStore(reference["dir"]).read_export(spark)
    rows = exp.select("round", "url", "kind", "file_path").collect()
    keys = [(r["round"], r["url"]) for r in rows]
    assert keys == sorted(keys)
    for r in rows:
        if r["kind"] == "img":
            assert r["file_path"].startswith("pictures/")
        else:
            assert r["file_path"] is None


def test_resume_on_done_store_is_noop(spark, fixture_web, tmp_path):
    """A call over a finished checkpoint returns the finished crawl, even
    when its own config would have stopped earlier: the done flag, not the
    call's max_rounds, decides."""
    paths = fixture_web["paths"]
    pages_df = spark.read.parquet(paths["pages"])
    seeds_df = spark.read.parquet(paths["seeds"])
    cfg = CrawlConfig(whitelist=WHITELIST, max_depth=1, max_rounds=4)
    d = str(tmp_path / "done")
    first = run_crawl(spark, pages_df, seeds_df, cfg, checkpoint_dir=d)
    # the result is a view over the checkpoint: snapshot it before the
    # second call
    state, export = _collect_state(spark, first), _export_bytes(d)
    metrics, rounds = first.metrics, first.rounds
    assert rounds > 2  # the second call's max_rounds=1 would stop earlier
    again = run_crawl(spark, pages_df, seeds_df,
                      dataclasses.replace(cfg, max_rounds=1), checkpoint_dir=d)
    assert again.rounds == rounds
    assert _collect_state(spark, again) == state
    assert _export_bytes(d) == export
    assert again.metrics == metrics
