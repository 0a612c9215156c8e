"""Spans around the engine's layer entry points, and whole-workload Spark
counters.

The engine is not instrumented itself: ``Tracer.install`` replaces the
public functions the crawl loop and the benchmark drivers call (module
attributes and class methods) with wrappers that open a span, call the
original, FORCE every DataFrame it returns (persist + count, so the span
covers the work and not just plan construction) and record name, start,
end, parent span and row counts. ``Tracer.uninstall`` restores the
originals. Spans stay in memory until the run writes them out.

Forcing changes execution (extra cached frames, one count job per
returned frame), which is why end-to-end metrics come from untraced runs
and the traced run reports its own overhead.
"""

from __future__ import annotations

import statistics
import threading
import time
from dataclasses import dataclass, field

import pandas as pd
from pyspark.sql import DataFrame, SparkSession


@dataclass
class Span:
    sid: int
    name: str
    start: float
    parent: int | None
    end: float = 0.0
    rows: dict = field(default_factory=dict)


class Tracer:
    def __init__(self, spark: SparkSession):
        self.spark = spark
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._main_stack: list[Span] = []
        self._patched: list[tuple[object, str, object]] = []
        self._forced: list[DataFrame] = []
        self.parse_acc = None

    # -- spans -------------------------------------------------------------
    def _stack(self) -> list[Span]:
        if threading.current_thread() is threading.main_thread():
            return self._main_stack
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def open(self, name: str) -> Span:
        stack = self._stack()
        # a span opened on a helper thread (RoundStore commits from a pool)
        # belongs to whatever the main thread is inside
        parent = stack[-1] if stack else (self._main_stack[-1] if self._main_stack else None)
        with self._lock:
            span = Span(len(self.spans), name, time.perf_counter(),
                        parent.sid if parent else None)
            self.spans.append(span)
        stack.append(span)
        return span

    def close(self, span: Span) -> None:
        span.end = time.perf_counter()
        self._stack().remove(span)

    def force(self, df: DataFrame) -> int:
        from pyspark.storagelevel import StorageLevel

        df.persist(StorageLevel.MEMORY_AND_DISK)
        self._forced.append(df)
        return df.count()

    def release(self) -> None:
        for df in self._forced:
            df.unpersist()
        self._forced.clear()

    def wrap(self, name: str, fn, rows_of=None):
        """Wrapper that spans ``fn`` and forces the frames it returns."""
        tracer = self

        def traced(*args, **kwargs):
            span = tracer.open(name)
            try:
                out = fn(*args, **kwargs)
                if isinstance(out, DataFrame):
                    span.rows["out"] = tracer.force(out)
                elif isinstance(out, tuple) and all(isinstance(o, DataFrame) for o in out):
                    for i, o in enumerate(out):
                        span.rows[f"out{i}"] = tracer.force(o)
            finally:
                tracer.close(span)
            # counted after the span closes, so the probe job is not
            # charged to the layer
            if rows_of is not None:
                span.rows.update(rows_of(args, kwargs))
            return out

        return traced

    def patch(self, owner, attr: str, name: str, rows_of=None) -> None:
        orig = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
        self._patched.append((owner, attr, orig))
        if isinstance(orig, classmethod):
            wrapped = classmethod(self.wrap(name, orig.__func__, rows_of))
        else:
            wrapped = self.wrap(name, orig, rows_of)
        setattr(owner, attr, wrapped)

    def install(self) -> None:
        """Patch every layer entry point the crawl loop and drivers call."""
        from webcrawler_spark.operators import admission, bloom, politeness
        from webcrawler_spark.plans import crawl
        from webcrawler_spark.storage import RoundStore

        def udf_need(args, kwargs):
            from pyspark.sql import functions as F

            cand = args[0]
            need = cand.select(
                F.coalesce(
                    F.col("url").isNotNull()
                    & admission.is_definitely_canonical(F.col("url")),
                    F.lit(False),
                ).alias("fast")
            ).agg(F.count("*").alias("n"), F.sum(F.when(~F.col("fast"), 1).otherwise(0)).alias("udf"))
            row = need.first()
            return {"in": int(row["n"]), "udf": int(row["udf"] or 0)}

        self.patch(admission, "admit", "admission.admit")
        self.patch(admission, "canonicalize_candidates", "admission.canonicalize", udf_need)
        self.patch(admission, "admission_filters", "admission.filter")
        self.patch(admission, "dedup_in_round", "admission.dedup")
        self.patch(admission, "anti_join_seen", "admission.antijoin")
        for owner in (crawl, politeness):
            self.patch(owner, "assign_fetch_slots", "politeness.assign")
        self.patch(bloom.BloomTable, "build", "bloom.build")
        self.patch(bloom.BloomTable, "split", "bloom.split")
        self.patch(bloom.BloomTable, "merge_delta", "bloom.merge")
        self.patch(RoundStore, "commit_round", "storage.commit")
        self.patch(RoundStore, "append_seen_bucketed", "storage.seen_append")
        self.patch(RoundStore, "compact_seen_bucketed", "storage.compact")
        self.patch(RoundStore, "write_export", "storage.export")
        self._patch_parse_udf(crawl)

    def _patch_parse_udf(self, crawl_module) -> None:
        """The parse UDF runs in Python workers: wrap its function so each
        Arrow batch adds (busy seconds, pages, error rows) to an accumulator."""
        from pyspark.accumulators import AccumulatorParam
        from pyspark.sql.functions import pandas_udf

        class Triple(AccumulatorParam):
            def zero(self, value):
                return (0.0, 0, 0)

            def addInPlace(self, a, b):
                return (a[0] + b[0], a[1] + b[1], a[2] + b[2])

        acc = self.spark.sparkContext.accumulator((0.0, 0, 0), Triple())
        self.parse_acc = acc
        orig = crawl_module.parse_html_udf
        func = orig.func

        def timed_parse(html: pd.Series, url: pd.Series) -> pd.DataFrame:
            t0 = time.perf_counter()
            out = func(html, url)
            acc.add((time.perf_counter() - t0, len(out), int(out["error"].notna().sum())))
            return out

        self._patched.append((crawl_module, "parse_html_udf", orig))
        crawl_module.parse_html_udf = pandas_udf(timed_parse, orig.returnType)

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    # -- summaries -----------------------------------------------------------
    def self_time(self, span: Span) -> float:
        """Span duration minus the part of it its children cover."""
        kids = sorted((c.start, c.end) for c in self.spans if c.parent == span.sid)
        covered, cur_s, cur_e = 0.0, None, None
        for s, e in kids:
            s, e = max(s, span.start), min(e, span.end)
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        return (span.end - span.start) - covered

    def total_self(self, name: str) -> float:
        return sum(self.self_time(s) for s in self.spans if s.name == name)

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def dump(self, path: str) -> None:
        import json

        t0 = min((s.start for s in self.spans), default=0.0)
        with open(path, "w") as f:
            json.dump(
                [
                    {"id": s.sid, "name": s.name, "parent": s.parent,
                     "start_s": s.start - t0, "end_s": s.end - t0,
                     "self_s": self.self_time(s), "rows": s.rows}
                    for s in self.spans
                ],
                f, indent=1,
            )


class SparkCounters:
    """Cumulative Spark counters read from the driver's status store and the
    JVM's garbage collectors; ``delta`` gives the change since ``snapshot``."""

    def __init__(self, spark: SparkSession):
        self.sc = spark.sparkContext

    def snapshot(self) -> dict:
        jsc = self.sc._jsc.sc()
        store = jsc.statusStore()
        execs = store.executorList(True)
        shuffle_w = failed = tasks = 0
        for i in range(execs.size()):
            e = execs.apply(i)
            shuffle_w += e.totalShuffleWrite()
            failed += e.failedTasks()
            tasks += e.totalTasks()
        gw = self.sc._gateway
        stages = store.stageList(
            None, False, False, gw.new_array(gw.jvm.double, 0), gw.jvm.java.util.ArrayList()
        )
        spill = 0
        for i in range(stages.size()):
            s = stages.apply(i)
            spill += s.memoryBytesSpilled() + s.diskBytesSpilled()
        jobs = len(self.sc.statusTracker().getJobIdsForGroup(None))
        gc_ms = 0
        for bean in gw.jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans():
            gc_ms += max(0, bean.getCollectionTime())
        return {"shuffle_write": shuffle_w, "failed_tasks": failed, "tasks": tasks,
                "spill": spill, "jobs": jobs, "gc_ms": gc_ms}

    def failed_tasks(self) -> int:
        store = self.sc._jsc.sc().statusStore()
        execs = store.executorList(True)
        return sum(execs.apply(i).failedTasks() for i in range(execs.size()))

    @staticmethod
    def delta(a: dict, b: dict) -> dict:
        return {k: b[k] - a[k] for k in a}


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0
