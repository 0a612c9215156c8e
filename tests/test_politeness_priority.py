"""Priority-aware politeness (round 5): semantics + plan shape.

The `priority long` column must (a) rank budget slots highest-priority
first with (depth, url_sha1) tiebreaks, (b) carry through deferral
untouched, and (c) cost NOTHING structurally — the ranked() window plans
with exactly one host-keyed exchange whether or not the queue carries a
priority column (it is one more sort key, never a new shuffle)."""

import re

import pytest
from pyspark.sql import functions as F

from webcrawler_spark.operators.politeness import assign_fetch_slots, ranked


def _queue(spark, with_priority: bool):
    rows = []
    for i in range(40):
        rows.append((
            f"h{i % 2}", i % 4, f"{i:04d}sha", f"http://h{i % 2}/p{i}",
            (i % 3) * 10,
        ))
    df = spark.createDataFrame(
        rows, "host string, depth long, url_sha1 string, url string, priority long"
    )
    return df if with_priority else df.drop("priority")


def _exchanges(df) -> list[str]:
    plan = df._jdf.queryExecution().executedPlan().toString()
    return re.findall(r"Exchange hashpartitioning\(host", plan)


@pytest.mark.parametrize("salt_buckets", [None, 4])
def test_priority_ranks_first_then_depth_then_sha(spark, salt_buckets):
    q = _queue(spark, with_priority=True)
    budgets = spark.createDataFrame(
        [("h0", 3), ("h1", 3)], "host string, budget_per_round long"
    )
    fetch_now, deferred = assign_fetch_slots(q, budgets,
                                             salt_buckets=salt_buckets)
    got = sorted((r["host"], r["priority"], r["depth"], r["url_sha1"])
                 for r in fetch_now.collect())
    # per host: all slots go to priority-20 rows (there are >3 of them),
    # ordered by (depth, sha1) within the tier
    for host in ("h0", "h1"):
        rows = [g for g in got if g[0] == host]
        assert len(rows) == 3
        assert all(r[1] == 20 for r in rows), rows
        assert rows == sorted(rows, key=lambda r: (r[2], r[3]))
    # deferral keeps the column intact
    assert "priority" in deferred.columns
    assert deferred.filter(F.col("priority").isNull()).count() == 0
    # the salted two-phase top-k splits the queue exactly as the plain rank
    plain_now, plain_deferred = assign_fetch_slots(q, budgets)

    def rows(df):
        return sorted(tuple(r) for r in df.select(*q.columns).collect())

    assert rows(fetch_now) == rows(plain_now)
    assert rows(deferred) == rows(plain_deferred)


def test_priority_is_one_sort_key_not_a_new_exchange(spark):
    with_p = ranked(_queue(spark, True))
    without_p = ranked(_queue(spark, False))
    assert len(_exchanges(with_p)) == len(_exchanges(without_p)) == 1
    # salted two-phase path: same invariant (phase-1 window keys on
    # (host, salt), phase-2 on host — priority adds no exchange)
    salted = ranked(_queue(spark, True), salt_buckets=4, max_budget=3)
    base = ranked(_queue(spark, False), salt_buckets=4, max_budget=3)
    assert len(_exchanges(salted)) == len(_exchanges(base))
