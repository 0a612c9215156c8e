"""Priority-aware politeness (round 5): semantics + plan shape.

The `priority long` column must (a) rank budget slots highest-priority
first with (depth, url_sha1) tiebreaks, (b) carry through deferral
untouched, and (c) cost NOTHING structurally — the ranked() window plans
with exactly one host-keyed exchange whether or not the queue carries a
priority column (it is one more sort key, never a new shuffle).

The split is one pass: the salted phase-1 bound is each host's own
budget, and both halves are filters over one shared checkpoint, so
neither plans a window and releasing either frees it. A seeded queue
with a hot, a budget-0 and an unbudgeted host splits the same salted,
unsalted and as a Python reference rank."""

import random
import re

import pytest
from pyspark.sql import functions as F

from webcrawler_spark.operators.politeness import assign_fetch_slots, ranked
from webcrawler_spark.session import release


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


def _budgets(spark):
    return spark.createDataFrame(
        [("h0", 3), ("h1", 3)], "host string, budget_per_round long"
    )


def _leaf(df):
    """The node an analyzed plan bottoms out in, through single-child nodes."""
    plan = df._jdf.queryExecution().analyzed()
    while plan.children().size() == 1:
        plan = plan.children().apply(0)
    return plan


def _stored_rdds(spark) -> set[int]:
    return {i.id() for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()}


@pytest.mark.parametrize("salt_buckets,budgeted", [
    (None, True), (4, True), (None, False),
])
def test_split_is_one_checkpoint_without_a_window(spark, salt_buckets, budgeted):
    q = _queue(spark, with_priority=True)
    before = _stored_rdds(spark)
    fetch_now, deferred = assign_fetch_slots(
        q, _budgets(spark) if budgeted else None, salt_buckets=salt_buckets
    )
    for half in (fetch_now, deferred):
        plan = half._jdf.queryExecution().executedPlan().toString()
        assert "Window" not in plan, plan
        assert half.columns == q.columns
    leaves = [_leaf(half) for half in (fetch_now, deferred)]
    assert [leaf.nodeName() for leaf in leaves] == ["LogicalRDD"] * 2
    assert leaves[0].rdd().id() == leaves[1].rdd().id()
    assert _stored_rdds(spark) - before == {leaves[0].rdd().id()}
    release(fetch_now)
    # a subset, not equality: the context cleaner may drop an earlier
    # test's unreferenced checkpoint meanwhile
    assert _stored_rdds(spark) <= before


def _reference_split(rows, budgets):
    """Python rank per host by (priority desc, depth, url_sha1); the first
    `budget` rows fetch, an unbudgeted host fetches everything."""
    by_host: dict = {}
    for r in rows:
        by_host.setdefault(r[0], []).append(r)
    now, later = set(), set()
    for host, rs in by_host.items():
        rs.sort(key=lambda r: (-r[4], r[1], r[2]))
        b = budgets.get(host, len(rs))
        now.update(r[3] for r in rs[:b])
        later.update(r[3] for r in rs[b:])
    return now, later


def test_seeded_split_matches_reference_salted_and_not(spark):
    rng = random.Random(601)
    hosts = ["hot"] * 12 + ["zero", "free", "a", "b", "c"]
    rows = [
        (host, rng.randrange(4), f"{rng.getrandbits(64):016x}{i}",
         f"http://{host}/p{i}", rng.choice([0, 0, 0, 50, 100]))
        for i, host in enumerate(rng.choice(hosts) for _ in range(3000))
    ]
    q = spark.createDataFrame(
        rows, "host string, depth long, url_sha1 string, url string, priority long"
    ).repartition(8)
    budget_of = {"hot": 40, "zero": 0, "a": 5, "b": 1, "c": 1000}
    budgets = spark.createDataFrame(
        sorted(budget_of.items()), "host string, budget_per_round long"
    )
    want = _reference_split(rows, budget_of)
    assert want[0] and want[1]
    for salt_buckets in (None, 4):
        fetch_now, deferred = assign_fetch_slots(q, budgets,
                                                 salt_buckets=salt_buckets)
        assert fetch_now.columns == deferred.columns == q.columns
        got = tuple({r["url"] for r in half.collect()}
                    for half in (fetch_now, deferred))
        assert got == want, salt_buckets
        release(fetch_now)
    fetch_now, deferred = assign_fetch_slots(q, None, salt_buckets=4)
    assert {r["url"] for r in fetch_now.collect()} == {r[3] for r in rows}
    assert deferred.count() == 0
    release(deferred)
