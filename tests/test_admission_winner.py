"""In-round dedup winner: one admitted row per URL, with the reference-
faithful winner min (depth, parent_url, link_pos) — lexicographic parent
tiebreak, NULL parent first — whatever the partitioning."""

from webcrawler_spark.operators.admission import dedup_in_round


def _cand(spark):
    rows = [
        ("http://a/x", "k1", "a", "/x", 2, "http://p1", 5),
        ("http://a/x", "k1", "a", "/x", 1, "http://p9", 9),  # depth wins
        ("http://a/x", "k1", "a", "/x", 1, "http://p2", 3),  # parent tiebreak
        ("http://a/y", "k2", "a", "/y", 0, None, 7),         # NULL wins
        ("http://a/y", "k2", "a", "/y", 0, "http://p", 1),
        ("http://a/z", "k3", "a", "/z", 3, "http://q", 2),
        ("http://a/z", "k3", "a", "/z", 3, "http://q", 2),   # identical dup
    ]
    return spark.createDataFrame(
        rows,
        "url string, url_sha1 string, host string, path string, "
        "depth long, parent_url string, link_pos long",
    )


def test_same_urls_deterministic_winners(spark):
    def winners(n_partitions):
        out = dedup_in_round(_cand(spark).repartition(n_partitions)).collect()
        assert len(out) == 3
        return {
            r["url_sha1"]: (r["url"], r["depth"], r["parent_url"], r["link_pos"])
            for r in out
        }

    got = winners(8)
    assert got == {
        "k1": ("http://a/x", 1, "http://p2", 3),
        "k2": ("http://a/y", 0, None, 7),
        "k3": ("http://a/z", 3, "http://q", 2),
    }
    assert winners(1) == got


_SCHEMA = (
    "url string, url_sha1 string, host string, path string, "
    "depth long, parent_url string, link_pos long"
)


def _winner(spark, rows, n_partitions=1):
    out = dedup_in_round(
        spark.createDataFrame(rows, _SCHEMA).repartition(n_partitions)
    ).collect()
    assert len(out) == 1
    r = out[0]
    return r["depth"], r["parent_url"], r["link_pos"]


def test_null_parent_beats_empty_parent(spark):
    rows = [
        ("http://a/s", "k", "a", "/s", 0, "", 0),
        ("http://a/s", "k", "a", "/s", 0, None, 0),
    ]
    assert _winner(spark, rows) == (0, None, 0)
    assert _winner(spark, rows[1:] + rows[:1], 2) == (0, None, 0)


def test_parent_beats_its_own_extension(spark):
    rows = [
        ("http://a/s", "k", "a", "/s", 1, "http://p/x", 0),
        ("http://a/s", "k", "a", "/s", 1, "http://p", 5),
    ]
    assert _winner(spark, rows) == (1, "http://p", 5)


def test_negative_link_pos_orders_numerically(spark):
    """Seed lists carry their own ``order`` into ``link_pos`` unchecked, so
    a negative position is a legal input, not a crash."""
    rows = [
        ("http://a/s", "k", "a", "/s", 0, "", -1),
        ("http://a/s", "k", "a", "/s", 0, "", -2),
    ]
    assert _winner(spark, rows) == (0, "", -2)


def test_random_frame_matches_python_min(spark):
    """Winner = Python ``min`` over (depth, parent with None first,
    link_pos); priority = max over the duplicates; same at 1 and 8
    partitions."""
    import random

    rng = random.Random(20261019)
    parents = [None, "", "http://p", "http://p/x", "http://p/", "http://q",
               "http://q/a?b"]
    rows = []
    for _ in range(3000):
        k = rng.randrange(400)
        rows.append((
            f"http://h{k % 7}/u{k}", f"k{k}", f"h{k % 7}", f"/u{k}",
            rng.randrange(4), rng.choice(parents), rng.randrange(-3, 12),
            rng.randrange(100),
        ))
    groups = {}
    for r in rows:
        groups.setdefault(r[1], []).append(r)

    def order(r):
        return r[4], (r[5] is not None, r[5] or ""), r[6]

    expect = {}
    for k, g in groups.items():
        url, key, host, path, depth, parent, pos, _ = min(g, key=order)
        expect[k] = (key, url, host, path, depth, parent, pos,
                     max(r[7] for r in g))
    df = spark.createDataFrame(rows, _SCHEMA + ", priority long")
    for n in (1, 8):
        out = dedup_in_round(df.repartition(n))
        assert out.dtypes == [
            ("url_sha1", "string"), ("url", "string"), ("host", "string"),
            ("path", "string"), ("depth", "bigint"), ("parent_url", "string"),
            ("link_pos", "bigint"), ("priority", "bigint"),
        ]
        got = {r["url_sha1"]: tuple(r) for r in out.collect()}
        assert got == expect
