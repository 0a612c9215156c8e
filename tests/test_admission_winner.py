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
