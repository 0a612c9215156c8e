from webcrawler_spark.urlnorm import (
    basename,
    canonicalize,
    primary_domain,
    resolve,
    sha1_hex,
    url_host,
)


class TestPrimaryDomain:
    # table-driven, mirroring scheduler/domain.go:8-60 semantics
    def test_common_suffixes(self):
        assert primary_domain("www.example.com") == "example.com"
        assert primary_domain("a.b.example.com") == "example.com"
        assert primary_domain("www.example.com.cn") == "example.com.cn"
        assert primary_domain("www.example.gov.uk") == "example.gov.uk"
        assert primary_domain("www.example.net") == "example.net"
        assert primary_domain("x.example.org") == "example.org"

    def test_single_suffixes(self):
        assert primary_domain("www.example.me") == "example.me"
        assert primary_domain("s.example.tv") == "example.tv"
        assert primary_domain("www.example.cn") == "example.cn"  # generic \.\w{2}$

    def test_ip_passthrough(self):
        assert primary_domain("192.168.0.1") == "192.168.0.1"
        # the reference's IP regex is a *search*: embedded quad passes through
        assert primary_domain("192.168.0.1:8080") == "192.168.0.1:8080"

    def test_no_subdomain(self):
        assert primary_domain("example.com") == "example.com"
        assert primary_domain("example.cn") == "example.cn"

    def test_unrecognized(self):
        assert primary_domain("localhost") is None
        assert primary_domain("") is None
        assert primary_domain(".com") is None  # suffixIndex == 0 -> error
        assert primary_domain("example.com:8080") is None  # port breaks suffix

    def test_leftmost_match_wins(self):
        # www.x.com.cn: '.com.cn' suffix found at '.com' -> primary x.com.cn
        assert primary_domain("www.x.com.cn") == "x.com.cn"


class TestCanonicalize:
    def test_lowercase_and_default_port(self):
        assert canonicalize("HTTP://WWW.Example.COM:80/A/b") == "http://www.example.com/A/b"
        assert canonicalize("https://h.com:443/x") == "https://h.com/x"
        assert canonicalize("http://h.com:8080/x") == "http://h.com:8080/x"

    def test_dot_segments(self):
        assert canonicalize("http://h.com/a/b/../c/./d") == "http://h.com/a/c/d"
        assert canonicalize("http://h.com/../a") == "http://h.com/a"
        assert canonicalize("http://h.com/a/..") == "http://h.com/"

    def test_empty_path(self):
        assert canonicalize("http://h.com") == "http://h.com/"

    def test_fragment_dropped_query_kept(self):
        assert canonicalize("http://h.com/p?q=1#frag") == "http://h.com/p?q=1"

    def test_percent_normalization(self):
        assert canonicalize("http://h.com/%7euser") == "http://h.com/~user"
        assert canonicalize("http://h.com/a%2fb") == "http://h.com/a%2Fb"

    def test_invalid(self):
        assert canonicalize("not a url") is None
        assert canonicalize("") is None
        assert canonicalize(None) is None
        assert canonicalize("/relative/only") is None

    def test_idempotent(self):
        u = canonicalize("HTTP://H.com:80/a/../b%2Fc?x=%7e#f")
        assert canonicalize(u) == u


class TestResolve:
    def test_relative(self):
        assert resolve("http://h.com/a/b", "c") == "http://h.com/a/c"
        assert resolve("http://h.com/a/b", "/c") == "http://h.com/c"
        assert resolve("http://h.com/a/b", "../c") == "http://h.com/c"

    def test_absolute_passthrough(self):
        assert resolve("http://h.com/", "https://o.com/x") == "https://o.com/x"

    def test_protocol_relative(self):
        assert resolve("https://h.com/", "//o.com/x") == "https://o.com/x"


class TestMisc:
    def test_sha1(self):
        assert sha1_hex("abc") == "a9993e364706816aba3e25717850c26c9cd0d89d"

    def test_basename_go_semantics(self):
        assert basename("/a/b/c.jpg") == "c.jpg"
        assert basename("/a/b/") == "b"
        assert basename("") == "."
        assert basename("/") == "/"
        assert basename("c.jpg") == "c.jpg"

    def test_url_host_keeps_port(self):
        assert url_host("http://h.com:8080/x") == "h.com:8080"
        assert url_host("http://h.com/x") == "h.com"


class TestFastCanonicalPredicate:
    """The native fast path in admission.canonicalize_candidates must only
    claim URLs that are FIXED POINTS of canonicalize (anything else may —
    and should — fall through to the Python canonicalizer). The regex pair
    _FAST_CANONICAL_RE/_DOT_SEGMENT_RE is the original semantic spec; the
    shipping predicate is byte-scan based and claims a superset (e.g.
    underscore hosts, multiple '?', dot segments confined to the query),
    every member of which must still be a fixed point."""

    CORPUS = [
        "http://www.bml365.com/qy/prod/v/3-17",
        "https://shop.example.com.cn/a/b?x=1&y=2",
        "http://h.com/",
        "http://h.com",                       # no path -> not claimed
        "HTTP://H.com/x",                     # uppercase -> not claimed
        "http://h.com:80/x",                  # default port -> not claimed
        "http://h.com:8080/x",                # any port -> not claimed
        "http://h.com/a/../b",                # dot segments -> not claimed
        "http://h.com/a/./b",
        "http://h.com/a/..",
        "http://h.com/a/.",
        "http://h.com/%7Euser/",              # percent -> not claimed
        "http://h.com/x#frag",                # fragment -> not claimed
        "http://h.com./x",                    # trailing host dot -> not claimed
        "http://user@h.com/x",                # userinfo -> not claimed
        "http://h.com/a b",                   # whitespace -> not claimed
        " http://h.com/x",
        "ftp://h.com/x",
        "javascript:void(0)",
        "http://h.com/a//b",
        "http://h.com/a/.hidden",
        "http://h.com/a..b/c",
        "http://h.com/a?q=./x",               # dot segment in query only: claimable
        "http://h.com/a?x=1?y=2",             # multiple '?': claimable
        "http://h_x.com/a",                   # underscore host: claimable
        "http://192.168.0.1/x",
        "http://héllo.example/x",             # non-ASCII host -> not claimed
        "http://h.com?q=1",                   # query but no path -> not claimed
        "http://h.com/#",
        "http:///x",                          # empty host -> not claimed
        # embedded absolute URLs (redirect/tracking links) — host/path must
        # come from the FIRST '://', never the embedded one (ADVICE r1 high)
        "http://evil.biz/r?u=http://www.example.com/",
        "https://t.co/r?url=https://a.example.org/p?x=1",
        "http://a.com/r/http://b.com/x",      # embedded in path
    ]

    def _spark_claims(self, spark):
        from pyspark.sql import functions as F

        from webcrawler_spark.operators.admission import is_definitely_canonical

        df = spark.createDataFrame([(u,) for u in self.CORPUS], "url: string")
        return {
            r["url"]: bool(r["c"])
            for r in df.select(
                "url", is_definitely_canonical(F.col("url")).alias("c")
            ).collect()
        }

    def test_claimed_urls_are_fixed_points(self, spark):
        from webcrawler_spark.urlnorm import canonicalize

        claims = self._spark_claims(spark)
        claimed = [u for u, c in claims.items() if c]
        assert claimed, "predicate should claim at least the clean URLs"
        for u in claimed:
            assert canonicalize(u) == u, u

    def test_claims_superset_of_regex_spec(self, spark):
        import re as _re

        from webcrawler_spark.operators.admission import (
            _DOT_SEGMENT_RE,
            _FAST_CANONICAL_RE,
        )

        claims = self._spark_claims(spark)
        for u in self.CORPUS:
            spec = bool(_re.search(_FAST_CANONICAL_RE, u)) and not _re.search(
                _DOT_SEGMENT_RE, u
            )
            if spec:
                assert claims[u], f"regex spec claims {u} but native does not"

    def test_embedded_scheme_host_extraction(self, spark):
        """Host/path of a canonical URL with an embedded absolute URL must be
        extracted relative to the FIRST '://' (whitelist-bypass guard,
        reference safety invariant scheduler/scheduler.go:555)."""
        from pyspark.sql import functions as F

        from webcrawler_spark.functions.urls import (
            url_host_canonical,
            url_path_canonical,
        )

        cases = [
            ("http://evil.biz/r?u=http://www.example.com/", "evil.biz", "/r"),
            ("https://t.co/r?url=https://a.example.org/p?x=1", "t.co", "/r"),
            ("http://a.com/r/http://b.com/x", "a.com", "/r/http://b.com/x"),
            ("http://h.com/a/b?q=1", "h.com", "/a/b"),
        ]
        df = spark.createDataFrame([(u,) for u, _, _ in cases], "url: string")
        got = {
            r["url"]: (r["h"], r["p"])
            for r in df.select(
                "url",
                url_host_canonical(F.col("url")).alias("h"),
                url_path_canonical(F.col("url")).alias("p"),
            ).collect()
        }
        for u, host, path in cases:
            assert got[u] == (host, path), (u, got[u])

    def test_fixture_urls_fixed_points_when_claimed(self, spark):
        from pyspark.sql import functions as F

        from webcrawler_spark.fixtures import generate
        from webcrawler_spark.operators.admission import is_definitely_canonical
        from webcrawler_spark.urlnorm import canonicalize

        pages, _, _ = generate(n_pages=50, seed=3)
        urls = sorted({p["url"] for p in pages})
        df = spark.createDataFrame([(u,) for u in urls], "url: string")
        for r in df.select(
            "url", is_definitely_canonical(F.col("url")).alias("c")
        ).collect():
            if r["c"]:
                assert canonicalize(r["url"]) == r["url"], r["url"]


def test_canonicalizer_runs_once_per_row(spark):
    """The executed plan of canonicalize_candidates invokes the Python
    canonicalizer in ONE ArrowEvalPython node: the ``url IS NOT NULL``
    filter Catalyst pushes below the projection must not run it again."""
    from webcrawler_spark.operators.admission import canonicalize_candidates

    cand = spark.createDataFrame(
        [("HTTP://H.com/a/../b", 0, None, 0), ("http://h.com/c", 1, "", 1),
         ("javascript:void(0)", 1, "", 2), (None, 1, "", 3)],
        "url string, depth long, parent_url string, link_pos long",
    )
    out = canonicalize_candidates(cand)
    assert sorted(r["url"] for r in out.collect()) == [
        "http://h.com/b", "http://h.com/c",
    ]
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("ArrowEvalPython") == 1, plan
