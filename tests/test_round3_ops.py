"""Round-3 operators: PageRank, sampling, packing, snapshot diff,
inverted index / term ranking, WARC source.

Each operator's contract query is hash-checked against DuckDB by the
driver; these tests pin the SEMANTICS independently — pure-Python
re-derivations on tiny inputs, invariants, and format round-trips."""

from __future__ import annotations

import gzip

import pytest
from pyspark.sql import functions as F

from webcrawler_spark.operators import graph, packing, sampling, snapshot, textindex
from webcrawler_spark.sources import warc


# ------------------------------------------------------------- pagerank ----

def _py_pagerank(n, edges, iters):
    """Single-threaded integer-unit PageRank, same semantics as the op."""
    from collections import defaultdict

    base = graph.UNIT // n
    out = defaultdict(list)
    for s, d in edges:
        out[s].append(d)
    r = {v: base for v in range(n)}
    for _ in range(iters):
        dm = sum(r[v] for v in range(n) if v not in out)
        inc = defaultdict(int)
        for s, dsts in out.items():
            share = r[s] // len(dsts)
            for d in dsts:
                inc[d] += share
        r = {
            v: (15 * base) // 100 + (85 * (inc[v] + dm // n)) // 100
            for v in range(n)
        }
    return r


def test_pagerank_matches_python_reference(spark):
    n = 60
    nodes = spark.range(n).select(F.col("id").alias("node"))
    edges_df = graph.synth_link_graph(nodes, n)
    edges = [(r["src"], r["dst"]) for r in edges_df.collect()]
    got = {
        r["node"]: r["rank_units"]
        for r in graph.pagerank(nodes, edges_df, n, iters=4).collect()
    }
    assert got == _py_pagerank(n, edges, 4)


def test_pagerank_sink_outranks_source(spark):
    # star graph: everyone links to node 0 -> node 0 must dominate
    n = 10
    nodes = spark.range(n).select(F.col("id").alias("node"))
    edges = spark.createDataFrame(
        [(i, 0) for i in range(1, n)], "src: long, dst: long"
    )
    r = {
        row["node"]: row["rank_units"]
        for row in graph.pagerank(nodes, edges, n, iters=5).collect()
    }
    assert r[0] > 5 * max(r[i] for i in range(1, n))


def test_synth_graph_no_self_loops_and_dedup(spark):
    n = 97
    nodes = spark.range(n).select(F.col("id").alias("node"))
    e = graph.synth_link_graph(nodes, n)
    assert e.filter(F.col("src") == F.col("dst")).count() == 0
    assert e.count() == e.distinct().count()


# ------------------------------------------------------------- sampling ----

def test_hash_sample_fraction_and_determinism(spark):
    df = spark.range(20000).select(F.col("id").alias("doc_id"))
    s1 = sampling.hash_sample(df, "doc_id", 0.25, salt="s")
    n1 = s1.count()
    assert abs(n1 / 20000 - 0.25) < 0.02  # uniformity of the md5 bucket
    assert n1 == sampling.hash_sample(df, "doc_id", 0.25, salt="s").count()
    # membership is monotone in the rate: the 25% sample contains the 10% one
    ids25 = {r["doc_id"] for r in s1.collect()}
    ids10 = {
        r["doc_id"]
        for r in sampling.hash_sample(df, "doc_id", 0.10, salt="s").collect()
    }
    assert ids10 <= ids25
    # and stable under corpus growth (prefix of a larger table agrees)
    big = spark.range(40000).select(F.col("id").alias("doc_id"))
    ids25_big = {
        r["doc_id"]
        for r in sampling.hash_sample(big, "doc_id", 0.25, salt="s").collect()
        if r["doc_id"] < 20000
    }
    assert ids25_big == ids25


def test_stratified_topk_exact_k(spark):
    df = spark.range(1000).select(
        F.col("id").alias("doc_id"), (F.col("id") % 3).alias("stratum")
    )
    out = sampling.stratified_topk(df, "stratum", k=7, key_col="doc_id")
    counts = {r["stratum"]: r["n"] for r in
              out.groupBy("stratum").agg(F.count("*").alias("n")).collect()}
    assert counts == {0: 7, 1: 7, 2: 7}
    ranks = [r["sample_rank"] for r in out.filter("stratum = 1").collect()]
    assert sorted(ranks) == list(range(1, 8))


# -------------------------------------------------------------- packing ----

def test_pack_sequences_concat_chunk_semantics(spark):
    rows = [(i, "w " * ((i * 37) % 90 + 1)) for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id: long, text: string")
    out = packing.pack_sequences(df, budget=100, n_shards=4).collect()
    assert len(out) == 200  # every doc assigned exactly once
    by_shard: dict[int, list] = {}
    for r in sorted(out, key=lambda r: (r["shard"], r["doc_id"])):
        by_shard.setdefault(r["shard"], []).append(r)
    for shard, rs in by_shard.items():
        run = 0
        for r in rs:  # replay the concat stream per shard
            assert r["pack_id"] == shard * packing.PACKS_PER_SHARD + run // 100
            assert r["offset_in_pack"] == run % 100
            run += r["n_tokens"]


def test_pack_ids_disjoint_across_shards(spark):
    df = spark.createDataFrame(
        [(i, "a b c") for i in range(100)], "doc_id: long, text: string"
    )
    out = packing.pack_sequences(df, budget=7, n_shards=8)
    pairs = out.select("shard", "pack_id").distinct().collect()
    assert all(
        r["pack_id"] // packing.PACKS_PER_SHARD == r["shard"] for r in pairs
    )


# ------------------------------------------------------------- snapshot ----

def test_snapshot_diff_statuses(spark):
    old = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "doc_id: long, text: string"
    )
    new = spark.createDataFrame(
        [(2, "b"), (3, "c2"), (4, "d")], "doc_id: long, text: string"
    )
    got = {
        r["doc_id"]: r["status"]
        for r in snapshot.snapshot_diff(old, new).collect()
    }
    assert got == {1: "removed", 3: "changed", 4: "added"}  # 2 unchanged


# ------------------------------------------------------------ textindex ----

def test_inverted_index_postings(spark):
    df = spark.createDataFrame(
        [(1, "a b a"), (2, "b c"), (3, "")], "doc_id: long, text: string"
    )
    got = {r["term"]: (r["df"], r["postings"])
           for r in textindex.inverted_index(df).collect()}
    assert got == {"a": (1, "1"), "b": (2, "1,2"), "c": (1, "2")}


def test_top_terms_rank_and_ties(spark):
    df = spark.createDataFrame(
        [(1, "x x y z"), (2, "y z z")], "doc_id: long, text: string"
    )
    out = textindex.top_terms(df, k=2).collect()
    d1 = sorted((r["rank"], r["term"]) for r in out if r["doc_id"] == 1)
    # doc1: x tf=2 df=1 -> 2e9 ; y tf=1 df=2 -> 5e8 ; z tf=1 df=2 -> 5e8 (tie -> y)
    assert d1 == [(1, "x"), (2, "y")]


# ----------------------------------------------------------------- warc ----

def _mk_records(n):
    return [
        (f"https://ex.org/{i}", "2024-01-01T00:00:0%dZ" % (i % 10),
         f"body {i} é".encode("utf-8"))
        for i in range(n)
    ]


@pytest.mark.parametrize("gz", [False, True])
def test_warc_roundtrip(spark, tmp_path, gz):
    recs = _mk_records(5)
    p = str(tmp_path / ("a.warc" + (".gz" if gz else "")))
    assert warc.write_warc(recs, p, gzip_members=gz) == 5
    out = sorted(warc.read_warc(spark, p).collect(), key=lambda r: r["url"])
    assert [r["url"] for r in out] == [u for u, _, _ in recs]
    for r, (u, d, body) in zip(out, recs):
        assert r["error"] is None
        assert r["warc_date"] == d
        assert r["http_status"] == 200
        assert r["mime"] == "text/html"
        assert bytes(r["body"]) == body  # byte-identical payload


def test_warc_truncated_record_is_row_level_error(spark, tmp_path):
    data = b"".join(
        warc.warc_record_bytes(u, d, b) for u, d, b in _mk_records(3)
    )
    p = tmp_path / "t.warc"
    p.write_bytes(data[: len(data) - 10])  # chop into the last block
    rows = list(warc.parse_warc_bytes(p.read_bytes(), source="t"))
    good = [r for r in rows if r["error"] is None]
    bad = [r for r in rows if r["error"] is not None]
    assert len(good) == 2 and len(bad) == 1
    assert "truncated" in bad[0]["error"]


def test_warc_gzip_members_are_individually_framed(tmp_path):
    """Common-Crawl layout: each record its own gzip member — a reader
    that stops at the first member would lose records."""
    recs = _mk_records(4)
    p = str(tmp_path / "m.warc.gz")
    warc.write_warc(recs, p, gzip_members=True)
    raw = open(p, "rb").read()
    assert raw.count(b"\x1f\x8b\x08") >= 4  # >= 4 member headers
    # single-member decompress sees ONE record; the member loop sees all 4
    first = gzip.decompress(raw)  # gzip.decompress reads all members in 3.12;
    parsed = list(warc.parse_warc_bytes(raw))  # the parser must regardless
    assert len(parsed) == 4
    assert len(first) >= 1


# ------------------------------------------------------------- sketches ----

def test_hll_estimate_accuracy_and_merge(spark):
    from webcrawler_spark.operators import sketches

    df = spark.range(5000).select(F.col("id").alias("k"))
    regs = sketches.hll_registers(df, "k")
    est = sketches.hll_estimate(
        [(r["bucket"], r["max_rho"]) for r in regs.collect()]
    )
    assert abs(est - 5000) / 5000 < 0.10  # m=256 -> ~6.5% typical rel err
    # merge property: sketch(A) max-merged with sketch(B) == sketch(A∪B)
    a = sketches.hll_registers(df.filter("k < 3000"), "k")
    b = sketches.hll_registers(df.filter("k >= 2000"), "k")  # overlapping
    merged = (
        a.unionByName(b).groupBy("bucket")
        .agg(F.max("max_rho").alias("max_rho"))
    )
    whole = {(r["bucket"], r["max_rho"]) for r in regs.collect()}
    assert {(r["bucket"], r["max_rho"]) for r in merged.collect()} == whole


def test_chunk_documents_windows(spark):
    from webcrawler_spark.operators import packing

    docs = spark.createDataFrame(
        [
            (1, " ".join(f"t{i}" for i in range(10))),  # 10 toks
            (2, "a b c"),                               # shorter than a chunk
            (3, " ".join(f"x{i}" for i in range(8))),   # exact multiple edge
            (4, "   "),                                 # empty -> no chunks
        ],
        "doc_id: long, text: string",
    )
    rows = sorted(
        (r["doc_id"], r["chunk_idx"], r["start_tok"], r["n_tokens"], r["chunk_text"])
        for r in packing.chunk_documents(docs, chunk_tokens=4, overlap=1).collect()
    )
    # doc 1: step 3, ceil((10-1)/3)=3 chunks at 0,3,6; last is full (6..9)
    assert [(r[1], r[2], r[3]) for r in rows if r[0] == 1] == [
        (0, 0, 4), (1, 3, 4), (2, 6, 4)
    ]
    assert rows[0][4] == "t0 t1 t2 t3"
    # overlap continuity: chunk k shares its last `overlap` tokens with k+1
    assert rows[1][4].split()[0] == rows[0][4].split()[-1]
    # doc 2: one short chunk
    assert [(r[1], r[3], r[4]) for r in rows if r[0] == 2] == [(0, 3, "a b c")]
    # doc 3: ceil((8-1)/3)=3 chunks, last has 2 tokens (start 6 of 8)
    assert [(r[1], r[3]) for r in rows if r[0] == 3] == [(0, 4), (1, 4), (2, 2)]
    # doc 4: dropped
    assert not [r for r in rows if r[0] == 4]

    import pytest as _pytest

    with _pytest.raises(ValueError):
        packing.chunk_documents(docs, chunk_tokens=4, overlap=4)


def test_cms_never_underestimates(spark):
    from webcrawler_spark.operators import sketches

    rows = [(f"k{i % 50}",) for i in range(2000)]  # true count 40 each
    df = spark.createDataFrame(rows, "token: string")
    est = {
        r["key"]: r["est"]
        for r in sketches.heavy_hitters(df, "token", threshold=0).collect()
    }
    assert len(est) == 50
    assert all(v >= 40 for v in est.values())  # one-sided error
    # exact recall at the threshold: every true heavy hitter survives
    hh = sketches.heavy_hitters(df, "token", threshold=40)
    assert hh.count() == 50


# ----------------------------------------------------------- as-of join ----

def test_asof_join_semantics(spark):
    from webcrawler_spark.operators import asof

    # ts as naive timestamps; integer seconds for clarity
    L = spark.createDataFrame(
        [(1, "2024-01-01 00:00:05", 100, 0.0),
         (1, "2024-01-01 00:00:10", 101, 0.0),
         (2, "2024-01-01 00:00:01", 102, 0.0)],
        "user_id: long, ts: string, event_id: long, value: double",
    ).withColumn("ts", F.to_timestamp("ts"))
    R = spark.createDataFrame(
        [(1, "2024-01-01 00:00:05", 7, 1.5),   # exact tie: counts (<=)
         (1, "2024-01-01 00:00:05", 9, 2.5),   # same ts: max id (9) wins
         (1, "2024-01-01 00:00:08", 11, 3.5),
         (3, "2024-01-01 00:00:00", 13, 9.9)],
        "user_id: long, ts: string, event_id: long, value: double",
    ).withColumn("ts", F.to_timestamp("ts"))
    got = {
        r["event_id"]: (r["matched_id"], r["matched_value"])
        for r in asof.asof_join(L, R).collect()
    }
    assert got[100] == (9, 2.5)    # tie at :05 -> max-id right row
    assert got[101] == (11, 3.5)   # latest <= :10
    assert got[102] == (None, None)  # user 2 has no purchases


def test_pagerank_early_stop_is_output_identical(spark):
    """The convergence probe breaks only at an exact integer fixed point,
    so early_stop=True must be bit-identical to running every iteration —
    and a converged run at a huge iteration budget equals the plain one."""
    n = 12
    nodes = spark.range(n).select(F.col("id").alias("node"))
    edges = spark.createDataFrame(
        [(i, (i + 1) % n) for i in range(n)] + [(0, 5), (3, 7)],
        "src: long, dst: long",
    )

    def run(iters, early_stop):
        return sorted(
            (r["node"], r["rank_units"])
            for r in graph.pagerank(
                nodes, edges, n, iters=iters, early_stop=early_stop
            ).collect()
        )

    assert run(6, True) == run(6, False)
    # integer quantization reaches an exact fixed point well before 60
    # iterations on 12 nodes; the early-stopped run must land on it too
    assert run(60, True) == run(60, False)


# -------------------------------------------------------- warc sink ----

@pytest.mark.parametrize("n_rows", [60, 20_000])
def test_warc_sink_roundtrip_and_determinism(spark, tmp_path, n_rows):
    """Distributed WARC export: read_warc(write_warc_sink(pages)) must
    reproduce every (url, date, mime, body) exactly; two exports of the
    same input are byte-identical file-for-file (deterministic
    partitioning + in-file order + clock-free gzip members). 20,000 rows
    is past the point where a sampled range partitioning stops seeing
    every row, so its bounds would differ between the exports."""
    import glob
    import os
    from datetime import datetime, timezone

    rows = [
        (
            f"http://h{i % 3}.example.com/p/{i}" + (".jpg" if i % 5 == 0 else ""),
            datetime(2024, 1, 1 + i % 20, i % 24, tzinfo=timezone.utc),
            (f"<html>page {i}</html>" if i % 5 else "IMGBYTES" * (i % 60)).encode(),
        )
        for i in range(n_rows)
    ]
    pages = spark.createDataFrame(rows, "url string, warc_ts timestamp, html binary")

    out1, out2 = str(tmp_path / "w1"), str(tmp_path / "w2")
    m1 = warc.write_warc_sink(pages, out1, files=4).collect()
    m2 = warc.write_warc_sink(pages, out2, files=4).collect()
    assert sum(r["n_records"] for r in m1) == n_rows
    files1 = sorted(glob.glob(os.path.join(out1, "part-*.warc.gz")))
    files2 = sorted(glob.glob(os.path.join(out2, "part-*.warc.gz")))
    assert files1 and len(files1) == len(files2)
    for f1, f2 in zip(files1, files2):
        assert os.path.basename(f1) == os.path.basename(f2)
        with open(f1, "rb") as a, open(f2, "rb") as b:
            assert a.read() == b.read()

    back = warc.read_warc(spark, out1)
    got = {
        r["url"]: (r["warc_date"], r["mime"], bytes(r["body"]), r["http_status"])
        for r in back.collect()
    }
    assert len(got) == n_rows
    for url, ts, body in rows:
        date = ts.strftime("%Y-%m-%dT%H:%M:%SZ")
        mime = "image/jpeg" if url.endswith(".jpg") else "text/html"
        assert got[url] == (date, mime, body, 200), url
