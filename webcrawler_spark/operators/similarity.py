"""Embedding similarity search over an ``array<float>`` column.

Spark-first ANN for training-data pipelines (near-dup mining, semantic
retrieval over crawled documents):

* ``cosine`` — dot/norms as a strict left fold of double products
  (``zip_with`` + ``aggregate``), JVM-side, no UDF. The fold order is the
  oracle contract: DuckDB's ``list_reduce`` folds identically, so scores
  are bit-identical and safe to round + hash-compare.
* ``topk_bruteforce`` — exact top-k: broadcast the (small) query set
  against the full corpus, rank with a window. At 100 TB the corpus side
  stays partition-parallel; the only shuffle is the per-query window,
  which AQE handles (queries ≪ corpus).
* ``sign_bucket`` / ``topk_lsh`` — the scale path: random-hyperplane-LSH
  degenerates to coordinate-sign buckets for the first ``nbits``
  components (deterministic, seedless ⇒ reproducible across engines).
  Bucket-equi-join turns the quadratic cross join into a shuffle-join on
  the bucket key; recall < 1 by construction (candidates must share all
  ``nbits`` signs), which is the standard LSH trade.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def _dvec(v: Column) -> Column:
    return F.transform(v, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    """Left-fold double dot product (cross-engine exact)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm2(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm2(a) * norm2(b))


def sign_bucket(vec: Column, nbits: int = 8) -> Column:
    """LSH bucket id from the signs of the first ``nbits`` components:
    bucket = Σ_i (vec[i] >= 0) << i.  Deterministic and seed-free."""
    out = F.lit(0).cast("long")
    for i in range(nbits):
        bit = F.when(F.element_at(vec, i + 1) >= 0, F.lit(1)).otherwise(F.lit(0))
        out = out + bit.cast("long") * F.lit(1 << i)
    return out


def topk_bruteforce(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k of every query against the corpus (self excluded).

    ``queries`` is broadcast — the corpus never shuffles for the join; the
    cross product is scanned partition-parallel and only (query, score)
    pairs reach the ranking window. Norms are computed ONCE per vector
    before the join (a per-pair norm would redo an O(dim) fold |Q| times
    per corpus row); the double math is unchanged, so scores stay
    oracle-exact.
    Rank order: round(cos, 6) desc, neighbor id asc — fully deterministic.
    """
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"),
        norm2(F.col(vec_col)).alias("qn"),
    )
    c = emb.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv"),
        norm2(F.col(vec_col)).alias("cn"),
    )
    scored = (
        c.join(F.broadcast(q), F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn")), 6
            ).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "cos_sim")
    )


def _lit_dot(vec: Column, vals: list[float]) -> Column:
    """Dot of a column vector against a DRIVER-SIDE literal vector, as the
    same strict left fold ((0 + a1*b1) + a2*b2)... the oracle uses — no
    broadcast-join or shuffle, pure projection inside codegen."""
    out = F.lit(0.0)
    for i, x in enumerate(vals):
        out = out + F.element_at(vec, i + 1).cast("double") * F.lit(float(x))
    return out


def _best_centroid(
    vv: Column, vn: Column, cents: list[tuple[int, list[float]]]
) -> Column:
    """Cosine argmax against literal centroids as ``array_max`` of
    ``struct(score, -cid)`` — max score, tie -> LOWEST cid (the oracle's
    ``ORDER BY score DESC, cid ASC``). Pure projection, zero shuffle."""
    import math

    entries = []
    for cid, cv in cents:
        cn = math.sqrt(sum(x * x for x in cv))
        score = F.round(_lit_dot(vv, cv) / (vn * F.lit(cn)), 6)
        entries.append(F.struct(score.alias("s"), F.lit(-cid).alias("n")))
    return F.array_max(F.array(*entries))


def kmeans_assign(
    emb: DataFrame,
    centroids: list[tuple[int, list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Hard-assign every vector to its nearest trained centroid:
    ``(vec_id, cid, cos_sim)`` — the trainer's projection-only scoring
    exposed as an operator (full scan, no shuffle at all)."""
    v = emb.select(
        F.col(id_col).alias("vec_id"), _dvec(F.col(vec_col)).alias("vv")
    )
    best = _best_centroid(F.col("vv"), norm2(F.col("vv")), centroids)
    return v.select(
        "vec_id",
        (-best["n"]).alias("cid"),
        best["s"].alias("cos_sim"),
    )


def kmeans_centroids(
    emb: DataFrame,
    n_centroids: int = 16,
    n_iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[tuple[int, list[float]]]:
    """Distributed Lloyd's trainer for IVF coarse centroids — closes the
    "k-means-trained centroid table is a drop-in" seam of :func:`topk_ivf`.

    Deterministic and seed-free end-to-end so any engine reproduces the
    identical centroid table:

    * init — the ``n_centroids`` lowest-id vectors (the same rule the
      untrained quantizer uses);
    * assign — cosine argmax computed as a PURE PROJECTION: centroids are
      collected (KB — bounded by n_centroids x dim) and inlined as literal
      fold expressions, exactly how MLlib broadcasts centroids per
      iteration; zero shuffle, no per-vector window;
    * update — ONE ``groupBy(cid)`` with per-component ``avg`` (map-side
      partials), each mean rounded to 6 dp: the rounding quantizes away
      FP summation-order noise, so the next iteration's assignments are
      reproducible bit-for-bit across engines and partitionings;
    * empty cells drop out (their cid simply stops existing), matching
      the SQL twin's GROUP BY.

    Per-iteration cost at 10^9 vectors: one full scan + one shuffle of
    (cid, 64 partial sums) rows — nothing quadratic, no vector shuffle.
    Ties (equal rounded cosine) break toward the LOWEST cid, mirroring
    the oracle's ``ORDER BY score DESC, cid ASC``.

    Early stop: Lloyd's is a fixed-point iteration and the 6-dp rounding
    makes the fixed point exact — once an update returns the SAME centroid
    table, every further iteration recomputes it identically. The
    convergence probe is FREE here (the updated centroids are already on
    the driver each iteration — that is how MLlib broadcasts them too), so
    a converged input skips the remaining scans without changing output.

    Returns the trained centroids as ``[(cid, [double, ...]), ...]``
    (driver-side — they ARE small); feed to :func:`topk_ivf` via
    ``centroids=``.
    """
    v = emb.select(
        F.col(id_col).alias("vid"), _dvec(F.col(vec_col)).alias("vv")
    )
    init = (
        v.orderBy(F.col("vid").asc()).limit(n_centroids).collect()
    )
    cents: list[tuple[int, list[float]]] = [
        (int(r["vid"]), [float(x) for x in r["vv"]]) for r in init
    ]
    if not cents:
        return []
    dim = len(cents[0][1])

    for _ in range(n_iters):
        best = _best_centroid(F.col("vv"), norm2(F.col("vv")), cents)
        assigned = v.select("vid", "vv", (-best["n"]).alias("cid"))
        rows = (
            assigned.groupBy("cid")
            .agg(*[
                F.round(F.avg(F.element_at("vv", i + 1)), 6).alias(f"c{i}")
                for i in range(dim)
            ])
            .collect()
        )
        new_cents = sorted(
            (int(r["cid"]), [float(r[f"c{i}"]) for i in range(dim)])
            for r in rows
        )
        if new_cents == cents:  # exact fixed point (6-dp quantized)
            break
        cents = new_cents
    return cents


def topk_ivf(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_centroids: int = 16,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: list[tuple[int, list[float]]] | None = None,
) -> DataFrame:
    """IVF-style ANN: coarse-quantize the corpus into cells, probe only the
    query's ``nprobe`` nearest cells.

    Coarse centroids are the ``n_centroids`` lowest-id vectors —
    deterministic and seed-free so any engine reproduces the exact cell
    structure (a k-means-trained centroid table is a drop-in replacement:
    the assignment/probe plan below only needs (cid, vector) rows).

    Plan shape at 10^9 vectors: centroids broadcast (tiny); assignment is
    a map-side cross product x n_centroids + one max_by aggregate per
    vector (no data shuffle beyond the groupBy on id); the probe join is a
    shuffle on the cell id — candidates per query ~ nprobe/n_centroids of
    the corpus, the IVF trade. Rank order: round(cos, 6) desc, neighbor
    id asc — deterministic.
    """
    v = emb.select(
        F.col(id_col).alias("vid"),
        F.col(vec_col).alias("vv"),
        norm2(F.col(vec_col)).alias("vn"),
    )
    if centroids is not None:
        # trained centroid table (e.g. kmeans_centroids) — the drop-in
        # replacement path: tiny driver-side list -> broadcast DataFrame
        cent_df = emb.sparkSession.createDataFrame(
            [(cid, cv) for cid, cv in centroids],
            "cid long, cv array<double>",
        )
        centroids_df = cent_df.select(
            "cid", "cv", norm2(F.col("cv")).alias("cn")
        )
    else:
        # TakeOrderedAndProject — distributed top-N, no single-task window
        centroids_df = (
            v.orderBy(F.col("vid").asc())
            .limit(n_centroids)
            .select(F.col("vid").alias("cid"), F.col("vv").alias("cv"),
                    F.col("vn").alias("cn"))
        )
    centroids = centroids_df
    cell_score = F.round(
        dot(F.col("vv"), F.col("cv")) / (F.col("vn") * F.col("cn")), 6
    )

    def assign(side: DataFrame, keep: int) -> DataFrame:
        scored = side.crossJoin(F.broadcast(centroids)).select(
            "vid", "vv", "vn", "cid", cell_score.alias("_cs")
        )
        w = Window.partitionBy("vid").orderBy(
            F.col("_cs").desc(), F.col("cid").asc()
        )
        return (
            scored.withColumn("_cr", F.row_number().over(w))
            .filter(F.col("_cr") <= keep)
            .select("vid", "vv", "vn", "cid")
        )

    corpus_cells = assign(v, 1)
    q = queries.select(
        F.col(id_col).alias("vid"),
        F.col(vec_col).alias("vv"),
        norm2(F.col(vec_col)).alias("vn"),
    )
    probes = assign(q, nprobe).select(
        F.col("vid").alias("query_id"), F.col("vv").alias("qv"),
        F.col("vn").alias("qn"), "cid",
    )
    scored = (
        corpus_cells.join(probes, on="cid")
        .filter(F.col("vid") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vid").alias("neighbor_id"),
            F.round(
                dot(F.col("qv"), F.col("vv")) / (F.col("qn") * F.col("vn")), 6
            ).alias("cos_sim"),
        )
    )  # corpus rows live in exactly ONE cell -> no cross-probe duplicates
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "cos_sim")
    )


def topk_lsh(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 5,
    nbits: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    multiprobe_hamming: int = 1,
) -> DataFrame:
    """Bucketed ANN: rank only candidates in the query's sign bucket(s).

    The bucket equi-join replaces the cross join — at 10^9 vectors this is
    a hash-partitioned join on ``bucket`` (skewed buckets split by AQE),
    with the same deterministic ranking as the exact path.

    multiprobe_hamming=1 (the DEFAULT) probes every bucket at Hamming
    distance <= 1 from the query's own (an nbits+1-row explode of the TINY
    query side — the corpus is untouched): a vector whose first components
    sit near a hyperplane lands one sign flip away, which is exactly the
    recall cliff single-bucket LSH has — the default must not ship the
    cliff. Candidates per query grow ~(nbits+1)x, still nothing like the
    cross join; a corpus vector lives in ONE bucket and the probe buckets
    are distinct, so no (query, neighbor) pair duplicates. The candidate
    superset can only improve top-k recall (any item displacing a true
    top-k hit is itself a true top-k hit) — asserted against brute force
    in tests/test_training_ops.py. Pass 0 to opt out (cheapest probe).
    """
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
        norm2(F.col(vec_col)).alias("qn"),
        sign_bucket(F.col(vec_col), nbits).alias("bucket"),
    )
    if multiprobe_hamming:
        if multiprobe_hamming != 1:
            raise ValueError("only Hamming<=1 multiprobe is implemented")
        probes = F.array(
            F.col("bucket"),
            *[F.col("bucket").bitwiseXOR(F.lit(1 << i)) for i in range(nbits)],
        )
        q = q.withColumn("bucket", F.explode(probes))
    c = emb.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cv"),
        norm2(F.col(vec_col)).alias("cn"),
        sign_bucket(F.col(vec_col), nbits).alias("bucket"),
    )
    scored = (
        c.join(F.broadcast(q), on="bucket")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn")), 6
            ).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "cos_sim")
    )
