"""Sharded bloom filter over the URL-seen set (NEW per north_rule).

The reference's seen set is an O(1) in-process concurrent map
(cmap/cmap.go); at 10^10 URLs the Spark equivalent — an exact anti-join
against a 10^10-row table — shuffles every candidate every round. This
bloom is the front filter: candidates that are *definitely new* skip the
anti-join entirely; only bloom-positive ("maybe seen") candidates reach the
exact join, which remains the source of truth — a bloom false positive can
therefore never lose a URL, and false negatives are impossible by
construction.

Design (scales to 10^10 keys):

* the key space is sharded by the first hex nibbles of url_sha1 into
  2^shard_bits independent filters, so each shard's bit array stays small
  enough for one task to hold (BloomTable.split ships each probe task one
  shard) and filters can be built/updated per partition of a seen table
  bucketed the same way;
* per-partition build: mapInArrow computes a partial bitmap per input
  partition (these are the "per-partition delta filters" — each crawl round
  only the seen-DELTA's partials are built and OR-ed into the persisted
  bitmap table via BloomTable.merge_delta; the full corpus is scanned only
  at the initial build and at geometric capacity rebuilds);
* k hash positions derive from the sha1 hex itself (Kirsch-Mitzenmacher:
  pos_i = h1 + i*h2 mod m), vectorized with numpy — no per-row Python.
"""

from __future__ import annotations

import math
from typing import Iterator

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from ..session import release


def _hashes(sha1_hex: pd.Series) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(shard_key_u32, h1, h2) — all derived from the hex digest itself,
    vectorized via fixed-width byte views (no per-row Python)."""
    a = sha1_hex.to_numpy(dtype="U40")
    # U40 -> 4 bytes per char little-endian codepoints
    codes = a.view(np.uint32).reshape(len(a), 40)
    # hex char -> value: '0'-'9' => c-48, 'a'-'f' => c-87
    vals = np.where(codes >= 97, codes - 87, codes - 48).astype(np.uint64)
    def slice_val(lo: int, hi: int) -> np.ndarray:
        out = np.zeros(len(a), dtype=np.uint64)
        for i in range(lo, hi):
            out = out * np.uint64(16) + vals[:, i]
        return out
    shard_key = slice_val(0, 8)     # first 32 bits
    h1 = slice_val(8, 23)           # 60 bits
    h2 = slice_val(23, 38) | np.uint64(1)  # odd
    return shard_key, h1, h2


def _positions(h1: np.ndarray, h2: np.ndarray, m: int, k: int) -> list[np.ndarray]:
    m = np.uint64(m)
    return [(h1 + np.uint64(i) * h2) % m for i in range(k)]


def _or_merge(pdf: pd.DataFrame) -> pd.DataFrame:
    out = np.frombuffer(pdf["bitmap"].iloc[0], dtype=np.uint8).copy()
    for b in pdf["bitmap"].iloc[1:]:
        out |= np.frombuffer(b, dtype=np.uint8)
    return pd.DataFrame(
        {"shard": [pdf["shard"].iloc[0]], "bitmap": [out.tobytes()]}
    )


def _shard_expr(key_col, shard_bits: int):
    """Native shard id of a sha1-hex key: first 8 hex chars as uint32
    >> (32 - shard_bits). Must match _hashes exactly."""
    return F.shiftright(
        F.conv(F.substring(key_col, 1, 8), 16, 10).cast("long"), 32 - shard_bits
    )


class BloomTable:
    """The 10^10-key bloom: bitmaps live in a (shard, bitmap) DataFrame that
    is NEVER collected to the driver and never broadcast whole.

    ``split`` probes by cogrouping the candidates with the bitmap table on
    (shard id, salt): each applyInPandas call receives one group's
    candidate rows plus AT MOST ONE <=16 MB shard bitmap — peak memory per
    task is one shard, not the fleet (the round-2 probe broadcast packed
    every shard into one dict: ~14 GB to the driver AND each executor at
    10^10 keys). The salt replicates each bitmap row `salt_n` times so a
    low shard count still fans out across all cores; replication shuffle
    volume is bounded by ~2 x cores x 16 MB, independent of n_seen.

    The exact anti-join downstream remains the source of truth for the
    bloom-positive rows.
    """

    MAX_SHARD_BYTES = 16 << 20  # per-shard bitmap cap: one task holds one

    def __init__(self, shard_bits: int, m_bits_per_shard: int, k: int,
                 bitmaps: DataFrame, capacity_keys: int):
        self.shard_bits = shard_bits
        self.m = m_bits_per_shard
        self.k = k
        # keys the (shard_bits, m, k) geometry was sized for at target fpp;
        # inserting past this degrades fpp — callers rebuild then
        self.capacity_keys = capacity_keys
        self.bitmaps = bitmaps  # persisted by build, checkpointed by merge

    @classmethod
    def plan(cls, n_seen: int, fpp: float = 0.01) -> tuple[int, int]:
        """Size the filter for n_seen keys: -> (shard_bits, keys_per_shard).

        shard_bits grows until every shard's bitmap fits MAX_SHARD_BYTES
        (16 MB); keys_per_shard carries a 1.2x safety factor.
        At n=10^10, fpp=0.01 this lands at 2^10 shards of ~12 MB — each
        partial stays executor/driver friendly, vs. a single 12 GB bitmap.
        """
        n_eff = max(1, n_seen) * 1.2  # safety factor, applied before sizing
        cap_bits = cls.MAX_SHARD_BYTES * 8
        m_total = -n_eff * math.log(fpp) / (math.log(2) ** 2)
        shard_bits = 0
        while m_total / (1 << shard_bits) > cap_bits and shard_bits < 24:
            shard_bits += 1
        keys_per_shard = max(1024, math.ceil(n_eff / (1 << shard_bits)))
        return shard_bits, keys_per_shard

    @staticmethod
    def _optimal_m(n: int, fpp: float) -> int:
        m = int(-n * math.log(fpp) / (math.log(2) ** 2))
        return max(64, (m + 63) // 64 * 64)  # byte/word aligned

    @classmethod
    def build(cls, seen: DataFrame, key_col: str = "url_sha1",
              fpp: float = 0.01, shard_bits: int | None = None,
              n_seen: int | None = None,
              headroom: float = 1.0) -> "BloomTable":
        """Build from a seen table, distributed end-to-end:

        1. sizing from the key count alone (counted when n_seen is not
           given): plan() picks the shard count, or an explicit shard_bits
           sizes each shard for the keys that land in it; `headroom`
           over-sizes by that factor so merge_delta can add keys without
           an immediate rebuild;
        2-4. see _bitmap_table (shard-repartitioned partials, cluster-side
           OR-merge; nothing reaches the driver).
        """
        if n_seen is None:
            n_seen = seen.count()
        n_seen = math.ceil(max(1, n_seen) * max(1.0, headroom))
        if shard_bits is None:
            shard_bits, per_shard = cls.plan(n_seen, fpp)
        else:
            # size each shard for the keys that will actually land in it
            # (deriving from plan()'s AUTO shard count instead would e.g.
            # pack n keys meant for 2^auto shards into 2^shard_bits and
            # saturate the filter)
            per_shard = max(1024, math.ceil(n_seen * 1.2 / (1 << shard_bits)))
        m = cls._optimal_m(per_shard, fpp)
        k = max(1, round(m / per_shard * math.log(2)))
        bitmaps = cls._bitmap_table(seen, key_col, shard_bits, m, k)
        return cls(shard_bits, m, k, bitmaps.persist(StorageLevel.MEMORY_AND_DISK),
                   per_shard * (1 << shard_bits))

    @staticmethod
    def _bitmap_table(keys: DataFrame, key_col: str, shard_bits: int,
                      m: int, k: int, merge: bool = True) -> DataFrame:
        """(shard, bitmap) table for `keys` at EXACT (shard_bits, m, k) —
        the low-level builder shared by full builds and delta merges.

        1. repartition the keys BY SHARD ID so each input partition builds
           bitmaps for (mostly) one shard — without this every partition
           would emit a partial for every shard: partitions x shards x m/8
           bytes of shuffle at 10^10 scale;
        2. per-partition partial bitmaps (mapInArrow, numpy-vectorized);
        3. when merge=True, OR-merge per shard INSIDE the cluster
           (groupBy(shard) + applyInPandas) — the driver never sees the
           per-partition partials."""
        m_bytes = m // 8
        sb = shard_bits

        def build_partials(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
            local: dict[int, np.ndarray] = {}
            for batch in batches:
                s = pd.Series(batch.column(0).to_pandas())
                if len(s) == 0:
                    continue
                shard_key, h1, h2 = _hashes(s)
                shard_ids = (shard_key >> np.uint64(32 - sb)).astype(np.int64) \
                    if sb else np.zeros(len(s), dtype=np.int64)
                positions = _positions(h1, h2, m, k)
                for sid in np.unique(shard_ids):
                    bitmap = local.setdefault(int(sid), np.zeros(m_bytes, dtype=np.uint8))
                    mask = shard_ids == sid
                    for pos in positions:
                        p = pos[mask]
                        np.bitwise_or.at(
                            bitmap,
                            (p >> np.uint64(3)).astype(np.int64),
                            (np.uint8(1) << (p & np.uint64(7)).astype(np.uint8)),
                        )
            for sid, bitmap in local.items():
                yield pa.RecordBatch.from_pydict(
                    {"shard": pa.array([sid], type=pa.int64()),
                     "bitmap": pa.array([bitmap.tobytes()], type=pa.binary())}
                )

        keyed = keys.select(F.col(key_col).cast("string").alias("_k"))
        if sb:
            keyed = keyed.repartition(1 << sb, _shard_expr(F.col("_k"), sb))

        partials = keyed.mapInArrow(build_partials, "shard long, bitmap binary")
        if not merge:
            return partials
        return partials.groupBy("shard").applyInPandas(
            _or_merge, "shard long, bitmap binary"
        )

    def merge_delta(self, delta: DataFrame, key_col: str = "url_sha1") -> "BloomTable":
        """OR-merge a key DELTA into the bitmaps — the per-round maintenance
        path. Cost is O(|delta| scan + one shuffle bounded by the FILTER
        size (2^shard_bits rows x m/8 bytes), independent of n_seen — vs a
        full rebuild's complete scan + shard-shuffle of all 10^10 seen keys
        every round. Geometry (shard_bits, m, k) is unchanged, so merged
        membership == membership in (old ∪ delta) exactly; capacity
        accounting is the caller's job via capacity_keys.

        The merged table is localCheckpoint()ed: it is state carried across
        crawl rounds, and without truncation its lineage would chain one
        union+groupBy per round for the life of the crawl. A lost executor
        fails the round instead of recomputing it; the re-submitted crawl
        rebuilds the bloom from its committed seen table."""
        partials = self._bitmap_table(
            delta, key_col, self.shard_bits, self.m, self.k, merge=False
        )
        merged = (
            self.bitmaps.unionByName(partials)
            .groupBy("shard")
            .applyInPandas(_or_merge, "shard long, bitmap binary")
            .localCheckpoint(eager=True)
        )
        self.unpersist()
        return BloomTable(self.shard_bits, self.m, self.k, merged,
                          self.capacity_keys)

    def unpersist(self) -> None:
        release(self.bitmaps)

    def split(self, df: DataFrame, key_col: str = "url_sha1",
              scratch: list | None = None) -> tuple[DataFrame, DataFrame]:
        """df -> (maybe_seen, definitely_new), one distributed probe pass.

        The tagged output is persisted (and appended to ``scratch`` for the
        caller to unpersist) so the two returned branches share ONE probe
        execution — without it each branch would re-run the cogroup.
        """
        from pyspark.sql import types as T

        spark = df.sparkSession
        sb, m, k = self.shard_bits, self.m, self.k
        n_shards = 1 << sb
        par = spark.sparkContext.defaultParallelism
        salt_n = max(1, -(-2 * par // n_shards))  # ceil(2*par / shards)

        key = F.col(key_col)
        shard = _shard_expr(key, sb) if sb else F.lit(0).cast("long")
        cand = df.withColumn("_shard", shard).withColumn(
            "_salt", F.pmod(F.xxhash64(key), F.lit(salt_n)).cast("long")
        )
        bm = self.bitmaps.select(
            F.col("shard").alias("_shard"),
            F.explode(
                F.sequence(F.lit(0).cast("long"), F.lit(salt_n - 1).cast("long"))
            ).alias("_salt"),
            "bitmap",
        )

        fields = df.schema.fields
        out_schema = T.StructType(
            list(fields) + [T.StructField("_maybe_seen", T.BooleanType())]
        )
        names = [f.name for f in fields]

        def probe(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
            out = left[names].copy() if len(left) else left.reindex(columns=names)
            # invariant under test: a probe call never holds more than ONE
            # shard bitmap (the whole point vs the broadcast-all design)
            if len(right) > 1:
                raise AssertionError(
                    f"probe group got {len(right)} bitmaps for one shard"
                )
            if len(right) == 0 or len(left) == 0:
                # no bitmap: the shard has no seen keys -> definitely new
                out["_maybe_seen"] = np.zeros(len(out), dtype=bool)
                return out
            # every row of the group is in this bitmap's shard
            bitmap = np.frombuffer(bytes(right["bitmap"].iloc[0]), dtype=np.uint8)
            _, h1, h2 = _hashes(left[key_col])
            hit = np.ones(len(left), dtype=bool)
            for p in _positions(h1, h2, m, k):
                byte = bitmap[(p >> np.uint64(3)).astype(np.int64)]
                hit &= ((byte >> (p & np.uint64(7)).astype(np.uint8)) & 1).astype(bool)
            out["_maybe_seen"] = hit
            return out

        tagged = (
            cand.groupBy("_shard", "_salt")
            .cogroup(bm.groupBy("_shard", "_salt"))
            .applyInPandas(probe, out_schema)
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        if scratch is not None:
            scratch.append(tagged)
        maybe = tagged.filter(F.col("_maybe_seen")).drop("_maybe_seen")
        new = tagged.filter(~F.col("_maybe_seen")).drop("_maybe_seen")
        return maybe, new
