"""Checkpointed round storage: atomic per-round commits + resume (NEW).

The reference has only an in-memory status machine (scheduler/status.go);
the north_rule requires every round to commit frontier, seen-set deltas and
per-partition lineage/metrics so a killed job resumes exactly where it
stopped. The natural backend is an Iceberg transaction; this sandbox has no
Iceberg runtime jar, so `RoundStore` implements the same semantics on plain
parquet: write every dataset of the round under a staging directory, then
atomically rename a round manifest into place. A round without a manifest
does not exist — rerunning after a mid-round kill overwrites the orphan
staging data. Table layouts and schemas are Iceberg-compatible, so swapping
the backend is a config change, not a redesign.

Layout:
    <root>/rounds/r=<K>/<name>/          parquet datasets of round K
    <root>/_manifests/round_<K>.json     commit record (written last, atomic)
"""

from __future__ import annotations

import json
import os
import shutil
import threading
import time

from pyspark.sql import DataFrame, SparkSession

from .session import release


def _write_json_atomic(path: str, obj: dict) -> None:
    """Write ``obj`` beside ``path`` and rename it into place: readers see
    the old file or the new one, never a torn write. Every commit point of
    the store (round manifests, the done flip, the store meta) goes through
    this one os.replace."""
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(obj, f)
    os.replace(tmp, path)


class RoundStore:
    def __init__(self, root: str):
        self.root = root
        self._insert_gate: threading.Event | None = None  # set by commit_round
        self.rounds_dir = os.path.join(root, "rounds")
        self.manifest_dir = os.path.join(root, "_manifests")
        os.makedirs(self.rounds_dir, exist_ok=True)
        os.makedirs(self.manifest_dir, exist_ok=True)

    # -- paths -------------------------------------------------------------
    def round_path(self, rnd: int, name: str) -> str:
        return os.path.join(self.rounds_dir, f"r={rnd}", name)

    def _manifest_path(self, rnd: int) -> str:
        return os.path.join(self.manifest_dir, f"round_{rnd}.json")

    # -- commit ------------------------------------------------------------
    def commit_round(self, rnd: int, datasets: dict[str, DataFrame],
                     stats: dict | None = None,
                     extra_writes: list | None = None) -> dict:
        """Write all datasets of a round, then the manifest (atomic rename).

        Returns the manifest dict, including per-dataset row counts under
        "counts" — collected with ``observe()`` DURING each write job, so
        the commit itself produces the round's lineage record and the
        caller never re-reads committed data just to count it.
        """
        from concurrent.futures import ThreadPoolExecutor

        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        observations: dict[str, Observation] = {}

        def write_one(item):
            # concurrent job submission: the datasets are small independent
            # writes (Spark schedules them across the same executors), so
            # commit wall time is max(write) instead of sum(write) — the
            # dominant share of the per-round fixed cost. Thread-safe: each
            # thread touches its own path/Observation; SparkSession job
            # submission is thread-safe by design.
            name, df = item
            path = self.round_path(rnd, name)
            if os.path.exists(path):
                shutil.rmtree(path)  # orphan from a killed, uncommitted run
            obs = Observation()
            observations[name] = obs
            df.observe(obs, F.count(F.lit(1)).alias("rows")).write.mode(
                "overwrite"
            ).parquet(path)

        # extra_writes: zero-arg callables committed with the round (e.g. the
        # bucketed-seen insert). They start alongside the dataset writes and
        # finish before the manifest rename, so a committed manifest implies
        # they completed. A seen insert made here computes its keys at once
        # but lands only after every dataset write has finished (the gate,
        # see append_seen_bucketed): an insert into a table makes Spark drop
        # every cached plan over the table's path, and a dataset write still
        # reading a persisted input derived from it would lose its blocks
        # mid-job ("Block rdd_N_M does not exist")
        gate = threading.Event()
        self._insert_gate = gate
        extra_writes = extra_writes or []
        try:
            with ThreadPoolExecutor(
                max_workers=max(1, min(8, len(datasets)) + len(extra_writes))
            ) as pool:
                extra = [pool.submit(fn) for fn in extra_writes]
                try:
                    for fut in [pool.submit(write_one, item)
                                for item in datasets.items()]:
                        fut.result()
                finally:
                    gate.set()
                for fut in extra:
                    fut.result()
        finally:
            self._insert_gate = None
        counts = {name: int(obs.get["rows"]) for name, obs in observations.items()}
        manifest = {
            "round": rnd,
            "committed_at": time.time(),
            "datasets": sorted(datasets.keys()),
            "counts": counts,
            "stats": stats or {},
            "done": False,
        }
        _write_json_atomic(self._manifest_path(rnd), manifest)  # commit point
        return manifest

    def mark_done(self, rnd: int) -> None:
        """Flip the done flag on an already-committed round (atomic)."""
        manifest = self.manifest(rnd)
        manifest["done"] = True
        _write_json_atomic(self._manifest_path(rnd), manifest)

    # -- resume ------------------------------------------------------------
    def committed_rounds(self) -> list[int]:
        out = []
        for fn in os.listdir(self.manifest_dir):
            if fn.startswith("round_") and fn.endswith(".json"):
                out.append(int(fn[len("round_"):-len(".json")]))
        return sorted(out)

    def last_committed(self) -> int | None:
        rounds = self.committed_rounds()
        return rounds[-1] if rounds else None

    def manifest(self, rnd: int) -> dict:
        with open(self._manifest_path(rnd)) as f:
            return json.load(f)

    def is_done(self) -> bool:
        last = self.last_committed()
        return last is not None and self.manifest(last).get("done", False)

    def read(self, spark: SparkSession, rnd: int, name: str) -> DataFrame:
        return spark.read.parquet(self.round_path(rnd, name))

    def read_all(self, spark: SparkSession, name: str) -> DataFrame | None:
        """Union of a dataset across all committed rounds that wrote it."""
        paths = [self.round_path(r, name) for r in self.committed_rounds()
                 if os.path.exists(self.round_path(r, name))]
        if not paths:
            return None
        return spark.read.parquet(*paths)

    # -- bucketed seen table -------------------------------------------------
    #
    # The anti-join side of admission. Plain per-round parquet deltas force
    # Spark to re-shuffle the FULL seen side on url_sha1 every round (at
    # 10^10 seen URLs that shuffle dwarfs the round). A bucketed datasource
    # table (CLUSTERED BY url_sha1) carries its HashPartitioning into the
    # plan, so the anti-join reads the seen side exchange-free and only the
    # (per-round small) candidate side shuffles — verified by plan assertion
    # in tests/test_seen_bucketed.py. This is the Iceberg `bucket(N,
    # url_sha1)` layout expressed with what the sandbox has; swapping the
    # provider is a DDL change.
    #
    # Crash-safety: rows carry the round number and every read filters
    # `round <= last_committed`, so keys inserted by a round attempt that
    # died before its manifest (orphans) are invisible — the redo of that
    # round re-inserts them (duplicates are harmless to an anti-join and
    # removed by compaction at scale). Catalog metadata is per-session
    # (in-memory catalog); ensure_seen_table() recreates it over the
    # existing bucketed files on resume.

    SEEN_TABLE_SCHEMA = "url_sha1 STRING, round BIGINT"

    @property
    def seen_table(self) -> str:
        import hashlib

        tag = hashlib.md5(os.path.abspath(self.root).encode()).hexdigest()[:12]
        return f"seen_bucketed_{tag}"

    def _seen_base(self) -> str:
        return os.path.join(os.path.abspath(self.root), "seen_bucketed")

    def _seen_location(self, version: int | None = None) -> str:
        """Current (or explicit) data directory of the seen table. The
        directory is VERSIONED so compaction can rewrite into a fresh
        location and commit by atomically advancing `seen_location_v` in
        _store_meta.json — a crash mid-compaction leaves either the old
        pointer (new dir is an orphan, cleaned on the next attempt) or the
        new one (old dir is garbage, cleaned opportunistically)."""
        if version is None:
            version = int(self._read_meta().get("seen_location_v", 0))
        base = self._seen_base()
        return base if version == 0 else f"{base}_v{version}"

    def _meta_path(self) -> str:
        return os.path.join(self.root, "_store_meta.json")

    def _read_meta(self) -> dict:
        if os.path.exists(self._meta_path()):
            with open(self._meta_path()) as f:
                return json.load(f)
        return {}

    def _write_meta(self, meta: dict) -> None:
        _write_json_atomic(self._meta_path(), meta)

    @property
    def seen_buckets(self) -> int:
        """Bucket count pinned in _store_meta.json by ensure_seen_table —
        the one source every appender and counter reads, so a second
        RoundStore over the same root writes the same layout."""
        return int(self._read_meta()["seen_buckets"])

    def check_seen_table_resumable(self) -> None:
        """Refuse to resume a store whose committed seen keys are not in the
        bucketed seen table: a store from before the table existed (no
        ``seen_buckets`` pin) or one written with the retired parquet seen
        backend. Resuming either would read an EMPTY table and silently
        re-admit every URL the store has already crawled."""
        meta = self._read_meta()
        if "seen_buckets" not in meta or meta.get("seen_backend", "bucketed") != "bucketed":
            raise ValueError(
                f"checkpoint at {self.root} has no bucketed seen table "
                f"(_store_meta.json: {meta}); resuming it would re-admit "
                "every URL it already crawled. Start a fresh checkpoint_dir."
            )

    def seen_table_ddl(self, n_buckets: int, provider: str = "parquet",
                       table: str | None = None,
                       location: str | None = None) -> str:
        """The Iceberg seam, as code: both providers declare the IDENTICAL
        relational schema, and the physical layout maps 1:1 — datasource
        `CLUSTERED BY (url_sha1) INTO N BUCKETS` is Iceberg's
        `bucket(N, url_sha1)` partition transform. Swapping providers is
        this DDL plus a catalog config; every reader/writer in this class
        goes through the table name, not the layout."""
        table = table or self.seen_table
        location = location or self._seen_location()
        if provider == "parquet":
            return (
                f"CREATE TABLE IF NOT EXISTS {table} "
                f"({self.SEEN_TABLE_SCHEMA}) USING PARQUET "
                f"CLUSTERED BY (url_sha1) SORTED BY (url_sha1) "
                f"INTO {n_buckets} BUCKETS "
                f"LOCATION '{location}'"
            )
        if provider == "iceberg":
            return (
                f"CREATE TABLE IF NOT EXISTS {table} "
                f"({self.SEEN_TABLE_SCHEMA}) USING iceberg "
                f"PARTITIONED BY (bucket({n_buckets}, url_sha1)) "
                f"LOCATION '{location}'"
            )
        raise ValueError(f"unknown seen-table provider {provider!r}")

    def ensure_seen_table(self, spark: SparkSession, n_buckets: int,
                          provider: str = "parquet") -> str:
        """Create (or re-register after a session change) the bucketed seen
        table. Bucket count and provider are pinned in _store_meta.json on
        first use — they must never change for the life of the store."""
        meta = self._read_meta()
        if "seen_buckets" in meta:
            n_buckets = int(meta["seen_buckets"])
            provider = meta.get("seen_provider", provider)
        else:
            meta["seen_buckets"] = int(n_buckets)
            meta["seen_provider"] = provider
            self._write_meta(meta)
        self._drop_if_location_stale(spark)
        self._clean_stale_seen_dirs()
        # create the location first: for a missing one Spark logs a
        # FileNotFoundException stack trace at CREATE and at the first insert
        os.makedirs(self._seen_location(), exist_ok=True)
        spark.sql(self.seen_table_ddl(n_buckets, provider))
        return self.seen_table

    def _drop_if_location_stale(self, spark: SparkSession) -> None:
        """Crash-window repair for persistent metastores: a compaction
        commits by advancing the location pointer in _store_meta.json, then
        re-points the catalog entry. If the process dies between the two,
        a persistent (Hive/Iceberg) catalog still registers the OLD
        directory — which _clean_stale_seen_dirs is about to delete, so
        CREATE IF NOT EXISTS would be a no-op and the table would read
        EMPTY. Compare the registered location to the committed pointer
        and DROP on mismatch so the re-CREATE registers the right one.
        (A no-op with the default session-scoped in-memory catalog, where
        a dead session takes its registrations with it.)"""
        try:
            if not spark.catalog.tableExists(self.seen_table):
                return
            rows = (
                spark.sql(f"DESCRIBE FORMATTED {self.seen_table}")
                .filter("col_name = 'Location'")
                .collect()
            )
            registered = rows[0]["data_type"] if rows else None
        except Exception:
            return  # unreadable metadata: let the DDL below surface it
        if registered is None:
            return

        def _norm(p: str) -> str:
            for scheme in ("file://", "file:"):
                if p.startswith(scheme):
                    p = p[len(scheme):]
                    break
            return "/" + p.strip("/")

        if _norm(registered) != _norm(self._seen_location()):
            spark.sql(f"DROP TABLE IF EXISTS {self.seen_table}")

    def _clean_stale_seen_dirs(self) -> None:
        """Remove seen-table directories whose version is not the committed
        one: older versions are garbage from completed compactions, newer
        ones are orphans of compactions that crashed before advancing the
        meta pointer. Both are store-owned paths under <root>/."""
        import glob as _glob
        import re as _re

        cur = self._seen_location()
        for d in _glob.glob(self._seen_base() + "*"):
            if d == cur:
                continue
            if _re.fullmatch(_re.escape(self._seen_base()) + r"(_v\d+)?", d):
                shutil.rmtree(d, ignore_errors=True)

    def seen_files_per_bucket(self) -> float:
        """Data files per bucket in the current seen location — each
        append_seen_bucketed adds one file per bucket, so this grows one
        per committed round until compaction rewrites it. A local listing
        (one recursive LIST on an object store); no Spark job. The glob is
        RECURSIVE so both physical layouts count: the parquet datasource
        writes part-* directly under the location, Iceberg writes them
        under data/<partition>/ subdirectories."""
        import glob as _glob

        files = _glob.glob(
            os.path.join(self._seen_location(), "**", "part-*"), recursive=True
        )
        return len(files) / self.seen_buckets

    def compact_seen_bucketed(self, spark: SparkSession, upto: int) -> str:
        """Bucket-preserving compaction: rewrite the seen table into a
        fresh versioned location with ONE file per bucket and one row per
        key (min round), keeping only committed rounds (<= upto) so
        crash-orphan rows are dropped, then commit by atomically advancing
        the location pointer in _store_meta.json. Equivalent to Iceberg's
        rewrite_data_files on the bucket(N, url_sha1) layout. The rewrite
        is one hash-shuffle of the table on url_sha1 (the groupBy reuses
        the repartition's partitioning, and each task writes exactly its
        bucket), run only when files/bucket exceeds the caller's threshold
        — without it, scan planning degrades as one file per bucket per
        round accumulates over thousands of rounds."""
        from pyspark.sql import functions as F

        meta = self._read_meta()
        n = int(meta["seen_buckets"])
        provider = meta.get("seen_provider", "parquet")
        v = int(meta.get("seen_location_v", 0))
        new_v, new_loc = v + 1, self._seen_location(v + 1)
        staging = f"{self.seen_table}_v{new_v}"
        spark.sql(f"DROP TABLE IF EXISTS {staging}")
        shutil.rmtree(new_loc, ignore_errors=True)  # crashed prior attempt
        os.makedirs(new_loc)  # as in ensure_seen_table
        spark.sql(self.seen_table_ddl(n, provider, table=staging, location=new_loc))
        (
            spark.table(self.seen_table)
            .filter(F.col("round") <= F.lit(upto))
            .repartition(n, "url_sha1")
            .groupBy("url_sha1")
            .agg(F.min("round").alias("round"))
            .write.mode("append")
            .insertInto(staging)
        )
        meta["seen_location_v"] = new_v
        self._write_meta(meta)  # atomic commit point
        # re-point the live name (tables are EXTERNAL: drops keep the data)
        spark.sql(f"DROP TABLE IF EXISTS {staging}")
        spark.sql(f"DROP TABLE IF EXISTS {self.seen_table}")
        spark.sql(self.seen_table_ddl(n, provider, location=new_loc))
        shutil.rmtree(self._seen_location(v), ignore_errors=True)
        return new_loc

    def append_seen_bucketed(self, keys: DataFrame, rnd: int) -> None:
        """Insert one round's url_sha1 keys. The pre-repartition on the
        bucket key makes each task hold exactly one bucket's rows (Spark's
        repartition hash == its bucketing hash), so every insert adds ONE
        file per bucket instead of tasks x buckets."""
        from pyspark.sql import functions as F

        n = self.seen_buckets
        staged = keys.select(
            F.col("url_sha1").cast("string").alias("url_sha1"),
            F.lit(rnd).cast("long").alias("round"),
        ).repartition(n, "url_sha1")
        gate = self._insert_gate
        if gate is not None:
            # inside commit_round: shuffle the keys now, beside the dataset
            # writes, and insert once they have all finished
            staged = staged.localCheckpoint()
            gate.wait()
        staged.write.mode("append").insertInto(self.seen_table)
        release(staged)

    def read_seen_bucketed(self, spark: SparkSession, upto: int) -> DataFrame:
        """All committed seen keys (round <= upto) — exchange-free join side."""
        from pyspark.sql import functions as F

        return (
            spark.table(self.seen_table)
            .filter(F.col("round") <= F.lit(upto))
            .select("url_sha1")
        )

    # -- final export ------------------------------------------------------
    def export_path(self) -> str:
        return os.path.join(self.root, "export", "items_sorted")

    def write_export(self, df: DataFrame) -> str:
        """One ordered single-file artifact (the Excel sink's insertion-order
        file, exampes/finder/bm1365Model/JcUx.go:117-148, saved once at
        shutdown — finder.go:122). Staged write + directory rename, so a
        crash mid-export leaves either the old artifact or none."""
        dest = self.export_path()
        tmp = dest + "._tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        df.coalesce(1).write.mode("overwrite").parquet(tmp)
        shutil.rmtree(dest, ignore_errors=True)
        os.replace(tmp, dest)
        return dest

    def read_export(self, spark: SparkSession) -> DataFrame:
        return spark.read.parquet(self.export_path())
