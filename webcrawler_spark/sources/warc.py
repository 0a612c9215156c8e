"""WARC source — read Web ARChive files into the pages-table shape.

The north-star input is "Iceberg tables of Common-Crawl-style web pages"
(BASELINE.json input_hint); Common Crawl itself ships WARC, so a real
engine needs WARC -> table ingestion. The reference fetches live HTTP
(exampes/finder/internal/client.go) and has no archive reader; this is
the batch-source analog of its downloader.

Format (ISO 28500, the subset Common Crawl emits): a WARC file is a
concatenation of records; each record is

    WARC/1.0\r\n
    <name>: <value>\r\n ...          (WARC headers)
    \r\n
    <Content-Length bytes of block>  (for response records: an HTTP
    \r\n\r\n                          message — status line, headers,
                                      \r\n\r\n, body)

Common Crawl gzips each record as its OWN gzip member and concatenates
the members (so a range request can decompress one record); the reader
handles both plain and member-concatenated .gz via a zlib loop.

Distribution model: `spark.read.format("binaryFile")` lists the archive
files into tasks (one file per row — WARC files are written ~1 GB for
exactly this reason), and an Arrow `mapInPandas` parses each file's
records. Parsing is per-file independent — embarrassingly parallel, no
shuffle; the Python cost is the real codec work (same budget class as
the HTML parse UDF). Malformed records don't kill the task: each emits
an error row (url NULL, error set) — the same row-level error channel
the crawl's parse stage uses (plans/crawl.py).

The writer exists for fixtures/tests and round-trip verification.
"""

from __future__ import annotations

import io
import zlib
from typing import Iterable, Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    BinaryType,
    LongType,
    StringType,
    StructField,
    StructType,
)

RECORD_SCHEMA = StructType(
    [
        StructField("warc_file", StringType()),
        StructField("record_idx", LongType()),
        StructField("url", StringType()),
        StructField("warc_date", StringType()),
        StructField("warc_type", StringType()),
        StructField("http_status", LongType()),
        StructField("mime", StringType()),
        StructField("body", BinaryType()),
        StructField("error", StringType()),
    ]
)

_CRLF = b"\r\n"


# ----------------------------------------------------------------- writer ----

def warc_record_bytes(
    url: str,
    date: str,
    payload: bytes,
    status: int = 200,
    mime: str = "text/html",
    warc_type: str = "response",
) -> bytes:
    """One WARC/1.0 response record (HTTP message as the block)."""
    http = (
        f"HTTP/1.1 {status} OK\r\n"
        f"Content-Type: {mime}\r\n"
        f"Content-Length: {len(payload)}\r\n\r\n"
    ).encode("ascii") + payload
    head = (
        "WARC/1.0\r\n"
        f"WARC-Type: {warc_type}\r\n"
        f"WARC-Target-URI: {url}\r\n"
        f"WARC-Date: {date}\r\n"
        "Content-Type: application/http; msgtype=response\r\n"
        f"Content-Length: {len(http)}\r\n\r\n"
    ).encode("ascii")
    return head + http + _CRLF + _CRLF


def write_warc(
    records: Iterable[tuple[str, str, bytes]],
    path: str,
    gzip_members: bool = False,
) -> int:
    """Write (url, date, payload) records to one WARC file; gzip_members
    compresses each record as its own gzip member (Common Crawl layout).
    Returns the record count."""
    import gzip as _gzip

    n = 0
    with open(path, "wb") as f:
        for url, date, payload in records:
            raw = warc_record_bytes(url, date, payload)
            f.write(_gzip.compress(raw, 6) if gzip_members else raw)
            n += 1
    return n


WRITE_MANIFEST_SCHEMA = StructType(
    [
        StructField("warc_file", StringType()),
        StructField("n_records", LongType()),
        StructField("n_bytes", LongType()),
    ]
)


def write_warc_sink(
    pages: DataFrame,
    out_dir: str,
    files: int | None = None,
    gzip_members: bool = True,
    url_col: str = "url",
    ts_col: str = "warc_ts",
    body_col: str = "html",
) -> DataFrame:
    """Distributed pages-table -> WARC export (the sink twin of
    :func:`read_warc`): each task writes ONE ``part-<id>.warc[.gz]`` file
    of WARC/1.0 response records, Common-Crawl layout (per-record gzip
    members, so downstream range requests decompress one record).

    Deterministic output: rows are hash-partitioned and sorted on the URL
    column, and the file name is the partition id — same input, same
    ``files``, byte-identical archive set on any cluster. (A range
    partitioning would sample its bounds with a seed that changes per
    job, so the same row could land in a different file.) Content-Type
    comes from the URL extension (the same mapping the crawl's fetch uses)
    and WARC-Date from ``ts_col`` (UTC, second granularity; NULL -> epoch).

    Returns the lazy one-row-per-file manifest (warc_file, n_records,
    n_bytes); any action on it performs the export. Task retries rewrite
    their partition's file in place (open 'wb' truncates), so a failed
    attempt cannot duplicate records in a file. Speculative execution must
    be off: two live attempts of one task write the same local path. The
    directory is not committed atomically; wrap in a staging-dir rename
    (RoundStore.write_export pattern) if the destination must flip
    all-or-nothing."""
    import os

    import pandas as pd
    from pyspark import TaskContext
    from pyspark.sql import functions as F

    from ..functions import urls as U

    os.makedirs(out_dir, exist_ok=True)
    n_files = files or pages.sparkSession.sparkContext.defaultParallelism
    src = pages.select(
        F.col(url_col).alias("u"),
        F.date_format(
            F.coalesce(
                F.col(ts_col).cast("timestamp"),
                F.lit("1970-01-01 00:00:00").cast("timestamp"),
            ),
            "yyyy-MM-dd'T'HH:mm:ss'Z'",
        ).alias("d"),
        F.col(body_col).cast("binary").alias("b"),
        F.substring_index(U.content_type_for(F.col(url_col)), ";", 1).alias("m"),
    ).repartition(n_files, "u").sortWithinPartitions("u")

    suffix = ".warc.gz" if gzip_members else ".warc"

    def write(batches):
        import gzip as _gzip

        pid = TaskContext.get().partitionId()
        path = os.path.join(out_dir, f"part-{pid:05d}{suffix}")
        n = total = 0
        with open(path, "wb") as f:
            for pdf in batches:
                for u, d, b, m in zip(pdf["u"], pdf["d"], pdf["b"], pdf["m"]):
                    raw = warc_record_bytes(
                        str(u), str(d), bytes(b) if b is not None else b"",
                        mime=str(m),
                    )
                    # mtime=0 keeps the gzip header clock-free — the
                    # byte-identical-output promise above
                    out = (
                        _gzip.compress(raw, 6, mtime=0) if gzip_members else raw
                    )
                    f.write(out)
                    n += 1
                    total += len(out)
        if n == 0:
            os.remove(path)  # empty partition: no empty archive
            return
        yield pd.DataFrame(
            [{"warc_file": path, "n_records": n, "n_bytes": total}]
        )

    return src.mapInPandas(write, WRITE_MANIFEST_SCHEMA)


# ----------------------------------------------------------------- parser ----

def _gunzip_members(data: bytes) -> bytes:
    """Decompress concatenated gzip members (Common Crawl per-record)."""
    out = io.BytesIO()
    pos = 0
    while pos < len(data):
        d = zlib.decompressobj(wbits=zlib.MAX_WBITS | 16)
        out.write(d.decompress(data[pos:]))
        if not d.eof:  # truncated final member: surface what we got
            break
        pos = len(data) - len(d.unused_data)
        if not d.unused_data:
            break
    return out.getvalue()


def parse_warc_bytes(data: bytes, source: str = "") -> Iterator[dict]:
    """Yield record dicts (RECORD_SCHEMA shape) from raw WARC bytes.
    Tolerant: a malformed record yields ONE error row and parsing resumes
    at the next 'WARC/' magic (row-level errors, not task failures)."""
    if data[:2] == b"\x1f\x8b":
        data = _gunzip_members(data)
    pos, idx = 0, 0
    while True:
        start = data.find(b"WARC/", pos)
        if start < 0:
            break
        try:
            head_end = data.index(_CRLF + _CRLF, start)
        except ValueError:
            yield _err_row(source, idx, "truncated WARC header")
            break
        headers: dict[str, str] = {}
        for line in data[start:head_end].split(_CRLF)[1:]:
            k, sep, v = line.partition(b":")
            if sep:
                headers[k.strip().decode("latin-1").lower()] = (
                    v.strip().decode("latin-1")
                )
        try:
            length = int(headers["content-length"])
        except (KeyError, ValueError):
            yield _err_row(source, idx, "missing/bad Content-Length")
            pos = head_end + 4
            idx += 1
            continue
        block = data[head_end + 4 : head_end + 4 + length]
        pos = head_end + 4 + length
        if len(block) < length:
            yield _err_row(source, idx, "truncated record block")
            break
        row = {
            "warc_file": source,
            "record_idx": idx,
            "url": headers.get("warc-target-uri"),
            "warc_date": headers.get("warc-date"),
            "warc_type": headers.get("warc-type"),
            "http_status": None,
            "mime": None,
            "body": block,
            "error": None,
        }
        if "msgtype=response" in headers.get("content-type", ""):
            row.update(_split_http(block))
        yield row
        idx += 1


def _err_row(source: str, idx: int, msg: str) -> dict:
    return {
        "warc_file": source, "record_idx": idx, "url": None,
        "warc_date": None, "warc_type": None, "http_status": None,
        "mime": None, "body": None, "error": msg,
    }


def _split_http(block: bytes) -> dict:
    """Split an HTTP response message into (status, mime, body)."""
    try:
        head_end = block.index(_CRLF + _CRLF)
    except ValueError:
        return {"error": "bad HTTP message", "body": block}
    head_lines = block[:head_end].split(_CRLF)
    try:
        status = int(head_lines[0].split()[1])
    except (IndexError, ValueError):
        return {"error": "bad HTTP status line", "body": block}
    mime = None
    for line in head_lines[1:]:
        k, sep, v = line.partition(b":")
        if sep and k.strip().lower() == b"content-type":
            mime = v.strip().decode("latin-1").split(";")[0]
    return {"http_status": status, "mime": mime, "body": block[head_end + 4 :]}


def read_warc(
    spark: SparkSession, path: str, glob: str = "*.warc*"
) -> DataFrame:
    """WARC files under ``path`` (dir or single file) -> one row per
    record; ``glob`` filters file names when ``path`` is a directory.

    binaryFile loads each file whole into its task (bounded by WARC file
    sizing, ~1 GB convention); records stream out of the Arrow iterator
    in batches, so peak memory is file + one batch."""
    import os

    import pandas as pd

    reader = spark.read.format("binaryFile")
    if not os.path.isfile(path):
        reader = reader.option("pathGlobFilter", glob)
    files = reader.load(path)

    def parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = [f.name for f in RECORD_SCHEMA.fields]
        for pdf in batches:
            for fpath, content in zip(pdf["path"], pdf["content"]):
                rows = list(parse_warc_bytes(bytes(content), source=str(fpath)))
                if rows:
                    yield pd.DataFrame(rows, columns=cols)

    return files.select("path", "content").mapInPandas(parse, RECORD_SCHEMA)
