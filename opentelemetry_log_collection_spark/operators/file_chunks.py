"""Chunked + resumable file reading for file_input.

Two scale problems with the whole-file (binaryFile) path:

1. one multi-GB file is ONE row = ONE task — the file serializes
   (/root/reference/operator/input/file/file.go:120-163 reads
   concurrently across files but its unit is also the file);
2. no offset persistence — every run re-ingests everything, where the
   reference fingerprints each file's head and resumes from a stored
   byte offset (operator/input/file/fingerprint.go:24-75,
   file.go:298-361).

This module fixes both with the classic InputSplit recipe:

  - files are planned into newline-aligned byte ranges
    (``plan_chunks``); each range is read by a mapInPandas task that
    seeks to its start, discards the partial line owned by the
    previous range, and reads every line that STARTS inside the range
    (a line crossing the range end belongs to the range it starts in);
  - global per-file line numbers come from a two-phase prefix sum:
    per-chunk local indexes + a tiny per-chunk counts frame cumulated
    per file and broadcast back — the same zero-serialization pattern
    recombine's default-bucket path uses;
  - multiline grouping rides the same machinery: boundary matches
    cumsum locally per chunk, chunk offsets shift them globally, so
    groups spanning chunk boundaries stitch correctly WITHOUT a
    per-file window — chunked multiline is *more* parallel than the
    whole-file path, not less;
  - resume: each file's identity is the md5 of its first
    ``FINGERPRINT_BYTES`` bytes (fingerprint.go:24-41's
    first-N-bytes design). A JSON ledger (durable atomic commit,
    same scheme as checkpoint.py) maps fingerprint -> consumed byte
    offset + emitted line count; a re-run skips unchanged files,
    tails grown files from the stored offset with line numbers
    continuing where they left off, and re-reads truncated/rotated
    files from zero (file.go:298-331's new-file rule).

Execution model: chunk readers ``open()`` paths directly, so workers
must see the same filesystem — true in local mode and on any
shared-FS/NFS cluster, and exactly the reference's own assumption (it
is a node-local file tailer). Byte-range chunking is only legal for
charsets where '\\n' cannot appear inside a multi-byte sequence:
UTF-8, US-ASCII, ISO-8859-1. UTF-16 files take the whole-file path.
"""

from __future__ import annotations

import glob as _glob
import hashlib
import json
import os
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..durable import commit_json

FINGERPRINT_BYTES = 1000  # reference default fingerprint_size

#: charsets where byte-range splitting on '\n' is safe
BYTE_SAFE_CHARSETS = {"UTF-8", "US-ASCII", "ISO-8859-1"}

_PY_CODECS = {"UTF-8": "utf-8", "US-ASCII": "ascii", "ISO-8859-1": "latin-1"}

_CHUNK_SCHEMA = T.StructType(
    [
        T.StructField("path", T.StringType()),
        T.StructField("start", T.LongType()),
        T.StructField("end", T.LongType()),
        T.StructField("chunk_idx", T.LongType()),
        T.StructField("line_base", T.LongType()),
    ]
)

_LINES_SCHEMA = T.StructType(
    [
        T.StructField("path", T.StringType()),
        T.StructField("chunk_idx", T.LongType()),
        T.StructField("line_base", T.LongType()),
        T.StructField("local_no", T.LongType()),
        T.StructField("line", T.StringType()),
    ]
)


def fingerprint(path: str, n_bytes: int = FINGERPRINT_BYTES) -> tuple[str, int]:
    """(md5 hex, length hashed) of the file's first min(size, n_bytes)
    bytes. The reference compares fingerprints by PREFIX
    (fingerprint.go:62-75's StartsWith): a file shorter than the
    window when last seen still matches after it grows, so the ledger
    stores the hashed length and re-verifies exactly that prefix."""
    with open(path, "rb") as f:
        head = f.read(n_bytes)
    return hashlib.md5(head).hexdigest(), len(head)


class OffsetLedger:
    """path -> {fp, fp_len, offset, n_lines}; atomic JSON commit.
    Keyed by path with the prefix-fingerprint as the validity check —
    in-place truncation/rotation invalidates the record (full
    re-read); cross-path rotation tracking (the reference poller's
    fingerprint-keyed matching) is out of scope for a batch source."""

    def __init__(self, checkpoint_dir: str):
        os.makedirs(checkpoint_dir, exist_ok=True)
        self.path = os.path.join(checkpoint_dir, "file_offsets.json")

    def load(self) -> dict:
        if os.path.exists(self.path):
            with open(self.path) as f:
                return json.load(f)
        return {}

    def commit(self, entries: dict) -> None:
        commit_json(self.path, entries, indent=1, sort_keys=True)


def list_files(include: list[str]) -> list[str]:
    """Expand include globs, driver-side (the reference's poller also
    walks the include globs per cycle, finder.go)."""
    out: list[str] = []
    for pat in include:
        out.extend(p for p in _glob.glob(pat) if os.path.isfile(p))
    return sorted(set(out))


def plan_files(
    include: list[str], ledger: dict | None
) -> list[dict]:
    """One plan row per file that has unread bytes:
    {path, fp, start, size, line_base}. Ledger rules mirror
    file.go:298-331: same fingerprint + same size -> skip; grown ->
    tail from stored offset, line numbers continue; shrunk or unknown
    fingerprint -> read whole file from zero."""
    plans = []
    for path in list_files(include):
        size = os.path.getsize(path)
        start, line_base = 0, 0
        if ledger:
            rec = ledger.get(path)
            if rec is not None and rec.get("offset", 0) <= size:
                # re-verify exactly the prefix that was hashed: a grown
                # file still matches, a truncated/rotated one does not
                fp_now, _ = fingerprint(path, int(rec.get("fp_len", 0)) or 1)
                if fp_now == rec.get("fp"):
                    start = int(rec["offset"])
                    line_base = int(rec.get("n_lines", 0))
        if size > start:  # unread bytes (size == start -> consumed)
            fp, fp_len = fingerprint(path)
            plans.append(
                {"path": path, "fp": fp, "fp_len": fp_len, "start": start,
                 "size": size, "line_base": line_base}
            )
    return plans


def plan_chunks(plans: list[dict], chunk_bytes: int) -> list[tuple]:
    """Explode file plans into byte ranges."""
    rows = []
    for p in plans:
        ci = 0
        for s in range(p["start"], p["size"], chunk_bytes):
            rows.append(
                (p["path"], s, min(s + chunk_bytes, p["size"]), ci,
                 p["line_base"])
            )
            ci += 1
    return rows


def _read_range(f, path: str, start: int, end: int) -> list[bytes]:
    """Every raw line that STARTS in [start, end)."""
    if start > 0:
        f.seek(start - 1)
        if f.read(1) != b"\n":
            f.readline()  # partial line owned by the previous range
    else:
        f.seek(0)
    lines = []
    pos = f.tell()
    while pos < end:
        ln = f.readline()
        if not ln:
            break
        lines.append(ln)
        pos = f.tell()
    return lines


def chunked_lines(
    spark: SparkSession, chunks: list[tuple], charset: str
) -> DataFrame:
    """chunks -> (path, chunk_idx, line_base, local_no, line). The
    parallel unit is the RANGE, so one huge file fans out across the
    whole cluster."""
    codec = _PY_CODECS[charset]
    n_part = max(
        1, min(len(chunks), spark.sparkContext.defaultParallelism)
    )
    cdf = spark.createDataFrame(chunks, _CHUNK_SCHEMA).repartition(n_part)

    def read(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out_p, out_c, out_b, out_n, out_l = [], [], [], [], []
            for path, start, end, ci, base in zip(
                pdf["path"], pdf["start"], pdf["end"], pdf["chunk_idx"],
                pdf["line_base"],
            ):
                with open(path, "rb") as f:
                    raw = _read_range(f, path, int(start), int(end))
                for i, ln in enumerate(raw):
                    if ln.endswith(b"\n"):
                        ln = ln[:-1]
                        if ln.endswith(b"\r"):
                            ln = ln[:-1]
                    out_p.append(path)
                    out_c.append(int(ci))
                    out_b.append(int(base))
                    out_n.append(i)
                    # errors='replace' mirrors the JVM decoder's U+FFFD
                    # substitution on malformed input
                    out_l.append(ln.decode(codec, errors="replace"))
            if out_p:
                yield pd.DataFrame(
                    {"path": out_p, "chunk_idx": out_c, "line_base": out_b,
                     "local_no": out_n, "line": out_l}
                )

    return cdf.mapInPandas(read, _LINES_SCHEMA)


def number_and_group(
    lines: DataFrame,
    line_start: str | None,
    line_end: str | None,
) -> DataFrame:
    """(path, chunk-local rows) -> (path, line_no, line) with global
    per-file line numbers and multiline grouping, via the two-phase
    prefix sum: local window per chunk (bounded by chunk size), tiny
    per-chunk totals cumulated per file, broadcast back. No stage ever
    serializes a whole file through one task."""
    from pyspark import StorageLevel
    from pyspark.sql.window import Window

    pattern = line_start or line_end
    d = lines
    if pattern:
        d = d.withColumn("_m", F.col("line").rlike(pattern))
    else:
        d = d.withColumn("_m", F.lit(False))

    wloc = Window.partitionBy("path", "chunk_idx").orderBy("local_no")
    m = F.col("_m").cast(T.IntegerType())
    if line_start:
        lcum = F.sum(m).over(
            wloc.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
    else:
        lcum = F.coalesce(
            F.sum(m).over(wloc.rowsBetween(Window.unboundedPreceding, -1)),
            F.lit(0),
        )
    d = d.withColumn("_lcum", lcum)
    # one materialization feeds the counts aggregate and the row side
    # (same determinism rationale as recombine._tag_default_bucket).
    # Lifetime note: the cache entry lives until the session clears it
    # (Dataset caches are not GC-reclaimed); long-lived sessions doing
    # many ingest runs should spark.catalog.clearCache() between runs.
    d = d.persist(StorageLevel.MEMORY_AND_DISK)
    totals = d.groupBy("path", "chunk_idx").agg(
        F.sum(m).alias("_mc"), F.count(F.lit(1)).alias("_nc")
    )
    wtot = (
        Window.partitionBy("path")
        .orderBy("chunk_idx")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = totals.select(
        "path",
        "chunk_idx",
        F.coalesce(F.sum("_mc").over(wtot), F.lit(0)).alias("_moff"),
        F.coalesce(F.sum("_nc").over(wtot), F.lit(0)).alias("_noff"),
    )
    d = d.join(F.broadcast(offsets), ["path", "chunk_idx"])
    d = d.withColumn(
        "line_no", F.col("line_base") + F.col("local_no") + F.col("_noff")
    )
    if not pattern:
        return d.select("path", "line_no", "line")
    d = d.withColumn("_grp", F.col("_lcum") + F.col("_moff"))
    return (
        d.groupBy("path", "_grp")
        .agg(
            F.min("line_no").alias("line_no"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.struct(
                                F.col("line_no").alias("o"),
                                F.col("line").alias("v"),
                            )
                        )
                    ),
                    lambda x: x.getField("v"),
                ),
                "\n",
            ).alias("line"),
        )
        .select("path", "line_no", "line")
    )


def count_new_lines(
    spark: SparkSession, plans: list[dict], chunk_bytes: int
) -> dict:
    """Lines per file in this run's byte ranges, used by commit() to
    advance each file's n_lines. Re-reads the new region's bytes (the
    unavoidable cost of counting after the sink owns the data) but
    does ONLY that: per-chunk boundary-aligned line counts, no decode,
    no per-line rows — one output row per chunk."""
    chunks = plan_chunks(plans, chunk_bytes)
    if not chunks:
        return {}
    n_part = max(1, min(len(chunks), spark.sparkContext.defaultParallelism))
    cdf = spark.createDataFrame(chunks, _CHUNK_SCHEMA).repartition(n_part)

    def cnt(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            paths, ns = [], []
            for path, start, end in zip(pdf["path"], pdf["start"], pdf["end"]):
                with open(path, "rb") as f:
                    n = len(_read_range(f, path, int(start), int(end)))
                paths.append(path)
                ns.append(n)
            if paths:
                yield pd.DataFrame({"path": paths, "n": ns})

    counts = (
        cdf.mapInPandas(cnt, "path string, n long")
        .groupBy("path")
        .agg(F.sum("n").alias("n"))
        .collect()
    )
    return {r["path"]: r["n"] for r in counts}
