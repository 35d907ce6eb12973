"""Input / output operators (SURVEY.md sections 2.2-2.3).

The reference's connector zoo (file/tcp/udp/journald/k8s/windows
inputs) collapses into table scans here — the engine's source of truth
is the transcript table (transcripts.py). What remains meaningful:

  - generate_input: the reference's synthetic source
    (operator/input/generate/generate.go:50-110) ≙ ``spark.range`` +
    literal columns; our deterministic fixture generator.
  - stdin-style literal input for tests.
  - sinks: stdout (NDJSON debug), file (parquet/json dataset writes ≙
    operator/output/file/file.go:36-130), drop
    (operator/output/drop/drop.go:40-63).

Every input can stamp ``attributes:``/``resource:`` template maps at
creation (operator/helper/input.go:76-95) — mirrored by
``stamp_attributes``/``stamp_resource``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..entry import ENTRY_FIELDS, to_entries
from ..exprs import compile_template
from ..fields import Field, apply_updates, quote
from ..pipeline import Stage, register


def stamp(df: DataFrame, attributes: dict | None, resource: dict | None) -> DataFrame:
    """Stamp EXPR()-template attribute/resource maps at scan time
    (operator/helper/attributer.go:57-74, identifier.go:57-74)."""
    for root, mapping in (("attributes", attributes), ("resource", resource)):
        if not mapping:
            continue
        entries = ", ".join(
            f"{quote(str(k))}, {compile_template(str(v))}" for k, v in mapping.items()
        )
        df = apply_updates(df, Field.parse(root).set_map(f"map({entries})"))
    return df


@register("generate_input")
class GenerateInputStage(Stage):
    """Emit a configured static entry N times
    (operator/input/generate/generate.go:50-110)."""

    type_name = "generate_input"

    def __init__(self, entry: dict | None = None, count: int = 1, **kw):
        super().__init__(**kw)
        self.entry = entry or {}
        self.count = int(count)

    def generate(self, spark: SparkSession) -> DataFrame:
        body = self.entry.get("body", "")
        attrs = self.entry.get("attributes") or {}
        res = self.entry.get("resource") or {}
        df = spark.range(self.count).select(
            F.lit("gen").alias("conv_id"),
            F.col("id").cast(T.IntegerType()).alias("turn_idx"),
            F.lit("").alias("role"),
            F.lit(str(body)).alias("text"),
            F.lit("").alias("tool"),
            F.lit(None).cast(T.TimestampType()).alias("ts"),
        )
        df = to_entries(df)
        return stamp(df, attrs, res)

    def apply(self, df: DataFrame) -> DataFrame:  # source: passthrough
        return df


@register("stdin")
class StdinInputStage(Stage):
    """Line-per-entry local input (operator/input/stdin/stdin.go:43-117)
    ≙ ``spark.createDataFrame`` of driver-read lines — a test/dev path,
    never a cluster-scale source."""

    type_name = "stdin"

    def __init__(self, lines: list[str] | None = None, **kw):
        super().__init__(**kw)
        self.lines = lines

    def generate(self, spark: SparkSession, lines: list[str] | None = None) -> DataFrame:
        import sys

        data = lines if lines is not None else self.lines
        if data is None:
            data = [ln.rstrip("\n") for ln in sys.stdin]
        df = spark.createDataFrame(
            [("stdin", i, "", t, "", None) for i, t in enumerate(data)],
            "conv_id string, turn_idx int, role string, text string, "
            "tool string, ts timestamp",
        )
        return to_entries(df)

    def apply(self, df: DataFrame) -> DataFrame:  # source: passthrough
        return df


class Sink(Stage):
    @property
    def is_sink(self) -> bool:
        return True

    def apply(self, df: DataFrame) -> DataFrame:
        return df

    def write(self, df: DataFrame, base_dir: str) -> None:
        raise NotImplementedError


@register("stdout")
class StdoutSink(Sink):
    """NDJSON to stdout (operator/output/stdout/stdout.go:31-81) —
    debug only; truncated to avoid driver floods."""

    type_name = "stdout"

    def __init__(self, limit: int = 20, **kw):
        super().__init__(**kw)
        self.limit = limit

    def write(self, df: DataFrame, base_dir: str) -> None:
        for row in df.limit(self.limit).toJSON().collect():
            print(row)


@register("file_output")
class FileSink(Sink):
    """Dataset write (operator/output/file/file.go:36-130 writes
    NDJSON lines; a distributed engine writes a parquet dataset —
    format: json gives byte-parity when needed)."""

    type_name = "file_output"

    def __init__(self, path: str | None = None, format: str = "parquet",
                 compression: str | None = None, **kw):
        super().__init__(**kw)
        self.path = path
        self.format = format
        # Spark-native codecs, JVM-side on the write path: NDJSON sinks
        # rotate as .json.gz the way real shippers do; parquet takes
        # its columnar codecs (snappy default when None)
        valid = {
            "json": ("gzip", "bzip2", "deflate", "lz4", "zstd", "none"),
            "parquet": ("snappy", "gzip", "zstd", "lz4", "none"),
        }.get(format, ())
        if compression and compression not in valid:
            raise ValueError(
                f"unsupported compression {compression!r} for "
                f"format {format!r} ({'|'.join(valid) or 'n/a'})"
            )
        self.compression = compression

    def write(self, df: DataFrame, base_dir: str) -> None:
        path = self.path or f"{base_dir}/{self.id}"
        out = df
        if {"conv_id", "turn_idx"} <= set(df.columns):
            # deterministic file contents for fixture equality
            out = df.sortWithinPartitions("conv_id", "turn_idx")
        writer = out.write.mode("overwrite")
        if self.compression:
            writer = writer.option("compression", self.compression)
        if self.format == "json":
            # maps serialize fine as JSON; binary columns are base64
            writer.json(path)
        else:
            writer.parquet(path)


@register("drop_output")
@register("drop")
class DropSink(Sink):
    """Swallow entries (operator/output/drop/drop.go:40-63)."""

    type_name = "drop"

    def write(self, df: DataFrame, base_dir: str) -> None:
        return None


#: reference encoding names -> JVM charset for F.decode
#: (operator/helper/encoding.go:74-95). 'nop' passes bytes through
#: 1:1 — ISO-8859-1 is the identity byte<->char map.
_ENCODINGS = {
    "utf8": "UTF-8", "utf-8": "UTF-8",
    "ascii": "US-ASCII", "us-ascii": "US-ASCII",
    "utf16": "UTF-16", "utf-16": "UTF-16",
    "utf16le": "UTF-16LE", "utf-16le": "UTF-16LE",
    "utf16be": "UTF-16BE", "utf-16be": "UTF-16BE",
    "nop": "ISO-8859-1", "latin1": "ISO-8859-1", "iso-8859-1": "ISO-8859-1",
}


# ---- compressed log files -------------------------------------------
# The reference's file_input reads plaintext only (file.go has no
# codec hook), but real landing zones ship rotated .gz/.bz2/.xz logs,
# so the engine adds a decompress step in front of the charset decode.
# Scale shape: these codecs are NOT splittable, so the unit of
# parallelism is the FILE either way — the Arrow round-trip through
# the pandas UDF costs one extra copy of bytes that had to land in a
# single task regardless; plain files stay on the pure-JVM path via a
# path-pushdown split, never touching Python. Chunked byte-range mode
# refuses compressed members (no byte offset maps into the stream).

#: extension -> codec, mirroring the Hadoop codec-by-suffix convention
_CODEC_EXT = {
    ".gz": "gzip",
    ".bz2": "bzip2",
    ".xz": "xz",
    ".lzma": "xz",
    ".zst": "zstd",
    ".deflate": "deflate",
}
_CODECS = ("gzip", "bzip2", "xz", "zstd", "deflate")
#: JVM-side rlike over `path` splitting compressed from plain files
_COMPRESSED_PATH_RE = r"(?i)\.(gz|bz2|xz|lzma|zst|deflate)$"


def codec_for_path(path: str) -> str | None:
    dot = path.rfind(".")
    return _CODEC_EXT.get(path[dot:].lower()) if dot >= 0 else None


def decompress_payload(data: bytes, codec: str) -> bytes:
    """One compressed member stream -> raw bytes, stdlib-only (zstd is
    gated on a library this sandbox lacks). gzip handles concatenated
    multi-member files (the `cat a.gz b.gz` rotation idiom)."""
    if codec == "gzip":
        import gzip

        return gzip.decompress(data)
    if codec == "bzip2":
        import bz2

        return bz2.decompress(data)
    if codec == "xz":
        import lzma

        return lzma.decompress(data)
    if codec == "deflate":  # Hadoop DefaultCodec: zlib-wrapped
        import zlib

        return zlib.decompress(data)
    if codec == "zstd":
        try:
            import zstandard  # type: ignore[import-not-found]
        except ImportError as e:  # pragma: no cover - env-dependent
            raise ValueError(
                "zstd payloads need the 'zstandard' package, which is "
                "not installed in this environment"
            ) from e
        return zstandard.ZstdDecompressor().decompress(data)
    raise ValueError(f"unsupported compression codec {codec!r}")


def _decompress_files(df: DataFrame, codec: str | None) -> DataFrame:
    """Arrow-batched (path, content) -> content decompress. codec=None
    means by-extension dispatch; unknown extensions pass through (a
    plain file in a mixed glob is already raw bytes)."""
    import pandas as pd

    def _decomp(path, content):
        out = []
        for p, blob in zip(path, content):
            c = codec or codec_for_path(str(p))
            out.append(decompress_payload(bytes(blob), c) if c else bytes(blob))
        return pd.Series(out)

    decomp = F.pandas_udf(_decomp, T.BinaryType())
    return df.withColumn("content", decomp(F.col("path"), F.col("content")))


#: binaryFile's fixed schema, spelled out because the STREAMING file
#: source requires an explicit schema even for fixed-schema formats
_BINARY_FILE_SCHEMA = T.StructType(
    [
        T.StructField("path", T.StringType()),
        T.StructField("modificationTime", T.TimestampType()),
        T.StructField("length", T.LongType()),
        T.StructField("content", T.BinaryType()),
    ]
)


def _group_multiline(
    df: DataFrame, arr: Column, line_start: str | None, line_end: str | None
) -> DataFrame:
    """Group each file's line array into multiline SPLITTER entries as
    pure per-row HOF algebra: (path, array<line>) -> (path, line_no,
    line). The whole file is already ONE row in whole-file mode, so
    grouping it never needed the explode -> window -> groupBy ->
    collect_list round-trip the previous plan paid — this form
    shuffles NOTHING (the old plan shuffled every byte of text once)
    and, having no window/aggregation, is legal in a streaming plan.

    Every intermediate array is BOUND to a column before the per-entry
    transform references it: a bare Column expression referenced k
    times inside a lambda is inlined k times by Catalyst (HOFs get no
    common-subexpression elimination), which turns this O(n) algebra
    into O(n^2) — measured 10s/31s at a mere 50/100 entries before the
    binding. CollapseProject keeps multi-referenced non-cheap aliases
    materialized, so bound columns evaluate once per row.

    Semantics are the byte-stream SPLITTER's (multiline.go): with
    ``line_start`` every boundary match opens an entry and lines
    before the first match form one leading entry; with ``line_end``
    a match closes the entry and trailing lines form a final one."""
    pat = line_start or line_end
    df = df.withColumn("_arr", arr).withColumn("_n", F.size(F.col("_arr")))
    a, n = F.col("_arr"), F.col("_n")
    idx = F.when(n > 0, F.sequence(F.lit(0), n - 1)).otherwise(
        F.array().cast("array<int>")
    )
    df = df.withColumn(
        "_hit",
        F.filter(idx, lambda i: F.element_at(a, i + 1).rlike(pat)),
    )
    hit = F.col("_hit")
    if line_start:
        # boundary list = hit indices, with 0 prepended unless line 0
        # already matches (the leading-chunk rule)
        starts = F.when(
            (F.size(hit) == 0) | (F.try_element_at(hit, F.lit(1)) != 0),
            F.concat(F.array(F.lit(0)), hit),
        ).otherwise(hit)
    else:
        # an entry begins after each match; a begin of n (last line
        # matched) opens nothing
        starts = F.filter(
            F.concat(F.array(F.lit(0)), F.transform(hit, lambda e: e + 1)),
            lambda s: s < n,
        )
    df = df.withColumn("_starts", F.when(n > 0, starts))
    s = F.col("_starts")
    ent = F.transform(
        F.sequence(F.lit(1), F.size(s)),
        lambda j: F.struct(
            F.element_at(s, j).cast("int").alias("line_no"),
            F.array_join(
                F.slice(
                    a,
                    F.element_at(s, j) + 1,
                    F.coalesce(F.try_element_at(s, j + 1), n)
                    - F.element_at(s, j),
                ),
                "\n",
            ).alias("line"),
        ),
    )
    return df.select(F.col("path"), F.explode(ent).alias("e")).select(
        "path",
        F.col("e.line_no").alias("line_no"),
        F.col("e.line").alias("line"),
    )


@register("file_input")
class FileInputStage(Stage):
    """Real-file source: binaryFile scan -> charset decode -> line
    split -> optional multiline SPLITTER grouping, all JVM-side
    (operator/input/file/file.go + operator/helper/multiline.go +
    encoding.go:74-95).

    Multiline uses the reference's byte-stream SPLITTER semantics, not
    the recombine operator's: with ``line_start_pattern`` every line
    up to the next match joins the current entry, so lines BEFORE the
    first match form ONE leading entry (a bufio splitter emits the
    leading chunk whole, where the recombine OPERATOR flushes
    pre-boundary entries alone — recombine.go:236-242 vs
    multiline.go). ``line_end_pattern`` closes an entry at each match.

    Compressed logs (an engine addition — file.go reads plaintext
    only): ``compression: auto`` (default) dispatches per file by
    extension (.gz/.bz2/.xz/.lzma/.zst/.deflate), a named codec forces
    every file through it, ``none`` disables. Codecs are not
    splittable, so a compressed file is one task by nature; plain
    files in the same glob stay on the pure-JVM path.

    Scale shape, two modes:
      - default (whole-file): one window per FILE — files parallelize
        against each other, a single multi-GB file serializes.
      - ``chunk_bytes`` set (byte-safe charsets only): files split
        into newline-aligned byte ranges (operators/file_chunks.py),
        so ONE huge file fans out across the cluster and multiline
        grouping runs via a prefix sum with no per-file window at all.
    ``checkpoint_dir`` enables fingerprint+offset resume
    (fingerprint.go:24-75, file.go:298-361): re-runs skip consumed
    files, tail grown ones (line numbers continue), and re-read
    rotated/truncated ones; call ``commit(spark)`` after the sink
    write succeeds. One documented divergence: a final line with no
    trailing newline is emitted in this run (batch semantics can't
    hold it open the way the reference's buffer does), so bytes later
    appended to that same line are discarded on resume."""

    type_name = "file_input"

    def __init__(
        self,
        include: str | list[str],
        encoding: str = "utf8",
        multiline: dict | None = None,
        include_file_name: bool = True,
        include_file_path: bool = False,
        attributes: dict | None = None,
        resource: dict | None = None,
        chunk_bytes: int | None = None,
        checkpoint_dir: str | None = None,
        compression: str = "auto",
        **kw,
    ):
        super().__init__(**kw)
        if encoding.lower() not in _ENCODINGS:
            raise ValueError(f"unsupported encoding {encoding!r}")
        if compression not in ("auto", "none", *_CODECS):
            raise ValueError(
                f"unsupported compression {compression!r} "
                f"(auto|none|{'|'.join(_CODECS)})"
            )
        if compression not in ("auto", "none") and (
            chunk_bytes or checkpoint_dir
        ):
            # a byte offset has no meaning inside a compressed stream
            raise ValueError(
                "chunk_bytes/checkpoint_dir cannot read compressed "
                "files (codecs are not splittable)"
            )
        self.compression = compression
        # reference configs spell include as a LIST of globs
        # (operator/input/file/testdata/include_multi.yaml)
        self.include = [include] if isinstance(include, str) else list(include)
        self.charset = _ENCODINGS[encoding.lower()]
        multiline = multiline or {}
        self.line_start = multiline.get("line_start_pattern")
        self.line_end = multiline.get("line_end_pattern")
        if self.line_start and self.line_end:
            raise ValueError(
                "at most one of line_start_pattern / line_end_pattern"
            )
        self.include_file_name = include_file_name
        self.include_file_path = include_file_path
        self.attributes = attributes
        self.resource = resource
        from .file_chunks import BYTE_SAFE_CHARSETS

        if (chunk_bytes or checkpoint_dir) and (
            self.charset not in BYTE_SAFE_CHARSETS
        ):
            raise ValueError(
                "chunk_bytes/checkpoint_dir require a charset where "
                "'\\n' is unambiguous (utf8/ascii/nop); "
                f"got {self.charset}"
            )
        self.chunk_bytes = chunk_bytes
        self.checkpoint_dir = checkpoint_dir
        self._last_plans: list[dict] = []

    # ---- chunked / resumable path ------------------------------------

    def _generate_chunked(self, spark: SparkSession) -> DataFrame:
        from . import file_chunks as fc

        ledger = (
            fc.OffsetLedger(self.checkpoint_dir).load()
            if self.checkpoint_dir
            else None
        )
        plans = fc.plan_files(self.include, ledger)
        bad = [p["path"] for p in plans if codec_for_path(p["path"])]
        if bad:
            raise ValueError(
                "chunk_bytes/checkpoint_dir cannot read compressed "
                f"files (codecs are not splittable): {bad[:3]}"
            )
        self._last_plans = plans
        chunk = self.chunk_bytes or (64 << 20)
        chunks = fc.plan_chunks(plans, chunk)
        raw = fc.chunked_lines(spark, chunks, self.charset)
        return fc.number_and_group(raw, self.line_start, self.line_end)

    def commit(self, spark: SparkSession) -> None:
        """Advance the offset ledger past everything the last
        ``generate`` planned — call AFTER the downstream sink write
        succeeds (at-least-once becomes effectively exactly-once, same
        contract as checkpoint.py's ledger commit)."""
        if not self.checkpoint_dir:
            raise ValueError("commit requires checkpoint_dir")
        from . import file_chunks as fc

        led = fc.OffsetLedger(self.checkpoint_dir)
        entries = led.load()
        chunk = self.chunk_bytes or (64 << 20)
        new_counts = fc.count_new_lines(spark, self._last_plans, chunk)
        for p in self._last_plans:
            entries[p["path"]] = {
                "fp": p["fp"],
                "fp_len": p["fp_len"],
                "offset": p["size"],
                "n_lines": p["line_base"] + new_counts.get(p["path"], 0),
            }
        led.commit(entries)

    def _whole_file_lines(self, raw: DataFrame) -> DataFrame:
        """(path, content) -> (path, line_no, line), map-only: decode,
        split, multiline-group entirely inside each file's own row —
        no shuffle anywhere (the previous multiline plan exploded then
        re-grouped via a window, shuffling every byte of text), and
        therefore legal on a STREAMING binaryFile scan too."""
        if self.compression == "auto":
            # split on path so PLAIN files stay pure-JVM (binaryFile
            # pushes path predicates into the listing; the UDF branch
            # only ever sees bytes that are single-task anyway)
            is_comp = F.col("path").rlike(_COMPRESSED_PATH_RE)
            raw = raw.filter(~is_comp).unionByName(
                _decompress_files(raw.filter(is_comp), None)
            )
        elif self.compression != "none":
            raw = _decompress_files(raw, self.compression)
        text = F.decode(F.col("content"), self.charset)
        arr = F.split(text, "\r?\n", -1)
        # a trailing newline yields one empty final element, which is
        # not a line (bufio emits no empty trailing token)
        arr = F.when(
            (F.size(arr) > 0) & (F.element_at(arr, -1) == ""),
            F.slice(arr, 1, F.size(arr) - 1),
        ).otherwise(arr)
        if self.line_start or self.line_end:
            return _group_multiline(raw, arr, self.line_start, self.line_end)
        return raw.select(
            F.col("path"), F.posexplode(arr).alias("line_no", "line")
        )

    def generate(self, spark: SparkSession) -> DataFrame:
        if self.chunk_bytes or self.checkpoint_dir:
            lines = self._generate_chunked(spark)
            return self._lines_to_entries(lines)
        raw = spark.read.format("binaryFile").load(self.include)
        return self._lines_to_entries(self._whole_file_lines(raw))

    def stream(self, spark: SparkSession) -> DataFrame:
        """Streaming tail of the landing zone: each file that APPEARS
        under the globs becomes entries in that micro-batch — the
        readStream analogue of the reference's glob poller (file.go's
        200ms poll), at file granularity (Structured Streaming's file
        source does not re-read grown files; rotation-style zones
        write-once). Whole-file mode only: the chunk/resume ledger is
        the BATCH resume story, the streaming checkpoint is this one.
        Same decode/split/multiline pipeline as generate() — map-only,
        so it plans as a stateless streaming query."""
        if self.chunk_bytes or self.checkpoint_dir:
            raise ValueError(
                "stream() is whole-file mode only; chunk_bytes/"
                "checkpoint_dir are the batch resume path"
            )
        raw = None
        for pattern in self.include:  # streaming load() takes ONE path
            part = (
                spark.readStream.format("binaryFile")
                .schema(_BINARY_FILE_SCHEMA)
                .load(pattern)
            )
            raw = part if raw is None else raw.unionByName(part)
        return self._lines_to_entries(self._whole_file_lines(raw))

    def _lines_to_entries(self, lines: DataFrame) -> DataFrame:
        """(path, line_no, line) -> entry frame + log.file.* attrs."""
        df = to_entries(
            lines.select(
                F.col("path").alias("conv_id"),
                F.col("line_no").cast(T.IntegerType()).alias("turn_idx"),
                F.lit("").alias("role"),
                F.col("line").alias("text"),
                F.lit("").alias("tool"),
                F.lit(None).cast(T.TimestampType()).alias("ts"),
            )
        )
        file_attrs = []
        if self.include_file_name:
            file_attrs.append("'log.file.name', element_at(split(`conv_id`, '/', -1), -1)")
        if self.include_file_path:
            file_attrs.append("'log.file.path', `conv_id`")
        if file_attrs:
            updates = Field.parse("attributes").set_map(f"map({', '.join(file_attrs)})")
            df = apply_updates(df, updates)
        return stamp(df, self.attributes, self.resource)

    def apply(self, df: DataFrame) -> DataFrame:  # source: passthrough
        return df
