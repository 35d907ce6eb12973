"""The flagship end-to-end pipeline: parse -> enrich -> route ->
per-sink writes + aggregate counts.

This is the engine's moral equivalent of the reference's shipped
example pipeline (examples/tomcat/config.yaml: file_input ->
regex_parser with embedded timestamp+severity -> stdout), widened to
the four log-line shapes the transcript table carries (SURVEY.md
section 7.1) and to the north rule's enrich + multi-sink + counts
stages.

Content-based dispatch: each parser's `if` predicate keys off the
line shape (the reference dispatches the same way — an operator's
`if` expression skips entries it shouldn't touch,
operator/helper/transformer.go:90-99):

  - ``^10\\.`` ................ Tomcat access line  -> regex_parser
                                 (+ embedded time_parser + severity)
  - ``^user=`` ................ quoted key=value    -> key_value_parser
  - ``^{`` .................... JSON object         -> json_parser
  - ``^\\d+,`` ................ quoted CSV          -> csv_parser

Scale notes (the part that must survive 1000 executors / 100 TB):
  - Every parse/route stage is a zero-shuffle projection; the ONLY
    exchange in the written flagship plan is the transcript
    row_number window (hash by user_id ~ conv_id).
  - The router tags a `_route` id in one projection; every run mode
    (batch, checkpointed bucket, streaming micro-batch) writes the
    sinks with ONE partitionBy(sink) write (``write_routed``), and the
    per-sink counts ride that write as observed metrics: no cache, no
    count job, no aggregation exchange to skew.
  - The enrich dim is broadcast (map-side hash probe, no fact shuffle).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from .entry import to_entries
from .operators.enrich import LookupEnrichStage
from .operators.router import ROUTE_COL, RouterStage
from .pipeline import build_stage
from .transcripts import materialized_transcripts

#: Tomcat/httpd common-log-format regex — same named groups as the
#: reference's example (examples/tomcat/config.yaml regex_parser).
TOMCAT_REGEX = (
    r"^(?P<remote_host>[^\s]+) - (?P<remote_user>[^\s]+) "
    r"\[(?P<timestamp>[^\]]+)\] "
    r'"(?P<http_method>[A-Z]+) (?P<url_path>[^\s]+) [^"]*" '
    r"(?P<http_status>\d+) (?P<bytes_sent>[\d-]+)"
)

#: dd/Mon/yyyy:HH:mm:ss +zzzz — the access-log timestamp layout
ACCESS_TS_LAYOUT = "%d/%b/%Y:%H:%M:%S %z"

#: HTTP-status -> severity mapping, mirroring the reference's range +
#: 2xx-expansion machinery (operator/helper/severity_builder.go:223-260)
HTTP_SEVERITY = {
    "error": "5xx",
    "warn": "4xx",
    "info2": {"min": 300, "max": 399},
    "info": "2xx",
}

PARSE_STAGES: list[dict] = [
    {
        "type": "regex_parser",
        "id": "tomcat",
        "regex": TOMCAT_REGEX,
        "if_expr": 'body matches "^10\\\\."',
        "timestamp": {
            "parse_from": "attributes.timestamp",
            "layout": ACCESS_TS_LAYOUT,
        },
        "severity": {
            "parse_from": "attributes.http_status",
            "preset": "none",
            "mapping": HTTP_SEVERITY,
        },
    },
    {
        "type": "key_value_parser",
        "id": "clicks",
        "if_expr": 'body startsWith "user="',
    },
    {
        "type": "json_parser",
        "id": "signups",
        "if_expr": 'body startsWith "{"',
    },
    {
        "type": "csv_parser",
        "id": "purchases",
        "header": "txn_id,buyer,item,amount_cents",
        "if_expr": 'body matches "^[0-9]+,"',
    },
]

#: first-match-wins routes (router.go:116-141); names are sink ids
ROUTES: list[dict] = [
    {"expr": "severity >= 17", "output": "sink_errors",
     "attributes": {"alert": "page"}},
    {"expr": 'attributes.action == "click"', "output": "sink_ui"},
    {"expr": 'attributes.event == "signup"', "output": "sink_growth"},
    {"expr": "attributes.txn_id != nil", "output": "sink_billing"},
]

#: role -> persona dimension for the broadcast lookup-enrich stage
ROLE_DIM = [
    ("user", "human", "interactive"),
    ("assistant", "model", "generated"),
    ("system", "platform", "infra"),
    ("tool", "program", "automated"),
]


def apply_parsers(df: DataFrame) -> DataFrame:
    for cfg in PARSE_STAGES:
        df = build_stage(dict(cfg)).apply(df)
    return df


def apply_enrich(spark: SparkSession, df: DataFrame) -> DataFrame:
    dim = spark.createDataFrame(ROLE_DIM, ["role_key", "persona", "origin"])
    stage = LookupEnrichStage(lookup=dim, on="attributes.role",
                              key_column="role_key")
    return stage.apply(df)


def router() -> RouterStage:
    return RouterStage(routes=[dict(r) for r in ROUTES], default="sink_rest")


SINK_NAMES = [r["output"] for r in ROUTES] + ["sink_rest"]


def tag_transcripts(spark: SparkSession, transcripts: DataFrame) -> DataFrame:
    """transcripts df -> entries -> parse -> enrich -> routed-tag."""
    df = to_entries(transcripts)
    df = apply_parsers(df)
    df = apply_enrich(spark, df)
    return router().tag(df)


def tagged_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """transcripts -> entries -> parse -> enrich -> routed-tag frame.

    The returned frame carries `_route` (int route id); callers write
    it (``write_routed``) or aggregate its counts (``sink_counts``).
    """
    return tag_transcripts(spark, materialized_transcripts(spark, sf_dir))


def route_name_col():
    """Map `_route` id -> sink name, for human-readable outputs."""
    mapping = F.create_map(
        *[c for i, name in enumerate(SINK_NAMES) for c in (F.lit(i), F.lit(name))]
    )
    return F.try_element_at(mapping, F.col(ROUTE_COL))


def sink_counts(tagged: DataFrame) -> DataFrame:
    """Per-sink aggregate counts — ONE partial-aggregated groupBy over
    the tagged frame, not N count() jobs."""
    return (
        tagged.groupBy(route_name_col().alias("sink"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def write_sinks(spark: SparkSession, tagged: DataFrame, out_dir: str) -> None:
    """The multi-sink write: ONE partitionBy(sink) zstd parquet write
    from a frame already carrying the `sink` column.

    Write-path tuning (measured at 10M rows, local[32], BENCH.md):
      - deliberately NO repartition: the parse->route path is
        stateless, so a pre-write shuffle of the wide entry rows
        (3 map columns) costs more than it saves (measured 3x at 5M
        rows); conversation co-location is recombine's job.
      - ``coalesce(defaultParallelism)``: the scan is split
        fine-grained for compute balance, but carrying those
        micro-partitions into the writer multiplies per-file costs by
        sinks x tasks (262 tasks -> 2562 files; 20% slower). Coalesce
        is shuffle-free, so the parse still runs in every slot. At
        real scale, target file size instead.
      - zstd over default snappy: 13% faster end-to-end here AND
        smaller files (the write is encode-bound, not IO-bound).
    """
    (
        tagged.drop(ROUTE_COL)
        .coalesce(spark.sparkContext.defaultParallelism)
        .sortWithinPartitions("sink", "conv_id", "turn_idx")
        .write.mode("overwrite")
        .partitionBy("sink")
        .option("compression", "zstd")
        .parquet(out_dir)
    )


def write_routed(
    spark: SparkSession, tagged: DataFrame, out_dir: str
) -> dict[str, int]:
    """Write a routed-tag frame to ``out_dir`` (one directory per sink)
    and return its non-zero per-sink counts.

    The counts ride the write as observed metrics (``Observation`` +
    one count(when(sink=...)) per sink), so the whole write-and-count
    is ONE materialization of the parse DAG: no persist, no separate
    count job. The earlier persist + write-from-cache + count-from-cache
    shape paid a full cache write/read of the wide entry rows
    (measured ~1.5s of the 6.9s warm wall at 10x bench scale, and at
    cluster scale the cache would spill)."""
    obs = Observation()
    df = tagged.withColumn("sink", route_name_col()).observe(
        obs,
        *[
            F.count(F.when(F.col("sink") == name, 1)).alias(name)
            for name in SINK_NAMES
        ],
    )
    write_sinks(spark, df, out_dir)
    return {name: cnt for name, cnt in obs.get.items() if cnt > 0}


def run_flagship(
    spark: SparkSession, sf_dir: str, out_dir: str | None = None
) -> DataFrame:
    """Full pipeline including per-sink writes when ``out_dir`` given.
    Returns the per-sink counts frame (the headline aggregate).

    The multi-sink fan-out is ONE partitioned write (partitionBy the
    sink name), not N filtered jobs: every row is parsed once and
    scanned once; the writer splits files by sink. N separate writes
    would re-run the parse DAG (or re-scan a cache of it) N times —
    measured 2x slower at sf0.1, and far worse at cluster scale."""
    tagged = tagged_frame(spark, sf_dir)
    if out_dir is not None:
        counts = write_routed(spark, tagged, out_dir)
        return spark.createDataFrame(list(counts.items()), "sink string, cnt long")
    return sink_counts(tagged)
