"""Deterministic synthesis of the transcript input table.

BASELINE.json's input_hint mandates a table of multi-turn
conversation/agent transcripts ``(conv_id:string, turn_idx:int32,
role:string, text:string, tool:string, ts:timestamp)``. No such table
ships in /root/testdata, so we derive one *deterministically* from the
driver-generated ``events`` table using a single SQL text that is valid
— and produces byte-identical results — in BOTH Spark SQL and DuckDB.
That shared CTE is what makes the DuckDB oracle checks airtight: both
engines parse the exact same `text` payloads.

The `text` column carries four log-line shapes, one per event_type,
exercising every parser in the engine (SURVEY.md section 2.4 /
FIXTURES.md F1-F3):

  - error/view  -> Tomcat access-log line (regex + time + severity,
                   multi-valued query string for the URI parser)
  - click       -> quoted key=value line (key_value_parser)
  - signup      -> JSON object line (json_parser)
  - purchase    -> quoted CSV line (csv_parser)

Dialect-portability constraints honored by the CTE: only ``lpad,
cast(varchar), ||, %, floor, row_number, case, year/month/day/
hour/minute/second`` — all with identical semantics in Spark and
DuckDB. (Notably absent: strftime/date_format — month names are a CASE
— and float->int casts, which truncate in Spark but round in DuckDB;
we only ever cast post-floor.)
"""

from __future__ import annotations

import hashlib
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

_MONTH_NAME = (
    "case month(ts) when 1 then 'Jan' when 2 then 'Feb' when 3 then 'Mar' "
    "when 4 then 'Apr' when 5 then 'May' when 6 then 'Jun' when 7 then 'Jul' "
    "when 8 then 'Aug' when 9 then 'Sep' when 10 then 'Oct' "
    "when 11 then 'Nov' else 'Dec' end"
)

_V = "varchar(30)"

# dd/Mon/yyyy:HH:mm:ss +0000 — the Tomcat access-log timestamp layout
_ACCESS_TS = (
    f"lpad(cast(day(ts) as {_V}), 2, '0') || '/' || {_MONTH_NAME} || '/' "
    f"|| cast(year(ts) as {_V}) || ':' "
    f"|| lpad(cast(hour(ts) as {_V}), 2, '0') || ':' "
    f"|| lpad(cast(minute(ts) as {_V}), 2, '0') || ':' "
    f"|| lpad(cast(second(ts) as {_V}), 2, '0') || ' +0000'"
)

_STATUS = "cast(200 + (event_id % 4) * 100 + (event_id % 25) as " + _V + ")"
_UID = f"cast(user_id as {_V})"
_CENTS = f"cast(cast(floor(value * 100) as bigint) as {_V})"

_TOMCAT_LINE = (
    f"'10.' || cast(user_id % 64 as {_V}) || '.' "
    f"|| cast(event_id % 256 as {_V}) || '.' "
    f"|| cast((event_id * 7) % 256 as {_V}) "
    f"|| ' - - [' || {_ACCESS_TS} || '] \"GET /api/' || event_type "
    f"|| '?id=' || cast(event_id % 100 as {_V}) || '&id=' || {_UID} "
    f"|| ' HTTP/1.1\" ' || {_STATUS} || ' ' || cast(event_id % 4096 as {_V})"
)

_KV_LINE = (
    f"'user=\"u' || {_UID} || '\" action=click target=btn-' "
    f"|| cast(event_id % 50 as {_V}) || ' dur_ms=' || {_CENTS}"
)

_JSON_LINE = (
    "'{\"event\":\"signup\",\"user\":\"u' || " + _UID + " || "
    "'\",\"plan\":\"' || case event_id % 3 when 0 then 'free' "
    "when 1 then 'pro' else 'team' end || '\",\"ok\":true}'"
)

_CSV_LINE = (
    f"cast(event_id as {_V}) || ',u' || {_UID} || ',\"item ' "
    f"|| cast(event_id % 20 as {_V}) || ', deluxe\",' || {_CENTS}"
)

#: The shared transcript CTE body. Valid Spark SQL *and* DuckDB SQL.
TRANSCRIPTS_SQL = f"""
SELECT
  'conv-' || lpad(cast(user_id as {_V}), 8, '0')                 AS conv_id,
  cast(row_number() OVER (PARTITION BY user_id
                          ORDER BY ts, event_id) - 1 AS int)      AS turn_idx,
  case event_type when 'click' then 'user'
                  when 'view' then 'assistant'
                  when 'error' then 'system'
                  when 'purchase' then 'tool'
                  else 'assistant' end                            AS role,
  case when event_type in ('error', 'view') then {_TOMCAT_LINE}
       when event_type = 'click' then {_KV_LINE}
       when event_type = 'signup' then {_JSON_LINE}
       else {_CSV_LINE} end                                       AS text,
  case event_type when 'purchase' then 'bash'
                  when 'signup' then 'python'
                  else '' end                                     AS tool,
  ts                                                              AS ts
FROM events
"""

#: The stored transcript table's schema: both writes below cast to it
#: and every read of the table declares it, so a read runs no
#: footer-inference job.
TRANSCRIPT_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType()),
        T.StructField("turn_idx", T.IntegerType()),
        T.StructField("role", T.StringType()),
        T.StructField("text", T.StringType()),
        T.StructField("tool", T.StringType()),
        T.StructField("ts", T.TimestampNTZType()),
    ]
)

#: Prefix for oracle SQL: DuckDB sees the same CTE over its
#: pre-registered `events` view.
ORACLE_CTE = f"WITH transcripts AS ({TRANSCRIPTS_SQL})"


def load_transcripts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events.parquet -> transcript DataFrame via the shared CTE.

    Scale note: at 10^12 turns this is `spark.read.format("iceberg")`
    on a table bucketed by conv_id; here the events scan stands in.
    The row_number window shuffles by user_id once — the same hash
    partitioning every downstream per-conversation operator needs.
    """
    spark.read.parquet(f"{sf_dir}/events.parquet").createOrReplaceTempView("events")
    return spark.sql(TRANSCRIPTS_SQL)


_CACHE_ROOT = os.environ.get("SPARK_GRAFT_TCACHE", "/tmp/spark_graft_transcripts")


def transcripts_path(sf_dir: str) -> str:
    """Where ``materialized_transcripts`` stores the table for
    ``sf_dir``: one directory per absolute input path."""
    key = hashlib.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:12]
    return os.path.join(_CACHE_ROOT, key)


def materialized_transcripts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The transcript table as a STORED columnar table (synthesized
    once per sf_dir, then read back as parquet).

    This is the real input contract: the north rule's source is a
    10^12-turn Iceberg table, not a synthesis expression. Running the
    pipeline directly on the synthesis CTE also duplicates its giant
    text-building CASE/concat tree into every downstream expression
    after project collapsing — O(stages x references) re-evaluation
    per row — whereas a table scan is read once and every downstream
    stage starts from plain columns (measured ~100x on the flagship
    at sf0.1). The table is read with its declared schema: inferring
    it from the file footers costs a Spark job per call (150 ms
    against 33 ms on local[4])."""
    path = transcripts_path(sf_dir)
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        # cluster by conversation and write enough files that a scan
        # can fan out (local files are ~100KB; at real scale Iceberg
        # bucketing by conv_id plays this role)
        (
            load_transcripts(spark, sf_dir)
            .to(TRANSCRIPT_SCHEMA)
            .repartition(64, "conv_id")
            .write.mode("overwrite")
            .parquet(path)
        )
    return spark.read.schema(TRANSCRIPT_SCHEMA).parquet(path)


def inflated_transcripts(
    spark: SparkSession, sf_dir: str, factor: int
) -> DataFrame:
    """The transcript table replicated ``factor``x with distinct
    conv_ids per replica (conv-XXXX#rep) — a deterministic stand-in
    for a larger scale factor. Materialized once and shared, so a
    scaling comparison at two parallelism levels reads the IDENTICAL
    stored table."""
    if factor <= 1:
        return materialized_transcripts(spark, sf_dir)
    from pyspark.sql import functions as F

    key = hashlib.md5(f"{os.path.abspath(sf_dir)}|x{factor}".encode()).hexdigest()[:12]
    path = os.path.join(_CACHE_ROOT, key)
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        base = materialized_transcripts(spark, sf_dir)
        reps = spark.range(factor).select(F.col("id").alias("_rep"))
        (
            base.crossJoin(reps)
            .withColumn(
                "conv_id", F.concat_ws("#", F.col("conv_id"), F.col("_rep"))
            )
            .drop("_rep")
            .to(TRANSCRIPT_SCHEMA)
            .repartition(256, "conv_id")
            .write.mode("overwrite")
            .parquet(path)
        )
    return spark.read.schema(TRANSCRIPT_SCHEMA).parquet(path)
