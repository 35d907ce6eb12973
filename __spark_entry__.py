"""Driver contract for the spark-graft builder (PySpark target).

Each ``queries()`` entry exercises one operator (SURVEY.md section 2)
or one training-data op through the engine's real code path; the
matching ``oracle_sql()`` entry reproduces the semantics in DuckDB SQL
over the same parquet views. The transcript input table (BASELINE.json
input_hint) is synthesized deterministically from `events` by a CTE
that is valid in BOTH dialects (transcripts.ORACLE_CTE), so per-turn
text equality is checked end-to-end.

Conventions keeping the value-hash comparison airtight:
  - every computed column aliased identically on both sides
  - counts/sizes cast to BIGINT on both sides
  - timestamps compared as epoch microseconds (BIGINT)
  - float similarity scores are never output — only integer ranks and
    exact integer counts
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

import opentelemetry_log_collection_spark.operators  # noqa: F401 (register)
from opentelemetry_log_collection_spark import dedup, similarity, textops
from opentelemetry_log_collection_spark.entry import to_entries
from opentelemetry_log_collection_spark.flagship import (
    ROLE_DIM,
    TOMCAT_REGEX,
    apply_enrich,
    apply_parsers,
    route_name_col,
    run_flagship,
    sink_counts,
    tagged_frame,
)
from opentelemetry_log_collection_spark.operators.recombine import RecombineStage
from opentelemetry_log_collection_spark.pipeline import build_stage
from opentelemetry_log_collection_spark.transcripts import (
    ORACLE_CTE,
    materialized_transcripts,
)

# --------------------------------------------------------------------
# shared helpers
# --------------------------------------------------------------------


def _attr(name: str):
    return F.try_element_at(F.col("attributes"), F.lit(name))


def _entries(spark: SparkSession, sf_dir: str) -> DataFrame:
    return to_entries(materialized_transcripts(spark, sf_dir))


def _documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The testdata tables are written as ONE parquet row group, and a
    # row group is the atomic split unit — so however many splits the
    # scan planner makes, every row lands in a single task and the
    # whole pre-exchange map work (tokenize/shingle/hash/Arrow stages)
    # of every document query ran on one core. The round-robin
    # repartition fans the corpus out once (~20 MB of text at 10x
    # bench scale) and is this harness's analogue of
    # materialized_transcripts' repartition(64): a production corpus
    # arrives as a properly bucketed table and doesn't need it. All
    # downstream aggregates over documents are exact (ints, strings,
    # mins, per-row doubles), so results are partitioning-independent.
    return spark.read.parquet(f"{sf_dir}/documents.parquet").repartition(
        spark.sparkContext.defaultParallelism
    )


def _embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    # same single-row-group fan-out as _documents (vectors: ~10 MB)
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet").repartition(
        spark.sparkContext.defaultParallelism
    )


#: CASE chain reproducing the router's first-match-wins semantics in
#: ANSI SQL over the raw transcript text (used by several oracles)
_SINK_CASE = """
  CASE
    WHEN text LIKE '10.%' AND CAST(regexp_extract(text,
         '" ([0-9]+) [0-9-]+$', 1) AS INTEGER) BETWEEN 500 AND 599
      THEN 'sink_errors'
    WHEN text LIKE 'user=%' THEN 'sink_ui'
    WHEN text LIKE '{%' THEN 'sink_growth'
    WHEN regexp_matches(text, '^[0-9]+,') THEN 'sink_billing'
    ELSE 'sink_rest'
  END
"""

# dual-dialect syslog-line CTE over events (exercises syslog_parser)
_MONTH = (
    "case month(ts) when 1 then 'Jan' when 2 then 'Feb' when 3 then 'Mar' "
    "when 4 then 'Apr' when 5 then 'May' when 6 then 'Jun' when 7 then 'Jul' "
    "when 8 then 'Aug' when 9 then 'Sep' when 10 then 'Oct' "
    "when 11 then 'Nov' else 'Dec' end"
)
_V = "varchar(30)"
SYSLOG_SQL = f"""
SELECT
  event_id,
  '<' || cast(event_id % 192 as {_V}) || '>'
  || {_MONTH} || ' ' || lpad(cast(day(ts) as {_V}), 2, ' ') || ' '
  || lpad(cast(hour(ts) as {_V}), 2, '0') || ':'
  || lpad(cast(minute(ts) as {_V}), 2, '0') || ':'
  || lpad(cast(second(ts) as {_V}), 2, '0')
  || ' host-' || cast(user_id % 20 as {_V})
  || ' svc' || cast(event_id % 5 as {_V})
  || '[' || cast(event_id % 1000 as {_V}) || ']: '
  || 'job ' || cast(event_id as {_V}) || ' done'                 AS line
FROM events
"""

_SYSLOG_SEV = "CASE (event_id % 192) % 8 WHEN 0 THEN 21 WHEN 1 THEN 19 WHEN 2 THEN 18 WHEN 3 THEN 17 WHEN 4 THEN 13 WHEN 5 THEN 10 WHEN 6 THEN 9 ELSE 5 END"
_SYSLOG_SEV_TXT = "CASE (event_id % 192) % 8 WHEN 0 THEN 'emerg' WHEN 1 THEN 'alert' WHEN 2 THEN 'crit' WHEN 3 THEN 'err' WHEN 4 THEN 'warning' WHEN 5 THEN 'notice' WHEN 6 THEN 'info' ELSE 'debug' END"

# dual-dialect RFC5424 line CTE over events: ISO8601 ts, NILVALUE
# proc_id every 4th row, NILVALUE structured-data every 3rd row
_ISO_TS = (
    f"cast(year(ts) as {_V}) || '-' || lpad(cast(month(ts) as {_V}), 2, '0') "
    f"|| '-' || lpad(cast(day(ts) as {_V}), 2, '0') || 'T' "
    f"|| lpad(cast(hour(ts) as {_V}), 2, '0') || ':' "
    f"|| lpad(cast(minute(ts) as {_V}), 2, '0') || ':' "
    f"|| lpad(cast(second(ts) as {_V}), 2, '0') || 'Z'"
)
SYSLOG5424_SQL = f"""
SELECT
  event_id,
  '<' || cast(event_id % 192 as {_V}) || '>1 ' || {_ISO_TS}
  || ' host-' || cast(user_id % 20 as {_V})
  || ' app' || cast(event_id % 7 as {_V})
  || ' ' || case when event_id % 4 = 0 then '-'
                 else cast(event_id % 1000 as {_V}) end
  || ' msg' || cast(event_id % 50 as {_V})
  || ' ' || case when event_id % 3 = 0 then '-'
                 else '[ex@32473 id="' || cast(event_id % 10 as {_V}) || '"]' end
  || ' task ' || cast(event_id as {_V}) || ' ok'                 AS line
FROM events
"""


# --------------------------------------------------------------------
# queries
# --------------------------------------------------------------------


def q_transcripts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The synthesized input table itself — per-turn text equality
    under stable (conv_id, turn_idx) ordering, the north rule's
    per-row invariant."""
    t = materialized_transcripts(spark, sf_dir)
    # parquet stores ts as TIMESTAMP_NTZ; session tz is UTC so the
    # ltz cast is instant-preserving and matches DuckDB's epoch_us
    return t.select(
        "conv_id", "turn_idx", "role", "text", "tool",
        F.unix_micros(F.col("ts").cast("timestamp_ltz")).alias("ts_us"),
    )


def q_regex_tomcat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """regex_parser (named groups) on the Tomcat access lines
    (operator/parser/regex/regex.go:43-146)."""
    df = _entries(spark, sf_dir)
    stage = build_stage(
        {
            "type": "regex_parser",
            "regex": TOMCAT_REGEX,
            "if_expr": 'body matches "^10\\\\."',
        }
    )
    out = stage.apply(df).filter(_attr("http_status").isNotNull())
    return out.select(
        "conv_id",
        "turn_idx",
        _attr("remote_host").alias("remote_host"),
        _attr("http_method").alias("http_method"),
        _attr("url_path").alias("url_path"),
        _attr("http_status").alias("http_status"),
        _attr("bytes_sent").alias("bytes_sent"),
    )


def q_json_signup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """json_parser on the JSON turns (operator/parser/json/json.go)."""
    df = _entries(spark, sf_dir)
    stage = build_stage({"type": "json_parser", "if_expr": 'body startsWith "{"'})
    out = stage.apply(df).filter(_attr("event").isNotNull())
    return out.select(
        "conv_id",
        "turn_idx",
        _attr("event").alias("event"),
        _attr("user").alias("user_name"),
        _attr("plan").alias("plan"),
        _attr("ok").alias("ok"),
    )


def q_kv_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """key_value_parser, quote-aware whitespace pairs
    (operator/parser/keyvalue/keyvalue.go:104-139)."""
    df = _entries(spark, sf_dir)
    stage = build_stage(
        {"type": "key_value_parser", "if_expr": 'body startsWith "user="'}
    )
    out = stage.apply(df).filter(_attr("action").isNotNull())
    return out.select(
        "conv_id",
        "turn_idx",
        _attr("user").alias("user_name"),
        _attr("action").alias("action"),
        _attr("target").alias("target"),
        _attr("dur_ms").alias("dur_ms"),
    )


def q_csv_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """csv_parser with static header + quoted field
    (operator/parser/csv/csv.go:132-199)."""
    df = _entries(spark, sf_dir)
    stage = build_stage(
        {
            "type": "csv_parser",
            "header": "txn_id,buyer,item,amount_cents",
            "if_expr": 'body matches "^[0-9]+,"',
        }
    )
    out = stage.apply(df).filter(_attr("txn_id").isNotNull())
    return out.select(
        "conv_id",
        "turn_idx",
        _attr("txn_id").alias("txn_id"),
        _attr("buyer").alias("buyer"),
        _attr("item").alias("item"),
        _attr("amount_cents").alias("amount_cents"),
    )


def q_severity_http(spark: SparkSession, sf_dir: str) -> DataFrame:
    """severity_parser with HTTP 2xx/4xx/5xx expansions + {min,max}
    range (operator/helper/severity_builder.go:223-260)."""
    df = _entries(spark, sf_dir)
    df = apply_parsers(df).filter(_attr("http_status").isNotNull())
    return df.select(
        "conv_id",
        "turn_idx",
        F.col("severity").cast("int").alias("severity"),
        F.col("severity_text"),
    )


def q_time_access(spark: SparkSession, sf_dir: str) -> DataFrame:
    """time_parser strptime layout %d/%b/%Y:%H:%M:%S %z
    (operator/helper/time.go:42-296); round-trips the access-log
    timestamp back to the original event time (seconds precision)."""
    df = _entries(spark, sf_dir)
    df = apply_parsers(df).filter(_attr("http_status").isNotNull())
    return df.select(
        "conv_id",
        "turn_idx",
        F.unix_micros(F.col("ts").cast("timestamp_ltz")).alias("parsed_ts_us"),
    )


def q_uri_request(spark: SparkSession, sf_dir: str) -> DataFrame:
    """uri_parser with multi-valued query params JSON-encoded
    (operator/parser/uri/uri.go:99-163)."""
    df = _entries(spark, sf_dir)
    df = apply_parsers(df).filter(_attr("url_path").isNotNull())
    stage = build_stage({"type": "uri_parser", "parse_from": "attributes.url_path"})
    out = stage.apply(df)
    return out.select(
        "conv_id",
        "turn_idx",
        _attr("path").alias("path"),
        _attr("query").alias("query"),
    )


def q_syslog_rfc3164(spark: SparkSession, sf_dir: str) -> DataFrame:
    """syslog_parser RFC3164 + fixed priority->severity table
    (operator/parser/syslog/syslog.go:144-272)."""
    spark.read.parquet(f"{sf_dir}/events.parquet").createOrReplaceTempView("events")
    lines = spark.sql(SYSLOG_SQL)
    df = to_entries(
        lines.select(
            F.lit("syslog").alias("conv_id"),
            F.col("event_id").cast("int").alias("turn_idx"),
            F.lit("system").alias("role"),
            F.col("line").alias("text"),
            F.lit("").alias("tool"),
            F.lit(None).cast("timestamp").alias("ts"),
        )
    )
    stage = build_stage({"type": "syslog_parser", "protocol": "rfc3164"})
    out = stage.apply(df)
    # postprocess deletes the helper timestamp attribute and sets ts
    # natively (syslog.go:259-269); RFC3164 has no year, so ts carries
    # the inferred year vs the injected reference clock
    return out.select(
        F.col("turn_idx").cast("long").alias("event_id"),
        _attr("priority").alias("priority"),
        _attr("facility").alias("facility"),
        _attr("hostname").alias("hostname"),
        _attr("appname").alias("appname"),
        _attr("proc_id").alias("proc_id"),
        _attr("message").alias("message"),
        F.col("severity").cast("int").alias("severity"),
        F.col("severity_text"),
        F.unix_micros(F.col("ts").cast("timestamp_ltz")).alias("ts_us"),
        _attr("timestamp").alias("ts_attr"),  # must be NULL post-delete
    )


def q_syslog_rfc5424(spark: SparkSession, sf_dir: str) -> DataFrame:
    """syslog_parser RFC5424: version/msg_id/structured-data fields,
    NILVALUE omission, native ISO8601 timestamp -> ts
    (operator/parser/syslog/syslog.go:159-272)."""
    spark.read.parquet(f"{sf_dir}/events.parquet").createOrReplaceTempView("events")
    lines = spark.sql(SYSLOG5424_SQL)
    df = to_entries(
        lines.select(
            F.lit("syslog5424").alias("conv_id"),
            F.col("event_id").cast("int").alias("turn_idx"),
            F.lit("system").alias("role"),
            F.col("line").alias("text"),
            F.lit("").alias("tool"),
            F.lit(None).cast("timestamp").alias("ts"),
        )
    )
    out = build_stage({"type": "syslog_parser", "protocol": "rfc5424"}).apply(df)
    return out.select(
        F.col("turn_idx").cast("long").alias("event_id"),
        _attr("version").alias("version"),
        _attr("hostname").alias("hostname"),
        _attr("appname").alias("appname"),
        _attr("proc_id").alias("proc_id"),
        _attr("msg_id").alias("msg_id"),
        _attr("structured_data").alias("structured_data"),
        _attr("message").alias("message"),
        F.col("severity").cast("int").alias("severity"),
        F.col("severity_text"),
        F.unix_micros(F.col("ts").cast("timestamp_ltz")).alias("ts_us"),
        _attr("timestamp").alias("ts_attr"),  # must be NULL post-delete
    )


def q_trace_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """trace_parser hex-decode (operator/parser/trace/trace.go:30-71);
    round-trips synthetic hex ids through BinaryType columns."""
    spark.read.parquet(f"{sf_dir}/events.parquet").createOrReplaceTempView("events")
    src = spark.sql(
        "SELECT event_id, "
        "substr(md5(cast(event_id as varchar(30))), 1, 32) AS tid, "
        "substr(md5(cast(event_id as varchar(30))), 1, 16) AS sid "
        "FROM events"
    )
    df = to_entries(
        src.select(
            F.lit("t").alias("conv_id"),
            F.col("event_id").cast("int").alias("turn_idx"),
            F.lit("system").alias("role"),
            F.to_json(F.struct(F.col("tid").alias("trace_id"),
                               F.col("sid").alias("span_id"))).alias("text"),
            F.lit("").alias("tool"),
            F.lit(None).cast("timestamp").alias("ts"),
        )
    )
    df = build_stage({"type": "json_parser", "parse_to": "body"}).apply(df)
    df = build_stage(
        {
            "type": "trace_parser",
            "trace_id": {"parse_from": "body.trace_id"},
            "span_id": {"parse_from": "body.span_id"},
        }
    ).apply(df)
    return df.select(
        F.col("turn_idx").cast("long").alias("event_id"),
        F.lower(F.hex(F.col("trace_id"))).alias("trace_hex"),
        F.lower(F.hex(F.col("span_id"))).alias("span_hex"),
    )


def q_flatten(spark: SparkSession, sf_dir: str) -> DataFrame:
    """flatten: splice a nested body map's children into the parent
    (operator/transformer/flatten/flatten.go:41-101)."""
    spark.read.parquet(f"{sf_dir}/events.parquet").createOrReplaceTempView("events")
    src = spark.sql(
        "SELECT event_id, "
        "'{\"kind\":\"order\",\"detail\":{\"sku\":\"s-' || cast(event_id % 40 as varchar(30)) "
        "|| '\",\"qty\":\"' || cast(event_id % 7 as varchar(30)) || '\"}}' AS line "
        "FROM events"
    )
    df = to_entries(
        src.select(
            F.lit("f").alias("conv_id"),
            F.col("event_id").cast("int").alias("turn_idx"),
            F.lit("system").alias("role"),
            F.col("line").alias("text"),
            F.lit("").alias("tool"),
            F.lit(None).cast("timestamp").alias("ts"),
        )
    )
    df = build_stage({"type": "json_parser", "parse_to": "body"}).apply(df)
    df = build_stage({"type": "flatten", "field": "body.detail"}).apply(df)
    b = F.col("body")
    return df.select(
        F.col("turn_idx").cast("long").alias("event_id"),
        F.try_element_at(b, F.lit("kind")).alias("kind"),
        F.try_element_at(b, F.lit("sku")).alias("sku"),
        F.try_element_at(b, F.lit("qty")).alias("qty"),
        F.size(b).cast("long").alias("n_body_keys"),
    )


def q_retain_body(spark: SparkSession, sf_dir: str) -> DataFrame:
    """retain on BODY-rooted keys (retain.go:91-118): the body map
    filters to the listed keys, the attributes root filters
    independently, and the raw-string body (text) obeys the text-drop
    rule — rows whose body never parsed lose their raw text when body
    keys are retained."""
    spark.read.parquet(f"{sf_dir}/events.parquet").createOrReplaceTempView("events")
    src = spark.sql(
        "SELECT event_id, CASE WHEN event_id % 2 = 0 THEN "
        "'{\"kind\":\"order\",\"sku\":\"s-' || cast(event_id % 40 as varchar(30)) "
        "|| '\",\"qty\":\"' || cast(event_id % 7 as varchar(30)) || '\"}' "
        "ELSE 'plain line ' || cast(event_id as varchar(30)) END AS line "
        "FROM events"
    )
    df = to_entries(
        src.select(
            F.lit("r").alias("conv_id"),
            F.col("event_id").cast("int").alias("turn_idx"),
            F.lit("system").alias("role"),
            F.col("line").alias("text"),
            F.lit("").alias("tool"),
            F.lit(None).cast("timestamp").alias("ts"),
        )
    )
    df = build_stage(
        {"type": "json_parser", "parse_to": "body",
         "if_expr": 'body startsWith "{"'}
    ).apply(df)
    df = build_stage(
        {"type": "retain",
         "fields": ["body.kind", "body.sku", "attributes.role"]}
    ).apply(df)
    b = F.col("body")
    return df.select(
        F.col("turn_idx").cast("long").alias("event_id"),
        F.try_element_at(b, F.lit("kind")).alias("kind"),
        F.try_element_at(b, F.lit("sku")).alias("sku"),
        F.coalesce(F.when(b.isNotNull(), F.size(b)), F.lit(0))
        .cast("long")
        .alias("n_body_keys"),
        F.try_element_at(F.col("attributes"), F.lit("role")).alias("role_attr"),
        F.size(F.col("attributes")).cast("long").alias("n_attrs"),
        F.col("text").alias("raw_text"),
    )


def q_scope_name(spark: SparkSession, sf_dir: str) -> DataFrame:
    """scope_name_parser: copy a string field to ScopeName
    (operator/parser/scope/scope_name.go:29-67)."""
    df = _entries(spark, sf_dir)
    df = build_stage(
        {"type": "scope_name_parser", "parse_from": "attributes.role"}
    ).apply(df)
    return df.select("conv_id", "turn_idx", "scope_name")


def q_csv_headerattr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """csv_parser with the header read from an attribute PER ENTRY
    (operator/parser/csv/csv.go:106-121); the header attribute is
    itself extracted by a regex_parser stage."""
    spark.read.parquet(f"{sf_dir}/events.parquet").createOrReplaceTempView("events")
    src = spark.sql(
        "SELECT event_id, "
        "case when event_id % 2 = 0 then 'id,uid,etype' else 'ident,usr,kind' end "
        "|| ';' || cast(event_id as varchar(30)) || ',' "
        "|| cast(user_id as varchar(30)) || ',' || event_type AS line "
        "FROM events"
    )
    df = to_entries(
        src.select(
            F.lit("h").alias("conv_id"),
            F.col("event_id").cast("int").alias("turn_idx"),
            F.lit("system").alias("role"),
            F.col("line").alias("text"),
            F.lit("").alias("tool"),
            F.lit(None).cast("timestamp").alias("ts"),
        )
    )
    df = build_stage(
        {
            "type": "regex_parser",
            "regex": r"^(?P<columns>[^;]+);(?P<rest>.*)$",
        }
    ).apply(df)
    df = build_stage(
        {
            "type": "csv_parser",
            "parse_from": "attributes.rest",
            "header_attribute": "columns",
        }
    ).apply(df)
    return df.select(
        F.col("turn_idx").cast("long").alias("event_id"),
        _attr("id").alias("id"),
        _attr("uid").alias("uid"),
        _attr("etype").alias("etype"),
        _attr("ident").alias("ident"),
        _attr("usr").alias("usr"),
        _attr("kind").alias("kind"),
    )


def q_time_epoch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """time_parser epoch layouts ms and s.us with exact integer
    split semantics (operator/helper/time.go:206-266)."""
    spark.read.parquet(f"{sf_dir}/events.parquet").createOrReplaceTempView("events")
    src = spark.sql(
        # parquet ts is NTZ; session tz is UTC so the ltz cast is
        # instant-preserving
        "SELECT event_id, to_json(named_struct("
        "  'ms', cast(unix_millis(cast(ts as timestamp_ltz)) as string),"
        "  's_us', concat(cast(unix_seconds(cast(ts as timestamp_ltz)) as string), '.', "
        "          lpad(cast(unix_micros(cast(ts as timestamp_ltz)) % 1000000 as string), 6, '0'))"
        ")) AS line FROM events"
    )
    df = to_entries(
        src.select(
            F.lit("e").alias("conv_id"),
            F.col("event_id").cast("int").alias("turn_idx"),
            F.lit("system").alias("role"),
            F.col("line").alias("text"),
            F.lit("").alias("tool"),
            F.lit(None).cast("timestamp").alias("ts"),
        )
    )
    df = build_stage({"type": "json_parser"}).apply(df)
    df = build_stage(
        {
            "type": "time_parser",
            "parse_from": "attributes.ms",
            "layout_type": "epoch",
            "layout": "ms",
        }
    ).apply(df)
    df = df.withColumn("_ts_ms", F.col("ts"))
    df = build_stage(
        {
            "type": "time_parser",
            "parse_from": "attributes.s_us",
            "layout_type": "epoch",
            "layout": "s.us",
        }
    ).apply(df)
    return df.select(
        F.col("turn_idx").cast("long").alias("event_id"),
        F.unix_micros(F.col("_ts_ms").cast("timestamp_ltz")).alias("ms_us"),
        F.unix_micros(F.col("ts").cast("timestamp_ltz")).alias("sus_us"),
    )


def q_recombine_newest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """recombine with is_last_entry boundary, newest base entry and
    max_batch_size sub-splitting (operator/transformer/recombine/
    recombine.go:269-335)."""
    df = _entries(spark, sf_dir)
    stage = RecombineStage(
        combine_field="body",
        is_last_entry='attributes.role == "tool"',
        source_identifier="resource.conv_id",
        combine_with="\n",
        overwrite_with="newest",
        max_batch_size=3,
        order_by=["turn_idx"],
    )
    out = stage.apply(df)
    return out.select("conv_id", "turn_idx", "text")


def q_transform_restructure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """add/copy/move/remove/retain chain (SURVEY.md section 2.5)."""
    df = _entries(spark, sf_dir)
    for cfg in [
        {"type": "add", "field": "attributes.env", "value": "prod"},
        {
            "type": "add",
            "field": "attributes.sev_tag",
            "value": 'EXPR(attributes.role + "-" + attributes.tool)',
        },
        {"type": "copy", "from": "resource.conv_id", "to": "attributes.conv_copy"},
        {"type": "move", "from": "attributes.env", "to": "attributes.environment"},
        {"type": "remove", "field": "attributes.tool"},
        {
            "type": "retain",
            "fields": [
                "attributes.environment",
                "attributes.sev_tag",
                "attributes.role",
                "attributes.conv_copy",
            ],
        },
    ]:
        df = build_stage(cfg).apply(df)
    return df.select(
        "conv_id",
        "turn_idx",
        _attr("environment").alias("environment"),
        _attr("sev_tag").alias("sev_tag"),
        _attr("role").alias("role_attr"),
        _attr("conv_copy").alias("conv_copy"),
        F.size(F.col("attributes")).cast("long").alias("n_attr_keys"),
    )


def q_filter_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """filter operator: drop entries matching expr
    (operator/transformer/filter/filter.go:39-117)."""
    df = _entries(spark, sf_dir)
    df = build_stage({"type": "filter", "expr": 'attributes.role == "system"'}).apply(df)
    return df.groupBy("role").agg(F.count(F.lit(1)).alias("cnt"))


def q_enrich_roles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lookup_enrich: broadcast hash-join enrichment (north rule)."""
    df = apply_enrich(spark, _entries(spark, sf_dir))
    return df.select(
        "conv_id",
        "turn_idx",
        _attr("role").alias("role"),
        _attr("persona").alias("persona"),
        _attr("origin").alias("origin"),
    )


def q_router_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship headline: parse -> enrich -> route -> per-sink counts."""
    return run_flagship(spark, sf_dir)


def q_routed_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Routed-row equality: every turn's sink assignment."""
    tagged = tagged_frame(spark, sf_dir)
    return tagged.select("conv_id", "turn_idx", route_name_col().alias("sink"))


def q_recombine_conv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """recombine: window-based multiline stitching, is_first_entry
    boundary, oldest base (operator/transformer/recombine/
    recombine.go:37-335)."""
    df = _entries(spark, sf_dir)
    stage = RecombineStage(
        combine_field="body",
        is_first_entry='attributes.role == "user"',
        source_identifier="resource.conv_id",
        combine_with="\n",
        overwrite_with="oldest",
        order_by=["turn_idx"],
    )
    out = stage.apply(df)
    return out.select("conv_id", "turn_idx", "text")


# ---- training-data ops ----------------------------------------------


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup on a deterministically duplicated corpus."""
    docs = _documents(spark, sf_dir).select("doc_id", "text")
    dups = docs.filter(F.col("doc_id") % 3 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"), "text"
    )
    return dedup.exact_dedup(docs.unionByName(dups))


def q_paragraph_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide paragraph-level exact dedup (CCNet/C4 scheme) over
    deterministically assembled multi-paragraph documents: synthetic
    doc g = doc_id % 49 holds the docs' 120-char prefixes as
    paragraphs in doc_id order, with paragraph CONTENT keyed by
    doc_id % 250 — so every paragraph appears in ~2 synthetic docs and
    only the globally first (min (doc_id, idx)) occurrence survives.
    Oracle: the identical assembly + a row_number-over-paragraph
    election in SQL."""
    docs = _documents(spark, sf_dir).select("doc_id", "text")
    content = docs.select(
        F.col("doc_id").alias("ckey"),
        F.substring("text", 1, 120).alias("para"),
    )
    paras = (
        docs.select("doc_id", (F.col("doc_id") % 250).alias("ckey"))
        .join(F.broadcast(content), "ckey")
        .select("doc_id", (F.col("doc_id") % 49).alias("g"), "para")
    )
    assembled = (
        paras.groupBy("g")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.struct(
                                F.col("doc_id").alias("o"),
                                F.col("para").alias("v"),
                            )
                        )
                    ),
                    lambda x: x.getField("v"),
                ),
                "\n\n",
            ).alias("text")
        )
        .select(F.col("g").alias("doc_id"), "text")
    )
    out = dedup.paragraph_dedup(assembled)
    return out.select(
        "doc_id",
        "text",
        F.col("n_paras").cast("long").alias("n_paras"),
        F.col("n_kept").cast("long").alias("n_kept"),
    )


def q_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-doc duplicate-n-gram fractions (Gopher quality-filter
    family) over documents — pure codegen HOF algebra, zero shuffle."""
    return textops.repetition_stats(_documents(spark, sf_dir)).select(
        "doc_id",
        F.col("tok_cnt").cast("long").alias("tok_cnt"),
        "dup_2gram_frac",
        "dup_3gram_frac",
        "dup_4gram_frac",
    )


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs -> connected components -> cluster labels, the
    survivor-selection step after any pair-finding dedup. Edges are
    deterministic over the documents ids: chains (i-1, i) for
    i % 10 != 0 (diameter-9 components — forces real multi-round
    propagation, not a one-hop star) plus cross-links (i, i+15) for
    i % 37 == 0 that merge chains. Oracle: a recursive-CTE transitive
    closure computing min reachable id per node."""
    docs = _documents(spark, sf_dir).select("doc_id")
    chain = docs.filter(F.col("doc_id") % 10 != 0).select(
        (F.col("doc_id") - 1).alias("doc_a"),
        F.col("doc_id").alias("doc_b"),
    )
    cross = (
        docs.filter(F.col("doc_id") % 37 == 0)
        .select(
            F.col("doc_id").alias("doc_a"),
            (F.col("doc_id") + 15).alias("doc_b"),
        )
        .join(docs.select(F.col("doc_id").alias("doc_b")), "doc_b")
        .select("doc_a", "doc_b")
    )
    out = dedup.connected_components(chain.unionByName(cross))
    return out.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("cluster_id").cast("long").alias("cluster_id"),
    )


def q_windowed_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1h-window per-event-type rate rollup over events —
    Catalyst-native F.window bucketing, one partial-agg shuffle.
    Oracle: epoch-truncation arithmetic in SQL."""
    from opentelemetry_log_collection_spark import sessions

    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    out = sessions.windowed_rates(events, window_s=3600)
    return out.select(
        "w_start_us",
        "event_type",
        F.col("n_events").cast("long").alias("n_events"),
        F.col("value_sum").cast("double").alias("value_sum"),
    )


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization rollup over the events table (8h
    inactivity gap — the table's per-user cadence makes that yield a
    real mix of single- and multi-event sessions). ONE shuffle on
    user_id shared by the window and the rollup; oracle is the same
    lag + running-sum window in SQL."""
    from opentelemetry_log_collection_spark import sessions

    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    out = sessions.session_stats(events, gap_s=28800)
    return out.select(
        F.col("user_id").cast("long").alias("user_id"),
        F.col("session_idx").cast("long").alias("session_idx"),
        F.col("n_events").cast("long").alias("n_events"),
        F.unix_micros(F.col("t_start").cast("timestamp_ltz")).alias(
            "t_start_us"
        ),
        F.unix_micros(F.col("t_end").cast("timestamp_ltz")).alias(
            "t_end_us"
        ),
        F.col("duration_us").cast("long").alias("duration_us"),
    )


def q_asof_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join over the events table: every click event enriched
    with the most recent PRIOR error event's value for the same user
    (point-in-time enrichment; left rows with no prior error keep
    nulls). ONE shuffle on user_id via the union + null-ignoring
    window plan — never a per-key cross product. Oracle: DuckDB's
    native ASOF LEFT JOIN over the identically deduped right side."""
    from opentelemetry_log_collection_spark import asof

    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    clicks = events.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    errors = events.filter(F.col("event_type") == "error").select(
        "user_id", "ts", "value"
    )
    out = asof.asof_join(clicks, errors, on="user_id", ts="ts",
                         value_cols=("value",))
    return out.select(
        F.col("event_id").cast("long").alias("event_id"),
        F.col("user_id").cast("long").alias("user_id"),
        F.unix_micros(F.col("ts").cast("timestamp_ltz")).alias("ts_us"),
        F.unix_micros(F.col("r_ts").cast("timestamp_ltz")).alias("r_ts_us"),
        F.col("r_value").cast("double").alias("r_value"),
    )


def q_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed range join over the events table: every click event
    paired with every same-user error "incident window" [err_ts,
    err_ts + 30 min) containing it. The plan is a pure equi-join on
    (user_id, time-bucket) with the exact range as a residual — never
    a per-key cross product. Oracle: the plain inequality join in
    DuckDB (IEJoin)."""
    from opentelemetry_log_collection_spark import asof

    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    clicks = events.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    incidents = events.filter(F.col("event_type") == "error").select(
        "user_id",
        F.col("ts").alias("ts_start"),
        (F.col("ts") + F.expr("INTERVAL 30 MINUTES")).alias("ts_end"),
        F.col("value").alias("iv_value"),
    )
    out = asof.interval_join(clicks, incidents, on="user_id",
                             bucket_s=1800)
    return out.select(
        F.col("event_id").cast("long").alias("event_id"),
        F.col("user_id").cast("long").alias("user_id"),
        F.unix_micros(F.col("ts").cast("timestamp_ltz")).alias("ts_us"),
        F.unix_micros(F.col("ts_start").cast("timestamp_ltz")).alias(
            "iv_start_us"
        ),
        F.col("iv_value").cast("double").alias("iv_value"),
    )


def q_topk_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group top-k over events: the 5 highest-value events per
    event_type, deterministic tie-break on event_id. Catalyst plans
    the row_number filter as WindowGroupLimit (partial below the
    exchange), so map tasks forward at most k rows per group. Oracle:
    the same window in SQL (DuckDB uses identical semantics)."""
    from opentelemetry_log_collection_spark import sessions

    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    out = sessions.top_k_per_group(
        events, key_col="event_type", order_col="value",
        tie_col="event_id", k=5,
    )
    return out.select(
        F.col("event_type"),
        F.col("rk").cast("long").alias("rk"),
        F.col("event_id").cast("long").alias("event_id"),
        F.col("value").cast("double").alias("value"),
    )


def q_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-family composite quality gate over documents: every doc
    labeled keep/fail with the pipe-joined rule names it tripped.
    Oracle recomputes all five rules from the same tokenization."""
    return textops.quality_filter(_documents(spark, sf_dir))


def q_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT n-gram Jaccard near-dup pairs via the inverted shingle
    index (no MinHash, no missed pairs): pairs materialize only from
    shared shingles, threshold evaluated integer-exactly as
    inter*den >= union*num. Oracle: the same index join in SQL."""
    docs = _documents(spark, sf_dir).select("doc_id", "text")
    out = dedup.jaccard_ngram_pairs(docs, sim_num=1, sim_den=4)
    return out.select(
        "doc_a",
        "doc_b",
        F.col("inter_cnt").cast("long").alias("inter_cnt"),
        F.col("union_cnt").cast("long").alias("union_cnt"),
    )


def q_redact_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing over the transcript turns: redact email/IPv4/
    card/phone spans and report exact per-rule match counts — pure
    regexp_replace/regexp_count codegen, zero shuffle. The Tomcat
    access-log turns carry real IPv4s, so the redaction provably
    rewrites text (n_ipv4 > 0 on ~40% of rows)."""
    t = materialized_transcripts(spark, sf_dir).select(
        "conv_id", "turn_idx", "text"
    )
    out = textops.redact_pii(t)
    return out.select(
        "conv_id",
        "turn_idx",
        "red_text",
        F.col("n_email").cast("long").alias("n_email"),
        F.col("n_ipv4").cast("long").alias("n_ipv4"),
        F.col("n_card").cast("long").alias("n_card"),
        F.col("n_phone").cast("long").alias("n_phone"),
    )


def q_normalize_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical text normalization over transcript turns (control
    strip -> whitespace collapse -> trim -> ASCII lowercase) with an
    exact changed flag — zero-shuffle codegen; the oracle runs the
    identical RE2-subset rule chain."""
    t = materialized_transcripts(spark, sf_dir).select(
        "conv_id", "turn_idx", "text"
    )
    out = textops.normalize_text(t)
    return out.select("conv_id", "turn_idx", "norm_text", "changed")


def q_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup candidates with exact n-gram Jaccard
    verification (shingle->minhash->band->bucket-join). Pinned at the
    oracle's small K=4/band=2/md5 config (DuckDB reproduces md5);
    production default is 128/16/xxhash64
    (dedup.MINHASH_SEEDS/BAND_SIZE/MINHASH_HASH)."""
    docs = _documents(spark, sf_dir).select("doc_id", "text")
    out = dedup.minhash_near_dups(docs, seeds=4, band_size=2, hash_fn="md5")
    return out.select(
        "doc_a",
        "doc_b",
        F.col("inter_cnt").cast("long").alias("inter_cnt"),
        F.col("union_cnt").cast("long").alias("union_cnt"),
    )


def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit SimHash signatures as 16-hex-char strings."""
    docs = _documents(spark, sf_dir).select("doc_id", "text")
    return dedup.simhash64(docs)


def q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-duplicate pairs via pigeonhole banding: 4 nibble
    bands over the 64-bit signature guarantee every pair with hamming
    <= 3 collides on at least one band; exact hamming verify runs as
    codegen nibble algebra on the candidate set only (dedup.
    simhash_near_dups)."""
    docs = _documents(spark, sf_dir).select("doc_id", "text")
    return dedup.simhash_near_dups(docs, max_hamming=3)


def q_embed_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: 3-table random-hyperplane
    LSH candidates + exact cosine threshold (similarity.
    embedding_near_dups). Deterministic given the md5-derived planes,
    so the oracle replays them as literals. The 0.35 threshold is
    tuned to the synthetic corpus's similarity scale (pairwise cosine
    tops out at ~0.47; the nearest sims sit >5e-4 from 0.35, so
    engine float noise cannot flip membership); pair ids only are
    emitted — the float sim stays out of the hash."""
    emb = _embeddings(spark, sf_dir)
    out = similarity.embedding_near_dups(emb, threshold=0.35)
    return out.select("doc_a", "doc_b")


def q_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting + stopword stats over documents."""
    docs = _documents(spark, sf_dir)
    out = textops.token_stats(docs)
    return out.select(
        "doc_id",
        F.col("tok_cnt").cast("long").alias("tok_cnt"),
        F.col("char_cnt").cast("long").alias("char_cnt"),
        F.col("stop_cnt").cast("long").alias("stop_cnt"),
        F.col("uniq_tok_cnt").cast("long").alias("uniq_tok_cnt"),
    )


def q_quality_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-scoring signals (exact integer counts)."""
    docs = _documents(spark, sf_dir)
    out = textops.quality_stats(docs)
    return out.select(
        "doc_id",
        F.col("char_cnt").cast("long").alias("char_cnt"),
        F.col("tok_cnt").cast("long").alias("tok_cnt"),
        F.col("punct_cnt").cast("long").alias("punct_cnt"),
        F.col("digit_cnt").cast("long").alias("digit_cnt"),
        F.col("space_cnt").cast("long").alias("space_cnt"),
    )


def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prefix fingerprint — document analogue of file_input's
    first-N-bytes fingerprint (operator/input/file/fingerprint.go)."""
    return textops.fingerprint(_documents(spark, sf_dir))


def q_winnow_fp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprints (MOSS rolling k-gram + window-min
    selection, textops.winnow_fingerprints): k=5, w=4 — any shared
    substring >= 8 chars across documents shares a fingerprint.
    Entirely higher-order-function algebra, zero shuffles."""
    docs = _documents(spark, sf_dir).select("doc_id", "text")
    return textops.winnow_fingerprints(docs, k=5, w=4)


def q_embed_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-5 (ranks only; exact baseline)."""
    emb = _embeddings(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < 8)
    out = similarity.brute_force_topk(queries, emb, k=5)
    return out.select(
        "query_id", F.col("rank").cast("long").alias("rnk"), "neighbor_id"
    )


def q_time_gotime(spark: SparkSession, sf_dir: str) -> DataFrame:
    """time_parser with a gotime (Go reference-time) layout — the k8s
    layout 2006-01-02T15:04:05.999999999Z07:00 with its OPTIONAL
    nanosecond fraction (operator/helper/time.go:80-85,
    time_test.go:278). Even event_ids carry a 9-digit fraction, odd
    ones none — both must parse under ONE layout."""
    spark.read.parquet(f"{sf_dir}/events.parquet").createOrReplaceTempView("events")
    src = spark.sql(
        "SELECT event_id, concat("
        "  date_format(cast(ts as timestamp_ltz), \"yyyy-MM-dd'T'HH:mm:ss\"),"
        "  case when event_id % 2 = 0 then concat('.',"
        "    lpad(cast(unix_micros(cast(ts as timestamp_ltz)) % 1000000 as string), 6, '0'),"
        "    '000') else '' end,"
        "  'Z') AS line FROM events"
    )
    df = to_entries(
        src.select(
            F.lit("g").alias("conv_id"),
            F.col("event_id").cast("int").alias("turn_idx"),
            F.lit("system").alias("role"),
            F.col("line").alias("text"),
            F.lit("").alias("tool"),
            F.lit(None).cast("timestamp").alias("ts"),
        )
    )
    df = build_stage(
        {
            "type": "time_parser",
            "layout_type": "gotime",
            "layout": "2006-01-02T15:04:05.999999999Z07:00",
        }
    ).apply(df)
    return df.select(
        F.col("turn_idx").cast("long").alias("event_id"),
        F.unix_micros(F.col("ts").cast("timestamp_ltz")).alias("ts_us"),
    )


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID via char-trigram profiles — codegen replace-count
    scorer (textops.lang_guess_builtin); deterministic, so the same
    literal profiles drive the DuckDB oracle."""
    return textops.language_id(_documents(spark, sf_dir))


def q_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-hyperplane LSH ANN. Approximate vs brute force, but
    DETERMINISTIC given the md5-derived hyperplanes — the oracle
    replays the same planes as literal arrays (bucket sign bits ->
    candidate collisions -> exact cosine re-rank)."""
    emb = _embeddings(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < 8)
    out = similarity.lsh_topk(queries, emb, k=5, dim=64)
    return out.select(
        "query_id", F.col("rank").cast("long").alias("rnk"), "neighbor_id"
    )


def q_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-flat ANN (deterministically sampled centroids, nprobe cell
    probing, exact re-rank) — fully replayable in SQL: centroids are
    the first n_cells corpus vectors, so the oracle recomputes the
    identical Voronoi assignment."""
    emb = _embeddings(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < 8)
    out = similarity.ivf_topk(queries, emb, k=5, n_cells=16, nprobe=4)
    return out.select(
        "query_id", F.col("rank").cast("long").alias("rnk"), "neighbor_id"
    )


def q_streaming_routed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship pipeline through Structured Streaming
    (availableNow): stream the transcript table, parse + route per
    microbatch, multi-sink fan-out via foreachBatch, then read back
    every routed row. Must equal the batch router's assignment —
    the continuous path is not a unit-test-only sibling."""
    import tempfile

    from opentelemetry_log_collection_spark.streaming import streaming_flagship

    # the dir outlives this call: the returned frame reads lazily from
    # it (a few MB at driver SFs; /tmp-lifetime is fine)
    work = tempfile.mkdtemp(prefix="stream_flagship_")
    q = streaming_flagship(spark, sf_dir, f"{work}/out", f"{work}/ckpt")
    q.processAllAvailable()
    q.stop()
    return spark.read.parquet(f"{work}/out/data").select(
        "conv_id", "turn_idx", "sink"
    )


def q_streaming_recombine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The stateful recombine through Structured Streaming
    (applyInPandasWithState, availableNow): boundary groups flush on
    is_first matches, trailing open groups via the force_flush_period
    analogue (ProcessingTimeTimeout). Must equal the batch window
    operator row-for-row — same oracle SQL as recombine_conv."""
    import tempfile
    import time

    from opentelemetry_log_collection_spark.streaming import (
        stream_transcripts,
        streaming_recombine,
    )

    work = tempfile.mkdtemp(prefix="stream_recombine_")
    out = streaming_recombine(
        stream_transcripts(spark, sf_dir), flush_timeout_ms=2000
    )
    q = (
        out.writeStream.format("parquet")
        .option("path", f"{work}/rec")
        .option("checkpointLocation", f"{work}/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    # an availableNow query with registered ProcessingTimeTimeouts
    # keeps scheduling timeout batches, so it never self-terminates.
    # It is done once a batch reads no input (the data is consumed)
    # and the state operator holds no rows (every open group flushed)
    t0 = time.time()
    while q.isActive and time.time() - t0 < 300:
        p = q.lastProgress
        if p and p["numInputRows"] == 0 and p["stateOperators"][0]["numRowsTotal"] == 0:
            break
        time.sleep(0.1)
    # stop between batches: a stop during a batch interrupts its state
    # store commit (CANNOT_WRITE_STATE_STORE). The gap between two
    # timeout batches is about a millisecond, so poll without sleeping
    while q.status["isTriggerActive"] and time.time() - t0 < 300:
        pass
    q.stop()
    return spark.read.parquet(f"{work}/rec").select(
        F.col("source").alias("conv_id"), "turn_idx", "text"
    )


def _doc_assets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Documents re-cast as opaque media assets: payload = utf-8
    bytes, kind cycled. Exercises the multimodal plumbing (schema,
    byte-budget batching, mapInPandas signatures) over real sf-scaled
    data; the decoder itself is the documented stub."""
    docs = _documents(spark, sf_dir)
    kind = (
        F.when(F.col("doc_id") % 3 == 0, F.lit("image"))
        .when(F.col("doc_id") % 3 == 1, F.lit("audio"))
        .otherwise(F.lit("video"))
    )
    return docs.select(
        F.col("doc_id").alias("asset_id"),
        kind.alias("kind"),
        F.lit("application/octet-stream").alias("mime"),
        F.encode(F.col("text"), "utf-8").alias("payload"),
        F.length(F.col("text")).cast("long").alias("n_bytes"),
        F.create_map(F.lit("lang"), F.col("lang")).alias("meta"),
    )


def q_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal feature extraction plumbing (mapInPandas, stubbed
    decode). The stub feature is md5-derived (multimodal.py), so the
    check projects the feature back to its byte values — hashable
    scalars the driver can canonicalize AND a value DuckDB can
    reproduce from md5(kind || text)."""
    from opentelemetry_log_collection_spark.multimodal import extract_features

    feats = extract_features(_doc_assets(spark, sf_dir))
    # feature[i] = byte_i / 255.0 as float32; *255 + round recovers the
    # exact byte (float32 relative error ~1e-7 << 0.5)
    return feats.select(
        "asset_id",
        "kind",
        F.size(F.col("feature")).cast("int").alias("feature_dim"),
        F.array_join(
            F.transform(
                F.col("feature"),
                lambda x: F.round(x * 255).cast("int").cast("string"),
            ),
            ",",
        ).alias("feature_bytes"),
    )


def q_media_audio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL media decode, end to end: 60 genuine RIFF/WAVE containers
    (stdlib wave, mono 16-bit PCM square waves with per-slice
    amplitudes) -> multimodal.audio_features parses the container,
    PCM-decodes the sample stream, and computes physical statistics
    per asset inside mapInPandas. Every emitted float is an exact
    dyadic rational by construction (integer amplitudes, power-of-two
    slice lengths, /32768 scaling), so the DuckDB oracle reproduces
    the decoder's output bit-for-bit from the closed-form amplitude
    formula — the decode itself is what's under test."""
    from opentelemetry_log_collection_spark.multimodal import (
        audio_features,
        synthesize_wav_assets,
    )

    return audio_features(synthesize_wav_assets(spark, n=60))


def q_media_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame-sampling plumbing (one row -> many) — rows-only."""
    from opentelemetry_log_collection_spark.multimodal import sample_frames

    out = sample_frames(_doc_assets(spark, sf_dir))
    return out.select(
        "asset_id",
        "frame_idx",
        F.length(F.col("frame")).cast("int").alias("frame_bytes"),
    )


def q_media_image(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image decode, end to end: 60 genuine BMP containers
    (24-bit BGR, padded bottom-up rows) -> multimodal.image_features
    parses the headers, strips row padding, flips storage order back
    to image order, and computes per-channel pixel statistics inside
    mapInPandas. Channel sums are exact integers, so the DuckDB
    oracle reproduces every float bit-for-bit from the closed-form
    pixel formula (multimodal.bmp_pixel); corner_sum is row-order
    sensitive, so a decoder that forgot the bottom-up flip fails."""
    from opentelemetry_log_collection_spark.multimodal import (
        image_features,
        synthesize_bmp_assets,
    )

    return image_features(synthesize_bmp_assets(spark, n=60))


def q_media_png(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL *compressed* image decode, end to end: 60 genuine PNG
    containers (8-bit, CRC32-verified chunks, zlib-deflated scanlines;
    COLOR TYPE cycles truecolor/gray/palette/gray-alpha/RGBA per asset
    and filter type cycles y % 5 so every PNG unfilter branch —
    None/Sub/Up/Average/Paeth — runs at every channel width) ->
    multimodal.image_features dispatches on the magic bytes to
    decode_png: inflate + unfilter + per-channel pixel statistics
    inside mapInPandas. The DuckDB oracle reproduces every float
    bit-for-bit from the closed-form pixel formula
    (multimodal.png_pixel) — any wrong unfilter branch fails it."""
    from opentelemetry_log_collection_spark.multimodal import (
        image_features,
        synthesize_png_assets,
    )

    return image_features(synthesize_png_assets(spark, n=60))


def q_media_jpeg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL *entropy-coded* image decode, end to end: 60 genuine
    baseline JPEGs (marker segments, standard Annex K Huffman/quant
    tables, stuffed bitstream) -> multimodal.image_features dispatches
    on the FFD8 magic to decode_jpeg: canonical Huffman decode +
    dequant + IDCT inside mapInPandas. The corpus is block-constant
    with even sample values, which makes baseline JPEG lossless BY
    CONSTRUCTION (8*(v-128) divides the DC quantizer; every AC is
    exactly 0) — so the DuckDB oracle is the closed pixel formula with
    no JPEG arithmetic, yet the decoder runs its fully general path
    (any Huffman, dequant, or IDCT defect breaks the hash)."""
    from opentelemetry_log_collection_spark.multimodal import (
        image_features,
        synthesize_jpeg_assets,
    )

    return image_features(synthesize_jpeg_assets(spark, n=60))


def q_media_gif(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL LZW-compressed image decode, end to end: 60 genuine GIF89a
    containers (256-entry global color table, GCE extension blocks,
    sub-block framing) -> multimodal.image_features dispatches on the
    GIF8 magic to decode_gif: a full variable-width LZW inflate +
    palette mapping inside mapInPandas. Every asset's 525-pixel index
    stream crosses the 512-entry dictionary boundary, so the 9->10-bit
    width transition runs on every row; the DuckDB oracle reproduces
    every float bit-for-bit from the closed-form index+palette
    formulas (multimodal.gif_index / gif_palette_rgb)."""
    from opentelemetry_log_collection_spark.multimodal import (
        image_features,
        synthesize_gif_assets,
    )

    return image_features(synthesize_gif_assets(spark, n=60))


def q_media_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image resize, round-tripped: BMP assets -> nearest-neighbor
    resample to 8x8 (multimodal.resize_images, floor index mapping) ->
    the RESIZED payloads re-enter image_features and decode again —
    proving the emitted bytes are themselves valid BMPs. The oracle
    replays pixel selection in closed form: resized (x, y, c) =
    bmp_pixel(a, x*w//8, y*h//8, c); exact-integer sums as always."""
    from opentelemetry_log_collection_spark.multimodal import (
        image_features,
        resize_images,
        synthesize_bmp_assets,
    )

    resized = resize_images(synthesize_bmp_assets(spark, n=60), 8, 8)
    re_assets = resized.select(
        "asset_id",
        F.lit("image").alias("kind"),
        "payload",
    )
    return image_features(re_assets)


def q_media_video(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL video decode, end to end: 40 genuine RIFF/AVI containers
    (uncompressed-DIB streams) -> multimodal.video_frame_stats walks
    the chunk tree, demuxes every frame, samples every 2nd, and emits
    per-frame pixel statistics — one asset fans out to many rows
    inside mapInPandas, payload bytes never cross a shuffle. Exact
    closed-form oracle (multimodal.avi_pixel), same float-determinism
    argument as media_image."""
    from opentelemetry_log_collection_spark.multimodal import (
        synthesize_avi_assets,
        video_frame_stats,
    )

    return video_frame_stats(synthesize_avi_assets(spark, n=40))


def q_tcp_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """tcp_input end to end over a REAL socket (tcp.go:61-302): the
    tomcat-dialect transcript lines are pushed through a bound TCP
    listener by a driver-side client (simulating the external log
    shipper), the bridge decodes + newline-splits + spools, and the
    returned frame is the ordinary distributed scan of that spool.
    Oracle: the same lines straight from the table — socket transport
    and splitter must be lossless and order-preserving."""
    import socket as _socket
    import tempfile
    import time as _time

    from opentelemetry_log_collection_spark.operators.net_input import (
        TcpInputStage,
    )

    lines = [
        r.text
        for r in materialized_transcripts(spark, sf_dir)
        .filter(F.col("text").startswith("10."))
        .select("text")
        .collect()  # client side: the SENDER is external by definition
    ]
    stage = TcpInputStage(
        listen_address="127.0.0.1:0",
        spool_dir=tempfile.mkdtemp(prefix="tcp_ingest_"),
    )
    stage.bridge.start()
    try:
        c = _socket.create_connection(("127.0.0.1", stage.bridge.port), timeout=10)
        c.sendall(("\n".join(lines) + "\n").encode("utf-8"))
        c.close()
        # wait for the handler to drain (recv returns b"" after close)
        deadline = _time.time() + 30
        while _time.time() < deadline:
            handlers = stage.bridge._threads[1:]
            if handlers and all(not t.is_alive() for t in handlers):
                break
            _time.sleep(0.05)
    finally:
        stage.bridge.stop(drain_s=0.0)
    return stage.generate(spark).select("text")


def q_journald_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """journald_input end to end (journald.go:188-231): transcript
    turns serialized as journalctl -o json export lines (MESSAGE /
    PRIORITY / _SYSTEMD_UNIT / __CURSOR / __REALTIME_TIMESTAMP),
    written to disk, then decoded by the real operator with the
    default priority=info filter. Oracle: the same derivations
    straight from the table, WHERE turn_idx % 8 <= 6 (info drops
    priority-7/debug lines)."""
    import tempfile

    from opentelemetry_log_collection_spark.operators.journald import (
        JournaldInputStage,
    )

    t = materialized_transcripts(spark, sf_dir)
    export = t.select(
        F.to_json(
            F.struct(
                F.col("text").alias("MESSAGE"),
                (F.col("turn_idx") % 8).cast("string").alias("PRIORITY"),
                F.concat(F.col("role"), F.lit(".service")).alias(
                    "_SYSTEMD_UNIT"
                ),
                F.concat_ws(
                    "-", F.col("conv_id"), F.col("turn_idx").cast("string")
                ).alias("__CURSOR"),
                F.unix_micros(
                    F.col("ts").cast("timestamp_ltz")
                ).cast("string").alias("__REALTIME_TIMESTAMP"),
            )
        ).alias("value")
    )
    work = tempfile.mkdtemp(prefix="journald_ingest_")
    export.write.mode("overwrite").text(work)
    stage = JournaldInputStage(files=f"{work}/part-*")
    out = stage.generate(spark)
    return out.select(
        F.try_element_at("body", F.lit("__CURSOR")).alias("cursor"),
        F.col("text").alias("message"),
        F.try_element_at("body", F.lit("_SYSTEMD_UNIT")).alias("unit"),
        F.try_element_at("body", F.lit("PRIORITY"))
        .cast("int")
        .alias("priority"),
        F.unix_micros(F.col("ts").cast("timestamp_ltz")).alias("ts_us"),
    )


def q_file_compressed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """file_input over a mixed rotated-log landing zone, end to end
    (engine addition — the reference's file.go reads plaintext only):
    the tomcat-dialect transcript lines (single-line by construction)
    round-robin across four files — live plaintext, two gzip
    rotations, one bz2 — written driver-side (the external log rotator
    is external by definition), then the REAL operator scans,
    per-extension decompresses, and line-splits them distributed.
    Oracle: the same round-robin arithmetic straight from the table —
    decompress + split must be lossless and order-preserving within
    every file."""
    import bz2 as _bz2
    import gzip as _gzip
    import os as _os
    import tempfile

    from opentelemetry_log_collection_spark.operators.io import (
        FileInputStage,
    )

    lines = [
        r.text
        for r in materialized_transcripts(spark, sf_dir)
        .filter(F.col("text").startswith("10."))
        .orderBy("conv_id", "turn_idx")  # pins the round-robin
        .select("text")
        .collect()
    ]
    names = ["shard-0.log", "shard-1.log.gz", "shard-2.log.gz",
             "shard-3.log.bz2"]
    codecs = [None, _gzip.compress, _gzip.compress, _bz2.compress]
    work = tempfile.mkdtemp(prefix="file_compressed_")
    for k, (name, comp) in enumerate(zip(names, codecs)):
        data = lines[k::4]
        if not data:
            continue
        raw = ("\n".join(data) + "\n").encode("utf-8")
        with open(_os.path.join(work, name), "wb") as f:
            f.write(comp(raw) if comp else raw)
    out = FileInputStage(include=f"{work}/shard-*").generate(spark)
    return out.select(
        F.try_element_at("attributes", F.lit("log.file.name")).alias(
            "fname"
        ),
        F.col("turn_idx").cast("long").alias("line_no"),
        F.col("text").alias("text"),
    )


def q_k8s_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k8s_event_input end to end (k8s_event.go:259-332): transcript
    turns serialized as watch-event JSON lines (type + object with
    involvedObject/kind cycling through the populateResource switch,
    eventTime from ts), decoded by the real operator. Verifies the
    timestamp, the event_type attribute, and the per-kind resource
    population (Container gets name only)."""
    import tempfile

    from opentelemetry_log_collection_spark.operators.k8s_event import (
        KIND_RESOURCE,
        K8sEventInputStage,
    )

    kinds = list(KIND_RESOURCE)  # Pod, Container, ReplicaSet, ...
    t = materialized_transcripts(spark, sf_dir)
    kind = F.element_at(
        F.array(*[F.lit(k) for k in kinds]),
        (F.col("turn_idx") % 8 + 1).cast("int"),
    )
    typ = F.element_at(
        F.array(F.lit("ADDED"), F.lit("MODIFIED"), F.lit("DELETED")),
        (F.col("turn_idx") % 3 + 1).cast("int"),
    )
    export = t.select(
        F.to_json(
            F.struct(
                typ.alias("type"),
                F.struct(
                    F.struct(
                        kind.alias("kind"),
                        F.col("conv_id").alias("name"),
                        F.concat_ws(
                            "-",
                            F.col("conv_id"),
                            F.col("turn_idx").cast("string"),
                        ).alias("uid"),
                        F.col("role").alias("namespace"),
                    ).alias("involvedObject"),
                    F.date_format(
                        F.col("ts"), "yyyy-MM-dd'T'HH:mm:ss.SSSSSS'Z'"
                    ).alias("eventTime"),
                    F.col("text").alias("message"),
                ).alias("object"),
            )
        ).alias("value")
    )
    work = tempfile.mkdtemp(prefix="k8s_ingest_")
    export.write.mode("overwrite").text(work)
    stage = K8sEventInputStage(files=f"{work}/part-*")
    out = stage.generate(spark)
    res = F.col("resource")
    name_keys = [f"{p}.name" for p, _ in KIND_RESOURCE.values()]
    uid_keys = [f"{p}.uid" for p, w in KIND_RESOURCE.values() if w]
    return out.select(
        F.try_element_at("attributes", F.lit("event_type")).alias(
            "event_type"
        ),
        F.try_element_at(res, F.lit("k8s.namespace.name")).alias("ns"),
        F.coalesce(
            *[F.try_element_at(res, F.lit(k)) for k in name_keys]
        ).alias("obj_name"),
        F.coalesce(
            *[F.try_element_at(res, F.lit(k)) for k in uid_keys],
            F.lit(""),
        ).alias("obj_uid"),
        F.try_element_at("body", F.lit("message")).alias("message"),
        F.unix_micros(F.col("ts").cast("timestamp_ltz")).alias("ts_us"),
    )


def q_windows_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """windows_eventlog_input end to end (operator.go + xml.go):
    transcript turns serialized as rendered Windows event XML (one
    <Event> per line; Level cycles 1-4, Channel derives from role),
    decoded by the real operator through Spark's builtin from_xml.
    Verifies the body map, the numeric-level severity mapping, and
    the RFC3339 microsecond timestamp."""
    import tempfile

    from opentelemetry_log_collection_spark.operators.windows_eventlog import (
        WindowsEventLogInputStage,
    )

    t = materialized_transcripts(spark, sf_dir)
    channel = (
        F.when(F.col("role") == "user", "Application")
        .when(F.col("role") == "assistant", "System")
        .otherwise("Setup")
    )
    level = (F.col("turn_idx") % 4 + 1).cast("string")
    xml = F.format_string(
        "<Event><System>"
        '<Provider Name="prov-%s"/>'
        '<EventID Qualifiers="0">%s</EventID>'
        "<Level>%s</Level><Task>1</Task><Opcode>0</Opcode>"
        '<TimeCreated SystemTime="%s"/>'
        "<EventRecordID>%s</EventRecordID>"
        "<Channel>%s</Channel><Computer>%s</Computer>"
        "</System></Event>",
        F.col("role"),
        ((F.col("turn_idx") * 7) % 1000).cast("string"),
        level,
        F.date_format(F.col("ts"), "yyyy-MM-dd'T'HH:mm:ss.SSSSSS'Z'"),
        F.col("turn_idx").cast("string"),
        channel,
        F.col("conv_id"),
    )
    work = tempfile.mkdtemp(prefix="windows_ingest_")
    t.select(xml.alias("value")).write.mode("overwrite").text(work)
    stage = WindowsEventLogInputStage(files=f"{work}/part-*")
    out = stage.generate(spark)
    b = F.col("body")
    return out.select(
        F.try_element_at(b, F.lit("computer")).alias("computer"),
        F.try_element_at(b, F.lit("channel")).alias("channel"),
        F.try_element_at(b, F.lit("record_id")).cast("bigint").alias(
            "record_id"
        ),
        F.try_element_at(b, F.lit("level")).alias("level"),
        F.col("severity").alias("severity"),
        F.get_json_object(
            F.try_element_at(b, F.lit("event_id")), "$.id"
        ).cast("bigint").alias("event_id"),
        F.unix_micros(F.col("ts").cast("timestamp_ltz")).alias("ts_us"),
    )


def q_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash-based stratified sampling (sampling.py):
    per-language keep rates as a codegen md5-threshold filter — zero
    shuffle, reproducible under retries and re-partitioning, unlike
    Bernoulli sample(). Unknown strata (zh here) drop via the 0.0
    default. Oracle: the identical md5-prefix comparison in DuckDB."""
    from opentelemetry_log_collection_spark.sampling import stratified_sample

    return stratified_sample(
        _documents(spark, sf_dir),
        strata_col="lang",
        rates={"en": 0.5, "de": 0.25, "fr": 0.1, "es": 0.75},
        key_col="doc_id",
        seed=7,
    ).select("doc_id", "lang")


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (sampling.py): corpus documents
    sharing any 4-gram with the held-out set (doc_id % 10 == 0 stands
    in for an eval suite). Join key is xxhash64(gram) with a string
    equality guard; the benchmark gram set is broadcast. Output: the
    contaminated doc ids with their distinct shared-gram counts."""
    from opentelemetry_log_collection_spark.sampling import decontaminate

    docs = _documents(spark, sf_dir)
    bench = docs.filter(F.col("doc_id") % 10 == 0)
    corpus = docs.filter(F.col("doc_id") % 10 != 0)
    return decontaminate(corpus, bench, n=4).select(
        "doc_id", F.col("n_shared").cast("bigint").alias("n_shared")
    )


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk sequence packing (packing.py): the corpus as
    one token stream cut into 512-token context windows, each doc
    assigned its global offset and chunk span. The global prefix sum
    runs two-phase (range partitions + broadcast offsets) — no
    whole-corpus single-task window. Oracle: the same running sum as
    one SQL window (DuckDB can afford it at oracle scale)."""
    from opentelemetry_log_collection_spark.packing import pack_sequences

    return pack_sequences(_documents(spark, sf_dir), budget=512)


# --------------------------------------------------------------------
# contract surface
# --------------------------------------------------------------------


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return run_flagship(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "transcripts": q_transcripts,
        "regex_tomcat": q_regex_tomcat,
        "json_signup": q_json_signup,
        "kv_click": q_kv_click,
        "csv_purchase": q_csv_purchase,
        "severity_http": q_severity_http,
        "time_access": q_time_access,
        "uri_request": q_uri_request,
        "syslog_rfc3164": q_syslog_rfc3164,
        "syslog_rfc5424": q_syslog_rfc5424,
        "trace_ids": q_trace_ids,
        "flatten": q_flatten,
        "scope_name": q_scope_name,
        "csv_headerattr": q_csv_headerattr,
        "time_epoch": q_time_epoch,
        "time_gotime": q_time_gotime,
        "transform_restructure": q_transform_restructure,
        "retain_body": q_retain_body,
        "filter_drop": q_filter_drop,
        "enrich_roles": q_enrich_roles,
        "router_counts": q_router_counts,
        "routed_rows": q_routed_rows,
        "recombine_conv": q_recombine_conv,
        "recombine_newest": q_recombine_newest,
        "dedup_exact": q_dedup_exact,
        "paragraph_dedup": q_paragraph_dedup,
        "dedup_clusters": q_dedup_clusters,
        "repetition_stats": q_repetition_stats,
        "quality_filter": q_quality_filter,
        "jaccard_pairs": q_jaccard_pairs,
        "redact_pii": q_redact_pii,
        "normalize_text": q_normalize_text,
        "asof_enrich": q_asof_enrich,
        "range_join": q_range_join,
        "topk_groups": q_topk_groups,
        "sessionize": q_sessionize,
        "windowed_rates": q_windowed_rates,
        "minhash_pairs": q_minhash_pairs,
        "simhash": q_simhash,
        "simhash_pairs": q_simhash_pairs,
        "embed_near_dups": q_embed_near_dups,
        "token_stats": q_token_stats,
        "quality_stats": q_quality_stats,
        "media_jpeg": q_media_jpeg,
        "media_png": q_media_png,
        "media_gif": q_media_gif,
        "file_compressed": q_file_compressed,
        "decontaminate": q_decontaminate,
        "pack_sequences": q_pack_sequences,
        "fingerprint": q_fingerprint,
        "winnow_fp": q_winnow_fp,
        "embed_topk": q_embed_topk,
        "lang_id": q_lang_id,
        "ann_lsh": q_ann_lsh,
        "media_features": q_media_features,
        "media_audio": q_media_audio,
        "media_frames": q_media_frames,
        "media_image": q_media_image,
        "media_resize": q_media_resize,
        "media_video": q_media_video,
        "ann_ivf": q_ann_ivf,
        "streaming_routed": q_streaming_routed,
        "streaming_recombine": q_streaming_recombine,
        "tcp_ingest": q_tcp_ingest,
        "journald_ingest": q_journald_ingest,
        "k8s_ingest": q_k8s_ingest,
        "windows_ingest": q_windows_ingest,
        "sample_stratified": q_sample_stratified,
    }


def oracle_sql() -> dict[str, str]:
    group = {
        "remote_host": 1,
        "http_method": 4,
        "url_path": 5,
        "http_status": 6,
        "bytes_sent": 7,
    }
    rx = TOMCAT_REGEX.replace("'", "''")
    tomcat_cols = ", ".join(
        f"regexp_extract(text, '{rx}', {i}) AS {name}" for name, i in group.items()
    )
    sqls: dict[str, str] = {}

    sqls["transcripts"] = (
        f"{ORACLE_CTE} SELECT conv_id, turn_idx, role, text, tool, "
        "epoch_us(ts) AS ts_us FROM transcripts"
    )

    sqls["regex_tomcat"] = (
        f"{ORACLE_CTE} SELECT conv_id, turn_idx, {tomcat_cols} "
        "FROM transcripts WHERE regexp_matches(text, '^10\\.')"
    )

    sqls["json_signup"] = f"""{ORACLE_CTE}
SELECT conv_id, turn_idx,
       json_extract_string(text, '$.event') AS event,
       json_extract_string(text, '$.user')  AS user_name,
       json_extract_string(text, '$.plan')  AS plan,
       json_extract_string(text, '$.ok')    AS ok
FROM transcripts WHERE text LIKE '{{%'"""

    sqls["kv_click"] = f"""{ORACLE_CTE}
SELECT conv_id, turn_idx,
       regexp_extract(text, 'user="([^"]*)"', 1)     AS user_name,
       regexp_extract(text, 'action=([^ ]+)', 1)      AS action,
       regexp_extract(text, 'target=([^ ]+)', 1)      AS target,
       regexp_extract(text, 'dur_ms=([0-9]+)', 1)     AS dur_ms
FROM transcripts WHERE text LIKE 'user=%'"""

    sqls["csv_purchase"] = f"""{ORACLE_CTE}
SELECT conv_id, turn_idx,
       regexp_extract(text, '^([0-9]+),([^,]*),"([^"]*)",([0-9]+)$', 1) AS txn_id,
       regexp_extract(text, '^([0-9]+),([^,]*),"([^"]*)",([0-9]+)$', 2) AS buyer,
       regexp_extract(text, '^([0-9]+),([^,]*),"([^"]*)",([0-9]+)$', 3) AS item,
       regexp_extract(text, '^([0-9]+),([^,]*),"([^"]*)",([0-9]+)$', 4) AS amount_cents
FROM transcripts WHERE regexp_matches(text, '^[0-9]+,')"""

    sqls["severity_http"] = f"""{ORACLE_CTE}
SELECT conv_id, turn_idx,
       CAST(CASE
         WHEN status BETWEEN 500 AND 599 THEN 17
         WHEN status BETWEEN 400 AND 499 THEN 13
         WHEN status BETWEEN 300 AND 399 THEN 10
         WHEN status BETWEEN 200 AND 299 THEN 9
         ELSE 0 END AS INTEGER) AS severity,
       CAST(status AS VARCHAR) AS severity_text
FROM (
  SELECT conv_id, turn_idx,
         CAST(regexp_extract(text, '" ([0-9]+) [0-9-]+$', 1) AS INTEGER) AS status
  FROM transcripts WHERE regexp_matches(text, '^10\\.')
)"""

    sqls["time_access"] = f"""{ORACLE_CTE}
SELECT conv_id, turn_idx,
       epoch_us(strptime(regexp_extract(text, '\\[([^\\]]+)\\]', 1),
                         '%d/%b/%Y:%H:%M:%S %z')) AS parsed_ts_us
FROM transcripts WHERE regexp_matches(text, '^10\\.')"""

    sqls["uri_request"] = f"""{ORACLE_CTE}
SELECT conv_id, turn_idx,
       string_split(url, '?')[1] AS path,
       '{{"id":["' || regexp_extract(url, 'id=([0-9]+)&id=([0-9]+)', 1)
       || '","' || regexp_extract(url, 'id=([0-9]+)&id=([0-9]+)', 2)
       || '"]}}' AS query
FROM (
  SELECT conv_id, turn_idx, regexp_extract(text, '"[A-Z]+ ([^ ]+) ', 1) AS url
  FROM transcripts WHERE regexp_matches(text, '^10\\.')
)"""

    # ts_us reproduces the missing-year inference (time.go:280-292):
    # year := now.year (2024-06-01 reference clock), minus one year
    # when the result lands >7 days in the future
    _year_inferred = (
        "make_timestamp(2024, month(ts), day(ts), hour(ts), minute(ts), "
        "CAST(second(ts) AS DOUBLE))"
    )
    _ts_rule = (
        f"CASE WHEN {_year_inferred} > TIMESTAMP '2024-06-08 00:00:00' "
        f"THEN {_year_inferred} - INTERVAL 1 YEAR ELSE {_year_inferred} END"
    )
    sqls["syslog_rfc3164"] = f"""WITH lines AS ({SYSLOG_SQL})
SELECT event_id,
       CAST(event_id % 192 AS VARCHAR)            AS priority,
       CAST((event_id % 192) // 8 AS VARCHAR)     AS facility,
       'host-' || CAST(user_id % 20 AS VARCHAR)   AS hostname,
       'svc' || CAST(event_id % 5 AS VARCHAR)     AS appname,
       CAST(event_id % 1000 AS VARCHAR)           AS proc_id,
       'job ' || CAST(event_id AS VARCHAR) || ' done' AS message,
       CAST({_SYSLOG_SEV} AS INTEGER)             AS severity,
       {_SYSLOG_SEV_TXT}                          AS severity_text,
       epoch_us({_ts_rule})                       AS ts_us,
       CAST(NULL AS VARCHAR)                      AS ts_attr
FROM events"""

    sqls["syslog_rfc5424"] = f"""
SELECT event_id,
       '1'                                        AS version,
       'host-' || CAST(user_id % 20 AS VARCHAR)   AS hostname,
       'app' || CAST(event_id % 7 AS VARCHAR)     AS appname,
       CASE WHEN event_id % 4 = 0 THEN NULL
            ELSE CAST(event_id % 1000 AS VARCHAR) END AS proc_id,
       'msg' || CAST(event_id % 50 AS VARCHAR)    AS msg_id,
       CASE WHEN event_id % 3 = 0 THEN NULL
            ELSE '[ex@32473 id="' || CAST(event_id % 10 AS VARCHAR) || '"]'
       END                                        AS structured_data,
       'task ' || CAST(event_id AS VARCHAR) || ' ok' AS message,
       CAST({_SYSLOG_SEV} AS INTEGER)             AS severity,
       {_SYSLOG_SEV_TXT}                          AS severity_text,
       epoch_us(date_trunc('second', ts))         AS ts_us,
       CAST(NULL AS VARCHAR)                      AS ts_attr
FROM events"""

    sqls["trace_ids"] = """
SELECT event_id,
       substr(md5(CAST(event_id AS VARCHAR)), 1, 32) AS trace_hex,
       substr(md5(CAST(event_id AS VARCHAR)), 1, 16) AS span_hex
FROM events"""

    # body-root retain: even event_ids parsed JSON into body (kept
    # keys filter to kind/sku), odd rows never parsed (body null) and
    # lose their raw text under the text-drop rule; attributes filter
    # to role on every row
    sqls["retain_body"] = """
SELECT CAST(event_id AS BIGINT) AS event_id,
  CASE WHEN event_id % 2 = 0 THEN 'order' END AS kind,
  CASE WHEN event_id % 2 = 0 THEN 's-' || CAST(event_id % 40 AS VARCHAR) END AS sku,
  CAST(CASE WHEN event_id % 2 = 0 THEN 2 ELSE 0 END AS BIGINT) AS n_body_keys,
  'system' AS role_attr,
  CAST(1 AS BIGINT) AS n_attrs,
  CASE WHEN event_id % 2 = 0 THEN
    '{"kind":"order","sku":"s-' || CAST(event_id % 40 AS VARCHAR)
      || '","qty":"' || CAST(event_id % 7 AS VARCHAR) || '"}'
  END AS raw_text
FROM events"""

    sqls["flatten"] = """
SELECT event_id,
       'order'                                   AS kind,
       's-' || CAST(event_id % 40 AS VARCHAR)    AS sku,
       CAST(event_id % 7 AS VARCHAR)             AS qty,
       CAST(3 AS BIGINT)                         AS n_body_keys
FROM events"""

    sqls["scope_name"] = (
        f"{ORACLE_CTE} SELECT conv_id, turn_idx, role AS scope_name "
        "FROM transcripts"
    )

    sqls["csv_headerattr"] = """
SELECT event_id,
  CASE WHEN event_id % 2 = 0 THEN CAST(event_id AS VARCHAR) END AS id,
  CASE WHEN event_id % 2 = 0 THEN CAST(user_id AS VARCHAR) END  AS uid,
  CASE WHEN event_id % 2 = 0 THEN event_type END                AS etype,
  CASE WHEN event_id % 2 = 1 THEN CAST(event_id AS VARCHAR) END AS ident,
  CASE WHEN event_id % 2 = 1 THEN CAST(user_id AS VARCHAR) END  AS usr,
  CASE WHEN event_id % 2 = 1 THEN event_type END                AS kind
FROM events"""

    sqls["time_epoch"] = """
SELECT event_id,
       epoch_us(ts) // 1000 * 1000 AS ms_us,
       epoch_us(ts)                AS sus_us
FROM events"""

    # the gotime lines are generated FROM events.ts (9-digit fraction
    # on even ids, none on odd), so the oracle recomputes the expected
    # instant directly: micros survive the fraction path, odd rows
    # truncate to seconds
    sqls["time_gotime"] = """
SELECT event_id,
       CASE WHEN event_id % 2 = 0 THEN epoch_us(ts)
            ELSE epoch_us(date_trunc('second', ts)) END AS ts_us
FROM events"""

    sqls["recombine_newest"] = f"""{ORACLE_CTE}, marked AS (
  SELECT conv_id, turn_idx, text,
         CASE WHEN role = 'tool' THEN 1 ELSE 0 END AS m
  FROM transcripts
), grouped AS (
  SELECT *, coalesce(sum(m) OVER (PARTITION BY conv_id ORDER BY turn_idx
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS grp
  FROM marked
), pos AS (
  SELECT *, row_number() OVER (PARTITION BY conv_id, grp
                               ORDER BY turn_idx) - 1 AS p
  FROM grouped
)
SELECT conv_id, max(turn_idx) AS turn_idx,
       string_agg(text, chr(10) ORDER BY turn_idx) AS text
FROM pos GROUP BY conv_id, grp, p // 3"""

    sqls["transform_restructure"] = f"""{ORACLE_CTE}
SELECT conv_id, turn_idx,
       'prod'                AS environment,
       role || '-' || tool   AS sev_tag,
       role                  AS role_attr,
       conv_id               AS conv_copy,
       CAST(4 AS BIGINT)     AS n_attr_keys
FROM transcripts"""

    sqls["filter_drop"] = (
        f"{ORACLE_CTE} SELECT role, count(*) AS cnt FROM transcripts "
        "WHERE role <> 'system' GROUP BY role"
    )

    role_case_p = " ".join(
        f"WHEN '{r}' THEN '{p}'" for r, p, _ in ROLE_DIM
    )
    role_case_o = " ".join(
        f"WHEN '{r}' THEN '{o}'" for r, _, o in ROLE_DIM
    )
    sqls["enrich_roles"] = f"""{ORACLE_CTE}
SELECT conv_id, turn_idx, role,
       CASE role {role_case_p} END AS persona,
       CASE role {role_case_o} END AS origin
FROM transcripts"""

    sqls["router_counts"] = (
        f"{ORACLE_CTE} SELECT {_SINK_CASE} AS sink, count(*) AS cnt "
        "FROM transcripts GROUP BY 1"
    )

    sqls["routed_rows"] = (
        f"{ORACLE_CTE} SELECT conv_id, turn_idx, {_SINK_CASE} AS sink "
        "FROM transcripts"
    )

    sqls["recombine_conv"] = f"""{ORACLE_CTE}, marked AS (
  SELECT conv_id, turn_idx, text,
         CASE WHEN role = 'user' THEN 1 ELSE 0 END AS m
  FROM transcripts
), grouped AS (
  SELECT *,
         sum(m) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS grp,
         row_number() OVER (PARTITION BY conv_id ORDER BY turn_idx) AS rn
  FROM marked
), subbed AS (
  SELECT *, CASE WHEN grp = 0 THEN rn ELSE 0 END AS sub FROM grouped
)
SELECT conv_id, min(turn_idx) AS turn_idx,
       string_agg(text, chr(10) ORDER BY turn_idx) AS text
FROM subbed GROUP BY conv_id, grp, sub"""

    sqls["dedup_exact"] = """
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 3 = 0
)
SELECT md5(text) AS content_hash, min(doc_id) AS keep_id,
       count(*) AS n_copies
FROM corpus GROUP BY 1"""

    sqls["minhash_pairs"] = r"""
WITH w AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS ws
  FROM documents
), sh0 AS (
  SELECT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS shingle
  FROM w, UNNEST(generate_series(1, len(ws) - 2)) AS t(i)
), sig AS (
  SELECT doc_id,
         min(md5('0|' || shingle)) AS mh0, min(md5('1|' || shingle)) AS mh1,
         min(md5('2|' || shingle)) AS mh2, min(md5('3|' || shingle)) AS mh3
  FROM sh0 GROUP BY doc_id
), cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM sig a JOIN sig b ON a.doc_id < b.doc_id
   AND ((a.mh0 = b.mh0 AND a.mh1 = b.mh1) OR (a.mh2 = b.mh2 AND a.mh3 = b.mh3))
), shd AS (
  SELECT DISTINCT doc_id, shingle FROM sh0
), sizes AS (
  SELECT doc_id, count(*) AS n FROM shd GROUP BY doc_id
), inter AS (
  SELECT c.doc_a, c.doc_b, count(*) AS inter_cnt
  FROM cand c
  JOIN shd sa ON sa.doc_id = c.doc_a
  JOIN shd sb ON sb.doc_id = c.doc_b AND sb.shingle = sa.shingle
  GROUP BY 1, 2
)
SELECT c.doc_a, c.doc_b,
       coalesce(i.inter_cnt, 0) AS inter_cnt,
       na.n + nb.n - coalesce(i.inter_cnt, 0) AS union_cnt
FROM cand c
LEFT JOIN inter i ON i.doc_a = c.doc_a AND i.doc_b = c.doc_b
JOIN sizes na ON na.doc_id = c.doc_a
JOIN sizes nb ON nb.doc_id = c.doc_b"""

    sqls["simhash"] = r"""
WITH w AS (
  SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS word
  FROM documents
), h AS (
  SELECT doc_id, md5(word) AS h FROM w
), bits AS (
  SELECT doc_id, h, i AS b FROM h, UNNEST(generate_series(0, 63)) AS t(i)
), v AS (
  SELECT doc_id, b,
         sum(2 * ((strpos('0123456789abcdef', substr(h, b // 4 + 1, 1)) - 1)
             // (CASE b % 4 WHEN 0 THEN 8 WHEN 1 THEN 4 WHEN 2 THEN 2 ELSE 1 END)
             % 2) - 1) AS vote
  FROM bits GROUP BY 1, 2
), sb AS (
  SELECT doc_id, b, CASE WHEN vote > 0 THEN 1 ELSE 0 END AS bit FROM v
), nib AS (
  SELECT doc_id, b // 4 AS nib,
         sum(bit * (CASE b % 4 WHEN 0 THEN 8 WHEN 1 THEN 4 WHEN 2 THEN 2 ELSE 1 END)) AS nibval
  FROM sb GROUP BY 1, 2
)
SELECT doc_id,
       string_agg(substr('0123456789abcdef', CAST(nibval AS INT) + 1, 1),
                  '' ORDER BY nib) AS simhash
FROM nib GROUP BY doc_id"""

    stop_list = ", ".join(f"'{s}'" for s in textops.STOPWORDS)
    # duplicate-cluster resolution: recursive-CTE transitive closure
    # over the same deterministic edge construction; cluster id = min
    # reachable doc id
    sqls["dedup_clusters"] = """
WITH RECURSIVE ed AS (
  SELECT doc_id - 1 AS a, doc_id AS b FROM documents WHERE doc_id % 10 <> 0
  UNION ALL
  SELECT d.doc_id AS a, d.doc_id + 15 AS b FROM documents d
  JOIN documents t ON t.doc_id = d.doc_id + 15 WHERE d.doc_id % 37 = 0
), e AS (
  SELECT a, b FROM ed UNION SELECT b AS a, a AS b FROM ed
), cc AS (
  SELECT DISTINCT a AS node, a AS lbl FROM e
  UNION
  SELECT e.b AS node, cc.lbl FROM cc JOIN e ON e.a = cc.node
)
SELECT CAST(node AS BIGINT) AS doc_id,
       CAST(min(lbl) AS BIGINT) AS cluster_id
FROM cc GROUP BY node"""

    # tumbling-window rates: epoch-aligned 1h buckets, same epoch
    # arithmetic DuckDB-side
    sqls["windowed_rates"] = """
SELECT CAST(floor(epoch(ts) / 3600) AS BIGINT) * 3600 * 1000000
         AS w_start_us,
       event_type,
       count(*) AS n_events,
       CAST(sum(value) AS DOUBLE) AS value_sum
FROM events GROUP BY 1, 2"""

    # gap-based sessionization: identical lag + running-sum window
    sqls["sessionize"] = """
WITH x AS (
  SELECT user_id, event_id, ts, epoch_us(ts) AS us,
         lag(epoch_us(ts)) OVER (PARTITION BY user_id
                                 ORDER BY ts, event_id) AS prev
  FROM events
), s AS (
  SELECT user_id, ts, event_id, us,
         sum(CASE WHEN prev IS NULL OR us - prev > 28800000000
                  THEN 1 ELSE 0 END)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS UNBOUNDED PRECEDING) AS session_idx
  FROM x
)
SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx,
       count(*) AS n_events,
       min(us) AS t_start_us, max(us) AS t_end_us,
       max(us) - min(us) AS duration_us
FROM s GROUP BY user_id, session_idx"""

    # composite quality gate: same five rules, same tokenization;
    # keep = no rule fired, fail_reasons = pipe-joined rule names
    sqls["quality_filter"] = """
WITH w AS (
  SELECT doc_id, string_split(trim(text), ' ') AS ws FROM documents
), m AS (
  SELECT doc_id, len(ws) AS n,
    CASE WHEN len(ws) >= 3 THEN 1.0 - len(list_distinct(list_transform(
      generate_series(1, len(ws) - 2),
      i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])))
      / CAST(len(ws) - 2 AS DOUBLE) ELSE 0.0 END AS dup3,
    list_aggregate(list_transform(ws, t -> length(t)), 'sum')
      / CAST(len(ws) AS DOUBLE) AS mean_len,
    len(list_distinct(list_filter(ws, t -> list_contains(
      ['the','a','of','and','to','in','is','it'], lower(t))))) AS n_stop
  FROM w
), f AS (
  SELECT doc_id, concat_ws('|',
    CASE WHEN n < 20 THEN 'too_few_tokens' END,
    CASE WHEN n > 100000 THEN 'too_many_tokens' END,
    CASE WHEN mean_len < 2.0 OR mean_len > 12.0
         THEN 'mean_tok_len_out_of_range' END,
    CASE WHEN dup3 > 0.5 THEN 'dup_3gram_frac_high' END,
    CASE WHEN n_stop < 2 THEN 'too_few_stopwords' END) AS fail_reasons
  FROM m
)
SELECT doc_id, fail_reasons = '' AS keep, fail_reasons FROM f"""

    # exact n-gram Jaccard: inverted shingle index, integer-exact
    # threshold inter*4 >= union*1 (Jaccard >= 0.25)
    sqls["jaccard_pairs"] = r"""
WITH w AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS ws
  FROM documents
), sh0 AS (
  SELECT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS shingle
  FROM w, UNNEST(generate_series(1, len(ws) - 2)) AS t(i)
), shd AS (
  SELECT DISTINCT doc_id, shingle FROM sh0
), sizes AS (
  SELECT doc_id, count(*) AS n FROM shd GROUP BY doc_id
), inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter_cnt
  FROM shd a JOIN shd b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT i.doc_a, i.doc_b, i.inter_cnt,
       na.n + nb.n - i.inter_cnt AS union_cnt
FROM inter i
JOIN sizes na ON na.doc_id = i.doc_a
JOIN sizes nb ON nb.doc_id = i.doc_b
WHERE i.inter_cnt * 4 >= (na.n + nb.n - i.inter_cnt)"""

    # text normalization: identical RE2-subset rule chain; lower() is
    # ASCII-only on this corpus so both engines agree byte-for-byte
    sqls["normalize_text"] = ORACLE_CTE + r"""
SELECT conv_id, turn_idx,
  lower(trim(regexp_replace(
    regexp_replace(text, '[\x00-\x08\x0b-\x1f\x7f]', '', 'g'),
    '\s+', ' ', 'g'))) AS norm_text,
  lower(trim(regexp_replace(
    regexp_replace(text, '[\x00-\x08\x0b-\x1f\x7f]', '', 'g'),
    '\s+', ' ', 'g'))) <> text AS changed
FROM transcripts"""

    # as-of enrichment: DuckDB's native ASOF LEFT JOIN is the oracle
    # for the union + null-ignoring-window Spark plan; the right side
    # is deduped per (user, ts) in both engines so "most recent" is
    # well-defined
    sqls["asof_enrich"] = """
WITH clicks AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
), errors AS (
  SELECT user_id, ts, max(value) AS value
  FROM events WHERE event_type = 'error' GROUP BY 1, 2
)
SELECT c.event_id, c.user_id, epoch_us(c.ts) AS ts_us,
       epoch_us(e.ts) AS r_ts_us, e.value AS r_value
FROM clicks c ASOF LEFT JOIN errors e
  ON c.user_id = e.user_id AND e.ts <= c.ts"""

    # range join: DuckDB executes the inequality join directly
    # (IEJoin); Spark runs the bucketed equi-join plan — identical
    # (point, interval) pair sets
    sqls["range_join"] = """
WITH clicks AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
), incidents AS (
  SELECT user_id, ts AS ts_start, ts + INTERVAL 30 MINUTE AS ts_end,
         value AS iv_value
  FROM events WHERE event_type = 'error'
)
SELECT c.event_id, c.user_id, epoch_us(c.ts) AS ts_us,
       epoch_us(i.ts_start) AS iv_start_us, i.iv_value
FROM clicks c JOIN incidents i
  ON c.user_id = i.user_id
 AND c.ts >= i.ts_start AND c.ts < i.ts_end"""

    # per-group top-k: identical row_number window in both engines
    sqls["topk_groups"] = """
WITH r AS (
  SELECT event_type, event_id, value,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY value DESC, event_id ASC) AS rk
  FROM events
)
SELECT event_type, rk, event_id, value FROM r WHERE rk <= 5"""

    # PII redaction over transcript turns: same rule chain, counts on
    # the ORIGINAL text (RE2 'g' = Java replace-all; patterns are in
    # the RE2 ∩ java.util.regex common subset — textops.PII_RULES)
    sqls["redact_pii"] = ORACLE_CTE + r"""
SELECT conv_id, turn_idx,
  regexp_replace(regexp_replace(regexp_replace(regexp_replace(text,
    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
    '\b\d{13,19}\b', '<CARD>', 'g'),
    '\+\d{7,15}\b', '<PHONE>', 'g') AS red_text,
  len(regexp_extract_all(text,
    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_email,
  len(regexp_extract_all(text,
    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS n_ipv4,
  len(regexp_extract_all(text, '\b\d{13,19}\b')) AS n_card,
  len(regexp_extract_all(text, '\+\d{7,15}\b')) AS n_phone
FROM transcripts"""

    # paragraph-level corpus dedup: identical assembly, keeper =
    # first (g, idx) occurrence of each distinct paragraph, docs
    # rebuilt from survivors in original order
    sqls["paragraph_dedup"] = """
WITH p AS (
  SELECT d.doc_id, d.doc_id % 49 AS g, substr(b.text, 1, 120) AS para
  FROM documents d JOIN documents b ON b.doc_id = d.doc_id % 250
), p2 AS (
  SELECT g, para,
         row_number() OVER (PARTITION BY g ORDER BY doc_id) - 1 AS idx
  FROM p
), k AS (
  SELECT g, idx, para,
         row_number() OVER (PARTITION BY para ORDER BY g, idx) AS rn
  FROM p2
), rebuilt AS (
  SELECT g, string_agg(para, chr(10) || chr(10) ORDER BY idx) AS text,
         count(*) AS n_kept
  FROM k WHERE rn = 1 GROUP BY g
), np AS (
  SELECT g, count(*) AS n_paras FROM p2 GROUP BY g
)
SELECT np.g AS doc_id, coalesce(rebuilt.text, '') AS text,
       np.n_paras, coalesce(rebuilt.n_kept, 0) AS n_kept
FROM np LEFT JOIN rebuilt ON rebuilt.g = np.g"""

    # duplicate-n-gram fractions: identical whitespace tokenization +
    # n-gram assembly; 1 - distinct/total per n in {2,3,4}
    sqls["repetition_stats"] = """
WITH w AS (SELECT doc_id, string_split(trim(text), ' ') AS ws FROM documents)
SELECT doc_id, len(ws) AS tok_cnt,
  CASE WHEN len(ws) >= 2 THEN 1.0 - len(list_distinct(list_transform(
    generate_series(1, len(ws) - 1), i -> ws[i] || ' ' || ws[i+1])))
    / CAST(len(ws) - 1 AS DOUBLE) ELSE 0.0 END AS dup_2gram_frac,
  CASE WHEN len(ws) >= 3 THEN 1.0 - len(list_distinct(list_transform(
    generate_series(1, len(ws) - 2),
    i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])))
    / CAST(len(ws) - 2 AS DOUBLE) ELSE 0.0 END AS dup_3gram_frac,
  CASE WHEN len(ws) >= 4 THEN 1.0 - len(list_distinct(list_transform(
    generate_series(1, len(ws) - 3),
    i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3])))
    / CAST(len(ws) - 3 AS DOUBLE) ELSE 0.0 END AS dup_4gram_frac
FROM w"""

    sqls["token_stats"] = rf"""
WITH t AS (
  SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks,
         length(text) AS char_cnt
  FROM documents
)
SELECT doc_id,
       CAST(len(toks) AS BIGINT) AS tok_cnt,
       CAST(char_cnt AS BIGINT) AS char_cnt,
       CAST(len(list_filter(toks, x -> list_contains([{stop_list}], lower(x)))) AS BIGINT) AS stop_cnt,
       CAST(len(list_distinct(list_transform(toks, x -> lower(x)))) AS BIGINT) AS uniq_tok_cnt
FROM t"""

    sqls["quality_stats"] = r"""
SELECT doc_id,
       CAST(length(text) AS BIGINT) AS char_cnt,
       CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS tok_cnt,
       CAST(length(text) - length(regexp_replace(text, '[^\w\s]', '', 'g')) AS BIGINT) AS punct_cnt,
       CAST(length(text) - length(regexp_replace(text, '\d', '', 'g')) AS BIGINT) AS digit_cnt,
       CAST(length(text) - length(replace(text, ' ', '')) AS BIGINT) AS space_cnt
FROM documents"""

    sqls["fingerprint"] = (
        "SELECT doc_id, md5(substr(text, 1, 64)) AS fp FROM documents"
    )

    # winnowing (k=5, w=4): per-position 5-gram md5, min over each
    # 4-hash window (ROWS BETWEEN mirrors the HOF slice), distinct.
    # substr(..., 65536) mirrors textops.WINNOW_MAX_CHARS (long-doc
    # per-row memory guard; no sf doc is near the cap)
    sqls["winnow_fp"] = """
WITH d AS (
  SELECT doc_id, substr(text, 1, 65536) AS text,
         length(substr(text, 1, 65536)) AS n FROM documents
  WHERE length(substr(text, 1, 65536)) >= 8
), g AS (
  SELECT doc_id, i, md5(substr(text, CAST(i AS INT), 5)) AS h, n
  FROM d, UNNEST(generate_series(1, n - 4)) AS t(i)
), wm AS (
  SELECT doc_id, i, n,
         min(h) OVER (PARTITION BY doc_id ORDER BY i
                      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp
  FROM g
)
SELECT DISTINCT doc_id, fp FROM wm WHERE i <= n - 7"""

    # the multimodal stub feature is byte i of md5(kind || payload)
    # scaled to [0,1]; payload is the utf-8 text, so DuckDB recovers
    # the exact bytes from the md5 hex (multimodal.py:_decode_stub)
    sqls["media_features"] = """
WITH a AS (
  SELECT doc_id AS asset_id,
         CASE WHEN doc_id % 3 = 0 THEN 'image'
              WHEN doc_id % 3 = 1 THEN 'audio'
              ELSE 'video' END AS kind,
         text
  FROM documents
), h AS (
  SELECT asset_id, kind, md5(kind || text) AS hx FROM a
)
SELECT asset_id, kind, CAST(16 AS INTEGER) AS feature_dim,
       string_agg(
         CAST((strpos('0123456789abcdef', substr(hx, 2*i+1, 1)) - 1) * 16
            + (strpos('0123456789abcdef', substr(hx, 2*i+2, 1)) - 1) AS VARCHAR),
         ',' ORDER BY i) AS feature_bytes
FROM h, UNNEST(generate_series(0, 15)) AS t(i)
GROUP BY asset_id, kind"""

    # the real WAV decode: the oracle reproduces the decoder's output
    # from the closed-form generator (multimodal.wav_amplitude) — every
    # value is an exact dyadic rational, both engines compute the SAME
    # float64 expression tree (exact integer numerators, one division,
    # correctly-rounded sqrt, /32768 exact scale), so bits match
    rms_cols = ",\n       ".join(
        f"max(CASE WHEN j = {j} THEN amp END) / 32768.0 AS rms_{j}"
        for j in range(10)
    )
    sqls["media_audio"] = f"""
WITH s AS (
  SELECT CAST(i AS BIGINT) AS asset_id, j,
         CAST(100 + (i * 7 + j * 13) % 12000 AS DOUBLE) AS amp
  FROM UNNEST(generate_series(0, 59)) AS t(i),
       UNNEST(generate_series(0, 9)) AS u(j)
)
SELECT asset_id,
       CAST(5120 AS DOUBLE) / 8000.0 AS duration_s,
       CAST(8000 AS BIGINT) AS sample_rate,
       CAST(1 AS BIGINT) AS n_channels,
       CAST(5120 AS BIGINT) AS n_samples,
       max(amp) / 32768.0 AS peak,
       sqrt(sum(512.0 * amp * amp) / 5120.0) / 32768.0 AS rms,
       {rms_cols}
FROM s GROUP BY asset_id"""

    sqls["media_frames"] = """
SELECT doc_id AS asset_id, CAST(i AS INTEGER) AS frame_idx,
       CAST(16 AS INTEGER) AS frame_bytes
FROM (SELECT doc_id, length(text) AS n FROM documents WHERE doc_id % 3 = 2) d,
UNNEST(generate_series(0, least(7, n // 16 - 1))) AS t(i)"""

    # the real BMP decode: the oracle reproduces the decoder's pixel
    # statistics from the closed-form generator (multimodal.bmp_pixel).
    # Channel sums are exact int64; the single /n division is the same
    # correctly-rounded IEEE float64 op in both engines, so bits match.
    sqls["media_image"] = """
WITH a AS (
  SELECT CAST(i AS BIGINT) AS asset_id,
         15 + (i % 3) * 3 AS w, 12 + (i % 5) * 4 AS h
  FROM UNNEST(generate_series(0, 59)) AS t(i)
), px AS (
  SELECT asset_id, w, h, x, y,
         (asset_id * 7 + x * 5 + y * 3) % 256 AS b,
         (asset_id * 7 + x * 5 + y * 3 + 11) % 256 AS g,
         (asset_id * 7 + x * 5 + y * 3 + 22) % 256 AS r
  FROM a, UNNEST(generate_series(0, 20)) AS tx(x),
       UNNEST(generate_series(0, 27)) AS ty(y)
  WHERE x < w AND y < h
)
SELECT asset_id,
       CAST(max(w) AS BIGINT) AS width,
       CAST(max(h) AS BIGINT) AS height,
       CAST(max(w) * max(h) AS BIGINT) AS n_pixels,
       CAST(sum(b) AS DOUBLE) / (max(w) * max(h)) AS mean_b,
       CAST(sum(g) AS DOUBLE) / (max(w) * max(h)) AS mean_g,
       CAST(sum(r) AS DOUBLE) / (max(w) * max(h)) AS mean_r,
       CAST(sum(b) + sum(g) + sum(r) AS DOUBLE) / (3 * max(w) * max(h))
         AS brightness,
       CAST(sum(CASE WHEN x = 0 AND y = 0 THEN b + g + r ELSE 0 END)
            AS BIGINT) AS corner_sum
FROM px GROUP BY asset_id"""

    # the real JPEG decode: block-constant even-valued corpus is
    # lossless by construction, so the oracle is the closed pixel
    # formula v(x,y) = 2*((a*7 + (x//8)*29 + (y//8)*53) % 128) with
    # no JPEG arithmetic; grayscale => the three channel means
    # coincide and corner_sum = 3*v(0,0)
    sqls["media_jpeg"] = """
WITH a AS (
  SELECT CAST(i AS BIGINT) AS asset_id,
         16 + (i % 4) * 3 AS w, 11 + (i % 6) * 2 AS h
  FROM UNNEST(generate_series(0, 59)) AS t(i)
), px AS (
  SELECT asset_id, w, h, x, y,
         2 * ((asset_id * 7 + (x // 8) * 29 + (y // 8) * 53) % 128) AS v
  FROM a, UNNEST(generate_series(0, 24)) AS tx(x),
       UNNEST(generate_series(0, 20)) AS ty(y)
  WHERE x < w AND y < h
)
SELECT asset_id,
       CAST(max(w) AS BIGINT) AS width,
       CAST(max(h) AS BIGINT) AS height,
       CAST(max(w) * max(h) AS BIGINT) AS n_pixels,
       CAST(sum(v) AS DOUBLE) / (max(w) * max(h)) AS mean_b,
       CAST(sum(v) AS DOUBLE) / (max(w) * max(h)) AS mean_g,
       CAST(sum(v) AS DOUBLE) / (max(w) * max(h)) AS mean_r,
       CAST(sum(v) AS DOUBLE) / (max(w) * max(h)) AS brightness,
       CAST(3 * max(CASE WHEN x = 0 AND y = 0 THEN v END) AS BIGINT)
         AS corner_sum
FROM px GROUP BY asset_id"""

    # the real PNG decode: closed-form pixel formula (png_pixel is
    # RGB-ordered: r=+0, g=+11, b=+22), dims 16+(i%4)*3 x 11+(i%6)*2;
    # exact-integer channel sums, identical float argument to
    # media_image
    sqls["media_png"] = """
WITH a AS (
  SELECT CAST(i AS BIGINT) AS asset_id,
         16 + (i % 4) * 3 AS w, 11 + (i % 6) * 2 AS h,
         i % 5 AS ct  -- color-type cycle (2,0,3,4,6): rgb/gray/pal/GA/RGBA
  FROM UNNEST(generate_series(0, 59)) AS t(i)
), base AS (
  SELECT asset_id, w, h, x, y, ct,
         (asset_id * 7 + x * 5 + y * 3) % 256 AS v
  FROM a, UNNEST(generate_series(0, 24)) AS tx(x),
       UNNEST(generate_series(0, 20)) AS ty(y)
  WHERE x < w AND y < h
), px AS (
  SELECT asset_id, w, h, x, y,
         CASE ct WHEN 2 THEN (v * 3 + 5) % 256 ELSE v END AS r,
         CASE ct WHEN 0 THEN (v + 11) % 256 WHEN 4 THEN (v + 11) % 256
                 WHEN 2 THEN (v * 7 + 11) % 256 ELSE v END AS g,
         CASE ct WHEN 0 THEN (v + 22) % 256 WHEN 4 THEN (v + 22) % 256
                 WHEN 2 THEN (v * 11 + 17) % 256 ELSE v END AS b
  FROM base
)
SELECT asset_id,
       CAST(max(w) AS BIGINT) AS width,
       CAST(max(h) AS BIGINT) AS height,
       CAST(max(w) * max(h) AS BIGINT) AS n_pixels,
       CAST(sum(b) AS DOUBLE) / (max(w) * max(h)) AS mean_b,
       CAST(sum(g) AS DOUBLE) / (max(w) * max(h)) AS mean_g,
       CAST(sum(r) AS DOUBLE) / (max(w) * max(h)) AS mean_r,
       CAST(sum(b) + sum(g) + sum(r) AS DOUBLE) / (3 * max(w) * max(h))
         AS brightness,
       CAST(sum(CASE WHEN x = 0 AND y = 0 THEN b + g + r ELSE 0 END)
            AS BIGINT) AS corner_sum
FROM px GROUP BY asset_id"""

    # the real GIF decode: closed-form index formula mapped through
    # the affine palette (gif_palette_rgb); dims 16+(i%4)*3 x
    # 11+(i%6)*2; exact-integer channel sums
    sqls["media_gif"] = """
WITH a AS (
  SELECT CAST(i AS BIGINT) AS asset_id,
         16 + (i % 4) * 3 AS w, 11 + (i % 6) * 2 AS h
  FROM UNNEST(generate_series(0, 59)) AS t(i)
), base AS (
  SELECT asset_id, w, h, x, y,
         (asset_id * 7 + x * 5 + y * 3) % 256 AS v
  FROM a, UNNEST(generate_series(0, 24)) AS tx(x),
       UNNEST(generate_series(0, 20)) AS ty(y)
  WHERE x < w AND y < h
), px AS (
  SELECT asset_id, w, h, x, y,
         (v * 3 + 5) % 256 AS r,
         (v * 7 + 11) % 256 AS g,
         (v * 11 + 17) % 256 AS b
  FROM base
)
SELECT asset_id,
       CAST(max(w) AS BIGINT) AS width,
       CAST(max(h) AS BIGINT) AS height,
       CAST(max(w) * max(h) AS BIGINT) AS n_pixels,
       CAST(sum(b) AS DOUBLE) / (max(w) * max(h)) AS mean_b,
       CAST(sum(g) AS DOUBLE) / (max(w) * max(h)) AS mean_g,
       CAST(sum(r) AS DOUBLE) / (max(w) * max(h)) AS mean_r,
       CAST(sum(b) + sum(g) + sum(r) AS DOUBLE) / (3 * max(w) * max(h))
         AS brightness,
       CAST(sum(CASE WHEN x = 0 AND y = 0 THEN b + g + r ELSE 0 END)
            AS BIGINT) AS corner_sum
FROM px GROUP BY asset_id"""

    # the real BMP resize, round-tripped through a second decode:
    # resized pixel (x,y,c) = bmp_pixel(a, x*w//8, y*h//8, c)
    sqls["media_resize"] = """
WITH a AS (
  SELECT CAST(i AS BIGINT) AS asset_id,
         15 + (i % 3) * 3 AS w, 12 + (i % 5) * 4 AS h
  FROM UNNEST(generate_series(0, 59)) AS t(i)
), px AS (
  SELECT asset_id, x, y,
         (asset_id * 7 + ((x * w) // 8) * 5 + ((y * h) // 8) * 3) % 256 AS b,
         (asset_id * 7 + ((x * w) // 8) * 5 + ((y * h) // 8) * 3 + 11) % 256 AS g,
         (asset_id * 7 + ((x * w) // 8) * 5 + ((y * h) // 8) * 3 + 22) % 256 AS r
  FROM a, UNNEST(generate_series(0, 7)) AS tx(x),
       UNNEST(generate_series(0, 7)) AS ty(y)
)
SELECT asset_id,
       CAST(8 AS BIGINT) AS width,
       CAST(8 AS BIGINT) AS height,
       CAST(64 AS BIGINT) AS n_pixels,
       CAST(sum(b) AS DOUBLE) / 64 AS mean_b,
       CAST(sum(g) AS DOUBLE) / 64 AS mean_g,
       CAST(sum(r) AS DOUBLE) / 64 AS mean_r,
       CAST(sum(b) + sum(g) + sum(r) AS DOUBLE) / 192 AS brightness,
       CAST(sum(CASE WHEN x = 0 AND y = 0 THEN b + g + r ELSE 0 END)
            AS BIGINT) AS corner_sum
FROM px GROUP BY asset_id"""

    # the real AVI demux: every 2nd frame of each asset, per-frame
    # stats from the closed form (multimodal.avi_pixel)
    sqls["media_video"] = """
WITH a AS (
  SELECT CAST(i AS BIGINT) AS asset_id,
         15 + (i % 3) * 3 AS w, 8 + (i % 4) * 2 AS h, 6 + (i % 5) AS nf
  FROM UNNEST(generate_series(0, 39)) AS t(i)
), fr AS (
  SELECT asset_id, w, h, f
  FROM a, UNNEST(generate_series(0, 9)) AS tf(f)
  WHERE f < nf AND f % 2 = 0
), px AS (
  SELECT asset_id, w, h, f, x, y,
         (asset_id * 7 + f * 17 + x * 5 + y * 3) % 256 AS b,
         (asset_id * 7 + f * 17 + x * 5 + y * 3 + 11) % 256 AS g,
         (asset_id * 7 + f * 17 + x * 5 + y * 3 + 22) % 256 AS r
  FROM fr, UNNEST(generate_series(0, 20)) AS tx(x),
       UNNEST(generate_series(0, 13)) AS ty(y)
  WHERE x < w AND y < h
)
SELECT asset_id, CAST(f AS BIGINT) AS frame_idx,
       CAST(max(w) AS BIGINT) AS width,
       CAST(max(h) AS BIGINT) AS height,
       CAST(sum(b) AS DOUBLE) / (max(w) * max(h)) AS mean_b,
       CAST(sum(g) AS DOUBLE) / (max(w) * max(h)) AS mean_g,
       CAST(sum(r) AS DOUBLE) / (max(w) * max(h)) AS mean_r,
       CAST(sum(b) + sum(g) + sum(r) AS DOUBLE) / (3 * max(w) * max(h))
         AS brightness,
       CAST(sum(CASE WHEN x = 0 AND y = 0 THEN b + g + r ELSE 0 END)
            AS BIGINT) AS corner_sum
FROM px GROUP BY asset_id, f"""

    # ---- lang_id: the SAME literal trigram profiles, scored with the
    # replace-count trick; first-language-wins on ties, max 0 -> 'und'
    # (textops.lang_guess_builtin)
    from opentelemetry_log_collection_spark.textops import _LANG_PROFILES

    def _cnt(g: str) -> str:
        esc = g.replace("'", "''")
        return f"(length(t) - length(replace(t, '{esc}', ''))) // {len(g)}"

    _scores = {
        lang: " + ".join(_cnt(g) for g in grams)
        for lang, grams in _LANG_PROFILES.items()
    }
    _score_cols = ",\n         ".join(
        f"({expr}) AS s_{lang}" for lang, expr in _scores.items()
    )
    _mx = "greatest(" + ", ".join(f"s_{lang}" for lang in _LANG_PROFILES) + ")"
    _pick = " ".join(
        f"WHEN s_{lang} = mx THEN '{lang}'" for lang in _LANG_PROFILES
    )
    sqls["lang_id"] = f"""
WITH lo AS (SELECT doc_id, lower(text) AS t FROM documents),
 s AS (SELECT doc_id, {_score_cols} FROM lo),
 m AS (SELECT *, {_mx} AS mx FROM s)
SELECT doc_id,
       CASE WHEN mx IS NULL OR mx <= 0 THEN 'und' {_pick} ELSE 'und' END
         AS lang_guess
FROM m"""

    # ---- ann_lsh: replay the md5-derived hyperplanes as literal
    # arrays (similarity._hyperplanes, seed 42/43): sign-bit buckets
    # per table, candidate collisions, exact cosine re-rank. The
    # max_bucket_size guard (100k) can never trigger at oracle SFs.
    from opentelemetry_log_collection_spark.similarity import _hyperplanes

    def _bucket_expr(vcol: str, t: int) -> str:
        planes = _hyperplanes(64, 8, 42 + t)
        bits = " || ".join(
            "(CASE WHEN list_dot_product("
            + vcol
            + ", ["
            + ", ".join(repr(x) for x in p)
            + "]) >= 0 THEN '1' ELSE '0' END)"
            for p in planes
        )
        return f"'t{t}:' || {bits}"

    sqls["ann_lsh"] = f"""
WITH q AS (
  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
  FROM embeddings WHERE vec_id < 8
), c AS (
  SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv
  FROM embeddings
), qb AS (
  SELECT query_id, {_bucket_expr("qv", 0)} AS bucket FROM q
  UNION ALL
  SELECT query_id, {_bucket_expr("qv", 1)} AS bucket FROM q
), cb AS (
  SELECT neighbor_id, {_bucket_expr("cv", 0)} AS bucket FROM c
  UNION ALL
  SELECT neighbor_id, {_bucket_expr("cv", 1)} AS bucket FROM c
), cand AS (
  SELECT DISTINCT qb.query_id, cb.neighbor_id
  FROM cb JOIN qb USING (bucket)
  WHERE cb.neighbor_id <> qb.query_id
), s AS (
  SELECT query_id, neighbor_id,
         list_dot_product(qv, cv)
           / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))) AS sim
  FROM cand JOIN q USING (query_id) JOIN c USING (neighbor_id)
), r AS (
  SELECT query_id, neighbor_id,
         row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rnk
  FROM s
)
SELECT query_id, CAST(rnk AS BIGINT) AS rnk, neighbor_id FROM r WHERE rnk <= 5"""

    # ---- ann_ivf: replay the IVF plan exactly — centroids are the
    # first 16 corpus vectors, assignment is arg-max cosine with
    # deterministic ties (sim DESC, cid DESC), probe the 4 nearest
    # cells per query, exact cosine re-rank
    sqls["ann_ivf"] = """
WITH q AS (
  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
  FROM embeddings WHERE vec_id < 8
), c AS (
  SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv
  FROM embeddings
), cent AS (
  SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS cent
  FROM embeddings WHERE vec_id < 16
), cscore AS (
  SELECT neighbor_id, cid,
         list_dot_product(cv, cent)
           / (sqrt(list_dot_product(cv, cv)) * sqrt(list_dot_product(cent, cent))) AS csim
  FROM c, cent
), assign AS (
  SELECT neighbor_id, cid FROM (
    SELECT neighbor_id, cid,
           row_number() OVER (PARTITION BY neighbor_id
                              ORDER BY csim DESC, cid DESC) AS rr
    FROM cscore
  ) WHERE rr = 1
), qscore AS (
  SELECT query_id, cid,
         list_dot_product(qv, cent)
           / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cent, cent))) AS qsim
  FROM q, cent
), probes AS (
  SELECT query_id, cid FROM (
    SELECT query_id, cid,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY qsim DESC, cid DESC) AS rr
    FROM qscore
  ) WHERE rr <= 4
), cand AS (
  SELECT p.query_id, a.neighbor_id
  FROM assign a JOIN probes p USING (cid)
  WHERE p.query_id <> a.neighbor_id
), s AS (
  SELECT query_id, neighbor_id,
         list_dot_product(qv, cv)
           / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))) AS sim
  FROM cand JOIN q USING (query_id) JOIN c USING (neighbor_id)
), r AS (
  SELECT query_id, neighbor_id,
         row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rnk
  FROM s
)
SELECT query_id, CAST(rnk AS BIGINT) AS rnk, neighbor_id FROM r WHERE rnk <= 5"""

    # ---- simhash_pairs: banded pigeonhole candidates over the
    # simhash signatures (4 nibble bands, hamming <= 3 must share one)
    # + exact nibble-algebra hamming verify, mirroring
    # dedup.simhash_near_dups
    _ham = " + ".join(
        f"bit_count(xor(strpos('0123456789abcdef', substr(ha, {p}, 1)) - 1, "
        f"strpos('0123456789abcdef', substr(hb, {p}, 1)) - 1))"
        for p in range(1, 17)
    )
    sqls["simhash_pairs"] = f"""
WITH sig AS ({sqls["simhash"]}),
 bands AS (
  SELECT doc_id, b AS band, substr(simhash, b * 4 + 1, 4) AS band_val
  FROM sig, UNNEST(generate_series(0, 3)) AS t(b)
), cand AS (
  SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
  FROM bands l JOIN bands r USING (band, band_val)
  WHERE l.doc_id < r.doc_id
), j AS (
  SELECT doc_a, doc_b, sa.simhash AS ha, sb.simhash AS hb
  FROM cand
  JOIN sig sa ON sa.doc_id = cand.doc_a
  JOIN sig sb ON sb.doc_id = cand.doc_b
)
SELECT doc_a, doc_b, CAST({_ham} AS INTEGER) AS hamming
FROM j WHERE {_ham} <= 3"""

    # ---- embed_near_dups: replay the 3 LSH tables' md5-derived
    # hyperplanes (similarity._hyperplanes, dim 64, 6 planes, seeds
    # 7..9) as literals; candidate pairs share a bucket in ANY table;
    # exact cosine >= 0.35 (sims sit >5e-4 from the threshold at
    # oracle SFs, so engine float noise cannot flip membership)
    def _nd_bits(vcol: str, t: int) -> str:
        planes = _hyperplanes(64, 6, 7 + t)
        return " || ".join(
            "(CASE WHEN list_dot_product("
            + vcol
            + ", ["
            + ", ".join(repr(x) for x in p)
            + "]) >= 0 THEN '1' ELSE '0' END)"
            for p in planes
        )

    _nd_tables = "\n  UNION ALL\n  ".join(
        f"SELECT vid, {t} AS tbl, {_nd_bits('vv', t)} AS bucket FROM v"
        for t in range(3)
    )
    sqls["embed_near_dups"] = f"""
WITH v AS (
  SELECT vec_id AS vid, CAST(embedding AS DOUBLE[]) AS vv FROM embeddings
), b AS (
  {_nd_tables}
), cand AS (
  SELECT DISTINCT l.vid AS doc_a, r.vid AS doc_b
  FROM b l JOIN b r ON l.tbl = r.tbl AND l.bucket = r.bucket
                   AND l.vid < r.vid
)
SELECT doc_a, doc_b
FROM cand
JOIN v va ON va.vid = cand.doc_a
JOIN v vb ON vb.vid = cand.doc_b
WHERE list_dot_product(va.vv, vb.vv)
      / (sqrt(list_dot_product(va.vv, va.vv))
         * sqrt(list_dot_product(vb.vv, vb.vv))) >= 0.35"""

    # the streaming flagship must route every row exactly like batch
    sqls["streaming_routed"] = sqls["routed_rows"]
    # the streamed stateful recombine must equal the batch operator
    # row-for-row, so it shares recombine_conv's oracle verbatim
    sqls["streaming_recombine"] = sqls["recombine_conv"]

    # tcp_input round-trip: socket transport + splitter are lossless,
    # so the spool scan equals the pushed lines verbatim
    sqls["tcp_ingest"] = (
        f"{ORACLE_CTE} SELECT text FROM transcripts WHERE text LIKE '10.%'"
    )

    # mixed compressed landing zone: per-extension decompress + split
    # must be lossless and order-preserving within every file; the
    # round-robin shard/line arithmetic is recomputed from the table
    sqls["file_compressed"] = f"""{ORACLE_CTE},
r AS (
  SELECT text, row_number() OVER (ORDER BY conv_id, turn_idx) - 1 AS rn
  FROM transcripts WHERE text LIKE '10.%'
)
SELECT CASE rn % 4 WHEN 0 THEN 'shard-0.log' WHEN 1 THEN 'shard-1.log.gz'
            WHEN 2 THEN 'shard-2.log.gz' ELSE 'shard-3.log.bz2' END AS fname,
       rn // 4 AS line_no,
       text
FROM r"""

    # journald export round-trip: the operator must reproduce every
    # field it serialized, minus the priority>info (debug) lines the
    # default filter drops
    sqls["journald_ingest"] = f"""{ORACLE_CTE}
SELECT conv_id || '-' || CAST(turn_idx AS VARCHAR) AS cursor,
       text AS message,
       role || '.service' AS unit,
       CAST(turn_idx % 8 AS INTEGER) AS priority,
       epoch_us(ts) AS ts_us
FROM transcripts WHERE turn_idx % 8 <= 6"""

    # k8s watch round-trip: kind cycles the populateResource switch;
    # Container is the one kind with no uid resource key
    sqls["k8s_ingest"] = f"""{ORACLE_CTE}
SELECT CASE turn_idx % 3 WHEN 0 THEN 'ADDED' WHEN 1 THEN 'MODIFIED'
            ELSE 'DELETED' END AS event_type,
       role AS ns,
       conv_id AS obj_name,
       CASE WHEN turn_idx % 8 = 1 THEN ''
            ELSE conv_id || '-' || CAST(turn_idx AS VARCHAR) END AS obj_uid,
       text AS message,
       epoch_us(ts) AS ts_us
FROM transcripts"""

    # deterministic sampling: the oracle computes the IDENTICAL
    # md5-prefix coordinate, so the sampled sets must match exactly
    # (thresholds: rate * 2^32 in hex — 0.5/0.25/0.1/0.75)
    sqls["sample_stratified"] = """
SELECT doc_id, lang FROM documents
WHERE substr(md5('7|' || CAST(doc_id AS VARCHAR)), 1, 8) <
      CASE lang WHEN 'en' THEN '80000000' WHEN 'de' THEN '40000000'
                WHEN 'fr' THEN '19999999' WHEN 'es' THEN 'c0000000'
                ELSE '00000000' END"""

    sqls["decontaminate"] = r"""
WITH w AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS ws
  FROM documents
), g AS (
  SELECT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3] AS g
  FROM w, UNNEST(generate_series(1, len(ws) - 3)) AS t(i)
), bench AS (
  SELECT DISTINCT g FROM g WHERE doc_id % 10 = 0
), corp AS (
  SELECT DISTINCT doc_id, g FROM g WHERE doc_id % 10 <> 0
)
SELECT corp.doc_id AS doc_id, CAST(count(*) AS BIGINT) AS n_shared
FROM corp JOIN bench USING (g) GROUP BY 1"""

    # packing: identical running-sum arithmetic as one SQL window
    sqls["pack_sequences"] = r"""
WITH t AS (
  SELECT doc_id,
         CAST(len(string_split_regex(lower(trim(text)), '\s+')) AS BIGINT)
           AS n_tokens
  FROM documents
), c AS (
  SELECT doc_id, n_tokens,
         CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
           AS token_offset
  FROM t
)
SELECT doc_id, n_tokens, token_offset,
       CAST(floor(token_offset / 512) AS BIGINT) AS first_chunk,
       CAST(floor((token_offset + n_tokens - 1) / 512) AS BIGINT)
         AS last_chunk,
       CAST(CASE WHEN n_tokens > 0
            THEN floor((token_offset + n_tokens - 1) / 512)
                 - floor(token_offset / 512) + 1
            ELSE 0 END AS BIGINT) AS n_chunks
FROM c"""

    # windows event XML round-trip: numeric Level 1-4 maps to
    # Fatal/Error/Warning/Info severities (xml.go:76-88)
    sqls["windows_ingest"] = f"""{ORACLE_CTE}
SELECT conv_id AS computer,
       CASE role WHEN 'user' THEN 'Application' WHEN 'assistant' THEN 'System'
            ELSE 'Setup' END AS channel,
       CAST(turn_idx AS BIGINT) AS record_id,
       CAST(turn_idx % 4 + 1 AS VARCHAR) AS level,
       CAST(CASE turn_idx % 4 + 1 WHEN 1 THEN 21 WHEN 2 THEN 17
            WHEN 3 THEN 13 ELSE 9 END AS INTEGER) AS severity,
       CAST((turn_idx * 7) % 1000 AS BIGINT) AS event_id,
       epoch_us(ts) AS ts_us
FROM transcripts"""

    sqls["embed_topk"] = """
WITH q AS (
  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
  FROM embeddings WHERE vec_id < 8
), c AS (
  SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv
  FROM embeddings
), s AS (
  SELECT query_id, neighbor_id,
         list_dot_product(qv, cv)
           / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))) AS sim
  FROM q, c WHERE neighbor_id <> query_id
), r AS (
  SELECT query_id, neighbor_id,
         row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rnk
  FROM s
)
SELECT query_id, CAST(rnk AS BIGINT) AS rnk, neighbor_id FROM r WHERE rnk <= 5"""

    return sqls
