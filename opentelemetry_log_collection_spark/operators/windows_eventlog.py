"""windows_eventlog_input — Windows Event Log source
(operator/input/windows/operator.go:102-260 + xml.go + security.go),
split Spark-first.

The reference subscribes to a live channel via the Windows EvtAPI
(api.go, subscription.go) and renders each event to XML before
parsing (operator.go:170-209). The Windows API half needs a Windows
host — out of this sandbox — but the *rendered XML* is the portable
interchange format (``wevtutil qe ... /f:RenderedXml``, evtx export
tooling), so the decode half here is a fully distributed scan+parse:
``file_input`` provides file/line plumbing (one ``<Event>`` document
per entry; multi-line exports regroup with
``multiline: {line_start_pattern: '^<Event'}``), Spark's builtin
``from_xml`` replaces encoding/xml, and everything downstream of the
XML string is codegen expressions.

Mirrored semantics:
  - body map per xml.go:90-139 — event_id {qualifiers,id}, provider
    {name,guid,event_source}, system_time, computer, channel,
    record_id, level/task/opcode/keywords with RenderingInfo-first
    fallback (xml.go:94-112), message, event_data; nested values
    JSON-encoded (the engine's MAP_SS convention);
  - severity from the rendered level name, else the numeric level
    (xml.go:57-88): Critical->Fatal(21) Error(17) Warning(13)
    Information(9) else Default(0);
  - timestamp from TimeCreated/@SystemTime, RFC3339 with up to
    nanosecond fraction (xml.go:49-54) — truncated to Spark's
    microsecond precision; an unparseable time yields NULL rather
    than the reference's wall-clock now() (determinism at scale);
  - Security-channel messages split into message + structured
    details (security.go:21-67): a recursive descent over
    tab-indented lines — inherently per-row sequential, so it is the
    module's one Arrow-batched pandas UDF, applied ONLY to Security
    rows;
  - ``start_at``/bookmark resume (operator.go:117-135, bookmark.go):
    the batch analogue keeps a per-channel max-record-id ledger —
    ``commit()`` after a successful sink write, next run skips
    ``record_id <= bookmark``.
"""

from __future__ import annotations

import json
import os

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..durable import commit_json
from ..fields import MAP_SS
from ..pipeline import Stage, register
from .io import FileInputStage, stamp

#: xml.go:29-46, as a Spark from_xml schema (attributes use the
#: default ``_`` prefix; chardata with attributes present is _VALUE)
EVENT_XML_SCHEMA = """struct<
  System: struct<
    Provider: struct<_Name: string, _Guid: string, _EventSourceName: string>,
    EventID: struct<_Qualifiers: long, _VALUE: long>,
    Computer: string,
    Channel: string,
    EventRecordID: long,
    TimeCreated: struct<_SystemTime: string>,
    Level: string,
    Task: string,
    Opcode: string,
    Keywords: array<string>
  >,
  RenderingInfo: struct<
    Message: string,
    Level: string,
    Task: string,
    Opcode: string,
    Keywords: struct<Keyword: array<string>>
  >,
  EventData: struct<Data: array<string>>
>"""

#: xml.go:57-74 — rendered level name -> entry severity
RENDERED_SEVERITY = {
    "Critical": 21, "Error": 17, "Warning": 13, "Information": 9,
}
#: xml.go:76-88 — numeric System>Level fallback
NUMERIC_SEVERITY = {"1": 21, "2": 17, "3": 13, "4": 9}


def _parse_security_message(message: str) -> tuple[str, str | None]:
    """security.go:21-67: first line is the subject; the rest is a
    tab-indented key/value outline -> nested details map. Returns
    (subject, details-JSON or None)."""

    def indent(line: str) -> int:
        n = 0
        while line.startswith("\t" * (n + 1)):
            n += 1
        return n

    def classify(line: str):
        i = indent(line)
        s = line.strip()
        if not s:
            return ("empty", i, None, None)
        if ":\t" in s:
            k, v = s.split(":\t", 1)
            return ("pair", i, k.strip(), v.strip())
        if s.endswith(":"):
            return ("key", i, s[:-1], None)
        return ("value", i, None, s)

    lines = [classify(ln) for ln in message.strip().split("\n")]
    ptr = 0

    def has_next_indented(depth: int) -> bool:
        if ptr >= len(lines) or ptr == 0:
            return False
        t, i, _, _ = lines[ptr]
        return t != "empty" and i >= depth

    def consume_sublist(depth: int) -> list[str]:
        nonlocal ptr
        out: list[str] = []
        while ptr < len(lines):
            if not has_next_indented(depth):
                return out
            t, _, k, v = lines[ptr]
            ptr += 1
            if t == "value":
                out.append(v)
            elif t == "key":
                out.append(k)
        return out

    def consume_subsection(depth: int) -> dict:
        nonlocal ptr
        sub: dict = {}
        while ptr < len(lines):
            t, _, k, v = lines[ptr]
            ptr += 1
            if t == "empty":
                return sub
            if t == "pair":
                sub[k] = v
            elif t == "key":
                if not has_next_indented(depth + 1):
                    sub[k] = "-"
                else:
                    sub[k] = consume_sublist(depth + 1)
        return sub

    if not lines:
        return message, None
    t, _, k, v = lines[0]
    ptr = 1
    if t == "value":
        subject = v
    elif t == "key":
        subject = k
    else:
        return message, None

    details: dict = {}
    more_info: list[str] = []
    while ptr < len(lines):
        t, i, k, v = lines[ptr]
        ptr += 1
        if t == "value":
            more_info.append(v)
        elif t == "key":
            if not has_next_indented(i + 1):
                details[k] = "-"
            else:
                details[k] = consume_subsection(i + 1)
        elif t == "pair":
            if not has_next_indented(i + 1):
                details[k] = v
            else:
                details[k] = [v] + consume_sublist(i + 1)
    if more_info:
        details["Additional Context"] = more_info
    return subject, json.dumps(details) if details else None


_SECURITY_RESULT = T.StructType(
    [
        T.StructField("message", T.StringType()),
        T.StructField("details", T.StringType()),
    ]
)


@F.pandas_udf(_SECURITY_RESULT)
def _security_udf(messages: pd.Series) -> pd.DataFrame:
    parsed = [
        _parse_security_message(m) if m is not None else (None, None)
        for m in messages
    ]
    return pd.DataFrame(parsed, columns=["message", "details"])


class Bookmark:
    """Per-channel max-record-id ledger (bookmark.go:24-105): the
    batch analogue of the subscription bookmark. Atomic commit."""

    def __init__(self, path: str):
        self.path = path

    def load(self) -> dict[str, int]:
        try:
            with open(self.path) as f:
                return json.load(f)
        except FileNotFoundError:
            return {}

    def commit(self, marks: dict[str, int]) -> None:
        commit_json(self.path, marks)


def _jstr(col: Column) -> Column:
    """Go's zero-value "" for a missing XML element/attr."""
    return F.coalesce(col, F.lit(""))


@register("windows_eventlog_input")
class WindowsEventLogInputStage(Stage):
    """Distributed decode of rendered Windows event XML."""

    type_name = "windows_eventlog_input"

    def __init__(
        self,
        files: str | list[str] | None = None,
        directory: str | None = None,
        channel: str | None = None,
        multiline: dict | None = None,
        bookmark_path: str | None = None,
        attributes: dict | None = None,
        resource: dict | None = None,
        **kw,
    ):
        super().__init__(**kw)
        if directory is not None:
            include: list[str] = [os.path.join(directory, "*")]
        elif files:
            include = [files] if isinstance(files, str) else list(files)
        else:
            raise ValueError("one of directory / files is required")
        self.channel = channel
        self.reader = FileInputStage(
            include=include, multiline=multiline, include_file_name=False
        )
        self.bookmark = Bookmark(bookmark_path) if bookmark_path else None
        self._last_max: dict[str, int] = {}
        self.attributes = attributes
        self.resource = resource

    def generate(self, spark: SparkSession) -> DataFrame:
        lines = self.reader.generate(spark)
        e = F.from_xml(F.col("text"), EVENT_XML_SCHEMA)
        df = lines.withColumn("_e", e).filter(F.col("_e.System").isNotNull())
        s = F.col("_e.System")
        r = F.col("_e.RenderingInfo")
        if self.channel:  # the reference subscribes to ONE channel
            df = df.filter(s.getField("Channel") == self.channel)
        if self.bookmark:
            marks = self.bookmark.load()
            if marks:
                mark_map = F.create_map(
                    *[F.lit(x) for kv in marks.items() for x in kv]
                )
                df = df.filter(
                    s.getField("EventRecordID")
                    > F.coalesce(
                        F.try_element_at(
                            mark_map, _jstr(s.getField("Channel"))
                        ).cast("long"),
                        F.lit(-1),
                    )
                )

        # RenderingInfo-first fallbacks (xml.go:94-112)
        level = F.coalesce(r.getField("Level"), F.lit(""))
        level = F.when(level == "", _jstr(s.getField("Level"))).otherwise(level)
        task = F.coalesce(r.getField("Task"), F.lit(""))
        task = F.when(task == "", _jstr(s.getField("Task"))).otherwise(task)
        opcode = F.coalesce(r.getField("Opcode"), F.lit(""))
        opcode = F.when(opcode == "", _jstr(s.getField("Opcode"))).otherwise(
            opcode
        )
        keywords = F.coalesce(
            r.getField("Keywords").getField("Keyword"),
            s.getField("Keywords"),
            F.array().cast("array<string>"),
        )
        raw_message = _jstr(r.getField("Message"))

        # Security-channel message split (xml.go:141-148) — the pandas
        # UDF runs ONLY on Security rows; everything else stays codegen
        is_security = s.getField("Channel") == "Security"
        sec = _security_udf(
            F.when(is_security, raw_message).otherwise(F.lit(None))
        )
        message = F.when(is_security, sec.getField("message")).otherwise(
            raw_message
        )
        details = F.when(is_security, sec.getField("details"))

        body_entries = [
            F.lit("event_id"),
            F.to_json(
                F.struct(
                    F.coalesce(
                        s.getField("EventID").getField("_Qualifiers"), F.lit(0)
                    ).alias("qualifiers"),
                    F.coalesce(
                        s.getField("EventID").getField("_VALUE"), F.lit(0)
                    ).alias("id"),
                )
            ),
            F.lit("provider"),
            F.to_json(
                F.struct(
                    _jstr(s.getField("Provider").getField("_Name")).alias(
                        "name"
                    ),
                    _jstr(s.getField("Provider").getField("_Guid")).alias(
                        "guid"
                    ),
                    _jstr(
                        s.getField("Provider").getField("_EventSourceName")
                    ).alias("event_source"),
                )
            ),
            F.lit("system_time"),
            _jstr(s.getField("TimeCreated").getField("_SystemTime")),
            F.lit("computer"), _jstr(s.getField("Computer")),
            F.lit("channel"), _jstr(s.getField("Channel")),
            F.lit("record_id"),
            F.coalesce(s.getField("EventRecordID"), F.lit(0)).cast("string"),
            F.lit("level"), level,
            F.lit("message"), message,
            F.lit("task"), task,
            F.lit("opcode"), opcode,
            F.lit("keywords"), F.to_json(keywords),
            F.lit("event_data"),
            F.to_json(
                F.coalesce(
                    F.col("_e.EventData").getField("Data"),
                    F.array().cast("array<string>"),
                )
            ),
        ]
        body = F.create_map(*body_entries)
        body = F.when(
            details.isNotNull(),
            F.map_concat(body, F.create_map(F.lit("details"), details)),
        ).otherwise(body)

        # severity (xml.go:57-88): the numeric System>Level mapping
        # applies ONLY when RenderingInfo carries no level; an unknown
        # non-empty rendered level is Default(0), never the numeric one
        rendered_level = F.coalesce(r.getField("Level"), F.lit(""))
        numeric_sev: Column = F.lit(0)
        for name, val in NUMERIC_SEVERITY.items():
            numeric_sev = F.when(
                s.getField("Level") == name, val
            ).otherwise(numeric_sev)
        rendered_sev: Column = F.lit(0)
        for name, val in RENDERED_SEVERITY.items():
            rendered_sev = F.when(rendered_level == name, val).otherwise(
                rendered_sev
            )
        sev = F.when(rendered_level == "", numeric_sev).otherwise(rendered_sev)

        # RFC3339Nano -> microsecond precision
        systime = s.getField("TimeCreated").getField("_SystemTime")
        trimmed = F.regexp_replace(
            systime, r"(\.\d{6})\d+", r"$1"
        )
        ts = F.coalesce(
            F.try_to_timestamp(trimmed),
            F.try_to_timestamp(
                trimmed, F.lit("yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX")
            ),
        )

        df = (
            df.withColumn("body", body)
            .withColumn("severity", sev.cast(T.IntegerType()))
            .withColumn("severity_text", level)
            .withColumn("ts", ts)
            .withColumn("text", message)
            .drop("_e")
        )
        return stamp(df, self.attributes, self.resource)

    def record_marks(self, df: DataFrame) -> dict[str, int]:
        """Compute per-channel max record ids of a generated frame —
        feed to ``commit`` after the sink write succeeds."""
        rows = (
            df.groupBy(F.try_element_at("body", F.lit("channel")).alias("ch"))
            .agg(
                F.max(
                    F.try_element_at("body", F.lit("record_id")).cast("long")
                ).alias("mx")
            )
            .collect()
        )
        self._last_max = {r["ch"]: r["mx"] for r in rows if r["ch"]}
        return self._last_max

    def commit(self) -> None:
        if not self.bookmark:
            raise ValueError("commit requires bookmark_path")
        marks = self.bookmark.load()
        for ch, mx in self._last_max.items():
            marks[ch] = max(int(marks.get(ch, -1)), int(mx))
        self.bookmark.commit(marks)

    def apply(self, df: DataFrame) -> DataFrame:  # source: passthrough
        return df
