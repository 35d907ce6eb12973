"""trace_parser + scope_name_parser.

trace: hex-decode trace_id/span_id/trace_flags fields onto the entry
top level (operator/parser/trace/trace.go:30-71, helper
operator/helper/trace.go:89-129). ``unhex`` returns null for invalid
hex, mirroring Go's hex.DecodeString error path.

scope_name: copy a string field to ScopeName
(operator/parser/scope/scope_name.go:29-67).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ..fields import Field, apply_updates, ident
from ..pipeline import ColumnStage, register


class TraceParser:
    def __init__(
        self,
        trace_id: dict | None = None,
        span_id: dict | None = None,
        trace_flags: dict | None = None,
    ):
        # defaults per helper/trace.go:62-85
        self.trace_id = Field.parse((trace_id or {}).get("parse_from", "body.trace_id"))
        self.span_id = Field.parse((span_id or {}).get("parse_from", "body.span_id"))
        self.trace_flags = Field.parse(
            (trace_flags or {}).get("parse_from", "body.trace_flags")
        )

    def embed_apply(self, df: DataFrame, cond: str) -> tuple[DataFrame, str]:
        err = "false"
        updates = {}
        for field, col_name in (
            (self.trace_id, "trace_id"),
            (self.span_id, "span_id"),
            (self.trace_flags, "trace_flags"),
        ):
            src = f"CAST({field.sql()} AS STRING)"
            decoded = f"unhex({src})"
            updates[col_name] = (
                f"CASE WHEN ({cond} AND {decoded} IS NOT NULL) THEN {decoded}"
                f" ELSE {ident(col_name)} END"
            )
            err = f"({err} OR ({src} IS NOT NULL AND {decoded} IS NULL))"
        return apply_updates(df, updates), err


@register("trace_parser")
class TraceParserStage(ColumnStage):
    def __init__(self, trace_id=None, span_id=None, trace_flags=None, **kw):
        super().__init__(**kw)
        self.parser = TraceParser(trace_id, span_id, trace_flags)

    def transform(self, df: DataFrame, cond: str):
        return self.parser.embed_apply(df, cond)


class ScopeNameParser:
    def __init__(self, parse_from: str):
        self.parse_from = Field.parse(parse_from)

    def embed_apply(self, df: DataFrame, cond: str) -> tuple[DataFrame, str]:
        src = f"CAST({self.parse_from.sql()} AS STRING)"
        df = apply_updates(df, {
            "scope_name": f"CASE WHEN ({cond} AND {src} IS NOT NULL) THEN {src} ELSE `scope_name` END",
        })
        return df, f"({src} IS NULL)"


@register("scope_name_parser")
class ScopeNameParserStage(ColumnStage):
    def __init__(self, parse_from: str = "body", **kw):
        super().__init__(**kw)
        self.parser = ScopeNameParser(parse_from)

    def transform(self, df: DataFrame, cond: str):
        return self.parser.embed_apply(df, cond)
