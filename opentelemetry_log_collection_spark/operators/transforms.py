"""Restructure transformers (SURVEY.md section 2.5) as pure column
expressions — Spark's native projection machinery does what the
reference does with per-entry map surgery.

add / copy / move / remove / retain / flatten / filter / noop, each
citing its reference implementation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ..exprs import compile_guard, compile_template
from ..fields import MAP_ROOTS, MAP_SS_SQL, Field, apply_updates, ident, literal, quote
from ..pipeline import ColumnStage, Stage, register


def _is_expr_value(v) -> bool:
    return isinstance(v, str) and "EXPR(" in v


@register("add")
class AddStage(ColumnStage):
    """Set ``field`` to a literal or EXPR() template
    (operator/transformer/add/add.go:43-111)."""

    def __init__(self, field: str, value=None, **kw):
        super().__init__(**kw)
        self.field = Field.parse(field)
        self.value = value

    def transform(self, df: DataFrame, cond: str):
        if isinstance(self.value, dict):
            entries = ", ".join(
                f"{quote(str(k))}, "
                + (compile_template(v) if _is_expr_value(v) else quote(str(v)))
                for k, v in self.value.items()
            )
            val = f"CASE WHEN {cond} THEN map({entries}) END"
            return apply_updates(df, self.field.set_map(val)), None
        if _is_expr_value(self.value):
            val = compile_template(self.value)
        else:
            val = literal(self.value)
        guarded = f"CASE WHEN {cond} THEN {val} END"
        return apply_updates(df, self.field.set_scalar(guarded)), None


@register("copy")
class CopyStage(ColumnStage):
    """Copy ``from`` -> ``to``; missing source is an error
    (operator/transformer/copy/copy.go:40-87)."""

    def __init__(self, **kw):
        frm = kw.pop("from")
        to = kw.pop("to")
        super().__init__(**kw)
        self.src = Field.parse(frm)
        self.dst = Field.parse(to)

    def transform(self, df: DataFrame, cond: str):
        src = self.src.sql()
        guarded = f"CASE WHEN ({cond} AND ({src}) IS NOT NULL) THEN {src} END"
        return apply_updates(df, self.dst.set_scalar(guarded)), f"({src}) IS NULL"


@register("move")
class MoveStage(ColumnStage):
    """Delete ``from``, set at ``to`` (operator/transformer/move/
    move.go:39-83). The delete only happens when the source existed
    and the predicate passed."""

    def __init__(self, **kw):
        frm = kw.pop("from")
        to = kw.pop("to")
        super().__init__(**kw)
        self.src = Field.parse(frm)
        self.dst = Field.parse(to)

    def transform(self, df: DataFrame, cond: str):
        src = self.src.sql()
        moved = f"({cond} AND ({src}) IS NOT NULL)"
        updates = self.dst.set_scalar(f"CASE WHEN {moved} THEN {src} END")
        updates.update(self.src.delete(cols=updates, when=moved))
        return apply_updates(df, updates), f"({src}) IS NULL"


@register("remove")
class RemoveStage(ColumnStage):
    """Delete a field or a whole root (operator/transformer/remove/
    remove.go:39-91, rootable_field.go:29-72)."""

    def __init__(self, field: str, **kw):
        super().__init__(**kw)
        self.field = Field.parse(field)

    def transform(self, df: DataFrame, cond: str):
        err = f"({self.field.sql()}) IS NULL" if self.field.keys else None
        return apply_updates(df, self.field.delete(when=cond)), err


@register("retain")
class RetainStage(ColumnStage):
    """Keep only listed fields; roots with no listed field survive
    whole; timestamps always kept (operator/transformer/retain/
    retain.go:41-119)."""

    def __init__(self, fields: list[str], **kw):
        super().__init__(**kw)
        self.fields = [Field.parse(f) for f in fields]
        if not self.fields:
            raise ValueError("retain requires at least one field")

    def transform(self, df: DataFrame, cond: str):
        by_root: dict[str, list[Field]] = {}
        for f in self.fields:
            by_root.setdefault(f.root, []).append(f)
        updates = {}
        for root in MAP_ROOTS:
            kept = by_root.get(root)
            # root not mentioned, or listed whole -> untouched
            # (retain.go:76-88)
            if not kept or any(not f.keys for f in kept):
                continue
            m = ident(root)
            keys = ", ".join(quote(f.keys[0]) for f in kept)
            updates[root] = (
                f"CASE WHEN {cond} THEN map_filter({m}, (k, v) -> k IN ({keys})) ELSE {m} END"
            )
        if "body" in updates:
            # raw string body is dropped when body keys are retained;
            # that reads the retained body, so the body goes first
            df = apply_updates(df, {"body": updates.pop("body")})
            updates["text"] = (
                f"CASE WHEN ({cond} AND `body` IS NULL) THEN CAST(NULL AS STRING) ELSE `text` END"
            )
        return apply_updates(df, updates), None


@register("flatten")
class FlattenStage(ColumnStage):
    """Splice a nested body map's children into the parent
    (operator/transformer/flatten/flatten.go:41-101). Non-map value is
    an error and the entry is restored (flatten.go:76-92);
    attributes/resource targets are rejected at build (flatten.go:54-56)."""

    def __init__(self, field: str, **kw):
        super().__init__(**kw)
        self.field = Field.parse(field)
        if self.field.root != "body" or not self.field.keys:
            raise ValueError("flatten only applies to nested body fields")
        if len(self.field.keys) != 1:
            raise ValueError("flatten supports one nesting level")

    def transform(self, df: DataFrame, cond: str):
        k = quote(self.field.keys[0])
        nested_raw = f"try_element_at(`body`, {k})"
        children = f"from_json({nested_raw}, {quote(MAP_SS_SQL)})"
        spliced = f"map_concat(map_filter(`body`, (k, v) -> k != {k}), {children})"
        out = apply_updates(df, {
            "body": f"CASE WHEN ({cond} AND {children} IS NOT NULL) THEN {spliced}"
            " ELSE `body` END",
        })
        return out, f"({nested_raw} IS NULL OR {children} IS NULL)"


@register("filter")
class FilterStage(Stage):
    """Drop entries matching ``expr`` with ``drop_ratio`` sampling of
    the matches (operator/transformer/filter/filter.go:39-117).
    Randomness is seeded => deterministic, resumable runs."""

    type_name = "filter"

    def __init__(self, expr: str, drop_ratio: float = 1.0, seed: int = 42, **kw):
        super().__init__(**kw)
        self.expr = expr
        self.drop_ratio = float(drop_ratio)
        self.seed = seed

    def apply(self, df: DataFrame) -> DataFrame:
        cond = compile_guard(self.expr)
        if self.drop_ratio >= 1.0:
            return df.filter(f"NOT {cond}")
        rand = "rand()" if self.seed is None else f"rand({int(self.seed)}L)"
        return df.filter(f"NOT ({cond} AND {rand} < {literal(self.drop_ratio)})")


@register("noop")
class NoopStage(Stage):
    """Pass-through (operator/transformer/noop/noop.go:43-64); the
    stage elides itself from the plan entirely."""

    type_name = "noop"

    def apply(self, df: DataFrame) -> DataFrame:
        return df
