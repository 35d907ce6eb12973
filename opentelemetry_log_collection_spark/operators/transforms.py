"""Restructure transformers (SURVEY.md section 2.5) as pure column
expressions — Spark's native projection machinery does what the
reference does with per-entry map surgery.

add / copy / move / remove / retain / flatten / filter / noop, each
citing its reference implementation.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..exprs import compile_guard, compile_template
from ..fields import MAP_SS, Field, apply_updates
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

    def transform(self, df: DataFrame, cond: Column):
        if isinstance(self.value, dict):
            entries = []
            for k, v in self.value.items():
                entries.append(F.lit(str(k)))
                entries.append(
                    F.expr(compile_template(v)) if _is_expr_value(v) else F.lit(str(v))
                )
            val = F.when(cond, F.create_map(*entries))
            return apply_updates(df, self.field.set_map(val)), None
        if _is_expr_value(self.value):
            col = F.expr(compile_template(self.value))
        else:
            col = F.lit(self.value)
        guarded = F.when(cond, col)
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

    def transform(self, df: DataFrame, cond: Column):
        src = self.src.get()
        err = src.isNull()
        guarded = F.when(cond & src.isNotNull(), src)
        return apply_updates(df, self.dst.set_scalar(guarded)), err


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

    def transform(self, df: DataFrame, cond: Column):
        src = self.src.get()
        err = src.isNull()
        moved = cond & src.isNotNull()
        updates = self.dst.set_scalar(F.when(moved, src))
        updates.update(self.src.delete(cols=updates, when=moved))
        return apply_updates(df, updates), err


@register("remove")
class RemoveStage(ColumnStage):
    """Delete a field or a whole root (operator/transformer/remove/
    remove.go:39-91, rootable_field.go:29-72)."""

    def __init__(self, field: str, **kw):
        super().__init__(**kw)
        self.field = Field.parse(field)

    def transform(self, df: DataFrame, cond: Column):
        src = self.field.get()
        err = src.isNull() if self.field.keys else None
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

    def transform(self, df: DataFrame, cond: Column):
        by_root: dict[str, list[Field]] = {}
        for f in self.fields:
            by_root.setdefault(f.root, []).append(f)
        out = df
        for root in ("body", "attributes", "resource"):
            kept = by_root.get(root)
            if not kept:
                continue  # root not mentioned -> untouched (retain.go:76-88)
            m = F.col(root)
            keys = [f.keys[0] for f in kept if f.keys]
            whole_root = any(not f.keys for f in kept)
            if whole_root:
                continue
            # NB: the lambda must take exactly (k, v) — map_filter binds
            # every declared parameter to a Column, so a keys= default
            # would be clobbered; the closure is evaluated eagerly here
            filtered = F.map_filter(m, lambda k, _v: k.isin(*list(keys)))
            new_col = F.when(cond, filtered).otherwise(m)
            out = out.withColumn(root, new_col)
            if root == "body":
                # raw string body is dropped when body keys are retained
                out = out.withColumn(
                    "text",
                    F.when(cond & F.col("body").isNull(), F.lit(None).cast(T.StringType()))
                    .otherwise(F.col("text")),
                )
        return out, None


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

    def transform(self, df: DataFrame, cond: Column):
        k = self.field.keys[0]
        m = F.col("body")
        nested_raw = F.try_element_at(m, F.lit(k))
        children = F.from_json(nested_raw, MAP_SS)
        ok = cond & children.isNotNull()
        err = nested_raw.isNull() | children.isNull()
        spliced = F.map_concat(
            F.map_filter(m, lambda key, _v: key != F.lit(k)), children
        )
        out = df.withColumn("body", F.when(ok, spliced).otherwise(m))
        return out, err


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
            return df.filter(~cond)
        drop = cond & (F.rand(self.seed) < F.lit(self.drop_ratio))
        return df.filter(~drop)


@register("noop")
class NoopStage(Stage):
    """Pass-through (operator/transformer/noop/noop.go:43-64); the
    stage elides itself from the plan entirely."""

    type_name = "noop"

    def apply(self, df: DataFrame) -> DataFrame:
        return df
