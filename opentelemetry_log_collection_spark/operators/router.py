"""router — predicate-driven multi-sink fan-out.

Rebuilds operator/transformer/router/router.go:41-204 the Spark way:
the ordered route list compiles into ONE ``CASE WHEN ... WHEN ...``
producing a ``_route`` id column — branch ordering IS
first-match-wins (router.go:116-141's loop+break). Entries matching no
route (and no default) get a null id and are dropped (router.go's
implicit drop). Matched routes can stamp attributes (router.go:126-131).

Scale design: routing is a zero-shuffle projection. The pipeline
runner persists the routed frame once and derives every sink's branch
as a cheap filter over the cached `_route` column, so N sinks never
recompute the upstream parse DAG (SURVEY.md section 4.3b). Per-sink
aggregate counts are ONE ``groupBy(_route).count()`` over the same
cache, not N count() jobs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ..exprs import compile_guard
from ..fields import Field, apply_updates, ident, quote
from ..pipeline import Stage, register

ROUTE_COL = "_route"


class Route:
    def __init__(self, expr: str, output, attributes: dict | None = None):
        self.expr = expr
        self.outputs = [output] if isinstance(output, str) else list(output)
        self.attributes = attributes or {}


@register("router")
class RouterStage(Stage):
    type_name = "router"

    def __init__(self, routes: list[dict], default=None, **kw):
        super().__init__(**kw)
        self.routes = [Route(**r) for r in routes]
        if default:
            self.default = [default] if isinstance(default, str) else list(default)
        else:
            self.default = []

    def route_id_col(self) -> str:
        """Spark SQL text of the route index of the FIRST matching
        route, len(routes) for the default, null for unmatched
        (dropped)."""
        default = str(len(self.routes)) if self.default else "NULL"
        if not self.routes:
            return default
        whens = " ".join(
            f"WHEN {compile_guard(r.expr)} THEN {i}" for i, r in enumerate(self.routes)
        )
        return f"CASE {whens}" + (f" ELSE {default}" if self.default else "") + " END"

    def tag(self, df: DataFrame) -> DataFrame:
        """Stamp the `_route` id and per-route attributes; drop
        unmatched rows. No shuffle."""
        route = ident(ROUTE_COL)
        df = apply_updates(df, {ROUTE_COL: self.route_id_col()})
        df = df.filter(f"{route} IS NOT NULL")
        # per-route attribute stamping (router.go:126-131): a row takes
        # one route, so one merge of a per-route map covers them all
        stamps = " ".join(
            f"WHEN {route} = {i} THEN map("
            + ", ".join(f"{quote(str(k))}, {quote(str(v))}" for k, v in r.attributes.items())
            + ")"
            for i, r in enumerate(self.routes)
            if r.attributes
        )
        if stamps:
            df = apply_updates(df, Field.parse("attributes").set_map(f"CASE {stamps} END"))
        return df

    def route(self, df: DataFrame) -> dict[str, list]:
        """Map each downstream stage id to its branch DataFrame.
        Multiple routes may feed one output; a route may feed many."""
        tagged = self.tag(df)
        out: dict[str, DataFrame] = {}
        for i, r in enumerate(self.routes):
            branch = tagged.filter(f"{ident(ROUTE_COL)} = {i}").drop(ROUTE_COL)
            for target in r.outputs:
                out[target] = (
                    out[target].unionByName(branch) if target in out else branch
                )
        if self.default:
            branch = tagged.filter(f"{ident(ROUTE_COL)} = {len(self.routes)}").drop(ROUTE_COL)
            for target in self.default:
                out[target] = (
                    out[target].unionByName(branch) if target in out else branch
                )
        return out

    def apply(self, df: DataFrame) -> DataFrame:  # pragma: no cover
        return self.tag(df)
