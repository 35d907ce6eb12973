"""lookup_enrich — broadcast-hash-join enrichment.

The north rule adds a *lookup enrich* stage with no reference
counterpart (the reference never consumes two streams —
operator/operator.go:53 takes a single entry; SURVEY.md section 2.6).
Spark-first: a dimension table small enough to describe routes/tools/
roles is broadcast to every executor, so enrichment is a map-side hash
probe with ZERO shuffle of the (huge) fact side — the only sane plan
at 10^12 turns.

The joined dimension columns are merged into ``attributes`` with the
engine's standard merge-overwrite semantics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..fields import Field, apply_updates, ident, quote
from ..pipeline import Stage, register


@register("lookup_enrich")
class LookupEnrichStage(Stage):
    type_name = "lookup_enrich"

    def __init__(
        self,
        lookup: "DataFrame | None" = None,
        on: str = "",
        key_column: str | None = None,
        prefix: str = "",
        target: str = "attributes",
        **kw,
    ):
        super().__init__(**kw)
        if lookup is None:
            raise ValueError("lookup_enrich requires a lookup DataFrame")
        self.lookup = lookup
        self.on = Field.parse(on)  # field on the entry side
        self.key_column = key_column or self.lookup.columns[0]
        self.prefix = prefix
        self.target = Field.parse(target)

    def apply(self, df: DataFrame) -> DataFrame:
        dim_cols = [c for c in self.lookup.columns if c != self.key_column]
        dim = self.lookup.selectExpr(
            f"CAST({ident(self.key_column)} AS STRING) AS _enrich_key",
            *[f"CAST({ident(c)} AS STRING) AS {ident(c)}" for c in dim_cols],
        )
        key = f"CAST({self.on.sql()} AS STRING)"
        joined = apply_updates(df, {"_enrich_key": key}).join(
            F.broadcast(dim), on="_enrich_key", how="left"
        )
        entries = ", ".join(f"{quote(self.prefix + c)}, {ident(c)}" for c in dim_cols)
        # only stamp when the probe hit (left-join miss -> no-op merge)
        hit = "false"
        for c in dim_cols:
            hit = f"({hit} OR {ident(c)} IS NOT NULL)"
        val = f"CASE WHEN {hit} THEN map_filter(map({entries}), (k, v) -> v IS NOT NULL) END"
        out = apply_updates(joined, self.target.set_map(val))
        return out.drop("_enrich_key", *dim_cols)
