"""recombine — multiline stitching as a window + grouped aggregation.

The reference (operator/transformer/recombine/recombine.go:37-335) is
the one genuinely stateful operator: it buffers consecutive entries
per source and flushes batches on boundary matches. In batch Spark the
whole history is visible, so the state machine collapses into pure
window arithmetic (SURVEY.md section 2.5):

  group_id  = running sum of boundary matches over
              Window.partitionBy(source).orderBy(order_keys)
  sub_id    = row_number for pre-first-boundary rows in is_first mode
              (each such row flushes alone, recombine.go:236-242)
  batch_id  = floor(position_in_group / max_batch_size)
              (forced flush every max_batch_size, recombine.go:269-274)

then ONE groupBy((source, group_id, sub_id, batch_id)) with
  - ``min_by``/``max_by`` of the full row struct for
    ``overwrite_with: oldest|newest`` base-entry selection
    (recombine.go:298-306)
  - sorted ``collect_list`` -> ``array_join`` for the
    ``combine_with``-separated concatenation (recombine.go:308-322)

The wall-clock guards (force_flush_period timer, max_sources spill,
recombine.go:152-176,260-267) exist because the agent cannot see the
future; a batch engine doesn't need them. Their streaming analogue is
a watermark + applyInPandasWithState timeout (see streaming/).

Shuffle budget: 2 exchanges for sourced rows (window sort by source,
then group hash). Upstream repartition(hash(conv_id)) makes the first
exchange the only data movement for the usual source=conv_id case at
scale; skewed conversations are bounded by max_batch_size
sub-splitting, which caps any single group at max_batch_size rows.

Rows with NO source identifier share one default bucket
(recombine.go:212-221) — a constant window key that would otherwise
serialize the whole subset through one task. Those rows take a
dedicated two-phase prefix-sum path (_tag_default_bucket): range
partition by the order key, local window per slice, tiny cumulated
per-slice offsets broadcast back. Every stage of it is parallel.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..exprs import compile_guard
from ..fields import Field, apply_updates
from ..pipeline import Stage, register


@register("recombine")
class RecombineStage(Stage):
    type_name = "recombine"

    def __init__(
        self,
        combine_field: str,
        is_first_entry: str | None = None,
        is_last_entry: str | None = None,
        combine_with: str = "\n",
        max_batch_size: int = 1000,
        overwrite_with: str = "oldest",
        source_identifier: str = 'attributes["file.path"]',
        order_by: list[str] | None = None,
        **kw,
    ):
        super().__init__(**kw)
        if (is_first_entry is None) == (is_last_entry is None):
            # exactly one boundary expr (recombine.go:71-77)
            raise ValueError("exactly one of is_first_entry / is_last_entry required")
        if overwrite_with not in ("oldest", "newest"):
            raise ValueError(f"invalid overwrite_with {overwrite_with!r}")
        self.combine_field = Field.parse(combine_field)
        self.is_first = is_first_entry
        self.is_last = is_last_entry
        self.combine_with = combine_with
        self.max_batch_size = int(max_batch_size)
        self.overwrite_with = overwrite_with
        self.source_identifier = Field.parse(source_identifier)
        self.order_by = order_by

    def _order_cols(self, df: DataFrame) -> list[str]:
        if self.order_by:
            return self.order_by
        # transcripts carry the stable per-conversation order key
        if "turn_idx" in df.columns:
            return ["ts", "turn_idx"] if "ts" in df.columns else ["turn_idx"]
        return ["ts"]

    def _batch_of(self, pos: Column) -> Column:
        """max_batch_size sub-split from the 0-based position in the
        group, matching the reference's flush machinery EXACTLY
        (recombine.go:236-274):

          - is_last mode: the cap flushes, rows keep accumulating, the
            boundary closes the remainder -> repeating cap-sized
            chunks = floor(pos / cap).
          - is_first mode: after the cap flush empties the batch,
            every following non-matching row hits the empty-batch rule
            (recombine.go:238-240) and flushes ALONE -> one cap-sized
            batch, then singletons."""
        cap = self.max_batch_size
        if self.is_first is not None:
            return (
                F.when(pos < cap, F.lit(0))
                .otherwise(pos - F.lit(cap) + 1)
                .cast(T.LongType())
            )
        return F.floor(pos / F.lit(cap))

    # -- group tagging -------------------------------------------------
    #
    # Both taggers produce the same four helper columns on top of the
    # entry columns: _src (bucket key), _grp (boundary-group id), _sub
    # (pre-first-boundary singleton id in is_first mode), _batch
    # (max_batch_size sub-split).

    def _tag_windowed(self, df: DataFrame, order: list[str]) -> DataFrame:
        """Per-source window tagging — the normal path where _src has
        real cardinality (conv_id, file.path) so the window
        parallelizes across sources."""
        w = Window.partitionBy("_src").orderBy(*[F.col(c) for c in order])
        if self.is_first is not None:
            grp = F.sum(F.col("_match").cast(T.IntegerType())).over(
                w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            )
        else:
            # boundary CLOSES the group: count of matches strictly before
            grp = F.coalesce(
                F.sum(F.col("_match").cast(T.IntegerType())).over(
                    w.rowsBetween(Window.unboundedPreceding, -1)
                ),
                F.lit(0),
            )
        df = df.withColumn("_grp", grp.cast(T.LongType()))
        if self.is_first is not None:
            # rows before any first-boundary flush alone (recombine.go:236-242)
            rn = F.row_number().over(w)
            df = df.withColumn(
                "_sub",
                F.when(F.col("_grp") == 0, rn).otherwise(F.lit(0)).cast(
                    T.LongType()
                ),
            )
        else:
            df = df.withColumn("_sub", F.lit(0).cast(T.LongType()))
        pos = (
            F.row_number().over(
                Window.partitionBy("_src", "_grp", "_sub").orderBy(
                    *[F.col(c) for c in order]
                )
            )
            - 1
        )
        return df.withColumn("_batch", self._batch_of(pos))

    def _tag_default_bucket(self, df: DataFrame, order: list[str]) -> DataFrame:
        """Distributed tagging for rows with NO source identifier —
        they all share one default bucket (recombine.go:212-221), so
        ``Window.partitionBy(_src)`` would drag the whole subset
        through ONE task. Instead: a classic two-phase prefix sum.

          1. range-partition by the order key; spark_partition_id is
             then monotonic in the global order, so each partition is
             a contiguous slice;
          2. per-slice window computes LOCAL running match-counts and
             row numbers (parallel, bounded by slice size);
          3. a tiny per-slice totals frame (one row per partition) is
             cumulated and broadcast back: global = local + offset.

        Group-relative positions (for max_batch_size splitting) come
        from joining the per-group min row-number back — AQE turns
        that into a broadcast when groups are few (the skewed case)
        and an even hash join when they are many (the already-uniform
        case), so no single task ever owns the whole bucket."""
        # duplicate order keys would leave the window's tie order
        # nondeterministic, and three consumers below (totals, starts,
        # the row side) re-evaluate this subtree independently before
        # joining back together — a row could join a `_start` computed
        # under a DIFFERENT tie permutation. Two defenses:
        #   1. `_tie` is derived from ROW CONTENT (xxhash64 over every
        #      column, map-typed columns via to_json since hash exprs
        #      reject MapType), not monotonically_increasing_id — an
        #      id depends on upstream per-partition row order, which
        #      does NOT replay identically downstream of a shuffle
        #      (reduce-side fetch order is nondeterministic). Content
        #      hashing makes the order total except for bit-identical
        #      rows, which are interchangeable by definition.
        #   2. the tagged frame is persisted before the fan-out (see
        #      below) so all three consumers read ONE materialization
        #      — this also covers repartitionByRange's order-sensitive
        #      boundary sampling.
        ordc = [F.col(c) for c in order]

        def _hashable(f: T.StructField) -> Column:
            def has_map(dt: T.DataType) -> bool:
                if isinstance(dt, T.MapType):
                    return True
                if isinstance(dt, T.ArrayType):
                    return has_map(dt.elementType)
                if isinstance(dt, T.StructType):
                    return any(has_map(x.dataType) for x in dt.fields)
                return False

            c = F.col(f.name)
            return F.to_json(c) if has_map(f.dataType) else c

        tie = F.xxhash64(*[_hashable(f) for f in df.schema.fields])
        d = (
            df.withColumn("_tie", tie)
            .repartitionByRange(*ordc)
            .withColumn("_bkt", F.spark_partition_id())
        )
        wloc = Window.partitionBy("_bkt").orderBy(*ordc, F.col("_tie"))
        m = F.col("_match").cast(T.IntegerType())
        if self.is_first is not None:
            lcum = F.sum(m).over(
                wloc.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            )
        else:
            lcum = F.coalesce(
                F.sum(m).over(wloc.rowsBetween(Window.unboundedPreceding, -1)),
                F.lit(0),
            )
        d = d.withColumn("_lcum", lcum).withColumn(
            "_lrn", F.row_number().over(wloc)
        )
        # ONE materialization feeds all three consumers (totals, the
        # starts aggregate, and the row side). MEMORY_AND_DISK: at
        # scale the default bucket is the no-source-identifier subset,
        # typically a small fraction of the stream; a partition lost
        # and recomputed on a real cluster replays the content-derived
        # tie order, which is stable by construction (defense 1).
        # Lifetime note: the entry lives until the session clears it
        # (Dataset caches are not GC-reclaimed); long-lived sessions
        # should spark.catalog.clearCache() between batch runs.
        from pyspark import StorageLevel

        d = d.persist(StorageLevel.MEMORY_AND_DISK)
        totals = d.groupBy("_bkt").agg(
            F.sum(m).alias("_m"), F.count(F.lit(1)).alias("_n")
        )
        # P rows (one per partition): the single-task window here is fine
        wtot = Window.orderBy("_bkt").rowsBetween(Window.unboundedPreceding, -1)
        offsets = totals.select(
            "_bkt",
            F.coalesce(F.sum("_m").over(wtot), F.lit(0)).alias("_moff"),
            F.coalesce(F.sum("_n").over(wtot), F.lit(0)).alias("_noff"),
        )
        d = d.join(F.broadcast(offsets), "_bkt")
        d = d.withColumn(
            "_grp", (F.col("_lcum") + F.col("_moff")).cast(T.LongType())
        ).withColumn("_rn", F.col("_lrn") + F.col("_noff"))
        if self.is_first is not None:
            d = d.withColumn(
                "_sub",
                F.when(F.col("_grp") == 0, F.col("_rn"))
                .otherwise(F.lit(0))
                .cast(T.LongType()),
            )
        else:
            d = d.withColumn("_sub", F.lit(0).cast(T.LongType()))
        starts = d.groupBy("_grp", "_sub").agg(F.min("_rn").alias("_start"))
        d = d.join(starts, ["_grp", "_sub"])
        d = d.withColumn("_batch", self._batch_of(F.col("_rn") - F.col("_start")))
        return d.drop(
            "_tie", "_bkt", "_lcum", "_lrn", "_moff", "_noff", "_rn", "_start"
        )

    def apply(self, df: DataFrame) -> DataFrame:
        order = self._order_cols(df)
        src_raw = self.source_identifier.get().cast(T.StringType())
        matched = F.expr(compile_guard(self.is_first or self.is_last))
        df = df.withColumn("_srcraw", src_raw).withColumn("_match", matched)
        entry_cols = [c for c in df.columns if c not in ("_srcraw", "_match")]

        # missing source -> shared default bucket (recombine.go:212-221),
        # tagged by the skew-proof prefix-sum path; real sources keep
        # the per-source window. _src is a pure grouping helper (never
        # output), so real sources get an "s:" prefix and the default
        # bucket "d:" — a source whose VALUE is literally
        # "DefaultSourceIdentifier" can never collide with the
        # independently-numbered default path.
        helper = ["_src", "_grp", "_sub", "_batch"]
        sourced = self._tag_windowed(
            df.filter(F.col("_srcraw").isNotNull()).withColumn(
                "_src", F.concat(F.lit("s:"), F.col("_srcraw"))
            ),
            order,
        ).select(*entry_cols, *helper)
        defaulted = self._tag_default_bucket(
            df.filter(F.col("_srcraw").isNull()).withColumn(
                "_src", F.lit("d:")
            ),
            order,
        ).select(*entry_cols, *helper)
        tagged = sourced.unionByName(defaulted)

        ord_struct = F.struct(*[F.col(c) for c in order])
        row_struct = F.struct(*[F.col(c) for c in entry_cols])
        val = self.combine_field.get().cast(T.StringType())

        base_agg = (
            F.min_by(row_struct, ord_struct)
            if self.overwrite_with == "oldest"
            else F.max_by(row_struct, ord_struct)
        )
        pieces = F.array_sort(
            F.collect_list(F.struct(ord_struct.alias("o"), val.alias("v")))
        )
        combined = F.array_join(
            F.transform(pieces, lambda x: x.getField("v")), self.combine_with
        )

        agg = (
            tagged.groupBy("_src", "_grp", "_sub", "_batch")
            .agg(base_agg.alias("_base"), combined.alias("_combined"))
        )
        out = agg.select(
            *[F.col("_base").getField(c).alias(c) for c in entry_cols],
            F.col("_combined"),
        )
        out = apply_updates(
            out, self.combine_field.set_scalar("`_combined`")
        )
        return out.drop("_combined")
