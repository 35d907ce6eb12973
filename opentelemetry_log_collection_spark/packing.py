"""Sequence packing for pretraining batches: concat-and-chunk.

The standard packing used by large-scale LM training pipelines:
documents are concatenated in a deterministic order (doc_id) and the
token stream is cut into fixed-size context windows; a document's
tokens land in chunks [first_chunk, last_chunk]. Computing that is a
GLOBAL prefix sum over token counts — the naive
``Window.orderBy(doc_id)`` with no partition drags the whole corpus
through one task, so this runs the two-phase prefix sum (same idea as
recombine's default-bucket tagging, operators/recombine.py:159-234)
with one refinement: buckets are DETERMINISTIC uniform doc_id ranges
(from an exact min/max aggregate), not ``repartitionByRange``'s
sampled boundaries. A pure function of doc_id means every
re-evaluation of the plan buckets identically, so no persist is
needed for cross-consumer CONSISTENCY — and the sampled-range
exchange disappears (the window's own hash exchange on ``_bkt`` is
the plan's ONE shuffle).

  1. one exact (min, max) aggregate fixes the bucket ranges;
  2. per-bucket local running sums (parallel, bounded by slice size);
  3. per-bucket totals — P rows — collect to the driver, cumulate,
     and come back as a literal map probe (no join at all).

Cost note: the (id, token count) projection feeds the two driver-side
jobs (bounds, totals), so it is persisted while they run — for cost,
not consistency: the default whitespace counter would otherwise
re-tokenize the text for the second. The cache is released as soon
as the totals are on the driver (on the empty-corpus return too), so
no cache outlives the call; the returned frame re-derives the
projection when it runs. Callers packing an already-counted corpus
pass ``token_count=F.col(...)``, which makes every pass a cheap
2-column scan.

Bucket balance assumes doc_ids are roughly dense (the usual case for
a curated corpus). Highly clustered sparse ids skew bucket sizes —
balance only, never correctness.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def whitespace_tokens(text: Column) -> Column:
    """The engine's whitespace token count (same convention as
    textops/dedup: lower+trim+split on runs of whitespace)."""
    return F.size(F.split(F.lower(F.trim(text)), r"\s+"))


def pack_sequences(
    docs: DataFrame,
    budget: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    token_count: Column | None = None,
    n_buckets: int | None = None,
) -> DataFrame:
    """Assign each document its slice of the packed token stream.

    Returns (id_col, n_tokens, token_offset, first_chunk, last_chunk,
    n_chunks): token_offset is the document's global start position in
    the concatenated stream, chunks are the ``budget``-token windows
    it overlaps (a doc spanning a boundary is split across chunks —
    concat-and-chunk semantics, no padding waste).
    """
    if budget <= 0:
        raise ValueError(f"budget must be positive, got {budget}")
    spark = docs.sparkSession
    from pyspark.storagelevel import StorageLevel

    n_tok = (
        token_count if token_count is not None else whitespace_tokens(F.col(text_col))
    ).cast("bigint")
    # (doc_id, n_tokens) feeds the bounds and bucket-totals jobs —
    # persisted for those two, released before returning
    t = docs.select(F.col(id_col), n_tok.alias("n_tokens")).persist(
        StorageLevel.MEMORY_AND_DISK
    )

    bounds = t.agg(
        F.min(id_col).alias("lo"), F.max(id_col).alias("hi")
    ).collect()[0]
    if bounds["lo"] is None:  # empty corpus
        t.unpersist()
        return t.select(
            id_col,
            "n_tokens",
            F.lit(0).cast("bigint").alias("token_offset"),
            F.lit(0).cast("bigint").alias("first_chunk"),
            F.lit(0).cast("bigint").alias("last_chunk"),
            F.lit(0).cast("bigint").alias("n_chunks"),
        )
    lo, hi = int(bounds["lo"]), int(bounds["hi"])
    p = n_buckets or int(
        spark.conf.get("spark.sql.shuffle.partitions", "32")
    )
    span = hi - lo + 1
    p = max(1, min(p, span))
    # deterministic uniform id-range bucket: monotone in doc_id, so
    # spark_partition-free and identical on every plan re-evaluation
    bkt = F.floor(((F.col(id_col) - lo) * p) / span).cast("int")
    d = t.withColumn("_bkt", bkt)

    wloc = Window.partitionBy("_bkt").orderBy(id_col)
    lcum = F.coalesce(
        F.sum("n_tokens").over(wloc.rowsBetween(Window.unboundedPreceding, -1)),
        F.lit(0).cast("bigint"),
    )

    # P-row totals: cumulate driver-side, return as a literal map probe
    totals = {
        r["_bkt"]: r["_t"]
        for r in d.groupBy("_bkt").agg(F.sum("n_tokens").alias("_t")).collect()
    }
    t.unpersist()
    acc, offsets = 0, {}
    for b in sorted(totals):
        offsets[b] = acc
        acc += totals[b]
    omap = F.create_map(
        *[F.lit(x) for b in sorted(offsets) for x in (b, offsets[b])]
    )

    off = (
        F.coalesce(F.try_element_at(omap, F.col("_bkt")), F.lit(0)) + lcum
    ).cast("bigint")
    d = d.withColumn("token_offset", off)
    first = F.floor(F.col("token_offset") / budget).cast("bigint")
    last = F.floor(
        (F.col("token_offset") + F.col("n_tokens") - 1) / budget
    ).cast("bigint")
    return d.select(
        id_col,
        "n_tokens",
        "token_offset",
        first.alias("first_chunk"),
        last.alias("last_chunk"),
        F.when(F.col("n_tokens") > 0, last - first + 1)
        .otherwise(F.lit(0))
        .cast("bigint")
        .alias("n_chunks"),
    )
