"""Structured Streaming layer: the continuous-agent semantics of the
reference, re-expressed on Spark's streaming engine.

The reference is a long-running agent: file pollers tail sources
(operator/input/file/file.go:100-163), recombine buffers partial
batches per source and flushes on boundary/timeout
(operator/transformer/recombine/recombine.go:152-176,225-274), and
offsets persist for resume (file.go:298-361). The Spark mapping:

  reference                       | streaming engine
  --------------------------------+--------------------------------
  file poller / tail              | readStream (file source) with
                                  |   maxFilesPerTrigger backpressure
  per-file offsets + Persister    | checkpointLocation (WAL + state)
  recombine state machine         | applyInPandasWithState keyed by
                                  |   source, GroupStateTimeout =
                                  |   force_flush_period
  downstream operator chain       | the SAME column-expression stages
                                  |   as batch (they are plan-level,
                                  |   engine-agnostic)
  multi-sink fan-out              | foreachBatch: the batch flagship's
                                  |   one sink write per microbatch

Everything stateless (parsers/transforms/router) is shared with the
batch path verbatim — a DataFrame transformation doesn't care whether
its source is bounded. Only recombine needs true state.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from .entry import to_entries
from .flagship import apply_parsers, router, write_routed
from .transcripts import TRANSCRIPT_SCHEMA, materialized_transcripts, transcripts_path


def stream_transcripts(
    spark: SparkSession, sf_dir: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """The transcript table as an unbounded source (file stream over
    the materialized parquet — stands in for a Kafka/Iceberg CDC feed).
    maxFilesPerTrigger is the backpressure knob ≙ the reference's
    max_concurrent_files (operator/input/file/config.go)."""
    # ensure materialized
    materialized_transcripts(spark, sf_dir)
    reader = spark.readStream.schema(TRANSCRIPT_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(transcripts_path(sf_dir))


# --------------------------------------------------------------------
# stateful streaming recombine
# --------------------------------------------------------------------

_RECOMBINE_OUT = T.StructType(
    [
        T.StructField("source", T.StringType()),
        T.StructField("turn_idx", T.IntegerType()),
        T.StructField("text", T.StringType()),
        T.StructField("n_parts", T.IntegerType()),
    ]
)

#: open-batch state: pieces + their order keys + base turn_idx
_RECOMBINE_STATE = T.StructType(
    [
        T.StructField("idxs", T.ArrayType(T.IntegerType())),
        T.StructField("texts", T.ArrayType(T.StringType())),
    ]
)


def streaming_recombine(
    entries: DataFrame,
    combine_with: str = "\n",
    max_batch_size: int = 1000,
    flush_timeout_ms: int = 5000,
    is_first_entry: str | None = None,
    is_last_entry: str | None = None,
) -> DataFrame:
    """recombine as applyInPandasWithState keyed by conv_id.

    Boundary semantics mirror the batch operator (and the reference,
    recombine.go:225-274) in BOTH modes: with ``is_first_entry`` a
    boundary row flushes the open batch and STARTS a new one (rows
    before any boundary flush alone); with ``is_last_entry`` a
    boundary row is appended and then CLOSES the batch.
    ``max_batch_size`` force-flushes; the state timeout is the
    ``force_flush_period`` analogue (recombine.go:152-176).

    The boundary is a compiled engine expression (the same
    ``compile_bool`` language the batch operator uses) evaluated in
    the CALLER-side plan as a vectorized `_match` column — the
    stateful function only runs the buffering state machine, one
    Arrow batch per (key, microbatch). Default boundary:
    ``attributes.role == "user"`` (is_first). A frame without entry
    columns is lifted via ``to_entries`` first (pure projection —
    streaming-safe)."""
    if is_first_entry is not None and is_last_entry is not None:
        raise ValueError("at most one of is_first_entry / is_last_entry")
    if is_first_entry is None and is_last_entry is None:
        is_first_entry = 'attributes.role == "user"'
    last_mode = is_last_entry is not None

    def fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        conv_id = key[0]
        if state.hasTimedOut:
            if state.exists:
                idxs, texts = state.get
                state.remove()
                if texts:
                    yield pd.DataFrame(
                        {
                            "source": [conv_id],
                            "turn_idx": [idxs[0]],
                            "text": [combine_with.join(texts)],
                            "n_parts": [len(texts)],
                        }
                    )
            return

        open_idxs, open_texts = (
            (list(state.get[0]), list(state.get[1])) if state.exists else ([], [])
        )
        out_rows: list[tuple] = []

        def emit(seg_idxs: list, seg_texts: list) -> None:
            out_rows.append(
                (conv_id, seg_idxs[0], combine_with.join(seg_texts), len(seg_texts))
            )

        def emit_singletons(seg_idxs: list, seg_texts: list) -> None:
            # bulk path for runs of flush-alone rows (is_first mode,
            # recombine.go:236-242): one C-level extend instead of a
            # Python call per row — the all-singletons degenerate case
            # is O(rows) output either way, but this removes the
            # per-row interpreter frame
            out_rows.extend(
                (conv_id, i, t, 1) for i, t in zip(seg_idxs, seg_texts)
            )

        # vectorized state machine: columns convert to lists once
        # (C-level), boundaries come from one boolean scan, and all
        # batch construction is O(groups) slicing — no per-row pandas
        frames = [p for p in pdfs if len(p)]
        if frames and last_mode:
            # is_last: a boundary row is APPENDED then closes the
            # batch; the cap flushes mid-accumulation, so a closed
            # segment splits into repeating cap-sized chunks — the
            # exact mirror of the batch operator's
            # floor(pos/cap) sub-split (recombine.go:269-274)
            pdf = pd.concat(frames, ignore_index=True).sort_values("turn_idx")
            m_new = pdf["_match"].to_numpy(dtype=bool)
            idxs = open_idxs + [int(i) for i in pdf["turn_idx"].tolist()]
            txts = open_texts + pdf["text"].tolist()
            open_idxs, open_texts = [], []
            k = len(idxs) - len(m_new)
            ends = [k + i for i in range(len(m_new)) if m_new[i]]
            start = 0
            for e0 in ends:
                seg_i, seg_t = idxs[start : e0 + 1], txts[start : e0 + 1]
                for j in range(0, len(seg_t), max_batch_size):
                    emit(seg_i[j : j + max_batch_size],
                         seg_t[j : j + max_batch_size])
                start = e0 + 1
            # trailing rows: full cap chunks flush, remainder stays open
            tail_i, tail_t = idxs[start:], txts[start:]
            full = (len(tail_t) // max_batch_size) * max_batch_size
            for j in range(0, full, max_batch_size):
                emit(tail_i[j : j + max_batch_size],
                     tail_t[j : j + max_batch_size])
            open_idxs, open_texts = tail_i[full:], tail_t[full:]
        elif frames:
            pdf = pd.concat(frames, ignore_index=True).sort_values("turn_idx")
            m = pdf["_match"].to_numpy(dtype=bool)
            idxs = [int(i) for i in pdf["turn_idx"].tolist()]
            txts = pdf["text"].tolist()
            n = len(idxs)
            starts = [i for i in range(n) if m[i]]
            bounds = starts + [n]

            # continuation rows before the first boundary extend the
            # open batch up to the cap; once a cap flush empties the
            # batch, every later row flushes alone (recombine.go:236-274)
            g0_end = starts[0] if starts else n
            if open_texts:
                take = min(max_batch_size - len(open_texts), g0_end)
                open_idxs += idxs[:take]
                open_texts += txts[:take]
                if len(open_texts) >= max_batch_size:
                    emit(open_idxs, open_texts)
                    open_idxs, open_texts = [], []
                emit_singletons(idxs[take:g0_end], txts[take:g0_end])
            else:
                emit_singletons(idxs[:g0_end], txts[:g0_end])

            for gi, s0 in enumerate(starts):
                if open_texts:
                    # the boundary closes whatever is still open
                    emit(open_idxs, open_texts)
                    open_idxs, open_texts = [], []
                e0 = bounds[gi + 1]
                size = e0 - s0
                if size >= max_batch_size:
                    emit(idxs[s0 : s0 + max_batch_size],
                         txts[s0 : s0 + max_batch_size])
                    emit_singletons(idxs[s0 + max_batch_size : e0],
                                    txts[s0 + max_batch_size : e0])
                elif gi == len(starts) - 1:
                    # trailing partial batch stays open in state
                    open_idxs = idxs[s0:e0]
                    open_texts = txts[s0:e0]
                else:
                    emit(idxs[s0:e0], txts[s0:e0])

        if open_texts:
            state.update((open_idxs, open_texts))
            state.setTimeoutDuration(flush_timeout_ms)
        elif state.exists:
            state.remove()
        if out_rows:
            yield pd.DataFrame(
                out_rows, columns=["source", "turn_idx", "text", "n_parts"]
            )

    if "attributes" not in entries.columns:
        entries = to_entries(entries)
    from .exprs import compile_guard  # local: avoid import cycle

    matched = F.expr(compile_guard(is_first_entry or is_last_entry)).alias("_match")
    keyed = entries.select("conv_id", "turn_idx", "text", matched)
    return keyed.groupBy("conv_id").applyInPandasWithState(
        fn,
        outputStructType=_RECOMBINE_OUT,
        stateStructType=_RECOMBINE_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
    )


# --------------------------------------------------------------------
# streaming flagship: parse -> route -> foreachBatch multi-sink
# --------------------------------------------------------------------


def write_microbatch(
    spark: SparkSession, batch_df: DataFrame, batch_id: int, out_dir: str
) -> None:
    """The streaming flagship's foreachBatch body: one routed write of
    the microbatch to ``<out>/data/batch_id=<n>/sink=<s>/`` (the batch
    flagship's ``write_routed``), then its observed per-sink counts to
    ``<out>/counts/batch_id=<n>/``.

    foreachBatch is AT-LEAST-ONCE: a microbatch retried after a
    partial failure re-runs this function with the SAME batch_id.
    Each batch owns its two ``batch_id=<n>`` directories and writes
    them with mode=overwrite, so a retry replaces its own partial
    output exactly, making the sink effectively exactly-once. Readers
    of ``data`` and ``counts`` see ``batch_id`` as a partition column;
    they select explicit columns or sum ``cnt`` across batches."""
    counts = write_routed(spark, batch_df, f"{out_dir}/data/batch_id={batch_id}")
    (
        spark.createDataFrame(list(counts.items()), "sink string, cnt long")
        .write.mode("overwrite")
        .parquet(f"{out_dir}/counts/batch_id={batch_id}")
    )


def streaming_flagship(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int | None = None,
):
    """The flagship pipeline as a stream: stateless stages are the
    SAME plan as batch, and each microbatch is written by
    ``write_microbatch``: the batch flagship's one partitioned sink
    write, with the per-sink counts it observes kept in a parquet
    counts dir. Returns the started query."""
    src = stream_transcripts(spark, sf_dir, max_files_per_trigger)
    tagged = router().tag(apply_parsers(to_entries(src)))
    return (
        tagged.writeStream.foreachBatch(
            lambda batch_df, batch_id: write_microbatch(
                spark, batch_df, batch_id, out_dir
            )
        )
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
