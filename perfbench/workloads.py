"""The benchmark workloads, ``flagship_bulk`` and ``query_mix``.

Each workload drives the engine only through its public functions and
is split into the same phases:

- ``generate(dir)``: write the seeded input tables (numpy and pyarrow,
  not the engine; outside every timer);
- ``materialise(dir)``: let Spark store the transcript table of one
  generated input directory (set-up, repeated to take a median);
- ``prepare()``: one-off set-up on the last materialised inputs
  (derived tables, expected outputs);
- ``cold()``: the first work in the fresh process, returning its
  first-run wall (JIT, codegen and first planning included) and the
  ops it ran; the rest of it is warm-up and, where a workload needs
  one, the reference run its timed ops are checked against;
- ``unit(i, traced)``: one timed unit of the closed loop, returning
  the ops it ran. Units are whole, so every run measures the same mix;
- ``layer_probe()``: the checkpoint layer, exercised once, in traced
  runs only.

An op is failed when its output check misses.
"""

from __future__ import annotations

import os
import shutil
import time
from dataclasses import dataclass, field

import numpy as np
import pyarrow.parquet as pq
from pyspark.sql import Observation
from pyspark.sql import functions as F
from pyspark.sql import types as T

import __spark_entry__ as E
import gen
from opentelemetry_log_collection_spark import checkpoint, entry, flagship, transcripts
from opentelemetry_log_collection_spark.checkpoint import CheckpointedRunner
from opentelemetry_log_collection_spark.operators.enrich import LookupEnrichStage
from opentelemetry_log_collection_spark.operators.parsers import ParserStage
from opentelemetry_log_collection_spark.operators.recombine import RecombineStage
from opentelemetry_log_collection_spark.operators.router import RouterStage

#: (owner, attribute, span name) rebound while a traced unit runs.
#: Functions are patched in every module that imported them by name.
LAYER_TARGETS = [
    (entry, "to_entries", "entry.to_entries"),
    (flagship, "to_entries", "entry.to_entries"),
    (E, "to_entries", "entry.to_entries"),
    (flagship, "apply_parsers", "parsers.apply"),
    (E, "apply_parsers", "parsers.apply"),
    (ParserStage, "apply", "parsers.apply"),
    (flagship, "apply_enrich", "enrich.apply"),
    (E, "apply_enrich", "enrich.apply"),
    (LookupEnrichStage, "apply", "enrich.apply"),
    (RouterStage, "tag", "router.tag"),
    (RecombineStage, "apply", "recombine.apply"),
    (flagship, "write_sinks", "flagship.write_sinks"),
    (checkpoint, "tagged_frame", "construct"),
    (CheckpointedRunner, "_commit", "checkpoint.commit"),
]


@dataclass
class Op:
    name: str
    unit: int
    wall: float
    rows: int
    ok: bool
    traced: bool
    exec: dict = field(default_factory=dict)  # status-store metrics
    extra: dict = field(default_factory=dict)  # write / cache counts


def checksum_cols(df) -> list:
    """Order-independent row checksum: count and sum of a per-row
    xxhash64 folded to 40 bits (no overflow under ANSI mode). Floats
    are rounded so partition-order noise cannot move the sum."""
    cols = [
        F.round(F.col(f.name), 6) if isinstance(f.dataType, (T.DoubleType, T.FloatType))
        else F.col(f.name)
        for f in df.schema.fields
    ]
    return [
        F.count(F.lit(1)).alias("n"),
        F.sum(F.pmod(F.xxhash64(*cols), F.lit(1 << 40))).alias("h"),
    ]


def _canon(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        return f"{v:.6g}"
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def _multiset(cols: list[str], rows) -> list[str]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted("\x01".join(_canon(r[i]) for i in order) for r in rows)


def _parquet_rows(path: str) -> int:
    n = 0
    for d, _, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                n += pq.read_metadata(os.path.join(d, f)).num_rows
    return n


def _dir_stats(path: str) -> dict:
    files = size = 0
    for d, _, names in os.walk(path):
        for f in names:
            if f.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(d, f))
    return {"write.files": files, "write.bytes": size}


class Workload:
    name = ""
    sf = 0.01
    tiny_sf = 0.001

    def __init__(self, bench, tiny: bool):
        self.b = bench
        self.spark = bench.spark
        self.sf = self.tiny_sf if tiny else self.sf
        self.tiny = tiny
        self.sf_dir = ""
        self.tables: dict = {}

    def generate(self, sf_dir: str) -> None:
        self.tables = gen.write_tables(sf_dir, self.b.seed, self.sf)

    def materialise(self, sf_dir: str) -> None:
        transcripts.materialized_transcripts(self.spark, sf_dir)
        self.sf_dir = sf_dir

    def prepare(self) -> None:
        pass

    def cold(self) -> tuple[float, list[Op]]:
        raise NotImplementedError

    def unit(self, i: int, traced: bool) -> list[Op]:
        raise NotImplementedError

    def layer_probe(self) -> list[Op]:
        """One checkpointed fail-and-resume cycle over the base
        transcript table, so the checkpoint layer has per-layer
        numbers on every workload."""
        expected = gen.expected_sink_counts(self.tables["events"])
        self.checkpoint = CheckpointCycle(self.b, self.sf_dir, expected)
        return self.checkpoint.cycle()


class FlagshipBulk(Workload):
    """parse -> enrich -> route -> one partitioned zstd multi-sink
    write over the inflated transcript table: 20,000 base turns
    replicated 50 times, 1,000,000 turns in 15,000 conversations."""

    name = "flagship_bulk"
    sf = 0.02
    factor = 50

    def prepare(self) -> None:
        if self.tiny:
            self.factor = 1
        transcripts.inflated_transcripts(self.spark, self.sf_dir, self.factor)
        base = gen.expected_sink_counts(self.tables["events"])
        self.expected = {k: v * self.factor for k, v in base.items()}
        self.turns = sum(self.expected.values())

    def cold(self) -> tuple[float, list[Op]]:
        op = self.op(-1, False)
        return op.wall, [op]

    def unit(self, i: int, traced: bool) -> list[Op]:
        return [self.op(i, traced)]

    def op(self, i: int, traced: bool) -> Op:
        b, spark = self.b, self.spark
        out_dir = os.path.join(b.work, f"sinks-{i}")
        group = b.begin_op(f"flagship-{i}")
        t0 = time.perf_counter()
        with b.tracer.span("op"):
            with b.tracer.span("construct"):
                df = transcripts.inflated_transcripts(spark, self.sf_dir, self.factor)
                df = entry.to_entries(df)
                df = flagship.apply_parsers(df)
                df = flagship.apply_enrich(spark, df)
                df = flagship.router().tag(df)
                df = df.withColumn("sink", flagship.route_name_col())
            obs = Observation()
            df = df.observe(obs, *[
                F.count(F.when(F.col("sink") == s, 1)).alias(s)
                for s in flagship.SINK_NAMES
            ])
            b.plan(df, traced)
            with b.tracer.span("exec"):
                flagship.write_sinks(spark, df, out_dir)
                counts = obs.get
        wall = time.perf_counter() - t0
        written = all(
            os.path.isdir(os.path.join(out_dir, f"sink={s}"))
            for s, n in self.expected.items() if n
        )
        ok = counts == self.expected and written
        op = Op("flagship", i, wall, self.turns, ok, traced)
        if traced:
            op.extra.update(_dir_stats(out_dir))
        b.end_op(op, group)
        shutil.rmtree(out_dir, ignore_errors=True)
        return op


#: the declared queries, with the table whose rows each one consumes
QUERY_MIX = {
    "regex_tomcat": "events",
    "severity_http": "events",
    "uri_request": "events",
    "syslog_rfc3164": "events",
    "routed_rows": "events",
    "recombine_conv": "events",
    "sessionize": "events",
    "asof_enrich": "events",
    "dedup_exact": "documents",
    "paragraph_dedup": "documents",
    "minhash_pairs": "documents",
    "embed_topk": "embeddings",
}


class QueryMix(Workload):
    """The twelve declared queries in a seed-permuted order, each
    ending in a ``noop`` write; one unit is one pass over all twelve."""

    name = "query_mix"
    sf = 0.01

    def prepare(self) -> None:
        import duckdb

        rng = np.random.default_rng(self.b.seed)
        self.order = [list(QUERY_MIX)[i] for i in rng.permutation(len(QUERY_MIX))]
        self.queries = E.queries()
        oracles = E.oracle_sql()
        con = duckdb.connect()
        try:
            for t in self.tables:
                path = os.path.join(self.sf_dir, f"{t}.parquet")
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
            self.oracle = {}
            for q in self.order:
                res = con.execute(oracles[q])
                cols = [d[0] for d in res.description]
                self.oracle[q] = (cols, _multiset(cols, res.fetchall()))
        finally:
            con.close()
        self.rows = {q: self.tables[t].num_rows for q, t in QUERY_MIX.items()}
        self.expected: dict[str, dict] = {}

    def cold(self) -> tuple[float, list[Op]]:
        """Reference pass: every query runs cold, its rows are
        collected and checked against the DuckDB oracle, and the
        checked run's Spark checksum becomes the reference for the
        timed ops. Each op of this pass is its query's first run, so
        the first-run wall is their mean: it does not depend on which
        query the seed puts first."""
        ops = []
        for q in self.order:
            group = self.b.begin_op(f"cold-{q}")
            t0 = time.perf_counter()
            obs = Observation()
            df = self.queries[q](self.spark, self.sf_dir)
            df = df.observe(obs, *checksum_cols(df))
            rows = df.collect()
            got = obs.get
            wall = time.perf_counter() - t0
            cols, want = self.oracle[q]
            ok = list(df.columns) == cols and _multiset(cols, rows) == want
            if ok:
                self.expected[q] = got
            op = Op(q, -1, wall, self.rows[q], ok, False)
            self.b.end_op(op, group)
            ops.append(op)
        return sum(o.wall for o in ops) / len(ops), ops

    def unit(self, i: int, traced: bool) -> list[Op]:
        b = self.b
        ops = []
        for q in self.order:
            group = b.begin_op(f"{q}-{i}")
            t0 = time.perf_counter()
            with b.tracer.span("op"):
                with b.tracer.span("construct"):
                    df = self.queries[q](self.spark, self.sf_dir)
                obs = Observation()
                df = df.observe(obs, *checksum_cols(df))
                b.plan(df, traced)
                with b.tracer.span("exec"):
                    df.write.format("noop").mode("overwrite").save()
                    got = obs.get
            wall = time.perf_counter() - t0
            ok = q in self.expected and got == self.expected[q]
            op = Op(q, i, wall, self.rows[q], ok, traced)
            b.end_op(op, group)
            ops.append(op)
        return ops


class CheckpointCycle:
    """``CheckpointedRunner`` with 8 buckets: a failure is injected
    after k buckets (k from the seed), then a fresh runner resumes to
    completion. Each bucket job is one op; the resume's wall is kept
    in ``resume_s``."""

    n_buckets = 8

    def __init__(self, bench, sf_dir: str, expected: dict[str, int]):
        self.b = bench
        self.sf_dir = sf_dir
        self.expected = expected
        self.turns = sum(expected.values())
        self.k = 1 + bench.seed % (self.n_buckets - 1)
        self.resume_s = 0.0

    def runner(self, out_dir: str, ops: list[Op]) -> CheckpointedRunner:
        """A runner whose bucket jobs are timed and checked as ops."""
        b = self.b
        r = CheckpointedRunner(b.spark, self.sf_dir, out_dir,
                               n_buckets=self.n_buckets)
        run_bucket = r.run_bucket

        def timed_bucket(bucket, tagged):
            group = b.begin_op(f"bucket-{bucket}")
            t0 = time.perf_counter()
            with b.tracer.span("op"), b.tracer.span("exec"):
                lineage = run_bucket(bucket, tagged)
            wall = time.perf_counter() - t0
            data = os.path.join(out_dir, "data", f"bucket={bucket}")
            ok = _parquet_rows(data) == lineage["rows_routed"]
            op = Op("bucket", 0, wall, lineage["rows_routed"], ok, True)
            op.extra.update(_dir_stats(data))
            b.end_op(op, group)
            ops.append(op)
            return lineage

        r.run_bucket = timed_bucket
        return r

    def check(self, out_dir: str, metrics: dict) -> bool:
        """Ledger totals and written per-sink rows must equal those of
        an uninterrupted run, which routes every generated event."""
        data = os.path.join(out_dir, "data")
        sinks = {
            s: sum(
                _parquet_rows(os.path.join(data, bd, f"sink={s}"))
                for bd in os.listdir(data)
            )
            for s in self.expected
        }
        want = {k: v for k, v in self.expected.items() if v}
        return (
            metrics["buckets_done"] == self.n_buckets
            and metrics["rows_routed"] == self.turns
            and metrics["sink_counts"] == want
            and sinks == self.expected
        )

    def cycle(self) -> list[Op]:
        ops: list[Op] = []
        out_dir = os.path.join(self.b.work, "ckpt")
        self.b.tracer.op = "ckpt"  # for the spans outside bucket ops
        try:
            self.runner(out_dir, ops).run(fail_after=self.k)
            injected = False
        except RuntimeError as exc:
            injected = "injected failure" in str(exc)
        t0 = time.perf_counter()
        with self.b.tracer.span("checkpoint.resume"):
            metrics = self.runner(out_dir, ops).run()
        self.resume_s = time.perf_counter() - t0
        if not (injected and self.check(out_dir, metrics)):
            for op in ops:
                op.ok = False
        shutil.rmtree(out_dir, ignore_errors=True)
        return ops


WORKLOADS = {w.name: w for w in (FlagshipBulk, QueryMix)}
