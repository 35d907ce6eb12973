"""Bucketed checkpoint/resume driver with per-partition lineage +
metrics.

The reference persists per-file offsets so a restarted agent resumes
where it stopped (operator/input/file/file.go:298-361 via the
Persister KV, operator/persister.go:23-49). The batch-engine analogue:

  - The input is split into ``n_buckets`` deterministic buckets by
    ``pmod(xxhash64(conv_id), n_buckets)`` — the unit of work, commit
    and retry (the analogue of one file's offset).
  - Each bucket runs the flagship pipeline and writes every sink to
    ``<out>/data/bucket=<b>/sink=<s>/`` with the flagship's one sink
    writer (``flagship.write_routed``, mode=overwrite) — idempotent:
    a re-run of a half-written bucket replaces it whole. The per-sink
    counts ride that write as observed metrics, so a bucket is one
    scan and one write job, with no persist.
  - A bucket COMMITS by atomically renaming a ledger file into
    ``<out>/_checkpoint/`` carrying its lineage + metrics (rows
    routed, per-sink counts, wall seconds). Rename-commit gives crash
    consistency without a transaction log.
  - Resume = rerun: committed buckets are skipped; the final dataset
    is identical no matter how many times the run was interrupted.

At 10^12 turns the bucket count scales to O(cluster cores x 4) and
the same ledger lives as an Iceberg metadata table; the scheme —
deterministic work units + idempotent writes + atomic commit — is
unchanged.

Skew note: conversations are bounded (a transcript has at most
thousands of turns) so xxhash64(conv_id) buckets are balance-bounded.
The per-sink counts have only 5 keys, but they are observed on the
write rather than aggregated, so there is no exchange to skew.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .durable import commit_json
from .flagship import tagged_frame, write_routed

BUCKET_COL = "_bucket"


def with_bucket(df: DataFrame, n_buckets: int) -> DataFrame:
    """Deterministic work-unit id. xxhash64 (not hash): stable across
    Spark versions/sessions, so a resume after an upgrade still sees
    the same buckets."""
    return df.withColumn(
        BUCKET_COL, F.pmod(F.xxhash64(F.col("conv_id")), F.lit(n_buckets))
    )


class CheckpointedRunner:
    """Resume-safe flagship run over one scale-factor directory."""

    def __init__(
        self,
        spark: SparkSession,
        sf_dir: str,
        out_dir: str,
        n_buckets: int = 8,
    ):
        self.spark = spark
        self.sf_dir = sf_dir
        self.out_dir = out_dir
        self.n_buckets = n_buckets
        self.ckpt_dir = os.path.join(out_dir, "_checkpoint")
        os.makedirs(self.ckpt_dir, exist_ok=True)

    # ---- ledger -----------------------------------------------------

    def _ledger_path(self, bucket: int) -> str:
        return os.path.join(self.ckpt_dir, f"bucket={bucket}.json")

    def committed(self) -> list[int]:
        out = []
        for b in range(self.n_buckets):
            if os.path.exists(self._ledger_path(b)):
                out.append(b)
        return out

    def _commit(self, bucket: int, lineage: dict) -> None:
        commit_json(self._ledger_path(bucket), lineage)

    # ---- run --------------------------------------------------------

    def run_bucket(self, bucket: int, tagged: DataFrame) -> dict:
        """Process ONE bucket: idempotent partitioned write + lineage.
        One scan, one write job — the sink fan-out is partitionBy and
        the ledger's counts are the write's observed metrics."""
        t0 = time.time()
        part = tagged.filter(F.col(BUCKET_COL) == bucket).drop(BUCKET_COL)
        path = os.path.join(self.out_dir, "data", f"bucket={bucket}")
        counts = write_routed(self.spark, part, path)
        lineage = {
            "bucket": bucket,
            "sf_dir": self.sf_dir,
            "n_buckets": self.n_buckets,
            "rows_routed": sum(counts.values()),
            "sink_counts": counts,
            "wall_s": round(time.time() - t0, 3),
        }
        self._commit(bucket, lineage)
        return lineage

    def run(self, fail_after: int | None = None) -> dict:
        """Process all uncommitted buckets. ``fail_after`` aborts after
        that many buckets (test hook for resume semantics)."""
        tagged = with_bucket(tagged_frame(self.spark, self.sf_dir), self.n_buckets)
        done = set(self.committed())
        processed = []
        for b in range(self.n_buckets):
            if b in done:
                continue
            processed.append(self.run_bucket(b, tagged))
            if fail_after is not None and len(processed) >= fail_after:
                raise RuntimeError(f"injected failure after {fail_after} buckets")
        return self.metrics()

    def metrics(self) -> dict:
        """Aggregate lineage over all committed buckets."""
        sinks: dict[str, int] = {}
        rows = 0
        walls = 0.0
        for b in self.committed():
            with open(self._ledger_path(b)) as f:
                lin = json.load(f)
            rows += lin["rows_routed"]
            walls += lin["wall_s"]
            for k, v in lin["sink_counts"].items():
                sinks[k] = sinks.get(k, 0) + v
        return {
            "buckets_done": len(self.committed()),
            "n_buckets": self.n_buckets,
            "rows_routed": rows,
            "sink_counts": sinks,
            "wall_s_total": round(walls, 3),
        }
