"""Flagship pipeline + checkpoint/resume tests over sf0.001."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from opentelemetry_log_collection_spark.checkpoint import CheckpointedRunner
from opentelemetry_log_collection_spark.flagship import (
    run_flagship,
    sink_counts,
    tagged_frame,
)
from opentelemetry_log_collection_spark.transcripts import load_transcripts

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def tagged(spark):
    return tagged_frame(spark, SF_DIR).persist()


def _expected_counts(spark):
    """Independent derivation of the routing from the raw text."""
    t = load_transcripts(spark, SF_DIR)
    status = F.regexp_extract(F.col("text"), r'" (\d+) [\d-]+$', 1).try_cast("int")
    sink = (
        F.when(
            F.col("text").startswith("10.") & status.between(500, 599),
            F.lit("sink_errors"),
        )
        .when(F.col("text").startswith("user="), F.lit("sink_ui"))
        .when(F.col("text").startswith("{"), F.lit("sink_growth"))
        .when(F.col("text").rlike("^[0-9]+,"), F.lit("sink_billing"))
        .otherwise(F.lit("sink_rest"))
    )
    return {
        r["sink"]: r["cnt"]
        for r in t.groupBy(sink.alias("sink")).agg(F.count(F.lit(1)).alias("cnt")).collect()
    }


def test_flagship_counts_match_independent_derivation(spark, tagged):
    got = {r["sink"]: r["cnt"] for r in sink_counts(tagged).collect()}
    assert got == _expected_counts(spark)
    assert sum(got.values()) == load_transcripts(spark, SF_DIR).count()


def test_checkpoint_ledger_counts_match_independent_derivation(spark, tmp_path):
    runner = CheckpointedRunner(spark, SF_DIR, str(tmp_path), n_buckets=4)
    assert runner.run()["sink_counts"] == _expected_counts(spark)


def _persisted_rdd_ids(sc) -> set:
    return set(sc._jsc.getPersistentRDDs().keys())


def test_bucket_is_one_write_with_no_persist(spark, tmp_path):
    """Each bucket's per-sink counts ride its write: at most 2 Spark
    jobs per bucket, and nothing left persisted."""
    sc = spark.sparkContext
    runner = CheckpointedRunner(spark, SF_DIR, str(tmp_path), n_buckets=4)
    run_bucket = runner.run_bucket
    groups = []

    def grouped(bucket, tagged):
        group = f"bucket-jobs-{tmp_path.name}-{bucket}"
        groups.append(group)
        sc.setJobGroup(group, group)
        try:
            return run_bucket(bucket, tagged)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)

    runner.run_bucket = grouped
    before = _persisted_rdd_ids(sc)
    runner.run()
    assert _persisted_rdd_ids(sc) == before
    jobs = {g: len(sc.statusTracker().getJobIdsForGroup(g)) for g in groups}
    assert len(jobs) == 4
    assert all(1 <= n <= 2 for n in jobs.values()), jobs


def test_run_flagship_writes_all_sinks(spark, tmp_path):
    counts = run_flagship(spark, SF_DIR, out_dir=str(tmp_path))
    got = {r["sink"]: r["cnt"] for r in counts.collect()}
    written = spark.read.parquet(str(tmp_path))
    per_sink = {
        r["sink"]: r["n"]
        for r in written.groupBy("sink").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert per_sink == got


def test_checkpoint_resume_identical_to_single_shot(spark, tmp_path):
    full = CheckpointedRunner(spark, SF_DIR, str(tmp_path / "full"), n_buckets=4)
    full.run()

    part = CheckpointedRunner(spark, SF_DIR, str(tmp_path / "part"), n_buckets=4)
    with pytest.raises(RuntimeError, match="injected failure"):
        part.run(fail_after=2)
    assert len(part.committed()) == 2

    resumed = CheckpointedRunner(spark, SF_DIR, str(tmp_path / "part"), n_buckets=4)
    m_resumed = resumed.run()
    m_full = full.metrics()
    assert m_resumed["sink_counts"] == m_full["sink_counts"]
    assert m_resumed["rows_routed"] == m_full["rows_routed"]
    assert m_resumed["buckets_done"] == 4

    # row-level equality of the routed datasets
    cols = ["sink", "conv_id", "turn_idx"]
    a = spark.read.parquet(str(tmp_path / "full" / "data"))
    b = spark.read.parquet(str(tmp_path / "part" / "data"))
    rows_a = sorted(tuple(r) for r in a.select(*cols).collect())
    rows_b = sorted(tuple(r) for r in b.select(*cols).collect())
    assert rows_a == rows_b


def test_lineage_metrics_shape(spark, tmp_path):
    runner = CheckpointedRunner(spark, SF_DIR, str(tmp_path), n_buckets=2)
    m = runner.run()
    assert m["buckets_done"] == 2
    assert m["rows_routed"] == sum(m["sink_counts"].values())
    assert m["wall_s_total"] > 0
