"""Warm queries reuse the JVM work of their first run: generated
classes stay in the codegen cache, and the engine-written transcript
tables are read with their declared schema (no inference job)."""

from __future__ import annotations

import os
import sys

import __spark_entry__ as E
from opentelemetry_log_collection_spark.transcripts import (
    TRANSCRIPT_SCHEMA,
    inflated_transcripts,
    materialized_transcripts,
)
from test_flagship import SF_DIR

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _query_mix() -> list[str]:
    """The benchmark's ``query_mix`` queries."""
    sys.path.insert(0, os.path.join(ROOT, "perfbench"))
    try:
        from workloads import QUERY_MIX  # noqa: PLC0415
    finally:
        sys.path.remove(os.path.join(ROOT, "perfbench"))
    return list(QUERY_MIX)


def _compiled(spark) -> int:
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def test_second_query_mix_pass_reuses_generated_classes(spark):
    """With Spark's default 100-entry class cache the twelve queries
    (about 245 classes) evict each other, and a second pass recompiles
    almost all of them."""
    qs = E.queries()
    passes = []
    for _ in range(2):
        before = _compiled(spark)
        for name in _query_mix():
            qs[name](spark, SF_DIR).write.format("noop").mode("overwrite").save()
        passes.append(_compiled(spark) - before)
    first, second = passes
    assert first > 0
    assert second <= 0.1 * first, passes


def test_transcript_reread_starts_no_job(spark):
    materialized_transcripts(spark, SF_DIR)
    inflated_transcripts(spark, SF_DIR, 2)
    sc = spark.sparkContext
    group = "transcript-reread"
    sc.setJobGroup(group, group)
    try:
        materialized_transcripts(spark, SF_DIR)
        inflated_transcripts(spark, SF_DIR, 2)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []


def test_declared_schema_equals_inferred(spark):
    for df in (materialized_transcripts(spark, SF_DIR), inflated_transcripts(spark, SF_DIR, 2)):
        path = os.path.dirname(df.inputFiles()[0])
        assert spark.read.parquet(path).schema == df.schema == TRANSCRIPT_SCHEMA


def test_once_unchecked_queries_are_in_the_first_fifty():
    """The first 50 declared queries are the ones a 50-query
    correctness window checks."""
    first = list(E.queries())[:50]
    once_unchecked = [
        "media_jpeg", "media_png", "media_gif",
        "file_compressed", "decontaminate", "pack_sequences",
    ]
    assert [q for q in once_unchecked if q not in first] == []
