"""The engine names the benchmark (`perfbench/workloads.py`) calls or
patches: they must keep existing with the call shapes it uses."""

from __future__ import annotations

import inspect
import os
import sys

import pytest

from opentelemetry_log_collection_spark import checkpoint, flagship
from opentelemetry_log_collection_spark.checkpoint import CheckpointedRunner
from test_flagship import SF_DIR
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PATHS = [ROOT, os.path.join(ROOT, "perfbench")]


@pytest.fixture(scope="module")
def workloads():
    sys.path[:0] = PATHS
    try:
        import workloads  # noqa: PLC0415

        yield workloads
    finally:
        for p in PATHS:
            sys.path.remove(p)


def test_layer_targets_exist(workloads):
    missing = [
        f"{getattr(owner, '__name__', owner)}.{attr}"
        for owner, attr, _ in workloads.LAYER_TARGETS
        if not hasattr(owner, attr)
    ]
    assert missing == []


def test_patched_call_shapes():
    inspect.signature(flagship.write_sinks).bind("spark", "df", "out_dir")
    inspect.signature(CheckpointedRunner.run_bucket).bind("self", 0, "tagged")


def test_runner_calls_patched_names(spark, tmp_path, monkeypatch):
    """`run()` calls the module global `checkpoint.tagged_frame` and the
    instance's `run_bucket(bucket, tagged)`, and the bucket write goes
    through `flagship.write_sinks`: the names the benchmark rebinds."""
    calls = []

    def spy(name, fn):
        def wrapped(*args, **kwargs):
            calls.append((name, len(args), sorted(kwargs)))
            return fn(*args, **kwargs)

        return wrapped

    for owner, name in ((checkpoint, "tagged_frame"), (flagship, "write_sinks")):
        monkeypatch.setattr(owner, name, spy(name, getattr(owner, name)))
    runner = CheckpointedRunner(spark, SF_DIR, str(tmp_path), n_buckets=1)
    runner.run_bucket = spy("run_bucket", runner.run_bucket)
    assert runner.run()["buckets_done"] == 1
    assert calls == [
        ("tagged_frame", 2, []),
        ("run_bucket", 2, []),
        ("write_sinks", 3, []),
    ]
