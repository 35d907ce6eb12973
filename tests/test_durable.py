"""The one durable atomic JSON commit and the three ledgers that use
it. Runs no Spark."""

from __future__ import annotations

import json
import os

import pytest

from opentelemetry_log_collection_spark import durable
from opentelemetry_log_collection_spark.checkpoint import CheckpointedRunner
from opentelemetry_log_collection_spark.operators.file_chunks import OffsetLedger
from opentelemetry_log_collection_spark.operators.windows_eventlog import Bookmark


def _runner(tmp_path):
    r = CheckpointedRunner(None, "unused", str(tmp_path / "out"))
    return (lambda obj: r._commit(3, obj)), r._ledger_path(3)


def _offsets(tmp_path):
    led = OffsetLedger(str(tmp_path / "ck"))
    return led.commit, led.path


def _bookmark(tmp_path):
    bm = Bookmark(str(tmp_path / "bookmark.json"))
    return bm.commit, bm.path


@pytest.mark.parametrize("ledger", [_runner, _offsets, _bookmark])
def test_commit_round_trips_fsyncs_before_replace(tmp_path, monkeypatch, ledger):
    commit, path = ledger(tmp_path)
    calls = []
    real_fsync, real_replace = os.fsync, os.replace

    def fsync(fd):
        calls.append("fsync")
        real_fsync(fd)

    def replace(src, dst):
        calls.append("replace")
        real_replace(src, dst)

    monkeypatch.setattr(os, "fsync", fsync)
    monkeypatch.setattr(os, "replace", replace)
    for obj in ({"a": 1}, {"a": 2, "b": [1, 2]}):
        commit(obj)
        with open(path) as f:
            assert json.load(f) == obj
    assert calls == ["fsync", "replace"] * 2
    assert os.listdir(os.path.dirname(path)) == [os.path.basename(path)]


def test_failed_commit_keeps_old_file_and_no_temp(tmp_path):
    path = str(tmp_path / "ledger.json")
    durable.commit_json(path, {"v": 1})
    with pytest.raises(TypeError):
        durable.commit_json(path, {"v": object()})
    with open(path) as f:
        assert json.load(f) == {"v": 1}
    assert os.listdir(tmp_path) == ["ledger.json"]
