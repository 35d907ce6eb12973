"""Durable atomic JSON commit, shared by every ledger the engine keeps
(the checkpoint runner's bucket ledgers, file_input's offset ledger and
the Windows event-log bookmark)."""

from __future__ import annotations

import json
import os
import tempfile


def commit_json(path: str, obj, **dump_kw) -> None:
    """Write ``obj`` as JSON to ``path`` so that a crash at any point
    leaves either the old file or the new one, never a torn one: the
    JSON goes to a temp file in the same directory, is flushed and
    fsynced, and only then renamed over ``path``."""
    fd, tmp = tempfile.mkstemp(dir=os.path.dirname(path) or ".", suffix=".tmp")
    try:
        with os.fdopen(fd, "w") as f:
            json.dump(obj, f, **dump_kw)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, path)
    except BaseException:
        os.unlink(tmp)
        raise
