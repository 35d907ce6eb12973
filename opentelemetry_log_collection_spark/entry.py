"""Canonical entry schema over the transcript table.

The reference's dynamic Entry (entry/entry.go:25-37) becomes a fixed
columnar schema (SURVEY.md section 1.4). The graft input maps on as:
``text`` -> body (string), ``role``/``tool`` -> attributes,
``conv_id`` -> resource, ``ts`` -> Timestamp, ``turn_idx`` -> the
stable ordering key replacing the reference's implicit arrival order.

``observed_ts`` is stamped from an *injected* reference clock, never
wall-clock (entry/entry.go:40-44 uses time.Now(); determinism at
10^12 rows demands reproducible runs — SURVEY.md section 7.3).
"""

from __future__ import annotations

import datetime as _dt

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from .fields import MAP_SS, MAP_SS_SQL, apply_updates, literal

DEFAULT_OBSERVED_TS = "2024-06-01T00:00:00+00:00"

#: entry columns added on top of the transcript's native six
ENTRY_FIELDS: list[tuple[str, T.DataType]] = [
    ("body", MAP_SS),
    ("attributes", MAP_SS),
    ("resource", MAP_SS),
    ("observed_ts", T.TimestampType()),
    ("severity", T.IntegerType()),
    ("severity_text", T.StringType()),
    ("trace_id", T.BinaryType()),
    ("span_id", T.BinaryType()),
    ("trace_flags", T.BinaryType()),
    ("scope_name", T.StringType()),
]


def to_entries(df: DataFrame, observed_ts: str = DEFAULT_OBSERVED_TS) -> DataFrame:
    """Lift a transcript frame (conv_id, turn_idx, role, text, tool,
    ts) into the canonical entry frame. Pure projection — no shuffle,
    survives any scan pushdown."""
    obs = _dt.datetime.fromisoformat(observed_ts)
    values = {
        "attributes": f"CAST(map('role', coalesce(`role`, ''), 'tool', coalesce(`tool`, ''))"
        f" AS {MAP_SS_SQL})",
        "resource": f"CAST(map('conv_id', CAST(`conv_id` AS STRING)) AS {MAP_SS_SQL})",
        "observed_ts": literal(obs),
        "severity": "0",
    }
    existing = set(df.columns)
    return apply_updates(df, {
        name: values.get(name, f"CAST(NULL AS {dtype.simpleString()})")
        for name, dtype in ENTRY_FIELDS
        if name not in existing
    })
