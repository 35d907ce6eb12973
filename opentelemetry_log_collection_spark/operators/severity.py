"""severity_parser — the 25-level enum mapping.

Rebuilds operator/helper/severity_builder.go:28-261: the
``aliases``/``otel``/default presets and user mappings with list
values compile at PLAN time into one literal ``create_map`` probe;
``{min,max}`` ranges and the ``2xx/3xx/4xx/5xx`` HTTP expansions stay
*numeric between-predicates* instead of the reference's
expand-to-100-literal-keys move (severity_builder.go:223-233) — same
semantics, but the expression fits Janino's codegen method limit so
the stage stays inside whole-stage codegen, zero Python per row.

Lookup semantics (operator/helper/severity.go:59-89): input lowercased
for the probe; unmapped values -> Default(0); the original text is
preserved in severity_text.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ..fields import Field, apply_updates, quote
from ..pipeline import ColumnStage, register

# entry/severity.go:22-63
SEVERITY_VALUES: dict[str, int] = {
    "default": 0,
    "trace": 1, "trace2": 2, "trace3": 3, "trace4": 4,
    "debug": 5, "debug2": 6, "debug3": 7, "debug4": 8,
    "info": 9, "info2": 10, "info3": 11, "info4": 12,
    "warn": 13, "warn2": 14, "warn3": 15, "warn4": 16,
    "error": 17, "error2": 18, "error3": 19, "error4": 20,
    "fatal": 21, "fatal2": 22, "fatal3": 23, "fatal4": 24,
}

#: entry/severity.go:65-91 — int -> canonical name
SEVERITY_NAMES: dict[int, str] = {v: k.capitalize() for k, v in SEVERITY_VALUES.items()}

_ALIASES = {k: v for k, v in SEVERITY_VALUES.items() if k != "default"}


def _builtin_mapping(preset: str | None) -> dict[str, int]:
    """getBuiltinMapping (severity_builder.go:28-123)."""
    if preset == "none":
        return {}
    if preset == "aliases":
        return dict(_ALIASES)
    if preset == "otel":
        m = dict(_ALIASES)
        for name, val in _ALIASES.items():
            m[str(val)] = val
        return m
    # default preset: aliases + warning*/err* extras
    m = dict(_ALIASES)
    m.update(
        {
            "warning": 13, "warning2": 14, "warning3": 15, "warning4": 16,
            "err": 17, "err2": 18, "err3": 19, "err4": 20,
        }
    )
    return m


_HTTP_RANGES = {"2xx": (200, 299), "3xx": (300, 399), "4xx": (400, 499), "5xx": (500, 599)}


def _parseable_values(value):
    """parseableValues (severity_builder.go:235-260): int, string
    (with HTTP-range expansion), or {min,max} range.

    The reference expands every range to literal string keys
    (expandRange severity_builder.go:223-233). We keep ranges AS
    RANGES: a 100-key literal create_map per range breaks Janino's
    64KB codegen method limit and forces interpreted execution —
    a numeric `between` predicate keeps the stage inside
    whole-stage codegen with identical semantics.
    Returns a list of str keys and/or ('range', lo, hi) tuples."""
    if isinstance(value, bool):
        raise ValueError("bool cannot be parsed as a severity value")
    if isinstance(value, int):
        return [str(value)]
    if isinstance(value, str):
        if value in _HTTP_RANGES:
            lo, hi = _HTTP_RANGES[value]
            return [("range", lo, hi)]
        return [value.lower()]
    if isinstance(value, dict) and "min" in value and "max" in value:
        lo, hi = int(value["min"]), int(value["max"])
        if lo > hi:
            lo, hi = hi, lo
        return [("range", lo, hi)]
    raise ValueError(f"type {type(value).__name__} cannot be parsed as a severity")


def build_mapping(
    preset: str | None = None, mapping: dict | None = None
) -> tuple[dict[str, int], list[tuple[int, int, int]]]:
    """-> (literal key map, [(lo, hi, sev)] ranges, later entries win)."""
    out = _builtin_mapping(preset)
    ranges: list[tuple[int, int, int]] = []
    for sev_name, values in (mapping or {}).items():
        key = str(sev_name).lower()
        if key not in SEVERITY_VALUES:
            raise ValueError(f"unknown severity level {sev_name!r}")
        sev = SEVERITY_VALUES[key]
        items = values if isinstance(values, list) else [values]
        for v in items:
            for parseable in _parseable_values(v):
                if isinstance(parseable, tuple):
                    ranges.append((parseable[1], parseable[2], sev))
                else:
                    out[parseable] = sev
    return out, ranges


class SeverityParser:
    """Embeddable sub-parser; also the standalone operator's engine."""

    def __init__(self, parse_from: str, preset: str | None = None, mapping: dict | None = None):
        self.parse_from = Field.parse(parse_from)
        self.mapping, self.ranges = build_mapping(preset, mapping)

    def _lookup(self, src: str) -> str:
        """Spark SQL text of the severity number of the string ``src``
        (also SQL text); null when unmapped."""
        if not self.mapping and not self.ranges:
            return "CAST(NULL AS INT)"
        # float inputs like 404.0 must probe as "404" (severity.go:66-75)
        as_num = f"TRY_CAST({src} AS DOUBLE)"
        is_whole = f"({as_num} IS NOT NULL AND {as_num} = floor({as_num}))"
        as_int = f"CAST(floor({as_num}) AS BIGINT)"
        probe = f"CASE WHEN {is_whole} THEN CAST({as_int} AS STRING) ELSE lower({src}) END"
        hit = "CAST(NULL AS INT)"
        if self.mapping:
            entries = ", ".join(f"{quote(k)}, {v}" for k, v in self.mapping.items())
            hit = f"try_element_at(map({entries}), {probe})"
        # later-configured ranges win over earlier ones; explicit keys
        # win over ranges (the reference's dict overwrite order makes
        # key/range precedence insertion-ordered — ties are unusual)
        range_hit = "CAST(NULL AS INT)"
        for lo, hi, sev in reversed(self.ranges):
            in_range = f"({as_int} >= {lo} AND {as_int} <= {hi})"
            range_hit = f"coalesce({range_hit}, CASE WHEN ({is_whole} AND {in_range}) THEN {sev} END)"
        return f"coalesce({hit}, {range_hit})"

    def embed_apply(self, df: DataFrame, cond: str) -> tuple[DataFrame, str]:
        src = f"CAST({self.parse_from.sql()} AS STRING)"
        err = f"({src} IS NULL)"  # missing parse_from is the only error path
        ok = f"({cond} AND {src} IS NOT NULL)"
        df = apply_updates(df, {
            "severity": f"CASE WHEN {ok} THEN coalesce({self._lookup(src)}, 0) ELSE `severity` END",
            "severity_text": f"CASE WHEN {ok} THEN {src} ELSE `severity_text` END",
        })
        return df, err


@register("severity_parser")
class SeverityParserStage(ColumnStage):
    """Standalone operator (operator/parser/severity/severity.go:30-72)."""

    def __init__(self, parse_from: str = "body", preset: str | None = None,
                 mapping: dict | None = None, **kw):
        super().__init__(**kw)
        self.parser = SeverityParser(parse_from, preset, mapping)

    def transform(self, df: DataFrame, cond: str):
        return self.parser.embed_apply(df, cond)
