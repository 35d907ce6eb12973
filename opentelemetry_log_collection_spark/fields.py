"""Field paths: the addressing language of the reference engine.

Reimplements the semantics of ``entry/field.go:117-188`` (dot + bracket
parsing) and the per-root Get/Set/Delete behavior of
``entry/body_field.go:68-162`` / ``entry/attribute_field.go:67-160`` /
``entry/resource_field.go:67-160`` as *Spark SQL text* built in plain
Python — parsing happens once at plan time, never per row, and a read
or an update of any size costs one ``F.expr`` to apply.

Canonical entry representation (SURVEY.md section 1.4): the dynamic Go
``Body interface{}`` splits into a raw string column ``text`` (the body
while it is still an unparsed line) and a ``body: map<string,string>``
column (the body once structured; nested values JSON-encoded).
``attributes`` / ``resource`` are ``map<string,string>``; this module
holds the one definition of that type and of its empty value.

Key reference semantics reproduced:
  - ``Set`` of a map value **merges** into the target subtree instead
    of replacing it (``entry/body_field.go:88-132``): we use
    ``map_concat`` with the new map last, so new keys win — the same
    overwrite-on-collision order as the Go ``Merge``.
  - Missing intermediate maps are auto-created (``entry/field.go:226-239``).
  - ``attributes``/``resource`` roots cannot be Set to a scalar
    (``entry/attribute_field.go:109-111``).
  - whole-root deletion (``remove`` operator's rootableField,
    ``operator/transformer/remove/rootable_field.go:29-72``).
"""

from __future__ import annotations

import datetime as _dt
import math
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MAP_SS = T.MapType(T.StringType(), T.StringType())
#: Spark SQL spelling of MAP_SS, and its empty value
MAP_SS_SQL = MAP_SS.simpleString()
EMPTY_MAP = f"CAST(map() AS {MAP_SS_SQL})"

#: roots addressable by field paths; bare paths default to body
#: (docs/types/field.md)
MAP_ROOTS = ("body", "attributes", "resource")
TOP_LEVEL = {
    "timestamp": "ts",
    "observed_timestamp": "observed_ts",
    "severity": "severity",
    "severity_text": "severity_text",
    "scope_name": "scope_name",
    "trace_id": "trace_id",
    "span_id": "span_id",
    "trace_flags": "trace_flags",
}


def quote(s: str) -> str:
    """Spark SQL string literal for ``s``. Escapes ``\\`` and ``'``,
    and writes ``${`` as ``$\\{`` so the parser's variable
    substitution (which would replace ``${name}`` with a conf value,
    an environment variable or nothing) never sees it. Under
    ``spark.sql.parser.escapedStringLiterals=false`` (the default)
    every other character, control bytes and regex escapes included,
    reads back unchanged."""
    s = s.replace("\\", "\\\\").replace("'", "\\'").replace("${", "$\\{")
    return f"'{s}'"


def ident(name: str) -> str:
    """Backtick-quoted Spark SQL identifier."""
    return "`" + name.replace("`", "``") + "`"


def literal(v) -> str:
    """Spark SQL literal typed the way ``F.lit(v)`` types it: a bare
    ``1.5`` would parse as DECIMAL(2,1), so doubles carry ``D``; NaN
    and infinities have no literal spelling, so they are cast from
    text; a datetime carries its UTC offset (a naive one is local time
    of this process, as ``F.lit`` reads it), so the instant does not
    depend on the session zone. Other types raise ``TypeError``."""
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, str):
        return quote(v)
    if isinstance(v, int):
        return str(v)
    if isinstance(v, float):
        if math.isfinite(v):
            return f"{v!r}D"
        spelled = "NaN" if math.isnan(v) else ("Infinity" if v > 0 else "-Infinity")
        return f"CAST('{spelled}' AS DOUBLE)"
    if isinstance(v, _dt.datetime):
        aware = v if v.tzinfo is not None else v.astimezone()
        return f"TIMESTAMP '{aware.isoformat(sep=' ')}'"
    if isinstance(v, _dt.date):
        return f"DATE '{v.isoformat()}'"
    if isinstance(v, list):
        return f"array({', '.join(literal(x) for x in v)})"
    raise TypeError(f"no Spark SQL literal for {type(v).__name__}: {v!r}")


def _last_win_active() -> bool:
    """True when the active session already runs with
    mapKeyDedupPolicy=LAST_WIN. READ-ONLY: sessions the engine creates
    get the policy from ``session.get_spark``; a caller-provided
    session is never reconfigured from inside expression construction
    (the conf is read at execution time, so flipping it here would
    silently change duplicate-key semantics of the caller's other
    queries)."""
    from pyspark.sql import SparkSession

    s = SparkSession.getActiveSession()
    return (
        s is not None
        and s.conf.get("spark.sql.mapKeyDedupPolicy", "EXCEPTION") == "LAST_WIN"
    )


def merge_maps(base: str, new: str) -> str:
    """Merge-overwrite: keys of ``new`` win (entry/body_field.go's
    Merge). Arguments and result are Spark SQL text.

    Fast path: plain ``map_concat`` under mapKeyDedupPolicy=LAST_WIN —
    later keys win natively, whole-stage-codegen friendly, one pass
    (3.3x cheaper on the flagship's 4-stage merge chain than the
    policy-independent filter+concat, measured at sf0.1). Taken only
    when the active session ALREADY has the policy set (get_spark sets
    it on engine-created sessions). Default path for any other
    session: filter+concat, which never forms duplicate keys and is
    correct under any policy. The lambda variables are ``_k``/``_v``
    because ``new`` lands inside the lambda body, where a plain ``k``
    would capture a column of that name.

    CONTRACT: the branch is chosen at CONSTRUCTION time but map_concat
    enforces the policy at EXECUTION time, so a plan built while a
    LAST_WIN session is active is only valid on sessions that also run
    LAST_WIN (any get_spark session qualifies). Build plans under the
    session that will execute them — the normal Spark usage pattern;
    cross-session plan transplanting is not supported."""
    new_nn = f"coalesce({new}, {EMPTY_MAP})"
    if _last_win_active():
        return f"map_concat({base}, {new_nn})"
    kept = f"map_filter({base}, (_k, _v) -> NOT array_contains(map_keys({new_nn}), _k))"
    return f"map_concat({kept}, {new_nn})"


class FieldParseError(ValueError):
    pass


def _parse_path(raw: str) -> tuple[str, tuple[str, ...]]:
    """Parse ``body.a.b`` / ``body["k8s.cluster.name"].x`` into
    (root, keys). Small state machine mirroring entry/field.go:117-188."""
    s = raw.strip()
    if not s:
        raise FieldParseError("empty field")
    keys: list[str] = []
    i, n = 0, len(s)
    buf = ""
    while i < n:
        c = s[i]
        if c == ".":
            if buf:
                keys.append(buf)
                buf = ""
            i += 1
        elif c == "[":
            if buf:
                keys.append(buf)
                buf = ""
            j = s.find("]", i)
            if j < 0:
                raise FieldParseError(f"unterminated bracket in {raw!r}")
            inner = s[i + 1 : j].strip()
            if (inner.startswith('"') and inner.endswith('"')) or (
                inner.startswith("'") and inner.endswith("'")
            ):
                inner = inner[1:-1]
            keys.append(inner)
            i = j + 1
        else:
            buf += c
            i += 1
    if buf:
        keys.append(buf)
    if not keys:
        raise FieldParseError(f"cannot parse field {raw!r}")
    root = keys[0]
    if root in MAP_ROOTS or root in TOP_LEVEL:
        return root, tuple(keys[1:])
    # bare path defaults to body (docs/types/field.md)
    return "body", tuple(keys)


@dataclass(frozen=True)
class Field:
    """A compiled field path: ``root`` plus nested ``keys``."""

    root: str
    keys: tuple[str, ...] = ()

    @classmethod
    def parse(cls, raw: str) -> "Field":
        root, keys = _parse_path(raw)
        return cls(root, keys)

    def __str__(self) -> str:
        out = self.root
        for k in self.keys:
            out += f"['{k}']" if "." in k else f".{k}"
        return out

    # ---- GET ------------------------------------------------------

    def sql(self) -> str:
        """Spark SQL text reading this field from the canonical entry
        frame.

        ``body`` root with no keys reads the *raw* string while the
        structured body is unset (the usual parse_from case) and the
        JSON projection of the structured body otherwise — mirroring
        the dynamic Go body that starts life as the log line.
        """
        if self.root in TOP_LEVEL and not self.keys:
            return ident(TOP_LEVEL[self.root])
        if self.root not in MAP_ROOTS:
            raise FieldParseError(f"cannot read {self}")
        m = ident(self.root)
        if not self.keys:
            if self.root == "body":
                return f"CASE WHEN {m} IS NOT NULL THEN to_json({m}) ELSE `text` END"
            return f"to_json({m})"
        head = f"try_element_at({m}, {quote(self.keys[0])})"
        if len(self.keys) == 1:
            return head
        # deeper levels live JSON-encoded inside the map value
        return f"get_json_object({head}, {quote('$.' + '.'.join(self.keys[1:]))})"

    def get(self) -> Column:
        """Column reading this field (see ``sql``)."""
        return F.expr(self.sql())

    # ---- SET ------------------------------------------------------
    #
    # Set/Delete return *column-update dicts* ({column_name: Spark SQL
    # text over the CURRENT frame}) rather than new DataFrames, so
    # operators can compose several mutations (e.g. move = set +
    # delete) into one projection with no cross-frame references.
    # ``cols`` is an optional view of already-pending updates to build
    # on top of; a pending update is inlined in place of its column.
    # ``value`` arguments are Spark SQL text too.

    @staticmethod
    def _base(cols: dict[str, str] | None, name: str) -> str:
        if cols and name in cols:
            return f"({cols[name]})"
        return ident(name)

    def set_scalar(
        self, value: str, cols: dict[str, str] | None = None
    ) -> dict[str, str]:
        """Updates setting a scalar (string) value at this field. A
        null ``value`` is a no-op (keeps the old value) — stages use
        that to express `if`-predicate pass-through."""
        v = f"CAST({value} AS STRING)"
        if self.root in TOP_LEVEL and not self.keys:
            name = TOP_LEVEL[self.root]
            return {name: f"coalesce({value}, {self._base(cols, name)})"}
        if self.root == "body" and not self.keys:
            # whole-body replace by a scalar: body reverts to raw string
            return {
                "text": f"coalesce({v}, {self._base(cols, 'text')})",
                "body": f"CAST(CASE WHEN {v} IS NULL THEN {self._base(cols, 'body')} END"
                f" AS {MAP_SS_SQL})",
            }
        if self.root in ("attributes", "resource") and not self.keys:
            raise FieldParseError(
                f"cannot set scalar at {self.root} root "
                "(entry/attribute_field.go:109-111)"
            )
        return self._set_in_map(v, cols)

    def set_map(
        self, value: str, cols: dict[str, str] | None = None
    ) -> dict[str, str]:
        """Merge a map<string,string> value at this field (the
        parse_to path). Reference merge: entry/body_field.go:88-132.
        Null value => no-op."""
        if self.root not in MAP_ROOTS:
            raise FieldParseError(f"cannot set map at {self}")
        if len(self.keys) > 1:
            raise FieldParseError(f"map set deeper than one level not supported: {self}")
        tgt = self._base(cols, self.root)
        base = f"coalesce({tgt}, {EMPTY_MAP})"
        if not self.keys:
            merged = merge_maps(base, value)
        else:
            k = quote(self.keys[0])
            # nested map is JSON-encoded at map key k; merge key-wise
            existing = _nested(base, k)
            merged = merge_maps(base, f"map({k}, to_json({merge_maps(existing, value)}))")
        # note: the raw `text` column is deliberately left intact when
        # the body becomes structured — get() prefers the map, and the
        # north rule's per-turn text equality audits the raw column
        return {self.root: f"CASE WHEN ({value}) IS NOT NULL THEN {merged} ELSE {tgt} END"}

    def _set_in_map(self, v: str, cols: dict[str, str] | None) -> dict[str, str]:
        tgt = self._base(cols, self.root)
        base = f"coalesce({tgt}, {EMPTY_MAP})"
        k = quote(self.keys[0])
        if len(self.keys) == 1:
            new = merge_maps(base, f"map({k}, {v})")
        elif len(self.keys) == 2:
            # deeper: maintain the JSON-encoded nested object at keys[0]
            nested = merge_maps(_nested(base, k), f"map({quote(self.keys[1])}, {v})")
            new = merge_maps(base, f"map({k}, to_json({nested}))")
        else:
            raise FieldParseError(f"set deeper than two levels not supported: {self}")
        return {self.root: f"CASE WHEN {v} IS NOT NULL THEN {new} ELSE {tgt} END"}

    # ---- DELETE ---------------------------------------------------

    def delete(
        self,
        cols: dict[str, str] | None = None,
        when: str = "true",
    ) -> dict[str, str]:
        """Updates deleting this field, gated on the Spark SQL
        condition ``when``. Whole-root deletion supported for all three
        roots (rootable_field.go:29-72)."""

        def gate(name: str, new: str) -> str:
            return f"CASE WHEN {when} THEN {new} ELSE {self._base(cols, name)} END"

        if self.root in TOP_LEVEL and not self.keys:
            name = TOP_LEVEL[self.root]
            return {name: gate(name, "NULL")}
        if not self.keys:
            out = {self.root: gate(self.root, f"CAST(NULL AS {MAP_SS_SQL})")}
            if self.root == "body":
                out["text"] = gate("text", "CAST(NULL AS STRING)")
            return out
        m = self._base(cols, self.root)
        k0 = quote(self.keys[0])
        if len(self.keys) == 1:
            return {self.root: gate(self.root, f"map_filter({m}, (k, v) -> k != {k0})")}
        if len(self.keys) == 2:
            nested = f"from_json(try_element_at({m}, {k0}), {quote(MAP_SS_SQL)})"
            pruned = f"to_json(map_filter({nested}, (k, v) -> k != {quote(self.keys[1])}))"
            spliced = f"map_concat(map_filter({m}, (k, v) -> k != {k0}), map({k0}, {pruned}))"
            new = f"CASE WHEN {nested} IS NOT NULL THEN {spliced} ELSE {m} END"
            return {self.root: gate(self.root, new)}
        raise FieldParseError(f"delete deeper than two levels not supported: {self}")


def _nested(m: str, k: str) -> str:
    """The JSON-encoded map stored at key ``k`` (SQL text) of map
    ``m``, empty when absent."""
    return f"coalesce(from_json(try_element_at({m}, {k}), {quote(MAP_SS_SQL)}), {EMPTY_MAP})"


def apply_updates(df: DataFrame, updates: dict[str, str]) -> DataFrame:
    """Apply a column-update dict of Spark SQL texts in one projection."""
    if not updates:
        return df
    return df.withColumns({name: F.expr(sql) for name, sql in updates.items()})
