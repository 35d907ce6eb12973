"""time_parser — strptime/gotime/epoch/native timestamp parsing.

Rebuilds operator/parser/time/time.go + operator/helper/time.go:42-296
Spark-first: the strptime (ctimefmt) layout is translated ONCE at plan
time to a Java DateTimeFormatter pattern — the same move the reference
makes translating ctimefmt->Go layout at build (time.go:80-85) — and
rows are parsed with builtin ``try_to_timestamp`` inside codegen.
Epoch layouts (s, ms, us, ns, s.ms, s.us, s.ns; time.go:206-266)
become pure arithmetic on try_cast'ed numerics.

Missing-year inference (time.go:280-292): layouts without a year parse
to year 1970 in Java; we rewrite the year to the *injected* reference
clock's year, then subtract a year when the result lands more than 7
days in the future. The reference uses time.Now() — we require an
explicit ``now`` so runs are deterministic and resumable (SURVEY.md
section 7.3 determinism-at-scale).
"""

from __future__ import annotations

import datetime as _dt

from pyspark.sql import DataFrame

from ..fields import Field, apply_updates, literal, quote
from ..pipeline import ColumnStage, register

#: strptime -> Java DateTimeFormatter, after ctimefmt
#: (the reference's table lives in the observiq/ctimefmt dependency)
_STRPTIME_TO_JAVA = {
    "%Y": "yyyy", "%y": "yy",
    "%m": "MM", "%o": "M", "%q": "M",
    "%b": "MMM", "%h": "MMM", "%B": "MMMM",
    "%d": "dd", "%e": "d", "%g": "d",
    "%a": "EEE", "%A": "EEEE",
    "%H": "HH", "%l": "h", "%I": "hh",
    "%p": "a", "%P": "a",
    "%M": "mm", "%S": "ss",
    "%L": "SSS", "%f": "SSSSSS", "%s": "SSSSSSSSS",
    "%Z": "zzz", "%z": "Z",
    "%i": "XXX", "%j": "XX", "%k": "X",
    "%D": "MM/dd/yyyy", "%F": "yyyy-MM-dd",
    "%T": "HH:mm:ss", "%r": "hh:mm:ss a",
    "%n": "\n", "%t": "\t", "%%": "%",
}

_EPOCH_LAYOUTS = ("s", "ms", "us", "ns", "s.ms", "s.us", "s.ns")

DEFAULT_NOW = "2024-06-01T00:00:00+00:00"

_DOT = r"\."


def _quote_alpha_runs(s: str) -> str:
    """Quote MAXIMAL alphabetic runs for a Java DateTimeFormatter
    pattern (all letters are reserved). Per-char quoting is wrong for
    adjacent literals: 'U''T''C' reads as U-'-T-'-C because Java
    treats '' inside text as an escaped quote — 'UTC' must be ONE
    quoted run. Literal single quotes escape to ''."""
    out: list[str] = []
    i, n = 0, len(s)
    while i < n:
        c = s[i]
        if c.isalpha():
            j = i
            while j < n and s[j].isalpha():
                j += 1
            out.append("'" + s[i:j] + "'")
            i = j
        elif c == "'":
            out.append("''")
            i += 1
        else:
            out.append(c)
            i += 1
    return "".join(out)


def strptime_to_java(layout: str) -> str:
    # segment into (is_token, text) first so literal runs can be
    # quoted maximally — see _quote_alpha_runs
    segs: list[tuple[bool, str]] = []
    i = 0
    while i < len(layout):
        if layout[i] == "%" and i + 1 < len(layout):
            tok = layout[i : i + 2]
            if tok in _STRPTIME_TO_JAVA:
                segs.append((True, _STRPTIME_TO_JAVA[tok]))
                i += 2
                continue
            raise ValueError(f"unsupported strptime directive {tok!r}")
        segs.append((False, layout[i]))
        i += 1
    out: list[str] = []
    lit: list[str] = []
    for is_tok, text in segs:
        if is_tok:
            if lit:
                out.append(_quote_alpha_runs("".join(lit)))
                lit.clear()
            out.append(text)
        else:
            lit.append(text)
    if lit:
        out.append(_quote_alpha_runs("".join(lit)))
    return "".join(out)


class TimeParser:
    """Embeddable sub-parser; also the standalone operator's engine."""

    def __init__(
        self,
        parse_from: str,
        layout: str = "",
        layout_type: str = "strptime",
        now: str = DEFAULT_NOW,
        location: str = "UTC",
    ):
        self.parse_from = Field.parse(parse_from)
        self.layout_type = layout_type
        self.layout = layout
        self.now = _dt.datetime.fromisoformat(now)
        # location semantics (time.go:56-66,180): a layout WITHOUT a
        # zone directive is interpreted in `location` (default UTC),
        # i.e. ParseInLocation. Layouts that parse a zone/offset carry
        # their own and ignore location.
        self.location = location
        if layout_type == "strptime":
            self.java_layout = strptime_to_java(layout)
            self.has_year = any(t in layout for t in ("%Y", "%y", "%D", "%F"))
            self.has_zone = any(
                t in layout for t in ("%z", "%Z", "%i", "%j", "%k")
            )
        elif layout_type == "gotime":
            self.java_layout = _gotime_to_java(layout)
            self.has_year = "2006" in layout or "06" in layout
            self.has_zone = any(
                t in layout for t in ("-07", "Z07", "MST", "-0700")
            )
        elif layout_type == "epoch":
            if layout not in _EPOCH_LAYOUTS:
                raise ValueError(f"invalid epoch layout {layout!r}")
            self.has_year = True
            self.has_zone = True  # epoch is absolute
        elif layout_type == "native":
            self.has_year = True
            self.has_zone = True  # native strings carry their own offset
        else:
            raise ValueError(f"unsupported layout_type {layout_type!r}")

    def _parse_col(self, src: str) -> str:
        """Spark SQL text of the timestamp parsed from the string
        ``src`` (also SQL text); null when it does not parse."""
        lt = self.layout_type
        if lt == "native":
            return f"TRY_CAST({src} AS TIMESTAMP)"
        if lt == "epoch":
            lay = self.layout
            if lay in ("s.ms", "s.us", "s.ns"):
                # exact integer split semantics (time.go:219-229):
                # strings.Split on '.', ParseInt both sides — NEVER a
                # float path (double loses microseconds above 2^53 ns)
                parts = f"split({src}, {quote(_DOT)}, -1)"
                sec = f"TRY_CAST(try_element_at({parts}, 1) AS BIGINT)"
                sub = f"TRY_CAST(try_element_at({parts}, 2) AS BIGINT)"
                to_us = {"s.ms": 1000, "s.us": 1, "s.ns": None}[lay]
                if to_us is None:
                    # ns -> us via exact decimal integer division
                    sub_us = f"CAST(floor(CAST({sub} AS DECIMAL(30,0)) / 1000) AS BIGINT)"
                else:
                    sub_us = f"({sub} * {to_us})"
                ok = f"((size({parts}) = 2 AND {sec} IS NOT NULL) AND {sub} IS NOT NULL)"
                return f"CASE WHEN {ok} THEN timestamp_micros((({sec} * 1000000) + {sub_us})) END"
            n = f"TRY_CAST({src} AS BIGINT)"  # ParseInt: fractions invalid
            if lay == "s":
                return f"timestamp_seconds({n})"
            if lay == "ms":
                return f"timestamp_millis({n})"
            if lay == "us":
                return f"timestamp_micros({n})"
            # ns: exact integer division (a double round-trip loses
            # precision above 2^53 ns ~ 104 days)
            return f"timestamp_micros(CAST(floor(CAST({n} AS DECIMAL(30,0)) / 1000) AS BIGINT))"
        ts = f"try_to_timestamp({src}, {quote(self.java_layout)})"
        if not self.has_year:
            # year inference vs the injected reference clock
            now = literal(self.now)
            with_year = (
                f"make_timestamp({self.now.year}, month({ts}), day({ts}),"
                f" hour({ts}), minute({ts}), CAST(second({ts}) AS DOUBLE))"
            )
            too_far = f"{with_year} > ({now} + INTERVAL 7 DAYS)"
            ts = f"CASE WHEN {too_far} THEN ({with_year} - INTERVAL 1 YEAR) ELSE {with_year} END"
        if not self.has_zone and self.location != "UTC":
            # ParseInLocation: the naive wall-clock reading (session tz
            # is UTC) re-interpreted as `location` local time
            ts = f"to_utc_timestamp({ts}, {quote(self.location)})"
        return ts

    def embed_apply(self, df: DataFrame, cond: str) -> tuple[DataFrame, str]:
        src = f"CAST({self.parse_from.sql()} AS STRING)"
        parsed = self._parse_col(src)
        df = apply_updates(df, {
            "ts": f"CASE WHEN ({cond} AND ({parsed}) IS NOT NULL) THEN {parsed} ELSE `ts` END",
        })
        return df, f"({src} IS NULL OR ({parsed}) IS NULL)"


def _gotime_to_java(layout: str) -> str:
    """Best-effort Go reference-time layout -> Java pattern for the
    common tokens (full gotime is exotic; strptime is the primary
    path). ``.9``-family fractions are OPTIONAL in Go (trailing zeros
    stripped) — they map to Spark's bracketed optional sections, so
    the k8s layout ``2006-01-02T15:04:05.999999999Z`` parses inputs
    with and without a fraction (operator/helper/time_test.go:278)."""
    subs = [
        ("2006", "yyyy"), ("01", "MM"), ("02", "dd"), ("15", "HH"),
        ("04", "mm"), ("05", "ss"),
        (".000000000", ".SSSSSSSSS"), (".000000", ".SSSSSS"), (".000", ".SSS"),
        (".999999999", "[.SSSSSSSSS]"), (".999999", "[.SSSSSS]"),
        (".999", "[.SSS]"),
        ("Jan", "MMM"), ("Monday", "EEEE"), ("Mon", "EEE"),
        ("-07:00", "XXX"), ("-0700", "Z"), ("Z07:00", "XXX"), ("MST", "zzz"),
        ("PM", "a"), ("06", "yy"), ("03", "hh"), ("3", "h"), ("2", "d"),
    ]
    # two-phase: substitute go tokens to placeholders, quote leftover
    # alphabetic literals (Java patterns reserve all letters — a bare
    # 'T'/'Z' must become 'T'), then drop in the Java tokens
    out = layout
    repl: dict[str, str] = {}
    for i, (go, java) in enumerate(subs):
        # private-use-area placeholder: no digits (digit-containing go
        # tokens would rewrite digit placeholders), not alphabetic
        ph = chr(0xE000 + i)
        out = out.replace(go, ph)
        repl[ph] = java
    out = _quote_alpha_runs(out)
    for ph, java in repl.items():
        out = out.replace(ph, java)
    return out


@register("time_parser")
class TimeParserStage(ColumnStage):
    """Standalone operator (operator/parser/time/time.go:30-71)."""

    def __init__(
        self,
        parse_from: str = "body",
        layout: str = "",
        layout_type: str = "strptime",
        now: str = DEFAULT_NOW,
        location: str = "UTC",
        **kw,
    ):
        super().__init__(**kw)
        self.parser = TimeParser(parse_from, layout, layout_type, now, location)

    def transform(self, df: DataFrame, cond: str):
        return self.parser.embed_apply(df, cond)
