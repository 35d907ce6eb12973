"""Parser operators (SURVEY.md section 2.4).

Shared contract, mirroring ParserOperator (operator/helper/parser.go:
90-189): read ``parse_from`` (default ``body``), produce a
``map<string,string>``, merge it into ``parse_to`` (default
``attributes``) with the reference's merge-overwrite semantics, then
run the embedded ``timestamp:``/``severity:``/``trace:``/
``scope_name:`` sub-parsers. A failed main parse leaves the row intact
(on_error=send forwards the *original* entry because the merge is
null-guarded); a failed sub-parse forwards the partially-parsed entry,
exactly like the reference checks errors only after all sub-parsers
ran (parser.go:171-184).

Execution strategy per parser (the Spark-first part). Every parser
builds JVM-side Catalyst expressions (no Python worker; whole-stage
codegen except ``from_json`` and the lambda functions, which are
``CodegenFallback`` and run interpreted), rendered as Spark SQL text in plain Python: the extraction,
the attribute-map refinement, the merge into ``parse_to``, the
embedded sub-parsers and the error flag are each applied with one
``F.expr`` per projected column. The one Column built otherwise is
CSV's per-row header path:
  - regex:     one ``regexp_replace`` execution per row (onepass_map)
               for fully ^-anchored patterns, else ``rlike`` + one
               ``regexp_extract`` per named group (pergroup_map). The
               pattern alone picks the strategy.
  - json:      builtin ``from_json(map<string,string>)``, outside
               whole-stage codegen; nested values stay as their JSON
               text, the canonical map<string,string> representation.
  - csv:       builtin ``from_csv`` for a static header (codegen);
               pandas UDF when the header comes from an attribute
               per row (csv.go:106-121) or strict field-count checking
               is requested — the UDF Column enters through the same
               ``_parsed_raw`` projection as every other parse.
  - key_value: builtin expression pipeline: split on ``pair_delimiter``,
               or the quote-aware whitespace tokenizer as one
               ``regexp_extract_all`` (keyvalue.go:130-139).
  - uri:       one RFC 3986 split regex (onepass_map), then string
               algebra for the authority parts and the multi-valued
               query JSON (uri.go:129-163).
  - syslog:    one-pass RFC3164/RFC5424 extraction (onepass_map), then
               priority arithmetic and the fixed priority->severity
               table (syslog.go:225-272).

The reference's per-input-string regex match cache
(operator/parser/regex/cache.go:25-209) is deliberately absent:
vectorized execution amortizes compilation, and a FIFO cache would be
a serialization point across executor threads.
"""

from __future__ import annotations

import re as _re

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..fields import (
    EMPTY_MAP,
    MAP_SS,
    MAP_SS_SQL,
    Field,
    apply_updates,
    ident,
    literal,
    quote,
)
from ..pipeline import ColumnStage, register
from .severity import SeverityParser
from .time_parser import TimeParser
from .trace_scope import ScopeNameParser, TraceParser


# --------------------------------------------------------------------
# shared one-pass JVM extraction machinery
# --------------------------------------------------------------------

_SEP = "\x01"


def fully_anchored(regex: str) -> bool:
    """^-anchored with no top-level alternation (in '^a|b' the anchor
    binds only the first branch) — the eligibility test for the
    one-pass regexp_replace extraction trick."""
    if not regex.startswith("^"):
        return False
    depth = 0
    in_class = False
    i = 0
    while i < len(regex):
        c = regex[i]
        if c == "\\":
            i += 2
            continue
        if in_class:
            if c == "]":
                in_class = False
        elif c == "[":
            in_class = True
        elif c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
        elif c == "|" and depth == 0:
            return False
        i += 1
    return True


#: match marker prepended to the rewritten line: a non-matching
#: regexp_replace returns its input UNCHANGED, so "starts with the
#: marker" detects the match without a second regex execution (rlike
#: costs as much as the replace itself — measured 1.45s each at 5M
#: rows / 32 cores). A pathological input that (a) starts with these
#: three control bytes AND (b) contains exactly group-count-1 \x01
#: bytes could spoof a match; log lines containing \x01\x02\x03
#: control bytes are outside every format this engine parses.
_MARK = "\x02\x03\x02"


def onepass_map(src: str, pattern_java: str, groups: dict[str, int]) -> str:
    """SINGLE regex execution per row: rewrite the whole line to
    marker + \\x01-joined groups, split, zip with names; null when the
    pattern did not match (no marker). The trailing ``(?s:.*)$``
    consumes the unmatched tail so nothing leaks into the last group.
    Rows where a group VALUE contains \\x01 (split count mismatch)
    fall back to guarded per-group extraction — branch evaluation is
    per-row, so the fallback costs nothing on the happy path.

    ``src`` and the result are Spark SQL text."""
    repl = _MARK + _SEP.join(f"${idx}" for idx in groups.values())
    blob = f"regexp_replace({src}, {quote(pattern_java + '(?s:.*)$')}, {quote(repl)})"
    parts = f"split(substr({blob}, {len(_MARK) + 1}), {quote(_SEP)}, -1)"
    names = ", ".join(quote(n) for n in groups)
    slow = pergroup_map(src, pattern_java, groups)
    mark = quote(_MARK)
    # spoof guard: a NON-matching line that itself begins with the
    # marker would leave blob == src, pass the startswith check, and
    # (with exactly g-1 \x01 bytes) fast-parse garbage. Any source row
    # already starting with the marker takes the rlike-guarded slow
    # path, where a non-match correctly nulls out.
    return (
        f"CASE WHEN startswith({src}, {mark}) THEN {slow}"
        f" WHEN NOT startswith({blob}, {mark}) THEN CAST(NULL AS {MAP_SS_SQL})"
        f" WHEN size({parts}) = {len(groups)} THEN map_from_arrays(array({names}), {parts})"
        f" ELSE {slow} END"
    )


def pergroup_map(src: str, pattern_java: str, groups: dict[str, int]) -> str:
    """``rlike`` match guard + one ``regexp_extract`` per named group
    (G+1 regex executions per row — Catalyst does not CSE the
    matcher); null when the pattern does not match. Correct for any
    pattern, anchored or not. ``src`` and the result are Spark SQL
    text."""
    pat = quote(pattern_java)
    entries = ", ".join(
        f"{quote(name)}, regexp_extract({src}, {pat}, {idx})"
        for name, idx in groups.items()
    )
    return f"CASE WHEN ({src} RLIKE {pat}) THEN map({entries}) END"


def _opt(k: str, v: str, cond: str) -> str:
    """Conditional singleton map: map_concat of these stays inside
    whole-stage codegen (higher-order filter / map_from_entries would
    fall back to interpreted eval — measured 2-3x slower at 5M rows)."""
    return f"CASE WHEN {cond} THEN map({quote(k)}, CAST({v} AS STRING)) ELSE {EMPTY_MAP} END"


def _get(raw: str, k: str) -> str:
    return f"try_element_at({raw}, {quote(k)})"


def strip_group_names(regex: str) -> str:
    """Java forbids '_' in group names; extraction is by index, so the
    Java-side pattern drops the names entirely."""
    return _re.sub(r"\(\?P<[^>]+>", "(", regex)


class ParserStage(ColumnStage):
    """Base for all parse_from/parse_to operators."""

    def __init__(
        self,
        parse_from: str = "body",
        parse_to: str = "attributes",
        timestamp: dict | None = None,
        severity: dict | None = None,
        trace: dict | None = None,
        scope_name: dict | None = None,
        **kw,
    ):
        super().__init__(**kw)
        self.parse_from = Field.parse(parse_from)
        self.parse_to = Field.parse(parse_to)
        self.subparsers = []
        if timestamp:
            self.subparsers.append(TimeParser(**timestamp))
        if severity:
            self.subparsers.append(SeverityParser(**severity))
        if trace:
            self.subparsers.append(TraceParser(**(trace or {})))
        if scope_name:
            self.subparsers.append(ScopeNameParser(**scope_name))

    def parse(self, src: str) -> str:
        """Spark SQL text of the map<string,string> parse of ``src``
        (also SQL text), null when the parse fails."""
        raise NotImplementedError

    def parsed_raw(self, src: str, guard: str) -> Column:
        """The ``_parsed_raw`` column: the parse of ``src`` on rows
        where the SQL text ``guard`` holds, null elsewhere."""
        return F.expr(f"CASE WHEN {guard} THEN {self.parse(src)} END")

    def refine(self, raw: str) -> str:
        """Second-projection hook: turn the raw extraction map (already
        MATERIALIZED as a column; ``raw`` is its Spark SQL text) into
        the Spark SQL text of the final attribute map. Default is
        identity. Parsers that derive many outputs from one regex
        extraction override this so the extraction subtree is
        evaluated once per row, not once per output key."""
        return raw

    def transform(self, df: DataFrame, cond: str):
        src = f"CAST({self.parse_from.sql()} AS STRING)"
        # materialize the parse result in its own projection first:
        # CSV's header_attribute/strict path is a pandas UDF, which
        # cannot be referenced inside the higher-order-function
        # lambdas the merge uses
        # (UNSUPPORTED_FEATURE.LAMBDA_FUNCTION_WITH_PYTHON_UDF)
        guard = f"({cond} AND {src} IS NOT NULL)"
        df = df.withColumn("_parsed_raw", self.parsed_raw(src, guard))
        df = apply_updates(df, {"_parsed": self.refine(ident("_parsed_raw"))}).drop("_parsed_raw")
        err = f"({src} IS NULL OR `_parsed` IS NULL)"
        df = apply_updates(df, self.parse_to.set_map("`_parsed`"))
        for sub in self.subparsers:
            df, sub_err = sub.embed_apply(df, cond)
            err = f"({err} OR coalesce({sub_err}, false))"
        # per-operator postprocess (ProcessWithCallback's callback) runs
        # after all sub-parsers, gated on main-parse success, while
        # _parsed is still in scope
        df = self.postprocess(df, f"({cond} AND `_parsed` IS NOT NULL)")
        # errors checked only after all sub-parsers ran (parser.go:171-184);
        # the drop filter runs here while _parsed is still in scope
        if self.on_error == "drop":
            df = df.filter(f"NOT ({cond} AND coalesce({err}, false))")
        return df.drop("_parsed"), None

    def postprocess(self, df: DataFrame, ok: str) -> DataFrame:
        """Hook for operators with a postprocess callback (syslog).
        ``ok`` = SQL text of stage cond AND the main parse succeeded."""
        return df


# --------------------------------------------------------------------
# regex_parser — operator/parser/regex/regex.go:43-146
# --------------------------------------------------------------------


@register("regex_parser")
class RegexParserStage(ParserStage):
    """Two JVM execution strategies, semantically identical; the
    pattern alone picks one:

      - ``onepass_map`` for fully ^-anchored patterns: ONE JVM regex
        execution per row via ``regexp_replace`` rewriting the line to
        its \\x01-joined capture groups; a marker prefix detects the
        match, so there is no separate rlike (1 pass vs G+1). Measured
        on the 8-group Tomcat pattern at 32 cores / 2M rows: 0.78s vs
        per-group 0.98s median end-to-end incl. scan — ~2x on the parse
        fraction, and the gap widens with group count (BENCH.md).
      - ``pergroup_map`` otherwise: rlike + one ``regexp_extract`` per
        group. Unanchored patterns need it, because the replace trick
        would fire on every match occurrence."""

    def __init__(self, regex: str, **kw):
        super().__init__(**kw)
        compiled = _re.compile(regex)
        if not compiled.groupindex:
            # build fails without named groups (regex.go:69-75)
            raise ValueError("regex pattern must contain named capture groups")
        self.groups = dict(compiled.groupindex)  # name -> group index
        self.pattern_java = strip_group_names(regex)
        # the replace trick needs the match pinned to the line start,
        # else regexp_replace rewrites EVERY occurrence
        self.extract = onepass_map if fully_anchored(regex) else pergroup_map

    def parse(self, src: str) -> str:
        return self.extract(src, self.pattern_java, self.groups)


# --------------------------------------------------------------------
# json_parser — operator/parser/json/json.go:41-82
# --------------------------------------------------------------------


@register("json_parser")
class JsonParserStage(ParserStage):
    """Builtin ``from_json(map<string,string>)``: flat values
    stringify, nested objects/arrays stay as their JSON text (exactly
    the canonical map representation, section 1.4), and non-object
    JSON nulls out = the reference's error path (json.go:70-82). Runs
    in the JVM but not inside whole-stage codegen: ``from_json``
    (``JsonToStructs``) is ``CodegenFallback`` in this Spark, so its
    projection is evaluated interpreted. Still measured 2x end-to-end
    on the flagship at 32 cores against an Arrow-batched Python
    parser, whose workers oversubscribe the box."""

    def parse(self, src: str) -> str:
        return f"from_json({src}, {quote(MAP_SS_SQL)})"


# --------------------------------------------------------------------
# csv_parser — operator/parser/csv/csv.go:43-200
# --------------------------------------------------------------------


@register("csv_parser")
class CsvParserStage(ParserStage):
    def __init__(
        self,
        header: str | None = None,
        header_attribute: str | None = None,
        delimiter: str = ",",
        lazy_quotes: bool = False,
        strict: bool = False,
        **kw,
    ):
        super().__init__(**kw)
        if (header is None) == (header_attribute is None):
            raise ValueError("exactly one of header / header_attribute required")
        if len(delimiter) != 1:
            raise ValueError("delimiter must be a single character (csv.go)")
        self.header = [h.strip() for h in header.split(delimiter)] if header else None
        self.header_attribute = header_attribute
        self.delimiter = delimiter
        self.lazy_quotes = lazy_quotes
        self.strict = strict

    def parse(self, src: str) -> str:
        # static header: whole-stage-codegen CSV decode
        schema = ", ".join(f"{ident(h)} string" for h in self.header)
        struct = f"from_csv({src}, {quote(schema)}, map('sep', {quote(self.delimiter)}))"
        # explicit nesting: the SQL parser builds a long AND chain as a
        # balanced tree, this keeps the left-deep one
        ok = f"{struct} IS NOT NULL"
        for h in self.header:
            ok = f"({ok} AND {struct}.{ident(h)} IS NOT NULL)"
        entries = ", ".join(f"{quote(h)}, {struct}.{ident(h)}" for h in self.header)
        return f"CASE WHEN {ok} THEN map({entries}) END"

    def parsed_raw(self, src: str, guard: str) -> Column:
        if self.header is not None and not self.strict:
            return super().parsed_raw(src, guard)
        delim = self.delimiter
        if self.header_attribute is not None:
            hdr = f"try_element_at(`attributes`, {quote(self.header_attribute)})"
        else:
            hdr = quote(delim.join(self.header))

        @F.pandas_udf(MAP_SS)
        def parse_csv(s: pd.Series, hdr: pd.Series) -> pd.Series:
            import csv as _csv
            import io as _io

            def one(x, h):
                if x is None or h is None:
                    return None
                cols = [c.strip() for c in h.split(delim)]
                try:
                    rows = [
                        r
                        for r in _csv.reader(_io.StringIO(x), delimiter=delim)
                        if r
                    ]
                except _csv.Error:
                    return None
                if not rows:
                    return None
                # multi-line continuation (csv.go:154-180): each
                # subsequent record continues the previous record's
                # last field, joined with "\n" (the builtin from_csv
                # path gets the same semantics natively — univocity
                # keeps unquoted newlines inside the record)
                joined = rows[0]
                for nxt in rows[1:]:
                    joined[-1] += "\n" + nxt[0]
                    joined.extend(nxt[1:])
                if len(joined) != len(cols):
                    # wrong field count is an error (csv.go:189-192)
                    return None
                return dict(zip(cols, joined))

            return pd.Series(
                [one(x, h) for x, h in zip(s, hdr)], index=s.index, dtype=object
            )

        return F.when(F.expr(guard), parse_csv(F.expr(src), F.expr(hdr)))


# --------------------------------------------------------------------
# key_value_parser — operator/parser/keyvalue/keyvalue.go:36-139
# --------------------------------------------------------------------

# quote-aware whitespace tokenizer. Space-only split (not \s):
# the reference's FieldsFunc splits on r == ' ' exclusively
# (keyvalue.go:130-139), so tabs ride inside tokens.
_QUOTE_AWARE_PAIR = _re.compile(r'(?:[^ "\']+|"[^"]*"|\'[^\']*\')+')


@register("key_value_parser")
class KeyValueParserStage(ParserStage):
    def __init__(
        self,
        delimiter: str = "=",
        pair_delimiter: str | None = None,
        **kw,
    ):
        super().__init__(**kw)
        if not delimiter:
            raise ValueError("delimiter must not be empty")
        self.delimiter = delimiter
        self.pair_delimiter = pair_delimiter

    @staticmethod
    def _trim(c: str) -> str:
        # strings.TrimSpace(strings.Trim(x, "\"'")) — strip ALL
        # leading/trailing quote chars FIRST, then whitespace
        # (keyvalue.go:122-123)
        lead, trail = quote("^[\"']+"), quote("[\"']+$")
        return f"trim(regexp_replace(regexp_replace({c}, {lead}, ''), {trail}, ''))"

    def parse(self, src: str) -> str:
        d = quote(self.delimiter)
        # empty input is a parse error (keyvalue.go:105-107); a
        # non-empty input with zero extractable pairs parses to an
        # empty map with no error, like the Go loop over zero pairs
        nonempty = f"({src} IS NOT NULL AND {src} != '')"
        if self.pair_delimiter is not None:
            # split pairs, Split-2 each
            pairs = f"split({src}, {quote(_re.escape(self.pair_delimiter))}, -1)"
        else:
            # quote-aware whitespace pair split (keyvalue.go:130-139):
            # tokenize with the quote-group regex, then exact-2 split
            # per pair
            pairs = f"regexp_extract_all({src}, {quote(_QUOTE_AWARE_PAIR.pattern)}, 0)"
        # strings.Split must yield exactly 2 items (keyvalue.go:114-117):
        # zero delimiters AND two-or-more delimiters (a=b=c, or a
        # quoted key/value containing the delimiter) are both malformed
        n = f"((length(p) - length(replace(p, {d}, ''))) / {len(self.delimiter)})"
        bad = f"exists({pairs}, p -> {n} != 1)"
        key = f"substring_index(p, {d}, 1)"
        value = f"substring(p, (length({key}) + {len(self.delimiter) + 1}), length(p))"
        entries = f"transform({pairs}, p -> struct({self._trim(key)} AS key, {self._trim(value)} AS value))"
        return f"CASE WHEN ({nonempty} AND NOT {bad}) THEN map_from_entries({entries}) END"


# --------------------------------------------------------------------
# uri_parser — operator/parser/uri/uri.go:36-163
# --------------------------------------------------------------------


#: RFC 3986 appendix-B split, constrained to urllib's scheme grammar
#: (a scheme must start with a letter, else the ':' belongs to the
#: path — urlsplit does the same check). onepass_map appends
#: ``(?s:.*)$`` which consumes the #fragment.
_URI_SPLIT = r"^(?:([A-Za-z][A-Za-z0-9+.\-]*):)?(?://([^/?#]*))?([^?#]*)(?:\?([^#]*))?"
_URI_GROUPS = {"scheme": 1, "authority": 2, "path": 3, "query": 4}


@register("uri_parser")
class UriParserStage(ParserStage):
    """ONE regex execution per row (the RFC 3986 appendix-B split —
    the same algorithm urlsplit uses — through the shared onepass
    machinery), then pure column algebra:
    userinfo/host/port carved out of the authority with substring
    arithmetic, and the multi-valued query map built as array ops —
    split on '&', url-decode each side, group values per key in
    appearance order, sort keys, ``to_json`` the
    map<string,array<string>>. This is the reference's
    map[string][]string JSON encoding
    (operator/parser/uri/uri.go:129-163) with zero Python in the hot
    path."""

    @staticmethod
    def _query_json(qs: str) -> str:
        """querystring -> JSON text of {key: [values...]} with sorted
        keys, parse_qs(keep_blank_values=True) semantics: tokens split
        on '&', empty tokens dropped, bare 'k' means k=''."""

        def dec(c: str) -> str:
            # urllib PARTIALLY decodes mixed tokens (valid escapes
            # decoded, invalid %-sequences kept verbatim), while
            # URLDecoder throws on the first invalid escape. Pre-escape
            # every % NOT followed by two hex digits to %25 — the
            # decode then round-trips it back to a literal '%' and
            # still decodes the valid escapes, matching urllib on
            # tokens like 'k=%zz%20'. try_ + coalesce stays as a belt
            # for non-UTF8 decode results.
            esc = f"regexp_replace({c}, {quote(r'%(?![0-9A-Fa-f]{2})')}, '%25')"
            return f"coalesce(try_url_decode({esc}), {c})"

        toks = f"filter(split({qs}, '&', -1), t -> t != '')"
        k = dec("substring_index(t, '=', 1)")
        v = dec("CASE WHEN instr(t, '=') > 0 THEN substr(t, instr(t, '=') + 1) ELSE '' END")
        pairs = f"transform({toks}, t -> struct({k} AS k, {v} AS v))"
        keys = f"array_sort(array_distinct(transform({pairs}, p -> p.k)))"
        values = f"transform(filter({pairs}, p -> p.k = q), p -> p.v)"
        entries = f"transform({keys}, q -> struct(q AS key, {values} AS value))"
        return f"to_json(map_from_entries({entries}))"

    def refine(self, raw: str) -> str:
        """Raw split map {scheme,authority,path,query}
        (or {bare_query}) -> final attribute map with empties omitted
        (uri.go:99-127) and the query JSON-encoded. urllib semantics:
        scheme/host lowercased, userinfo = authority before the LAST
        '@', username = userinfo before ':', port = trailing digits,
        IPv6 brackets stripped."""
        scheme, path, query = (_get(raw, k) for k in ("scheme", "path", "query"))
        auth = f"coalesce({_get(raw, 'authority')}, '')"
        hostpart = f"substring_index({auth}, '@', -1)"
        userinfo = (
            f"CASE WHEN instr({auth}, '@') > 0"
            f" THEN substring({auth}, 1, length({auth}) - length({hostpart}) - 1)"
            " ELSE '' END"
        )
        port = f"regexp_extract({hostpart}, {quote(r':([0-9]+)$')}, 1)"
        # urllib parity on port edges: int round-trip normalizes
        # leading zeros (:0080 -> 80), port 0 is falsy and omitted,
        # and out-of-range (>65535 or int-overflow) is a PARSE ERROR
        # (urllib's u.port raises ValueError)
        port_i = f"CASE WHEN {port} != '' THEN TRY_CAST({port} AS INT) END"
        bad_port = f"({port} != '' AND ({port_i} IS NULL OR {port_i} > 65535))"
        port_out = (
            f"CASE WHEN {port_i} IS NOT NULL AND {port_i} > 0"
            f" THEN CAST({port_i} AS STRING) ELSE '' END"
        )
        hostnoport = (
            f"CASE WHEN {port} != ''"
            f" THEN substring({hostpart}, 1, length({hostpart}) - length({port}) - 1)"
            f" ELSE {hostpart} END"
        )
        brackets = quote(r"^\[|\]$")  # IPv6 host brackets
        host = f"lower(regexp_replace({hostnoport}, {brackets}, ''))"
        user = f"substring_index({userinfo}, ':', 1)"
        full = "map_concat({})".format(", ".join([
            _opt("scheme", f"lower({scheme})", f"{scheme} != ''"),
            _opt("user", user, f"{user} != ''"),
            _opt("host", host, f"{host} != ''"),
            _opt("port", port_out, f"{port_out} != ''"),
            _opt("path", path, f"{path} != ''"),
            _opt("query", self._query_json(query), f"{query} != ''"),
        ]))
        bare = _get(raw, "bare_query")
        return (
            f"CASE WHEN {raw} IS NOT NULL THEN"
            f" CASE WHEN {bare} IS NOT NULL THEN map('query', {self._query_json(bare)})"
            f" ELSE CASE WHEN (NOT {bad_port} AND size({full}) > 0) THEN {full} END END"
            " END"
        )

    def parse(self, src: str) -> str:
        # bare query string (uri.go:79-97): '?...' carries ONLY the
        # query (even when empty); everything else takes the
        # single-regex RFC 3986 split
        return (
            f"CASE WHEN startswith({src}, '?') THEN map('bare_query', substr({src}, 2))"
            f" ELSE {onepass_map(src, _URI_SPLIT, _URI_GROUPS)} END"
        )


# --------------------------------------------------------------------
# syslog_parser — operator/parser/syslog/syslog.go:39-272
# --------------------------------------------------------------------

_RFC5424 = _re.compile(
    r"^<(?P<pri>\d{1,3})>(?P<version>\d{1,2}) "
    r"(?P<ts>\S+) (?P<hostname>\S+) (?P<appname>\S+) "
    r"(?P<proc_id>\S+) (?P<msg_id>\S+) "
    r"(?P<sd>-|(?:\[[^\]]*\])+)(?: (?P<message>.*))?$"
)

_RFC3164 = _re.compile(
    r"^<(?P<pri>\d{1,3})>(?P<ts>[A-Z][a-z]{2} [ \d]\d \d{2}:\d{2}:\d{2}) "
    r"(?P<hostname>\S+) (?P<tag>[^\[:\s]+)(?:\[(?P<proc_id>\d+)\])?:? ?"
    r"(?P<message>.*)$"
)

# fixed 0-7 priority table (syslog.go:225-250)
_SYSLOG_SEVERITY = [21, 19, 18, 17, 13, 10, 9, 5]
_SYSLOG_SEVERITY_TEXT = [
    "emerg", "alert", "crit", "err", "warning", "notice", "info", "debug",
]


#: named-group indexes for the onepass JVM extraction (match the
#: compiled groupindex of _RFC3164/_RFC5424 above)
_RFC3164_GROUPS = dict(_RFC3164.groupindex)
_RFC5424_GROUPS = dict(_RFC5424.groupindex)


@register("syslog_parser")
class SyslogParserStage(ParserStage):
    """RFC3164/5424 parse + the reference's postprocess: the parsed
    timestamp becomes the entry ``ts`` via a default embedded
    TimeParser on ``attributes.timestamp`` (syslog.go:61-66) and the
    helper attributes (severity, timestamp) are deleted afterwards
    (syslog.go:252-269). RFC3164 timestamps carry no year, so the
    default TimeParser runs missing-year inference against the
    injected reference clock ``now``; ``location`` configures the
    zone RFC3164 wall-clock stamps are interpreted in (SyslogBase's
    Location field, syslog.go Build; default UTC).

    Both RFC patterns are ^-anchored, so the shared one-pass JVM
    machinery (onepass_map) extracts all groups in ONE regex execution
    inside whole-stage codegen, and the attribute map (priority
    arithmetic + NILVALUE omission) is pure column algebra in a second
    projection (``refine``). No Python worker in the hot path."""

    def __init__(
        self,
        protocol: str = "rfc3164",
        now: str | None = None,
        location: str = "UTC",
        **kw,
    ):
        from .time_parser import DEFAULT_NOW, TimeParser

        has_user_ts = kw.get("timestamp") is not None
        super().__init__(**kw)
        if protocol not in ("rfc3164", "rfc5424"):
            raise ValueError(f"unsupported protocol {protocol!r}")
        self.protocol = protocol
        if not has_user_ts:
            # default wiring: parse attributes.timestamp into ts
            # (syslog.go:61-66 builds a native TimeParser when the
            # config carries none)
            if protocol == "rfc3164":
                # "Jan 2 15:04:05" — no year; strptime + inference.
                # The parse normalizes the space-padded day, so
                # %e ("d") matches single- and double-digit days.
                tp = TimeParser(
                    "attributes.timestamp",
                    layout="%b %e %H:%M:%S",
                    layout_type="strptime",
                    now=now or DEFAULT_NOW,
                    location=location,
                )
            else:
                # RFC5424 ts is ISO8601 — native cast handles it
                tp = TimeParser("attributes.timestamp", layout_type="native")
            self.subparsers.append(tp)

    def parse(self, src: str) -> str:
        if self.protocol == "rfc5424":
            rx, groups = _RFC5424, _RFC5424_GROUPS
        else:
            rx, groups = _RFC3164, _RFC3164_GROUPS
        return onepass_map(src, strip_group_names(rx.pattern), groups)

    def refine(self, raw: str) -> str:
        """Raw extraction map (one column read per key — the
        extraction itself already ran once) -> final attribute map with
        priority arithmetic and NILVALUE/absent-key omission, mirroring
        syslog.go's toSafeMap. Null raw (failed parse / skipped row)
        stays null."""

        def g(k: str) -> str:
            return _get(raw, k)

        def unless(k: str, v: str, nil: str = "-") -> str:
            # the key is omitted when its value is the NILVALUE
            return _opt(k, v, f"{v} != {quote(nil)}")

        pri = f"CAST({g('pri')} AS INT)"
        always = (
            # int round-trip strips leading zeros like str(int(x))
            f"map('priority', CAST({pri} AS STRING),"
            f" 'facility', CAST(CAST(floor({pri} / 8) AS INT) AS STRING),"
            f" 'severity', CAST({pri} % 8 AS STRING),"
            f" 'message', coalesce({g('message')}, ''))"
        )
        parts = [always, unless("hostname", g("hostname"))]
        if self.protocol == "rfc5424":
            parts.append(unless("timestamp", g("ts")))
            parts.append(_opt("version", g("version"), "true"))
            parts += [unless(k, g(k)) for k in ("appname", "proc_id", "msg_id")]
            parts.append(unless("structured_data", g("sd")))
        else:
            # normalize the RFC3164 space-padded day ("Jan  2") so the
            # default TimeParser's "MMM d" layout parses it; the
            # attribute is deleted at postprocess anyway
            ws = quote(r"\s+")
            ts = f"regexp_replace({g('ts')}, {ws}, ' ')"
            parts.append(_opt("timestamp", ts, "true"))
            parts.append(_opt("appname", g("tag"), "true"))
            # optional group: Java substitutes "" when non-participating
            parts.append(unless("proc_id", g("proc_id"), ""))
        return f"CASE WHEN {raw} IS NOT NULL THEN map_concat({', '.join(parts)}) END"

    def postprocess(self, df: DataFrame, ok: str) -> DataFrame:
        # postprocess (syslog.go:252-269): attributes.severity (0-7)
        # -> entry severity via the fixed table, then delete the
        # helper attributes (severity AND timestamp); runs only when
        # the main parse succeeded, like ProcessWithCallback
        sev_raw = "TRY_CAST(try_element_at(`attributes`, 'severity') AS INT)"
        sev_key = f"CAST({sev_raw} AS STRING)"
        ok_sev = f"({ok} AND {sev_raw} IS NOT NULL)"

        def table(values: list) -> str:
            entries = ", ".join(f"'{i}', {literal(v)}" for i, v in enumerate(values))
            return f"try_element_at(map({entries}), {sev_key})"

        return apply_updates(df, {
            "severity": f"CASE WHEN {ok_sev} THEN {table(_SYSLOG_SEVERITY)} ELSE `severity` END",
            "severity_text": f"CASE WHEN {ok_sev} THEN {table(_SYSLOG_SEVERITY_TEXT)}"
            " ELSE `severity_text` END",
            "attributes": f"CASE WHEN {ok} THEN map_filter(`attributes`,"
            " (k, v) -> (k != 'severity' AND k != 'timestamp')) ELSE `attributes` END",
        })
