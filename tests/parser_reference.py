"""Plain-Python reference parsers: per-string oracles for the parity
tests.

Each function maps ONE input string to what the engine's Spark
expression must produce for it (``None`` = parse error), written as
the direct Python reading of the reference operator (Go source cited
per function). The tests run the engine over a corpus and compare
with ``[ref(x) for x in corpus]``; nothing here runs inside Spark.
"""

from __future__ import annotations

import json as _json
import re as _re
from urllib.parse import parse_qs, urlsplit

from opentelemetry_log_collection_spark.operators.parsers import (
    _QUOTE_AWARE_PAIR,
    _RFC3164,
    _RFC5424,
)
from opentelemetry_log_collection_spark.textops import _LANG_PROFILES


def regex_parse(pattern: str, x: str | None) -> dict | None:
    """regex_parser (operator/parser/regex/regex.go:110-146)."""
    if x is None:
        return None
    rx = _re.compile(pattern)
    m = rx.search(x)
    if m is None:
        return None  # non-match is an error (regex.go:124-126)
    # non-participating groups parse to "" like Go's matches[i] for an
    # optional group
    return {k: m.group(k) or "" for k in rx.groupindex}


def json_parse(x: str | None) -> dict | None:
    """json_parser (operator/parser/json/json.go:41-82). Nested values
    are re-encoded compactly with sorted keys; on inputs whose nested
    values are already compact and key-sorted this is byte-identical
    to Spark's ``from_json(map<string,string>)``."""
    if x is None:
        return None
    try:
        obj = _json.loads(x)
    except (ValueError, TypeError):
        return None
    if not isinstance(obj, dict):
        # non-map JSON is a parse error (json.go:70-82)
        return None
    return {
        str(k): v
        if isinstance(v, str)
        else _json.dumps(v, separators=(",", ":"), sort_keys=True)
        for k, v in obj.items()
    }


def key_value_parse(x: str | None, delimiter: str = "=") -> dict | None:
    """key_value_parser with the default quote-aware whitespace pair
    split (operator/parser/keyvalue/keyvalue.go:104-139)."""

    def trim(s: str) -> str:
        # Trim(x, "\"'") then TrimSpace, same as the Go cleanup
        return s.strip("\"'").strip()

    if x is None or x == "":
        return None
    out = {}
    for pair in _QUOTE_AWARE_PAIR.findall(x):
        parts = pair.split(delimiter)
        if len(parts) != 2:
            return None  # malformed pair -> parse error
        out[trim(parts[0])] = trim(parts[1])
    return out


def _query_json(q: str) -> str:
    parsed = parse_qs(q, keep_blank_values=True)
    # ensure_ascii=False: the canonical query JSON carries raw UTF-8
    # (the same bytes Spark's to_json emits)
    return _json.dumps(
        parsed, separators=(",", ":"), sort_keys=True, ensure_ascii=False
    )


def uri_parse(x: str | None) -> dict | None:
    """uri_parser over urllib (operator/parser/uri/uri.go:79-163)."""
    if x is None:
        return None
    try:
        # bare query string (uri.go:79-97)
        if x.startswith("?"):
            return {"query": _query_json(x[1:])}
        u = urlsplit(x)
        # u.port raises ValueError for out-of-range ports (e.g. :99999)
        # — inside the try so a bad port is a parse error
        port = u.port
    except ValueError:
        return None
    out = {}
    # empties omitted (uri.go:99-127)
    if u.scheme:
        out["scheme"] = u.scheme
    if u.username:
        out["user"] = u.username
    if u.hostname:
        out["host"] = u.hostname
    if port:
        out["port"] = str(port)
    if u.path:
        out["path"] = u.path
    if u.query:
        out["query"] = _query_json(u.query)
    return out or None


def syslog_parse(x: str | None, protocol: str) -> dict | None:
    """syslog_parser's attribute map BEFORE the postprocess deletes
    ``severity`` and ``timestamp`` (operator/parser/syslog/syslog.go:
    144-223)."""
    if x is None:
        return None
    rx = _RFC5424 if protocol == "rfc5424" else _RFC3164
    m = rx.match(x)
    if m is None:
        return None
    pri = int(m.group("pri"))
    out = {
        "priority": str(pri),
        "facility": str(pri // 8),
        "severity": str(pri % 8),
        "hostname": m.group("hostname"),
        "message": m.group("message") or "",
        # normalize the RFC3164 space-padded day ("Jan  2") so the
        # default TimeParser's "MMM d" layout parses it; the attribute
        # is deleted at postprocess anyway
        "timestamp": " ".join(m.group("ts").split()),
    }
    if protocol == "rfc5424" and m.group("ts") == "-":
        del out["timestamp"]  # NILVALUE ts -> absent (toSafeMap)
    if protocol == "rfc5424":
        out["version"] = m.group("version")
        for k in ("appname", "proc_id", "msg_id"):
            v = m.group(k)
            if v != "-":
                out[k] = v
        sd = m.group("sd")
        if sd != "-":
            out["structured_data"] = sd
    else:
        out["appname"] = m.group("tag")
        if m.group("proc_id"):
            out["proc_id"] = m.group("proc_id")
    # '-' hostname means nil in rfc5424
    if out.get("hostname") == "-":
        del out["hostname"]
    return out


def lang_guess(x: str | None) -> str:
    """argmax over per-language trigram hit counts; 'und' when no
    profile scores."""
    if not x:
        return "und"
    low = x.lower()
    best, best_score = "und", 0
    for lang, grams in _LANG_PROFILES.items():
        score = sum(low.count(g) for g in grams)
        if score > best_score:
            best, best_score = lang, score
    return best
