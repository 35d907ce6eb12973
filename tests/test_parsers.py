"""Parser behavior tests mirroring the reference's Go test tables
(FIXTURES.md F1-F3; regex_test.go:84-164, json/csv/keyvalue/uri tests)."""

import pytest
from pyspark.sql import functions as F

import parser_reference as ref
from opentelemetry_log_collection_spark.fields import Field
from opentelemetry_log_collection_spark.operators.parsers import (
    _SYSLOG_SEVERITY,
    _SYSLOG_SEVERITY_TEXT,
    RegexParserStage,
    SyslogParserStage,
    onepass_map,
    pergroup_map,
)
from opentelemetry_log_collection_spark.pipeline import Pipeline
from conftest import make_entries, collected

K8S_REGEX = (
    r"^(?P<pod_name>[a-z0-9]([-a-z0-9]*[a-z0-9])?(\.[a-z0-9]([-a-z0-9]*[a-z0-9])?)*)_"
    r"(?P<namespace>[^_]+)_(?P<container_name>.+)-"
    r"(?P<container_id>[a-z0-9]{64})\.log$"
)
K8S_FILE = (
    "coredns-5644d7b6d9-mzngq_kube-system_coredns-"
    "901f7510281180a402936c92f5bc0f3557f5a21ccb5a4591c5bf98f3ddbffdd6.log"
)


def run1(df, *configs):
    return list(Pipeline.from_configs(list(configs)).run(df).values())[0]


#: the attributes make_entries seeds every row with (entry.to_entries)
BASE_ATTRS = {"role": "user", "tool": ""}


def merged(parsed):
    """Attributes after merging a parse result into BASE_ATTRS; a
    failed parse (None) leaves the row's attributes unchanged."""
    return {**BASE_ATTRS, **(parsed or {})}


def regex_attrs(spark, via, pattern, text):
    """The attributes parsed from ``text`` by the engine (``builtin``)
    or by the plain-Python reference."""
    if via == "reference":
        return ref.regex_parse(pattern, text)
    df = make_entries(spark, [text])
    out = run1(df, {"type": "regex_parser", "regex": pattern})
    [row] = collected(out, "attributes")
    assert row["attributes"] == merged(ref.regex_parse(pattern, text))
    return row["attributes"]


@pytest.mark.parametrize("via", ["builtin", "reference"])
def test_regex_root_string(spark, via):
    a = regex_attrs(spark, via, "a=(?P<a>.*)", "a=b")
    assert a["a"] == "b"


@pytest.mark.parametrize("via", ["builtin", "reference"])
def test_regex_k8s_filename(spark, via):
    """regex_test.go:122-140 — the k8s container-log filename case."""
    a = regex_attrs(spark, via, K8S_REGEX, K8S_FILE)
    assert a["pod_name"] == "coredns-5644d7b6d9-mzngq"
    assert a["namespace"] == "kube-system"
    assert a["container_name"] == "coredns"
    assert a["container_id"].startswith("901f7510")


def test_regex_nomatch_send_vs_drop(spark):
    """regex_test.go:60-65 — non-match error through on_error."""
    df = make_entries(spark, ["invalid", "test rest"])
    sent = run1(df, {"type": "regex_parser", "regex": "^(?P<key>test)", "on_error": "send"})
    rows = collected(sent, "text", "attributes")
    assert len(rows) == 2
    # failed row forwarded unmodified
    bad = [r for r in rows if r["text"] == "invalid"][0]
    assert "key" not in bad["attributes"]
    dropped = run1(df, {"type": "regex_parser", "regex": "^(?P<key>test)", "on_error": "drop"})
    rows = collected(dropped, "text")
    assert [r["text"] for r in rows] == ["test rest"]


def test_json_parser_flat_nested_and_errors(spark):
    texts = ['{"key":"val","int":1,"bool":true}', '{"a":{"b":"c"}}', "[1,2]", "notjson"]
    df = make_entries(spark, texts)
    out = run1(df, {"type": "json_parser", "on_error": "send"})
    rows = collected(out, "text", "attributes")
    assert [r["attributes"] for r in rows] == [
        merged(ref.json_parse(x)) for x in texts
    ]
    flat = rows[0]["attributes"]
    assert flat["key"] == "val" and flat["int"] == "1" and flat["bool"] == "true"
    assert rows[1]["attributes"]["a"] == '{"b":"c"}'  # nested JSON-encoded
    for bad in rows[2:]:
        assert "a" not in bad["attributes"] and "key" not in bad["attributes"]
    dropped = run1(df, {"type": "json_parser", "on_error": "drop"})
    assert dropped.count() == 2


def test_json_embedded_subparsers(spark):
    df = make_entries(spark, ['{"timestamp":"2020-01-01T00:00:00Z","sev":"error","msg":"x"}'])
    out = run1(
        df,
        {
            "type": "json_parser",
            "timestamp": {"parse_from": "attributes.timestamp", "layout": "%Y-%m-%dT%H:%M:%SZ"},
            "severity": {"parse_from": "attributes.sev"},
        },
    )
    [row] = collected(out, "ts", "severity", "severity_text")
    assert row["severity"] == 17 and row["severity_text"] == "error"
    assert row["ts"].year == 2020 and row["ts"].month == 1


def test_regex_impl_parity(spark):
    """onepass_map / pergroup_map / the plain-Python reference produce
    identical maps, including non-participating optional groups ('' like
    Go) and values containing the onepass separator (per-row
    fallback)."""
    texts = [
        "k1=a k2=b tail",
        "k1=x tail",            # optional group absent
        "k1=a\x01b k2=c rest",  # value contains the separator
        "no match here",
    ]
    pat = r"^k1=(?P<one>\S+)(?: k2=(?P<two>\S+))? (?P<rest>.*)$"
    df = make_entries(spark, texts)
    stage = RegexParserStage(regex=pat)
    src = f"CAST({stage.parse_from.sql()} AS STRING)"
    rows = collected(
        df.select(
            "conv_id", "turn_idx",
            F.expr(onepass_map(src, stage.pattern_java, stage.groups)).alias("onepass"),
            F.expr(pergroup_map(src, stage.pattern_java, stage.groups)).alias("pergroup"),
        ),
        "onepass", "pergroup",
    )
    onepass = [r["onepass"] for r in rows]
    pergroup = [r["pergroup"] for r in rows]
    reference = [ref.regex_parse(pat, x) for x in texts]
    assert onepass == pergroup == reference
    assert onepass[0]["one"] == "a" and onepass[0]["two"] == "b"
    assert onepass[1]["two"] == ""   # non-participating -> ""
    assert onepass[2]["one"] == "a\x01b"
    # the stage itself (onepass for this anchored pattern) end to end
    out = run1(df, {"type": "regex_parser", "regex": pat})
    assert [r["attributes"] for r in collected(out, "attributes")] == [
        merged(r) for r in reference
    ]


def test_regex_auto_impl_selection():
    """The pattern alone picks the strategy: onepass exactly when
    fully_anchored."""
    assert RegexParserStage(regex=r"^(?P<a>\d+)").extract is onepass_map
    assert RegexParserStage(regex=r"(?P<a>\d+)").extract is pergroup_map
    # top-level alternation: ^ binds only the first branch
    assert RegexParserStage(regex=r"^(?P<a>x)|y").extract is pergroup_map
    assert RegexParserStage(regex=r"^(?P<a>x|y)z").extract is onepass_map


def test_keyvalue_quote_aware_default(spark):
    """keyvalue.go:104-139 — whitespace pairs, quote-aware."""
    df = make_entries(spark, ['name="phil" age=22'])
    out = run1(df, {"type": "key_value_parser"})
    [row] = collected(out, "attributes")
    assert row["attributes"]["name"] == "phil"
    assert row["attributes"]["age"] == "22"


def test_keyvalue_custom_pair_delimiter(spark):
    df = make_entries(spark, ["a=1;b=2"])
    out = run1(df, {"type": "key_value_parser", "pair_delimiter": ";"})
    [row] = collected(out, "attributes")
    assert row["attributes"]["a"] == "1" and row["attributes"]["b"] == "2"


def test_keyvalue_malformed_pair_errors(spark):
    df = make_entries(spark, ["good=1 bad"])
    out = run1(df, {"type": "key_value_parser", "on_error": "drop"})
    assert out.count() == 0


def test_keyvalue_double_delimiter_errors(spark):
    """keyvalue.go:114-117 — strings.Split must yield exactly 2 items,
    so a=b=c (and a quoted value containing '=') is malformed."""
    for text in ["a=b=c", 'k="v=w"', "ok=1 a=b=c"]:
        df = make_entries(spark, [text])
        out = run1(df, {"type": "key_value_parser", "on_error": "drop"})
        assert out.count() == 0, text
    # on_error=send forwards the original entry untouched
    df = make_entries(spark, ["a=b=c"])
    out = run1(df, {"type": "key_value_parser", "on_error": "send"})
    [row] = collected(out, "attributes")
    assert "a" not in (row["attributes"] or {})


def test_keyvalue_empty_vs_no_pairs(spark):
    """keyvalue.go:105-107 — empty input errors; non-empty input with
    zero pairs parses to an empty map with no error. The engine and the
    plain-Python reference agree."""
    df = make_entries(spark, [""])
    out = run1(df, {"type": "key_value_parser", "on_error": "drop"})
    assert out.count() == 0
    df = make_entries(spark, [" "])
    out = run1(df, {"type": "key_value_parser", "on_error": "drop"})
    assert out.count() == 1
    assert ref.key_value_parse("") is None
    assert ref.key_value_parse(" ") == {}


def test_keyvalue_builtin_pandas_parity(spark):
    """The JVM quote-aware tokenizer agrees with the plain-Python
    reference on every case."""
    cases = ['name="phil" age=22', "a=1 b=2", 'q="x y" t=\'u v\'',
             "a=b=c", "", " ", "noeq", 'k= v=""']
    df = make_entries(spark, cases)
    out = run1(df, {"type": "key_value_parser"})
    got = [r["attributes"] for r in collected(out, "attributes")]
    assert got == [merged(ref.key_value_parse(x)) for x in cases]


def test_csv_multiline_continuation(spark):
    """csv.go:154-180 — a value containing newlines parses as ONE
    logical record: each subsequent line continues the previous line's
    last field joined with \\n. Builtin and strict (pandas) agree."""
    text = "aa,b\nb,cc,d\nd,ee"
    df = make_entries(spark, [text])
    expected = {"A": "aa", "B": "b\nb", "C": "cc", "D": "d\nd", "E": "ee"}
    for strict in (False, True):
        out = run1(df, {"type": "csv_parser", "header": "A,B,C,D,E",
                        "strict": strict})
        [row] = collected(out, "attributes")
        got = {k: v for k, v in row["attributes"].items() if k in expected}
        assert got == expected, strict
    # quoted embedded newline also stays in-field on both paths
    df2 = make_entries(spark, ['1,"x\ny",2'])
    for strict in (False, True):
        out = run1(df2, {"type": "csv_parser", "header": "a,b,c",
                         "strict": strict})
        [row] = collected(out, "attributes")
        assert row["attributes"]["b"] == "x\ny", strict


def test_csv_static_header_quotes_and_count(spark):
    """csv.go:132-199 — quoted field, wrong count is an error."""
    df = make_entries(spark, ['val1,val2,"quoted,val3"', "only,two"])
    out = run1(df, {"type": "csv_parser", "header": "h1,h2,h3", "on_error": "drop"})
    rows = collected(out, "attributes")
    assert len(rows) == 1
    a = rows[0]["attributes"]
    assert a["h1"] == "val1" and a["h3"] == "quoted,val3"


def test_csv_dynamic_header_attribute(spark):
    """csv.go:106-121 — header from an attribute per entry."""
    df = make_entries(spark, ["1,2"])
    out = run1(
        df,
        {"type": "add", "field": "attributes.hdr", "value": "a,b"},
        {"type": "csv_parser", "header_attribute": "hdr"},
    )
    [row] = collected(out, "attributes")
    assert row["attributes"]["a"] == "1" and row["attributes"]["b"] == "2"


def test_uri_parser_absolute_and_bare_query(spark):
    """uri.go:79-163."""
    df = make_entries(spark, ["https://user@host:443/path?q=a&q=b", "?x=1"])
    out = run1(df, {"type": "uri_parser"})
    rows = collected(out, "attributes")
    a = rows[0]["attributes"]
    assert a["scheme"] == "https" and a["user"] == "user"
    assert a["host"] == "host" and a["port"] == "443" and a["path"] == "/path"
    assert a["query"] == '{"q":["a","b"]}'
    assert rows[1]["attributes"]["query"] == '{"x":["1"]}'


def test_syslog_rfc3164_and_severity_table(spark):
    """syslog.go:144-157 + the fixed 0-7 severity table (:225-250)."""
    df = make_entries(spark, ["<34>Jan 12 06:30:00 1.2.3.4 apache_server: test message"])
    out = run1(df, {"type": "syslog_parser", "protocol": "rfc3164"})
    [row] = collected(out, "attributes", "severity", "severity_text")
    a = row["attributes"]
    assert a["priority"] == "34" and a["facility"] == "4"
    assert a["hostname"] == "1.2.3.4" and a["appname"] == "apache_server"
    assert a["message"] == "test message"
    assert "severity" not in a  # postprocess removed it
    assert row["severity"] == 18 and row["severity_text"] == "crit"  # pri%8==2


def test_syslog_rfc5424(spark):
    df = make_entries(
        spark,
        ['<165>1 2003-10-11T22:14:15.003Z mymachine.example.com evntslog 111 ID47 - An application event'],
    )
    out = run1(df, {"type": "syslog_parser", "protocol": "rfc5424"})
    [row] = collected(out, "attributes", "severity_text")
    a = row["attributes"]
    assert a["appname"] == "evntslog" and a["proc_id"] == "111"
    assert a["msg_id"] == "ID47" and a["version"] == "1"
    assert row["severity_text"] == "notice"  # 165 % 8 == 5


def test_trace_parser(spark):
    df = make_entries(spark, ['{"trace_id":"480140f3d770a5ae32f0a22b6a812cff","span_id":"92c3e67d"}'])
    out = run1(
        df,
        {"type": "json_parser", "parse_to": "body"},
        {"type": "trace_parser"},
    )
    [row] = collected(out, "trace_id", "span_id")
    assert row["trace_id"].hex() == "480140f3d770a5ae32f0a22b6a812cff"
    assert row["span_id"].hex() == "92c3e67d"


def test_scope_name_parser(spark):
    df = make_entries(spark, ["my.logger"])
    out = run1(df, {"type": "scope_name_parser", "parse_from": "body"})
    [row] = collected(out, "scope_name")
    assert row["scope_name"] == "my.logger"


# ---- JVM parser <-> plain-Python reference parity (syslog / uri) -----

_SYSLOG_CORPUS_3164 = [
    "<34>Jan 12 06:30:00 1.2.3.4 apache_server: test message",
    "<34>Jan  2 06:30:00 host-a svc[123]: padded day",
    "<0>Dec 31 23:59:59 - tagonly: dash hostname omitted",
    "<191>Feb  9 00:00:00 h t: ",
    "<7>Mar 15 12:00:00 box proc[9]:no space after colon",
    "not a syslog line at all",
    "<999x>Jan 12 06:30:00 h t: bad pri",
]

_SYSLOG_CORPUS_5424 = [
    "<165>1 2003-10-11T22:14:15.003Z mymachine evntslog 111 ID47 - An application event",
    "<34>1 2003-10-11T22:14:15Z host app - - [x@1 a=\"b\"] msg here",
    "<0>1 - - - - - -",
    "<191>1 2021-01-01T00:00:00+02:00 - app 1 m1 [a@1 k=\"v\"][b@2 j=\"w\"]",
    "<7>1 2003-10-11T22:14:15.003Z host app 1 m -",
    "garbage",
]


@pytest.mark.parametrize("protocol,corpus", [
    ("rfc3164", _SYSLOG_CORPUS_3164),
    ("rfc5424", _SYSLOG_CORPUS_5424),
])
def test_syslog_builtin_pandas_parity(spark, protocol, corpus):
    """The one-pass JVM parser agrees key-for-key with the plain-Python
    reference on every corpus line, including error rows
    (syslog.go:144-272): attributes after the postprocess, the fixed
    severity table, and the ts the default TimeParser derives from the
    reference's timestamp attribute."""
    df = make_entries(spark, corpus)
    out = run1(df, {"type": "syslog_parser", "protocol": protocol})
    got = collected(out, "attributes", "severity", "severity_text", "ts")
    refs = [ref.syslog_parse(x, protocol) for x in corpus]
    # expected ts: the stage's own default TimeParser over the
    # reference timestamp; rows it cannot parse keep their original ts
    [tp] = SyslogParserStage(protocol=protocol).subparsers
    tp.parse_from = Field.parse("body")
    ts_df = make_entries(spark, [(r or {}).get("timestamp") for r in refs])
    ts_df, _ = tp.embed_apply(ts_df, "true")
    want_ts = [r["ts"] for r in collected(ts_df, "ts")]
    for row, r, ts, line in zip(got, refs, want_ts, corpus):
        if r is None:
            assert row["attributes"] == BASE_ATTRS, line
            assert row["severity"] == 0 and row["severity_text"] is None, line
        else:
            sev = int(r["severity"])
            kept = {k: v for k, v in r.items() if k not in ("severity", "timestamp")}
            assert row["attributes"] == merged(kept), line
            assert row["severity"] == _SYSLOG_SEVERITY[sev], line
            assert row["severity_text"] == _SYSLOG_SEVERITY_TEXT[sev], line
        assert row["ts"] == ts, line


_URI_CORPUS = [
    "https://user:pw@host.example.com:8443/a/b?x=1&y=&z",
    "http://EXAMPLE.COM/path",
    "/api/v2/items?id=3&id=40",
    "/bare/path",
    "?only=query&only=2",
    "?",
    "https://h/p?a=%20b+c",
    "https://h/esc?k=a%2Fb",
    # mixed valid+invalid %-escapes: urllib partially decodes (valid
    # escapes decoded, lone/invalid % kept verbatim)
    "/p?k=%zz%20",
    "/p?bad=100%&ok=a%2Fb",
    "/p?trail=%",
    # port edges: leading zeros normalize, port 0 omitted,
    # out-of-range is a parse error on both paths
    "http://h:0080/x",
    "http://h:0/x",
    "http://h:99999/x",
    "http://h:123456789012345678901234567890/x",
]


def test_uri_builtin_pandas_parity(spark):
    """parse_url + array-algebra query JSON vs the urllib reference, per
    key (uri.go:99-163): scheme/host lowercased, user before ':',
    empties omitted, multi-valued query JSON with sorted keys."""
    df = make_entries(spark, _URI_CORPUS)
    out = run1(df, {"type": "uri_parser"})
    for row, line in zip(collected(out, "attributes"), _URI_CORPUS):
        assert row["attributes"] == merged(ref.uri_parse(line)), line


def test_uri_builtin_error_rows(spark):
    """Inputs neither the engine nor the reference can make sense of
    are errors (null parse); on_error=drop removes them."""
    texts = ["/ok?a=1", ""]
    df = make_entries(spark, texts)
    out = run1(df, {"type": "uri_parser", "on_error": "drop"})
    assert [r["text"] for r in collected(out, "text")] == ["/ok?a=1"]
    assert [x for x in texts if ref.uri_parse(x) is not None] == ["/ok?a=1"]
