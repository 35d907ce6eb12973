"""YAML config golden tests — the engine's analogue of the
reference's operatortest.ConfigUnmarshalTest corpus
(operator/helper/operatortest/operatortest.go:31-89): every fixture in
tests/golden/ is adapted from a reference testdata YAML (cited in each
file) and must (a) build into the expected compiled stage and (b) for
pipeline fixtures, run end-to-end with the reference's semantics.
"""

from __future__ import annotations

import pathlib

import pytest
import yaml

from opentelemetry_log_collection_spark.operators.parsers import (
    KeyValueParserStage,
    RegexParserStage,
)
from opentelemetry_log_collection_spark.operators.recombine import RecombineStage
from opentelemetry_log_collection_spark.operators.transforms import AddStage
from opentelemetry_log_collection_spark.pipeline import Pipeline, build_stage

from conftest import collected, make_entries

GOLDEN = pathlib.Path(__file__).parent / "golden"


def load(name: str):
    return yaml.safe_load((GOLDEN / name).read_text())


# ---- config-unmarshal goldens ---------------------------------------


def test_golden_regex_default():
    s = build_stage(load("regex.yaml"))
    assert isinstance(s, RegexParserStage)
    assert list(s.groups) == ["host", "type"]
    assert str(s.parse_from) == "body" and str(s.parse_to) == "attributes"
    assert s.on_error == "send"


def test_golden_regex_severity():
    s = build_stage(load("regex_severity.yaml"))
    [sev] = s.subparsers
    # 2xx/5xx compile to [lo,hi] range predicates at plan time (the
    # engine's janino-friendly form of the reference's 100-key literal
    # expansion, operator/helper/severity_builder.go:223-260)
    assert (500, 599, 21) in sev.ranges  # fatal
    assert (400, 499, 17) in sev.ranges  # error
    assert (200, 299, 5) in sev.ranges   # debug
    assert str(sev.parse_from) == "attributes.severity_field"


def test_golden_regex_timestamp():
    s = build_stage(load("regex_timestamp.yaml"))
    [tp] = s.subparsers
    assert tp.layout_type == "strptime"
    assert tp.java_layout == "yyyy-MM-dd"


def test_golden_regex_on_error_drop():
    s = build_stage(load("regex_on_error_drop.yaml"))
    assert s.on_error == "drop"


def test_golden_kv():
    s = build_stage(load("kv_delimiter.yaml"))
    assert isinstance(s, KeyValueParserStage)
    assert s.delimiter == ";" and s.pair_delimiter is None
    s2 = build_stage(load("kv_pair_delimiter.yaml"))
    assert s2.delimiter == "=" and s2.pair_delimiter == "|"


def test_golden_add_expr():
    s = build_stage(load("add_expr.yaml"))
    assert isinstance(s, AddStage)
    assert str(s.field) == "attributes.new"


def test_golden_recombine_tab():
    s = build_stage(load("recombine_tab.yaml"))
    assert isinstance(s, RecombineStage)
    assert s.combine_with == "\t"
    assert s.overwrite_with == "oldest"  # default (recombine.go)


def test_golden_unknown_type_rejected():
    with pytest.raises(ValueError):
        build_stage({"type": "no_such_operator"})


# ---- pipeline behavior goldens --------------------------------------


def test_golden_routes_multi_runs(spark):
    p = Pipeline.from_yaml((GOLDEN / "routes_multi.yaml").read_text())
    df = make_entries(
        spark,
        ['{"event":"x"}', "user=\"u1\" action=click", "plain line"],
    )
    results = p.run(df)
    assert set(results) == {"json_sink", "kv_sink", "catchall_sink"}
    [j] = collected(results["json_sink"], "attributes")
    assert j["attributes"]["event"] == "x"
    assert j["attributes"]["fmt"] == "json"  # route attribute stamping
    [k] = collected(results["kv_sink"], "attributes")
    assert k["attributes"]["action"] == "click"
    assert "fmt" not in k["attributes"]
    [c] = collected(results["catchall_sink"], "text")
    assert c["text"] == "plain line"


def test_golden_linear_if_runs(spark):
    """Implicit linear wiring + reference `if:` spelling: the json
    parse applies only to JSON rows, the add applies to all rows."""
    p = Pipeline.from_yaml((GOLDEN / "linear_if.yaml").read_text())
    df = make_entries(spark, ['{"a":"1"}', "not json"])
    results = p.run(df)
    [sink] = results.values()
    rows = collected(sink, "attributes")
    assert rows[0]["attributes"]["a"] == "1"
    assert all(r["attributes"]["env"] == "prod" for r in rows)
    assert "a" not in rows[1]["attributes"]


def test_golden_recombine_tab_runs(spark):
    p = Pipeline.from_configs([load("recombine_tab.yaml")])
    df = make_entries(spark, [("a", "user"), ("b", "system")])
    out = next(iter(p.run(df).values()))
    assert [r["text"] for r in collected(out, "text")] == ["a\tb"]


# ---- round-3 corpus: csv / uri / syslog / time / severity /
# flatten / retain / filter ------------------------------------------


def test_golden_csv_basic():
    s = build_stage(load("csv_basic.yaml"))
    assert s.header == ["id", "severity", "message"]
    assert s.delimiter == "," and s.header_attribute is None
    assert str(s.parse_from) == "attributes.message"


def test_golden_csv_header_attribute():
    s = build_stage(load("csv_header_attribute.yaml"))
    assert s.header is None and s.header_attribute == "header_field"
    assert s.delimiter == "\t"


def test_golden_uri_parse_from():
    s = build_stage(load("uri_parse_from.yaml"))
    assert str(s.parse_from) == "body.from"


def test_golden_syslog_rfc5424():
    s = build_stage(load("syslog_rfc5424.yaml"))
    assert s.protocol == "rfc5424" and s.on_error == "send"
    # default wiring: a native TimeParser on attributes.timestamp
    [tp] = s.subparsers
    assert tp.layout_type == "native"
    assert str(tp.parse_from) == "attributes.timestamp"


def test_golden_time_gotime():
    s = build_stage(load("time_gotime.yaml"))
    assert s.parser.layout_type == "gotime"
    assert s.parser.java_layout == "yyyy-MM-dd'T'HH:mm:ss[.SSSSSSSSS]XXX"
    assert s.parser.has_year and s.parser.has_zone


def test_golden_severity_mapping():
    s = build_stage(load("severity_mapping.yaml"))
    sev = s.parser
    assert (500, 599, 17) in sev.ranges  # error = 5xx
    assert (400, 499, 13) in sev.ranges  # warn = 4xx
    assert (200, 299, 9) in sev.ranges   # info = {min,max}
    assert str(sev.parse_from) == "attributes.status"


def test_golden_flatten():
    s = build_stage(load("flatten_one_level.yaml"))
    assert str(s.field) == "body.nested"


def test_golden_retain_one_of_each():
    s = build_stage(load("retain_one_of_each.yaml"))
    assert [str(f) for f in s.fields] == [
        "resource.key1", "attributes.key3", "body.key"
    ]


def test_golden_filter_expr_runs(spark):
    s = build_stage(load("filter_expr.yaml"))
    assert s.expr == 'attributes.env == "dev"'
    df = make_entries(spark, ["keep me", "drop me"])
    from opentelemetry_log_collection_spark.operators.transforms import AddStage

    df = AddStage(field="attributes.env", value="dev",
                  if_expr='body startsWith "drop"').apply(df)
    out = s.apply(df)
    assert [r["text"] for r in collected(out, "text")] == ["keep me"]


def test_golden_file_input_multiline():
    s = build_stage(load("file_input_multiline.yaml"))
    assert s.include == ["one.log"]
    assert s.charset == "UTF-16LE"
    assert s.line_start == "Start" and s.line_end is None
    assert s.include_file_name


def test_golden_file_input_gzip():
    s = build_stage(load("file_input_gzip.yaml"))
    assert s.compression == "auto"
    assert len(s.include) == 3


def test_golden_tcp_input():
    s = build_stage(load("tcp_input.yaml"))
    assert s.protocol == "tcp"
    assert s.bridge.add_attributes
    assert s.bridge.line_start == r"^\d{4}-"


def test_golden_tcp_input_tls():
    s = build_stage(load("tcp_input_tls.yaml"))
    assert s.protocol == "tcp"
    assert s.bridge._ssl_ctx is not None  # cert chain actually loaded


def test_golden_journald_input():
    s = build_stage(load("journald_input.yaml"))
    assert s.units == ["ssh", "kubelet"]
    assert (s.prio_lo, s.prio_hi) == (0, 6)  # info
    assert s.reader.include == ["/var/log/journal/export.json"]


def test_golden_journald_priority_range():
    s = build_stage(load("journald_priority_range.yaml"))
    assert (s.prio_lo, s.prio_hi) == (0, 3)  # emerg..err
    assert s.reader.include == ["/var/log/journal/*"]


def test_golden_windows_eventlog():
    s = build_stage(load("windows_eventlog.yaml"))
    assert s.channel == "Application"
    assert s.reader.include == ["/exports/events.xml"]


def test_golden_syslog_input_tcp():
    s = build_stage(load("syslog_input_tcp.yaml"))
    assert s.source.protocol == "tcp"
    assert s.parser.protocol == "rfc5424"


def test_golden_k8s_event():
    s = build_stage(load("k8s_event.yaml"))
    assert s.namespaces == ["production"]
    assert s.reader.include == ["/exports/watch.json"]
