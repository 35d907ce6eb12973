"""No Python in the hot path: every parser's default configuration,
and language-ID, plans as pure JVM expressions. A Python UDF shows up
in the executed plan as an ArrowEvalPython (pandas UDF) or
BatchEvalPython (row UDF) node; CSV with a per-row header attribute is
the one parser that still plans one, which proves the detector sees
them."""

from __future__ import annotations

import re

import pytest

from opentelemetry_log_collection_spark import textops
from opentelemetry_log_collection_spark.pipeline import Pipeline
from conftest import make_entries

_PYTHON_EVAL = re.compile(r"\b(?:ArrowEvalPython|BatchEvalPython)\b")

#: (body lines, pipeline configs) per default parser configuration
PARSER_CASES = {
    "regex_anchored": (
        ["k=v rest"],
        [{"type": "regex_parser", "regex": r"^(?P<k>\w+)=(?P<v>\S+)"}],
    ),
    "regex_unanchored": (
        ["x k=v"],
        [{"type": "regex_parser", "regex": r"(?P<k>\w+)=(?P<v>\S+)"}],
    ),
    "json": (['{"a":"b"}'], [{"type": "json_parser"}]),
    "key_value": (["a=1 b=2"], [{"type": "key_value_parser"}]),
    "key_value_pair_delimiter": (
        ["a=1;b=2"],
        [{"type": "key_value_parser", "pair_delimiter": ";"}],
    ),
    "uri": (["https://h:8443/p?q=1"], [{"type": "uri_parser"}]),
    "syslog_rfc3164": (
        ["<34>Jan 12 06:30:00 host app: msg"],
        [{"type": "syslog_parser", "protocol": "rfc3164"}],
    ),
    "syslog_rfc5424": (
        ["<165>1 2003-10-11T22:14:15.003Z host app 1 ID47 - msg"],
        [{"type": "syslog_parser", "protocol": "rfc5424"}],
    ),
    "csv_static_header": (["1,2"], [{"type": "csv_parser", "header": "a,b"}]),
}


def executed_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.mark.parametrize("name", list(PARSER_CASES))
def test_default_parser_plan_has_no_python(spark, name):
    lines, configs = PARSER_CASES[name]
    [df] = Pipeline.from_configs(configs).run(make_entries(spark, lines)).values()
    assert not _PYTHON_EVAL.search(executed_plan(df)), name
    assert df.count() == 1


def test_language_id_plan_has_no_python(spark):
    df = spark.createDataFrame([(1, "the cat")], "doc_id int, text string")
    assert not _PYTHON_EVAL.search(executed_plan(textops.language_id(df)))


def test_csv_header_attribute_plan_has_python(spark):
    """The detector's positive control: the per-row header path is a
    pandas UDF."""
    [df] = Pipeline.from_configs([
        {"type": "add", "field": "attributes.hdr", "value": "a,b"},
        {"type": "csv_parser", "header_attribute": "hdr"},
    ]).run(make_entries(spark, ["1,2"])).values()
    assert _PYTHON_EVAL.search(executed_plan(df))
