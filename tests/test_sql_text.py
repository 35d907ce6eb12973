"""Expression trees rendered as Spark SQL text: the string-literal
quoting helper, and the py4j cost of building each rendered tree."""

from contextlib import contextmanager

import pytest
from pyspark.sql import functions as F

from opentelemetry_log_collection_spark.exprs import compile_bool
from opentelemetry_log_collection_spark.fields import ident, quote
from opentelemetry_log_collection_spark.operators.parsers import (
    _MARK,
    _SEP,
    UriParserStage,
    onepass_map,
)
from opentelemetry_log_collection_spark.operators.severity import SeverityParser

HOSTILE = {
    "backslash_and_quotes": "C:\\dir\\ it's \"quoted\" \\' \\\\ end\\",
    "marker_bytes": _MARK + "a" + _SEP + "b" + _SEP,
    "newline": "line one\nline two\r\n\ttabbed",
    "dollar_percent_underscore": "$1 ${2} ${env:HOME} $${x} 100% a_b %_ \\% \\_",
    "non_bmp": "emoji \U0001f600 clef \U0001d11e",
}


@pytest.mark.parametrize("s", list(HOSTILE.values()), ids=list(HOSTILE))
def test_quote_round_trips(spark, s):
    assert spark.range(1).select(F.expr(quote(s)).alias("v")).first().v == s


def test_quoted_java_regex_matches_raw_pattern(spark):
    """A pattern quoted into SQL text behaves exactly like the same
    pattern handed to the Column API."""
    pat = r"^(\d+)\.(\d+)\\'(\w+)'$"
    texts = ["12.34\\'ab'", "12x34\\'ab'", "7.8\\'z'", "7.8'z'", ""]
    df = spark.createDataFrame([(t,) for t in texts], "v string")
    rows = df.select(
        F.expr(f"v RLIKE {quote(pat)}").alias("sql_like"),
        F.col("v").rlike(pat).alias("col_like"),
        F.expr(f"regexp_extract(v, {quote(pat)}, 3)").alias("sql_ext"),
        F.regexp_extract("v", pat, 3).alias("col_ext"),
    ).collect()
    assert [r.sql_like for r in rows] == [r.col_like for r in rows]
    assert [r.sql_ext for r in rows] == [r.col_ext for r in rows]
    # and the pattern really matches where expected
    assert [r.col_like for r in rows] == [True, False, True, False, False]
    assert [r.col_ext for r in rows] == ["ab", "", "z", "", ""]


def test_ident_backticks():
    assert ident("a`b.c") == "`a``b.c`"


@contextmanager
def _py4j_calls(spark):
    """Count py4j round trips the way perfbench/tracing.py does:
    every send except the garbage collector's handle releases."""
    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    calls = [0]

    def counted(command, *args, **kwargs):
        if not command.startswith("m\nd\n"):
            calls[0] += 1
        return send(command, *args, **kwargs)

    client.send_command = counted
    try:
        yield calls
    finally:
        del client.send_command


_SRC = "CAST(`text` AS STRING)"

# configs no other test builds, so nothing cached could hide a cost
_BUILDS = {
    "compile_bool": lambda: compile_bool(
        'attributes.budget_probe >= 7 and (body startsWith "qz" or '
        'attributes["budget.k"] in ["x", "y"]) and not ($ matches "b+$")'
    ),
    "onepass_map": lambda: onepass_map(
        _SRC, r"^(\w+)-budget-(\d+) (.*)", {"word": 1, "num": 2, "tail": 3}
    ),
    "severity_lookup": lambda: SeverityParser(
        "attributes.budget_level",
        mapping={"warn": ["budget_w", 299], "error": "5xx", "info": {"min": 7, "max": 9}},
    )._lookup(_SRC),
    "uri_refine": lambda: UriParserStage().refine(ident("_budget_raw")),
}


@pytest.mark.parametrize("name", list(_BUILDS))
def test_tree_build_py4j_budget(spark, name):
    """Each tree is built as text in pure Python and applied with one
    F.expr, so its size does not show up as py4j traffic."""
    with _py4j_calls(spark) as calls:
        F.expr(_BUILDS[name]())
    assert calls[0] <= 5
