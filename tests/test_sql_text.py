"""Expression trees rendered as Spark SQL text: the string-literal
quoting helper, Python values as typed literals, and the py4j cost of
building each rendered tree."""

import datetime as dt
from contextlib import contextmanager

import pytest
from pyspark.sql import functions as F

from opentelemetry_log_collection_spark.exprs import compile_bool
from opentelemetry_log_collection_spark.fields import ident, literal, quote
from opentelemetry_log_collection_spark.operators.parsers import (
    _MARK,
    _SEP,
    UriParserStage,
    onepass_map,
)
from opentelemetry_log_collection_spark.operators.severity import SeverityParser
from tests.conftest import make_entries

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


UTC_PLUS_2 = dt.timezone(dt.timedelta(hours=2))
LITERALS = {
    "none": None, "bool": False, "int": 7, "bigint": 9_000_000_000,
    "neg_int": -3, "float": 0.1, "neg_float": -1.5, "exp_float": 1e-7,
    "neg_zero": -0.0, "nan": float("nan"), "inf": float("inf"),
    "neg_inf": float("-inf"), "str": "it's", "date": dt.date(2024, 6, 1),
    "naive_datetime": dt.datetime(2024, 6, 1, 10, 30, 0, 250000),
    "aware_datetime": dt.datetime(2024, 6, 1, 10, 30, tzinfo=UTC_PLUS_2),
    "list": [1, 2], "nested_list": [["a"], ["b", None]],
}


@pytest.mark.parametrize("v", list(LITERALS.values()), ids=list(LITERALS))
def test_literal_types_like_f_lit(spark, v):
    row = spark.range(1).select(F.expr(literal(v)).alias("sql"), F.lit(v).alias("lit"))
    assert row.schema["sql"].dataType == row.schema["lit"].dataType
    got = row.select(
        F.col("sql").cast("string").alias("sql"), F.col("lit").cast("string").alias("lit")
    ).first()
    assert got.sql == got.lit


def test_observed_ts_is_one_instant_in_any_session_zone(spark):
    """The default observed timestamp is 2024-06-01T00:00:00+00:00
    whatever zone the session reads timestamp literals in."""
    key = "spark.sql.session.timeZone"
    saved = spark.conf.get(key)
    try:
        spark.conf.set(key, "America/New_York")
        df = make_entries(spark, ["x"])
        epoch = df.select(F.expr("CAST(observed_ts AS BIGINT)").alias("s")).first().s
    finally:
        spark.conf.set(key, saved)
    assert epoch == 1717200000


@pytest.mark.parametrize("v", [{"a": 1}, (1, 2), object()])
def test_literal_rejects_other_types(v):
    with pytest.raises(TypeError):
        literal(v)


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


def test_tag_transcripts_warm_py4j_budget(spark):
    """Every column stage of the flagship (entries, four parsers with
    their sub-parsers, enrich, router) builds its expressions as SQL
    text, so a warm build of the routed plan stays within a fixed
    py4j budget."""
    from opentelemetry_log_collection_spark.flagship import tag_transcripts

    turns = spark.createDataFrame(
        [("c1", 0, "user", "hello", "", None)],
        "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
    )
    tag_transcripts(spark, turns)
    tag_transcripts(spark, turns)
    with _py4j_calls(spark) as calls:
        tag_transcripts(spark, turns)
    assert calls[0] <= 1000
