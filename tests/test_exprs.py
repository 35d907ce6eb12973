"""expr-language subset translation (docs/types/expression.md)."""

import os

from pyspark.sql import functions as F

from opentelemetry_log_collection_spark.exprs import compile_bool, compile_expr, compile_template
from conftest import make_entries


def _eval(spark, df, expression):
    return [r.v for r in df.select(F.expr(compile_bool(expression)).alias("v")).collect()]


def test_comparisons_and_boolean_ops(spark):
    df = make_entries(spark, [("a", "user"), ("b", "assistant")])
    assert _eval(spark, df, 'attributes.role == "user"') == [True, False]
    assert _eval(spark, df, 'attributes.role != "user"') == [False, True]
    assert _eval(spark, df, 'attributes.role == "user" or attributes.role == "assistant"') == [True, True]
    assert _eval(spark, df, 'not (attributes.role == "user")') == [False, True]
    assert _eval(spark, df, 'attributes.role == "user" and body == "b"') == [False, False]


def test_string_infix_ops(spark):
    df = make_entries(spark, ["START x", "other"])
    assert _eval(spark, df, 'body startsWith "START"') == [True, False]
    assert _eval(spark, df, 'body endsWith "x"') == [True, False]
    assert _eval(spark, df, 'body contains "the"') == [False, True]
    assert _eval(spark, df, 'body matches "^ST.RT"') == [True, False]


def test_dollar_alias_and_nil(spark):
    df = make_entries(spark, ["x"])
    assert _eval(spark, df, '$ == "x"') == [True]
    assert _eval(spark, df, "attributes.missing == nil") == [True]
    assert _eval(spark, df, "attributes.role != nil") == [True]


def test_numeric_compare_on_map_string(spark):
    df = make_entries(spark, ["x"])
    from opentelemetry_log_collection_spark.fields import Field, apply_updates

    df = apply_updates(df, Field.parse("attributes.status").set_scalar("'404'"))
    assert _eval(spark, df, "attributes.status >= 400") == [True]
    assert _eval(spark, df, "attributes.status < 400") == [False]


def test_in_list(spark):
    df = make_entries(spark, [("a", "user"), ("b", "tool")])
    assert _eval(spark, df, 'attributes.role in ["user", "assistant"]') == [True, False]


def test_env_and_template(spark):
    os.environ["OTEL_SPARK_TEST_STACK"] = "prod"
    df = make_entries(spark, ["x"])
    got = [
        r.v
        for r in df.select(
            F.expr(compile_template('stack=EXPR(env("OTEL_SPARK_TEST_STACK")) role=EXPR(attributes.role)')).alias("v")
        ).collect()
    ]
    assert got == ["stack=prod role=user"]


def test_env_refreshes_per_run(spark):
    """env() reads the CURRENT environment each time a stage builds
    its plan (stages compile expressions inside apply), matching the
    reference's per-render os.Getenv at per-run granularity
    (expr_string.go:133-151): change the variable between two runs of
    the SAME stage object and each run sees its own value."""
    from opentelemetry_log_collection_spark.pipeline import build_stage
    import opentelemetry_log_collection_spark.operators.transforms  # noqa: F401
    from pyspark.sql import functions as F

    df = make_entries(spark, ["x"])
    stage = build_stage(
        {"type": "add", "field": "attributes.deploy",
         "value": 'EXPR(env("OTEL_SPARK_TEST_DEPLOY"))'}
    )
    os.environ["OTEL_SPARK_TEST_DEPLOY"] = "blue"
    r1 = stage.apply(df).select(
        F.try_element_at("attributes", F.lit("deploy"))).first()[0]
    os.environ["OTEL_SPARK_TEST_DEPLOY"] = "green"
    r2 = stage.apply(df).select(
        F.try_element_at("attributes", F.lit("deploy"))).first()[0]
    assert (r1, r2) == ("blue", "green")


def test_env_reread_on_each_compile(spark, monkeypatch):
    """Compiling the same expression twice reads env() twice: nothing
    keeps the value from the first compile."""
    df = make_entries(spark, ["x"])
    monkeypatch.setenv("GRAFT_ENV_PROBE", "a")
    assert _eval(spark, df, 'env("GRAFT_ENV_PROBE") == "a"') == [True]
    monkeypatch.setenv("GRAFT_ENV_PROBE", "b")
    assert _eval(spark, df, 'env("GRAFT_ENV_PROBE") == "a"') == [False]
