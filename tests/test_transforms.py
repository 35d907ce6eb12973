"""Transformer unit tests mirroring the reference's table-driven Go
cases (operator/transformer/*/..._test.go)."""

from __future__ import annotations

import pytest
import yaml
from pyspark.sql import functions as F

from opentelemetry_log_collection_spark.pipeline import build_stage
from tests.conftest import collected, make_entries


def one(spark, text='{"a":"1"}', **entry_kw):
    return make_entries(spark, [text], **entry_kw)


def attrs_of(df):
    return collected(df, "attributes")[0]["attributes"]


def test_add_literal_and_expr_template(spark):
    df = one(spark)
    df = build_stage({"type": "add", "field": "attributes.env", "value": "prod"}).apply(df)
    df = build_stage(
        {"type": "add", "field": "attributes.tag",
         "value": 'EXPR("r-" + attributes.role)'}
    ).apply(df)
    a = attrs_of(df)
    assert a["env"] == "prod"
    assert a["tag"] == "r-user"


# YAML scalars as ``yaml.safe_load`` types them (a date, a timestamp
# with and without an offset, the non-finite floats, a sequence)
YAML_VALUES = [
    "true", "42", "9000000000", "-1.5", "1.0e+20", "2024-06-01",
    "2024-06-01 10:30:00+02:00", "2024-06-01 10:30:00", ".inf", "-.inf",
    ".nan", "[1, 2]", "[a, null]",
]


@pytest.mark.parametrize("raw", YAML_VALUES)
def test_add_typed_value_matches_f_lit(spark, raw):
    """A typed YAML value is stored as the string ``F.lit`` gives it."""
    value = yaml.safe_load(f"v: {raw}")["v"]
    df = build_stage({"type": "add", "field": "attributes.v", "value": value}).apply(
        one(spark)
    )
    expected = spark.range(1).select(F.lit(value).cast("string").alias("v")).first().v
    assert attrs_of(df)["v"] == expected


def test_add_map_value_merges(spark):
    df = one(spark)
    df = build_stage(
        {"type": "add", "field": "attributes", "value": {"k1": "v1", "k2": "v2"}}
    ).apply(df)
    a = attrs_of(df)
    assert a["k1"] == "v1" and a["k2"] == "v2" and a["role"] == "user"


def test_copy_missing_source_is_error_drop(spark):
    df = one(spark)
    out = build_stage(
        {"type": "copy", "from": "attributes.nope", "to": "attributes.dst",
         "on_error": "drop"}
    ).apply(df)
    assert out.count() == 0
    # send keeps the row unchanged
    out2 = build_stage(
        {"type": "copy", "from": "attributes.nope", "to": "attributes.dst"}
    ).apply(df)
    assert out2.count() == 1
    assert "dst" not in attrs_of(out2)


def test_move_deletes_source(spark):
    df = one(spark)
    df = build_stage({"type": "add", "field": "attributes.src", "value": "x"}).apply(df)
    df = build_stage(
        {"type": "move", "from": "attributes.src", "to": "attributes.dst"}
    ).apply(df)
    a = attrs_of(df)
    assert a["dst"] == "x" and "src" not in a


def test_move_top_level_timestamp(spark):
    df = one(spark)
    df = build_stage({"type": "add", "field": "attributes.sn", "value": "logger9"}).apply(df)
    df = build_stage(
        {"type": "move", "from": "attributes.sn", "to": "scope_name"}
    ).apply(df)
    row = collected(df, "scope_name", "attributes")[0]
    assert row["scope_name"] == "logger9"
    assert "sn" not in row["attributes"]


def test_remove_key_and_whole_root(spark):
    df = one(spark)
    out = build_stage({"type": "remove", "field": "attributes.role"}).apply(df)
    assert "role" not in attrs_of(out)
    out2 = build_stage({"type": "remove", "field": "attributes"}).apply(df)
    assert collected(out2, "attributes")[0]["attributes"] is None


def test_retain_keeps_only_listed_and_other_roots_survive(spark):
    df = one(spark)
    df = build_stage({"type": "add", "field": "attributes.a", "value": "1"}).apply(df)
    df = build_stage({"type": "add", "field": "attributes.b", "value": "2"}).apply(df)
    out = build_stage({"type": "retain", "fields": ["attributes.a"]}).apply(df)
    row = collected(out, "attributes", "resource", "ts")[0]
    assert set(row["attributes"]) == {"a"}
    # resource untouched (not mentioned), timestamps always kept
    assert row["resource"]["conv_id"] == "c0"
    assert row["ts"] is not None


def test_flatten_splices_nested_body(spark):
    df = one(spark, text='{"nested":{"x":"1","y":"2"},"keep":"z"}')
    df = build_stage({"type": "json_parser", "parse_to": "body"}).apply(df)
    out = build_stage({"type": "flatten", "field": "body.nested"}).apply(df)
    body = collected(out, "body")[0]["body"]
    assert body == {"x": "1", "y": "2", "keep": "z"}


def test_flatten_non_map_is_error_and_restores(spark):
    df = one(spark, text='{"nested":"scalar"}')
    df = build_stage({"type": "json_parser", "parse_to": "body"}).apply(df)
    out = build_stage({"type": "flatten", "field": "body.nested"}).apply(df)
    body = collected(out, "body")[0]["body"]
    assert body == {"nested": "scalar"}  # restored unchanged


def test_flatten_rejects_attributes_target(spark):
    with pytest.raises(ValueError):
        build_stage({"type": "flatten", "field": "attributes.x"})


def test_filter_drops_matches_and_ratio_is_seeded(spark):
    texts = [("a", "user"), ("b", "system"), ("c", "system"), ("d", "user")]
    df = make_entries(spark, texts)
    out = build_stage({"type": "filter", "expr": 'attributes.role == "system"'}).apply(df)
    assert [r["text"] for r in collected(out, "text")] == ["a", "d"]
    # drop_ratio deterministic under fixed seed
    out1 = build_stage(
        {"type": "filter", "expr": 'attributes.role == "system"', "drop_ratio": 0.5}
    ).apply(df).count()
    out2 = build_stage(
        {"type": "filter", "expr": 'attributes.role == "system"', "drop_ratio": 0.5}
    ).apply(df).count()
    assert out1 == out2


def test_if_predicate_skips_rows(spark):
    texts = [("x=1", "user"), ("y=2", "system")]
    df = make_entries(spark, texts)
    out = build_stage(
        {"type": "key_value_parser", "if_expr": 'attributes.role == "user"'}
    ).apply(df)
    rows = collected(out, "attributes")
    assert rows[0]["attributes"].get("x") == "1"
    assert "y" not in rows[1]["attributes"]  # untouched row passes through


def test_noop_identity(spark):
    df = one(spark)
    out = build_stage({"type": "noop"}).apply(df)
    assert collected(out) == collected(df)
