"""Field path semantics vs entry/field.go + entry/body_field.go."""

import json

import pytest

from opentelemetry_log_collection_spark.fields import (
    Field,
    FieldParseError,
    apply_updates,
)
from conftest import make_entries, collected


def test_parse_paths():
    assert Field.parse("body").root == "body"
    assert Field.parse("body.a.b").keys == ("a", "b")
    # bare path defaults to body (docs/types/field.md)
    f = Field.parse("foo.bar")
    assert f.root == "body" and f.keys == ("foo", "bar")
    f = Field.parse('attributes["k8s.cluster.name"]')
    assert f.root == "attributes" and f.keys == ("k8s.cluster.name",)
    f = Field.parse('body["dotted.key"].x')
    assert f.keys == ("dotted.key", "x")
    assert Field.parse("timestamp").root == "timestamp"
    with pytest.raises(FieldParseError):
        Field.parse("")


def test_get_body_string_vs_map(spark):
    df = make_entries(spark, ["hello"])
    # body root reads raw text while unstructured
    assert collected(df.select(Field.parse("body").get().alias("v")), order=None) == [
        {"v": "hello"}
    ]
    # after a map set, body root reads the JSON projection
    df2 = apply_updates(df, Field.parse("body").set_map("map('k', 'v')"))
    assert collected(df2.select(Field.parse("body.k").get().alias("v")), order=None) == [
        {"v": "v"}
    ]


def test_set_merge_overwrite(spark):
    """Set of a map value merges, later keys win (body_field.go:88-132)."""
    df = make_entries(spark, ["x"])
    f = Field.parse("attributes")
    df = apply_updates(df, f.set_map("map('a', '1', 'b', '2')"))
    df = apply_updates(df, f.set_map("map('b', '99', 'c', '3')"))
    [row] = collected(df, "attributes", order=None)
    attrs = row["attributes"]
    assert attrs["a"] == "1" and attrs["b"] == "99" and attrs["c"] == "3"


def test_nested_set_merges_jsonwise(spark):
    """F5 map-merge: parse_to body.parsed twice merges keys."""
    df = make_entries(spark, ["x"])
    f = Field.parse("body.parsed")
    df = apply_updates(df, f.set_map("map('k1', 'v1')"))
    df = apply_updates(df, f.set_map("map('k2', 'v2')"))
    assert collected(df.select(Field.parse("body.parsed.k1").get().alias("v")), order=None) == [{"v": "v1"}]
    assert collected(df.select(Field.parse("body.parsed.k2").get().alias("v")), order=None) == [{"v": "v2"}]


def test_scalar_root_set_rejected():
    with pytest.raises(FieldParseError):
        Field.parse("attributes").set_scalar("'x'")


def test_delete_key_and_root(spark):
    df = make_entries(spark, ["x"])
    df = apply_updates(df, Field.parse("attributes").set_map("map('a', '1', 'b', '2')"))
    df1 = apply_updates(df, Field.parse("attributes.a").delete())
    [row] = collected(df1, "attributes", order=None)
    assert row["attributes"] == {"b": "2", "role": "user", "tool": ""}
    # whole-root deletion (rootable_field.go:29-72)
    df2 = apply_updates(df, Field.parse("attributes").delete())
    [row2] = collected(df2, "attributes", order=None)
    assert row2["attributes"] is None


def test_null_value_set_is_noop(spark):
    df = make_entries(spark, ["x"])
    before = collected(df, "attributes", order=None)
    df2 = apply_updates(
        df, Field.parse("attributes").set_map("CAST(NULL AS map<string,string>)")
    )
    assert collected(df2, "attributes", order=None) == before


def _overlapping_merges(spark) -> list[dict]:
    """Merges whose new keys collide with existing ones: set_map at
    the root and one key deep, set_scalar one and two keys deep, and a
    move onto an existing key."""
    from opentelemetry_log_collection_spark.pipeline import build_stage

    df = make_entries(spark, ["x"])
    df = apply_updates(df, Field.parse("attributes").set_map("map('role', 'root', 'x', '1')"))
    nested = Field.parse("attributes.nested")
    df = apply_updates(df, nested.set_map("map('k', 'v1', 'j', 'w1')"))
    df = apply_updates(df, nested.set_map("map('k', 'v2')"))
    df = apply_updates(df, Field.parse("attributes.x").set_scalar("'2'"))
    df = apply_updates(df, Field.parse("attributes.nested.j").set_scalar("'w2'"))
    df = build_stage({"type": "move", "from": "attributes.x", "to": "attributes.role"}).apply(df)
    rows = collected(df, "attributes", order=None)
    # key order inside the nested JSON text follows the merge form
    for r in rows:
        r["attributes"]["nested"] = json.loads(r["attributes"]["nested"])
    return rows


def test_merge_without_last_win_policy(spark):
    """Under mapKeyDedupPolicy=EXCEPTION merge_maps takes the
    filter+concat form: new keys still win, no duplicate key reaches
    map_concat, and the rows equal the LAST_WIN ones."""
    key = "spark.sql.mapKeyDedupPolicy"
    saved = spark.conf.get(key)
    try:
        spark.conf.set(key, "EXCEPTION")
        strict = _overlapping_merges(spark)
        spark.conf.set(key, "LAST_WIN")
        last_win = _overlapping_merges(spark)
    finally:
        spark.conf.set(key, saved)
    assert strict == [{"attributes": {
        "role": "2", "tool": "", "nested": {"k": "v2", "j": "w2"},
    }}]
    assert strict == last_win
