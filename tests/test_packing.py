"""pack_sequences (packing.py): concat-and-chunk window assignment."""
from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from opentelemetry_log_collection_spark.packing import pack_sequences


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id: long, text: string")


def test_pack_basic_spans(spark):
    # budget 5: doc0 (3 tok) [0,2] chunk 0; doc1 (4 tok) [3,6] spans
    # chunks 0-1; doc2 (6 tok) [7,12] spans chunks 1-2; doc3 empty
    df = _docs(
        spark,
        [
            (0, "a b c"),
            (1, "d e f g"),
            (2, "h i j k l m"),
            (3, ""),
        ],
    )
    rows = {
        r.doc_id: r.asDict()
        for r in pack_sequences(df, budget=5).collect()
    }
    assert rows[0]["token_offset"] == 0
    assert (rows[0]["first_chunk"], rows[0]["last_chunk"]) == (0, 0)
    assert rows[1]["token_offset"] == 3
    assert (rows[1]["first_chunk"], rows[1]["last_chunk"]) == (0, 1)
    assert rows[1]["n_chunks"] == 2
    assert rows[2]["token_offset"] == 7
    assert (rows[2]["first_chunk"], rows[2]["last_chunk"]) == (1, 2)
    # "" splits to one empty token under the whitespace convention
    assert rows[3]["n_tokens"] == 1


def test_pack_matches_serial_reference(spark):
    # 300 docs of varying size, shuffled input order — the two-phase
    # prefix sum must equal the serial cumulative sum by doc_id
    rows = [(i, "w " * (1 + (i * 7) % 23)) for i in range(300)]
    import random

    rng = random.Random(5)
    rng.shuffle(rows)
    df = _docs(spark, rows).repartition(8)  # destroy input order
    out = {r.doc_id: r for r in pack_sequences(df, budget=64).collect()}
    sizes = {i: 1 + (i * 7) % 23 for i in range(300)}
    off = 0
    for i in range(300):
        assert out[i].n_tokens == sizes[i]
        assert out[i].token_offset == off, f"doc {i}"
        assert out[i].first_chunk == off // 64
        assert out[i].last_chunk == (off + sizes[i] - 1) // 64
        off += sizes[i]


def test_pack_giant_doc_spans_many_chunks(spark):
    df = _docs(spark, [(0, "x " * 10), (1, "y " * 2000), (2, "z")])
    rows = {r.doc_id: r for r in pack_sequences(df, budget=100).collect()}
    assert rows[1].n_chunks == rows[1].last_chunk - rows[1].first_chunk + 1
    assert rows[1].n_chunks >= 20
    assert rows[2].token_offset == 2010
    assert rows[2].first_chunk == 20


def test_pack_rejects_bad_budget(spark):
    with pytest.raises(ValueError, match="budget"):
        pack_sequences(_docs(spark, [(0, "a")]), budget=0)


@pytest.mark.parametrize("rows", [[(0, "a b c"), (1, "d e")], []], ids=["docs", "empty"])
def test_pack_releases_its_cache(spark, rows):
    """The (id, n_tokens) cache lives only while pack_sequences runs
    its driver-side jobs, on the empty-corpus return as well."""
    jsc = spark.sparkContext._jsc
    before = jsc.getPersistentRDDs().size()
    pack_sequences(_docs(spark, rows), budget=4).collect()
    assert jsc.getPersistentRDDs().size() == before
