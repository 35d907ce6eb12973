"""The approximate similarity family's one vector kernel: bit-exact
left folds, one bucket key per vector whichever side it is on, the
degenerate-vector rule (which the exact baseline follows too), and id
types taken from the input."""

from __future__ import annotations

import math
import random

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from opentelemetry_log_collection_spark import similarity

DIM = 16
SCHEMA = "vec_id long, embedding array<float>"
DEGENERATE = [
    None,                                   # null vector
    [0.5] * (DIM - 1),                      # short
    [0.5] * (DIM + 1),                      # long
    [0.5] * (DIM - 1) + [None],             # null element
    [float("nan")] + [0.5] * (DIM - 1),     # NaN element
    [float("inf")] + [0.5] * (DIM - 1),     # +inf element
    [0.5] * (DIM - 1) + [float("-inf")],    # -inf element
    [0.0] * DIM,                            # zero norm
]


def _clean_rows(n_centers=8, per=4, seed=11):
    """Seeded clusters of near-duplicate vectors, float32-exact."""
    rng = random.Random(seed)
    rows = []
    for c in range(n_centers):
        center = [rng.gauss(0, 1) for _ in range(DIM)]
        for j in range(per):
            v = [x + rng.gauss(0, 0.15) for x in center]
            rows.append((c * per + j, [float(np.float32(x)) for x in v]))
    return rows


@pytest.fixture(scope="module")
def clean(spark):
    return spark.createDataFrame(_clean_rows(), SCHEMA)


@pytest.fixture(scope="module")
def dirty(spark):
    bad = [(1000 + i, v) for i, v in enumerate(DEGENERATE)]
    return spark.createDataFrame(_clean_rows() + bad, SCHEMA)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_kernel_equals_plain_python_left_fold():
    """Dots, norms and sign bits equal a plain-Python left fold bit for
    bit on a seeded batch; the degenerate rows are dropped."""
    rng = random.Random(3)
    clean = [np.array([rng.uniform(-1, 1) for _ in range(DIM)]) for _ in range(20)]
    vecs = pd.Series(
        [np.array(v, dtype=np.float64) if v is not None else None for v in DEGENERATE[:3]]
        + clean
        + [np.array(v, dtype=np.float64) for v in DEGENERATE[3:]],
        dtype=object,
    ).to_numpy()
    planes = np.array(similarity._hyperplanes(DIM, 5, seed=9))
    keep, V, norms, dots = similarity._vector_kernel(vecs, planes)
    assert keep.tolist() == [False] * 3 + [True] * 20 + [False] * 5
    for i, v in enumerate(clean):
        acc = 0.0
        for x in v:
            acc = acc + x * x
        assert norms[i] == math.sqrt(acc)
        for j, p in enumerate(planes):
            acc = 0.0
            for x, y in zip(v, p):
                acc = acc + x * y
            assert dots[i, j] == acc
    np.testing.assert_array_equal(V, np.stack(clean))


def test_lsh_bucket_key_is_one_per_vector(spark, clean):
    """A vector's bucket keys are the plain-Python sign bits whether it
    is bucketed as a query or as a corpus row; a vector with a null
    element gets no key on either side (it used to get 0000 as a query
    and 1111 as a corpus row)."""
    tables = [similarity._hyperplanes(DIM, 4, 42 + t) for t in range(2)]
    rows = _clean_rows()[:6] + [(99, [0.5] * (DIM - 1) + [None])]
    df = spark.createDataFrame(rows, SCHEMA)
    keys = {}
    for side in ("queries", "corpus"):
        b = similarity._lsh_buckets(similarity._vectors(df, "vec_id", "embedding"), tables)
        keys[side] = sorted((r["vid"], r["tbl"], r["bucket"]) for r in b.collect())
    assert keys["queries"] == keys["corpus"]
    want = []
    for vid, v in rows[:6]:
        for t, planes in enumerate(tables):
            bits = ""
            for p in planes:
                acc = 0.0
                for x, y in zip(v, p):
                    acc = acc + x * y
                bits += "1" if acc >= 0 else "0"
            want.append((vid, t, bits))
    assert keys["corpus"] == sorted(want)
    # end to end: a query always collides with its own exact copy
    copies = df.select((F.col("vec_id") + 500).alias("vec_id"), "embedding")
    out = similarity.lsh_topk(
        df, copies.unionByName(clean), k=1, dim=DIM, n_planes=4, n_tables=2
    )
    assert {(r["query_id"], r["neighbor_id"]) for r in out.collect()} == {
        (vid, vid + 500) for vid, _ in rows[:6]
    }


def test_brute_force_topk_ignores_degenerate_vectors(spark, clean, dirty):
    """The exact baseline follows the kernel's rule in Catalyst: a zero
    vector fails no job (ANSI divide), and null, null-element and
    non-finite vectors get no null-sim rank; a short or long vector
    pairs with nothing."""
    want = _rows(similarity.brute_force_topk(clean.filter("vec_id < 8"), clean, k=3))
    got = _rows(similarity.brute_force_topk(dirty.filter("vec_id < 8 OR vec_id >= 1000"), dirty, k=3))
    assert want and got == want


def test_lsh_topk_ignores_degenerate_vectors(spark, clean, dirty):
    kw = dict(k=3, dim=DIM, n_planes=4, n_tables=3)
    want = _rows(similarity.lsh_topk(clean.filter("vec_id < 8"), clean, **kw))
    got = _rows(similarity.lsh_topk(dirty.filter("vec_id < 8 OR vec_id >= 1000"), dirty, **kw))
    assert want and got == want


def test_ivf_topk_ignores_degenerate_vectors(spark, clean, dirty):
    kw = dict(k=3, n_cells=5, nprobe=2)
    want = _rows(similarity.ivf_topk(clean.filter("vec_id < 8"), clean, **kw))
    got = _rows(similarity.ivf_topk(dirty.filter("vec_id < 8 OR vec_id >= 1000"), dirty, **kw))
    assert want and got == want


def test_embedding_near_dups_ignores_degenerate_vectors(spark, clean, dirty):
    kw = dict(threshold=0.9, dim=DIM, n_planes=3, n_tables=3)
    want = _rows(similarity.embedding_near_dups(clean, **kw))
    got = _rows(similarity.embedding_near_dups(dirty, **kw))
    assert want and got == want


def test_string_ids_keep_their_type(spark, clean):
    """A string vec_id runs through the three approximate operators and
    comes back as a string; the rows are those of the long-id run."""
    s = clean.withColumn("vec_id", F.col("vec_id").cast("string"))
    q, sq = clean.filter("vec_id < 8"), s.filter("vec_id < 8")

    def as_str(rows):
        return sorted(tuple(str(x) for x in r) for r in rows)

    for run in (
        lambda c, qq: similarity.lsh_topk(qq, c, k=3, dim=DIM, n_planes=4, n_tables=3),
        lambda c, qq: similarity.ivf_topk(qq, c, k=3, n_cells=5, nprobe=2),
    ):
        got = run(s, sq)
        assert got.schema["query_id"].dataType.simpleString() == "string"
        assert got.schema["neighbor_id"].dataType.simpleString() == "string"
        long_rows = run(clean, q).select("query_id", "neighbor_id", "sim").collect()
        str_rows = got.select("query_id", "neighbor_id", "sim").collect()
        assert long_rows and as_str(str_rows) == as_str(long_rows)
    kw = dict(threshold=0.9, dim=DIM, n_planes=3, n_tables=3)
    got = similarity.embedding_near_dups(s, **kw)
    assert got.schema["doc_a"].dataType.simpleString() == "string"
    want = {frozenset((str(r["doc_a"]), str(r["doc_b"]))) for r in
            similarity.embedding_near_dups(clean, **kw).collect()}
    assert want and {frozenset((r["doc_a"], r["doc_b"])) for r in got.collect()} == want
