"""The media operators leave batch sizing to Spark: each returns the
same rows whatever ``spark.sql.execution.arrow.maxBytesPerBatch`` is,
and the engine session keeps Spark's 64 MiB default, the bound the
payload driver relies on (multimodal module docstring)."""

from __future__ import annotations

from functools import reduce

import pandas as pd
import pytest
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from opentelemetry_log_collection_spark import multimodal as mm

MAX_BYTES = "spark.sql.execution.arrow.maxBytesPerBatch"
#: trailing zero bytes per payload; every decoder stops at its
#: container's end, so the padding changes sizes, not decoded values
PAD = bytes(256 << 10)
N = 6  # assets per format: N * PAD is over 1 MiB for each operator

SYNTHS = [
    ("audio", "audio/wav", mm.synthesize_wav),
    ("image", "image/bmp", mm.synthesize_bmp),
    ("image", "image/png", lambda i: mm.synthesize_png(i, color_type=mm.PNG_CT_CYCLE[i % 5])),
    ("image", "image/jpeg", mm.synthesize_jpeg),
    ("image", "image/gif", mm.synthesize_gif),
    ("video", "video/x-msvideo", mm.synthesize_avi),
]

#: operator -> (call, the rows of the padded corpus it reads); the
#: strict operators read only real payloads (asset_id < 1000) of their
#: kind, resize_images only BMPs
OPS = {
    "extract_features": (mm.extract_features, "true"),
    "audio_features": (mm.audio_features, "kind = 'audio' AND asset_id < 1000"),
    "image_features": (mm.image_features, "kind = 'image' AND asset_id < 1000"),
    "resize_images": (lambda df: mm.resize_images(df, 4, 4), "mime = 'image/bmp'"),
    "video_frame_stats": (mm.video_frame_stats, "kind = 'video' AND asset_id < 1000"),
    "sample_frames": (mm.sample_frames, "kind = 'video'"),
}


@pytest.fixture(scope="module")
def padded(spark):
    """Every real format plus digest fakes (which extract_features and
    sample_frames fall back on), padded, in ONE partition, so an
    operator's whole input would fit one default-sized batch."""
    tables = [
        mm._asset_table(spark, N, kind, mime, lambda i, s=synth: s(i) + PAD)
        .withColumn("asset_id", F.col("asset_id") + 100 * j)
        for j, (kind, mime, synth) in enumerate(SYNTHS)
    ]
    fakes = mm.synthesize_assets(spark, n=3 * N).withColumn(
        "asset_id", F.col("asset_id") + 1000
    )
    df = reduce(DataFrame.unionByName, tables + [fakes]).coalesce(1).persist()
    df.count()
    yield df
    df.unpersist()


def _batch_rows(df: DataFrame) -> list[int]:
    """Row count of every Arrow batch a mapInPandas over ``df`` sees."""
    return [
        r["n"]
        for r in df.mapInPandas(
            lambda it: (pd.DataFrame({"n": [len(p)]}) for p in it), "n long"
        ).collect()
    ]


def test_engine_session_keeps_the_64_mib_arrow_bound(spark):
    conf = spark._jsparkSession.sessionState().conf()
    assert conf.arrowMaxBytesPerBatch() == 64 << 20


@pytest.mark.parametrize("name", list(OPS))
def test_rows_do_not_depend_on_the_arrow_byte_bound(spark, padded, name):
    op, rows = OPS[name]
    df = padded.filter(rows)
    default = spark.conf.get(MAX_BYTES)
    try:
        spark.conf.set(MAX_BYTES, str(1 << 20))
        split = sorted(op(df).collect())
        small_batches = _batch_rows(df.select("payload"))
    finally:
        spark.conf.set(MAX_BYTES, default)
    assert len(_batch_rows(df.select("payload"))) == 1
    assert len(small_batches) > 1
    assert split == sorted(op(df).collect())
    assert split
