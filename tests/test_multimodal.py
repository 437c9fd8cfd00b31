"""Multimodal plumbing tests with fabricated binary content."""

from __future__ import annotations

import pytest
from pyspark.sql import Row, functions as F

from miba_2023_capstone_rb_nlp_spark.multimodal.media import (
    MEDIA_SCHEMA,
    extract_features,
    sample_frames,
)


@pytest.fixture(scope="module")
def media_df(spark):
    rows = [
        Row(
            media_id=i,
            kind=["image", "audio", "video"][i % 3],
            content=bytes(f"fake-media-payload-{i}" * (i + 1), "utf-8"),
            meta=Row(
                width=640 + i, height=480, sample_rate=16000,
                n_frames=30 * (i + 1), format="fake",
            ),
        )
        for i in range(9)
    ]
    return spark.createDataFrame(rows, schema=MEDIA_SCHEMA)


def test_feature_extraction_deterministic(media_df):
    out = extract_features(media_df).collect()
    assert len(out) == 9
    for r in out:
        assert len(r["features"]) == 8
        assert abs(sum(x * x for x in r["features"]) - 1.0) < 1e-9
    # deterministic: same content → same features
    again = extract_features(media_df).collect()
    assert sorted(map(lambda r: (r["media_id"], tuple(r["features"])), out)) == sorted(
        map(lambda r: (r["media_id"], tuple(r["features"])), again)
    )


def test_real_codecs_gate(media_df):
    with pytest.raises(Exception, match="real image/audio decoders"):
        extract_features(media_df, use_real_codecs=True).collect()


def test_frame_sampling_before_decode(media_df):
    frames = sample_frames(media_df, every_n=10)
    rows = frames.collect()
    assert all(r["frame_index"] % 10 == 0 for r in rows)
    vids = media_df.filter(F.col("kind") == "video").collect()
    expect = sum((v["meta"]["n_frames"] - 1) // 10 + 1 for v in vids)
    assert len(rows) == expect


def test_metadata_only_prunes_binary(media_df, tmp_path):
    path = str(tmp_path / "media.parquet")
    media_df.write.parquet(path)
    spark = media_df.sparkSession
    # a metadata-only aggregate never touches the binary column
    scan = spark.read.parquet(path).groupBy("kind").agg(
        F.count(F.lit(1)).alias("n"),
        F.avg(F.col("meta.width").cast("double")).alias("avg_width"),
        F.max("meta.n_frames").alias("max_frames"),
    )
    plan = scan._jdf.queryExecution().executedPlan().toString()
    assert "content" not in plan, "binary column should be pruned from the scan"
    assert scan.count() == 3  # three kinds
