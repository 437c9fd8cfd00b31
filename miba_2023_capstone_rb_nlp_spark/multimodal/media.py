"""Multimodal column operators.

Design for 100 TB of media: content stays an opaque ``binary`` column
(parquet pages compress/skip it; column pruning means metadata-only
queries never read bytes); decode runs where the data lives via
``mapInPandas`` (Arrow moves bytes zero-copy into pandas); decoded
features are small fixed-size arrays, so downstream joins/aggs are
cheap. Frame sampling fans out with posexplode BEFORE decode so only
sampled frames are ever decoded.
"""

from __future__ import annotations

import hashlib
import math
from collections.abc import Iterator
from typing import TYPE_CHECKING

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

if TYPE_CHECKING:
    import pandas as pd

MEDIA_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("kind", StringType(), False),  # image | audio | video
        StructField("content", BinaryType(), True),
        StructField(
            "meta",
            StructType(
                [
                    StructField("width", IntegerType(), True),
                    StructField("height", IntegerType(), True),
                    StructField("sample_rate", IntegerType(), True),
                    StructField("n_frames", IntegerType(), True),
                    StructField("format", StringType(), True),
                ]
            ),
            True,
        ),
    ]
)

FEATURE_DIM = 8

_FEATURE_FIELDS = [
    StructField("media_id", LongType(), False),
    StructField("kind", StringType(), False),
    StructField("n_bytes", LongType(), True),
    StructField("features", ArrayType(DoubleType()), True),
]
FEATURES_SCHEMA = StructType(_FEATURE_FIELDS)


def _fake_decode(content: bytes) -> list[float]:
    """Deterministic stand-in for a real decoder: md5-derived unit
    vector. Replaces pillow/librosa/ffmpeg decode in this container;
    the real path drops in at the marked line without touching the
    plan shape."""
    h = hashlib.md5(content).digest()
    raw = [int.from_bytes(h[2 * i : 2 * i + 2], "big") - 32768 for i in range(FEATURE_DIM)]
    # math.sqrt, NOT ** 0.5: pow(x, 0.5) can differ from the correctly
    # rounded IEEE sqrt by 1 ulp, breaking cross-engine parity
    norm = math.sqrt(sum(x * x for x in raw)) or 1.0
    return [x / norm for x in raw]


def extract_features(df: DataFrame, use_real_codecs: bool = False) -> DataFrame:
    """binary content → fixed-dim feature vector, Arrow-batched.

    ``use_real_codecs=True`` requires pillow etc. (NotImplementedError
    here — STUB: the decode line is the only swap point).
    """

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        if use_real_codecs:
            raise NotImplementedError(
                "real image/audio decoders are not available in this "
                "container; run with use_real_codecs=False (deterministic "
                "fake decode) — swap _fake_decode for PIL/librosa here"
            )
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "n_bytes": pdf["content"].map(
                        lambda b: len(b) if b is not None else None
                    ),
                    "features": pdf["content"].map(
                        lambda b: _fake_decode(bytes(b)) if b is not None else None
                    ),
                }
            )

    return df.select("media_id", "kind", "content").mapInPandas(
        run, schema=FEATURES_SCHEMA
    )


def sample_frames(df: DataFrame, every_n: int = 10) -> DataFrame:
    """Video frame sampling BEFORE decode: one row per sampled frame
    index (posexplode over a frame-index sequence). Only sampled
    frames reach the decoder — at 100 TB of video this is the
    difference between decoding 1/every_n and everything."""
    frames = F.sequence(
        F.lit(0), F.greatest(F.col("meta.n_frames") - 1, F.lit(0)), F.lit(every_n)
    )
    return df.filter(F.col("kind") == "video").select(
        "media_id",
        "content",
        F.posexplode(frames).alias("sample_pos", "frame_index"),
    )
