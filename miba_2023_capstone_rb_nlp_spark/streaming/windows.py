"""Streaming window aggregations over the events stream — the SAME
window expressions as the batch suite (suite/events.py); only the
source/sink and watermark differ. Late data beyond the watermark is
dropped; state for closed windows is evicted.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from miba_2023_capstone_rb_nlp_spark.functions.numeric import dsum


def tumbling_counts(
    events: DataFrame, window: str = "1 hour", watermark: str = "2 hours"
) -> DataFrame:
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), dsum("value").alias("sum_value"))
        .select(F.col("w.start").alias("w_start"), "event_type", "n", "sum_value")
    )
