"""Structured Streaming tests: file-drop link ingest with watermarked
dedup + foreachBatch enrichment; streaming event windows vs their
batch equivalents (same expressions → same results on bounded input).
"""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from miba_2023_capstone_rb_nlp_spark import catalog
from miba_2023_capstone_rb_nlp_spark.streaming.ingest import (
    dedup_links,
    enrich_foreach_batch,
    filtered_link_stream,
    read_link_stream,
)
from miba_2023_capstone_rb_nlp_spark.streaming.windows import tumbling_counts
from tests.conftest import SF_TEST_DIR


def _write_link_batch(directory, name, rows):
    directory.mkdir(parents=True, exist_ok=True)
    with open(directory / name, "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")


def _link(i, ts="2024-01-01T00:00:00.000Z", engine="Google"):
    return {
        "engine": engine,
        "se_link": f"https://ex.com/{i}",
        "se_title": f"Streaming headline number {i} long enough",
        "se_description": None,
        "se_source": "Example",
        "discovered_at": ts,
    }


def test_link_stream_dedup_foreach_batch(spark, tmp_path):
    inbox = tmp_path / "inbox"
    _write_link_batch(inbox, "b1.json", [_link(1), _link(2), _link(2)])
    _write_link_batch(inbox, "b2.json", [_link(2), _link(3)])
    stream = filtered_link_stream(read_link_stream(spark, str(inbox)))
    deduped = dedup_links(stream, watermark="1 hour")
    seen: list[tuple] = []

    def sink(batch_df, batch_id):
        seen.extend((r["se_link"],) for r in batch_df.collect())

    q = enrich_foreach_batch(deduped, sink, str(tmp_path / "ckpt"))
    q.awaitTermination(120)
    links = sorted(s[0] for s in seen)
    assert links == [
        "https://ex.com/1", "https://ex.com/2", "https://ex.com/3",
    ], f"dedup failed: {links}"


def test_streaming_tumbling_equals_batch(spark, tmp_path):
    ev = catalog.table(spark, SF_TEST_DIR, "events")
    # bounded "stream" from the same parquet via file source
    path = str(tmp_path / "events_parquet")
    ev.write.parquet(path)
    stream = spark.readStream.schema(ev.schema).parquet(path)
    out = tumbling_counts(stream)
    q = (
        out.writeStream.format("memory")
        .queryName("tumbling_test")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("select * from tumbling_test").collect()
    want = tumbling_counts(ev).collect()  # same fn works on batch df
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))
    assert len(got) > 0


def test_stream_stream_interval_join_plan_and_batch_parity(spark, tmp_path):
    """The interval join must compile to a StreamingSymmetricHashJoin
    (watermark-bounded state on both sides), and its drained output
    must equal the same helper run on batch frames."""
    from miba_2023_capstone_rb_nlp_spark.streaming.joins import interval_join

    ev = catalog.table(spark, SF_TEST_DIR, "events")
    path = str(tmp_path / "events_parquet3")
    ev.write.parquet(path)

    def read(event_type):
        s = spark.readStream.schema(ev.schema).parquet(path)
        return s.filter(F.col("event_type") == event_type).select(
            "event_id", "ts", "user_id"
        )

    joined = interval_join(
        read("view"), read("click"), key="user_id"
    ).select(
        F.col("l.event_id").alias("view_id"),
        F.col("r.event_id").alias("click_id"),
    )
    q = (
        joined.writeStream.format("memory")
        .queryName("ssj_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    plan = q._jsq.explainInternal(True)
    assert "StreamingSymmetricHashJoin" in plan
    got = spark.sql("select * from ssj_test").collect()

    def batch(event_type):
        return ev.filter(F.col("event_type") == event_type).select(
            "event_id", "ts", "user_id"
        )

    want = (
        interval_join(batch("view"), batch("click"), key="user_id")
        .select(
            F.col("l.event_id").alias("view_id"),
            F.col("r.event_id").alias("click_id"),
        )
        .collect()
    )
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))
    assert len(got) > 0


def test_checkpoint_restart_preserves_dedup_state(spark, tmp_path):
    """Exactly-once across a stop/restart: the watermarked dedup
    state and the file-sink commit log both live in the checkpoint,
    so a link already seen before the stop is STILL suppressed when
    it reappears after the restart, and nothing is double-written.
    This is the operational property that makes the ingest resumable
    on a real cluster (driver loss, deploy, autoscale)."""
    src = tmp_path / "links_in"
    sink = str(tmp_path / "links_out")
    ckpt = str(tmp_path / "ckpt")

    def run_once():
        stream = read_link_stream(spark, str(src))
        q = (
            dedup_links(stream)
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    _write_link_batch(src, "b1.jsonl", [_link(i) for i in (1, 2, 3)])
    run_once()
    # batch 2 re-delivers link 3 (at-least-once upstream) + two new
    _write_link_batch(src, "b2.jsonl", [_link(i) for i in (3, 4, 5)])
    run_once()

    out = spark.read.parquet(sink)
    links = sorted(r["se_link"] for r in out.select("se_link").collect())
    assert links == [f"https://ex.com/{i}" for i in (1, 2, 3, 4, 5)]


def test_drop_duplicates_within_watermark_semantics(spark, tmp_path):
    """dropDuplicatesWithinWatermark: a duplicate key arriving within
    the watermark delay is suppressed EVEN IF its event time differs
    (exact-key dropDuplicates would keep it), and the key's dedup
    state expires once the watermark passes first-seen + delay — so
    the same key is legitimately emitted again later. This is the
    at-least-once-upstream dedup contract for sources that re-stamp
    timestamps on redelivery; state stays bounded by the delay."""
    src = tmp_path / "ev_in"
    sink = str(tmp_path / "ev_out")
    ckpt = str(tmp_path / "ev_ckpt")

    def _write(name, rows):
        src.mkdir(parents=True, exist_ok=True)
        with open(src / name, "w") as f:
            for rid, ts in rows:
                f.write(json.dumps({"rid": rid, "ts": ts}) + "\n")

    def run_once():
        stream = (
            spark.readStream.schema("rid string, ts timestamp")
            .json(str(src))
        )
        q = (
            stream.withWatermark("ts", "30 minutes")
            .dropDuplicatesWithinWatermark(["rid"])
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    # batch 1: same key twice with DIFFERENT event times, 5 min apart
    # (inside the 30-min delay) → exactly one survivor
    _write("b1.jsonl", [("a", "2024-01-01T10:00:00Z"),
                        ("a", "2024-01-01T10:05:00Z")])
    run_once()
    # batch 2: unrelated key far in the future advances the watermark
    # to 11:30, past a's first-seen (10:00) + 30 min → a's state drops
    _write("b2.jsonl", [("b", "2024-01-01T12:00:00Z")])
    run_once()
    # batch 3: key a returns after expiry → emitted AGAIN
    _write("b3.jsonl", [("a", "2024-01-01T12:05:00Z")])
    run_once()

    out = spark.read.parquet(sink)
    counts = {
        r["rid"]: r["n"]
        for r in out.groupBy("rid").agg(F.count("*").alias("n")).collect()
    }
    assert counts == {"a": 2, "b": 1}
