"""Structured Streaming suite entry: the tumbling-window aggregation
executed as an actual stream (file source → watermark → windowed agg
→ memory sink, Trigger.AvailableNow) rather than as batch.

Complete output mode + AvailableNow drains the whole source before
returning, so the result equals the batch plan and shares the SAME
DuckDB oracle as ``events_tumbling_hourly`` — the point is proving
the window/watermark plan runs under the streaming engine unchanged
(streaming/windows.py). On a live cluster the source becomes a
file-drop/Kafka stream and the trigger a processing-time interval;
nothing else changes.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from miba_2023_capstone_rb_nlp_spark.catalog import (
    _set_utc,
    normalize_event_ts,
    read_parquet,
)
from miba_2023_capstone_rb_nlp_spark.streaming.windows import tumbling_counts
from miba_2023_capstone_rb_nlp_spark.suite import register
from miba_2023_capstone_rb_nlp_spark.suite.events import _TUMBLING_ORACLE

_TABLE = "events_tumbling_stream_result"

# State-store partition count at first stream start (see
# _state_partitions). Module-level so the partition-invariance lane
# can run the same stream at a prime count and assert identical
# results — the determinism axis for stateful streaming is the STATE
# partitioning, not the session shuffle conf (which _state_partitions
# deliberately overrides).
STATE_PARTITIONS = 8

_NO_DATA_BATCHES = "spark.sql.streaming.noDataMicroBatches.enabled"


class _state_partitions:
    """Scope spark.sql.shuffle.partitions around a stream start: the
    state-store partition count is FIXED at first start, so it must be
    sized to the stateful workload, not inherited from the batch conf.
    The dedup/window state here is ~10^5 keys — 8 partitions beat 32
    (~2×: fewer state stores to open/commit per micro-batch). On a
    real feed, size to keys×bytes per partition, not cores.

    Provider choice (measured r10, order-swapped same-JVM A/B on the
    stateful entry at sf0.1): the default HDFS-backed in-memory store
    wins at this state size (best 4.8 s vs RocksDB 5.6 s — the
    apparent RocksDB edge in one ordering was warm-JVM bias, gone
    when the arms swap). RocksDB becomes the right provider only when
    per-partition state outgrows executor memory (bounded heap,
    incremental snapshots) — the corpus-scale swap, not a local win.

    ``final_batch=False`` also turns off the no-data micro-batch for
    streams started in the block. After an availableNow drain that
    batch has 0 input rows; it only advances the watermark and evicts
    state. Drop it only where every output row is emitted in the batch
    that reads its input (a complete-mode aggregate, an inner join),
    never where the watermark itself releases rows (append-mode
    windows, event-time timeouts)."""

    def __init__(self, spark: SparkSession, n: int | None = None,
                 final_batch: bool = True):
        self.spark = spark
        self.confs = {"spark.sql.shuffle.partitions":
                      str(n if n is not None else STATE_PARTITIONS)}
        if not final_batch:
            self.confs[_NO_DATA_BATCHES] = "false"

    def __enter__(self):
        self.prev = {k: self.spark.conf.get(k) for k in self.confs}
        for k, v in self.confs.items():
            self.spark.conf.set(k, v)

    def __exit__(self, *exc):
        for k, v in self.prev.items():
            self.spark.conf.set(k, v)


def _events_schema(spark: SparkSession, sf_dir: str):
    """The raw events schema for a file-stream source: ts arrives as
    long nanos under spark.sql.legacy.parquet.nanosAsLong (converted
    like catalog.py by normalize_event_ts). The confs are set here too
    so each entry is order-independent under an external session that
    has not touched the catalog yet; the schema comes from the
    catalog's memoized read, so only a table's first read infers it."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    _set_utc(spark)  # warn-once UTC pin (catalog policy)
    return read_parquet(spark, os.path.join(sf_dir, "events.parquet")).schema


@register("events_tumbling_streaming", oracle=_TUMBLING_ORACLE)
def q_events_tumbling_streaming(spark: SparkSession, sf_dir: str) -> DataFrame:
    raw_schema = _events_schema(spark, sf_dir)
    # FileStreamSource rejects a bare file path ("basePath must be a
    # directory") but accepts a glob that matches it
    stream = (
        spark.readStream.schema(raw_schema)
        .parquet(os.path.join(sf_dir, "events.*"))
    )
    stream = normalize_event_ts(stream)
    out = tumbling_counts(stream, window="1 hour", watermark="2 hours")
    with _state_partitions(spark):
        query = (
            out.writeStream.outputMode("complete")
            .format("memory")
            .queryName(_TABLE)
            .trigger(availableNow=True)
            .start()
        )
        query.awaitTermination()
    return spark.table(_TABLE)


_DEDUP_TABLE = "events_stream_dedup_result"

_STREAM_DEDUP_ORACLE = """
SELECT event_type, count(*) AS n FROM events GROUP BY event_type
"""


@register("events_stream_dedup", oracle=_STREAM_DEDUP_ORACLE)
def q_events_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dedup under a watermark (the §2.10 ingest north star):
    the event stream is unioned with itself (every row arrives twice),
    dropDuplicates(event_id) with a watermark bounds the dedup state,
    and the per-type counts must equal the plain batch counts — the
    oracle proves the duplicates actually died. State for event-times
    older than the watermark is evicted, which is what makes this
    viable on an unbounded 100 TB/day feed."""
    raw_schema = _events_schema(spark, sf_dir)

    def read():
        # project to the three columns the query touches (dedup key,
        # watermark column, count key) BEFORE the stateful operator:
        # dropDuplicates keys the state by event_id but stores the
        # whole row for emission, so every extra column — notably the
        # JSON props payload — would be shuffled into and held in the
        # dedup state store (guide §2.3/§4: shuffle keys and needed
        # metadata, not payloads)
        return normalize_event_ts(
            spark.readStream.schema(raw_schema)
            .parquet(os.path.join(sf_dir, "events.*"))
        ).select("event_id", "ts", "event_type")

    doubled = read().unionByName(read())
    deduped = doubled.withWatermark("ts", "2 hours").dropDuplicates(["event_id"])
    counts = deduped.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    # final_batch=False: after the drain, the no-data batch (0 input
    # rows) re-ran the complete-mode aggregate over the full dedup
    # state and rewrote the sink with identical rows. availableNow
    # still honours source rate limits, which the deprecated
    # Trigger.Once ignored. (The cheap-state complete-mode drains —
    # tumbling, stream-static — were measured a wash and keep it.)
    with _state_partitions(spark, final_batch=False):
        query = (
            counts.writeStream.outputMode("complete")
            .format("memory")
            .queryName(_DEDUP_TABLE)
            .trigger(availableNow=True)
            .start()
        )
        query.awaitTermination()
    return spark.table(_DEDUP_TABLE)


def _split_events(spark: SparkSession, sf_dir: str):
    """Idempotent per-sf split copy of events (4 files) — a real feed
    arrives as many files; the single-parquet testdata can't exercise
    cross-batch state. Cache key includes a content fingerprint of the
    source (mtime + size) so regenerated testdata at the same path
    invalidates it. → (raw_schema, split_dir)."""
    raw_schema = _events_schema(spark, sf_dir)
    path = os.path.join(sf_dir, "events.parquet")
    sf_key = os.path.basename(sf_dir.rstrip("/"))
    st = os.stat(path)
    fingerprint = f"{int(st.st_mtime)}_{st.st_size}"
    split_dir = os.path.abspath(
        os.path.join(
            os.path.dirname(os.path.abspath(__file__)), "..", "..",
            ".stream_cache", f"events_{sf_key}_{fingerprint}",
        )
    )
    if not os.path.isdir(split_dir) or not any(
        f.endswith(".parquet") for f in os.listdir(split_dir)
    ):
        events = read_parquet(spark, path)
        events.repartition(4).write.mode("overwrite").parquet(split_dir)
    return raw_schema, split_dir


_STATEFUL_TABLE = "events_stateful_running_result"

_STATEFUL_ORACLE = """
SELECT user_id, count(*) AS n_events,
       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
FROM events GROUP BY user_id
"""


@register("events_stateful_running", oracle=_STATEFUL_ORACLE)
def q_events_stateful_running(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator (applyInPandasWithState): per-user
    running count + exact money sum, carried across REAL micro-batch
    boundaries — the source is the events table split into 4 files
    with maxFilesPerTrigger=1, so state must survive 4 batches for the
    final totals to match the batch oracle. The update-mode memory
    sink keeps every emission; max_by(n_events) reduces to the last
    one per user."""
    from miba_2023_capstone_rb_nlp_spark.streaming.stateful import (
        running_user_stats,
    )

    raw_schema, split_dir = _split_events(spark, sf_dir)
    stream = (
        spark.readStream.schema(raw_schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(split_dir)
    )
    stream = normalize_event_ts(stream)
    out = running_user_stats(stream)
    with _state_partitions(spark):
        query = (
            out.writeStream.outputMode("update")
            .format("memory")
            .queryName(_STATEFUL_TABLE)
            .trigger(availableNow=True)
            .start()
        )
        query.awaitTermination()
    emissions = spark.table(_STATEFUL_TABLE)
    return emissions.groupBy("user_id").agg(
        F.max("n_events").alias("n_events"),
        F.max_by("sum_value", "n_events").alias("sum_value"),
    )


_SSJ_TABLE = "events_stream_stream_join_result"

_SSJ_ORACLE = """
SELECT v.user_id, v.event_id AS view_id, c.event_id AS click_id
FROM events v JOIN events c
  ON v.user_id = c.user_id
 AND c.ts >= v.ts AND c.ts <= v.ts + INTERVAL '2 hours'
WHERE v.event_type = 'view' AND c.event_type = 'click'
"""


@register("events_stream_stream_join", oracle=_SSJ_ORACLE)
def q_events_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream interval join (streaming/joins.py):
    every view matched to the same user's clicks within the next 2
    hours, run under the streaming engine as a
    StreamingSymmetricHashJoin with watermark-bounded state on both
    sides, append-mode output. AvailableNow drains the source, so the
    emitted pairs equal the batch/oracle interval join exactly."""
    from miba_2023_capstone_rb_nlp_spark.streaming.joins import interval_join

    raw_schema = _events_schema(spark, sf_dir)

    def read(event_type):
        s = normalize_event_ts(
            spark.readStream.schema(raw_schema)
            .parquet(os.path.join(sf_dir, "events.*"))
        )
        # two independent source scans (not one filtered twice): a
        # streaming self-join must not share one source node
        return s.filter(F.col("event_type") == event_type).select(
            "event_id", "ts", "user_id"
        )

    joined = interval_join(
        read("view"), read("click"), key="user_id",
        max_lag="2 hours", watermark="4 hours",
    ).select(
        F.col("l.user_id").alias("user_id"),
        F.col("l.event_id").alias("view_id"),
        F.col("r.event_id").alias("click_id"),
    )
    # final_batch=False: an INNER symmetric-hash join emits every
    # match in the batch that processes it; the no-data batch after
    # the drain only advanced the watermark and evicted state, a full
    # extra planning+state-commit round (~30% of the drain) that
    # appended nothing.
    with _state_partitions(spark, final_batch=False):
        query = (
            joined.writeStream.outputMode("append")
            .format("memory")
            .queryName(_SSJ_TABLE)
            .trigger(availableNow=True)
            .start()
        )
        query.awaitTermination()
    return spark.table(_SSJ_TABLE)


# --- foreachBatch incremental MERGE (CDC / lakehouse ingest) --------
# The remaining §2.10 ingest shape after windows/dedup/state/joins:
# a stream whose micro-batches UPSERT into a warehouse table at rest.
# Logical result = plain per-user aggregates (same oracle family as
# events_stateful_running), but the MECHANISM is the production one:
# foreachBatch + full-outer merge into a base BUCKETED by the merge
# key (the orders_merge_bucketed layout under a stream), so the
# 100 TB base never re-shuffles per batch — only the micro-batch's
# own partial aggregate moves.
_UPSERT_ORACLE = """
SELECT user_id, count(*) AS n_events,
       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
FROM events GROUP BY user_id
"""

_UPSERT_BUCKETS = 8


def _warehouse_dir(*parts: str) -> str:
    from miba_2023_capstone_rb_nlp_spark.catalog import warehouse_dir

    return warehouse_dir(*parts)


def merge_user_state(base: DataFrame, agg: DataFrame) -> DataFrame:
    """One micro-batch's CDC merge: running (n_events, sum_dec) state
    full-outer-merged with a batch partial aggregate on user_id.

    eqNullSafe, not "=": the batch aggregate keeps NULL user_ids as
    ONE group (matching the batch-oracle's GROUP BY), so the state
    merge must keep matching that group across batches too — a plain
    equi-join never matches NULL keys and would fragment them into
    one state row per micro-batch (ADVICE r6 #1; pinned by
    tests/test_merge_layout.py). <=> is still an equi-predicate, so the
    SortMergeJoin over the bucketed base is unchanged."""
    s, g = base.alias("s"), agg.alias("g")
    return s.join(
        g, F.col("s.user_id").eqNullSafe(F.col("g.user_id")), "full_outer"
    ).select(
        F.coalesce(F.col("s.user_id"), F.col("g.user_id")).alias("user_id"),
        (
            F.coalesce(F.col("s.n_events"), F.lit(0))
            + F.coalesce(F.col("g.b_n"), F.lit(0))
        ).alias("n_events"),
        (
            F.coalesce(F.col("s.sum_dec"), F.lit(0).cast("decimal(18,2)"))
            + F.coalesce(F.col("g.b_sum"), F.lit(0).cast("decimal(18,2)"))
        )
        .cast("decimal(18,2)")
        .alias("sum_dec"),
    )


def _write_bucketed_state(df: DataFrame, name: str, path: str) -> None:
    spark = df.sparkSession
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    (
        df.write.bucketBy(_UPSERT_BUCKETS, "user_id")
        .sortBy("user_id")
        .option("path", path)
        .mode("overwrite")
        .saveAsTable(name)
    )


@register("events_streaming_upsert", oracle=_UPSERT_ORACLE)
def q_events_streaming_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming ingest with per-batch MERGE: events stream in as a
    multi-file drop (maxFilesPerTrigger=1 → one micro-batch per
    file); each batch's per-user partial aggregate full-outer-merges
    into the running state table, ping-ponging between two bucketed
    tables (a table can't overwrite itself while being read). The
    final state must equal the one-shot batch aggregate — the oracle
    proves the incremental merges composed correctly across batches.

    Scale shape: state lives bucketed by user_id at rest, so the base
    side of every per-batch merge is exchange-free (pinned for the
    identical layout by tests/test_plans.py's bucketed-merge test);
    sums are exact DECIMAL across batches (associative — batch split
    cannot change the answer) and cast to double only at the end. On
    a real feed the sink is a transactional MERGE keyed additionally
    by batchId for exactly-once under retries; AvailableNow + memory
    state here keeps the harness hermetic.
    """
    from miba_2023_capstone_rb_nlp_spark.catalog import sf_name as _sfn

    sf_name = _sfn(sf_dir)  # alnum-safe: doubles as a table-name key
    # file-drop layout: the shared 4-file split staging copy (the same
    # fingerprint-cached source events_stateful_running streams from)
    # instead of a per-run projected rewrite of events — the old shape
    # paid a full batch write of the feed EVERY run just to stage it
    # (r15, guide §6: don't rewrite inputs you can read). The merge
    # needs only (user_id, value): projected in the stream read, so
    # parquet column pruning keeps ts/props bytes off the scan and the
    # per-batch aggregate. Batch composition differs from the old
    # projected drop (rows land in different files), but the per-batch
    # partials compose by exact-DECIMAL addition — associative, so the
    # final merged state is identical by construction.
    schema, split_dir = _split_events(spark, sf_dir)

    # table names keyed by scale factor, like the paths — two
    # sessions on different sf_dirs must not clobber each other
    tables = (f"stream_upsert_{sf_name}_a", f"stream_upsert_{sf_name}_b")
    # NOTE (r15, measured): the 32-task empty seed write looks
    # wasteful in stage metrics, but coalescing it to 1 partition
    # DOUBLED the entry (4.2 → 8.3 s interleaved A/B) — a zero-file
    # bucketed seed knocks the first micro-batch's merge off the
    # bucketed-scan path. Left as-is deliberately.
    empty = spark.createDataFrame(
        [], "user_id bigint, n_events bigint, sum_dec decimal(18,2)"
    )
    _write_bucketed_state(
        empty, tables[0], _warehouse_dir("stream_ingest", sf_name + "_a")
    )
    state = {"cur": 0, "batches": 0}

    def upsert(batch_df: DataFrame, batch_id: int) -> None:
        agg = batch_df.groupBy("user_id").agg(
            F.count(F.lit(1)).alias("b_n"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("decimal(18,2)")
            .alias("b_sum"),
        )
        merged = merge_user_state(spark.table(tables[state["cur"]]), agg)
        nxt = 1 - state["cur"]
        _write_bucketed_state(
            merged,
            tables[nxt],
            _warehouse_dir(
                "stream_ingest", sf_name + ("_a" if nxt == 0 else "_b")
            ),
        )
        state["cur"] = nxt
        state["batches"] += 1

    with _state_partitions(spark):
        query = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(split_dir)
            .select("user_id", "value")
            .writeStream.foreachBatch(upsert)
            .trigger(availableNow=True)
            .start()
        )
        query.awaitTermination()
    assert state["batches"] >= 2, (
        "streaming upsert must compose ACROSS micro-batches; the drop "
        f"folder produced only {state['batches']}"
    )
    return spark.table(tables[state["cur"]]).select(
        "user_id",
        "n_events",
        F.col("sum_dec").cast("double").alias("sum_value"),
    )


# --- transformWithState running user profiles (Spark 4 API) ----------
# GATED, not registered: the transformWithStateInPandas runtime spins
# up a streaming Python driver worker that imports google.protobuf,
# which is absent in this container — the stream crashes at START
# regardless of the processor's correctness (verified: state plumbing
# is exercised by tests/test_tws_plumbing.py with a fake handle, and
# the plan/schema builds; only the protobuf-backed runner is missing).
# On an environment with protobuf installed, register_tws_entry()
# promotes this to a full oracle-checked suite entry.
_TWS_TABLE = "events_tws_profiles_result"

_TWS_ORACLE = """
WITH base AS (
  SELECT user_id, count(*) AS n_events,
         CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
         count(DISTINCT event_type) AS n_types
  FROM events GROUP BY user_id
),
tc AS (
  SELECT user_id, event_type, count(*) AS c
  FROM events GROUP BY user_id, event_type
),
top AS (
  SELECT user_id, event_type AS top_type,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY c DESC, event_type ASC) AS rk
  FROM tc
)
SELECT b.user_id, b.n_events, b.sum_value,
       CAST(b.n_types AS BIGINT) AS n_types, t.top_type
FROM base b JOIN top t ON b.user_id = t.user_id AND t.rk = 1
"""


def q_events_tws_profiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user running profiles on the transformWithState API
    (Spark 4's arbitrary-state successor to applyInPandasWithState):
    a ValueState carries exact running totals and a MapState the
    per-event-type counts, across 4 REAL micro-batches. The update-
    mode memory sink keeps every snapshot; max_by(n_events) reduces
    to the final one per user, which must equal the batch aggregate
    (count, exact money sum, distinct types, deterministic
    top-type argmax)."""
    from miba_2023_capstone_rb_nlp_spark.streaming.tws import (
        running_user_profiles,
    )

    raw_schema, split_dir = _split_events(spark, sf_dir)
    stream = (
        spark.readStream.schema(raw_schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(split_dir)
    )
    stream = normalize_event_ts(stream)
    out = running_user_profiles(stream)
    with _state_partitions(spark):
        query = (
            out.writeStream.outputMode("update")
            .format("memory")
            .queryName(_TWS_TABLE)
            .trigger(availableNow=True)
            .start()
        )
        query.awaitTermination()
    emissions = spark.table(_TWS_TABLE)
    return emissions.groupBy("user_id").agg(
        F.max("n_events").alias("n_events"),
        F.max_by("sum_value", "n_events").alias("sum_value"),
        F.max_by("n_types", "n_events").alias("n_types"),
        F.max_by("top_type", "n_events").alias("top_type"),
    )


def register_tws_entry() -> None:
    """Opt-in registration for environments with protobuf installed
    (the transformWithState streaming runner's hard dependency)."""
    register("events_tws_profiles", oracle=_TWS_ORACLE)(
        q_events_tws_profiles
    )


# --- stream-static join ---------------------------------------------
# The §2.10 join surface not yet exercised: a STREAM joined to a
# STATIC dimension. Stream-static joins are stateless by definition
# (only the stream side accumulates; the static side is re-resolved
# at every micro-batch — the mechanism that lets a slowly-changing
# dim refresh mid-stream without restarting the query), so no
# watermark is involved and the result must equal the plain batch
# join — which IS the oracle.
_STREAM_STATIC_TABLE = "events_stream_static_result"
_STREAM_STATIC_ORACLE = """
SELECT c.c_mktsegment AS segment, e.event_type,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
FROM events e JOIN customer c ON e.user_id = c.c_custkey
GROUP BY 1, 2
"""


@register("events_stream_static_join", oracle=_STREAM_STATIC_ORACLE)
def q_events_stream_static_join(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Streamed events enriched by the static customer dim, then
    aggregated per (segment, event_type).

    Plan: the dim rides a BROADCAST into every micro-batch (a
    stream-static join cannot stateful-shuffle the static side, and
    without the hint a large dim would re-shuffle per trigger); the
    aggregate state is |segments × types| rows — bounded regardless
    of stream length. Complete mode + AvailableNow drains the source,
    so the streamed result must hash-equal the batch join the oracle
    states. At scale the static side refreshes per micro-batch from
    its table location — the standard slowly-changing-dimension
    pattern."""
    from miba_2023_capstone_rb_nlp_spark import catalog
    from miba_2023_capstone_rb_nlp_spark.functions.numeric import dsum

    raw_schema = _events_schema(spark, sf_dir)
    stream = spark.readStream.schema(raw_schema).parquet(
        os.path.join(sf_dir, "events.*")
    )
    cust = catalog.table(spark, sf_dir, "customer").select(
        "c_custkey", F.col("c_mktsegment").alias("segment")
    )
    joined = stream.join(
        F.broadcast(cust), stream["user_id"] == F.col("c_custkey")
    )
    out = joined.groupBy("segment", "event_type").agg(
        F.count(F.lit(1)).alias("n"), dsum("value").alias("sum_value")
    )
    with _state_partitions(spark):
        query = (
            out.writeStream.outputMode("complete")
            .format("memory")
            .queryName(_STREAM_STATIC_TABLE)
            .trigger(availableNow=True)
            .start()
        )
        query.awaitTermination()
    return spark.table(_STREAM_STATIC_TABLE)
