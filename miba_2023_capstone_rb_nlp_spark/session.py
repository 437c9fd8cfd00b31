"""SparkSession factory tuned for this engine.

Defaults target the driver harness (single JVM ``local[N]``) but every
knob is chosen so the same plan scales to a multi-executor cluster:
AQE for runtime re-planning (skew joins, partition coalescing),
Arrow for pandas-UDF transfer, UTC session time so timestamp semantics
are engine-independent, and explicit shuffle-partition sizing.
"""

from __future__ import annotations

import os
import re
import sys

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_SHUFFLE", "32"))
# Absolute ceiling on a FORCED broadcast's build rows, whatever the
# session's byte budget: ~160 MB of 16 B rows, inside executor/driver
# budgets on any real cluster (see broadcast_limit_rows).
BROADCAST_MAX_ROWS = 10_000_000


def get_spark(
    app_name: str = "miba-rb-nlp-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or fetch) a SparkSession with the engine's standard conf.

    Scale notes: on a real cluster ``master``/memory come from
    spark-submit; everything set here is cluster-safe. AQE coalesces
    the fixed shuffle-partition count at runtime, so 32 locally and
    2000 on a 1000-executor cluster use the same code path.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]"))
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        # Runtime re-planning: partition coalescing, skew-join splitting,
        # dynamic broadcast conversion — essential at 100 TB.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Arrow batches for every pandas UDF / toPandas boundary.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # Timestamp semantics independent of host timezone (parity with
        # the DuckDB oracle, which treats naive timestamps as-is).
        .config("spark.sql.session.timeZone", "UTC")
        # Keep broadcast threshold explicit: dims (region/nation/
        # customer-agg side) broadcast; fact tables never do.
        .config("spark.sql.autoBroadcastJoinThreshold", "64MB")
        # The driver's events table carries TIMESTAMP(NANOS) parquet,
        # which Spark rejects; read as long and convert in catalog.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # InferFiltersFromGenerate (SPARK-32295) pre-filters
        # explode(arr) with size(arr)>0 AND isnotnull(arr) — but
        # PushDownPredicates then substitutes the array's DEFINING
        # EXPRESSION into that filter and sinks it below the
        # parallelizing exchange, so every derived-array explode
        # (shingles, n-gram hashes, chunk windows) evaluates its
        # whole tokenize+hash expression TWICE, the first time on the
        # unparallelized scan side (measured r15: the filter clone of
        # a 4-gram md5 array ran on the single scan task of each
        # sf file). The inferred filter only skips empty-array rows
        # — never worth a doubled corpus-wide expression at any
        # scale, so the rule is excluded session-wide (plan-pinned by
        # tests; results are unaffected by construction — the rule
        # only adds redundant filters).
        .config(
            "spark.sql.optimizer.excludedRules",
            "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
        )
        # Report the SORTED BY order of bucketed scans (r15, guide §6):
        # the merge/upsert layouts are written bucketed+sorted with ONE
        # file per bucket precisely so the full-outer merge can consume
        # the scans ordered — but since 3.0 Spark only reports bucketed
        # output PARTITIONING by default and re-sorts both sides every
        # merge. This flag restores the ordering report, which still
        # carries the single-file-per-bucket guard (multi-file buckets
        # keep their Sort), so it is a no-op for any layout that isn't
        # exactly the one-sorted-file-per-bucket contract.
        .config("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
        # Generated-class cache (default 100 entries): the suite runs
        # ~70 distinct queries, several codegen stages each — at 100
        # the cache thrashes and repeat runs recompile (janino) the
        # wide dim-expanded expressions, costing seconds per query.
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def _parse_conf_bytes(raw: str) -> int:
    """Spark size-conf string → bytes ("10485760", "10MB", "1g",
    "-1"), matching JavaUtils.byteStringAs: an INTEGER count plus an
    optional unit suffix. Fractional sizes ("1.5m") are rejected
    exactly as the session itself would refuse them — accepting a
    value the session would error on would gate the broadcast off a
    conf that cannot exist (ADVICE r12). Unparseable values fall back
    to the 10 MB built-in default rather than raising — a mis-set
    conf shouldn't kill the query, only the gate's precision — and
    the fallback is announced on stderr (ADVICE r12): a silently
    defaulted budget would force broadcasts sized to a threshold the
    operator never set."""
    s = raw.strip().lower().removesuffix("b")
    mult = 1
    for suffix, m in (
        ("k", 1 << 10),
        ("m", 1 << 20),
        ("g", 1 << 30),
        ("t", 1 << 40),
        ("p", 1 << 50),
    ):
        if s.endswith(suffix):
            s, mult = s[: -len(suffix)], m
            break
    # digits-only like JavaUtils' ([0-9]+)([a-z]+)? — a bare int()
    # would also admit '+10m', '1_0m' and inner whitespace, all of
    # which the session itself rejects. Leading '-' is allowed only
    # because Spark special-cases a negative threshold as "disabled".
    if re.fullmatch(r"-?[0-9]+", s):
        return int(s, 10) * mult
    print(
        "broadcast gate: unparseable "
        f"spark.sql.autoBroadcastJoinThreshold {raw!r}; falling "
        "back to the 10 MB built-in default",
        file=sys.stderr,
    )
    return 10 << 20


def broadcast_limit_rows(spark: SparkSession, row_bytes: int) -> int:
    """Rows under which a build side of ``row_bytes``-wide rows may be
    FORCE-broadcast.

    A forced broadcast is for build sides whose TRUE size Spark
    misjudges (a narrow projection of a wide file, a pruned dim), so
    the faithful gate is: would rows × row_bytes pass the session's
    own ``spark.sql.autoBroadcastJoinThreshold``? Driving the gate off
    that conf means cluster operators tune ONE broadcast knob;
    BROADCAST_MAX_ROWS stays as an absolute ceiling (and as the test
    seam). A threshold of -1 (auto-broadcast disabled) disables the
    forced broadcast too — the operator asked for no broadcasts."""
    raw = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    threshold = _parse_conf_bytes(raw)
    if threshold <= 0:
        return 0
    return min(BROADCAST_MAX_ROWS, threshold // row_bytes)
