"""bench.py's artifact and sidecar contract: the stdout line keeps
exactly the driver's keys and stays under its tail window by folding,
and the sidecar describes the host window, the live session and each
entry's work ledger read from Spark's status store."""

from __future__ import annotations

import json

import bench
from perfbench.spans import SparkStatus


def test_encode_line_folds_tail_first():
    timings = {f"q{i:03d}": 0.5 for i in range(200)}
    line, folded = bench.encode_line(timings, 0.1)
    assert len(line) <= bench.LINE_BUDGET
    payload = json.loads(line)
    assert set(payload) == {"metric", "value", "unit", "queries", "sf"}
    assert payload["value"] == round(sum(timings.values()), 2)
    # folding sacrifices the LAST-registered names, keeps the head
    assert "q000" in payload["queries"]
    assert bench.FOLD_KEY in payload["queries"]
    # the folded list names exactly the evicted entries, in registry order
    assert folded == list(timings)[-len(folded):]
    assert not set(folded) & set(payload["queries"])
    # the folded bucket carries the evicted entries' total time
    kept = sum(
        v for k, v in payload["queries"].items() if k != bench.FOLD_KEY
    )
    assert abs(kept + payload["queries"][bench.FOLD_KEY] - payload["value"]) < 0.1
    # a line that fits folds nothing
    line, folded = bench.encode_line({"a": 1.234, "b": 2.0}, 0.01)
    assert folded == [] and bench.FOLD_KEY not in json.loads(line)["queries"]


def test_host_window_stats_from_proc_stat_deltas():
    """The sidecar's host block derives steal/idle from cumulative
    /proc/stat jiffies over the run window — a burst-inflated
    recording then carries its own machine-readable evidence.
    Missing or malformed snapshots degrade to loadavg-only, never an
    exception (telemetry must not cost the run)."""
    start = [100, 0, 50, 800, 0, 0, 0, 50]
    end = [1100, 0, 150, 1300, 0, 0, 0, 450]
    # deltas: user 1000, system 100, idle 500, steal 400 → total 2000
    out = bench.host_window_stats(start, end)
    assert out["steal_pct"] == 20.0
    assert out["idle_pct"] == 25.0
    assert out["cpus"] >= 1 and out["loadavg_1m"] >= 0
    # degraded inputs: no crash, no steal keys
    for bad in (None, [1, 2, 3]):
        degraded = bench.host_window_stats(bad, end)
        assert "steal_pct" not in degraded
    # the live snapshot reader parses this host's real /proc/stat
    snap = bench._proc_stat_snapshot()
    assert snap is None or (len(snap) >= 8 and all(
        isinstance(v, int) for v in snap
    ))


def test_host_block_describes_the_live_session(spark):
    """The parallelism that ran comes from the session, not from
    ``os.cpu_count()``: the test session is local[4] on any host."""
    setup = bench.session_setup(spark, ["q198", "q199"])
    assert setup["master"] == "local[4]"
    assert setup["default_parallelism"] == 4
    shuffle = int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert setup["shuffle_partitions"] == shuffle
    assert setup["folded"] == ["q198", "q199"]
    json.dumps(setup)  # the sidecar must serialize it as is


def test_ledger_counts_the_stages_and_shuffle_a_repartition_adds(spark):
    status = SparkStatus(spark)
    df = spark.range(200)

    def plain() -> None:
        df.write.format("noop").mode("overwrite").save()

    def shuffled() -> None:
        df.repartition(2).write.format("noop").mode("overwrite").save()

    wall, base = bench.timed_rep(status, plain)
    assert wall > 0
    assert set(base) == {"jobs", "stages", "cpu_s", "shuffle_mb"}
    assert base["jobs"] >= 1 and base["stages"] >= 1
    assert base["shuffle_mb"] == 0.0
    _, more = bench.timed_rep(status, shuffled)
    assert more["stages"] > base["stages"]
    assert more["shuffle_mb"] > 0


def test_ledger_records_the_builder_seconds(spark):
    """``run_entry`` times the builder apart from the run: a builder
    that sleeps 50 ms before returning its plan reads build_s >= 0.05,
    and the build is part of the rep's wall time."""
    import time

    status = SparkStatus(spark)

    def slow_builder(spark, sf_dir):
        time.sleep(0.05)
        return spark.range(200)

    wall, ledger = bench.timed_rep(
        status, lambda: bench.run_entry(spark, slow_builder, "unused")
    )
    assert 0.05 <= ledger["build_s"] <= wall
    assert ledger["jobs"] >= 1
