#!/usr/bin/env python
"""Benchmark: run every suite entry at $SPARK_GRAFT_SF_DIR (default:
the sf0.1 test data, see SF_DIR) and print ONE JSON line on stdout:
{"metric", "value" (total sec), "unit", "queries", "sf"}.

This is the driver's headline line plus a per-entry work ledger, not
the regression gate. End-to-end regressions are judged by
``perfbench/`` (seeded workloads with fixed bounds, see
BENCHMARK.json). Per-entry regressions are judged from the work
counters this run writes to ``bench_detail_sf<sf>.json``: the jobs,
stages, executor CPU seconds and shuffle MB of each entry's best rep,
read from Spark's status store, and the seconds its builder took to
return the lazy plan (``build_s``). Those counters barely move with host
load, while a full sweep's wall total swings 10-25 s between windows
of one day on a shared host.

Each entry runs REPS times, forced to full materialization via the
noop sink (no driver collect — measures the distributed plan, not
toPandas), and records its best rep."""

from __future__ import annotations

import json
import os
import sys
import time

_REPO_DIR = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, _REPO_DIR)

from miba_2023_capstone_rb_nlp_spark.session import get_spark  # noqa: E402
from miba_2023_capstone_rb_nlp_spark.suite import load_suite  # noqa: E402
from perfbench.spans import SparkStatus  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# best-of-N per entry: the first reps of an entry pay its codegen
# compile, which finishes C2 compilation only after a few invocations
# (the flagship was measured flat at reps 2-3 and at its plateau from
# rep 4), and single reps on a shared host carry GC/load spikes
REPS = 4

# The driver records only the LAST 2000 chars of stdout; a 2044-char
# line once lost its head and failed to parse. Keep the line safely
# under the window: compact separators, 2-decimal timings, and — only
# if still too long — fold the last-registered (lowest-priority)
# entries into one "_folded" aggregate, regardless of their cost.
LINE_BUDGET = 1900

# fold key: leading underscore cannot collide with a registry entry
# (suite names are importable identifiers chosen without underscore
# prefixes; enforced at fold time below)
FOLD_KEY = "_folded"


def detail_sidecar_path(sf_val) -> str:
    """Per-sf sidecar with EVERY entry's reps, best and work ledger —
    including the entries the stdout line folds into "_folded"."""
    return os.path.join(_REPO_DIR, f"bench_detail_sf{sf_val}.json")


def _proc_stat_snapshot() -> list[int] | None:
    """Cumulative CPU jiffies from /proc/stat's aggregate line
    (user nice system idle iowait irq softirq steal ...), or None
    where the file doesn't exist (non-Linux)."""
    try:
        with open("/proc/stat") as f:
            return list(map(int, f.readline().split()[1:]))
    except (OSError, ValueError):
        return None


def host_window_stats(start: list[int] | None,
                      end: list[int] | None) -> dict:
    """Host telemetry over the recording window: load average, host
    cores, and steal%/idle% from /proc/stat deltas, so a run recorded
    under co-tenant load carries its own evidence. steal only accrues
    while the guest wants CPU, so it understates contention during
    idle stretches, but a loaded window still reads clearly higher
    than a quiet one on the same suite."""
    out: dict = {}
    try:
        out["loadavg_1m"] = round(os.getloadavg()[0], 2)
        out["cpus"] = os.cpu_count()
    except (OSError, AttributeError):
        pass
    if start and end and len(start) >= 8 and len(end) >= 8:
        d = [e - s for s, e in zip(start, end)]
        tot = sum(d)
        if tot > 0:
            out["steal_pct"] = round(100.0 * d[7] / tot, 2)
            out["idle_pct"] = round(100.0 * d[3] / tot, 2)
    return out


def session_setup(spark, folded: list[str]) -> dict:
    """What actually ran, read from the live session rather than the
    host: ``cpus`` in the host block counts the machine's cores, which
    says nothing about the master's parallelism. ``folded`` names the
    entries the stdout line folded, so two runs compare fold to fold."""
    sc = spark.sparkContext
    return {
        "master": sc.master,
        "default_parallelism": sc.defaultParallelism,
        "shuffle_partitions": int(spark.conf.get("spark.sql.shuffle.partitions")),
        "folded": folded,
    }


def run_entry(spark, fn, sf_dir: str) -> float:
    """Build ``fn``'s plan and run it through the noop sink; return the
    seconds the build took: the builder call up to the returned lazy
    DataFrame, eager actions inside the builder included."""
    t0 = time.perf_counter()
    df = fn(spark, sf_dir)
    build = time.perf_counter() - t0
    df.write.format("noop").mode("overwrite").save()
    return build


def timed_rep(status: SparkStatus, action) -> tuple[float, dict]:
    """Run ``action`` once; return its wall seconds and its work
    ledger: the jobs and stages it started, and the executor CPU
    seconds and shuffle read+write MB of those stages, plus
    ``build_s`` when ``action`` returns its build seconds (as
    ``run_entry`` does). Spark work is synchronous under an action, so
    the stage ids allocated between the two watermarks are exactly
    this rep's; the status store is read after the timed region, once
    the listener bus has drained."""
    stage0, job0, _ = status.marks()
    t0 = time.perf_counter()
    build = action()
    wall = time.perf_counter() - t0
    stage1, job1, _ = status.marks()
    status.drain()
    cpu = shuffle = 0.0
    for sid in range(stage0, stage1):
        st = status.stage(sid)
        if st:
            cpu += st["cpu_s"]
            shuffle += st["shuffle_mb"]
    ledger = {
        "jobs": job1 - job0,
        "stages": stage1 - stage0,
        "cpu_s": round(cpu, 3),
        "shuffle_mb": round(shuffle, 3),
    }
    if build is not None:
        ledger["build_s"] = round(build, 3)
    return wall, ledger


def encode_line(timings: dict[str, float],
                sf_val: float | str) -> tuple[str, list[str]]:
    """The driver's stdout line, and the names folded into FOLD_KEY
    to keep it within LINE_BUDGET (in registry order)."""
    def dump(qs: dict[str, float]) -> str:
        return json.dumps(
            {
                "metric": "suite_total_runtime",
                "value": round(sum(timings.values()), 2),
                "unit": "sec",
                "queries": {k: round(v, 2) for k, v in sorted(qs.items())},
                "sf": sf_val,
            },
            separators=(",", ":"),
        )

    assert FOLD_KEY not in timings, f"registry entry shadows {FOLD_KEY!r}"
    qs = dict(timings)
    line = dump(qs)
    # fold the LAST-registered (lowest-priority) entries first; their
    # time still counts in "value" via the untouched `timings` sum
    fold_order = list(reversed(list(timings)))
    folded: list[str] = []
    total = 0.0
    while len(line) > LINE_BUDGET and fold_order:
        victim = fold_order.pop(0)
        folded.append(victim)
        total += qs.pop(victim)
        qs[FOLD_KEY] = round(total, 2)
        line = dump(qs)
    if len(line) > LINE_BUDGET:
        print(
            f"warning: bench line still {len(line)} chars > {LINE_BUDGET} "
            "after folding every entry; driver tail window may truncate it",
            file=sys.stderr,
        )
    return line, folded[::-1]


def _warm_up(spark) -> None:
    """Warm the JVM so the first registry entries aren't charged for
    one-time session init: codegen pipeline, parquet datasource +
    footer reader, shuffle/AQE machinery, broadcast exchange, window
    exec, and the Python worker pool (reused afterwards). Each is a
    fixed per-JVM cost, not a property of any query's plan."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    spark.range(1_000_000).selectExpr("sum(id)").collect()
    region = spark.read.parquet(os.path.join(SF_DIR, "region.parquet"))
    nation = spark.read.parquet(os.path.join(SF_DIR, "nation.parquet"))
    (
        nation.join(F.broadcast(region),
                    nation["n_regionkey"] == region["r_regionkey"])
        .groupBy("r_name")
        .count()
        .withColumn(
            "rk",
            F.row_number().over(Window.partitionBy(F.lit(1)).orderBy("count")),
        )
        .write.format("noop").mode("overwrite").save()
    )
    nation.mapInPandas(lambda it: it, schema=nation.schema).write.format(
        "noop"
    ).mode("overwrite").save()


def sf_of(sf_dir: str) -> float | str:
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    try:
        return float(sf)
    except ValueError:
        return sf


def main() -> None:
    host_t0 = _proc_stat_snapshot()
    spark = get_spark(app_name="miba-bench")
    spark.sparkContext.setLogLevel("ERROR")
    status = SparkStatus(spark)
    suite = load_suite()
    _warm_up(spark)
    # iterate in registry-priority order (load_suite() puts the
    # driver-checked core first) so encode_line's fold-from-the-end
    # sacrifices the deprioritized twins, never a core entry
    timings: dict[str, float] = {}
    details: dict[str, dict] = {}
    for name, q in suite.items():
        reps = [
            timed_rep(status, lambda: run_entry(spark, q.fn, SF_DIR))
            for _ in range(REPS)
        ]
        best, ledger = min(reps, key=lambda r: r[0])
        timings[name] = round(best, 3)
        details[name] = {
            "best": round(best, 3),
            "reps": [round(r[0], 3) for r in reps],
            **ledger,
        }
        # Measurement hygiene between entries, OUTSIDE the timed
        # region: suite queries persist fan-out bases and leave
        # shuffle files behind; letting caches pile up across the
        # sweep turns late queries into GC/cleanup victims (measured
        # multi-second spikes on queries that run ~1.5 s isolated).
        # An explicit driver GC lets ContextCleaner reclaim shuffle
        # state deterministically rather than mid-measurement.
        spark.catalog.clearCache()
        spark.sparkContext._jvm.System.gc()
    sf_val = sf_of(SF_DIR)
    line, folded = encode_line(timings, sf_val)
    # the FULL per-entry record (fold-immune) — the stdout line keeps
    # only what fits the driver's tail window; nothing here may cost
    # the run its line
    try:
        host = host_window_stats(host_t0, _proc_stat_snapshot())
        host.update(session_setup(spark, folded))
        with open(detail_sidecar_path(sf_val), "w") as f:
            json.dump(
                {
                    "sf": sf_val,
                    "total": round(sum(timings.values()), 2),
                    "reps_per_entry": REPS,
                    "host": host,
                    "queries": details,
                },
                f,
                indent=1,
                sort_keys=True,
            )
            f.write("\n")
    except Exception as e:  # noqa: BLE001
        print(f"sidecar write failed: {e!r}", file=sys.stderr)
    # stop Spark BEFORE printing: the JSON line must be the absolute
    # last stdout so the driver's 2000-char tail window contains it
    spark.stop()
    print(line, flush=True)


if __name__ == "__main__":
    main()
