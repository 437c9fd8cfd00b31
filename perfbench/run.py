"""Benchmark entry point.

    python3 perfbench/run.py --workload news_pipeline --seed 1 --seconds 10 --trace 0

Runs one workload (news_pipeline, analytics_mix or event_stream) in a
single Spark session on ``local[<cores>]``, measures for ``--seconds``
seconds after set-up and warm-up, checks the program's outputs, and
prints one JSON object as the last line of standard output. With
``--trace 0`` it reports the end-to-end metrics; with ``--trace 1`` it
alternates traced and untraced ops and reports the per-layer metrics.
Everything it writes stays under ``.perfbench/`` in the checkout; the
per-run record (set-up, metrics, spans) is kept in
``.perfbench/results/``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import shutil
import subprocess
import sys
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "miba_2023_capstone_rb_nlp_spark"
SETUP_REPS = 3
# Closed-loop ops take 4-9 s, so at least two of them run whatever the
# window, and an 8 s window never fits a third: the sample count does
# not flip with host speed.
MIN_OPS = 2
WORKLOADS = {
    "news_pipeline": ("news", "NewsPipeline"),
    "analytics_mix": ("analytics", "AnalyticsMix"),
    "event_stream": ("stream", "EventStream"),
}


def _cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def host_window(before: list[int], after: list[int]) -> dict:
    """Steal and idle shares of all CPU time between two /proc/stat
    samples (fields: user nice system idle iowait irq softirq steal)."""
    d = [b - a for a, b in zip(before, after)]
    total = sum(d[:8]) or 1
    return {"steal_pct": 100.0 * d[7] / total, "idle_pct": 100.0 * (d[3] + d[4]) / total}


class MemorySampler:
    """Peak resident memory of this process and all its descendants
    (the driver JVM and the Python workers), sampled every 0.2 s. Each
    process counts its proportional set size, so pages that forked
    Python workers share with their daemon count once."""

    def __init__(self, pid: int):
        self.pid = pid
        self.samples: list[tuple[float, float]] = []  # (time, MB)
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _tree_pss(self) -> float:
        parent: dict[int, int] = {}
        for d in os.listdir("/proc"):
            if d.isdigit():
                try:
                    with open(f"/proc/{d}/stat") as f:
                        parent[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
                except (OSError, IndexError, ValueError):
                    continue
        tree, frontier = {self.pid}, [self.pid]
        while frontier:
            p = frontier.pop()
            kids = [c for c, pp in parent.items() if pp == p and c not in tree]
            tree.update(kids)
            frontier += kids
        kib = 0
        for p in tree:
            try:
                with open(f"/proc/{p}/smaps_rollup") as f:
                    kib += next(int(line.split()[1]) for line in f if line.startswith("Pss:"))
            except (OSError, StopIteration, ValueError):
                continue
        return kib / 1024

    def _run(self) -> None:
        while not self._stop.is_set():
            self.samples.append((time.perf_counter(), self._tree_pss()))
            self._stop.wait(0.2)

    @property
    def peak_mb(self) -> float:
        return max(mb for _, mb in self.samples)

    def median_mb(self, t0: float, t1: float) -> float:
        """Median footprint between two perf_counter times."""
        from spans import median

        return median([mb for t, mb in self.samples if t0 <= t <= t1])

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()


def host_probe_s() -> float:
    """Seconds a fixed pure-Python loop takes: a reading of host speed
    that no program change can move, to tell host drift from a
    regression."""
    t = time.perf_counter()
    x = 0
    for i in range(1_000_000):
        x += i * i % 7
    return time.perf_counter() - t


def program_digest() -> str:
    """Content hash of the program package (the checkout is not a git
    repository, so this identifies the code measured)."""
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, PACKAGE)
    for dirpath, dirnames, files in sorted(os.walk(pkg)):
        dirnames.sort()
        for name in sorted(files):
            if name.endswith(".py"):
                path = os.path.join(dirpath, name)
                h.update(os.path.relpath(path, ROOT).encode())
                with open(path, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()[:16]


def git_commit() -> str | None:
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() if out.returncode == 0 else None


def java_version() -> str | None:
    try:
        out = subprocess.run(["java", "-version"], capture_output=True, text=True, timeout=30)
    except (OSError, subprocess.TimeoutExpired):
        return None
    return (out.stderr.splitlines() or [""])[0]


def stop_session(spark) -> None:
    """Stop Spark, then close the JVM's stdin (it exits on EOF) and
    wait until it has exited; the Python workers die with it."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=120)


def start_session(work: str, cores: int):
    from miba_2023_capstone_rb_nlp_spark.session import get_spark

    spark = get_spark(
        app_name="perfbench",
        master=f"local[{cores}]",
        shuffle_partitions=cores,
        extra_conf={
            "spark.driver.memory": "2g",
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            # keep every stage, job and execution of a run in the status
            # store, so spans resolve after the timed window
            "spark.ui.retainedStages": "100000",
            "spark.ui.retainedJobs": "100000",
            "spark.sql.ui.retainedExecutions": "100000",
            "spark.sql.streaming.numRecentProgressUpdates": "10000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def closed_loop(wl, tracer, seconds: float, trace: bool) -> dict:
    """Run ops back to back until ``seconds`` have passed and at least
    MIN_OPS ops have run. Under tracing, even ops are traced and odd
    ops are not, so the run measures its own tracing overhead."""
    samples: list[float] = []
    op_walls: dict[bool, list[float]] = {True: [], False: []}
    attempted = failed = ops = 0
    t0 = time.perf_counter()
    while ops < MIN_OPS or time.perf_counter() - t0 < seconds:
        traced = trace and ops % 2 == 0
        tracer.enabled, tracer.op = traced, ops
        a = time.perf_counter()
        try:
            lat, n_ok, n_bad = wl.op()
        except Exception:  # a failed op counts against correctness
            traceback.print_exc()
            lat, n_ok, n_bad = [], 0, 1
        op_walls[traced].append(time.perf_counter() - a)
        samples += lat
        attempted += n_ok + n_bad
        failed += n_bad
        ops += 1
    tracer.enabled = False
    return {"samples": samples, "elapsed": time.perf_counter() - t0, "ops": ops,
            "attempted": attempted, "failed": failed, "op_walls": op_walls}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path[:0] = [ROOT, HERE]
    try:
        __import__(PACKAGE)
        import pyspark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the program is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    from spans import TRACE_LAYERS, SparkStatus, Tracer, median, self_times, tail_quantile

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    module, name = WORKLOADS[args.workload]
    cls = getattr(__import__(module), name)

    work = os.path.join(ROOT, ".perfbench", f"{args.workload}-{os.getpid()}")
    results = os.path.join(ROOT, ".perfbench", "results")
    for d in ("spark-local", "tmp", "warehouse"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.makedirs(results, exist_ok=True)
    # Python workers import the package from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    cores = len(os.sched_getaffinity(0))

    spark = None
    probe0, cpu0 = host_probe_s(), _cpu_times()
    try:
        with MemorySampler(os.getpid()) as mem:
            t = time.perf_counter()
            spark = start_session(work, cores)
            session_s = time.perf_counter() - t
            tracer = Tracer(SparkStatus(spark))
            wl = cls(spark, work, args.seed, tracer, args.seconds)
            prep_s = []
            for rep in range(SETUP_REPS):
                t = time.perf_counter()
                wl.prepare(rep)
                prep_s.append(time.perf_counter() - t)
            t = time.perf_counter()
            wl.warm_up()
            warm_s = time.perf_counter() - t
            cpu1, t_run = _cpu_times(), time.perf_counter()
            if wl.open_loop:
                run = wl.run(args.seconds, bool(args.trace))
            else:
                run = closed_loop(wl, tracer, args.seconds, bool(args.trace))
            cpu2, t_end = _cpu_times(), time.perf_counter()
            bad = wl.check()
            layers = wl.layers(run) if args.trace else {}
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)

    import pyspark

    samples = run["samples"]
    tail, q = tail_quantile(samples, wl.tail_q)
    attempted = run["attempted"] + wl.check_attempted
    failed = run["failed"] + bad
    setup = {
        "workload": args.workload, "loop": wl.loop, "seed": args.seed,
        "seconds": args.seconds, "trace": args.trace,
        "master": f"local[{cores}]", "default_parallelism": cores,
        "shuffle_partitions": cores, "nproc": cores, "cpu_count": os.cpu_count(),
        "pyspark": pyspark.__version__, "java": java_version(),
        "python": platform.python_version(), "git_commit": git_commit(),
        "program_digest": program_digest(),
        "setup_parts_s": {"session": session_s, "prepare": prep_s, "warm_up": warm_s},
        "samples": len(samples), "tail_quantile": q, "ops": run["ops"],
        "host_setup": host_window(cpu0, cpu1), "host_run": host_window(cpu1, cpu2),
        "host_probe_s": [probe0, host_probe_s()],
        "memory_pss_mb": {"peak": mem.peak_mb, "run_median": mem.median_mb(t_run, t_end)},
        **wl.describe(),
    }
    if args.trace:
        # every workload reports every layer; a layer it never calls reads 0
        units = [u for m in ("news", "analytics", "stream") for u in __import__(m).LAYERS]
        layers["process.peak_pss_mb"] = mem.peak_mb
        metrics = {name: {"value": float(layers.get(name, 0.0)), "unit": unit}
                   for name, unit in units + TRACE_LAYERS + [("process.peak_pss_mb", "MB")]}
    else:
        metrics = {
            "setup_s": (session_s + median(prep_s) + warm_s, "s"),
            "latency_p50_s": (median(samples), "s"),
            "latency_tail_s": (tail, "s"),
            "throughput_per_s": (run["throughput"] if "throughput" in run
                                 else len(samples) / run["elapsed"], "1/s"),
        }
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}
    result = {"correct": failed == 0, "attempted": attempted, "failed": failed,
              "metrics": metrics}
    for s, self_s in zip(tracer.spans, self_times(tracer.spans)):
        s.stats["self_s"] = self_s
    with open(os.path.join(
            results, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"), "w") as f:
        json.dump({"setup": setup, "result": result,
                   "spans": [s.__dict__ for s in tracer.spans],
                   "stream_progress": getattr(wl, "progress", None)}, f, indent=1, default=str)
    print(json.dumps({"setup": setup}, default=str))
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
