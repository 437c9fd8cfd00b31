"""event_stream: open loop. A generator thread drops seeded event
files and link files into two input directories on a fixed schedule
that does not slow when Spark does, while three streaming queries run
concurrently on a processing-time trigger:
``streaming.windows.tumbling_counts`` and
``streaming.stateful.running_user_stats`` over the events, and
``streaming.ingest.dedup_links`` over the links. Latency runs from a
file's due time to the commit of the first micro-batch whose
cumulative input rows cover it."""

from __future__ import annotations

import json
import math
import os
import threading
import time
from datetime import datetime, timezone

import gen
import pandas as pd
from spans import median

from miba_2023_capstone_rb_nlp_spark.streaming.ingest import dedup_links, read_link_stream
from miba_2023_capstone_rb_nlp_spark.streaming.stateful import running_user_stats
from miba_2023_capstone_rb_nlp_spark.streaming.windows import tumbling_counts

INTERVAL_S = 0.25  # one event file and one link file per interval
EVENTS_PER_FILE = 125  # 500 events/s offered
LINKS_PER_FILE = 20
USERS = 500
# Spark fires processing-time triggers on the epoch-aligned grid of
# this interval; the generator's schedule is aligned to the same grid,
# so every run sees the same drop-to-trigger phases
TRIGGER_S = 2.0
DRAIN_TIMEOUT_S = 60.0
QUERIES = ("windows", "stateful", "ingest")
BATCH_PARTS = ("latestOffset", "getBatch", "queryPlanning", "addBatch", "walCommit",
               "commitOffsets")
LAYERS = [(f"streaming.{q}.{f}", u) for q in QUERIES
          for f, u in (("batch_s", "s"), ("commit_s", "s"), ("state_rows", "count"),
                       ("state_mb", "MB"))]
LAYERS += [("loadgen.lag_s", "s"), ("loadgen.backlog_files", "count")]


def write_atomic(directory: str, name: str, text: str) -> None:
    """Write then rename, so a directory listing never sees a partial file."""
    tmp = os.path.join(os.path.dirname(directory), "." + name)
    with open(tmp, "w") as f:
        f.write(text)
    os.rename(tmp, os.path.join(directory, name))


def _cents(values: pd.Series) -> pd.Series:
    return (values * 100).round().astype("int64")


def _epoch(iso: str) -> float:
    return datetime.strptime(iso, "%Y-%m-%dT%H:%M:%S.%fZ").replace(
        tzinfo=timezone.utc).timestamp()


def batch_commits(progress: list[dict]) -> list[tuple[float, int]]:
    """(commit time, cumulative input rows) per micro-batch, in order."""
    out, cum = [], 0
    for p in sorted(progress, key=lambda p: p["batchId"]):
        cum += p["numInputRows"]
        out.append((_epoch(p["timestamp"]) + p["durationMs"]["triggerExecution"] / 1e3, cum))
    return out


def file_latencies(due: list[float], rows_per_file: int,
                   commits: list[tuple[float, int]]) -> list[float | None]:
    """Per dropped file: commit time of the first batch whose
    cumulative rows cover it, minus the file's due time (None if no
    batch covered it). Files are listed in drop order, so batch k
    covers exactly the first cum_k / rows_per_file files."""
    out: list[float | None] = []
    j = 0
    for i, t_due in enumerate(due):
        need = (i + 1) * rows_per_file
        while j < len(commits) and commits[j][1] < need:
            j += 1
        out.append(commits[j][0] - t_due if j < len(commits) else None)
    return out


class LoadGenerator(threading.Thread):
    """Drops file i at t0 + i * INTERVAL_S, however far behind it runs."""

    def __init__(self, files: list[tuple[str, str]], dirs: tuple[str, str], t0: float):
        super().__init__(daemon=True)
        self.files, self.dirs, self.t0 = files, dirs, t0
        self.due = [t0 + i * INTERVAL_S for i in range(len(files))]
        self.lag: list[float] = []

    def run(self) -> None:
        for i, (events, links) in enumerate(self.files):
            wait = self.due[i] - time.time()
            if wait > 0:
                time.sleep(wait)
            write_atomic(self.dirs[0], f"e{i:05d}.json", events)
            write_atomic(self.dirs[1], f"l{i:05d}.json", links)
            self.lag.append(time.time() - self.due[i])


class EventStream:
    name = "event_stream"
    loop = (f"open, {1 / INTERVAL_S:g} event files and link files per second, "
            f"{EVENTS_PER_FILE / INTERVAL_S:g} events/s")
    open_loop = True
    tail_q = 0.95

    def __init__(self, spark, work: str, seed: int, tracer, seconds: float):
        self.spark, self.work, self.seed, self.tracer = spark, work, seed, tracer
        self.n_files = max(1, math.ceil(seconds / INTERVAL_S))
        self.check_attempted = len(QUERIES)

    def prepare(self, rep: int) -> None:
        drops = gen.event_drops(self.seed, self.n_files + 2, EVENTS_PER_FILE,
                                LINKS_PER_FILE, users=USERS)
        self.warm_drops, self.drops = drops[:2], drops[2:]
        self.files = [(gen.to_json_lines(d.events), gen.to_json_lines(d.links))
                      for d in drops]

    def _start(self, root: str, tag: str) -> dict:
        """Start the three queries over ``root``'s input directories."""
        spark, tr = self.spark, self.tracer
        ev_dir, lk_dir = (os.path.join(root, d) for d in ("events", "links"))
        for d in (ev_dir, lk_dir):
            os.makedirs(d, exist_ok=True)
        events = spark.readStream.schema(gen.EVENTS_SCHEMA).json(ev_dir)
        with tr.span("streaming.windows"):
            windows = tumbling_counts(events, window="1 hour", watermark="2 hours")
        with tr.span("streaming.stateful"):
            stateful = running_user_stats(events)
        with tr.span("streaming.ingest"):
            links = dedup_links(read_link_stream(spark, lk_dir), watermark="1 hour")
        plans = {"windows": (windows, "complete"), "stateful": (stateful, "update"),
                 "ingest": (links, "append")}
        self.dirs = (ev_dir, lk_dir)
        return {
            q: df.writeStream.format("memory").queryName(f"pb_{tag}_{q}")
            .outputMode(mode).trigger(processingTime=f"{TRIGGER_S:g} seconds")
            .option("checkpointLocation", os.path.join(root, "checkpoints", q)).start()
            for q, (df, mode) in plans.items()
        }

    @staticmethod
    def _rows_in(query) -> int:
        return sum(p["numInputRows"] for p in query.recentProgress)

    def _drain(self, queries: dict, n_files: int) -> None:
        want = {"windows": n_files * EVENTS_PER_FILE, "stateful": n_files * EVENTS_PER_FILE,
                "ingest": n_files * LINKS_PER_FILE}
        deadline = time.time() + DRAIN_TIMEOUT_S
        while time.time() < deadline:
            if all(self._rows_in(queries[q]) >= want[q] for q in QUERIES):
                return
            time.sleep(0.1)

    def warm_up(self) -> None:
        queries = self._start(os.path.join(self.work, "warm"), "warm")
        for i in range(len(self.warm_drops)):
            write_atomic(self.dirs[0], f"e{i:05d}.json", self.files[i][0])
            write_atomic(self.dirs[1], f"l{i:05d}.json", self.files[i][1])
        self._drain(queries, len(self.warm_drops))
        for q in queries.values():
            q.stop()

    def run(self, seconds: float, trace: bool) -> dict:
        self.tracer.enabled = trace
        queries = self._start(os.path.join(self.work, "run"), "run")
        self.tracer.enabled = False
        self.names = {q: queries[q].name for q in QUERIES}
        # first drop just after the next trigger
        start = (math.floor(time.time() / TRIGGER_S) + 1) * TRIGGER_S + 0.1
        gen_thread = LoadGenerator(self.files[2:], self.dirs, start)
        gen_thread.start()
        time.sleep(max(0.0, start + seconds - time.time()))
        covered = {q: self._rows_in(queries[q]) for q in QUERIES}
        gen_thread.join()
        self._drain(queries, len(self.drops))
        self.progress = {q: [json.loads(p.json) for p in queries[q].recentProgress]
                         for q in QUERIES}
        for q in queries.values():
            q.stop()

        dropped = sum(1 for d in gen_thread.due if d <= start + seconds)
        per_file = {"windows": EVENTS_PER_FILE, "stateful": EVENTS_PER_FILE,
                    "ingest": LINKS_PER_FILE}
        samples, missing = [], 0
        for q in QUERIES:
            lat = file_latencies(gen_thread.due, per_file[q], batch_commits(self.progress[q]))
            samples += [x for x in lat if x is not None]
            missing += sum(x is None for x in lat)
        self.loadgen = {
            "loadgen.lag_s": max(gen_thread.lag),
            "loadgen.backlog_files": dropped - min(covered[q] // per_file[q] for q in QUERIES),
        }
        return {"samples": samples, "ops": len(self.drops),
                "attempted": len(samples) + missing, "failed": missing,
                "throughput": self._capacity(("windows", "stateful"))}

    def _capacity(self, queries: tuple[str, ...]) -> float:
        """Input rows per second of micro-batch time over ``queries``:
        the rate they sustain at the batch sizes the offered load
        produces."""
        busy = [p for q in queries for p in self.progress[q] if p["numInputRows"]]
        secs = sum(p["durationMs"]["triggerExecution"] for p in busy) / 1e3
        return sum(p["numInputRows"] for p in busy) / secs if secs else 0.0

    def check(self) -> int:
        """Final outputs against batch recounts over every delivered event."""
        ev = pd.concat([d.events for d in self.drops], ignore_index=True)
        ev["cents"] = _cents(ev["value"])

        want = ev.assign(w=ev["ts"].dt.floor("h")).groupby(["w", "event_type"])["cents"]
        want = sorted((pd.Timestamp(w).isoformat(), t, int(n), int(c))
                      for (w, t), (n, c) in want.agg(["size", "sum"]).iterrows())
        got = self.spark.table(self.names["windows"]).toPandas()
        got = sorted((pd.Timestamp(w).isoformat(), t, int(n), int(c)) for w, t, n, c in zip(
            got["w_start"], got["event_type"], got["n"], _cents(got["sum_value"])))
        bad = int(want != got)

        # the last emission per user carries its running totals
        want = sorted((int(u), int(n), int(c)) for u, (n, c)
                      in ev.groupby("user_id")["cents"].agg(["size", "sum"]).iterrows())
        got = self.spark.table(self.names["stateful"]).toPandas()
        got = got.sort_values("n_events").groupby("user_id").last()
        got = sorted((int(u), int(n), int(c)) for u, n, c in zip(
            got.index, got["n_events"], _cents(got["sum_value"])))
        bad += int(want != got)

        links = pd.concat([d.links for d in self.drops], ignore_index=True)["se_link"]
        got = self.spark.table(self.names["ingest"]).toPandas()["se_link"]
        bad += int(len(got) != got.nunique() or set(got) != set(links))
        return bad

    def describe(self) -> dict:
        return {"files": len(self.drops), "interval_s": INTERVAL_S,
                "events_per_file": EVENTS_PER_FILE, "links_per_file": LINKS_PER_FILE,
                "trigger_s": TRIGGER_S, "batches": {q: len(self.progress[q]) for q in QUERIES}}

    def layers(self, run: dict) -> dict[str, float]:
        out = dict(self.loadgen)
        for q in QUERIES:
            busy = [p for p in self.progress[q] if p["numInputRows"]]
            d = [p["durationMs"] for p in busy]
            out[f"streaming.{q}.batch_s"] = median([x["triggerExecution"] / 1e3 for x in d])
            out[f"streaming.{q}.commit_s"] = median([
                (x.get("walCommit", 0) + x.get("commitOffsets", 0)
                 + sum(s.get("commitTimeMs", 0) for s in p["stateOperators"])) / 1e3
                for x, p in zip(d, busy)])
            last = self.progress[q][-1]["stateOperators"]
            out[f"streaming.{q}.state_rows"] = sum(s["numRowsTotal"] for s in last)
            out[f"streaming.{q}.state_mb"] = sum(s["memoryUsedBytes"] for s in last) / 1e6
        # spans do not reach inside micro-batches, so the run's one
        # latency is both the traced and the untraced figure, and the
        # coverage is the share of batch time progress breaks down
        lat = median(run["samples"])
        parts = total = 0.0
        for q in QUERIES:
            for p in self.progress[q]:
                d = p["durationMs"]
                total += d["triggerExecution"]
                parts += sum(d.get(k, 0) for k in BATCH_PARTS)
        out.update({"trace.traced_op_s": lat, "trace.untraced_op_s": lat,
                    "trace.span_coverage": parts / total if total else 0.0})
        return out
