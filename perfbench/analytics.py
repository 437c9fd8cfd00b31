"""analytics_mix: closed loop, one client. Each op is one round of a
fixed mix of read-only, oracle-backed suite queries over the seeded
star schema, ``documents`` and ``events``, in a seeded order; each
query is materialized through the noop sink. The mix leaves out the
layers other workloads own (wizard, cleaning, streaming) and every
entry that writes a layout."""

from __future__ import annotations

import hashlib
import os
import random
import sys
import time

import gen
from spans import traced_medians

from miba_2023_capstone_rb_nlp_spark.suite import load_suite
from tests.parity import canonicalize, duckdb_conn

SF = 0.01
# (suite entry, layer) — the layer is the entry's suite module, with
# the packing module pooled as "other"; a round takes 5-9 s on 4 cores
MIX = (
    ("forecast_revenue_q6", "relational"),
    ("late_shipment_priority_q12", "relational"),
    ("large_volume_customers_q18", "relational"),
    ("retention_cohorts", "events"),
    ("events_funnel_stages", "events"),
    ("events_asof_last_click", "temporal"),
    ("bpe_encode_stats", "text"),
    ("url_canonical_dedup", "curation"),
    ("weighted_sample_docs", "sampling"),
    ("neardup_components", "dedup"),
    ("knn_ivf_cells", "similarity"),
    ("bigram_topk", "retrieval"),
    ("part_triangle_counts", "graph"),
    ("hash_split_profile", "other"),
)
GROUPS = ("relational", "events", "temporal", "text", "curation", "sampling", "dedup",
          "similarity", "retrieval", "graph", "other")
FIELDS = (("wall_s", "s"), ("driver_s", "s"), ("jobs", "count"), ("cpu_s", "s"),
          ("shuffle_mb", "MB"))
LAYERS = [(f"suite.{g}.{f}", u) for g in GROUPS for f, u in FIELDS]
LAYERS += [("catalog.input_mb", "MB")]


def result_digest(pdf) -> str:
    """Order-insensitive digest of a query result: column names plus
    its canonical rows (the parity tests' canonicalization)."""
    return hashlib.sha256(repr((sorted(pdf.columns), canonicalize(pdf))).encode()).hexdigest()


class AnalyticsMix:
    name = "analytics_mix"
    loop = "closed, 1 client"
    open_loop = False
    tail_q = 0.9

    def __init__(self, spark, work: str, seed: int, tracer, seconds: float):
        self.spark, self.work, self.seed, self.tracer = spark, work, seed, tracer
        suite = load_suite()
        self.queries = [(name, group, suite[name]) for name, group in MIX]
        random.Random(seed).shuffle(self.queries)
        self.check_attempted = len(self.queries)
        self.mismatches = 0

    def prepare(self, rep: int) -> None:
        """Write the seeded tables and compute every oracle answer."""
        self.sf_dir = os.path.join(self.work, f"sf{rep}")
        self.rows = gen.write_star(self.seed, SF, self.sf_dir)
        con = duckdb_conn(self.sf_dir)
        try:
            self.expected = {name: result_digest(con.execute(q.oracle).df())
                             for name, _, q in self.queries}
        finally:
            con.close()

    def warm_up(self) -> None:
        """Run each query once, collected, and check it against its
        oracle: the correctness check of the run, outside the loop."""
        self.first_run_s = {}
        for name, _, q in self.queries:
            t = time.perf_counter()
            got = result_digest(q.fn(self.spark, self.sf_dir).toPandas())
            self.first_run_s[name] = time.perf_counter() - t
            if got != self.expected[name]:
                print(f"analytics_mix: {name} differs from its oracle", file=sys.stderr)
                self.mismatches += 1

    def op(self) -> tuple[list[float], int, int]:
        lat, bad = [], 0
        for name, group, q in self.queries:
            with self.tracer.span(f"suite.{group}"):
                t = time.perf_counter()
                try:
                    q.fn(self.spark, self.sf_dir).write.format("noop").mode("overwrite").save()
                except Exception as e:  # a failed query counts against correctness
                    print(f"analytics_mix: {name} failed: {e!r}", file=sys.stderr)
                    bad += 1
                    continue
                lat.append(time.perf_counter() - t)
        return lat, len(lat), bad

    def check(self) -> int:
        return self.mismatches

    def describe(self) -> dict:
        return {"sf": SF, "rows": self.rows, "first_run_s": self.first_run_s}

    def op_layers(self, op: int) -> dict[str, float]:
        spans = self.tracer.resolve(op)
        out: dict[str, float] = {"catalog.input_mb": 0.0, "_covered_s": 0.0}
        for s in spans:
            for f, _ in FIELDS:
                key = f"{s.name}.{f}"
                out[key] = out.get(key, 0.0) + s.stats[f]
            out["catalog.input_mb"] += s.stats["input_mb"]
            out["_covered_s"] += s.wall
        return out

    def layers(self, run: dict) -> dict[str, float]:
        return traced_medians(run, self.op_layers)
