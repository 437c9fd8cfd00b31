"""news_pipeline: closed loop, one client. Each op is one full user
run: ``PipelineExecutor.execute`` over a seeded synthetic news web
(Bing and Yahoo SERPs served through an injected fetcher, linking to
``file://`` article pages), then the MVP cell-8 WordWizard chain and
its ``viz_summary`` reporting query, collected."""

from __future__ import annotations

import os
import time

import gen
from spans import parse_metric, rows_into, traced_medians

from miba_2023_capstone_rb_nlp_spark import executor as executor_mod
from miba_2023_capstone_rb_nlp_spark.executor import PipelineExecutor
from miba_2023_capstone_rb_nlp_spark.sources.links import BingNewsSource, YahooNewsSource
from miba_2023_capstone_rb_nlp_spark.wizard import WordWizard

N_ARTICLES = 100
WARM_ARTICLES = 40  # the warm-up op compiles the same plans on a smaller web
K = 5
# span name -> the WordWizard step it wraps, in chain order
CHAIN = (
    ("ml.embeddings", lambda w: w.create_sentence_embeddings()),
    ("ml.clustering", lambda w: w.cluster_embeddings(k=K)),
    ("operators.ner", lambda w: w.entitiy_recognition()),
    ("ml.summarize", lambda w: w.summarize_medoids()),
    ("ml.inference", lambda w: w.find_sentiment()),
    ("operators.ctfidf", lambda w: w.topic_modelling()),
    ("ml.reduce", lambda w: w.reduce_demensionality()),
)
SPAN_FIELDS = ("wall_s", "driver_s", "jobs", "cpu_s")
UNITS = {"wall_s": "s", "driver_s": "s", "cpu_s": "s", "jobs": "count"}
WRITE_NODE = "Execute InsertIntoHadoopFsRelationCommand"

LAYERS = [("sources.links.wall_s", "s"), ("sources.links.kept_ratio", "ratio")]
LAYERS += [(f"executor.execute.{f}", UNITS[f]) for f in SPAN_FIELDS]
for _w in ("write_raw", "write_clean"):
    LAYERS += [(f"executor.{_w}.wall_s", "s"), (f"executor.{_w}.cpu_s", "s")]
LAYERS += [("sources.content.cpu_s", "s"), ("sources.content.ok_ratio", "ratio"),
           ("sources.content.fetch_amplification", "ratio"),
           ("operators.cleaning.kept_ratio", "ratio")]
for _name in [n for n, _ in CHAIN] + ["wizard.viz_summary"]:
    LAYERS += [(f"{_name}.{f}", UNITS[f]) for f in SPAN_FIELDS]


class NewsPipeline:
    name = "news_pipeline"
    loop = "closed, 1 client"
    open_loop = False
    tail_q = 0.9

    def __init__(self, spark, work: str, seed: int, tracer, seconds: float):
        self.spark, self.work, self.seed, self.tracer = spark, work, seed, tracer
        self.listed = 0  # SERP results the link sources returned this op
        self.listed_by_op: dict[int, int] = {}
        self.check_attempted = 1  # the clean-table recount
        orig = executor_mod.get_all_links

        def get_all_links(*a, **kw):
            with tracer.span("sources.links"):
                return orig(*a, **kw)

        # executor.py binds get_all_links at import; wrap that binding
        executor_mod.get_all_links = get_all_links

    def _source(self, cls):
        src = cls(self.web.fetch, polite=False)
        inner = src.get_links

        def get_links(*a, **kw):
            out = inner(*a, **kw)
            self.listed += len(out)
            return out

        src.get_links = get_links
        return src

    def prepare(self, rep: int) -> None:
        self.warm_web = gen.news_web(self.seed, WARM_ARTICLES,
                                     os.path.join(self.work, f"warm{rep}"))
        self.web = gen.news_web(self.seed, N_ARTICLES, os.path.join(self.work, f"web{rep}"))

    def _use(self, web: gen.NewsWeb) -> None:
        self.web = web
        self.executor = PipelineExecutor(
            self.spark, os.path.join(self.work, "data"),
            [self._source(BingNewsSource), self._source(YahooNewsSource)])

    def warm_up(self) -> None:
        web = self.web
        self._use(self.warm_web)
        _, _, bad = self.op()
        if bad:
            raise RuntimeError("news_pipeline warm-up op produced wrong output")
        self._use(web)

    def op(self) -> tuple[list[float], int, int]:
        tr = self.tracer
        self.listed = 0
        t = time.perf_counter()
        with tr.span("executor.execute"):
            clean = self.executor.execute(self.web.query, self.web.per_engine, overwrite=True)
        self.listed_by_op[tr.op] = self.listed
        w = WordWizard(clean, interest="paragraph")
        for name, step in CHAIN:
            with tr.span(name):
                w = step(w)
        with tr.span("wizard.viz_summary"):
            rows = w.viz_summary().collect()
        wall = time.perf_counter() - t
        self.clean = clean
        self.spark.catalog.clearCache()
        ok = self._witness_ok(rows)
        return [wall], int(ok), int(not ok)

    def _witness_ok(self, rows) -> bool:
        """Viz witnesses: the per-cluster sizes cover every clean row,
        there are at most K clusters, and every medoid paragraph is a
        paragraph of a generated page, verbatim."""
        sizes = {r["cluster"]: r["size"] for r in rows}
        return (sum(sizes.values()) == self.web.clean_rows and 0 < len(sizes) <= K
                and all(r["paragraph"] in self.web.paragraphs for r in rows))

    def check(self) -> int:
        """Recount the last op's clean table against the ground truth."""
        return int(self.clean.count() != self.web.clean_rows)

    def describe(self) -> dict:
        return {"articles": N_ARTICLES, "clean_rows": self.web.clean_rows,
                "links_listed": self.web.links_listed, "links_distinct": self.web.links_distinct,
                "pages_ok": self.web.pages_ok}

    # -- per-layer metrics (traced ops) ------------------------------------

    def op_layers(self, op: int) -> dict[str, float]:
        spans = self.tracer.resolve(op)
        out: dict[str, float] = {}
        for s in spans:
            for f in SPAN_FIELDS:
                out[f"{s.name}.{f}"] = s.stats[f]
        execute = next(s for s in spans if s.name == "executor.execute")
        status = self.tracer.status
        writes = []
        for eid in execute.execution_ids():
            e = status.execution(eid)
            if any(name == WRITE_NODE for name, _, _ in e["nodes"].values()):
                writes.append(e)
        fetch_in = fetch_ok = fetch_cpu = 0.0
        per_exec_in = []
        for label, e in zip(("write_raw", "write_clean"), writes):
            out[f"executor.{label}.wall_s"] = e["wall_s"]
            out[f"executor.{label}.cpu_s"] = e["cpu_s"]
            for nid, (name, metrics, _) in e["nodes"].items():
                if name == "MapInPandas":
                    n_in = rows_into(e["nodes"], nid)
                    per_exec_in.append(n_in)
                    fetch_in += n_in
                    fetch_ok += parse_metric(metrics.get("number of output rows"))
                    fetch_cpu += parse_metric(metrics.get("time to run Python workers"))
        written = [
            sum(parse_metric(m.get("number of output rows"))
                for name, m, _ in e["nodes"].values() if name == WRITE_NODE)
            for e in writes
        ]
        distinct = max(per_exec_in, default=0.0)
        out["sources.content.cpu_s"] = fetch_cpu
        out["sources.content.ok_ratio"] = fetch_ok / fetch_in if fetch_in else 0.0
        out["sources.content.fetch_amplification"] = fetch_in / distinct if distinct else 0.0
        listed = self.listed_by_op.get(op, 0)
        out["sources.links.kept_ratio"] = distinct / listed if listed else 0.0
        if len(written) == 2 and written[0]:
            out["operators.cleaning.kept_ratio"] = written[1] / written[0]
        out["_covered_s"] = sum(s.wall for s in spans if s.parent is None)
        return out

    def layers(self, run: dict) -> dict[str, float]:
        return traced_medians(run, self.op_layers)
