"""Self-tests of the benchmark harness (no Spark session needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import hashlib
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), HERE]

import gen  # noqa: E402
import spans  # noqa: E402
import stream  # noqa: E402


def test_tail_quantile_keeps_ten_samples_beyond():
    for n, q_max in ((200, 0.95), (100, 0.9), (50, 0.9), (28, 0.9), (20, 0.95)):
        xs = [float(i) for i in range(n)]
        value, q = spans.tail_quantile(xs, q_max)
        assert q <= q_max
        assert sum(x > value for x in xs) >= 10
        # the next rank up would leave fewer than ten beyond, or pass q_max
        assert sum(x > value for x in xs) == 10 or q == q_max
    assert spans.tail_quantile([float(i) for i in range(200)], 0.95) == (189.0, 0.95)
    assert spans.tail_quantile([3.0, 1.0, 2.0], 0.9) == (2.0, 0.5)


def test_open_loop_latency_runs_from_due_time():
    # three files due at 0, 1 and 2 s; a stall holds the first commit
    # to t = 5 s, covering two files; the third lands at t = 6 s
    due = [0.0, 1.0, 2.0]
    commits = [(5.0, 200), (6.0, 300)]
    assert stream.file_latencies(due, 100, commits) == [5.0, 4.0, 4.0]
    # a file no batch covered is missing, not fast
    assert stream.file_latencies(due, 100, [(5.0, 200)]) == [5.0, 4.0, None]
    progress = [
        {"batchId": 1, "numInputRows": 100, "timestamp": "2026-01-01T00:00:01.000Z",
         "durationMs": {"triggerExecution": 500}},
        {"batchId": 0, "numInputRows": 0, "timestamp": "2026-01-01T00:00:00.000Z",
         "durationMs": {"triggerExecution": 100}},
    ]
    t0 = stream._epoch("2026-01-01T00:00:00.000Z")
    assert [(round(t - t0, 3), c) for t, c in stream.batch_commits(progress)] == [
        (0.1, 0), (1.5, 100)]


def test_load_generator_keeps_its_schedule(tmp_path):
    dirs = (str(tmp_path / "e"), str(tmp_path / "l"))
    for d in dirs:
        os.makedirs(d)
    t0 = time.time() + 0.05
    g = stream.LoadGenerator([("a\n", "b\n")] * 3, dirs, t0)
    g.start()
    g.join(timeout=10)
    assert not g.is_alive()
    assert g.due == [t0 + i * stream.INTERVAL_S for i in range(3)]
    assert len(g.lag) == 3 and all(lag >= 0 for lag in g.lag)
    assert sorted(os.listdir(dirs[0])) == ["e00000.json", "e00001.json", "e00002.json"]


def _span(name, parent, start, end, marks0=(0, 0, -1), marks1=(0, 0, -1)):
    return spans.Span(name, 0, parent, start, marks0, end, marks1)


def test_self_time_subtracts_union_of_children():
    s = [
        _span("op", None, 0.0, 10.0),
        _span("a", 0, 1.0, 4.0),
        _span("b", 0, 3.0, 6.0),  # overlaps a: children cover 1..6
        _span("c", 1, 2.0, 3.0),
    ]
    assert spans.self_times(s) == [5.0, 2.0, 3.0, 1.0]


class FakeStatus(spans.SparkStatus):
    """The status-store reader over a scripted clock of stages."""

    def __init__(self):
        self.next_stage = self.next_job = 0
        self.last_exec = -1
        self.stages: dict[int, dict] = {}

    def marks(self):
        return (self.next_stage, self.next_job, self.last_exec)

    def drain(self):
        pass

    def run_job(self, start, end, cpu=1.0, n_stages=1, execution=False):
        for _ in range(n_stages):
            self.stages[self.next_stage] = {"cpu_s": cpu, "shuffle_mb": 0.0, "input_mb": 0.0,
                                            "intervals": [(start, end)]}
            self.next_stage += 1
        self.next_job += 1
        self.last_exec += execution

    def stage(self, sid):
        return self.stages.get(sid)


def test_watermarks_attribute_stages_and_executions_to_spans():
    st = FakeStatus()
    tr = spans.Tracer(st, enabled=True)
    with tr.span("outer") as outer:
        st.run_job(0.0, 0.0, cpu=1.0)  # before the inner span: outer only
        with tr.span("inner") as inner:
            st.run_job(0.0, 0.0, cpu=2.0, n_stages=2, execution=True)
    with tr.span("lazy") as lazy:
        pass  # builds a plan, runs nothing
    assert list(outer.stage_ids()) == [0, 1, 2]
    assert list(inner.stage_ids()) == [1, 2]
    assert list(inner.execution_ids()) == [0]
    assert list(lazy.stage_ids()) == [] and list(lazy.execution_ids()) == []
    stats = {s.name: s.stats for s in tr.resolve(0)}
    assert stats["outer"]["cpu_s"] == 5.0 and stats["outer"]["jobs"] == 2
    assert stats["inner"]["cpu_s"] == 4.0 and stats["inner"]["jobs"] == 1
    assert stats["lazy"]["jobs"] == 0 and stats["lazy"]["cpu_s"] == 0.0


def test_driver_time_is_wall_minus_union_of_stage_intervals():
    st = FakeStatus()
    span = _span("s", None, 100.0, 110.0, (0, 0, -1), (2, 1, -1))
    st.stages = {0: {"cpu_s": 0, "shuffle_mb": 0, "input_mb": 0, "intervals": [(101.0, 104.0)]},
                 1: {"cpu_s": 0, "shuffle_mb": 0, "input_mb": 0, "intervals": [(103.0, 105.0)]}}
    stats = st.span_stats(span)
    assert abs(stats["driver_s"] - (10.0 - 4.0)) < 1e-9
    assert stats["jobs"] == 1


def test_a_disabled_tracer_records_nothing():
    tr = spans.Tracer(None, enabled=False)
    with tr.span("x") as s:
        pass
    assert s is None and tr.spans == []


def test_parse_metric_formats():
    assert spans.parse_metric("1,175") == 1175.0
    assert spans.parse_metric("335.0 KiB") == 335.0 * 1024
    assert spans.parse_metric(
        "total (min, med, max (stageId: taskId))\n5.4 s (1.2 s, 1.3 s, 1.6 s (stage 7.0: task 16))"
    ) == 5.4
    assert spans.parse_metric("833 ms") == 0.833
    assert spans.parse_metric(None) == 0.0


def test_rows_into_skips_nodes_without_row_counts():
    nodes = {
        0: ("MapInPandas", {"number of output rows": "96"}, [1]),
        1: ("Filter", {}, [2]),
        2: ("InMemoryTableScan", {"number of output rows": "100"}, []),
    }
    assert spans.rows_into(nodes, 0) == 100.0


def _tree_digest(root: str) -> str:
    h = hashlib.sha256()
    for dirpath, _, files in sorted(os.walk(root)):
        for name in sorted(files):
            h.update(name.encode())
            with open(os.path.join(dirpath, name), "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def test_same_seed_same_inputs_other_seed_other_inputs(tmp_path):
    def news(seed, d):
        web = gen.news_web(seed, 40, str(tmp_path / d))
        return _tree_digest(str(tmp_path / d)), sorted(web.serp.items()), web.clean_rows

    def star(seed, d):
        gen.write_star(seed, 0.001, str(tmp_path / d))
        return _tree_digest(str(tmp_path / d))

    def events(seed):
        return [(gen.to_json_lines(x.events), gen.to_json_lines(x.links))
                for x in gen.event_drops(seed, 3, 50, 5)]

    # page paths embed the output directory, so compare webs written
    # under the same path
    a = news(1, "w")
    assert news(1, "w") == a
    assert news(2, "w") != a
    assert star(1, "s1") == star(1, "s2") != star(2, "s3")
    assert events(1) == events(1) != events(2)


def test_news_web_clears_the_cleaning_thresholds(tmp_path):
    web = gen.news_web(3, 60, str(tmp_path / "w"))
    assert web.clean_rows > 0
    assert all(len(p) >= 150 for p in web.paragraphs)
