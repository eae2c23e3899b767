"""Tests of the benchmark's own helpers; no Spark session is started.

    python3 -m pytest perfbench/tests -q
"""

import io
import json
import os
import sys
from contextlib import redirect_stdout
from types import SimpleNamespace

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import run as bench_run  # noqa: E402
from fixtures import _top, same_topk, zipf_ranks  # noqa: E402
from stats import Ledger, percentile, tail, tail_level  # noqa: E402
from tracing import (CHECK_GROUP, Span, Tracer, covered,  # noqa: E402
                     layer_metrics, read_event_log, self_times)
from workloads import Run  # noqa: E402


# ------------------------------------------------------------- percentiles

@pytest.mark.parametrize("n, level", [(100, 90), (99, 89), (200, 95),
                                      (50, 80), (20, 50), (19, None),
                                      (1000, 99), (10, None)])
def test_tail_level_keeps_ten_samples_beyond(n, level):
    assert tail_level(n) == level


def test_tail_value_is_nearest_rank():
    xs = list(range(1, 101))  # 1..100
    assert tail(xs) == (90, 90)
    assert percentile(xs, 50) == 50
    assert tail(xs[:19]) is None


def test_zipf_ranks_put_one_draw_in_each_quantile():
    import math
    import random

    ranks = sorted(zipf_ranks(random.Random(7), 60, 2000))
    for j, r in enumerate(ranks):
        lo = int(math.exp(j / 60 * math.log(2000))) - 1
        hi = int(math.exp((j + 1) / 60 * math.log(2000))) - 1
        assert lo <= r <= hi
    assert sum(r < 10 for r in ranks) >= 15   # the head repeats


# ------------------------------------------------------------------- spans

def _span(i, name, start, end, parent=None, jobs=()):
    return Span(i, name, 0, parent, start, end, list(jobs))


def test_covered_is_the_clipped_union():
    assert covered([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert covered([(0, 2), (1, 3), (5, 6)], 1.5, 5.5) == 2.0
    assert covered([], 0, 1) == 0


def test_self_time_subtracts_the_union_of_children():
    spans = [_span(1, "op.q", 0.0, 10.0),
             _span(2, "search.search_or", 1.0, 4.0, parent=1),
             _span(3, "search.collect", 3.0, 6.0, parent=1),
             _span(4, "search.inner", 4.0, 5.0, parent=3)]
    st = self_times(spans)
    assert st[1] == pytest.approx(5.0)   # children cover [1, 6]
    assert st[3] == pytest.approx(2.0)
    assert st[2] == pytest.approx(3.0)


class FakeSparkContext:
    """The job-group surface the tracer uses; ``job()`` stands for an
    engine action launching a Spark job in the current thread's group."""

    def __init__(self):
        self.props = {}
        self.jobs = {}  # job id -> group
        self.stages = {}

    def setJobGroup(self, group, desc):
        self.props["spark.jobGroup.id"] = group

    def setLocalProperty(self, key, value):
        self.props[key] = value

    def job(self, n_stages=1, failed=0):
        jid = len(self.jobs)
        self.jobs[jid] = self.props.get("spark.jobGroup.id")
        self.stages[jid] = (n_stages, failed)
        return jid

    def statusTracker(self):
        sc = self

        class Tracker:
            def getJobIdsForGroup(self, group=None):
                return [j for j, g in sc.jobs.items() if g == group]

            def getJobInfo(self, jid):
                return SimpleNamespace(
                    stageIds=[jid * 100 + s for s in range(sc.stages[jid][0])])

            def getStageInfo(self, sid):
                n, failed = sc.stages[sid // 100]
                return SimpleNamespace(numTasks=4,
                                       numFailedTasks=failed if sid % 100 == 0
                                       else 0)
        return Tracker()


def test_jobs_are_attributed_to_the_innermost_span():
    sc = FakeSparkContext()
    tr = Tracer(sc)
    sc.job()                                   # before any span
    with tr.span("op.query", 1):
        with tr.span("search.search_or", 1) as call:
            sc.job()
        with tr.span("search.collect", 1) as col:
            sc.job(n_stages=2, failed=1)
            sc.job()
        sc.job()                               # back in the parent's group
    with tr.untimed():
        sc.job()                               # verification work
    assert tr.count_jobs() == 1                # the job before any span
    assert call.jobs == [1]
    assert col.jobs == [2, 3]
    assert (col.stages, col.tasks, col.failed_tasks) == (3, 12, 1)
    assert tr.spans[0].jobs == [4]
    assert sc.jobs[5] == CHECK_GROUP
    m = layer_metrics(tr.spans, None)
    assert m["search.jobs"] == 3 and m["search.failed_tasks"] == 1
    assert m["search.jobs_per_query"] == 3   # the call's job + collect's 2
    assert m["wand.jobs"] == 0   # layers without calls report zeros


def test_event_log_figures_per_layer(tmp_path):
    group = "perfbench-span-1"
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 7,
         "Submission Time": 1000_000, "Stage IDs": [3, 4],
         "Properties": {"spark.jobGroup.id": group}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 3,
         "Task Info": {"Accumulables": [
             {"Name": "data sent to Python workers", "Update": "100"},
             {"Name": "number of output rows", "Update": "5"}]},
         "Task Metrics": {"Executor CPU Time": 2_000_000_000,
                          "JVM GC Time": 500,
                          "Shuffle Write Metrics":
                              {"Shuffle Bytes Written": 64},
                          "Memory Bytes Spilled": 8,
                          "Disk Bytes Spilled": 2}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 4,
         "Task Info": {"Accumulables": [
             {"Name": "data returned from Python workers", "Update": 50}]},
         "Task Metrics": {"Executor CPU Time": 1_000_000_000}},
        {"Event": "SparkListenerJobEnd", "Job ID": 7,
         "Completion Time": 1003_000},
    ]
    path = tmp_path / "app"
    path.write_text("".join(json.dumps(e) + "\n" for e in events))
    jobs = read_event_log(str(path))
    assert jobs[7]["group"] == group
    assert jobs[7]["executor_cpu_s"] == pytest.approx(3.0)
    assert jobs[7]["python_bytes"] == 150
    span = _span(1, "batch.collect", 999.0, 1005.0, jobs=[7])
    m = layer_metrics([span], jobs)
    assert m["batch.driver_gap_s"] == pytest.approx(3.0)  # 6 s span, 3 s job
    assert m["batch.gc_s"] == pytest.approx(0.5)
    assert m["batch.shuffle_write_bytes"] == 64
    assert m["batch.spill_bytes"] == 10
    assert m["batch.self_s"] == pytest.approx(6.0)


# ------------------------------------------------------------- correctness

def test_ledger_counts_every_failure():
    led = Ledger()
    led.attempt()
    led.check(True, "fine")
    led.check(False, "wrong answer")
    led.attempt()
    led.error("search.search_or", ValueError("boom"))
    assert (led.attempted, led.failed) == (4, 2)   # 2 calls, 2 checks
    assert "boom" in led.failures[1]


WANT = [["a", 5.0], ["b", 4.0], ["c", 3.0]]


def test_same_topk_accepts_the_oracle_answer():
    assert same_topk([list(x) for x in WANT], WANT)


@pytest.mark.parametrize("got", [
    [["b", 5.0], ["a", 4.0], ["c", 3.0]],        # swapped keys
    [["a", 5.0], ["b", 4.0], ["d", 3.0]],        # wrong doc
    [["a", 5.0], ["b", 4.1], ["c", 3.0]],        # wrong score
    [["a", 5.0], ["b", 4.0]],                    # missing doc
    [["a", 5.0], ["a", 5.0], ["c", 3.0]],        # duplicate doc
])
def test_same_topk_rejects_a_corrupted_answer(got):
    assert not same_topk(got, WANT)


def test_same_topk_allows_reordering_inside_a_float_tie():
    # scores 1 ulp apart: the engine may order them either way
    want = _top({"x": 5.165260314941406, "y": 5.165259838104248,
                 "z": 1.0}, 3)
    assert same_topk([["y", 5.165259838104248], ["x", 5.165260314941406],
                      ["z", 1.0]], want)


def test_oracle_top_keeps_docs_tied_at_the_cut():
    want = _top({"a": 3.0, "b": 2.0, "c": 2.0, "d": 1.0}, 2)
    assert [w[0] for w in want] == ["a", "b", "c"]
    assert same_topk([["a", 3.0], ["c", 2.0]], want, k=2)
    assert not same_topk([["a", 3.0], ["d", 2.0]], want, k=2)


def _brute_topk(o, text, mode):
    """The oracle's term queries computed doc by doc with Python floats."""
    import numpy as np
    from collections import Counter

    st = o.stats()
    mult = Counter(t.term for t in o.analyze(text))
    acc, hits = {}, Counter()
    for t, m in mult.items():
        docs = o.post.get(t, {})
        if not docs:
            continue
        keys = list(docs)
        scores = st.score(len(docs), np.array([len(docs[k]) for k in keys]),
                          np.array([o.norm[k] for k in keys]))
        for key, v in zip(keys, scores):
            acc[key] = (max(acc.get(key, 0.0), float(v)) if mode == "dismax"
                        else acc.get(key, 0.0) + float(v) * m)
            hits[key] += 1
    if mode == "and":
        acc = {d: v for d, v in acc.items() if hits[d] == len(mult)}
    return _top(acc, 10)


def test_oracle_term_queries_match_a_doc_by_doc_computation():
    sys.path.insert(0, os.path.dirname(os.path.dirname(HERE)))
    from fixtures import Oracle

    words = "apple banana cherry date elder fig grape".split()
    o = Oracle()
    queries = ["apple", "banana cherry", "apple apple fig", "zebra",
               "the", "grape elder date"]

    def add(n0, n1):
        for i in range(n0, n1):
            o.add(f"d{i:03d}", " ".join(words[(i * j) % 7]
                                        for j in range(1, 2 + i % 9)))

    add(0, 40)
    for _ in range(2):   # again after more docs: cached postings renewed
        for q in queries:
            for mode in ("or", "and", "dismax"):
                assert o.topk(q, mode) == _brute_topk(o, q, mode), (q, mode)
        add(40, 55)


def test_check_topk_records_a_corrupted_answer_as_a_failure():
    led = Ledger()
    tr = Tracer()
    run = Run(None, tr, led, {}, 1, 1.0, "")
    assert run.check_topk([list(x) for x in WANT], WANT, "ok")
    assert not run.check_topk([["a", 5.0], ["c", 4.0], ["b", 3.0]], WANT,
                              "corrupted")
    assert (led.attempted, led.failed) == (2, 1)


# ------------------------------------------------------------- the command

def _main_with(monkeypatch, tmp_path, meas):
    monkeypatch.setattr(bench_run, "WORK", str(tmp_path))
    monkeypatch.setattr(bench_run, "launch",
                        lambda role, args, env, timeout: (meas, "log"))
    monkeypatch.setattr(bench_run, "host_record", lambda env: {})
    import workloads
    monkeypatch.setattr(workloads, "fixture_ok", lambda fx: True)
    monkeypatch.setattr(workloads.Serve, "reset", staticmethod(lambda f: None))
    out = io.StringIO()
    with redirect_stdout(out):
        code = bench_run.main(["--workload", "serve", "--seed", "3",
                               "--seconds", "1"])
    return code, json.loads(out.getvalue().strip().splitlines()[-1])


GOOD = {"setup_s": 9.5, "attempted": 40, "failed": 0, "failures": [],
        "detail": {"batch_pair_qps": 38.0, "batch_qps": 30.0,
                   "batch_wand_qps": 50.0,
                   "single_p50_ms": 700.0,
                   "index_bytes_per_input_byte": 0.25}}


def test_command_reports_every_end_to_end_metric(monkeypatch, tmp_path):
    code, res = _main_with(monkeypatch, tmp_path, GOOD)
    assert code == 0 and res["correct"]
    with open(os.path.join(bench_run.ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert set(res["metrics"]) == {m["name"] for m in spec["end_to_end"]}
    assert res["metrics"]["latency_p50_ms"] == {"value": 700.0, "unit": "ms"}


def test_command_fails_when_an_answer_was_wrong(monkeypatch, tmp_path):
    bad = dict(GOOD, failed=1, failures=["or 'x': top-k ... != ..."])
    code, res = _main_with(monkeypatch, tmp_path, bad)
    assert code == 1
    assert (res["correct"], res["attempted"], res["failed"]) == (False, 40, 1)


def test_command_fails_when_a_metric_was_not_measured(monkeypatch, tmp_path):
    missing = dict(GOOD, detail={k: v for k, v in GOOD["detail"].items()
                                 if k != "batch_pair_qps"})
    code, res = _main_with(monkeypatch, tmp_path, missing)
    assert code == 1 and res["failed"] == 1


def test_command_without_the_engine_prints_no_result(monkeypatch, tmp_path,
                                                      capsys):
    monkeypatch.setattr(bench_run, "ROOT", str(tmp_path))
    assert bench_run.main(["--workload", "serve"]) != 0
    assert capsys.readouterr().out == ""
