"""Tests of the benchmark's own helpers. No Spark session is started.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
from types import SimpleNamespace

import numpy as np
import pytest

from perfbench import datagen, run, trace
from perfbench.summarize import PER_LAYER, layer_metrics
from perfbench.trace import COUNTERS, Outcomes, Span, Tracer, covered, outside_stage_s, self_times, tail
from perfbench.workloads import Op

BENCHMARK = os.path.join(os.path.dirname(__file__), "..", "..", "BENCHMARK.json")


# -- the tail percentile: at least ten samples beyond it ----------------------


@pytest.mark.parametrize(
    "n, expected",
    [(10, None), (19, None), (20, 50.0), (39, 50.0), (40, 75.0), (100, 90.0),
     (199, 90.0), (200, 95.0), (1000, 99.0), (10_000, 99.9)],
)
def test_tail_picks_highest_percentile_with_ten_beyond(n, expected):
    got = tail([float(i) for i in range(n)])
    if expected is None:
        assert got is None
        return
    p, value = got
    assert p == expected
    assert sum(v > value for v in range(n)) >= 10
    assert value == pytest.approx(np.percentile(np.arange(n), p))


# -- self time -----------------------------------------------------------------


def _span(i, start, end, parent=None, **kw):
    return Span(f"s{i}", start, end, parent, 1, i, **kw)


def test_self_time_subtracts_union_of_children():
    spans = [
        _span(0, 0.0, 10.0),
        _span(1, 1.0, 3.0, 0),
        _span(2, 2.0, 5.0, 0),  # overlaps span 1: counted once
        _span(3, 7.0, 8.0, 0),
        _span(4, 7.5, 7.9, 3),  # grandchild: span 3's, not span 0's
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10.0 - 4.0 - 1.0)
    assert st[3] == pytest.approx(1.0 - 0.4)
    assert st[1] == pytest.approx(2.0)


def test_covered_clips_to_window():
    assert covered([(-5.0, 1.0), (9.0, 20.0)], 0.0, 10.0) == pytest.approx(2.0)
    assert covered([], 0.0, 10.0) == 0.0


def test_outside_stage_time_counts_gaps_between_stages_of_the_subtree():
    root = _span(0, 0.0, 10.0, stage_windows=[(0.5, 2.0)])
    child = _span(1, 3.0, 9.0, 0, stage_windows=[(3.0, 4.0), (3.5, 6.0)])
    assert outside_stage_s([root, child], root) == pytest.approx(10.0 - 1.5 - 3.0)


# -- job-group counter aggregation ---------------------------------------------


class _Opt:
    def __init__(self, v):
        self.v = v

    def isDefined(self):
        return self.v is not None

    def get(self):
        return SimpleNamespace(getTime=lambda: self.v)


class _Stage:
    def __init__(self, status, tasks, run_ms, shuffle, sub=None, done=None):
        self._status, self._tasks, self._run, self._shuffle = status, tasks, run_ms, shuffle
        self._sub, self._done = sub, done

    def status(self):
        return self._status

    def numCompleteTasks(self):
        return self._tasks

    def executorRunTime(self):
        return self._run

    def executorCpuTime(self):
        return self._run * 500_000  # half the run time, in ns

    def inputBytes(self):
        return 100

    def outputBytes(self):
        return 0

    def shuffleWriteBytes(self):
        return self._shuffle

    def shuffleReadBytes(self):
        return self._shuffle

    def diskBytesSpilled(self):
        return 0

    def submissionTime(self):
        return _Opt(self._sub)

    def completionTime(self):
        return _Opt(self._done)


class _FakeSpark:
    """The slice of SparkContext / status store the tracer reads. Every new
    job group gets the jobs queued in ``next_jobs``."""

    def __init__(self, stages: dict[int, _Stage]):
        self.stages = stages
        self.groups: dict[str, list[int]] = {}
        self.jobs: dict[int, list[int]] = {}
        self.next_jobs: list[list[list[int]]] = []
        jsc = SimpleNamespace(
            listenerBus=lambda: SimpleNamespace(waitUntilEmpty=lambda ms: None),
            statusStore=lambda: SimpleNamespace(lastStageAttempt=lambda sid: self.stages[sid]),
        )
        self.sparkContext = SimpleNamespace(
            _jsc=SimpleNamespace(sc=lambda: jsc),
            setJobGroup=self._set_group,
            setLocalProperty=lambda k, v: None,
            statusTracker=lambda: SimpleNamespace(
                getJobIdsForGroup=lambda g: self.groups.get(g, []),
                getJobInfo=lambda j: SimpleNamespace(stageIds=self.jobs[j]),
            ),
        )

    def _set_group(self, group, desc):
        if group not in self.groups:
            self.groups[group] = []
            for stage_ids in self.next_jobs.pop(0) if self.next_jobs else []:
                jid = len(self.jobs)
                self.jobs[jid] = stage_ids
                self.groups[group].append(jid)


def test_job_group_counters_count_each_run_stage_once(monkeypatch):
    # span clock: outer [10, 40], inner [20, 30]; stage times in ms
    clock = iter([10.0, 20.0, 30.0, 40.0])
    monkeypatch.setattr(trace.time, "time", lambda: next(clock))
    fake = _FakeSpark({
        0: _Stage("COMPLETE", 4, 1000, 50, sub=11_000, done=12_000),
        1: _Stage("COMPLETE", 2, 500, 10, sub=12_000, done=12_500),
        2: _Stage("SKIPPED", 0, 0, 0),
        3: _Stage("COMPLETE", 1, 100, 0, sub=21_000, done=21_100),
        4: _Stage("COMPLETE", 9, 900, 90, sub=1_000, done=2_000),
    })
    tracer = Tracer(fake, enabled=True)
    # outer span: jobs over stages {0, 1}; the inner span's job reuses
    # stage 1 (the outer span ran it), skips stage 2, runs stage 3 and
    # reuses stage 4, which ran before either span
    fake.next_jobs = [[[0, 1], [1]], [[1, 2, 3, 4]]]
    with tracer.span("outer", tracer.new_request()):
        with tracer.span("inner"):
            pass
    inner, outer = sorted(tracer.spans, key=lambda s: s.name)
    assert outer.counters["jobs"] == 2 and inner.counters["jobs"] == 1
    assert outer.counters["stages"] == 2 and inner.counters["stages"] == 1
    assert outer.counters["tasks"] == 6 and inner.counters["tasks"] == 1
    assert outer.counters["exec_run_s"] == pytest.approx(1.5)
    assert outer.counters["exec_cpu_s"] == pytest.approx(0.75)
    assert outer.counters["shuffle_write_bytes"] == 60
    assert inner.parent == outer.span_id and inner.request_id == outer.request_id
    assert outer.stage_windows == [(11.0, 12.0), (12.0, 12.5)]


def test_disabled_tracer_records_nothing():
    fake = _FakeSpark({})
    tracer = Tracer(fake, enabled=False)
    with tracer.span("x"):
        pass
    assert tracer.spans == [] and fake.groups == {}


def test_layer_metrics_are_per_block_and_cover_every_name():
    c = dict.fromkeys(COUNTERS, 0.0)
    spans = []
    for i in range(2):  # two requests, each one dense call of 4 jobs
        root = Span("serve.request", 10.0 * i, 10.0 * i + 2.0, None, i + 1, 2 * i)
        leaf = Span("rag.dense", 10.0 * i + 0.5, 10.0 * i + 1.5, root.span_id, i + 1, 2 * i + 1,
                    counters={**c, "jobs": 4.0, "exec_run_s": 2.0, "exec_cpu_s": 1.0})
        spans += [root, leaf]
    out = layer_metrics(spans, [2.0, 2.0], [1.5, 1.5], {})
    assert list(out) == [name for name, _, _ in PER_LAYER]
    assert out["spark.jobs"] == 4.0
    assert out["spark.cpu_per_run"] == 0.5
    assert out["rag.dense_s"] == pytest.approx(1.0)
    assert out["rag.dense.jobs"] == 4.0
    assert out["trace.overhead_s"] == pytest.approx(0.5)
    assert out["ml.macau_s"] == 0.0


# -- failed_frac accounting -------------------------------------------------------


def test_failed_ops_and_wrong_answers_both_count():
    def boom():
        raise RuntimeError("lost executor")

    ops = iter([
        Op("k", 5, lambda: 1, lambda r: r == 1, ends_block=False),
        Op("k", 5, boom, lambda r: True, ends_block=False),
        Op("k", 5, lambda: 2, lambda r: r == 1, ends_block=False),
        Op("k", 5, lambda: 1, lambda r: r == 1),
        Op("k", 5, lambda: 1, lambda r: r == 1),  # after the block: not run
    ])
    outcomes, durations = Outcomes(), {"k": []}
    tracer = SimpleNamespace(span=lambda *a: _null(), new_request=lambda: 0)
    items, secs = run.run_block(ops, tracer, outcomes, durations)
    assert (outcomes.attempted, outcomes.failed) == (4, 2)
    assert outcomes.failed_frac == 0.5
    assert items == 10  # only operations that succeeded count as work done
    assert len(durations["k"]) == 4
    assert secs == pytest.approx(sum(durations["k"]))


class _null:
    def __enter__(self):
        return self

    def __exit__(self, *exc):
        return False


def test_failed_frac_of_nothing_attempted_is_total_failure():
    assert Outcomes().failed_frac == 1.0


# -- seeds and names ------------------------------------------------------------------


def test_seed_changes_inputs_and_same_seed_repeats_them():
    a, b, a2 = (datagen.tables(s, 0.001) for s in (1, 2, 1))
    assert a["lineitem"].equals(a2["lineitem"]) and a["documents"].equals(a2["documents"])
    assert not a["lineitem"].equals(b["lineitem"])
    assert not a["documents"].equals(b["documents"])
    assert set(a) == set(b) and all(a[t].schema == b[t].schema for t in a)


def test_cell_noise_does_not_depend_on_row_order():
    rng = np.random.default_rng(0)
    x, y = rng.integers(0, 1000, 500), rng.integers(0, 1000, 500)
    perm = rng.permutation(500)
    noise = datagen.cell_noise(x, y, 7)
    assert np.array_equal(datagen.cell_noise(x[perm], y[perm], 7), noise[perm])
    assert not np.array_equal(datagen.cell_noise(x, y, 8), noise)
    assert abs(noise.mean()) < 0.2 and 0.8 < noise.std() < 1.2


def test_metric_names_match_benchmark_json():
    with open(BENCHMARK) as f:
        bench = json.load(f)
    assert [(m["name"], m["unit"]) for m in bench["end_to_end"]] == list(run.END_TO_END)
    assert [(m["name"], m["unit"], m["better"]) for m in bench["per_layer"]] == PER_LAYER
