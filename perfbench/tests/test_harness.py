"""Self-tests of the benchmark harness (no Spark session needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import math
import os
import sys
from collections import namedtuple

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))

from perfbench import inputs, stats  # noqa: E402
from perfbench.trace import JOB_GROUP, Tracer, covered  # noqa: E402


# -- percentile rule ---------------------------------------------------------


@pytest.mark.parametrize("n, level", [
    (0, None), (39, None), (40, 75), (99, 80), (100, 90),
    (199, 90), (200, 95), (1000, 99), (10_000, 99.9),
])
def test_tail_level_keeps_ten_samples_beyond(n, level):
    assert stats.tail_level(n) == level
    if level is not None:
        assert n - math.ceil(n * level / 100) >= stats.MIN_BEYOND


def test_percentile_is_nearest_rank():
    xs = list(range(1, 101))
    assert stats.percentile(xs, 90) == 90
    assert stats.percentile(xs, 50) == 50
    assert stats.tail(xs) == (90, 90)
    assert stats.tail(xs[:30]) is None


# -- span self time ----------------------------------------------------------


class FakeClock:
    def __init__(self):
        self.t = 0.0

    def __call__(self):
        return self.t


def test_covered_merges_overlaps_and_clips():
    assert covered([(1, 4), (3, 6)], 0, 10) == 5
    assert covered([(1, 2), (5, 7)], 0, 10) == 3
    assert covered([(-5, 2), (8, 20)], 0, 10) == 4
    assert covered([], 0, 10) == 0


def test_self_time_subtracts_child_cover():
    clock = FakeClock()
    tr = Tracer(clock=clock, cpu=lambda: (0, 0))
    with tr.span("root") as root:
        clock.t = 1
        with tr.span("a"):
            clock.t = 4
            with tr.span("a.inner"):
                clock.t = 5
            clock.t = 6
        clock.t = 7
        with tr.span("b"):
            clock.t = 9
        clock.t = 10
    a = tr.named("a")[0]
    assert root.duration == 10
    assert tr.self_time(root) == 10 - 5 - 2
    assert tr.self_time(a) == 5 - 1
    assert tr.self_time(tr.named("a.inner")[0]) == 1
    # self times of a tree add up to the root's wall time
    assert sum(tr.self_time(s) for s in tr.spans) == root.duration


def test_spans_share_run_id_and_fallback_parent():
    tr = Tracer(clock=FakeClock(), cpu=lambda: (0, 0))
    with tr.span("req", run_id="r1") as req:
        with tr.span("child") as child:
            pass
    tr.fallback = req
    with tr.span("other-thread") as orphan:
        pass
    assert child.parent == req.sid and child.run_id == "r1"
    assert orphan.parent == req.sid and orphan.run_id == "r1"


# -- job accounting per span -------------------------------------------------

JobInfo = namedtuple("JobInfo", "jobId stageIds status")
StageInfo = namedtuple("StageInfo", "stageId numFailedTasks")


class FakeSpark:
    """Just enough SparkContext + status tracker: a 'job' is recorded
    under the job group current on submission."""

    def __init__(self):
        self.props: dict = {}
        self.jobs: dict[int, tuple[str | None, list[int]]] = {}
        self.failed: dict[int, int] = {}
        self.next_stage = 0

    def getLocalProperty(self, key):
        return self.props.get(key)

    def setLocalProperty(self, key, value):
        if value is None:
            self.props.pop(key, None)
        else:
            self.props[key] = value

    def run_job(self, n_stages: int, failed: int = 0) -> None:
        stages = list(range(self.next_stage, self.next_stage + n_stages))
        self.next_stage += n_stages
        self.failed[stages[-1]] = failed
        self.jobs[len(self.jobs)] = (self.props.get(JOB_GROUP), stages)

    def statusTracker(self):
        return self

    def getJobIdsForGroup(self, group):
        return [j for j, (g, _s) in self.jobs.items() if g == group]

    def getJobInfo(self, jid):
        return JobInfo(jid, self.jobs[jid][1], "SUCCEEDED")

    def getStageInfo(self, sid):
        return StageInfo(sid, self.failed.get(sid, 0))


def test_jobs_count_against_the_innermost_span():
    sc = FakeSpark()
    tr = Tracer(sc, clock=FakeClock(), cpu=lambda: (0, 0))
    sc.run_job(1)  # before tracing: nobody's
    with tr.span("root") as root:
        sc.run_job(2)
        with tr.span("child") as child:
            sc.run_job(3, failed=1)
            sc.run_job(1)
        sc.run_job(1)  # parent's group is restored after the child
    sc.run_job(5)  # after tracing: nobody's
    tr.count_jobs()
    assert (root.jobs, root.stages) == (2, 3)
    assert (child.jobs, child.stages, child.failed_tasks) == (2, 4, 1)
    assert tr.inclusive_jobs(root) == 4
    assert sc.props.get(JOB_GROUP) is None


def test_patch_wraps_and_restores():
    sc = FakeSpark()
    tr = Tracer(sc, clock=FakeClock(), cpu=lambda: (0, 0))

    class Mod:
        @staticmethod
        def layer(x):
            sc.run_job(1)
            return x + 1

    undo = tr.patch(Mod, "layer", "layer")
    assert Mod.layer(1) == 2
    undo()
    assert Mod.layer(1) == 2
    tr.count_jobs()
    assert [s.name for s in tr.spans] == ["layer"]
    assert tr.spans[0].jobs == 1


def test_until_collect_span_covers_the_collect_without_a_job_of_its_own():
    sc = FakeSpark()
    clock = FakeClock()
    tr = Tracer(sc, clock=clock, cpu=lambda: (0, 0))

    class Frame:
        def collect(self):
            clock.t += 3
            sc.run_job(2)
            return ["row"]

    class Mod:
        @staticmethod
        def query():
            clock.t += 1
            return Frame()

    undo = tr.patch(Mod, "query", "query", until_collect=True)
    with tr.span("handler") as handler:
        rows = Mod.query().collect()
        clock.t += 1
    undo()
    tr.count_jobs()
    (q,) = tr.named("query")
    assert rows == ["row"]
    assert q.parent == handler.sid and (q.start, q.end) == (0, 4)
    assert (q.jobs, q.stages, handler.jobs) == (1, 2, 0)
    assert tr.self_time(handler) == 1


# -- peak RSS ----------------------------------------------------------------


def test_rss_peak_ignores_a_one_sample_spike(monkeypatch):
    from perfbench import host

    samples = iter([100.0, 1200.0, 110.0, 120.0, 115.0])
    monkeypatch.setattr(host, "tree_rss_mb", lambda pid: next(samples))
    rss = host.RssSampler()
    for _ in range(5):
        rss._sample()
    assert rss.peak_mb == 115.0


# -- metric names ------------------------------------------------------------


def test_benchmark_json_lists_the_metrics_run_prints():
    from perfbench.run import END_TO_END, PER_LAYER, ROOT, WORKLOADS

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == PER_LAYER
    assert tuple(w["name"] for w in spec["workloads"]) == WORKLOADS
    setup = next(m["bound"] for m in spec["end_to_end"] if m["name"] == "setup_s")
    assert setup == max(m["bound"] for m in spec["end_to_end"])


# -- seeded inputs -----------------------------------------------------------


def _blob(seed: int) -> bytes:
    texts = [f"line {i}\nbody of document {i}\n" for i in range(50)]
    ids = [f"Q{i}" for i in range(1, 30)]
    names = {q: f"item {q} name" for q in ids}
    return json.dumps({
        "kb": inputs.kb_source_rows(seed),
        "delta": inputs.delta_batches(seed),
        "dedup": inputs.plant_mirrors(texts, seed),
        "requests": inputs.request_sequence(ids, names, seed),
    }, sort_keys=True).encode()


def test_same_seed_gives_byte_identical_inputs():
    assert _blob(7) == _blob(7)
    assert _blob(7) != _blob(8)


def test_request_mix_is_exact_per_block():
    ids = [f"Q{i}" for i in range(1, 30)]
    seq = inputs.request_sequence(ids, {q: q for q in ids}, 3)
    for b in range(0, inputs.REQUESTS, 10):
        kinds = [k for k, _ in seq[b:b + 10]]
        assert {k: kinds.count(k) for k in set(kinds)} == dict(inputs.MIX)


def test_delta_batches_have_unique_keys_and_tombstones():
    for batch in inputs.delta_batches(1):
        keys = [(r["id"], r["source_priority"]) for r in batch]
        assert len(keys) == len(set(keys)) == inputs.DELTA_ROWS
        assert any(r["deleted"] for r in batch)


def test_planted_pairs_point_at_mirrors():
    texts = [f"document {i}\n" for i in range(100)]
    rows, pairs = inputs.plant_mirrors(texts, 5)
    by_id = dict(rows)
    assert len(pairs) == int(100 * inputs.MIRROR_SHARE) + inputs.COMPONENT
    for a, b in pairs:
        assert by_id[b].startswith(by_id[a]) and a < 100 <= b
