"""Tests for the benchmark itself: ``python3 -m pytest perfbench -q``
from the repository root."""

from __future__ import annotations

import argparse
import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import gen  # noqa: E402
import host  # noqa: E402
from spans import Span, self_times  # noqa: E402


def test_same_seed_same_corpus_digest():
    a = gen.digest(gen.conversation_rows(range(40), 7))
    b = gen.digest(gen.conversation_rows(range(40), 7))
    c = gen.digest(gen.conversation_rows(range(40), 8))
    assert a == b
    assert a != c


def test_same_seed_same_batches_and_queries():
    assert gen.increment_plan(3) == gen.increment_plan(3)
    ids = [f"n{i}" for i in range(50)]
    seq = gen.query_sequence(3, ids)
    assert seq == gen.query_sequence(3, ids)
    assert len(seq) == gen.SIZES["query"]["rounds"] * gen.ROUND
    for start in range(0, len(seq), gen.ROUND):
        rnd = seq[start:start + gen.ROUND]
        assert sum(1 for cls, _t, _p in rnd if cls == "point") == gen.POINTS_PER_ROUND
        for cls, tpls in gen.CLASS_TEMPLATES.items():
            got = [p["name"] if t == "cypher" else t for c, t, p in rnd if c == cls]
            assert sorted(got) == sorted(tpls)


def test_zipf_ranks_are_stratified_per_block():
    import random

    ranks = gen.zipf_ranks(1000, 700, 1.1, random.Random(1), strata=7)
    assert all(0 <= r < 1000 for r in ranks)
    # rank 0 carries ~18% of the mass, more than one 1/7 slice, so with
    # stratification every block of 7 draws holds it at least once
    assert all(0 in ranks[b:b + 7] for b in range(0, 700, 7))


def test_increment_batches_replay_only_seen_conversations():
    plan = gen.increment_plan(5)
    seen = set(plan.base)
    for batch in plan.batches:
        assert set(batch.replay) <= seen
        assert not set(batch.new) & seen
        seen.update(batch.new)


@pytest.mark.parametrize(
    "n, level",
    [(19, None), (20, 50.0), (40, 75.0), (100, 90.0), (199, 90.0),
     (200, 95.0), (1000, 99.0), (10000, 99.9)],
)
def test_tail_percentile_keeps_ten_samples_beyond(n, level):
    samples = [float(i) for i in range(n, 0, -1)]
    got = host.tail_percentile(samples)
    if level is None:
        assert got is None
        return
    assert got[0] == level
    assert sum(1 for s in samples if s > got[1]) >= 10


def test_self_time_subtracts_union_of_children():
    spans = [
        Span(0, "root", None, 0.0, 10.0),
        Span(1, "a", 0, 1.0, 3.0),
        Span(2, "b", 0, 2.0, 5.0),  # overlaps a: covered 1..5 counts once
        Span(3, "c", 0, 7.0, 8.0),
        Span(4, "a.child", 1, 1.5, 2.5),
        Span(5, "late", 0, 9.5, 12.0),  # clipped to the parent's end
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10.0 - (4.0 + 1.0 + 0.5))
    assert st[1] == pytest.approx(2.0 - 1.0)
    assert st[2] == pytest.approx(3.0)
    assert st[4] == pytest.approx(1.0)


def test_class_medians_per_operation_class():
    import run
    from workloads import Op

    ops = [Op(t, 1, {"cls": c}) for t, c in
           [(0.01, "point"), (0.03, "point"), (0.02, "point"), (0.5, "join"), (0.3, "join")]]
    assert run.class_medians_ms(ops, "query") == pytest.approx({"join": 400.0, "point": 20.0})
    assert run.class_medians_ms([Op(2.0, 9), Op(4.0, 9), Op(3.0, 9)], "build") == {"build": 3000.0}


def test_reset_peak_rss_forgets_earlier_peaks():
    def hwm() -> int:
        with open("/proc/self/status") as fh:
            return next(int(line.split()[1]) for line in fh if line.startswith("VmHWM:"))

    block = bytearray(200 * 1024 * 1024)
    del block
    before = hwm()
    host.reset_peak_rss()
    assert hwm() < before - 100 * 1024


def test_benchmark_json_lists_the_reported_metrics():
    import run

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bm = json.load(fh)
    assert {m["name"]: m["unit"] for m in bm["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in bm["per_layer"]} == run.PER_LAYER
    assert {w["name"] for w in bm["workloads"]} <= set(run.WORKLOAD_NAMES)


TINY = {
    "build": {"convs": 60, "files": 3},
    "increment": {"base_convs": 60, "files": 2, "batches": 2,
                  "new_per_batch": 20, "replay_per_batch": 5},
    "query": {"convs": 60, "files": 2, "rounds": 2, "zipf_s": 1.1},
}


@pytest.mark.parametrize(
    "workload, trace",
    [("build", 0), ("increment", 0), ("query", 0), ("build", 1), ("query", 1)],
)
def test_tiny_smoke_run_passes_checks(workload, trace, monkeypatch, capsys):
    import run

    for name, sizes in TINY.items():
        monkeypatch.setitem(gen.SIZES, name, sizes)
    import workloads

    for cls in (workloads.Build, workloads.Increment, workloads.Query):
        monkeypatch.setattr(cls, "sizes", gen.SIZES[cls.name])
    args = argparse.Namespace(workload=workload, seed=3, seconds=1.0, trace=trace)
    code = run.run_workload(args, ROOT)
    result = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert code == 0
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 2
    names = run.PER_LAYER if trace else run.END_TO_END
    assert set(result["metrics"]) == set(names)
