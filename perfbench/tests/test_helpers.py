"""Tests of the benchmark's own helpers (no Spark needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import gen  # noqa: E402
import stats  # noqa: E402
from spans import Span, Tracer, self_times  # noqa: E402


def test_tail_percentile_leaves_ten_samples_beyond():
    assert stats.tail_percentile(11) == pytest.approx(100 / 11)
    assert stats.tail_percentile(20) == 50.0
    assert stats.tail_percentile(100) == 90.0
    for n in (11, 24, 27, 100, 1000):
        xs = list(range(n))
        value = stats.nearest_rank(xs, stats.tail_percentile(n))
        assert sum(1 for x in xs if x > value) == 10


def test_tail_percentile_needs_more_than_ten_samples():
    with pytest.raises(ValueError):
        stats.tail_percentile(10)


def test_tail_percentile_holds_for_larger_samples():
    # The harness fixes the percentile from the minimum sample count; a run
    # with more samples keeps at least ten beyond it.
    pct = stats.tail_percentile(27)
    for n in (27, 30, 45):
        xs = list(range(n))
        assert sum(1 for x in xs if x > stats.nearest_rank(xs, pct)) >= 10


def test_min_passes_put_the_tail_above_the_median():
    for ops in (1, 7, 9, 25, 40):
        n = stats.min_passes(ops) * ops
        assert n >= stats.MIN_SAMPLES
        assert stats.tail_percentile(n) >= 60.0
    assert stats.min_passes(9) == 3 and stats.min_passes(7) == 4


def test_nearest_rank():
    assert stats.nearest_rank([5, 1, 3], 50) == 3
    assert stats.nearest_rank([5, 1, 3], 100) == 5


def _span(sid, parent, start, end):
    return Span(sid, f"s{sid}", parent, 0, start, end)


def test_self_time_nested():
    spans = [_span(0, None, 0, 10), _span(1, 0, 1, 4), _span(2, 1, 2, 3), _span(3, 0, 5, 9)]
    got = self_times(spans)
    assert got == {0: 3.0, 1: 2.0, 2: 1.0, 3: 4.0}
    # Self times of an operation's spans add up to its wall time.
    assert sum(got.values()) == spans[0].duration


def test_self_time_overlapping_children_are_merged():
    spans = [_span(0, None, 0, 10), _span(1, 0, 1, 5), _span(2, 0, 3, 7), _span(3, 0, 4, 6)]
    assert self_times(spans)[0] == 10 - 6  # children cover [1, 7]


def test_self_time_clips_children_to_parent():
    spans = [_span(0, None, 2, 6), _span(1, 0, 0, 3), _span(2, 0, 5, 9)]
    assert self_times(spans)[0] == 4 - 2


def test_tracer_nests_spans_and_restores_patches():
    class Mod:
        @staticmethod
        def f(x):
            return x + 1

    tr = Tracer()
    with tr.patch([(Mod, "f", "mod.f")]):
        with tr.span("op", op_id=0):
            assert Mod.f(1) == 2
    assert Mod.f.__name__ == "f" and Mod.f(1) == 2
    assert [(s.name, s.parent, s.op_id) for s in tr.spans] == [("op", None, 0), ("mod.f", 0, 0)]


def test_trace_overhead_cancels_linear_warmup_drift():
    import harness

    # Passes U T U T U on a falling warm-up curve; traced passes cost 0.25 s more.
    walls = [10.0 - p for p in range(5)]
    seq = [(p % 2 == 1, w + (0.25 if p % 2 else 0.0), 0.01) for p, w in enumerate(walls)]
    got = harness.trace_overhead(seq)
    assert got["wall_pairs_s"] == pytest.approx([0.25, 0.25])
    assert got["wall_s"] == pytest.approx(0.25)
    assert got["bookkeeping_s"] == 0.01
    assert not got["wall_resolved"]  # successive untraced passes differ by 2 s


def test_reported_metrics_match_benchmark_json():
    import harness

    spec_path = os.path.join(os.path.dirname(harness.__file__), os.pardir, "BENCHMARK.json")
    with open(spec_path) as f:
        spec = json.load(f)
    assert sorted(m["name"] for m in spec["per_layer"]) == sorted(harness.per_layer_names())
    assert sorted(m["name"] for m in spec["end_to_end"]) == sorted(harness.END_TO_END)
    assert sorted(w["name"] for w in spec["workloads"]) == sorted(harness.WORKLOADS)


def _digest(root: str) -> str:
    h = hashlib.sha256()
    for dirpath, dirnames, filenames in os.walk(root):
        dirnames.sort()
        for name in sorted(filenames):
            path = os.path.join(dirpath, name)
            h.update(os.path.relpath(path, root).encode())
            with open(path, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def _generate(root: str, seed: int) -> None:
    gen.raw_events(os.path.join(root, "raw"), seed, ["2025-01-01", "2025-01-02"], 500,
                   late_dates=("2025-01-02",), late_rows=20, gated_dates=("2025-01-01",))
    gen.star_tables(os.path.join(root, "tables"), seed, n_orders=600, n_events=500)
    gen.corpus_tables(os.path.join(root, "tables"), seed, n_docs=100, n_vecs=100)


def test_same_seed_gives_byte_identical_inputs(tmp_path):
    _generate(str(tmp_path / "a"), 7)
    _generate(str(tmp_path / "b"), 7)
    _generate(str(tmp_path / "c"), 8)
    assert _digest(str(tmp_path / "a")) == _digest(str(tmp_path / "b"))
    assert _digest(str(tmp_path / "a")) != _digest(str(tmp_path / "c"))


def test_raw_events_truth_matches_files(tmp_path):
    truth = gen.raw_events(str(tmp_path), 3, ["2025-01-01", "2025-01-02"], 2000,
                           late_dates=("2025-01-02",), late_rows=100,
                           gated_dates=("2025-01-02",))
    for day, t in truth.items():
        part = tmp_path / "source_system=app" / f"ingestion_date={day}"
        lines = [ln for p in sorted(part.iterdir()) for ln in p.read_text().splitlines()]
        assert len(lines) == t.rows
        assert sum('"user_id": null' in ln for ln in lines) == t.null_user
    # The gated date's duplicate rate is above the 2% gate, the other's below.
    assert len(truth["2025-01-02"].dup_ids) / truth["2025-01-02"].rows > 0.02
    assert len(truth["2025-01-01"].dup_ids) / truth["2025-01-01"].rows < 0.02
