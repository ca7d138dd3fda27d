"""Tests of the benchmark's own code: the seeded generator, the
percentile and interval arithmetic, span self time and the result
comparison.  Run with ``python -m pytest perfbench/tests``; no Spark
session is started."""

from __future__ import annotations

import dataclasses
import hashlib
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import batch  # noqa: E402
import check  # noqa: E402
import gen  # noqa: E402
from stats import percentile, self_times, union_length  # noqa: E402
from tracing import Tracer, overhead_outside_stages  # noqa: E402

SPEC = gen.EventSpec(rows=5_000, users=300)


def _digest(path: str) -> str:
    with open(path, "rb") as fh:
        return hashlib.sha256(fh.read()).hexdigest()


def test_generator_is_byte_identical_for_a_seed(tmp_path):
    a = gen.write_sf_dir(str(tmp_path / "a"), SPEC, seed=7)
    b = gen.write_sf_dir(str(tmp_path / "b"), SPEC, seed=7)
    c = gen.write_sf_dir(str(tmp_path / "c"), SPEC, seed=8)
    names = sorted(os.listdir(a))
    assert names == sorted(os.listdir(b))
    for name in names:
        assert _digest(os.path.join(a, name)) == _digest(os.path.join(b, name))
    ev = "events.parquet"
    assert _digest(os.path.join(a, ev)) != _digest(os.path.join(c, ev))


def test_generator_honours_its_parameters():
    t = gen.events_table(SPEC, seed=3).to_pydict()
    assert len(t["event_id"]) == SPEC.rows
    assert t["event_id"] == list(range(SPEC.rows))
    assert set(t["user_id"]) <= set(range(SPEC.users))
    # Zipf skew: the hottest user is far above the uniform share
    counts = sorted((t["user_id"].count(u) for u in set(t["user_id"])), reverse=True)
    assert counts[0] > 10 * SPEC.rows / SPEC.users
    # late events: about late_share of the rows carry a ts up to
    # late_max_s before their on-time ts (same seed, no late events)
    on_time = gen.events_table(dataclasses.replace(SPEC, late_share=0.0), seed=3)
    assert on_time["user_id"].to_pylist() == t["user_id"]
    lateness = [
        (a - b).total_seconds() for a, b in zip(on_time["ts"].to_pylist(), t["ts"])
    ]
    late = [x for x in lateness if x > 0]
    assert 0.03 < len(late) / SPEC.rows < 0.07
    assert min(lateness) >= 0 and max(late) <= SPEC.late_max_s


def test_stream_files_are_seeded_and_land_whole(tmp_path):
    target = str(tmp_path / "events.parquet")
    files = gen.StreamFiles(target, users=50, seed=1)
    path = files.write(rows=100, due=1_700_000_000.0, interval_s=0.5)
    assert os.listdir(target) == [os.path.basename(path)]
    assert not [n for n in os.listdir(tmp_path) if n.startswith(".")]
    twin = gen.StreamFiles(str(tmp_path / "twin" / "events.parquet"), users=50, seed=1)
    assert _digest(twin.write(100, 1_700_000_000.0, 0.5)) == _digest(path)


@pytest.mark.parametrize(
    "values, q, want",
    [
        ([3.0], 50, 3.0),
        ([1.0, 2.0, 3.0, 4.0], 50, 2.5),
        ([4.0, 1.0, 3.0, 2.0], 0, 1.0),
        ([4.0, 1.0, 3.0, 2.0], 100, 4.0),
        (list(range(11)), 90, 9.0),
        ([1.0, 2.0], 90, 1.9),
    ],
)
def test_percentile(values, q, want):
    assert percentile(values, q) == pytest.approx(want)


def test_percentile_rejects_bad_input():
    with pytest.raises(ValueError):
        percentile([], 50)
    with pytest.raises(ValueError):
        percentile([1.0], 101)


def test_union_length_merges_overlaps():
    assert union_length([]) == 0
    assert union_length([(0, 2), (1, 3), (5, 6)]) == pytest.approx(4)
    assert union_length([(0, 10), (2, 3)]) == pytest.approx(10)
    assert union_length([(3, 3), (4, 2)]) == 0


def test_overhead_outside_stages():
    # wall 0..10, stages cover 1..4 and 3..6 and spill past the end
    assert overhead_outside_stages((0, 10), [(1, 4), (3, 6), (9, 12)]) == pytest.approx(4)


def test_self_time_is_duration_minus_children():
    spans = [
        {"id": 0, "parent": None, "start": 0.0, "end": 10.0},
        {"id": 1, "parent": 0, "start": 1.0, "end": 4.0},
        {"id": 2, "parent": 0, "start": 3.0, "end": 5.0},  # overlaps its sibling
        {"id": 3, "parent": 1, "start": 2.0, "end": 3.0},  # grandchild: not subtracted from 0
        {"id": 4, "parent": 0, "start": 9.0, "end": 12.0},  # clipped to the parent
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10 - 4 - 1)
    assert st[1] == pytest.approx(2)
    assert st[3] == pytest.approx(1)


def test_tracer_nests_spans_and_counts_outermost_only():
    tr = Tracer()
    with tr.span("query", query="q1"):
        with tr.span("cache.build"):
            with tr.span("cache.build"):
                pass
    outer = next(s for s in tr.spans if s["name"] == "query")
    # spans are recorded as they end: the inner build first
    inner, build = [s for s in tr.spans if s["name"] == "cache.build"]
    builds = [inner, build]
    assert all(s["query"] == "q1" for s in builds)
    assert (inner["parent"], build["parent"]) == (build["id"], outer["id"])
    assert tr.total("cache.build") == pytest.approx(
        max(s["end"] - s["start"] for s in builds)
    )
    assert tr.overhead_s > 0


def test_approx_mismatch_allows_whole_count_misses_of_small_keys():
    exact = {("w1",): 20, ("w2",): 40, ("w3",): 1000}
    # 2 off a key of 20 is 10%, within the per-key slack
    assert batch.approx_mismatch({("w1",): 22, ("w2",): 40, ("w3",): 1000}, exact, 0.05, 3, 0.02) is None
    assert "keys off" in batch.approx_mismatch(
        {("w1",): 20, ("w2",): 40, ("w3",): 1100}, exact, 0.05, 3, 0.02
    )
    assert "summed error" in batch.approx_mismatch(
        {("w1",): 23, ("w2",): 43, ("w3",): 1000}, exact, 0.05, 3, 0.005
    )
    assert "keys differ" in batch.approx_mismatch({("w1",): 20}, exact, 0.05, 3, 0.02)


def test_mismatch_normalises_like_the_oracle_tests():
    import decimal

    got = (["b", "a"], [(1.0000000001, "x"), (None, "y")])
    want = (["a", "b"], [("y", None), ("x", decimal.Decimal("1.0"))])
    assert check.mismatch(got, want) is None
    assert "row count" in check.mismatch(got, (want[0], want[1][:1]))
    assert "rows differ" in check.mismatch(got, (want[0], [("y", None), ("x", 2.0)]))
    assert "columns" in check.mismatch(got, (["a", "c"], want[1]))
