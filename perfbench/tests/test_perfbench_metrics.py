"""The metric names the benchmark emits are the ones BENCHMARK.json
declares, and the order statistics behave as documented."""

from __future__ import annotations

import json
import os
import types

import pytest

import stats
import tracing
import workloads

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        return json.load(fh)


def test_workloads_match_benchmark_json():
    import run

    assert [w["name"] for w in _spec()["workloads"]] == list(run.WORKLOADS)


def test_end_to_end_names_match():
    r = workloads.Run(types.SimpleNamespace(sparkContext=None), {}, seed=0, seconds=6.0, traced=False)
    r.ops = [("q", 1.0), ("q", 2.0), ("q", 3.0)]
    r.timed_wall = 6.0
    assert list(r.end_to_end(1.0)) == [m["name"] for m in _spec()["end_to_end"]]


def test_per_layer_names_match():
    emitted = set(tracing.SPAN_LAYERS) | set(tracing.SINK_LAYERS) | set(workloads.RUN_LAYERS)
    declared = [m["name"] for m in _spec()["per_layer"]]
    assert len(declared) == len(set(declared))
    assert emitted == set(declared)
    assert set(tracing.layer_metrics([], [])) == set(tracing.SPAN_LAYERS)
    assert set(tracing.sink_diff({}, {}, 1)) == set(tracing.SINK_LAYERS)


def test_units_and_bounds():
    spec = _spec()
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    for name, unit in units.items():
        if name.endswith("_s"):
            assert unit == "s", name
        if name.endswith("_bytes"):
            assert unit == "bytes", name
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    assert bounds["setup_s"] == max(bounds.values()) <= 0.25


@pytest.mark.parametrize("n,rank", [(1, 0), (6, 3), (21, 10), (22, 11), (50, 39)])
def test_tail_rank(n, rank):
    assert stats.tail_rank(n) == rank
    if n > 2 * stats.TAIL_BEYOND:
        assert n - 1 - rank == stats.TAIL_BEYOND


def test_tail_never_below_median():
    for n in range(1, 40):
        xs = [float(i) for i in range(n)]
        value, _, _ = stats.tail(xs)
        assert value >= sorted(xs)[(n - 1) // 2]


def test_band_distance_and_drift():
    ops = [("a", 0.1), ("a", 0.2), ("a", 0.3), ("b", 1.0), ("b", 1.1)]
    assert stats.band_distance(ops, 0) == 3
    assert stats.band_distance(ops, 2) == 1
    assert stats.band_distance(ops, 4) == 2
    assert stats.drift([2.0, 2.0, 1.0, 1.0]) == pytest.approx(2.0)
    report = stats.steadiness(ops)
    assert report["query_median_s"] == {"a": 0.2, "b": 1.05}


def test_sink_diff_counts_rewrites():
    before = {"set=a/p1.parquet": (100, 1), "set=b/p2.parquet": (50, 1)}
    after = {"set=a/p3.parquet": (120, 2), "set=b/p2.parquet": (50, 1), "set=c/p4.parquet": (10, 2)}
    got = tracing.sink_diff(before, after, 65)
    assert got == {
        "ingest.sink.partitions_rewritten": 2.0,
        "ingest.sink.files_written": 2.0,
        "ingest.sink.bytes_written": 130.0,
        "ingest.sink.write_amp": 2.0,
    }


def test_covered_merges_overlapping_jobs():
    assert tracing._covered([(0.0, 1.0), (0.5, 2.0), (3.0, 4.0)], 0.0, 3.5) == pytest.approx(2.5)
