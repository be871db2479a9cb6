"""Self-tests for the benchmark's own arithmetic; no Spark needed.

    python3 -m pytest perfbench/tests -q
"""

import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from harness import (  # noqa: E402
    failure_counts,
    percentile,
    percentile_rank,
    read_source_log,
    self_times,
    shard_latencies_ms,
    uncovered_frac,
    union_length,
)

CKPT = os.path.join(HERE, "fixtures", "ckpt")


def test_percentile_keeps_q_when_ten_samples_lie_beyond():
    xs = list(range(1, 101))
    assert percentile(xs, 0.9) == 90      # 10 samples beyond
    assert percentile(xs, 0.5) == 50
    assert percentile_rank(100, 0.9) == 0.9


def test_percentile_caps_at_ten_samples_beyond():
    xs = list(range(1, 51))
    assert percentile(xs, 0.9) == 40      # p90 would leave only 5 beyond
    assert sum(x > percentile(xs, 0.9) for x in xs) == 10
    assert percentile_rank(50, 0.9) == 0.8


def test_percentile_falls_back_to_median_on_small_samples():
    assert percentile([5, 1, 3], 0.9) == 3
    assert percentile([4, 2], 0.9) == 2
    assert percentile_rank(3, 0.9) == pytest.approx(2 / 3)
    with pytest.raises(ValueError):
        percentile([], 0.5)


def test_union_length_merges_overlaps():
    assert union_length([(0, 2), (1, 3), (5, 6), (6, 6)]) == 4


def _span(i, parent, layer, start, end):
    return {"id": i, "parent": parent, "layer": layer, "start": start, "end": end}


def test_self_time_subtracts_clipped_children():
    spans = [
        _span(1, 0, "streaming", 0.0, 10.0),
        _span(2, 1, "streaming", 1.0, 3.0),
        _span(3, 1, "sink", 2.0, 5.0),     # overlaps its sibling
        _span(4, 1, "sink", 8.0, 12.0),    # runs past its parent
        _span(5, 3, "operators", 2.5, 3.5),
    ]
    st = self_times(spans)
    # parent: 10 - union([1,5], [8,10]) = 4; child 2: 2
    assert st["streaming"] == pytest.approx(4.0 + 2.0)
    # span 3: 3 - 1 (its child); span 4: 4
    assert st["sink"] == pytest.approx(2.0 + 4.0)
    assert st["operators"] == pytest.approx(1.0)


def test_uncovered_share_of_timed_windows():
    spans = [_span(1, 0, "sink", 1.0, 3.0), _span(2, 0, "bench", 0.0, 20.0),
             _span(3, 0, "streaming", 12.0, 14.0)]
    got = uncovered_frac(spans, [(0.0, 4.0), (10.0, 14.0)], ("sink", "streaming"))
    assert got == pytest.approx(1 - 4 / 8)


def test_source_log_maps_every_shard_to_its_batch():
    fb = read_source_log(CKPT)
    assert fb == {"shard-00000.parquet": 0, "shard-00001.parquet": 0,
                  "shard-00002.parquet": 1, "shard-00003.parquet": 2,
                  "shard-00004.parquet": 2}


def test_shard_latency_is_due_to_commit_end():
    fb = read_source_log(CKPT)
    due = {f"shard-0000{i}.parquet": 100.0 + i for i in range(5)}
    commit_end = {0: 102.0, 1: 102.5, 2: 106.0}
    got = shard_latencies_ms(due, fb, commit_end)
    assert got == pytest.approx([2000.0, 1000.0, 500.0, 3000.0, 2000.0])


def test_uncommitted_shard_is_an_error():
    fb = read_source_log(CKPT)
    with pytest.raises(RuntimeError, match="shard-00003"):
        shard_latencies_ms({"shard-00003.parquet": 1.0}, fb, {0: 2.0, 1: 3.0})
    with pytest.raises(RuntimeError, match="never committed"):
        shard_latencies_ms({"shard-00009.parquet": 1.0}, fb, {0: 2.0})


def test_failed_frac_counting():
    assert failure_counts(8, 0, True) == (8, 0)
    assert failure_counts(8, 2, True) == (8, 2)
    # a failed output check fails the whole run
    assert failure_counts(8, 0, False) == (8, 8)
    # at least one unit is always attempted
    assert failure_counts(0, 0, True) == (1, 0)
