"""Unit tests of the benchmark's pure helpers (no Spark needed):

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))

from perfbench import stats  # noqa: E402


@pytest.mark.parametrize(
    "n, expected",
    [(0, None), (19, None), (20, 50.0), (39, 50.0), (40, 75.0), (99, 75.0),
     (100, 90.0), (199, 90.0), (200, 95.0), (1000, 99.0), (10_000, 99.9)],
)
def test_highest_percentile_leaves_ten_samples_beyond(n, expected):
    assert stats.highest_supported_percentile(n) == expected


def test_percentile_interpolates_like_numpy():
    xs = [5.0, 1.0, 3.0, 2.0, 4.0]
    assert stats.percentile(xs, 50) == 3.0
    assert stats.percentile(xs, 90) == pytest.approx(4.6)
    with pytest.raises(ValueError):
        stats.percentile([], 50)


def test_open_loop_latency_counts_the_stall_against_later_requests():
    # one request due every second; the consumer stalls until t=10, then
    # serves one request per 0.5 s
    due = [0.0, 1.0, 2.0, 3.0]
    done = [10.5, 11.0, 11.5, 12.0]
    assert stats.open_loop_latencies(due, done) == [10.5, 10.0, 9.5, 9.0]
    # a generator that itself fell behind does not hide the wait
    sent = [0.0, 1.0, 2.5, 3.0]
    assert stats.generator_lateness(due, sent) == [0.0, 0.0, 0.5, 0.0]
    with pytest.raises(ValueError):
        stats.open_loop_latencies(due, done[:2])


def test_self_time_subtracts_child_coverage_once():
    spans = [
        {"id": 0, "parent": None, "start": 0.0, "end": 10.0},
        # overlapping children cover [1, 5]; a child sticking out of its
        # parent only counts inside it
        {"id": 1, "parent": 0, "start": 1.0, "end": 4.0},
        {"id": 2, "parent": 0, "start": 3.0, "end": 5.0},
        {"id": 3, "parent": 0, "start": 9.0, "end": 12.0},
        # a grandchild does not reduce the root again
        {"id": 4, "parent": 1, "start": 1.0, "end": 2.0},
    ]
    got = stats.self_times(spans)
    assert got[0] == pytest.approx(10.0 - 4.0 - 1.0)
    assert got[1] == pytest.approx(2.0)
    assert got[2] == pytest.approx(2.0)
    assert got[4] == pytest.approx(1.0)


def test_union_length_merges_overlaps():
    assert stats.union_length([(0, 1), (0.5, 2), (3, 4), (5, 5)]) == pytest.approx(3.0)
    assert stats.union_length([]) == 0.0


def test_row_comparators_ignore_order_but_not_multiplicity():
    a = [("u1", 1, 10), ("u2", 2, 20)]
    assert stats.same_rows(a, list(reversed(a)))
    assert not stats.same_rows(a, a + [("u2", 2, 20)])
    assert not stats.same_rows(a, [("u1", 1, 10), ("u2", 2, 21)])
    assert stats.rows_digest([])[0] == 0


def test_amdahl_fit():
    eff, serial = stats.amdahl(t1=10.0, tn=4.0, n=4)
    # T(k) = s + p / k through (1, 10) and (4, 4): p = 8, s = 2
    assert serial == pytest.approx(2.0)
    assert eff == pytest.approx(10.0 / 16.0)


def test_doc_texts_follow_the_measured_sf01_shape():
    import numpy as np

    from perfbench import inputs

    texts = inputs.doc_texts(np.random.default_rng(5), 2000)
    originals = {t for t in texts if inputs.DUP_TOKEN not in t.split()}
    dups = [t.split() for t in texts if inputs.DUP_TOKEN in t.split()]
    assert len(dups) == 2000 * inputs.NEAR_DUP_SHARE
    for words in dups:  # an original text with the token inserted once
        words.remove(inputs.DUP_TOKEN)
        assert " ".join(words) in originals
    lengths = [len(t.split()) for t in originals]
    assert min(lengths) >= inputs.WORDS_MIN and max(lengths) <= inputs.WORDS_MAX
    assert {w for t in originals for w in t.split()} <= set(inputs._VOCAB)
    assert texts == inputs.doc_texts(np.random.default_rng(5), 2000)
