"""Tests of the benchmark's own checking code (no Spark needed):

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import oracle  # noqa: E402


def _points(n=2000, seed=0):
    rng = np.random.default_rng(seed)
    return (np.arange(n, dtype=np.int64), rng.uniform(0, 100, n), rng.uniform(0, 100, n))


def test_range_pairs_match_brute_force():
    ids, xs, ys = _points()
    rects = np.array([[7, 10.0, 10.0, 30.0, 40.0], [9, 50.0, 0.0, 51.0, 100.0]])
    want = []
    for q, x0, y0, x1, y1 in rects:
        e = oracle.EPS
        m = (xs >= x0 - e) & (xs <= x1 + e) & (ys >= y0 - e) & (ys <= y1 + e)
        want += [(int(q), int(i)) for i in ids[m]]
    got = oracle.range_pairs(oracle.PointIndex(ids, xs, ys), rects)
    assert np.array_equal(got, oracle.pair_keys(*zip(*want)))


def test_wrong_result_counts_as_a_failure():
    ids, xs, ys = _points()
    idx = oracle.PointIndex(ids, xs, ys)
    rects = np.array([[1, 20.0, 20.0, 60.0, 60.0]])
    right = oracle.range_pairs(idx, rects)
    ledger = oracle.Ledger()
    assert ledger.check("range", right.copy(), right)
    # one pair missing, then one doc id off by one
    assert not ledger.check("range", right[:-1], right)
    wrong = right.copy()
    wrong[0] += 1
    assert not ledger.check("range", wrong, right)
    ledger.error("knn", RuntimeError("boom"))
    assert (ledger.attempted, ledger.failed) == (4, 3)
    assert len(ledger.notes) == 3


def test_knn_ranks_ties_by_doc_id():
    ids = np.array([5, 3, 9, 1], dtype=np.int64)
    xs = np.array([1.0, -1.0, 0.0, 3.0])
    ys = np.array([0.0, 0.0, 1.0, 0.0])
    rows = oracle.knn_rows(ids, xs, ys, np.array([[0, 0.0, 0.0]]), k=3)
    assert rows == [(0, 1, 3, 1.0), (0, 2, 5, 1.0), (0, 3, 9, 1.0)]


def test_even_odd_square_and_concave_ring():
    square = np.array([[0.0, 0.0], [10.0, 0.0], [10.0, 10.0], [0.0, 10.0]])
    px = np.array([5.0, 15.0, 0.5, 9.5])
    py = np.array([5.0, 5.0, 9.5, 0.5])
    assert oracle.even_odd(px, py, square).tolist() == [True, False, True, True]
    # a "C" shape: the notch (5, 5) is outside
    c = np.array([[0, 0], [10, 0], [10, 3], [3, 3], [3, 7], [10, 7], [10, 10], [0, 10]],
                 dtype=float)
    assert oracle.even_odd(np.array([5.0, 1.0]), np.array([5.0, 5.0]), c).tolist() == [
        False, True]


def test_window_counts_per_query():
    ids = np.arange(4, dtype=np.int64)
    xs = np.array([1.0, 2.0, 50.0, 51.0])
    ys = np.array([1.0, 2.0, 50.0, 51.0])
    rects = np.array([[10, 0.0, 0.0, 3.0, 3.0], [11, 49.0, 49.0, 60.0, 60.0],
                      [12, 90.0, 90.0, 95.0, 95.0]])
    assert oracle.window_counts(ids, xs, ys, 60_000, rects) == {
        (60_000, 10): 2, (60_000, 11): 2}


def test_run_fails_without_the_engine(tmp_path):
    """In a directory holding only the benchmark, run.py exits non-zero
    and prints no result line."""
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns(".work", "out", "__pycache__"))
    shutil.copy(os.path.join(os.path.dirname(HERE), "BENCHMARK.json"), tmp_path)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "serve-mix",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode != 0
    for line in proc.stdout.splitlines():
        assert "correct" not in json.loads(line)
