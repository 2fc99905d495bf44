"""Exact NumPy oracles and the failure ledger.

Every oracle recomputes an engine result from the point coordinates
alone, with its own code: rect containment by a sorted-x scan, an
even-odd ray cast for polygons, a brute-force (d2, doc_id) ranking for
kNN and a per-window count for the stream.  Each float operation is
the one the engine applies, in the same order, so results compare
exactly; nothing here imports the engine.
"""

from __future__ import annotations

import threading

import numpy as np

EPS = 1e-5  # the engine's containment tolerance (config.EPSILON)


class PointIndex:
    """Points sorted by x, so a rect scans only its x-slab."""

    def __init__(self, ids: np.ndarray, xs: np.ndarray, ys: np.ndarray):
        order = np.argsort(xs, kind="stable")
        self.ids = np.asarray(ids, dtype=np.int64)[order]
        self.xs = np.asarray(xs, dtype=np.float64)[order]
        self.ys = np.asarray(ys, dtype=np.float64)[order]

    def slab(self, lo: float, hi: float) -> slice:
        a = np.searchsorted(self.xs, lo, side="left")
        b = np.searchsorted(self.xs, hi, side="right")
        return slice(int(a), int(b))


def pair_keys(qids, dids) -> np.ndarray:
    """(query_id, doc_id) pairs as one sorted int64 key array."""
    q = np.asarray(qids, dtype=np.int64)
    d = np.asarray(dids, dtype=np.int64)
    return np.sort(q * (1 << 40) + d)


def range_pairs(idx: PointIndex, rects: np.ndarray) -> np.ndarray:
    """rects: (n, 5) [query_id, xmin, ymin, xmax, ymax] -> pair keys of
    points inside each eps-padded rect (rect_contains_point's predicate:
    ``x >= xmin - eps`` etc.)."""
    qs, ds = [], []
    for qid, xmin, ymin, xmax, ymax in rects:
        lo, hi = xmin - EPS, xmax + EPS
        s = idx.slab(lo, hi)
        x, y = idx.xs[s], idx.ys[s]
        m = (x >= lo) & (x <= hi) & (y >= ymin - EPS) & (y <= ymax + EPS)
        ds.append(idx.ids[s][m])
        qs.append(np.full(int(m.sum()), int(qid), dtype=np.int64))
    if not qs:
        return np.zeros(0, dtype=np.int64)
    return pair_keys(np.concatenate(qs), np.concatenate(ds))


def even_odd(px: np.ndarray, py: np.ndarray, verts: np.ndarray) -> np.ndarray:
    """Even-odd rule over an implicitly closed ring."""
    inside = np.zeros(len(px), dtype=bool)
    n = len(verts)
    for i in range(n):
        x1, y1 = verts[i]
        x2, y2 = verts[(i + 1) % n]
        crosses = (y1 > py) != (y2 > py)
        if not crosses.any():
            continue
        xint = (x2 - x1) * (py[crosses] - y1) / (y2 - y1) + x1
        hit = np.zeros(len(px), dtype=bool)
        hit[crosses] = px[crosses] < xint
        inside ^= hit
    return inside


def polygon_pairs(idx: PointIndex, polygons: list) -> np.ndarray:
    """polygons: [(query_id, (n, 2) vertices)] -> pair keys of points
    strictly inside each polygon."""
    qs, ds = [], []
    for qid, verts in polygons:
        v = np.asarray(verts, dtype=np.float64)
        s = idx.slab(v[:, 0].min(), v[:, 0].max())
        x, y = idx.xs[s], idx.ys[s]
        box = (y >= v[:, 1].min()) & (y <= v[:, 1].max())
        inside = np.zeros(len(x), dtype=bool)
        inside[box] = even_odd(x[box], y[box], v)
        ds.append(idx.ids[s][inside])
        qs.append(np.full(int(inside.sum()), int(qid), dtype=np.int64))
    if not qs:
        return np.zeros(0, dtype=np.int64)
    return pair_keys(np.concatenate(qs), np.concatenate(ds))


def knn_rows(ids, xs, ys, centers: np.ndarray, k: int) -> list[tuple]:
    """centers: (n, 3) [query_id, x, y] -> sorted (query_id, rank, doc_id,
    d2) rows, ranked by (d2, doc_id) with d2 = dx*dx + dy*dy."""
    ids = np.asarray(ids, dtype=np.int64)
    rows = []
    for qid, qx, qy in centers:
        dx = xs - qx
        dy = ys - qy
        d2 = dx * dx + dy * dy
        # every point tied with the k-th distance is a candidate, so ties
        # rank by doc id over all of them
        kth = np.partition(d2, k - 1)[k - 1]
        cand = np.nonzero(d2 <= kth)[0]
        order = cand[np.lexsort((ids[cand], d2[cand]))][:k]
        rows.extend(
            (int(qid), r + 1, int(ids[j]), float(d2[j]))
            for r, j in enumerate(order)
        )
    return sorted(rows)


def window_counts(ids, xs, ys, win_start: int, rects: np.ndarray) -> dict:
    """Match counts per query for one window's docs -> {query_id: n}."""
    idx = PointIndex(ids, xs, ys)
    keys = range_pairs(idx, rects)
    q, n = np.unique(keys >> 40, return_counts=True)
    return {(win_start, int(a)): int(b) for a, b in zip(q, n)}


class Ledger:
    """Counts operations attempted and failed; a failure is an exception
    or a result that differs from the oracle's."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.notes: list[str] = []
        self._lock = threading.Lock()

    def check(self, what: str, got, want) -> bool:
        same = (
            np.array_equal(got, want)
            if isinstance(got, np.ndarray) or isinstance(want, np.ndarray)
            else got == want
        )
        self._count(not same, f"{what}: result differs from the oracle")
        return same

    def error(self, what: str, exc: BaseException) -> None:
        self._count(True, f"{what}: {type(exc).__name__}: {exc}"[:400])

    def _count(self, failed: bool, msg: str) -> None:
        with self._lock:
            self.attempted += 1
            if failed:
                self.failed += 1
                if len(self.notes) < 20:
                    self.notes.append(msg)
