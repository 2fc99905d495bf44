"""Hierarchical Morton (Z-order) cell index — the engine's H3/S2 stand-in.

The reference uses a flat fixed-resolution grid (GridPoint.java:28-56,
DensityPF.java:26-27: ``cell = floor((coord - lo) / extent * (g+1))``).  We
keep that cell math bit-for-bit and add a hierarchical id: the Morton
interleave of the two cell coordinates, at a coarse and a fine resolution.
Morton ids make cell ranges spatially coherent, so a sorted-cell-range index
(plans/grid.py) can map contiguous id ranges to partitions.

Each kernel is generated in three consistent forms (Spark Column / NumPy /
DuckDB SQL) from the same loop, so the oracle comparison is exact.
"""

from __future__ import annotations

import threading
from collections.abc import Callable

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

from distributed_spatial_index_spark.config import DEFAULT_REGION, Region

# ---------------------------------------------------------------------------
# cell coordinate:  floor((v - lo) / extent * n) clamped to [0, n-1]
# (DensityPF.java:26-27 semantics)
# ---------------------------------------------------------------------------


def cell_coord_col(v: Column, lo: float, extent: float, bits: int) -> Column:
    n = 1 << bits
    raw = F.floor((v - F.lit(lo)) / F.lit(extent) * F.lit(n))
    return F.least(F.greatest(raw, F.lit(0).cast("long")), F.lit(n - 1).cast("long"))


def cell_coord_np(v: np.ndarray, lo: float, extent: float, bits: int) -> np.ndarray:
    n = 1 << bits
    raw = np.floor((v - lo) / extent * n).astype(np.int64)
    return np.clip(raw, 0, n - 1)


def cell_coord_sql(v: str, lo: float, extent: float, bits: int) -> str:
    n = 1 << bits
    raw = f"CAST(floor((({v}) - {lo!r}) / {extent!r} * {n}) AS BIGINT)"
    return f"least(greatest({raw}, 0), {n - 1})"


# ---------------------------------------------------------------------------
# Morton interleave of two cell coordinates
# ---------------------------------------------------------------------------


# Bit spreading by binary magic numbers ("Interleave bits by Binary Magic
# Numbers", the classic public bit-twiddling hack): 5 shift-mask steps.
# Each step references the previous step's result twice (``out`` and
# ``out << s``), so the expression tree doubles per step: the analyzed
# tree holds 2^5 = 32 copies of each axis's coordinate expression (64 in
# cell_id_col).  The per-bit loop this replaced was measured falling back
# to interpreted evaluation (~10x CPU on the join hot path).  The tree's
# size is also why building it costs tens of milliseconds of py4j calls,
# and why cell_id_col / covering_cells_col cache it (below).
_SPREAD_STEPS: list[tuple[int, int]] = [
    (16, 0x0000FFFF0000FFFF),
    (8, 0x00FF00FF00FF00FF),
    (4, 0x0F0F0F0F0F0F0F0F),
    (2, 0x3333333333333333),
    (1, 0x5555555555555555),
]


def _spread_col(v: Column) -> Column:
    out = v
    for s, m in _SPREAD_STEPS:
        out = out.bitwiseOR(F.shiftleft(out, s)).bitwiseAND(F.lit(m))
    return out


def morton_col(cx: Column, cy: Column, bits: int) -> Column:
    assert bits <= 16
    return _spread_col(cx).bitwiseOR(F.shiftleft(_spread_col(cy), 1))


def morton_np(cx: np.ndarray, cy: np.ndarray, bits: int) -> np.ndarray:
    assert bits <= 16

    def spread(v: np.ndarray) -> np.ndarray:
        out = np.asarray(v, dtype=np.int64).copy()
        for s, m in _SPREAD_STEPS:
            out = (out | (out << s)) & m
        return out

    return spread(cx) | (spread(cy) << 1)


def morton_sql(cx: str, cy: str, bits: int) -> str:
    # SQL keeps the per-bit loop: textual magic-number spreading would
    # duplicate the coordinate expression 2^5 times in the string, and
    # DuckDB (vectorized interpreter) has no JIT-size issue to dodge.
    terms = []
    for i in range(bits):
        terms.append(f"((({cx}) >> {i}) & 1) << {2 * i}")
        terms.append(f"((({cy}) >> {i}) & 1) << {2 * i + 1}")
    return "(" + " | ".join(f"({t})" for t in terms) + ")"


def morton_decode_np(code: np.ndarray, bits: int) -> tuple[np.ndarray, np.ndarray]:
    code = np.asarray(code, dtype=np.int64)
    cx = np.zeros_like(code)
    cy = np.zeros_like(code)
    for i in range(bits):
        cx |= ((code >> (2 * i)) & 1) << i
        cy |= ((code >> (2 * i + 1)) & 1) << i
    return cx, cy


# ---------------------------------------------------------------------------
# kernel cache
# ---------------------------------------------------------------------------

# Every F.* call and Column operator is at least one py4j round trip, so
# building a cell kernel's tree costs 45-100 ms of driver time (4-vCPU
# VM) — paid on every request, before Spark sees a plan; a cache hit
# costs 1-6 ms (the key's py4j calls).  The trees are pure functions
# of their inputs, so each distinct (input expressions, bits, region) is
# built once per process and the same Column is handed out again.  A
# Column tree holds no session state and the JVM outlives a session, so
# entries stay valid across SparkSession stop/start.
_KERNELS: dict[tuple, Column] = {}
_KERNELS_MAX = 256
_KERNELS_LOCK = threading.Lock()


def _expr_key(c: Column) -> str | None:
    """Exact identity of a Column's expression: its JVM node with origin
    and call site stripped, printed in full — a resolved ``df["x"]``
    carries its exprId, so it never shares an entry with ``F.col("x")``.
    None when the Column has no JVM node (not cached)."""
    jc = getattr(c, "_jc", None)
    if jc is None:
        return None
    return jc.node().normalized().toString()


def _cached_kernel(
    name: str, inputs: tuple[Column, ...], bits: int, region: Region,
    build: Callable[[], Column],
) -> Column:
    keys = tuple(_expr_key(c) for c in inputs)
    if None in keys:
        return build()
    key = (name, keys, bits, region)
    with _KERNELS_LOCK:
        hit = _KERNELS.get(key)
    if hit is not None:
        return hit
    col = build()
    with _KERNELS_LOCK:
        if len(_KERNELS) >= _KERNELS_MAX:
            _KERNELS.pop(next(iter(_KERNELS)))
        return _KERNELS.setdefault(key, col)


# ---------------------------------------------------------------------------
# point -> cell id  /  rect -> covering cell ids
# ---------------------------------------------------------------------------


def cell_id_col(
    x: Column, y: Column, bits: int, region: Region = DEFAULT_REGION
) -> Column:
    """Morton cell id of a point at the given resolution (Spark, codegen'd).
    Built once per (x, y, bits, region) and reused (see _cached_kernel)."""

    def build() -> Column:
        cx = cell_coord_col(x, region.x_lo, region.width, bits)
        cy = cell_coord_col(y, region.y_lo, region.height, bits)
        return morton_col(cx, cy, bits)

    return _cached_kernel("cell_id", (x, y), bits, region, build)


def cell_id_np(
    x: np.ndarray, y: np.ndarray, bits: int, region: Region = DEFAULT_REGION
) -> np.ndarray:
    cx = cell_coord_np(x, region.x_lo, region.width, bits)
    cy = cell_coord_np(y, region.y_lo, region.height, bits)
    return morton_np(cx, cy, bits)


def cell_id_sql(
    x: str, y: str, bits: int, region: Region = DEFAULT_REGION
) -> str:
    cx = cell_coord_sql(x, region.x_lo, region.width, bits)
    cy = cell_coord_sql(y, region.y_lo, region.height, bits)
    return morton_sql(cx, cy, bits)


def covering_cells_col(
    xmin: Column,
    ymin: Column,
    xmax: Column,
    ymax: Column,
    bits: int,
    region: Region = DEFAULT_REGION,
) -> Column:
    """Array of Morton cell ids whose grid cells intersect the rect.

    Spark-side analogue of the reference's tree search that routes one copy
    of an item to every intersecting leaf (GlobalTreePF.java:51-72,
    GTree.java:395-407).  Built from ``sequence`` + ``transform`` +
    ``flatten`` — pure built-ins, no Python.  Built once per (inputs,
    bits, region) and reused (see _cached_kernel).
    """

    def build() -> Column:
        cxmin = cell_coord_col(xmin, region.x_lo, region.width, bits)
        cxmax = cell_coord_col(xmax, region.x_lo, region.width, bits)
        cymin = cell_coord_col(ymin, region.y_lo, region.height, bits)
        cymax = cell_coord_col(ymax, region.y_lo, region.height, bits)
        return F.flatten(
            F.transform(
                F.sequence(cxmin, cxmax),
                lambda cx: F.transform(
                    F.sequence(cymin, cymax), lambda cy: morton_col(cx, cy, bits)
                ),
            )
        )

    return _cached_kernel(
        "covering_cells", (xmin, ymin, xmax, ymax), bits, region, build
    )


def parent_cell_col(fine_cell: Column, fine_bits: int, coarse_bits: int) -> Column:
    """Coarse-level ancestor of a fine Morton cell (drop low interleaved bits)."""
    return F.shiftright(fine_cell, 2 * (fine_bits - coarse_bits))
