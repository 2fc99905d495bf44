"""Seeded inputs: a lineitem-shaped id table, the points the engine
derives from it, and the request payloads a client sends.

The id table has lineitem's two id columns (``l_orderkey``,
``l_linenumber``); the engine derives (x, y, ts) from
``l_orderkey * 10 + l_linenumber``.  Order keys are drawn with
replacement from n_rows / 4 values, so about 76% of the ids are unique,
close to the TPC-H sf0.1 file the engine's tests use.
"""

from __future__ import annotations

import os

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EPOCH_MS = 1477958400000  # the engine's event-time origin
WINDOW_MS = 60_000
QUERY_RATIO = 150
QUERY_RADIUS = 20.0
REGION = (0.0, 0.0, 8626.0, 8872.0)


def write_lineitem(data_dir: str, seed: int, n_rows: int) -> None:
    rng = np.random.default_rng(seed)
    okey = rng.integers(1, n_rows // 4, n_rows, dtype=np.int64) * 4
    line = rng.integers(1, 8, n_rows, dtype=np.int32)
    pq.write_table(
        pa.table({"l_orderkey": okey, "l_linenumber": line}),
        os.path.join(data_dir, "lineitem.parquet"),
    )


def derive_points(data_dir: str, tmp_dir: str) -> dict[str, np.ndarray]:
    """Unique (id, x, y, ts) via the engine's DuckDB twin of its Spark
    derivation, sorted by id."""
    from distributed_spatial_index_spark.sources.tables import (
        unique_geo_points_sql,
    )

    con = duckdb.connect()
    try:
        con.execute(f"SET temp_directory='{tmp_dir}'")
        con.execute(
            "CREATE VIEW lineitem AS SELECT * FROM "
            f"read_parquet('{data_dir}/lineitem.parquet')"
        )
        got = con.execute(
            f"SELECT id, x, y, ts FROM ({unique_geo_points_sql()}) ORDER BY id"
        ).fetchnumpy()
    finally:
        con.close()
    return {k: np.asarray(v) for k, v in got.items()}


def residue(seed: int) -> int:
    """A residue class of ids mod QUERY_RATIO that lineitem ids reach
    (``id % 10`` is the line number, 1..7)."""
    valid = [r for r in range(QUERY_RATIO) if 1 <= r % 10 <= 7]
    return valid[seed % len(valid)]


def residue_rects(pts: dict, r: int) -> np.ndarray:
    """Every point with ``id % 150 == r`` spawns a rect of half-width 20
    (the engine's range_queries shape) -> (n, 5) rows."""
    m = pts["id"] % QUERY_RATIO == r
    x, y = pts["x"][m], pts["y"][m]
    return np.column_stack([
        pts["id"][m].astype(np.float64),
        x - QUERY_RADIUS, y - QUERY_RADIUS, x + QUERY_RADIUS, y + QUERY_RADIUS,
    ])


def range_rects(rng, pts: dict, n: int) -> np.ndarray:
    j = rng.integers(0, len(pts["id"]), n)
    x, y = pts["x"][j], pts["y"][j]
    return np.column_stack([
        np.arange(n, dtype=np.float64),
        x - QUERY_RADIUS, y - QUERY_RADIUS, x + QUERY_RADIUS, y + QUERY_RADIUS,
    ])


def star_polygons(rng, pts: dict, n: int, max_arity: int = 40) -> list:
    """Star-shaped (hence simple) rings around random points, arity
    3..max_arity, radius 15..60 -> [(query_id, (arity, 2) vertices)]."""
    out = []
    for q in range(n):
        j = rng.integers(0, len(pts["id"]))
        arity = int(rng.integers(3, max_arity + 1))
        ang = np.sort(rng.uniform(0.0, 2.0 * np.pi, arity))
        rad = rng.uniform(15.0, 60.0, arity)
        verts = np.column_stack([
            pts["x"][j] + rad * np.cos(ang), pts["y"][j] + rad * np.sin(ang),
        ])
        out.append((q, verts))
    return out


def knn_centers(rng, pts: dict, n: int) -> np.ndarray:
    j = rng.integers(0, len(pts["id"]), n)
    return np.column_stack([
        np.arange(n, dtype=np.float64),
        pts["x"][j] + rng.uniform(-5.0, 5.0, n),
        pts["y"][j] + rng.uniform(-5.0, 5.0, n),
    ])
