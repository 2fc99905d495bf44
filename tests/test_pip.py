"""Point-in-polygon join vs exact oracles (FIXTURES.md §3)."""

from __future__ import annotations

import numpy as np
import pytest

from distributed_spatial_index_spark.operators.pip_join import (
    pip_join,
    ray_cast_np,
    triangle_pip_oracle_sql,
    triangle_polygons,
)
from distributed_spatial_index_spark.sources import tables as src
from tests.conftest import SF_DIR, assert_same_rows


def test_ray_cast_unit():
    square = np.array([(0.0, 0.0), (10.0, 0.0), (10.0, 10.0), (0.0, 10.0)])
    px = np.array([5.0, 15.0, -1.0, 9.999, 5.0])
    py = np.array([5.0, 5.0, 5.0, 9.999, 15.0])
    assert ray_cast_np(px, py, square).tolist() == [True, False, False, True, False]


def test_ray_cast_concave():
    # "U" shape: the notch center must be outside
    u = np.array([(0, 0), (10, 0), (10, 10), (7, 10), (7, 3), (3, 3), (3, 10), (0, 10)],
                 dtype=float)
    px = np.array([5.0, 1.5, 8.5, 5.0])
    py = np.array([6.0, 6.0, 6.0, 1.0])
    assert ray_cast_np(px, py, u).tolist() == [False, True, True, True]


def test_triangle_pip_vs_duckdb(spark, ddb):
    pts = src.geo_points(spark, SF_DIR, "lineitem")
    qxy = src.knn_queries(spark, SF_DIR, "lineitem")
    got = pip_join(pts, triangle_polygons(qxy))
    rows = ddb.execute(
        triangle_pip_oracle_sql(src.geo_points_sql("lineitem"),
                                src.knn_queries_sql("lineitem"))
    ).fetchall()
    assert_same_rows(got, rows)
    assert got.count() > 0


def test_convex_pip_equals_raycast_and_oracle(spark, ddb):
    from distributed_spatial_index_spark.operators.pip_join import convex_pip_join

    pts = src.geo_points(spark, SF_DIR, "lineitem")
    polys = triangle_polygons(src.knn_queries(spark, SF_DIR, "lineitem"))
    a = sorted(map(tuple, convex_pip_join(pts, polys).collect()))
    b = sorted(map(tuple, pip_join(pts, polys).collect()))
    assert a == b and len(a) > 0
    rows = ddb.execute(
        triangle_pip_oracle_sql(src.geo_points_sql("lineitem"),
                                src.knn_queries_sql("lineitem"))
    ).fetchall()
    assert sorted(a) == sorted(tuple(r) for r in rows)


def test_concave_polygon_vs_numpy(spark):
    pts = src.geo_points(spark, SF_DIR, "lineitem")
    u = [(4000.0, 4000.0), (4800.0, 4000.0), (4800.0, 4800.0), (4600.0, 4800.0),
         (4600.0, 4200.0), (4200.0, 4200.0), (4200.0, 4800.0), (4000.0, 4800.0)]
    polys = spark.createDataFrame(
        [(1, [{"x": x, "y": y} for x, y in u])],
        "query_id long, vertices array<struct<x double, y double>>",
    )
    got = sorted(r["doc_id"] for r in pip_join(pts, polys).collect())
    p = np.array([(r["id"], r["x"], r["y"]) for r in pts.collect()])
    inside = ray_cast_np(p[:, 1], p[:, 2], np.array(u))
    expect = sorted(set(int(i) for i in p[inside, 0]))
    assert got == expect and len(expect) > 0


def test_unrolled_raycast_concave_matches_general(spark):
    """The fixed-arity codegen even-odd path must equal the general
    classify+Arrow-refine path on CONCAVE rings (arrowhead quads) — the
    case the convex half-plane path cannot serve."""
    from pyspark.sql import functions as F

    from distributed_spatial_index_spark.operators.pip_join import pip_join

    pts = src.geo_points(spark, SF_DIR, "lineitem")
    kq = src.knn_queries(spark, SF_DIR, "lineitem")
    # concave arrowhead around each query point: (0,-30),(25,20),(0,5),(-25,20)
    quad = [(0.0, -30.0), (25.0, 20.0), (0.0, 5.0), (-25.0, 20.0)]
    verts = F.array(*[
        F.struct((F.col("x") + F.lit(dx)).alias("x"),
                 (F.col("y") + F.lit(dy)).alias("y"))
        for dx, dy in quad
    ])
    polys = kq.select("query_id", verts.alias("vertices"))
    fast = pip_join(pts, polys)  # auto-detects arity 4 -> unrolled codegen
    slow = pip_join(pts, polys, unroll_arity=None)
    a = sorted(map(tuple, fast.collect()))
    b = sorted(map(tuple, slow.collect()))
    assert a == b and len(a) > 0


def test_unrolled_raycast_random_pentagons(spark):
    """Randomized (seeded) pentagons — irregular, some nearly degenerate —
    must agree with both the general Arrow path and the raw NumPy kernel."""
    import numpy as np
    from pyspark.sql import functions as F

    from distributed_spatial_index_spark.operators.pip_join import (
        pip_join,
        ray_cast_np,
    )

    rng = np.random.default_rng(7)
    n_polys, n_pts = 6, 4000
    centers = rng.uniform(1000, 7000, size=(n_polys, 2))
    offsets = rng.uniform(-60, 60, size=(n_polys, 5, 2))
    px = rng.uniform(900, 7100, n_pts)
    py = rng.uniform(900, 7100, n_pts)

    pts = spark.createDataFrame(
        [(i, float(px[i]), float(py[i])) for i in range(n_pts)],
        "id long, x double, y double",
    )
    polys = spark.createDataFrame(
        [
            (
                q,
                [
                    {"x": float(centers[q, 0] + offsets[q, v, 0]),
                     "y": float(centers[q, 1] + offsets[q, v, 1])}
                    for v in range(5)
                ],
            )
            for q in range(n_polys)
        ],
        "query_id long, vertices array<struct<x: double, y: double>>",
    )
    fast = sorted(map(tuple, pip_join(pts, polys).collect()))
    slow = sorted(map(tuple, pip_join(pts, polys, unroll_arity=None).collect()))
    assert fast == slow
    expect = []
    for q in range(n_polys):
        verts = centers[q][None, :] + offsets[q]
        inside = ray_cast_np(px, py, verts)
        expect += [(q, i) for i in np.flatnonzero(inside)]
    assert fast == sorted(expect) and len(fast) > 0


def test_unrolled_raycast_axis_aligned_rectangles(spark):
    """Axis-aligned rings have horizontal edges whose x-intercept division
    is by zero — under ANSI mode this must be guarded, not relied on to
    short-circuit.  Rectangles are the workload the fixed-arity path is
    built for, so this is the regression fence for that guard."""
    from pyspark.sql import functions as F

    from distributed_spatial_index_spark.operators.pip_join import pip_join

    pts = src.geo_points(spark, SF_DIR, "lineitem")
    kq = src.knn_queries(spark, SF_DIR, "lineitem")
    # CCW axis-aligned rectangle around each query point
    rect = [(-20.0, -20.0), (20.0, -20.0), (20.0, 20.0), (-20.0, 20.0)]
    verts = F.array(*[
        F.struct((F.col("x") + F.lit(dx)).alias("x"),
                 (F.col("y") + F.lit(dy)).alias("y"))
        for dx, dy in rect
    ])
    polys = kq.select("query_id", verts.alias("vertices"))
    fast = sorted(map(tuple, pip_join(pts, polys).collect()))  # unrolled, arity 4
    slow = sorted(map(tuple, pip_join(pts, polys, unroll_arity=None).collect()))
    assert fast == slow and len(fast) > 0


def test_mixed_arity_auto_groups_match_general(spark):
    """A mixed-arity polygon table with few distinct vertex counts routes
    per-arity through the unrolled codegen join ("auto" grouping); results
    must equal the general Arrow-refine path exactly, including a concave
    group."""
    from pyspark.sql import functions as F

    from distributed_spatial_index_spark.operators.pip_join import pip_join

    pts = src.geo_points(spark, SF_DIR, "lineitem")
    kq = src.knn_queries(spark, SF_DIR, "lineitem")

    def polys_of(shape, rows):
        verts = F.array(*[
            F.struct((F.col("x") + F.lit(dx)).alias("x"),
                     (F.col("y") + F.lit(dy)).alias("y"))
            for dx, dy in shape
        ])
        return rows.select("query_id", verts.alias("vertices"))

    tri = [(0.0, -25.0), (30.0, 20.0), (-28.0, 15.0)]
    concave_quad = [(0.0, -30.0), (25.0, 20.0), (0.0, 5.0), (-25.0, 20.0)]
    # split queries between the two shapes -> one table, arities {3, 4}
    a = polys_of(tri, kq.filter(F.col("query_id") % 2 == 0))
    b = polys_of(concave_quad, kq.filter(F.col("query_id") % 2 == 1))
    polys = a.unionByName(b)

    fast = pip_join(pts, polys)  # auto -> per-arity unrolled group union
    slow = pip_join(pts, polys, unroll_arity=None)
    got = sorted(map(tuple, fast.collect()))
    expect = sorted(map(tuple, slow.collect()))
    assert got == expect and len(got) > 0
    # both arity groups actually contribute
    arities = {len(r) for r in [tri, concave_quad]}
    assert arities == {3, 4}
    assert fast.select("query_id").distinct().count() > 1


def test_general_path_refines_out_of_region_points(spark):
    """The general path's clamped-point routing: a point OUTSIDE the
    region clamps into an edge cell, which the polygon overhanging the
    region edge would otherwise cover fully; region-edge cells are never
    classified interior, so the point must go through the exact refine,
    not be emitted directly — and out-of-region points genuinely inside
    the polygon must be found."""
    from pyspark.sql import functions as F

    from distributed_spatial_index_spark.config import DEFAULT_REGION

    x_hi = DEFAULT_REGION.x_hi  # 8626.0
    # polygon overhangs the region's right edge: x in [8000, 9500]
    square = [(8000.3, 4000.7), (9500.3, 4000.7), (9500.3, 5000.7), (8000.3, 5000.7)]
    polys = spark.createDataFrame(
        [(1, [{"x": vx, "y": vy} for vx, vy in square])],
        "query_id long, vertices array<struct<x double, y double>>",
    )
    rows = [
        (1, 8500.1, 4500.1),   # in region, inside polygon
        (2, x_hi + 74.1, 4500.1),   # OUT of region, inside polygon
        (3, x_hi + 874.1, 4500.1),  # out of region, inside polygon (same edge cell)
        (4, x_hi + 974.1, 4500.1),  # out of region, OUTSIDE polygon (x > 9500.3)
        (5, 8500.1, 6000.1),   # in region, outside polygon
    ]
    pts = spark.createDataFrame(rows, "id long, x double, y double")
    got = sorted(
        (r["query_id"], r["doc_id"])
        for r in pip_join(pts, polys, bits=6, unroll_arity=None).collect()
    )
    # exact oracle: NumPy even-odd on the raw coordinates (no clamping)
    verts = np.array(square)
    px = np.array([r[1] for r in rows])
    py = np.array([r[2] for r in rows])
    inside = ray_cast_np(px, py, verts)
    expect = sorted((1, rows[i][0]) for i in range(len(rows)) if inside[i])
    assert got == expect
    # the interesting rows really are the clamped ones
    assert (1, 2) in got and (1, 3) in got and (1, 4) not in got


def _star(cx, cy, arity, rng, r0=15.0, r1=60.0):
    ang = np.sort(rng.uniform(0.0, 2.0 * np.pi, arity))
    rad = rng.uniform(r0, r1, arity)
    return np.column_stack([cx + rad * np.cos(ang), cy + rad * np.sin(ang)])


def _request_polygons(spark, polys):
    """A polygon request as a caller sends it: a frame over a Python list."""
    return spark.createDataFrame(
        [(q, [(float(x), float(y)) for x, y in v]) for q, v in polys],
        "query_id long, vertices array<struct<x:double,y:double>>",
    )


@pytest.mark.parametrize("mode", ["auto", None])
@pytest.mark.parametrize("scale", ["driver", "cover_too_large", "many_polygons"])
def test_polygon_request_sides_of_size_selection(spark, monkeypatch, scale, mode):
    """Polygon requests from a Python list must equal a NumPy even-odd
    test on every side of the size selection: classified on the driver
    (request scale), classified distributed because the cover is too
    large, and classified distributed over the caller's frame because
    there are too many polygons — whether "auto" routes them to the
    general path or the caller forces it.  The set mixes arities above
    MAX_UNROLL_ARITY (general path) and overhangs the region's right
    edge with points outside the region."""
    import distributed_spatial_index_spark.operators.pip_join as pj
    from distributed_spatial_index_spark.config import DEFAULT_REGION as R

    rng = np.random.default_rng(11)
    centers = rng.uniform(500, 8000, (6, 2))
    polys = [(q, _star(*centers[q], a, rng))
             for q, a in enumerate([3, 5, 13, 17, 24, 40])]
    # overhangs x_hi: vertices beyond the region, points beyond it too
    polys.append((6, _star(R.x_hi - 10.0, 4500.0, 20, rng, 40.0, 80.0)))
    n = 3000
    px = np.concatenate([rng.uniform(R.x_lo, R.x_hi + 90.0, n),
                         rng.uniform(R.x_hi, R.x_hi + 90.0, 300)])
    py = np.concatenate([rng.uniform(R.y_lo, R.y_hi, n),
                         rng.uniform(4400.0, 4600.0, 300)])
    for c in centers:  # points around each star's centre
        px = np.append(px, c[0] + rng.uniform(-30, 30, 60))
        py = np.append(py, c[1] + rng.uniform(-30, 30, 60))
    pts = spark.createDataFrame(
        [(i, float(x), float(y)) for i, (x, y) in enumerate(zip(px, py))],
        "id long, x double, y double",
    )

    calls = {"driver": 0, "distributed": 0}
    driver, distributed = pj._driver_query_cells, pj._classified_query_cells_df

    def spy_driver(*a, **k):
        out = driver(*a, **k)
        calls["driver"] += out is not None
        return out

    def spy_distributed(*a, **k):
        calls["distributed"] += 1
        return distributed(*a, **k)

    monkeypatch.setattr(pj, "_driver_query_cells", spy_driver)
    monkeypatch.setattr(pj, "_classified_query_cells_df", spy_distributed)
    if scale == "cover_too_large":
        monkeypatch.setattr(pj, "DRIVER_CLASSIFY_ROWS", 10)
    if scale == "many_polygons":
        monkeypatch.setattr(pj, "REQUEST_POLYGONS", 3)

    out = pip_join(pts, _request_polygons(spark, polys), unroll_arity=mode)
    got = sorted(map(tuple, out.collect()))
    expect = sorted(
        (q, i) for q, v in polys for i in np.flatnonzero(ray_cast_np(px, py, v))
    )
    assert got == expect
    assert len({q for q, _ in got}) >= 5
    # out-of-region points inside the overhanging polygon are found
    assert any(px[i] > R.x_hi for _, i in got)
    want = {"driver": (1, 0)}.get(scale, (0, 1))
    assert (calls["driver"], calls["distributed"]) == want


@pytest.mark.parametrize(
    "arities,mode", [([3, 13, 40], "auto"), ([3, 4], "auto"), ([3, 4], None)]
)
def test_request_scale_reads_polygon_frame_once(spark, arities, mode):
    """At request scale the caller's polygon frame runs exactly once — one
    bounded collect serves the arity probe, the refine broadcast and the
    classification, for the general path (chosen or forced) and the
    unrolled groups alike.  Counted per row through an accumulator in the
    frame's own lineage."""
    rng = np.random.default_rng(3)
    polys = [(q, _star(*rng.uniform(1000, 7000, 2), a, rng))
             for q, a in enumerate(arities * 2)]
    reads = spark.sparkContext.accumulator(0)

    def counted(row):
        reads.add(1)
        return row

    rdd = spark.sparkContext.parallelize(
        [(q, [(float(x), float(y)) for x, y in v]) for q, v in polys], 2
    ).map(counted)
    frame = spark.createDataFrame(
        rdd, "query_id long, vertices array<struct<x:double,y:double>>"
    )
    pts = src.geo_points(spark, SF_DIR, "lineitem")
    pip_join(pts, frame, unroll_arity=mode).collect()
    assert reads.value == len(polys)


@pytest.mark.parametrize("request_polygons", [16_384, 1])
def test_auto_groups_every_ring_of_a_query(spark, monkeypatch, request_polygons):
    """A query_id may hold several rings of different arity.  The "auto"
    arity probe must see every ring, not one per query_id: unrolling a
    3-ring at arity 5 reads vertices past its end as NULL, which poisons
    the XOR fold and silently drops the ring's hits.  Checked at request
    scale (probe from the collected rows) and past it (probe on the
    frame)."""
    import distributed_spatial_index_spark.operators.pip_join as pj

    monkeypatch.setattr(pj, "REQUEST_POLYGONS", request_polygons)
    rng = np.random.default_rng(7)
    tri = _star(2000.0, 2000.0, 3, rng, 40.0, 60.0)
    pent = _star(6000.0, 6000.0, 5, rng, 40.0, 60.0)
    polys = [(1, tri), (1, pent), (2, _star(4000.0, 4000.0, 4, rng))]
    px = np.concatenate([c + rng.uniform(-60, 60, 400) for c in (2000.0, 6000.0, 4000.0)])
    py = np.concatenate([c + rng.uniform(-60, 60, 400) for c in (2000.0, 6000.0, 4000.0)])
    pts = spark.createDataFrame(
        [(i, float(x), float(y)) for i, (x, y) in enumerate(zip(px, py))],
        "id long, x double, y double",
    )
    got = sorted(map(tuple, pip_join(pts, _request_polygons(spark, polys)).collect()))
    expect = sorted(
        (q, i) for q, v in polys for i in np.flatnonzero(ray_cast_np(px, py, v))
    )
    assert got == expect
    # the 3-ring's own hits are present
    assert any((1, i) in got for i in np.flatnonzero(ray_cast_np(px, py, tri)))
