"""Morton cell kernels: Spark Column, NumPy, and SQL forms must agree."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from distributed_spatial_index_spark.config import DEFAULT_REGION
from distributed_spatial_index_spark.functions import cells as C


def test_morton_roundtrip_np():
    rng = np.random.default_rng(42)
    cx = rng.integers(0, 128, 1000)
    cy = rng.integers(0, 128, 1000)
    code = C.morton_np(cx, cy, 7)
    rx, ry = C.morton_decode_np(code, 7)
    assert (rx == cx).all() and (ry == cy).all()
    assert code.min() >= 0 and code.max() < 128 * 128


def test_cell_id_three_forms_agree(spark, ddb):
    rng = np.random.default_rng(7)
    xs = rng.uniform(-10, DEFAULT_REGION.x_hi + 10, 500)  # incl. out-of-region clamp
    ys = rng.uniform(-10, DEFAULT_REGION.y_hi + 10, 500)
    np_ids = C.cell_id_np(xs, ys, 7)

    sdf = spark.createDataFrame(
        [(float(x), float(y)) for x, y in zip(xs, ys)], "x double, y double"
    ).select(C.cell_id_col(F.col("x"), F.col("y"), 7).alias("c"))
    spark_ids = np.array([r["c"] for r in sdf.collect()])
    assert (np.sort(spark_ids) == np.sort(np_ids)).all()

    ddb.execute("CREATE OR REPLACE TABLE _pts AS SELECT unnest(?) AS x, unnest(?) AS y",
                [xs.tolist(), ys.tolist()])
    sql_ids = np.array(
        [r[0] for r in ddb.execute(
            f"SELECT {C.cell_id_sql('x', 'y', 7)} FROM _pts").fetchall()]
    )
    assert (np.sort(sql_ids) == np.sort(np_ids)).all()


def test_covering_cells(spark):
    # rect spanning multiple cells: every contained point's cell is covered
    sdf = spark.createDataFrame(
        [(100.0, 100.0, 300.0, 350.0)], "xmin double, ymin double, xmax double, ymax double"
    ).select(C.covering_cells_col(
        F.col("xmin"), F.col("ymin"), F.col("xmax"), F.col("ymax"), bits=7
    ).alias("cells"))
    cells = set(sdf.collect()[0]["cells"])
    # corners + center of the rect must map into covered cells
    for x, y in [(100.0, 100.0), (300.0, 350.0), (200.0, 225.0), (100.0, 350.0)]:
        assert int(C.cell_id_np(np.array([x]), np.array([y]), 7)[0]) in cells
    assert len(cells) == len(set(cells))


def test_parent_cell(spark):
    sdf = spark.range(0, 1000).select(
        F.col("id").alias("fine"),
        C.parent_cell_col(F.col("id"), 7, 4).alias("coarse"),
    )
    for r in sdf.collect():
        fx, fy = C.morton_decode_np(np.array([r["fine"]]), 7)
        px, py = C.morton_decode_np(np.array([r["coarse"]]), 4)
        assert px[0] == fx[0] >> 3 and py[0] == fy[0] >> 3


def _analyzed(df, col):
    """The analyzed expression of ``col`` projected over ``df``."""
    return (
        df.select(col.alias("c"))._jdf.queryExecution().analyzed()
        .projectList().head().child()
    )


def test_cell_id_kernel_cache_matches_fresh_build(spark):
    """The cached kernel is the tree a fresh build makes (same analyzed
    expression, so the same codegen), is handed out again on the next
    call, and gives cell_id_np's values on two different frames."""
    rng = np.random.default_rng(3)
    frames = []
    for lo, hi in ((-10.0, 500.0), (4000.0, DEFAULT_REGION.x_hi + 10)):
        xs, ys = rng.uniform(lo, hi, 300), rng.uniform(lo, hi, 300)
        sdf = spark.createDataFrame(
            [(float(x), float(y)) for x, y in zip(xs, ys)], "x double, y double"
        )
        frames.append((sdf, xs, ys))

    kernel = C.cell_id_col(F.col("x"), F.col("y"), 9)
    assert C.cell_id_col(F.col("x"), F.col("y"), 9) is kernel
    assert C.cell_id_col(F.col("x"), F.col("y"), 8) is not kernel
    fresh = C.morton_col(
        C.cell_coord_col(F.col("x"), DEFAULT_REGION.x_lo, DEFAULT_REGION.width, 9),
        C.cell_coord_col(F.col("y"), DEFAULT_REGION.y_lo, DEFAULT_REGION.height, 9),
        9,
    )
    sdf0 = frames[0][0]
    a, b = _analyzed(sdf0, kernel), _analyzed(sdf0, fresh)
    assert a.toString() == b.toString() and a.semanticEquals(b)
    assert a.toString().upper().count("FLOOR(") == 64  # 32 copies per axis

    for sdf, xs, ys in frames:
        got = [r["c"] for r in sdf.select(kernel.alias("c")).collect()]
        assert got == C.cell_id_np(xs, ys, 9).tolist()


def test_kernel_cache_keys_on_the_input_expression(spark):
    """A resolved column (``df["x"]``) is a different input from
    ``F.col("x")`` and from another frame's ``x``: each gets its own tree,
    and each resolves against its own frame."""
    d1 = spark.createDataFrame([(1.0, 2.0)], "x double, y double")
    d2 = spark.createDataFrame([(3000.0, 4000.0)], "x double, y double")
    k1 = C.cell_id_col(d1["x"], d1["y"], 7)
    k2 = C.cell_id_col(d2["x"], d2["y"], 7)
    assert k1 is not k2 and k1 is not C.cell_id_col(F.col("x"), F.col("y"), 7)
    assert d1.select(k1).first()[0] == int(C.cell_id_np(np.array([1.0]), np.array([2.0]), 7)[0])
    assert d2.select(k2).first()[0] == int(
        C.cell_id_np(np.array([3000.0]), np.array([4000.0]), 7)[0]
    )


_RESTART_SCRIPT = """
import json, numpy as np
from pyspark.sql import functions as F
from distributed_spatial_index_spark.functions import cells as C
from distributed_spatial_index_spark.session import get_spark

xs, ys = np.array([1.5, 700.25, 8000.0]), np.array([3.0, 4400.5, 8800.0])
rows = [(float(x), float(y)) for x, y in zip(xs, ys)]
out = []
for _ in range(2):
    spark = get_spark(cores=1, shuffle_partitions=1)
    k = C.cell_id_col(F.col("x"), F.col("y"), 10)
    cov = C.covering_cells_col(F.col("x"), F.col("y"), F.col("x"), F.col("y"), 10)
    df = spark.createDataFrame(rows, "x double, y double")
    out.append({
        "id": id(k) + id(cov),
        "cells": [r[0] for r in df.select(k).collect()],
        "cover": [r[0] for r in df.select(cov).collect()],
    })
    spark.stop()
print(json.dumps({"runs": out, "np": C.cell_id_np(xs, ys, 10).tolist()}))
"""


def test_kernel_cache_survives_session_restart():
    """One process, session stopped and started again: the second session
    gets the same cached Column objects, and they still evaluate to
    cell_id_np's values (the JVM, and the trees in it, outlive a
    session).  Runs in its own process so the suite's session stays up."""
    import json
    import os
    import subprocess
    import sys

    env = dict(os.environ, SPARK_DRIVER_MEM="1g")
    env["PYTHONPATH"] = os.pathsep.join(
        [os.path.dirname(os.path.dirname(os.path.abspath(__file__)))]
        + [p for p in [env.get("PYTHONPATH")] if p]
    )
    res = subprocess.run(
        [sys.executable, "-c", _RESTART_SCRIPT],
        capture_output=True, text=True, env=env, timeout=600,
    )
    assert res.returncode == 0, res.stderr[-2000:]
    out = json.loads(res.stdout.strip().splitlines()[-1])
    first, second = out["runs"]
    assert first["id"] == second["id"]
    assert first["cells"] == second["cells"] == out["np"]
    assert first["cover"] == second["cover"] == [[c] for c in out["np"]]


def test_kernel_cache_concurrent_callers_share_one_tree(spark):
    """More threads than cores build the same kernels at once (requests
    are served concurrently): each key must still map to ONE Column that
    every caller receives."""
    import sys
    import threading

    bits_set = (5, 6, 11, 12)
    got: dict[int, list] = {b: [] for b in bits_set}
    lock = threading.Lock()

    def worker(i: int) -> None:
        for r in range(3):
            b = bits_set[(i + r) % len(bits_set)]
            k = C.cell_id_col(F.col("px"), F.col("py"), b)
            with lock:
                got[b].append(k)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=worker, args=(i,)) for i in range(12)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
        assert not any(t.is_alive() for t in threads)
    finally:
        sys.setswitchinterval(old)
    for b in bits_set:
        assert len(got[b]) == 9
        assert all(k is got[b][0] for k in got[b])
        assert C.cell_id_col(F.col("px"), F.col("py"), b) is got[b][0]
