"""The two workloads: ``serve-mix`` (resident table, requests beside a
windowed stream) and ``landed-rw`` (landed layout, bulk reads beside
upserts).

Each workload object runs in three steps: ``prepare`` (derive, persist
or land the inputs), ``warm_up`` (one verified call of every operation
type, so first-run compilation and worker start-up are charged to
set-up) and ``measure`` (whole cycles of operations, timed).  Every
result is checked against oracle.py; every exception or mismatch lands
in the ledger.
"""

from __future__ import annotations

import os
import threading
import time
from concurrent.futures import ThreadPoolExecutor

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

import inputs
import oracle
from harness import gmean, median, percentile


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _pairs(tbl: pa.Table) -> np.ndarray:
    return oracle.pair_keys(
        tbl.column("query_id").to_numpy(), tbl.column("doc_id").to_numpy()
    )


def _knn_rows(tbl: pa.Table) -> list[tuple]:
    cols = [tbl.column(c).to_pylist() for c in ("query_id", "rank", "doc_id", "d2")]
    return sorted(zip(*cols))


EXEC_SPAN = {  # the function each dispatch regime runs
    "broadcast": "operators.range_join.point_range_join",
    "bucketed": "plans.bucketing.bucketed_point_range_join",
    "salted": "plans.partitioning.salted_point_range_join",
}


class Workload:
    """Shared state: the session, the oracle's copy of the points, the
    tracer, the ledger and the latency samples per operation type."""

    types: tuple[str, ...] = ()

    def __init__(self, spark, tracer, ledger, pts, data_dir, run_dir, seed):
        self.spark = spark
        self.tracer = tracer
        self.ledger = ledger
        self.pts = pts
        self.data_dir = data_dir
        self.run_dir = run_dir
        self.seed = seed
        self.rng = np.random.default_rng(seed + 1)
        self.lat: dict[str, list[float]] = {t: [] for t in self.types}
        self.traced_lat: dict[str, list[float]] = {t: [] for t in self.types}
        self.layer: dict[str, list[float]] = {}
        self.traced_ops: list[str] = []
        self.n_ops = 0
        self.lock = threading.Lock()
        self.idx = oracle.PointIndex(pts["id"], pts["x"], pts["y"])

    # -- helpers --------------------------------------------------------

    def note(self, name: str, value: float) -> None:
        self.layer.setdefault(name, []).append(float(value))

    def op_id(self, kind: str) -> str:
        with self.lock:
            self.n_ops += 1
            op = f"{kind}-{self.n_ops}"
        if self.tracer.enabled:
            self.traced_ops.append(op)
        return op

    def record(self, kind: str, seconds: float) -> None:
        (self.traced_lat if self.tracer.enabled else self.lat)[kind].append(seconds)

    def run_op(self, kind: str, payload=None, timed: bool = True) -> None:
        """Run one operation on a payload made beforehand (payloads come
        from the seeded generator in a fixed order, whatever thread runs
        the operation); an exception counts as a failure."""
        try:
            dt = self.ops[kind](self.op_id(kind), payload)
        except Exception as exc:  # noqa: BLE001 - any engine error is a failed op
            self.ledger.error(kind, exc)
            return
        if timed:
            self.record(kind, dt)

    def concurrently(self, jobs: list[tuple]) -> None:
        """Run (kind, payload) operations in parallel threads, untimed:
        warm-up overlaps the first-run costs of independent operations."""
        with ThreadPoolExecutor(len(jobs)) as pool:
            futures = [pool.submit(self.run_op, k, p, False) for k, p in jobs]
        for f in futures:
            f.result()

    def rect_df(self, rects: np.ndarray):
        return self.spark.createDataFrame(pd.DataFrame({
            "query_id": rects[:, 0].astype(np.int64),
            "xmin": rects[:, 1], "ymin": rects[:, 2],
            "xmax": rects[:, 3], "ymax": rects[:, 4],
        }))

    def center_df(self, centers: np.ndarray):
        return self.spark.createDataFrame(pd.DataFrame({
            "query_id": centers[:, 0].astype(np.int64),
            "x": centers[:, 1], "y": centers[:, 2],
        }))

    def trace_range_layers(self, points_df, rects_df, n_rects: int) -> None:
        """Traced mode only: materialize the range join's intermediate
        outputs (cell ids, query cover, candidate pairs) in child spans."""
        from pyspark.sql import functions as F

        from distributed_spatial_index_spark.config import JOIN_BITS
        from distributed_spatial_index_spark.functions.cells import cell_id_col
        from distributed_spatial_index_spark.operators.range_join import (
            explode_query_cells,
        )

        cells = points_df.withColumn(
            "cell", cell_id_col(F.col("x"), F.col("y"), JOIN_BITS)
        )
        with self.tracer.span("functions.cell_id_col") as s:
            _noop(cells)
        self.note("functions.cell_s", s["dur"])
        cover = explode_query_cells(rects_df)
        with self.tracer.span("operators.range_join.explode_query_cells"):
            n_cover = cover.count()
        self.note("functions.cover_rows_per_query", n_cover / n_rects)
        with self.tracer.span("operators.range_join.candidates"):
            cand = cells.join(F.broadcast(cover), "cell").count()
        self.note("range_join.candidates", cand)

    def measure(self, seconds: float) -> None:
        """Whole cycles of the workload's operations until ``seconds``
        have passed (at least one, so every type is sampled)."""
        t0 = time.perf_counter()
        while True:
            for kind in self.cycle():
                self.run_op(kind, self.payload(kind))
            if time.perf_counter() - t0 >= seconds:
                return

    def type_p50(self, lat: dict) -> dict[str, float]:
        return {t: median(v) for t, v in lat.items() if v}


# --- serve-mix ----------------------------------------------------------------


class ServeMix(Workload):
    """One closed-loop client sends range, polygon and kNN requests
    (2:1:1, seeded order) against the resident points while an open-loop
    generator feeds a windowed stream join."""

    types = ("range", "pip", "knn", "window")
    CYCLE = ("range", "range", "pip", "knn")
    RANGE_RECTS, POLYGONS, CENTERS, K = 64, 16, 16, 5
    PERIOD_S = 1.0  # one event-time window of docs per period
    WINDOWS = 5

    def prepare(self) -> None:
        from distributed_spatial_index_spark.sources import tables as src
        from harness import cores

        self.stream_rects = inputs.residue_rects(self.pts, inputs.residue(self.seed))
        self.stream_queries = self.rect_df(self.stream_rects).persist()
        # the stream's warm-up needs only the query rects: it runs while
        # the points are derived and persisted
        warm = StreamRun(self, self.window_slice(2), os.path.join(self.run_dir, "warm"), 0.0)
        self.pool = ThreadPoolExecutor(1)
        self.stream_warm = self.pool.submit(warm.run_available_now)
        with self.tracer.span("sources.unique_geo_points") as s:
            self.points = src.unique_geo_points(
                self.spark, self.data_dir, "lineitem", parallelism=2 * cores()
            ).persist()
            n = self.points.count()
        self.note("sources.persist_s", s["dur"])
        self.note("sources.rows", n)
        self.ledger.check("sources.rows", n, len(self.pts["id"]))

    @property
    def ops(self) -> dict:
        return {"range": self.range_op, "pip": self.pip_op, "knn": self.knn_op}

    def payload(self, kind: str):
        if kind == "range":
            return inputs.range_rects(self.rng, self.pts, self.RANGE_RECTS)
        if kind == "pip":
            return inputs.star_polygons(self.rng, self.pts, self.POLYGONS)
        return inputs.knn_centers(self.rng, self.pts, self.CENTERS)

    def warm_up(self) -> None:
        self.concurrently([(k, self.payload(k)) for k in ("range", "pip", "knn")])
        self.stream_warm.result()
        self.pool.shutdown()

    def window_slice(self, n: int) -> list[int]:
        """n consecutive event-time windows of the hour, seeded."""
        first = int(np.random.default_rng(self.seed + 2).integers(0, 60 - n))
        return list(range(first, first + n))

    def cycle(self) -> list[str]:
        return list(self.rng.permutation(self.CYCLE))

    def measure(self, seconds: float) -> None:
        """The first call runs the stream alongside the request cycles —
        a server ingests while it answers — so both share the cores, as
        they would in deployment; a second (traced) call runs requests
        only."""
        if self.lat["window"]:
            super().measure(seconds)
            return
        run = StreamRun(
            self, self.window_slice(self.WINDOWS), os.path.join(self.run_dir, "live"),
            self.PERIOD_S,
        )
        run.start()
        super().measure(seconds)
        run.finish(timeout=60.0)
        self.lat["window"].extend(run.latencies)
        run.report(self)

    def range_op(self, op: str, rects: np.ndarray) -> float:
        from distributed_spatial_index_spark.plans.dispatch import (
            point_range_join_auto,
        )

        qdf = self.rect_df(rects)
        with self.tracer.span("serve.range", op) as s:
            with self.tracer.span("plans.dispatch.point_range_join_auto") as d:
                out = point_range_join_auto(self.spark, self.points, qdf)
            regime = out.join_plan["regime"]
            with self.tracer.span(EXEC_SPAN[regime]) as j:
                if self.tracer.enabled:
                    self.trace_range_layers(self.points, qdf, len(rects))
                tbl = out.toArrow()
        got = _pairs(tbl)
        self.ledger.check("range", got, oracle.range_pairs(self.idx, rects))
        if self.tracer.enabled:
            self.note("dispatch.decide_s", d["dur"])
            self.note("dispatch.broadcast_share", regime == "broadcast")
            self.note("range_join.s", j["dur"])
            self.note("range_join.results", len(got))
        return s["dur"]

    def pip_op(self, op: str, polys: list) -> float:
        from distributed_spatial_index_spark.operators.pip_join import pip_join

        pdf = self.spark.createDataFrame(
            [(q, [(float(x), float(y)) for x, y in v]) for q, v in polys],
            "query_id long, vertices array<struct<x:double,y:double>>",
        )
        with self.tracer.span("serve.pip", op) as s:
            with self.tracer.span("operators.pip_join.pip_join") as p:
                tbl = pip_join(self.points, pdf).toArrow()
        self.ledger.check("pip", _pairs(tbl), oracle.polygon_pairs(self.idx, polys))
        if self.tracer.enabled:
            self.note("pip_join.s", p["dur"])
        return s["dur"]

    def knn_op(self, op: str, centers: np.ndarray) -> float:
        from distributed_spatial_index_spark.operators.knn import knn

        cdf = self.center_df(centers)
        with self.tracer.span("serve.knn", op) as s:
            with self.tracer.span("operators.knn.knn") as k:
                out = knn(self.points, cdf, k=self.K)
                tbl = out.toArrow()
        stats = out.knn_stats
        out.unpersist()
        want = oracle.knn_rows(self.pts["id"], self.pts["x"], self.pts["y"], centers, self.K)
        self.ledger.check("knn", _knn_rows(tbl), want)
        if self.tracer.enabled:
            self.note("knn.s", k["dur"])
            for key in ("rounds_run", "stragglers", "fallback_used"):
                self.note(f"knn.{key}", stats[key])
        return s["dur"]

    def end_to_end(self, lat: dict) -> dict:
        w = lat.get("window", [])
        return {
            "range_p50_s": median(lat.get("range", [])),
            "pip_p50_s": median(lat.get("pip", [])),
            "knn_p50_s": median(lat.get("knn", [])),
            "request_p75_s": percentile(
                lat.get("range", []) + lat.get("pip", []) + lat.get("knn", []), 75
            ),
            "window_latency_p50_s": median(w),
            "window_latency_p80_s": percentile(w, 80),
        }


class StreamRun:
    """The stream part of serve-mix: an open-loop generator thread writes
    one parquet chunk per event-time window on a fixed schedule;
    streaming_point_range_join consumes them; the sink stamps when each
    window's rows arrive.  A window's latency runs from the due time of
    the chunk that closes it (the next window's chunk) to its arrival."""

    def __init__(self, w: ServeMix, windows: list[int], root: str, period: float):
        self.w = w
        self.windows = windows
        self.period = period
        self.src = os.path.join(root, "src")
        self.ckpt = os.path.join(root, "ckpt")
        os.makedirs(self.src, exist_ok=True)
        win = (w.pts["ts"] - inputs.EPOCH_MS) // inputs.WINDOW_MS
        self.chunks = [np.nonzero(win == k)[0] for k in windows]
        self.due: list[float] = []
        self.late: list[float] = []
        self.backlog: list[int] = []
        self.arrived: dict[int, float] = {}
        self.counts: dict = {}
        self.latencies: list[float] = []
        self.lock = threading.Lock()
        self.query = None
        self.gen = None

    def _write(self, i: int) -> None:
        """Chunk i (the last index is the flush doc that closes the final
        window: off-region, so it matches nothing)."""
        if i < len(self.chunks):
            j = self.chunks[i]
            ids, xs, ys = self.w.pts["id"][j], self.w.pts["x"][j], self.w.pts["y"][j]
            ts = self.w.pts["ts"][j]
        else:
            end = inputs.EPOCH_MS + (self.windows[-1] + 1) * inputs.WINDOW_MS
            ids, xs, ys = np.array([-1]), np.array([-1e6]), np.array([-1e6])
            ts = np.array([end])
        tbl = pa.table({
            "id": pa.array(ids, pa.int64()), "x": pa.array(xs, pa.float64()),
            "y": pa.array(ys, pa.float64()),
            "ts": pa.array(np.asarray(ts, dtype=np.int64) * 1000,
                           pa.timestamp("us", tz="UTC")),
        })
        tmp = os.path.join(self.src, f".part-{i:04d}.parquet")
        pq.write_table(tbl, tmp)
        os.rename(tmp, os.path.join(self.src, f"part-{i:04d}.parquet"))

    def _sink(self, df, batch_id: int) -> None:
        rows = df.collect()
        t = time.perf_counter()
        with self.lock:
            for r in rows:
                k = int(r["win_start"].timestamp() * 1000)
                self.arrived.setdefault(k, t)
                self.counts[(k, int(r["query_id"]))] = int(r["n_matches"])

    def _start_query(self, available_now: bool):
        from distributed_spatial_index_spark.streaming.stream_join import (
            streaming_point_range_join,
        )

        stream = self.w.spark.readStream.schema(
            "id long, x double, y double, ts timestamp"
        ).parquet(self.src)
        writer = (
            streaming_point_range_join(stream, self.w.stream_queries)
            .writeStream.outputMode("append")
            .foreachBatch(self._sink)
            .option("checkpointLocation", self.ckpt)
        )
        if available_now:
            writer = writer.trigger(availableNow=True)
        return writer.start()

    def run_available_now(self) -> None:
        for i in range(len(self.chunks) + 1):
            self._write(i)
        q = self._start_query(available_now=True)
        q.awaitTermination(120)
        self.verify()

    def start(self) -> None:
        self.query = self._start_query(available_now=False)
        self.gen = threading.Thread(target=self._generate, daemon=True)
        self.t0 = time.perf_counter() + 0.5
        self.gen.start()

    def _generate(self) -> None:
        for i in range(len(self.chunks) + 1):
            due = self.t0 + i * self.period
            time.sleep(max(0.0, due - time.perf_counter()))
            with self.lock:
                done = len(self.arrived)
            self.backlog.append(i - done)
            self.late.append(time.perf_counter() - due)
            self.due.append(due)
            self._write(i)

    def finish(self, timeout: float) -> None:
        self.gen.join(timeout=timeout)
        end = time.perf_counter() + timeout
        while time.perf_counter() < end:
            with self.lock:
                if len(self.arrived) >= len(self.windows):
                    break
            time.sleep(0.05)
        self.progress = list(self.query.recentProgress)
        self.query.stop()
        self.query.awaitTermination(60)
        for i, _ in enumerate(self.windows):
            k = self.win_start(i)
            if k in self.arrived:
                self.latencies.append(self.arrived[k] - self.due[i + 1])
        self.verify()

    def win_start(self, i: int) -> int:
        return inputs.EPOCH_MS + self.windows[i] * inputs.WINDOW_MS

    def verify(self) -> None:
        for i, j in enumerate(self.chunks):
            k = self.win_start(i)
            if k not in self.arrived:
                self.w.ledger.error("window", TimeoutError(f"window {k} never arrived"))
                continue
            want = oracle.window_counts(
                self.w.pts["id"][j], self.w.pts["x"][j], self.w.pts["y"][j],
                k, self.w.stream_rects,
            )
            got = {key: n for key, n in self.counts.items() if key[0] == k}
            self.w.ledger.check("window", got, want)

    def report(self, w: ServeMix) -> None:
        data = [p for p in self.progress if p["numInputRows"] > 0]
        for p in data:
            d = p["durationMs"]
            w.note("stream.trigger_s", d.get("triggerExecution", 0) / 1e3)
            w.note("stream.add_batch_s", d.get("addBatch", 0) / 1e3)
            w.note("stream.planning_s", d.get("queryPlanning", 0) / 1e3)
            w.note("stream.wal_commit_s", d.get("walCommit", 0) / 1e3)
            w.note("stream.input_rows", p["numInputRows"])
            st = p["stateOperators"][0] if p["stateOperators"] else {}
            w.note("stream.state_rows", st.get("numRowsTotal", 0))
            w.note("stream.state_bytes", st.get("memoryUsedBytes", 0))
            w.note("stream.state_commit_s", st.get("commitTimeMs", 0) / 1e3)
        for b in self.backlog:
            w.note("stream.backlog_files", b)
        w.note("stream.generator_late_s", max(self.late, default=0.0))


# --- landed-rw ----------------------------------------------------------------


class LandedRW(Workload):
    """Bulk reads beside writes on one landed layout: each cycle runs a
    full range read (collected and verified) plus tile assignment, then
    an upsert of a recrawl batch."""

    types = ("bulk", "upsert")
    MOVED, NEW = 2000, 1000
    POINTS, QCELLS = "bench_points", "bench_qcells"

    def prepare(self) -> None:
        from distributed_spatial_index_spark.plans import bucketing as bk
        from distributed_spatial_index_spark.sources import tables as src
        from harness import cores

        points = src.unique_geo_points(
            self.spark, self.data_dir, "lineitem", parallelism=2 * cores()
        )
        self.rects = inputs.residue_rects(self.pts, inputs.residue(self.seed))
        path = os.path.join(self.run_dir, "landed")
        with self.tracer.span("plans.bucketing.write_bucketed_points") as s:
            # the two tables are independent: land them side by side
            with ThreadPoolExecutor(1) as pool:
                qcells = pool.submit(
                    bk.write_bucketed_query_cells, self.rect_df(self.rects),
                    self.QCELLS, f"{path}/qcells", n_buckets=8,
                )
                bk.write_bucketed_points(
                    points, self.POINTS, f"{path}/points", n_buckets=8, coarse_bits=2
                )
            qcells.result()
        self.note("bucketing.land_s", s["dur"])
        self.points_path = f"{path}/points"
        # the oracle's copy of the table, updated by every upsert
        self.state = {k: self.pts[k].copy() for k in ("id", "x", "y", "ts")}
        self.next_id = int(self.state["id"].max()) + 1

    @property
    def ops(self) -> dict:
        return {"bulk": self.bulk_op, "upsert": self.upsert_op}

    def payload(self, kind: str):
        return self.recrawl_batch() if kind == "upsert" else None

    def warm_up(self) -> None:
        for kind in ("bulk", "upsert"):
            self.run_op(kind, self.payload(kind), timed=False)

    def cycle(self) -> list[str]:
        """A bulk read then an upsert: every read follows an upsert (the
        warm-up ends with one), so each run verifies reads of the
        rewritten layout."""
        return ["bulk", "upsert"]

    def bulk_op(self, op: str, _payload=None) -> float:
        from distributed_spatial_index_spark.operators.tiles import assign_tiles
        from distributed_spatial_index_spark.plans.dispatch import (
            point_range_join_auto,
        )

        with self.tracer.span("landed.bulk", op) as s:
            with self.tracer.span("plans.dispatch.point_range_join_auto") as d:
                out = point_range_join_auto(self.spark, self.POINTS, self.QCELLS)
            regime = out.join_plan["regime"]
            with self.tracer.span(EXEC_SPAN[regime]) as j:
                if self.tracer.enabled:
                    self.trace_range_layers(
                        self.spark.table(self.POINTS), self.rect_df(self.rects),
                        len(self.rects),
                    )
                tbl = out.toArrow()
            with self.tracer.span("operators.tiles.assign_tiles") as t:
                _noop(assign_tiles(self.spark.table(self.POINTS)))
        idx = oracle.PointIndex(self.state["id"], self.state["x"], self.state["y"])
        got = _pairs(tbl)
        self.ledger.check("bulk", got, oracle.range_pairs(idx, self.rects))
        if self.tracer.enabled:
            from distributed_spatial_index_spark.plans.bucketing import (
                count_exchanges,
            )

            self.note("range_join.results", len(got))
            self.note("dispatch.decide_s", d["dur"])
            self.note("dispatch.broadcast_share", regime == "broadcast")
            self.note("range_join.s", j["dur"])
            self.note("tiles.s", t["dur"])
            self.note("bucketing.exchanges", count_exchanges(out))
            self.note("bucketing.files", sum(
                f.endswith(".parquet")
                for _, _, fs in os.walk(self.points_path) for f in fs
            ))
        return s["dur"]

    def recrawl_batch(self) -> pd.DataFrame:
        """~2k existing ids of one seeded coarse cell, moved by up to 25
        units, plus ~1k new ids."""
        from distributed_spatial_index_spark.config import JOIN_BITS
        from distributed_spatial_index_spark.functions.cells import cell_id_np

        st = self.state
        pcell = cell_id_np(st["x"], st["y"], JOIN_BITS) >> (2 * (JOIN_BITS - 2))
        cells, counts = np.unique(pcell, return_counts=True)
        big = cells[counts >= self.MOVED]
        pick = np.nonzero(pcell == self.rng.choice(big))[0]
        moved = np.sort(self.rng.choice(pick, self.MOVED, replace=False))
        x0, y0, x1, y1 = inputs.REGION
        mx = np.clip(st["x"][moved] + self.rng.uniform(-25, 25, self.MOVED), x0, x1)
        my = np.clip(st["y"][moved] + self.rng.uniform(-25, 25, self.MOVED), y0, y1)
        new_ids = np.arange(self.next_id, self.next_id + self.NEW, dtype=np.int64)
        return pd.DataFrame({
            "id": np.concatenate([st["id"][moved], new_ids]),
            "x": np.concatenate([mx, self.rng.uniform(x0, x1, self.NEW)]),
            "y": np.concatenate([my, self.rng.uniform(y0, y1, self.NEW)]),
            "ts": np.concatenate([
                st["ts"][moved],
                inputs.EPOCH_MS + (new_ids % 3600) * 1000,
            ]).astype(np.int64),
        })

    def upsert_op(self, op: str, batch: pd.DataFrame) -> float:
        from distributed_spatial_index_spark.plans.upsert import (
            upsert_into_bucketed_table,
        )

        bdf = self.spark.createDataFrame(batch)
        with self.tracer.span("landed.upsert", op) as s:
            with self.tracer.span("plans.upsert.upsert_into_bucketed_table"):
                res = upsert_into_bucketed_table(self.spark, self.POINTS, bdf)
        self.apply_to_state(batch)
        self.ledger.check(
            "upsert",
            (res["rows_replaced"], res["rows_inserted"]),
            (self.MOVED, self.MOVED + self.NEW),
        )
        if self.tracer.enabled:
            steps: dict[str, float] = {}
            for step, sec in res["timings"].items():
                name = "repair" if step.startswith("repair") else step
                steps[name] = steps.get(name, 0.0) + sec
            for name, sec in steps.items():
                self.note(f"upsert.{name}_s", sec)
            self.note("upsert.files_rewritten", res["files_rewritten"])
            self.note("upsert.rows_replaced", res["rows_replaced"])
        return s["dur"]

    def apply_to_state(self, batch: pd.DataFrame) -> None:
        st = self.state
        ids = batch["id"].to_numpy()
        old = ids < self.next_id
        pos = np.searchsorted(st["id"], ids[old])
        for col in ("x", "y", "ts"):
            st[col][pos] = batch[col].to_numpy()[old]
        for col in ("id", "x", "y", "ts"):
            st[col] = np.concatenate([st[col], batch[col].to_numpy()[~old]])
        self.next_id = int(ids.max()) + 1

    def end_to_end(self, lat: dict) -> dict:
        n = len(self.state["id"])
        bulk = lat.get("bulk", [])
        return {
            "bulk_p50_s": median(bulk),
            "docs_per_s": n / median(bulk) if bulk else float("nan"),
            "upsert_p50_s": median(lat.get("upsert", [])),
        }


WORKLOADS = {"serve-mix": ServeMix, "landed-rw": LandedRW}


def summary(w: Workload, lat: dict, types=None) -> float:
    """The headline: geometric mean over operation types (all, or
    ``types``) of each type's median latency."""
    p50 = w.type_p50(lat)
    return gmean([v for t, v in p50.items() if types is None or t in types])
