"""Benchmark entry point: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload serve-mix --seed 1 --seconds 8 --trace 0

Runs from the repository root on ``local[nproc]``.  The last stdout line
is ``{"correct", "attempted", "failed", "metrics"}``: with ``--trace 0``
the end-to-end metrics of BENCHMARK.json, with ``--trace 1`` its
per-layer metrics.  Earlier lines record the environment and the
workload's own latencies.  Exits non-zero without a result line when the
engine cannot be imported.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import sys
import time
from concurrent.futures import ThreadPoolExecutor

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

PER_LAYER = (
    "session.start_s", "sources.persist_s", "sources.rows",
    "functions.cell_s", "functions.cover_rows_per_query",
    "range_join.s", "range_join.candidates", "range_join.results",
    "range_join.hit_ratio", "tiles.s", "pip_join.s",
    "knn.s", "knn.rounds_run", "knn.stragglers", "knn.fallback_used",
    "dispatch.decide_s", "dispatch.broadcast_share",
    "bucketing.land_s", "bucketing.files", "bucketing.exchanges",
    "upsert.preflight_s", "upsert.batch_checkpoint_s", "upsert.plan_scan_s",
    "upsert.insert_s", "upsert.remove_s", "upsert.repair_s",
    "upsert.files_rewritten", "upsert.rows_replaced",
    "stream.trigger_s", "stream.add_batch_s", "stream.planning_s",
    "stream.wal_commit_s", "stream.input_rows", "stream.state_rows",
    "stream.state_bytes", "stream.state_commit_s",
    "stream.backlog_files", "stream.generator_late_s",
    "spark.jobs", "spark.stages", "spark.tasks",
    "spark.shuffle_write_bytes", "spark.executor_cpu_s",
    "mem.peak_pss_mb", "trace.overhead_s",
)

N_ROWS = 200_000  # lineitem-shaped rows; ~152k unique points


def unit_of(name: str) -> str:
    if name.endswith("_mb"):
        return "MB"
    if name.endswith(("_s", ".s")):
        return "s"
    if name.endswith("_bytes"):
        return "bytes"
    if name.endswith(("_share", "_ratio", "fallback_used")):
        return "ratio"
    return "count"


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=["serve-mix", "landed-rw"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


def emit(obj: dict) -> None:
    print(json.dumps(obj, sort_keys=True), flush=True)


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        import distributed_spatial_index_spark.session  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: cannot import the engine: {exc}", file=sys.stderr)
        return 2

    run_dir = os.path.join(HERE, ".work", f"run-{os.getpid()}")
    os.makedirs(run_dir)
    try:
        return run(args, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def run(args, run_dir: str) -> int:
    import harness

    harness.pin_environment(ROOT, run_dir)
    import inputs
    import oracle
    import workloads
    from distributed_spatial_index_spark.session import get_spark

    emit({"env": harness.environment_record(), "workload": args.workload,
          "seed": args.seed, "seconds": args.seconds, "trace": args.trace})
    data_dir = os.path.join(run_dir, "data")
    os.makedirs(data_dir)
    inputs.write_lineitem(data_dir, args.seed, N_ROWS)
    # the oracle's copy of the points is derived while the JVM starts
    with ThreadPoolExecutor(1) as pool:
        derived = pool.submit(
            inputs.derive_points, data_dir, os.path.join(run_dir, "tmp")
        )
        rss = harness.RssSampler().start()
        t_setup = time.perf_counter()
        spark = get_spark(
            app_name="perfbench", cores=harness.cores(),
            extra_conf=harness.spark_conf(run_dir, ui=bool(args.trace)),
        )
        session_s = time.perf_counter() - t_setup
    try:
        pts = derived.result()
        t_ready = time.perf_counter()  # oracle work is not set-up
        tracer = harness.Tracer(enabled=False, spark=spark)
        ledger = oracle.Ledger()
        w = workloads.WORKLOADS[args.workload](
            spark, tracer, ledger, pts, data_dir, run_dir, args.seed
        )
        # set-up spans are recorded in traced mode (tracing off while
        # timing set-up would hide them; setup_s itself comes from the
        # untraced run)
        tracer.enabled = bool(args.trace)
        w.prepare()
        t_prepared = time.perf_counter()
        tracer.enabled = False
        w.warm_up()
        t_warm = time.perf_counter()
        setup_s = session_s + (t_warm - t_ready)
        w.measure(args.seconds)
        if args.trace:
            # the traced half repeats the cycles; the untraced half above
            # gives the overhead baseline
            tracer.enabled = True
            w.measure(args.seconds)
        peak_mb = rss.stop()
        phases = {
            "session_s": session_s, "prepare_s": t_prepared - t_ready,
            "warm_up_s": t_warm - t_prepared,
            "measure_s": time.perf_counter() - t_warm,
        }

        lat_p50 = workloads.summary(w, w.lat)
        emit({"latency": {t: [round(x, 4) for x in v] for t, v in w.lat.items()},
              "detail": {k: round(v, 4) if math.isfinite(v) else None
                         for k, v in w.end_to_end(w.lat).items()},
              "phases": {k: round(v, 3) for k, v in phases.items()},
              "peak_mb_by_exe": {k: round(v / 1024) for k, v in rss.parts_kb.items()},
              "failures": ledger.notes})
        if args.trace:
            metrics = layer_metrics(w, spark, session_s)
            metrics["mem.peak_pss_mb"] = peak_mb
            tracer.dump(
                os.path.join(HERE, "out", f"spans-{args.workload}-seed{args.seed}.json"),
                t_setup,
            )
            emit({"self_times": tracer.self_times()})
        else:
            metrics = {"setup_s": setup_s, "op_p50_gmean_s": lat_p50}
    finally:
        harness.stop_spark(spark)
    bad = [k for k, v in metrics.items() if not math.isfinite(v)]
    if bad:
        ledger.error("metrics", ValueError(f"no samples for {bad}"))
        metrics = {k: (v if math.isfinite(v) else 0.0) for k, v in metrics.items()}
    emit({
        "correct": ledger.failed == 0,
        "attempted": ledger.attempted,
        "failed": ledger.failed,
        "metrics": {k: {"value": v, "unit": unit_of(k)} for k, v in metrics.items()},
    })
    return 0


def layer_metrics(w, spark, session_s: float) -> dict:
    import harness
    import workloads

    from harness import median

    out = {name: 0.0 for name in PER_LAYER}
    for name, values in w.layer.items():
        if name in out:
            out[name] = median(values)
    out["session.start_s"] = session_s
    cand = w.layer.get("range_join.candidates")
    res = w.layer.get("range_join.results")
    if cand and res:
        out["range_join.hit_ratio"] = median(res) / median(cand)
    if w.traced_ops:
        out.update(harness.spark_job_stats(spark, w.traced_ops))
    # overhead over the operation types both halves ran
    both = {t for t in w.types if w.lat[t] and w.traced_lat[t]}
    if both:
        out["trace.overhead_s"] = (
            workloads.summary(w, w.traced_lat, both) - workloads.summary(w, w.lat, both)
        )
    return {k: float(v) for k, v in out.items()}


if __name__ == "__main__":
    sys.exit(main())
