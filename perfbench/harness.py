"""Launcher, tracing and measurement plumbing shared by the workloads.

Nothing here changes the engine: the launcher pins the environment the
engine runs in (cores, driver memory, scratch dirs) through
``get_spark(extra_conf=...)`` and environment variables, and every
timing is taken outside the engine, around calls into its public
functions.
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys
import threading
import time
import urllib.request
from contextlib import contextmanager

DRIVER_MEM = "4g"  # well below the 15 GB host, shared with other jobs


def cores() -> int:
    return len(os.sched_getaffinity(0))


def pin_environment(repo_root: str, run_dir: str) -> None:
    """Environment the driver, its JVM and the Python workers inherit.
    Must run before pyspark starts the JVM."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    old = os.environ.get("PYTHONPATH")
    # Python workers unpickle engine closures by module path; without the
    # repo on their path they fail with ModuleNotFoundError
    os.environ["PYTHONPATH"] = repo_root + (os.pathsep + old if old else "")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    os.environ["TMPDIR"] = tmp
    # the small JVM spark-submit runs to build the driver command: keep
    # its temp files in the run dir too (the driver JVM gets the same
    # flags through spark_conf)
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    # engine knobs read from the environment keep their defaults
    for var in ("SPARK_GRAFT_STATE_STORE", "SPARK_GRAFT_SHJ_THRESHOLD"):
        os.environ.pop(var, None)


def spark_conf(run_dir: str, ui: bool) -> dict[str, str]:
    return {
        "spark.ui.enabled": "true" if ui else "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(run_dir, "local"),
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')} -XX:-UsePerfData",
    }


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM, the Python worker daemon
    and its workers to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    started = {pid: _start_time(pid) for pid in descendants()}
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    # the worker daemon outlives the JVM by a moment (it exits on EOF)
    deadline = time.monotonic() + 30
    while started and time.monotonic() < deadline:
        started = {p: t for p, t in started.items() if _start_time(p) == t}
        time.sleep(0.1)
    if started:
        print(f"perfbench: processes still running: {sorted(started)}",
              file=sys.stderr)


def _start_time(pid: int) -> int | None:
    """Start time of ``pid`` (None once it has exited), so a reused pid
    is not mistaken for the process seen earlier."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return int(f.read().rsplit(")", 1)[1].split()[19])
    except (OSError, IndexError, ValueError):
        return None


def _children_map() -> dict[int, list[int]]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(name))
    return children


def descendants(root: int | None = None) -> list[int]:
    """Every live descendant process of ``root`` (default: this one)."""
    children = _children_map()
    out, todo = [], [root or os.getpid()]
    while todo:
        kids = children.get(todo.pop(), [])
        out.extend(kids)
        todo.extend(kids)
    return out


def environment_record() -> dict:
    import duckdb
    import pyspark

    return {
        "nproc": cores(),
        "loadavg": [round(v, 2) for v in os.getloadavg()],
        "pyspark": pyspark.__version__,
        "duckdb": duckdb.__version__,
        "python": sys.version.split()[0],
        "driver_mem": DRIVER_MEM,
    }


# --- statistics ---------------------------------------------------------------


def median(values) -> float:
    return float(statistics.median(values)) if values else float("nan")


def percentile(values, q: float) -> float:
    """Linear-interpolated percentile (q in 0..100)."""
    if not values:
        return float("nan")
    v = sorted(values)
    pos = (len(v) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(v) - 1)
    return float(v[lo] + (v[hi] - v[lo]) * (pos - lo))


def gmean(values) -> float:
    return float(statistics.geometric_mean(values)) if values else float("nan")


# --- memory -------------------------------------------------------------------


class RssSampler:
    """Peak memory of this process and all its descendants (the JVM, the
    Python worker daemon and its workers), summed per sample as PSS:
    shared pages are split among the processes mapping them, so a child
    forked from the JVM does not count the JVM's pages twice.  Reads
    /proc directly."""

    def __init__(self, period_s: float = 0.2):
        self.period_s = period_s
        self.peak_kb = 0
        self.parts_kb: dict[str, int] = {}  # peak per executable name
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()
        return self.peak_kb / 1024.0

    def _run(self) -> None:
        while not self._stop.wait(self.period_s):
            self.sample()

    def sample(self) -> None:
        total = 0
        parts: dict[str, int] = {}
        for pid in [os.getpid(), *descendants()]:
            kb = _pss_kb(pid)
            total += kb
            name = _exe_name(pid)
            parts[name] = parts.get(name, 0) + kb
        self.peak_kb = max(self.peak_kb, total)
        for name, kb in parts.items():
            self.parts_kb[name] = max(self.parts_kb.get(name, 0), kb)


def _exe_name(pid: int) -> str:
    try:
        return os.path.basename(os.readlink(f"/proc/{pid}/exe"))
    except OSError:
        return "?"


def _pss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


# --- tracing ------------------------------------------------------------------


class Tracer:
    """Spans around calls into the engine.  ``span`` always times its
    block (the workloads read ``rec["dur"]``); only an enabled tracer
    records spans, parents and operation ids, and sets a Spark job group
    per operation so the engine's jobs can be attributed."""

    def __init__(self, enabled: bool, spark=None):
        self.enabled = enabled
        self.spark = spark
        self.spans: list[dict] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._next_id = 0

    def _stack(self) -> list:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, op: str | None = None):
        rec = {"name": name, "op": op}
        stack = self._stack()
        if self.enabled:
            parent = stack[-1] if stack else None
            if op is None and parent is not None:
                rec["op"] = parent["op"]
            with self._lock:
                rec["id"] = self._next_id
                self._next_id += 1
            rec["parent"] = parent["id"] if parent else None
            if parent is None and rec["op"] and self.spark is not None:
                self.spark.sparkContext.setJobGroup(rec["op"], name)
            stack.append(rec)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            rec["dur"] = rec["end"] - rec["start"]
            if self.enabled:
                stack.pop()
                with self._lock:
                    self.spans.append(rec)

    def self_times(self) -> dict[str, dict]:
        """Per span name: count, median duration and median self time
        (duration minus the time its child spans cover)."""
        child_time: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None:
                child_time[s["parent"]] = child_time.get(s["parent"], 0.0) + s["dur"]
        by_name: dict[str, list] = {}
        for s in self.spans:
            by_name.setdefault(s["name"], []).append(
                (s["dur"], s["dur"] - child_time.get(s["id"], 0.0))
            )
        return {
            name: {
                "n": len(v),
                "median_s": round(median([d for d, _ in v]), 4),
                "self_median_s": round(median([c for _, c in v]), 4),
            }
            for name, v in sorted(by_name.items())
        }

    def dump(self, path: str, t0: float) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(
                [
                    {
                        "id": s["id"], "parent": s["parent"], "op": s["op"],
                        "name": s["name"],
                        "start_s": round(s["start"] - t0, 6),
                        "end_s": round(s["end"] - t0, 6),
                    }
                    for s in sorted(self.spans, key=lambda s: s["start"])
                ],
                f,
            )


def spark_job_stats(spark, ops: list[str]) -> dict[str, float]:
    """Per-operation Spark work from the local UI's REST API, averaged
    over ``ops`` (the job groups the tracer set): jobs, stages, tasks,
    shuffle bytes written and executor CPU seconds."""
    sc = spark.sparkContext
    port = sc.uiWebUrl.rsplit(":", 1)[-1]
    base = f"http://localhost:{port}/api/v1/applications/{sc.applicationId}"
    with urllib.request.urlopen(f"{base}/jobs", timeout=30) as r:
        jobs = json.load(r)
    with urllib.request.urlopen(f"{base}/stages", timeout=30) as r:
        stages = {s["stageId"]: s for s in json.load(r)}
    wanted = set(ops)
    n_jobs = n_stages = n_tasks = shuffle = cpu_ns = 0
    for job in jobs:
        if job.get("jobGroup") not in wanted:
            continue
        n_jobs += 1
        for sid in job.get("stageIds", []):
            st = stages.get(sid)
            if st is None or st.get("status") == "SKIPPED":
                continue
            n_stages += 1
            n_tasks += st.get("numCompleteTasks", 0)
            shuffle += st.get("shuffleWriteBytes", 0)
            cpu_ns += st.get("executorCpuTime", 0)
    n = max(len(wanted), 1)
    return {
        "spark.jobs": n_jobs / n,
        "spark.stages": n_stages / n,
        "spark.tasks": n_tasks / n,
        "spark.shuffle_write_bytes": shuffle / n,
        "spark.executor_cpu_s": cpu_ns / 1e9 / n,
    }
