"""SparkSession builder tuned for the engine.

local[N] stands in for an N-executor cluster in this sandbox; the knobs that
matter at real scale (AQE, skew-join splitting, Arrow) are on here so the same
plan shape survives a 1000-executor deployment.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _default_driver_memory() -> str:
    """Half the host's physical memory (local mode: the driver JVM is the
    whole engine, and the other half is left to Python workers and the
    OS).  A fixed figure above the host's memory lets the heap grow until
    the kernel OOM-kills the JVM."""
    try:
        total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    except (ValueError, OSError, AttributeError):
        return "4g"
    return f"{max(1, total // 2 // (1 << 20))}m"


def get_spark(
    app_name: str = "distributed_spatial_index_spark",
    cores: int | str = "*",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    if shuffle_partitions is None:
        ncpu = os.cpu_count() or 8
        shuffle_partitions = int(cores) if str(cores).isdigit() else ncpu
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # ANSI off (Spark 4 defaults it on): the engine's kernels are
        # double arithmetic + bit math with explicit guards (the raycast
        # denominator guard, try_cast in the parsers), so ANSI's checked
        # operators only add per-row cost — measured best-of-3 at sf0.1:
        # raycast codegen join 3.46s -> 1.51s, range join 1.64s -> 1.28s.
        # Every oracle gate is value-exact under both modes (verified at
        # sf0.01, 50/50 MATCH).
        .config("spark.sql.ansi.enabled", "false")
        # Join strategy (guide §3.1): allow shuffled-hash join where the
        # per-partition build side fits, instead of always sort-merge — the
        # salted/shuffled range-join regime otherwise pays two full sorts
        # per run.  The AQE threshold is the PER-PARTITION build-map bound,
        # so it scales with partition sizing (100 MB-1 GB partitions at
        # deployment keep build maps bounded), not with this sandbox.
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config(
            "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
            os.environ.get("SPARK_GRAFT_SHJ_THRESHOLD", "128m"),
        )
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEM") or _default_driver_memory(),
        )
        # Call-site capture off: when on (PySpark's default), every
        # functions.* call and Column operator also walks the Python stack
        # and makes extra py4j calls to record its call site.  Measured on
        # a 4-vCPU VM: F.col 1.8-3.3 ms -> 0.7-1.3 ms, a fresh cell_id_col
        # 70 -> 48 ms, covering_cells_col 93 -> 58 ms.  Cost: analysis and
        # runtime errors no longer name the Python line that built the
        # failing expression (for engine-built expressions that line is in
        # engine internals anyway); the JVM-side error is unchanged.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.ui.enabled", "false")
    )
    # Streaming state at deployment scale: the default HDFS-backed store
    # keeps all state in executor memory; RocksDB spills to local disk and
    # is proven value-exact on our operators
    # (tests/test_streaming.py::test_streaming_parity_on_rocksdb_state_store).
    # Opt in per process: SPARK_GRAFT_STATE_STORE=rocksdb.
    if os.environ.get("SPARK_GRAFT_STATE_STORE", "").lower() == "rocksdb":
        builder = builder.config(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider",
        )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
