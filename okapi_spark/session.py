"""SparkSession factory tuned for the iterative link-graph workload.

Local mode is a single JVM; on a real cluster the same configs apply —
AQE for post-shuffle coalescing and skew-join splitting, Arrow for the
pandas-UDF kernels, a shuffle-partition count sized to the executor
core count rather than the 200 default.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Share of the box's memory the driver heap may take by default. The JVM
# grows its heap lazily towards -Xmx, and Python workers, off-heap
# buffers and staged blocks need the rest; a heap sized past physical
# memory gets the driver OOM-killed mid-session.
_HEAP_FRACTION = 0.4
_HEAP_CAP_MB = 48 * 1024


def _box_memory_mb() -> int | None:
    """Memory available to this process tree in MB: the smaller of
    /proc/meminfo's MemTotal and a cgroup (v2 or v1) limit, if any."""
    limits = []
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    limits.append(int(line.split()[1]) // 1024)
                    break
    except OSError:
        pass
    for path in ("/sys/fs/cgroup/memory.max",
                 "/sys/fs/cgroup/memory/memory.limit_in_bytes"):
        try:
            with open(path) as f:
                raw = f.read().strip()
        except OSError:
            continue
        if raw.isdigit():
            limits.append(int(raw) // (1024 * 1024))
    return min(limits) if limits else None


def default_driver_memory() -> str:
    """Driver heap for get_spark: $OKAPI_DRIVER_MEM if set, else
    _HEAP_FRACTION of the box's memory, at least 1g and at most 48g."""
    env = os.environ.get("OKAPI_DRIVER_MEM")
    if env:
        return env
    box = _box_memory_mb()
    if box is None:
        return f"{_HEAP_CAP_MB}m"
    return f"{max(1024, min(_HEAP_CAP_MB, int(box * _HEAP_FRACTION)))}m"


def get_spark(
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    app_name: str = "okapi_spark",
    extra_conf: dict[str, str] | None = None,
    master: str | None = None,
    executor_mem: str | None = None,
) -> SparkSession:
    """Create (or fetch) a SparkSession.

    cores: local[N] parallelism; defaults to $SPARK_GRAFT_CPUS or '*'.
    shuffle_partitions: defaults to max(cores, 32 if '*').
    master: explicit master URL override (e.g. ``local-cluster[8,4,12288]``
        for real per-executor JVMs on one box — the multi-executor scaling
        evidence mode). When set, ``cores`` only sizes shuffle partitions.
    executor_mem: per-executor heap for cluster masters (e.g. "12g").
    """
    # Python workers unpickle module-referenced UDF closures by
    # importing okapi_spark; when the driver was launched from outside
    # the repo (sys.path-injected), the forked workers don't inherit
    # sys.path — export the package root on PYTHONPATH before any
    # worker forks (the local-mode analogue of --py-files).
    _pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    _pp = os.environ.get("PYTHONPATH", "")
    if _pkg_root not in _pp.split(os.pathsep):
        os.environ["PYTHONPATH"] = f"{_pkg_root}{os.pathsep}{_pp}" if _pp else _pkg_root

    if cores is None:
        env = os.environ.get("SPARK_GRAFT_CPUS")
        cores = int(env) if env else None
    if master is None:
        master = f"local[{cores}]" if cores else "local[*]"
    if shuffle_partitions is None:
        shuffle_partitions = cores if cores else (os.cpu_count() or 32)

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", default_driver_memory())
        # Commit-and-zero the heap at JVM startup (untimed setup)
        # instead of page-faulting it in lazily DURING the first big
        # shuffle: without this, vmstat during a 60M-edge triangle job
        # showed 50-90% SYSTEM time (kernel page-zeroing) and the job
        # ran 94-240s; with pretouch the same job runs 28-56s. Applies
        # identically to real-cluster executors via the executor key.
        .config("spark.driver.extraJavaOptions",
                os.environ.get("OKAPI_JVM_OPTS", "-XX:+AlwaysPreTouch"))
        .config("spark.executor.extraJavaOptions",
                os.environ.get("OKAPI_JVM_OPTS", "-XX:+AlwaysPreTouch"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # iterative jobs re-run short stages constantly; keep scheduling lean
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
    )
    if not master.startswith("local["):
        # Multi-executor master (local-cluster / standalone): executor
        # JVMs are separate processes — ship the package path to their
        # python workers and size their heaps explicitly. On a real
        # cluster this is the --py-files + spark.executor.memory pair.
        builder = builder.config("spark.executorEnv.PYTHONPATH",
                                 os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
        if executor_mem:
            builder = builder.config("spark.executor.memory", executor_mem)
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
