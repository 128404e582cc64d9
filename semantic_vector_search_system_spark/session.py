"""SparkSession factory with scale-oriented defaults.

Defaults are chosen for a large multi-executor cluster but work identically on
``local[N]``: AQE on (runtime partition coalescing + skew-join splitting),
Arrow enabled for the Pandas-UDF scoring path, UTC session timezone so
timestamp semantics are engine-independent, and a shuffle partition count that
AQE can coalesce down rather than a hardcoded small number it cannot raise.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "sivbp-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or get) a SparkSession with the engine's standard configuration.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (or ``local[*]``) when
    not running under a cluster manager; on a real cluster pass ``None`` and
    submit with ``--master``.

    On a ``local[...]`` master, parallel partition discovery (the Spark job
    that lists a table's directories once there are more than
    ``parallelPartitionDiscovery.threshold`` of them, e.g. an IVF index's
    ``cent_id=<v>`` lists) runs as many tasks as the master has cores, not
    one task per directory: each task is a short driver-side Hadoop
    listing, so more tasks than cores only adds scheduling rounds.  The
    threshold itself is left alone — raising it would move object-store
    listing onto the driver, serially.
    """
    # One BLAS thread per task: Spark is the parallelism layer (N concurrent
    # tasks each calling numpy); letting OpenBLAS spin its own pool on top
    # oversubscribes cores and measurably SLOWS the single-call case too
    # (0.137s vs 0.079s for the 10k x 512 x 100 scoring dgemm here). Set
    # before any JVM/worker spawns so python workers inherit it. Operators
    # that own a whole machine (the fused search path) parallelize
    # explicitly with a thread pool over row chunks instead.
    os.environ.setdefault("OPENBLAS_NUM_THREADS", "1")
    os.environ.setdefault("OMP_NUM_THREADS", "1")

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    if master is None and "SPARK_MASTER" not in os.environ:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE", "32"))

    # Preload numpy/pandas/pyarrow in the python-worker DAEMON so forked
    # workers inherit them copy-on-write: Spark 4 does not reuse python
    # workers across jobs (measured: new worker pid per job even with
    # spark.python.worker.reuse=true), so without this every Arrow-UDF task
    # pays ~0.2 s of imports — the dominant cost of small python jobs.
    # PYTHONPATH must carry the package parent before the JVM starts so the
    # daemon interpreter can import the module. Opt out (e.g. executors
    # without the package installed) with SPARK_GRAFT_DAEMON_PRELOAD=0.
    daemon_module = None
    if os.environ.get("SPARK_GRAFT_DAEMON_PRELOAD", "1") != "0":
        pkg_parent = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        pp = os.environ.get("PYTHONPATH", "")
        if pkg_parent not in pp.split(os.pathsep):
            os.environ["PYTHONPATH"] = (
                pkg_parent + (os.pathsep + pp if pp else "")
            )
        daemon_module = __package__ + ".worker_daemon"

    builder = (
        SparkSession.builder.appName(app_name)
        # -- Adaptive execution: coalesce post-shuffle partitions, split skewed
        #    joins, convert sort-merge to broadcast when runtime stats allow.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # -- Arrow for the pandas-UDF scoring hot path (SURVEY §4: BLAS-speed
        #    scoring inside Arrow batches).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # -- Deterministic timestamp semantics across engines (duckdb oracle).
        .config("spark.sql.session.timeZone", "UTC")
        # -- Scans: respect parquet row-group pruning; 128 MiB split target is
        #    the right default for 100 TB table scans.
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.sql.parquet.filterPushdown", "true")
        # -- Broadcast threshold: dimension tables (region/nation/supplier and
        #    query-side vectors) should broadcast; 64 MiB is safe on executors
        #    with >=4 GiB heap.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    if daemon_module:
        builder = builder.config("spark.python.daemon.module", daemon_module)
    # Unix-domain sockets for the JVM<->python-worker channel: skips the
    # TCP + auth-secret handshake each freshly-forked worker pays (workers
    # are always executor-local, so UDS is valid on any deployment).
    # Measured: empty python-job floor 0.175 -> 0.157 s. Opt out with
    # SPARK_GRAFT_UDS=0 if a platform lacks AF_UNIX support.
    if os.environ.get("SPARK_GRAFT_UDS", "1") != "0":
        builder = builder.config("spark.python.unix.domain.socket.enabled", "true")
    if master:
        builder = builder.master(master)
        cores = _local_cores(master)
        if cores:
            builder = builder.config(
                "spark.sql.sources.parallelPartitionDiscovery.parallelism",
                str(cores),
            )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def _local_cores(master: str) -> int | None:
    """Core count of a ``local[N]``, ``local[N,F]`` or ``local[*]`` master
    (``None`` for any other master)."""
    m = re.fullmatch(r"local\[(\*|\d+)(?:,\s*\d+)?\]", master.strip())
    if m is None:
        return None
    if m.group(1) != "*":
        return int(m.group(1))
    if hasattr(os, "sched_getaffinity"):
        return len(os.sched_getaffinity(0))
    return os.cpu_count()
