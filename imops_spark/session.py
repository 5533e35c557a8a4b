"""SparkSession construction tuned for the imops_spark engine.

The engine targets large clusters (100 TB-scale inputs); these defaults are the
local[32] test-harness analog of the cluster conf we would ship:

- AQE on (runtime coalescing, skew-join splitting, broadcast conversion).
- Arrow on (every pandas-UDF / applyInPandas stage is Arrow-batched).
- shuffle.partitions sized to cores locally; on a real cluster this would be
  ``2-3 x total executor cores`` or left to AQE's coalescing.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

__all__ = ["get_spark", "stop_spark"]


def _cpus() -> int:
    """The session's core count: ``$SPARK_GRAFT_CPUS``, or the host's
    when it is unset or not a positive integer."""
    try:
        n = int(os.environ["SPARK_GRAFT_CPUS"])
    except (KeyError, ValueError):
        n = 0
    return n if n > 0 else os.cpu_count() or 4


def get_spark(
    app_name: str = "imops_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Return (creating if needed) the engine SparkSession."""
    cpus = _cpus()
    # 8g fixed: GC logs across the full bench + oracle suite show a live
    # set of 82-252 MB after every full GC (the heap is allocation churn,
    # not retention), while the *growing* default heap wandered to 18 GB
    # committed — every page of which is a first-touch fault.  A small
    # fixed heap bounds the page working set; raise via
    # SPARK_GRAFT_DRIVER_MEM if a deployment actually retains more.
    driver_mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g")
    # -Xms == -Xmx + AlwaysPreTouch: a fixed, boot-faulted heap so the JVM
    # never grows into (or shrinks out of) unprovisioned memory (standard
    # production Spark practice for latency-sensitive services).  On
    # memory-overcommitted hosts (virtio-balloon free page reporting,
    # KSM, lazy host provisioning) pages released by a shrinking heap are
    # reclaimed by the host within seconds and re-fault at
    # HOST-provisioning cost on the next heap growth — measured on this
    # round-11 box at ~1.05 ms/page single-threaded (~3.5 MB/s; ~53 MB/s
    # at 32 threads).  Measured impact (OPTIMIZATION_r11.md): the
    # instrumented bench's first pass spent whole minutes in
    # run-time >> cpu-time stalls (e.g. one 29 s single-task stage with
    # 1.3 s of CPU), and every post-System.gc() pass re-faulted the
    # 10-17 GB the full GC had shrunk away.  Pre-touch moves the entire
    # cost to session boot (untimed), once per JVM lifetime.  Same flags
    # belong in spark.executor.extraJavaOptions on a real cluster;
    # override via SPARK_GRAFT_DRIVER_XMS (e.g. '512m', or '' to disable
    # the fixed heap and pre-touch entirely on memory-constrained boxes).
    xms = os.environ.get("SPARK_GRAFT_DRIVER_XMS", driver_mem)
    user_opts = (extra_conf or {}).get("spark.driver.extraJavaOptions", "")
    fixed_heap = f"-Xms{xms} -XX:+AlwaysPreTouch " if xms else ""
    java_opts = (fixed_heap + user_opts).strip()
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.driver.memory", driver_mem)
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
    )
    if java_opts:
        builder = builder.config("spark.driver.extraJavaOptions", java_opts)
    # Preloading worker daemon (imops_spark/daemon.py): Spark culls idle
    # Python workers after a HARDCODED minute (PythonWorkerFactory.
    # IDLE_WORKER_TIMEOUT_NS), so every Python-stage lull >60 s empties
    # the pool and each respawned worker re-pays interpreter boot + the
    # numpy/pandas/pyarrow import chain + first-touch page faults — a
    # measured 2-4 s per-query penalty on overcommitted hosts.  The
    # custom daemon imports the stack once pre-fork; workers inherit it
    # copy-on-write.  PYTHONPATH rides along via executorEnv (merged, not
    # replaced, by PythonWorkerFactory) so a fresh daemon interpreter can
    # import this package no matter the JVM's cwd.  Disable with
    # IMOPS_SPARK_DAEMON_PRELOAD=0.
    if os.environ.get("IMOPS_SPARK_DAEMON_PRELOAD", "1") != "0":
        pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        py_path = os.environ.get("PYTHONPATH", "")
        builder = builder.config(
            "spark.python.daemon.module", "imops_spark.daemon"
        ).config(
            "spark.executorEnv.PYTHONPATH",
            pkg_root + (os.pathsep + py_path if py_path else ""),
        )
    for k, v in (extra_conf or {}).items():
        if k == "spark.driver.extraJavaOptions":
            continue  # merged into java_opts above
        builder = builder.config(k, v)
    return builder.getOrCreate()


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
