"""SparkSession factory tuned for the validation workload.

Scale posture (designed for a 1000-executor cluster, tested on local[N]):
- AQE on: runtime shuffle-partition coalescing, skew-join splitting.
- UTC session timezone everywhere (the reference forces UTC too:
  reference data_validation/clients.py:95-97).
- Arrow enabled for the pandas-UDF drift kernels.
- shuffle partitions default to 32 (``DEFAULT_SHUFFLE_PARTITIONS``); AQE
  coalesces small shuffles down.

The factory decides only what no launcher or machine already knows: the
master comes from the caller or from spark-submit, and cluster sizing
(executor memory, AQE initial shuffle width) comes from deploy conf or
``extra_conf``.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32


def _default_driver_mem() -> str:
    """Half the host's physical memory in whole GiB, within [1g, 20g]; the
    other half stays free for the Python workers and the OS."""
    phys = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    return f"{max(1, min(20, phys // 2**31))}g"


def get_spark(
    app_name: str = "psdv-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with validation-engine defaults.

    ``master`` is set only when passed. Otherwise spark-submit's
    ``--master`` applies, and under plain ``python`` Spark's own default
    ``local[*]`` (one task thread per CPU the process may use).

    The driver heap is ``$SPARK_DRIVER_MEM``, by default half the host's
    physical memory capped at 20g; it takes effect only when this call
    launches the JVM (spark-submit's ``--driver-memory`` decides otherwise).
    ``extra_conf`` is applied last and overrides every default here.
    """
    # Python workers (pandas-UDF / mapInPandas kernels) import this package
    # by name from cloudpickled closures; driver sys.path does NOT propagate
    # to them. Exporting the package root on PYTHONPATH before the JVM (and
    # its worker daemons) start makes `from <pkg>.operators import ...`
    # resolve in workers no matter the launch cwd. On a real cluster the
    # same job ships dist/psdv_spark.zip via spark-submit --py-files.
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    if pkg_root not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            pkg_root + (os.pathsep + existing if existing else "")
        )
    driver_mem = os.environ.get("SPARK_DRIVER_MEM") or _default_driver_mem()
    builder = SparkSession.builder.appName(app_name)
    if master:
        builder = builder.master(master)
    builder = (
        builder.config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # parquet scans: split files so local[N] gets N-way scan parallelism
        # even for single-file tables (driver testdata is one file per table).
        .config("spark.sql.files.maxPartitionBytes", "64m")
        # local mode: the driver JVM IS the executor. Fixed-size, pre-touched
        # heap: lazy heap growth faults in pages mid-query (kernel time
        # spikes to 90% on a microVM); pre-touching moves that cost to
        # session startup.
        .config("spark.driver.memory", driver_mem)
        # ParallelGC (round 5): the allocation-heavy codegen stages (shingle
        # explode: 208M short-lived strings/pass) measured 20% faster than
        # G1 at local[16] (40.5 vs 50.1 s) — the throughput collector is the
        # right trade for a batch engine with no latency SLO.
        .config(
            "spark.driver.extraJavaOptions",
            f"-Xms{driver_mem} -XX:+AlwaysPreTouch -XX:+UseParallelGC",
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", "32m")
        # the dominant operator is the PK-equi full-outer row-compare join:
        # shuffled-hash beats sort-merge by ~30% (no per-side sort of 10^?
        # rows); hash build spills since Spark 3.2 so the memory risk SMJ
        # guards against is handled, and AQE still picks broadcast when a
        # side is small.
        .config("spark.sql.join.preferSortMergeJoin", "false")
    )
    # shuffle scratch on tmpfs when the host has one — virtio disk
    # writeback stalls dominate shuffle-heavy stages on a VM otherwise. On
    # a real cluster spark.local.dir points at executor-local NVMe instead.
    if os.path.isdir("/dev/shm"):
        builder = builder.config("spark.local.dir", "/dev/shm/spark-scratch")
        # local-cluster worker JVMs resolve scratch from SPARK_LOCAL_DIRS
        # env (it overrides spark.local.dir); export it so executor
        # shuffle files land on tmpfs there too
        os.environ.setdefault("SPARK_LOCAL_DIRS", "/dev/shm/spark-scratch")
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
