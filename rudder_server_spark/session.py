"""SparkSession factory.

Scale notes: every config here is chosen for a real cluster and degrades
gracefully on local[N]:
  - AQE on: runtime coalescing of shuffle partitions + skew-join splitting,
    which is what saves the big groupBy/join stages at 100 TB.
  - shuffle.partitions is a *default* only; AQE coalesces down, and at
    cluster scale the deployment overrides it to ~2-3x total cores.
  - UTC session timezone: the reference stamps all times UTC
    (processor/processor.go:1026-1054); keeps parity with the DuckDB oracle.
  - Arrow enabled: all Python<->JVM transfer (Pandas UDFs, createDataFrame)
    is vectorized.
  - Host-sized defaults (``host_settings``): cores, heap, pre-touch and
    scratch come from the host the process runs on; every
    ``SPARK_GRAFT_*`` variable overrides its default.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import SparkSession

_MiB = 1 << 20
_HEAP_CAP = 24 << 30
_SHM = "/dev/shm"


def host_memory_bytes() -> int:
    """Memory this process may use: the cgroup v2 ``memory.max`` limit or
    the kernel's MemAvailable, whichever is smaller."""
    limits = []
    try:
        with open("/sys/fs/cgroup/memory.max") as fh:
            limits.append(int(fh.read()))
    except (OSError, ValueError):  # no cgroup v2, or "max" (unlimited)
        pass
    with open("/proc/meminfo") as fh:
        limits += [int(ln.split()[1]) * 1024 for ln in fh if ln.startswith("MemAvailable:")]
    return min(limits)


def _size_bytes(size: str) -> int:
    """JVM size string ("2g", "512m", "1048576") to bytes."""
    unit = "kmgt".find(size[-1].lower()) + 1
    return int(size[:-1] if unit else size) << (10 * unit)


def host_settings(env=os.environ) -> dict:
    """Session defaults sized to the host, each overridable by its
    ``SPARK_GRAFT_*`` variable in ``env``:

    - ``cpus``: the cores this process may run on (``sched_getaffinity``);
    - ``heap``: half the host memory, capped at 24 GiB — the other half
      stays for off-heap, the Python workers and the page cache;
    - ``pretouch``: -Xms=-Xmx + AlwaysPreTouch only when the heap fits in
      that half (pre-touching a heap the host cannot back fails the JVM
      start);
    - ``local_dir``: /dev/shm scratch only when it has a heap's worth of
      room, else Spark's default (None).
    """
    host = host_memory_bytes()
    heap = env.get("SPARK_GRAFT_DRIVER_MEM") or f"{min(_HEAP_CAP, host // 2) // _MiB}m"
    local_dir = env.get("SPARK_GRAFT_LOCAL_DIR")
    if local_dir is None and os.path.isdir(_SHM) and (
        shutil.disk_usage(_SHM).free >= _size_bytes(heap)
    ):
        local_dir = os.path.join(_SHM, "spark-local")
    return {
        "cpus": env.get("SPARK_GRAFT_CPUS") or str(len(os.sched_getaffinity(0))),
        "heap": heap,
        "pretouch": _size_bytes(heap) <= host // 2,
        "local_dir": local_dir,
    }


def get_spark(
    app_name: str = "rudder_server_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the SparkSession used across the engine."""
    host = host_settings()
    cpus = host["cpus"]
    master = master or f"local[{cpus}]"
    shuffle = str(shuffle_partitions or os.environ.get("SPARK_GRAFT_SHUFFLE", cpus))
    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", shuffle)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # per-Column-op Python call-site capture (DataFrame query context)
        # costs a conf RPC + stack walk + 2 extra py4j calls on EVERY
        # Column method — measured 40% of q98's plan-build seconds (23k
        # py4j round-trips → ~12k). Debug sugar, off in production; flip
        # on when chasing a plan-origin error message.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.driver.memory", host["heap"])
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # the driver fixtures write TIMESTAMP(NANOS) parquet, which Spark
        # rejects by default; read as long and convert in the loader
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # split small files aggressively so a single-file fixture table still
        # fans out across all local cores (default 128 MB leaves a 10 MB
        # table on 1-3 tasks while 29+ cores idle). On a real cluster the
        # deployment overrides this back up: with TB-scale inputs the
        # default split size already yields far more tasks than cores.
        .config(
            "spark.sql.files.maxPartitionBytes",
            os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES", str(1024 * 1024)),
        )
        .config("spark.sql.files.openCostInBytes", str(64 * 1024))
        # POST-SHUFFLE parallelism is a TRADEOFF, so only an env knob: a
        # small advisory size keeps expression-heavy audit stages wide
        # (AQE optimizes for shuffle bytes, blind to per-row cost), but it
        # also un-coalesces the many tiny exchanges of iterative/join
        # queries into full-width stages — measured 2-4x SLOWER on
        # q9/t56/q1 when globally forced to 1 MB, outweighing the 1.4-2x
        # audit-query win. Default stays Spark's; per-run override via
        # SPARK_GRAFT_ADVISORY_PARTITION_BYTES when a workload is known
        # to be expression-bound.
        .config(
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            os.environ.get(
                "SPARK_GRAFT_ADVISORY_PARTITION_BYTES", str(64 * 1024 * 1024)
            ),
        )
        # whole-stage codegen emits one generated class per stage; across
        # ~50 distinct query plans the JVM's default 240 MB code cache fills
        # and the JIT silently stops compiling — later queries then run
        # interpreted at 5-20x cost. Reserve headroom + let the sweeper
        # evict cold compiled code instead of disabling compilation.
        #
        # -Xms=-Xmx + AlwaysPreTouch: commit and fault-in the whole heap at
        # startup. Without it G1 grows/uncommits the heap under load and the
        # resulting page-fault + TLB-shootdown bursts showed up as multi-
        # second all-core SYSTEM-time storms (measured: identical queries
        # bimodal 1s/13s; with pretouch, stable at 1s). Same prescription as
        # for any latency-sensitive JVM service.
        .config(
            "spark.driver.extraJavaOptions",
            "-XX:ReservedCodeCacheSize=512m -XX:+UseCodeCacheFlushing"
            + (f" -Xms{host['heap']} -XX:+AlwaysPreTouch" if host["pretouch"] else ""),
        )
    )
    # local-mode shuffle/spill on tmpfs: single-node shuffle files are
    # transient and re-creatable, so RAM-backed scratch removes disk IO
    # and the page-cache/mmap churn of many small shuffle files. A real
    # cluster deployment overrides this to fast local SSDs.
    if host["local_dir"]:
        b = b.config("spark.local.dir", host["local_dir"])
    if extra_conf:
        for k, v in extra_conf.items():
            b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
