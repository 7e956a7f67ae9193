"""Tuned SparkSession builder (local mode here; cluster-safe confs).

Task slots default to the CPUs this process may run on and the driver
heap to half of physical RAM; SPARK_GRAFT_CPUS (or ``cpus=``) and
SPARK_GRAFT_DRIVER_MEM override them, so the same code runs the
N-vs-4N scaling evidence (local[2] vs local[8]) required by
BASELINE.json.

Two execution modes (SPARK_GRAFT_EXEC_MODE or the exec_mode param):

* ``threads`` (default) — ``local[N]``: N task threads in one JVM.
* ``processes`` — ``local-cluster[N,1,M]``: N SEPARATE single-core
  executor JVMs (M MB each, ``executor_memory_mb``; override with
  SPARK_GRAFT_EXEC_MEM_MB), each with its own python workers, heap, and a real
  netty shuffle between processes.  This is the honest stand-in for
  "N executors vs 4N executors" in the north rule's scaling criterion:
  executors are isolated OS processes exactly as on a real cluster,
  only co-scheduled on one box.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import SparkSession


def build_session(
    app_name: str,
    cpus: int | None = None,
    exec_mode: str | None = None,
) -> SparkSession:
    """Job-entry session bootstrap (shared by jobs/*.py): under
    spark-submit the master/conf come from the CLI, so defer to the
    plain builder; standalone, fall back to the tuned local builder.
    One copy — a fix to the submit-detection rule must reach every
    job (code-review reuse finding)."""
    if os.environ.get("SPARK_SUBMIT_RUNNING") or "spark.master" in os.environ:
        return SparkSession.builder.getOrCreate()
    return get_spark(app_name, cpus=cpus, exec_mode=exec_mode)


def _ram_mb() -> int:
    return os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") >> 20


def driver_memory() -> str:
    """SPARK_GRAFT_DRIVER_MEM, else half of physical RAM: the JVM heap
    may grow to this size, and a heap past RAM gets the JVM OOM-killed
    partway through a run (the old 32g default on a 15 GB host)."""
    return os.environ.get("SPARK_GRAFT_DRIVER_MEM") or f"{max(512, _ram_mb() // 2)}m"


# JVM size suffixes in MiB; Spark reads a bare driver-memory number as MiB
_MB_PER_UNIT = {"": 1, "k": 1 / 1024, "m": 1, "g": 1024, "t": 1024 * 1024}


def executor_memory_mb(slots: int) -> int:
    """SPARK_GRAFT_EXEC_MEM_MB, else the RAM left after the driver heap,
    split over the ``slots`` single-core executor JVMs of processes
    mode (floor 512).  The old 3072 MB constant put 4 executors plus a
    half-RAM driver heap past RAM on a 15 GB host."""
    env = os.environ.get("SPARK_GRAFT_EXEC_MEM_MB")
    if env:
        return int(env)
    heap = re.fullmatch(r"(\d+)([kmgt]?)b?", driver_memory().lower())
    if heap is None:
        raise ValueError(
            f"driver heap {driver_memory()!r} is not a JVM size such as 4g or 4096m"
        )
    driver_mb = int(int(heap[1]) * _MB_PER_UNIT[heap[2]])
    return max(512, (_ram_mb() - driver_mb) // max(1, slots))


def task_slots() -> int:
    """SPARK_GRAFT_CPUS, else the CPUs in this process's affinity mask."""
    env = os.environ.get("SPARK_GRAFT_CPUS")
    return int(env) if env else len(os.sched_getaffinity(0))


def stage_tasks(spark: SparkSession) -> int:
    """Explicit task count for a stage AQE must not coalesce by bytes:
    the CPU-bound OCR stage, and the partitioned write that should
    spread its file commits over every task slot."""
    return max(
        int(spark.conf.get("spark.sql.shuffle.partitions", "32")),
        spark.sparkContext.defaultParallelism * 2,
    )


def get_spark(
    app_name: str = "ocr_gang_spark",
    cpus: int | None = None,
    exec_mode: str | None = None,
) -> SparkSession:
    if cpus is None:
        cpus = task_slots()
    exec_mode = exec_mode or os.environ.get("SPARK_GRAFT_EXEC_MODE", "threads")
    if exec_mode not in ("threads", "processes"):
        raise ValueError(f"exec_mode must be 'threads' or 'processes', got {exec_mode!r}")
    driver_mem = driver_memory()
    # multi-MB Arrow record batches of blob columns allocate as G1
    # "humongous" objects at the default region size, and with many
    # concurrent pandas-UDF tasks that thrashes the collector (measured:
    # JVM GC 107.6 core-s at local[16] vs 1.0 at local[4] on the same job)
    g1_opt = "-XX:G1HeapRegionSize=32m"
    if exec_mode == "processes":
        exec_mem_mb = executor_memory_mb(cpus)
        master = f"local-cluster[{cpus},1,{exec_mem_mb}]"
    else:
        master = f"local[{cpus}]"
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(max(cpus, 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # bound pandas-UDF batch memory: pages decode to ~(HxWx3) uint8
        # inside the OCR kernel; 512 blobs/batch keeps a batch < ~100MB
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "512")
        .config("spark.driver.memory", driver_mem)
        .config("spark.driver.extraJavaOptions", g1_opt)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
    )
    # diagnostics hook: SPARK_GRAFT_EVENTLOG_DIR=/some/dir turns on the
    # event log so per-stage task/GC/fetch-wait time can be attributed
    # offline (scripts/stage_times.py) without changing any run script
    event_dir = os.environ.get("SPARK_GRAFT_EVENTLOG_DIR")
    if event_dir:
        os.makedirs(event_dir, exist_ok=True)
        builder = (
            builder.config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.compress", "false")
            .config("spark.eventLog.dir", f"file://{event_dir}")
        )
    if exec_mode == "processes":
        # ActiveProcessorCount: each single-core executor JVM otherwise
        # sizes its GC/JIT/netty thread pools for the HOST's core count —
        # 8 co-scheduled executors then run 8x32-core-sized JVM
        # housekeeping and oversubscribe the box (measured: in-run steal
        # probe 1.0-1.8s mean from a quiet 0.27s gate, throughput 2.4x
        # below threads mode).  On a real cluster the resource manager
        # sets this via cgroups; here it is explicit.
        builder = (
            builder.config("spark.executor.memory", f"{exec_mem_mb}m")
            .config(
                "spark.executor.extraJavaOptions",
                f"{g1_opt} -XX:ActiveProcessorCount=2",
            )
        )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    if exec_mode == "processes":
        # separate executor JVMs spawn python workers that do NOT inherit
        # the driver's sys.path, so ship the package exactly as
        # spark-submit --py-files would (scripts/submit.sh builds the
        # same artifact)
        spark.sparkContext.addPyFile(_package_zip())
    return spark


def _package_zip() -> str:
    """Zip the ocr_gang_spark package for addPyFile/--py-files shipping."""
    import tempfile
    import zipfile

    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    root = os.path.dirname(pkg_dir)
    fd, path = tempfile.mkstemp(prefix="ocr_gang_spark_pyfiles_", suffix=".zip")
    os.close(fd)
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as zf:
        for dirpath, _dirnames, filenames in os.walk(pkg_dir):
            if "__pycache__" in dirpath:
                continue
            for fn in filenames:
                if fn.endswith(".py"):
                    full = os.path.join(dirpath, fn)
                    zf.write(full, os.path.relpath(full, root))
    return path
