"""SparkSession factory and the one runtime profile derived from the host.

Designed for a 1000-executor cluster reading 100 TB but testable on
local[N]: AQE on (Spark's default: runtime coalesce + skew-join
splitting), Arrow enabled for the pandas-UDF stages, shuffle
partitions sized to the parallelism level. Every scale-dependent value comes from what the
host and the session can observe: task slots from the cores this
process may run on (or the explicit ``local[N]`` master), the driver
heap from those cores and the memory limit, shuffle partitions from
``defaultParallelism``, and Arrow batches from a row cap plus Spark's
byte cap, which shrinks batches of wide rows. Queries set no session
confs of their own; the two streaming replay harnesses scope their
state partition count through ``scoped_shuffle_partitions``.
"""

from __future__ import annotations

import os
import re
from collections.abc import Iterator, Mapping
from contextlib import contextmanager, suppress

from pyspark.sql import SparkSession


def host_profile(cores: int, mem_bytes: int, env: Mapping[str, str],
                 master: str | None = None) -> tuple[int, str]:
    """(task slots, driver heap) for a process that may run on ``cores``
    cores with ``mem_bytes`` of memory. An explicit ``local[N]`` master
    sets the slots, else ``SPARK_GRAFT_CPUS`` in ``env`` does when set;
    ``SPARK_DRIVER_MEM`` sets the heap when set. Otherwise the heap is
    1.5 GiB per slot — the per-core heap measured on a many-core host,
    where a quarter GiB per core GC-thrashed over multi-KB binary rows
    and ran 2× slower — capped at a quarter of ``mem_bytes`` (the JVM
    shares it with one Python worker per slot), with a 1 GiB floor."""
    m = re.fullmatch(r"local\[(\d+)\]", master or "")
    cores = int(m.group(1) if m else env.get("SPARK_GRAFT_CPUS") or cores)
    mib = max(1024, min(1536 * cores, mem_bytes // 4 >> 20))
    heap = f"{mib >> 10}g" if mib % 1024 == 0 else f"{mib}m"
    return cores, env.get("SPARK_DRIVER_MEM") or heap


def usable_resources() -> tuple[int, int]:
    """(cores, memory bytes) this process may use: the cores in its CPU
    affinity, and physical memory or the cgroup (v2, then v1) memory
    limit of its container when that is lower. A cgroup CPU quota is
    not read: the affinity mask reflects cpusets only."""
    limits = [os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")]
    for name in ("memory.max", "memory/memory.limit_in_bytes"):
        with suppress(OSError, ValueError), open(f"/sys/fs/cgroup/{name}") as f:
            limits.append(int(f.read()))
    return len(os.sched_getaffinity(0)), min(limits)


def apply_profile(spark: SparkSession, shuffle_partitions: int = 0) -> SparkSession:
    """Set the profile's runtime confs on ``spark``. Every session gets
    the batch bounds. Only ``get_spark``, which built the session, passes
    ``shuffle_partitions``, and only then are the shuffle count and
    Arrow conversion set too: a session spark-submit built keeps the
    ones its submit flags gave it. AQE with partition coalescing and
    skew-join splitting is on by Spark's defaults. On a ``get_spark``
    session a second call changes nothing."""
    confs = {
        # narrow transcript batches stay at 8192 rows; wide audio rows
        # hit the byte cap first: spark.sql.execution.arrow.
        # maxBytesPerBatch, whose 64 MB default in Spark 4.1 bounds both
        # mapInPandas and scalar pandas-UDF batches
        "spark.sql.execution.arrow.maxRecordsPerBatch": "8192",
        # clips carry multi-KB..multi-MB binary audio: the default
        # 4096-row columnar reader batch OOMs on wide binary columns
        "spark.sql.parquet.columnarReaderBatchSize": "1024",
    }
    if shuffle_partitions:
        confs["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
        confs["spark.sql.execution.arrow.pyspark.enabled"] = "true"
    for key, value in confs.items():
        spark.conf.set(key, value)
    return spark


@contextmanager
def scoped_shuffle_partitions(spark: SparkSession, n: int) -> Iterator[None]:
    """Run the block under ``n`` shuffle partitions, then restore the
    session's count — for streaming harnesses, whose state partition
    count is fixed at checkpoint creation."""
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(n))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def get_spark(
    app_name: str = "ungoliant-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    # one task = one core: multi-threaded BLAS inside every Python UDF
    # worker oversubscribes the box (N workers × N BLAS threads)
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ.setdefault(var, "1")
    cores, heap = host_profile(*usable_resources(), os.environ, master)
    spark = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cores}]")
        # local-mode driver == the whole JVM, so this is every task's heap
        .config("spark.driver.memory", heap)
        # Arrow batches and row-queue pages for multi-KB binary rows
        # are 8-32 MB objects: with G1's default region size at this
        # heap they are "humongous" allocations, each triggering
        # region-scan bookkeeping — measured 2.3× slower on the
        # pipeline leg. 32 MB regions make them ordinary allocations.
        # Capped GC threads keep pauses predictable when the host
        # steals CPU (shared-VM sandbox).
        .config(
            "spark.driver.extraJavaOptions",
            "-XX:G1HeapRegionSize=32m -XX:ParallelGCThreads=8 "
            # Derby metastore beside the warehouse, not in the CWD
            f"-Dderby.system.home={os.path.abspath('.cache')}",
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        # catalog tables (bucketed layouts, sources/bucketed.py) land
        # under .cache instead of littering the CWD
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get(
                "SPARK_GRAFT_WAREHOUSE",
                os.path.abspath(".cache/spark-warehouse"),
            ),
        )
        .getOrCreate()
    )
    n = shuffle_partitions or 2 * spark.sparkContext.defaultParallelism
    return apply_profile(spark, n)


def job_session(app_name: str) -> SparkSession:
    """A job's session. Under spark-submit the JVM already exists
    (PYSPARK_GATEWAY_PORT is set) and master, memory, shuffle partitions
    and AQE come from the submit flags: only the profile's batch bounds
    are applied, so a stream's state partition count, frozen into its
    checkpoint, is the one the submit gave. Run directly from a source
    checkout and the default 1g driver heap OOMs the vectorized parquet
    reader on multi-MB audio rows — use the host-sized session factory
    instead."""
    if os.environ.get("PYSPARK_GATEWAY_PORT"):
        return apply_profile(SparkSession.builder.appName(app_name).getOrCreate())
    return get_spark(app_name)
