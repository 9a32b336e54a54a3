"""SparkSession factory and per-session config shims.

The engine is designed for a multi-executor cluster; locally it runs on
``local[N]``. Two configs are load-bearing for the fixture data
(FIXTURES.md gotchas):

- ``spark.sql.legacy.parquet.nanosAsLong=true`` — ``events.ts`` is
  Parquet TIMESTAMP(NANOS), which PySpark 4.x otherwise refuses with
  ``[PARQUET_TYPE_ILLEGAL]``.
- ``spark.sql.session.timeZone=UTC`` — keeps timestamp arithmetic and
  pandas conversion aligned with the (UTC-naive) DuckDB oracle.

Both are runtime-settable SQL confs, so :func:`ensure_runtime_confs` can
repair a session the caller built without them (the correctness driver
passes in its own session).

Two more confs of :func:`get_spark` cut the local engine's per-task
floor (PERF.md "per-task floor"):

- ``spark.sql.shuffle.partitions`` = the ``local[N]`` core count
  (:func:`local_cores`). Every shuffle-map task writes one bucket per
  partition and every reduce stage runs one task per partition; more
  partitions than cores only adds tasks on a single machine.
- ``spark.python.daemon.module`` = :mod:`.pydaemon`. Python workers then
  skip CPython 3.11's re-read of every unchanged zip archive on the
  worker path (``pyspark.zip``), ~0.13 s at the start of every
  Python-UDF task.

The daemon module is a static conf: a session the caller built keeps
the stock daemon, as it keeps its own ``spark.executorEnv.PYTHONPATH``.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: SQL confs that are safe to (re)apply to an existing session.
RUNTIME_CONFS: dict[str, str] = {
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Fixture `events.ts` is Parquet TIMESTAMP(MICROS, isAdjustedToUTC=false);
    # Spark 4 otherwise infers TIMESTAMP_NTZ, which unix_micros()/window()
    # time arithmetic rejects. With the UTC session zone the LTZ reading is
    # value-identical to the oracle's naive timestamps.
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
}


def local_cores() -> int:
    """Cores of the engine's ``local[N]`` master: ``SPARK_GRAFT_CPUS``, or
    every core this process may run on when it is unset or ``*``."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    return int(cpus) if cpus.isdigit() else len(os.sched_getaffinity(0))


def ensure_runtime_confs(spark: SparkSession) -> SparkSession:
    """Apply the runtime-settable confs the engine relies on.

    Idempotent; call at the top of every public entry point so the engine
    works with sessions it did not create.
    """
    for key, value in RUNTIME_CONFS.items():
        try:
            spark.conf.set(key, value)
        except Exception:
            # Static conf on this build — the factory below sets it at
            # construction; a foreign session without it will fail loudly
            # at read time, which is the right signal.
            pass
    # A foreign local-mode session left at Spark's 200-partition default
    # over-shuffles the fixture workloads badly; right-size it to the
    # cores, as get_spark does. Never touches an explicitly-configured
    # value, and never fires off local mode (cluster sizing belongs to
    # cluster_scale_confs).
    try:
        master = spark.conf.get("spark.master", "")
        if master.startswith("local") and (
            spark.conf.get("spark.sql.shuffle.partitions") == "200"
        ):
            spark.conf.set(
                "spark.sql.shuffle.partitions", str(local_cores())
            )
    except Exception:
        pass
    return spark


#: Directory holding the ``mapreduce_hw05_spark`` package.
_PACKAGE_PARENT = os.path.dirname(
    os.path.dirname(os.path.abspath(__file__))
)


def _worker_pythonpath() -> str:
    """``PYTHONPATH`` for the Python workers: the package's parent
    directory first, then any ``PYTHONPATH`` already set (duplicates
    dropped)."""
    parts = [_PACKAGE_PARENT] + os.environ.get("PYTHONPATH", "").split(
        os.pathsep
    )
    return os.pathsep.join(dict.fromkeys(p for p in parts if p))


def get_spark(app_name: str = "mapreduce_hw05_spark") -> SparkSession:
    """Build (or reuse) the engine's SparkSession.

    Local parallelism and shuffle partitioning come from
    ``SPARK_GRAFT_CPUS`` (default: all cores; :func:`local_cores`). On a
    real cluster the same code runs unchanged — only ``master``, memory
    and partition sizing differ (:func:`cluster_scale_confs`).

    Python workers get the package's parent directory on their
    ``PYTHONPATH`` (``spark.executorEnv.PYTHONPATH``): UDF closures that
    reference engine modules then unpickle whatever the driver's working
    directory is, not only from the repository root. They fork from
    :mod:`.pydaemon`, which stops them re-reading unchanged zip archives
    on every task.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(local_cores()))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.executorEnv.PYTHONPATH", _worker_pythonpath())
        .config("spark.python.daemon.module", f"{__package__}.pydaemon")
    )
    for key, value in RUNTIME_CONFS.items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return ensure_runtime_confs(spark)


def cluster_scale_confs(
    input_tb: float,
    executors: int = 1000,
    cores_per_executor: int = 4,
    executor_mem_gb: int = 16,
) -> dict[str, str]:
    """Recommended Spark confs for a real multi-executor deployment at
    ``input_tb`` of input — the 100-TB design rules made executable.

    Sizing model (rules of thumb from the Spark tuning guide, stated so
    reviewers can re-derive them):

    - **Shuffle partitions**: target ~128 MiB per post-shuffle partition
      so tasks fit comfortably in executor memory with room for hash
      tables; floor at 2× total cores so every core has work even after
      AQE coalescing. AQE then merges/splits at runtime — this number is
      only the pre-AQE ceiling.
    - **maxPartitionBytes** stays at 128 MiB: smaller starves the
      scheduler with task overhead, larger risks scan-task spill.
    - **AQE on** (coalesce + skew-join): runtime stats beat any static
      choice at this scale.
    - **Broadcast threshold 64 MiB**: dims broadcast, facts never; at
      16 GiB executors a 64 MiB build side is safely <1% of heap per
      concurrent join.
    - **Shuffle IO**: compression + spill compression on (network and
      disk dominate at 100 TB); Kryo for the few RDD paths.
    """
    total_cores = executors * cores_per_executor
    shuffle_bytes = input_tb * (1 << 40)
    target_partition_bytes = 128 * (1 << 20)
    shuffle_partitions = max(
        2 * total_cores, int(shuffle_bytes // target_partition_bytes)
    )
    return {
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        "spark.sql.files.maxPartitionBytes": str(target_partition_bytes),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": str(
            target_partition_bytes
        ),
        "spark.sql.autoBroadcastJoinThreshold": str(64 * (1 << 20)),
        "spark.shuffle.compress": "true",
        "spark.shuffle.spill.compress": "true",
        "spark.serializer": "org.apache.spark.serializer.KryoSerializer",
        "spark.executor.memory": f"{executor_mem_gb}g",
        "spark.executor.cores": str(cores_per_executor),
    }
