"""SparkSession factory.

One place to pin the configs every part of the engine depends on:
UTC session time zone (oracle comparability — the reference stores
tz-aware UTC timestamps, extractor/main.py:427), AQE for runtime
re-planning/skew handling, Arrow for the pandas-UDF slow path, and
shuffle partitions sized to the local core count rather than the
200 default (right-sized partitions matter at 100 TB too — there
the knob is set per-job from input size, not left at a constant).
Parallelism and driver heap default to what the host can give
(:func:`host_defaults`); a local master also gets the rename-based
checkpoint manager (:func:`local_master_conf`).
"""

from __future__ import annotations

import os
from collections.abc import Mapping

from pyspark.sql import SparkSession


#: Checkpoint-log writes through Hadoop's FileSystem API: write a temp
#: file, then rename it into place. Spark's default FileContext manager
#: goes through the local filesystem's permission calls, which without
#: Hadoop native IO fork a ``chmod``/``readlink`` process per file
#: operation (SCALING.md "Micro-batch fixed cost").
RENAME_CHECKPOINT_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileSystemBasedCheckpointFileManager"
)


def host_defaults(
    env: Mapping[str, str], usable_cpus: int, physical_mem_bytes: int
) -> tuple[str, int, str]:
    """(master, shuffle partitions, driver heap) for a host with
    ``usable_cpus`` CPUs and ``physical_mem_bytes`` of memory.

    ``SPARK_GRAFT_CPUS`` and ``SPARK_GRAFT_DRIVER_MEM`` in ``env``
    override the host. Otherwise the master is ``local[<usable CPUs>]``
    and the heap is a quarter of physical memory (at least 1 GiB): the
    JVM's resident size runs well past its heap, and the Python UDF
    workers share the same memory.
    """
    cpus = env.get("SPARK_GRAFT_CPUS") or str(max(1, usable_cpus))
    partitions = int(cpus) if cpus.isdigit() else max(1, usable_cpus)
    heap = env.get("SPARK_GRAFT_DRIVER_MEM") or (
        f"{max(1024, physical_mem_bytes // 4 // 2**20)}m"
    )
    return f"local[{cpus}]", partitions, heap


def local_master_conf(master: str) -> dict[str, str]:
    """Session defaults for ``local`` / ``local[...]`` masters, whose
    streaming checkpoints sit on the driver's own disk.

    The rename-based checkpoint manager is safe there: a rename on a
    local POSIX filesystem is atomic, and each streaming query is the
    only writer of its checkpoint directory (``streaming.ops._epoch_sink``).
    A cluster master keeps Spark's default manager."""
    if master.split("[", 1)[0] != "local":
        return {}
    return {
        "spark.sql.streaming.checkpointFileManagerClass": RENAME_CHECKPOINT_MANAGER
    }


def _usable_cpus() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:  # no affinity API on this platform
        return os.cpu_count() or 1


def _physical_memory_bytes() -> int:
    return os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")


def get_spark(
    app_name: str = "baronbatch_etl_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    Defaults are local-mode friendly but every setting is the one we
    would also want on a 1000-executor cluster (AQE, UTC, Arrow,
    partition-size-aware file splits). Parallelism and heap come from
    :func:`host_defaults`; ``SPARK_GRAFT_CPUS`` controls local
    parallelism (driver contract) and ``SPARK_GRAFT_DRIVER_MEM`` the
    heap. ``SPARK_GRAFT_EXTRA_CONF`` (a JSON object) is the one way to
    add or override any other conf.
    """
    default_master, partitions, heap = host_defaults(
        os.environ, _usable_cpus(), _physical_memory_bytes()
    )
    master = master or default_master
    if shuffle_partitions is None:
        shuffle_partitions = partitions

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Files: 128 MiB splits is the at-scale default; harmless locally.
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", heap)
    )
    for k, v in local_master_conf(master).items():
        builder = builder.config(k, v)
    # Env override for robustness sweeps without touching callers —
    # e.g. SPARK_GRAFT_EXTRA_CONF='{"spark.sql.adaptive.enabled":
    # "false"}' python tools/check_oracle.py … re-runs the whole gate
    # under a different planner regime (results must not depend on
    # AQE/partitioning knobs; only speed may). Applied LAST so the
    # sweep wins over every default above.
    env_conf = os.environ.get("SPARK_GRAFT_EXTRA_CONF")
    if env_conf:
        import json

        for k, v in json.loads(env_conf).items():
            builder = builder.config(k, str(v))
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
