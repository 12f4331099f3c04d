"""SparkSession factory with the engine's pinned configs (SURVEY.md §4, §6)."""

from __future__ import annotations

import math
import os
from pathlib import Path

from pyspark.sql import SparkSession


def host_cores() -> int:
    """Cores this process may use: ``SPARK_GRAFT_CPUS`` when set, else the
    CPU affinity mask capped by the cgroup v2 ``cpu.max`` quota."""
    pinned = os.environ.get("SPARK_GRAFT_CPUS")
    if pinned:
        return max(1, int(pinned))
    if hasattr(os, "sched_getaffinity"):
        cores = len(os.sched_getaffinity(0))
    else:
        cores = os.cpu_count() or 1
    try:
        quota, period = Path("/sys/fs/cgroup/cpu.max").read_text().split()[:2]
        if quota != "max":
            cores = min(cores, max(1, math.ceil(int(quota) / int(period))))
    except (OSError, ValueError):
        pass
    return cores


def driver_memory() -> str | None:
    """Half of the host's ``MemTotal`` (``/proc/meminfo``) in MiB, or None
    (Spark's own default) where that file does not exist. A fixed large heap
    on a smaller host lets the JVM grow until the kernel kills it."""
    try:
        meminfo = Path("/proc/meminfo").read_text()
    except OSError:
        return None
    for line in meminfo.splitlines():
        if line.startswith("MemTotal:"):
            return f"{int(line.split()[1]) // 2048}m"
    return None


def get_spark(
    master: str | None = None,
    app_name: str = "ult_spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine defaults.

    Defaults follow BASELINE.md protocol: AQE on, Arrow on with large
    record batches (the encode/PIP stages are Arrow-batch pipelines),
    shuffle partitions scaled to 2x cores. ``local[*]`` runs on
    :func:`host_cores` threads; the driver heap defaults to
    :func:`driver_memory` (``ULT_DRIVER_MEM`` overrides it).
    """
    master = master or os.environ.get("ULT_SPARK_MASTER", "local[*]")
    cores = host_cores()
    if master == "local[*]":
        master = f"local[{cores}]"
    elif master.startswith("local["):
        try:
            cores = int(master[len("local["):-1])
        except ValueError:
            pass
    shuffle = shuffle_partitions or int(os.environ.get("ULT_SHUFFLE_PARTITIONS", 2 * cores))
    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # r8: 32 MB broadcast threshold (default 10 MB). The pair-verify
        # sides of the dedup/ANN kernels (per-doc hashed shingle sets,
        # per-vector norms) sit at 11-20 MB at bench scale and their
        # broadcast saves two shuffles of multi-million-row pair frames
        # (measured −3 s embedding_near_dup, −1 s minhash_lsh_pairs at
        # sf1.0). Scale-safe by construction: AQE decides from RUNTIME
        # sizes, so on a 100 TB corpus these sides exceed the threshold
        # and the joins stay shuffled exactly as before; 32 MB broadcasts
        # are well inside executor budgets. Env-overridable for clusters
        # that want the stock 10 MB.
        .config(
            "spark.sql.autoBroadcastJoinThreshold",
            os.environ.get("ULT_AUTOBCAST_THRESHOLD", "33554432"),
        )
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
    )
    memory = os.environ.get("ULT_DRIVER_MEM") or driver_memory()
    if memory:
        b = b.config("spark.driver.memory", memory)
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()
