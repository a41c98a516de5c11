"""SparkSession factory with the engine's scale-aware defaults.

Local-mode knobs mirror what a 1000-executor cluster submit would set
via spark-submit --conf (documented per key). AQE is on — it is the
runtime half of the skew strategy (SURVEY.md §4, north rule)."""

from __future__ import annotations

import os
import re

from pyspark.sql import SparkSession


_UNIT_MIB = {"k": 1 / 1024, "m": 1, "g": 1024, "t": 1024 * 1024}


def _mem_total_mib() -> int | None:
    """Physical RAM (MemTotal of /proc/meminfo) in MiB, else None."""
    try:
        with open("/proc/meminfo") as f:
            return next(int(v.split()[1]) // 1024 for v in f
                        if v.startswith("MemTotal:"))
    except (OSError, StopIteration):
        return None


def host_defaults() -> tuple[int, str]:
    """(local threads, driver heap) for this host: SPARK_GRAFT_CPUS, else
    the CPUs this process may run on; SPARK_DRIVER_MEM, else 24g capped
    at physical RAM. An explicit heap larger than physical RAM raises
    here, before a JVM starts that the kernel would kill later."""
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS")
               or len(os.sched_getaffinity(0)))
    total = _mem_total_mib()
    mem = os.environ.get("SPARK_DRIVER_MEM")
    if mem is None:
        return cpus, f"{min(24 * 1024, total or 24 * 1024)}m"
    m = re.fullmatch(r"(\d+)([kmgt]?)b?", mem.strip().lower())
    if m is None:
        raise ValueError(f"SPARK_DRIVER_MEM={mem!r} is not a JVM memory size")
    # a bare number is MiB, as for spark.driver.memory
    if total is not None and int(m[1]) * _UNIT_MIB[m[2] or "m"] > total:
        raise ValueError(f"SPARK_DRIVER_MEM={mem} exceeds this host's "
                         f"physical memory ({total} MiB)")
    return cpus, mem


def get_spark(
    app: str = "extract_sf_r_parallel_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra: dict[str, str] | None = None,
) -> SparkSession:
    cpus, driver_mem = host_defaults()
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        # local: match cores; on a real cluster this would be
        # 2-3 × total executor cores (set via --conf at submit)
        n = master[master.find("[") + 1:master.find("]")] if "[" in master else str(cpus)
        shuffle_partitions = cpus * 2 if n == "*" else max(int(n) * 2, 8)
    b = (
        SparkSession.builder.master(master).appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # bound Arrow batch size so pandas-UDF geometry batches fit in
        # worker memory even with fat candidate sets (SURVEY.md §4)
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "20000")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", driver_mem)
        # files: 128 MiB splits — the cluster default that keeps scan
        # tasks balanced at 100 TB (partition pruning happens above)
        .config("spark.sql.files.maxPartitionBytes", "134217728")
    )
    for k, v in (extra or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()
