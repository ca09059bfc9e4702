"""SparkSession construction with scale-appropriate defaults.

Single place for configuration so tests, bench.py and the driver entry all
run with the same physical settings. Defaults are chosen for the sandbox
(local[N], 128 GiB) but every knob is the one you would set on a real
1000-executor cluster: AQE on (dynamic coalescing + skew-join splitting
replaces the reference's hand-built >4000-definitions bail-out,
ReachingDefPass.scala:41-57), Arrow enabled for every pandas UDF boundary,
and shuffle partitions sized to cores (AQE re-coalesces upward at scale).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_driver_mem(mem_total_kb: int) -> str:
    """Driver heap for a host with `mem_total_kb` of RAM: a quarter of
    it, at most 16g, at least 1g. The heap is pre-touched in full (see
    get_spark), so a fixed 16g makes the JVM exit on a 15 GB host."""
    return f"{min(16 * 1024, max(1024, mem_total_kb // 4096))}m"


def _mem_total_kb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1])
    raise OSError("no MemTotal line in /proc/meminfo")


_DRIVER_MEM = os.environ.get("SPARK_DRIVER_MEM") or default_driver_mem(
    _mem_total_kb()
)


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(
    app_name: str = "joern_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cores = cores or default_parallelism()
    shuffle_partitions = shuffle_partitions or max(cores, 8)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cores}]")
        # AQE: runtime coalescing, skew-join split (mega-conversation / hub-entity
        # defense — replaces the reference's static bail-out thresholds).
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # finer input splits: enough task waves that the last wave's tail
        # doesn't idle most of a 32-core stage (70-file scans at the default
        # 128m gave 2.2 waves → ~15% idle; 16m gives 4+ balanced waves)
        .config("spark.sql.files.maxPartitionBytes", "16m")
        # Arrow for pandas UDF / applyInPandas boundaries (vectorized-only rule).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # Non-ANSI so integer hash arithmetic wraps instead of erroring;
        # all our hashes stay in [0, 2^61) anyway.
        .config("spark.sql.ansi.enabled", "false")
        # local mode runs every executor thread inside the driver JVM.
        # Fixed-size, pre-touched heap with a non-concurrent GC: G1's heap
        # grow/shrink (uncommit) churn causes munmap/madvise TLB-shootdown
        # IPI storms that burn 80%+ of 32 vCPUs in *kernel* time on
        # virtualized hosts (measured here: identical 14M-turn extraction
        # jobs swinging 1.5s ↔ 75s). -Xms=-Xmx + AlwaysPreTouch +
        # ParallelGC pins the mapping once and makes runtimes flat.
        .config("spark.driver.memory", _DRIVER_MEM)
        .config(
            "spark.driver.extraJavaOptions",
            f"-Xms{_DRIVER_MEM} -XX:+UseParallelGC -XX:+AlwaysPreTouch",
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
