"""SparkSession factory with the engine's required configuration.

Enforced settings (SURVEY.md §4.8): Arrow-backed pandas UDFs everywhere
(BASELINE.json input_hint bans per-row Python), adaptive query execution
for runtime re-planning / skew handling, and a shuffle-partition count
sized to the local core count (on a real cluster: ~2-3x total cores).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _host_cpus() -> int:
    """CPUs this process may run on (affinity, not the machine's count)."""
    return len(os.sched_getaffinity(0))


def _host_heap() -> str:
    """A quarter of MemTotal: local mode runs the executors inside the
    driver JVM, and the Python workers and other tenants need the rest."""
    with open("/proc/meminfo") as f:
        kb = next(int(ln.split()[1]) for ln in f if ln.startswith("MemTotal:"))
    return f"{max(1024, kb // 1024 // 4)}m"


DEFAULT_CONF = {
    # Arrow transfer for every pandas UDF / mapInPandas / applyInPandas.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
    # AQE: runtime coalescing + skew-join splitting; free insurance at scale.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Keep broadcast threshold generous: term dictionaries are small.
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    "spark.ui.enabled": "false",
}


def get_spark(
    app_name: str = "sparktext",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession configured for this engine.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, fallback:
    the CPUs this process may use) when no active session exists.
    ``shuffle_partitions`` defaults to the parallelism of the master
    (local[N] -> N, else the host CPU count) so small-scale runs don't pay
    200-partition overhead while cluster runs can raise it.
    """
    builder = SparkSession.builder.appName(app_name)
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS") or _host_cpus()
        master = f"local[{cpus}]"
    builder = builder.master(master)
    conf = dict(DEFAULT_CONF)
    # local mode = ONE JVM doing executor work: size the heap to the
    # host, not to a driver-only footprint — a too-small heap turns
    # multi-million-doc builds GC-bound at every parallelism level.
    conf["spark.driver.memory"] = os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _host_heap()
    if shuffle_partitions is None:
        inner = master.split("[")[-1].rstrip("]") if "[" in master else ""
        shuffle_partitions = int(inner) if inner.isdigit() else _host_cpus()
    conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
