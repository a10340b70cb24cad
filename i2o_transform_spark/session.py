"""SparkSession construction with scale-aware defaults.

The reference delegates physical planning to SQL Server (SURVEY.md §4); here we
delegate to Catalyst + AQE and set only the knobs that matter at scale:

* AQE on (runtime re-plan, skew-join splitting, partition coalescing) —
  the reference hand-fixes skew/temp-table reuse (MSSQL/OMOPLoader.sql:1011,
  1370); AQE + explicit salting replace that.
* Arrow enabled for pandas UDF exchange (input_hint: vectorized Arrow UDFs,
  no per-row Python).
* shuffle partitions sized for the local harness; on a real cluster this is
  set to ~2-3x total cores via spark-submit conf.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

def _mem_total_gib() -> float:
    """Host RAM in GiB from /proc/meminfo (0.0 if unreadable)."""
    try:
        with open("/proc/meminfo") as fh:
            for line in fh:
                if line.startswith("MemTotal:"):
                    return int(line.split()[1]) / (1024 * 1024)
    except OSError:
        pass
    return 0.0


def _driver_mem() -> str:
    """Driver heap: ``SPARK_GRAFT_DRIVER_MEM``, else 30% of host RAM in whole
    GiB, between 1g and 16g.  In local mode this one JVM also hosts every
    executor, and a fixed 16g on a host with less RAM and no swap gets the
    JVM OOM-killed instead of collected."""
    env = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if env:
        return env
    return f"{min(16, max(1, int(0.3 * _mem_total_gib())))}g"


def _sandbox_profile() -> bool:
    """Whether to apply the aggressive single-JVM benchmark profile
    (pre-touched fixed heap, tmpfs shuffle dirs).

    Explicit override via SPARK_GRAFT_SANDBOX=1/0; otherwise auto-enable only
    when the host clearly has headroom (>= 2x the requested heap), so small
    hosts keep a lazily-grown heap and disk-backed local dirs.
    """
    env = os.environ.get("SPARK_GRAFT_SANDBOX")
    if env is not None:
        return env not in ("0", "false", "")
    heap = _driver_mem()
    try:
        heap_gib = float(heap.lower().rstrip("gm")) * (
            1.0 if heap.lower().endswith("g") else 1.0 / 1024
        )
    except ValueError:
        heap_gib = 16.0
    return _mem_total_gib() >= 2.0 * heap_gib


# At 100 TB these become spark-submit --conf flags; the values here are the
# local[32]/128GiB harness profile.
_BASE_CONF: dict[str, str] = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
    "spark.sql.shuffle.partitions": "32",
    "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
    "spark.sql.session.timeZone": "UTC",
    "spark.driver.memory": _driver_mem(),
    # Two JVM pathologies break local[N] scaling on this sandbox and both are
    # GC-side, not Spark-side:
    # * G1's GCLocker stalls under many concurrently-allocating task threads
    #   ("Retried waiting for GCLocker too often") — ParallelGC avoids it in
    #   single-JVM local mode (a real cluster's small executor JVMs keep G1).
    # * The sandbox kernel backs JVM heap lazily; without -Xms/-XX:+AlwaysPreTouch
    #   every heap-growth step makes all GC threads fault fresh pages at once —
    #   observed as GC threads pegged at 100% *system* time and local[32]
    #   running 4x slower than local[8].  Pre-touching the whole heap at
    #   startup moves that cost out of the measured path entirely.
    "spark.driver.extraJavaOptions": "-XX:+UseParallelGC",
    "spark.ui.enabled": "false",
    "spark.sql.parquet.compression.codec": "snappy",
}

if _sandbox_profile():
    # Benchmark-sandbox profile (gated — see _sandbox_profile): fixed
    # pre-touched heap, and shuffle/spill on tmpfs because the sandbox's /tmp
    # disk serializes concurrent shuffle writers and flattens scaling past ~8
    # cores.  On a real cluster the heap stays lazy and spark.local.dir is the
    # executors' NVMe local dirs via spark-submit.
    _BASE_CONF["spark.driver.extraJavaOptions"] = (
        "-XX:+UseParallelGC -Xms" + _driver_mem() + " -XX:+AlwaysPreTouch"
    )
    if os.path.isdir("/dev/shm"):
        _BASE_CONF["spark.local.dir"] = "/dev/shm/spark-local"


def get_spark(
    app_name: str = "i2o_transform_spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default ``*``).
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    builder = SparkSession.builder.appName(app_name).master(master)
    conf = dict(_BASE_CONF)
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
