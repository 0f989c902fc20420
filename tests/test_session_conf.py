"""Session factory configuration gating (VERDICT r10 "What's wrong" #1).

``build_conf`` is pure, so we can assert cluster-shaped configurations
without creating a second JVM session.  The contract:

- local masters (``local``, ``local[N]``, ``local[*]``, ``local[N,F]``)
  get the sandbox split sizing, driver-memory and memory-page knobs;
- ``local-cluster[...]`` runs real executors, so it is not local;
- any non-local master (spark://, yarn, k8s://) gets NONE of the
  local-only keys, only the portable semantics/scale pins;
- semantics pins are identical in both shapes (plans stay oracle-stable).
"""

import os

import pytest

from end_to_end_datapipeline_project_spark import session
from end_to_end_datapipeline_project_spark.session import (
    _LOCAL_ONLY_KEYS,
    MAX_DRIVER_HEAP_MB,
    build_conf,
    is_local_master,
)

SEMANTIC_KEYS = {
    "spark.sql.session.timeZone",
    "spark.sql.adaptive.enabled",
    "spark.sql.adaptive.coalescePartitions.enabled",
    "spark.sql.adaptive.skewJoin.enabled",
    "spark.sql.execution.arrow.pyspark.enabled",
    "spark.sql.parquet.filterPushdown",
    "spark.sql.autoBroadcastJoinThreshold",
    "spark.sql.shuffle.partitions",
}


def test_local_master_gets_local_knobs():
    for master in ("local", "local[4]", "local[*]", "local[4,2]", "local[32]"):
        resolved, conf = build_conf(master=master)
        assert is_local_master(resolved)
        assert _LOCAL_ONLY_KEYS <= set(conf)
        assert conf["spark.sql.files.maxPartitionBytes"] == str(4 * 1024 * 1024)
        assert conf["spark.buffer.pageSize"] == "1m"


def test_cluster_masters_get_no_local_knobs():
    for master in (
        "spark://host:7077",
        "yarn",
        "k8s://https://host:443",
        "local-cluster[2,1,1024]",
    ):
        resolved, conf = build_conf(master=master)
        assert resolved == master
        assert not is_local_master(resolved)
        leaked = _LOCAL_ONLY_KEYS & set(conf)
        assert not leaked, f"local-only knobs leaked onto {master}: {leaked}"
        assert SEMANTIC_KEYS <= set(conf)


def test_semantics_pins_identical_across_shapes():
    _, local = build_conf(master="local[4]", shuffle_partitions=32)
    _, cluster = build_conf(master="yarn", shuffle_partitions=32)
    for k in SEMANTIC_KEYS:
        assert local[k] == cluster[k], k


def test_env_master_override(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_MASTER", "yarn")
    master, conf = build_conf()
    assert master == "yarn"
    assert not (_LOCAL_ONLY_KEYS & set(conf))


def test_extra_conf_wins():
    _, conf = build_conf(master="local[2]", extra_conf={"spark.ui.enabled": "true"})
    assert conf["spark.ui.enabled"] == "true"


def _host(monkeypatch, files):
    """Serve ``session._read`` from ``files`` (path -> text); any other
    path reads as missing."""
    monkeypatch.setattr(session, "_read", files.get)
    monkeypatch.delenv("SPARK_DRIVER_MEMORY", raising=False)
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)


def _mib(memory: str) -> int:
    return int(memory[:-1]) * (1024 if memory.endswith("g") else 1)


@pytest.mark.parametrize("mem_total_gib", [1, 15, 62, 64, 1024])
def test_driver_heap_is_half_the_host_under_the_oops_cap(monkeypatch, mem_total_gib):
    _host(monkeypatch, {"/proc/meminfo": f"MemTotal: {mem_total_gib << 20} kB\n"})
    _, conf = build_conf(master="local[4]")
    heap = _mib(conf["spark.driver.memory"])
    assert heap <= 31 * 1024
    assert heap <= mem_total_gib * 1024 // 2
    assert heap == min(mem_total_gib * 512, MAX_DRIVER_HEAP_MB)


def test_driver_heap_follows_a_cgroup_memory_limit(monkeypatch):
    meminfo = {"/proc/meminfo": "MemTotal: 16456384 kB\n", "/proc/self/cgroup": "0::/job\n"}
    _host(monkeypatch, {**meminfo, "/sys/fs/cgroup/job/memory.max": "4294967296\n"})
    assert session.default_driver_memory() == "2048m"
    _host(monkeypatch, {**meminfo, "/sys/fs/cgroup/job/memory.max": "max\n"})
    assert session.default_driver_memory() == f"{16456384 // 2048}m"


def test_driver_heap_fallback_and_override(monkeypatch):
    _host(monkeypatch, {})
    assert session.default_driver_memory() == "4g"
    monkeypatch.setenv("SPARK_DRIVER_MEMORY", "6g")
    assert build_conf(master="local[2]")[1]["spark.driver.memory"] == "6g"


def test_cores_from_the_host(monkeypatch):
    affinity = len(os.sched_getaffinity(0))
    _host(monkeypatch, {})
    assert session.default_parallelism() == affinity
    assert build_conf()[0] == f"local[{affinity}]"
    cgroup = {"/proc/self/cgroup": "0::/\n"}
    _host(monkeypatch, {**cgroup, "/sys/fs/cgroup/cpu.max": "max 100000\n"})
    assert session.default_parallelism() == affinity
    _host(monkeypatch, {**cgroup, "/sys/fs/cgroup/cpu.max": "50000 100000\n"})
    assert session.default_parallelism() == 1
    _host(monkeypatch, {**cgroup, "/sys/fs/cgroup/cpu.max": "6400000 100000\n"})
    assert session.default_parallelism() == affinity
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert session.default_parallelism() == 3


def test_default_session_keeps_compressed_oops(spark):
    """The default local heap stays under 32 GB, so HotSpot keeps 4-byte
    object references (a 90 GB heap turns them off)."""
    if os.environ.get("SPARK_DRIVER_MEMORY"):
        pytest.skip("SPARK_DRIVER_MEMORY replaces the default heap")
    jvm = spark._jvm
    bean = jvm.java.lang.management.ManagementFactory.getPlatformMXBean(
        jvm.com.sun.management.HotSpotDiagnosticMXBean._java_lang_class
    )
    assert bean.getVMOption("UseCompressedOops").getValue() == "true"
    assert jvm.java.lang.Runtime.getRuntime().maxMemory() <= MAX_DRIVER_HEAP_MB << 20


def test_small_broadcast_relation_holds_little_heap(spark):
    """A broadcast hash relation of three string-keyed rows stays in the
    memory store until the ContextCleaner drops it.  Without the 1 MB
    page pin it would hold Spark's default page there, which is still
    64 MB for the host-derived heap (capped below 32 GB only to keep
    compressed oops): ~7.8 GiB on 4 cores gives ~2.3 GB of initial
    execution pool / 4 cores / 16, rounded up to a power of two."""
    from pyspark.sql import functions as F

    memory = spark._jvm.org.apache.spark.SparkEnv.get().memoryManager()
    assert memory.pageSizeBytes() == 1 << 20
    small = spark.createDataFrame([("0", 1), ("1", 2), ("2", 3)], "k string, v int")
    big = spark.range(1000).select((F.col("id") % 3).cast("string").alias("k"))
    joined = big.join(F.broadcast(small), "k")
    before = memory.storageMemoryUsed()
    joined.collect()
    grown = memory.storageMemoryUsed() - before
    assert grown < 8 * 2**20, f"one tiny broadcast took {grown / 2**20:.1f} MB"
