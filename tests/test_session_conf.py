"""Session factory configuration gating (VERDICT r10 "What's wrong" #1).

``build_conf`` is pure, so we can assert cluster-shaped configurations
without creating a second JVM session.  The contract:

- local masters get the sandbox split sizing, driver-memory and
  memory-page knobs;
- any non-local master (spark://, yarn, k8s://) gets NONE of the
  local-only keys, only the portable semantics/scale pins;
- semantics pins are identical in both shapes (plans stay oracle-stable).
"""

from end_to_end_datapipeline_project_spark.session import (
    _LOCAL_ONLY_KEYS,
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
    master, conf = build_conf(master="local[32]")
    assert is_local_master(master)
    assert _LOCAL_ONLY_KEYS <= set(conf)
    assert conf["spark.sql.files.maxPartitionBytes"] == str(4 * 1024 * 1024)
    assert conf["spark.buffer.pageSize"] == "1m"


def test_cluster_masters_get_no_local_knobs():
    for master in ("spark://host:7077", "yarn", "k8s://https://host:443"):
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


def test_small_broadcast_relation_holds_little_heap(spark):
    """A broadcast hash relation of three string-keyed rows stays in the
    memory store until the ContextCleaner drops it; with the default
    64 MB page of a 90g driver it would hold 64 MB of heap there."""
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
