"""Physical-layout operators: bucketing (co-located shuffle-free joins)
and the partitioned medallion round-trip (write → partition-pruned read).

These exercise the *storage side* of the scale playbook:

- **Bucketing** pre-shuffles a table once at write time (``bucketBy`` on
  the join key).  Two tables bucketed the same way join with **no
  exchange at all** — `.explain` shows SortMergeJoin with no
  ShuffleExchange under either side.  At 100 TB this converts every
  repeated fact-fact join from a full-network shuffle into a local merge.
- **Medallion round-trip** materializes the Silver tier as
  date-partitioned parquet and reads it back through a partition filter —
  the FileScan shows ``PartitionFilters`` and lists only the matching
  ``date=`` directories (what replaces the reference's driver-side
  ``glob.glob``, gtfstransformerSilver.py:11).
"""

from __future__ import annotations

import os
import weakref

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .pipeline_queries import _cleansed_sql, events_cleansed
from .registry import dsum, register, spark_dsum, spark_dsum_fast
from .sources import claim_staged, read_parquet_table, stage_dir, stage_fingerprint

#: bump when a transformation feeding a staged dataset changes semantics
#: (the fingerprint covers input DATA, not code — without an epoch bump
#: a code change would keep reading _SUCCESS-marked stale outputs)
_STAGE_EPOCH = "v2"

N_BUCKETS = 8


def _stage(sf_dir: str, leaf: str) -> str:
    return stage_dir("spark_graft_physical", _STAGE_EPOCH, sf_dir, leaf)


def _round_trip(
    spark: SparkSession, sf_dir: str, leaf: str, df: DataFrame, write
) -> DataFrame:
    """Stage ``df`` once as parquet (``write(df, tmp_dir)``, published
    by :func:`claim_staged`) and read the staged copy back with
    ``df``'s schema, so the read launches no footer job."""
    path = _stage(sf_dir, leaf)
    claim_staged(path, lambda tmp: write(df, tmp))
    return spark.read.schema(df.schema).parquet(path)


def _silver_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The cleansed events staged as date-partitioned Silver parquet."""
    return _round_trip(
        spark,
        sf_dir,
        "silver_events",
        events_cleansed(spark, sf_dir),
        lambda df, tmp: df.write.mode("overwrite")
        .partitionBy("date")
        .parquet(tmp),
    )


@register(
    "q_bucketed_join",
    f"""
  SELECT o.o_orderpriority,
         count(*) AS n_lines,
         {dsum("l.l_quantity")} AS total_qty
  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
  GROUP BY o.o_orderpriority
""",
    doc="Shuffle-free fact-fact join via bucketing: orders and lineitem "
    f"both written bucketBy({N_BUCKETS}, orderkey) + sortBy, then joined — "
    "the SortMergeJoin has no ShuffleExchange under either side because "
    "the bucket layout IS the hash partitioning, paid once at write time.",
)
def q_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = read_parquet_table(spark, sf_dir, "orders")
    li = read_parquet_table(spark, sf_dir, "lineitem")
    # table names carry the SAME content-hash tag as the staging dirs:
    # basename-derived names served stale bucketed tables for any other
    # dataset sharing a basename (or in-place regenerated testdata), and
    # non-identifier chars in the basename broke tableExists outright.
    # stage_fingerprint, not path-parsing: the tag must survive any
    # change to stage_dir's directory layout
    tag = stage_fingerprint(_STAGE_EPOCH, sf_dir)
    t_orders, t_li = f"sg_orders_b_{tag}", f"sg_lineitem_b_{tag}"
    for name, df, key in ((t_orders, orders, "o_orderkey"), (t_li, li, "l_orderkey")):
        if not spark.catalog.tableExists(name):
            (
                df.write.mode("overwrite")
                .option("path", _stage(sf_dir, name))
                .bucketBy(N_BUCKETS, key)
                .sortBy(key)
                .saveAsTable(name)
            )
    # hint("merge"): at test SFs AQE would broadcast the smaller side,
    # hiding the point — at 100 TB neither fact table broadcasts, and the
    # bucket-aligned SortMergeJoin (zero exchanges under the join) is the
    # plan this layout buys.  tests/test_physical.py asserts no shuffle.
    o = spark.table(t_orders).hint("merge")
    l = spark.table(t_li)
    return (
        o.join(l, o.o_orderkey == l.l_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            # qty is a 2-decimal exact — spark_dsum_fast contract
            spark_dsum_fast(F.col("l_quantity"), 2).alias("total_qty"),
        )
    )


@register(
    "q_medallion_roundtrip",
    f"""
  {_cleansed_sql(52.0, 52.4, 20.5, 21.5)}
  SELECT date, count(*) AS n_rows,
         {dsum("value")} AS total_value
  FROM __dedup
  WHERE date >= DATE '2024-01-10' AND date < DATE '2024-01-20'
  GROUP BY date
""",
    doc="Medallion Silver round-trip: cleansed events written as "
    "date-partitioned parquet, read back through a partition-range filter "
    "(FileScan PartitionFilters prune to the 10 matching date= dirs — the "
    "Spark-native replacement for the reference's driver-side glob), then "
    "aggregated per date.",
)
def q_medallion_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    pruned = _silver_events(spark, sf_dir).filter(
        (F.col("date") >= F.lit("2024-01-10").cast("date"))
        & (F.col("date") < F.lit("2024-01-20").cast("date"))
    )
    return pruned.groupBy("date").agg(
        F.count(F.lit(1)).alias("n_rows"),
        # events.value is a 2-decimal exact — spark_dsum_fast contract
        spark_dsum_fast(F.col("value"), 2).alias("total_value"),
    )


# WeakKeyDictionary: keyed on the parent session object itself, so a
# garbage-collected parent drops its cached child (id()-keying could hand
# a new session a stale child bound to a stopped SparkContext after
# CPython reuses the id, and never evicted entries)
_BLOOM_SESSIONS: "weakref.WeakKeyDictionary" = weakref.WeakKeyDictionary()


@register(
    "q_bloom_join",
    f"""
  SELECT o.o_orderpriority,
         count(*) AS n_items,
         {dsum("l.l_extendedprice * (1 - l.l_discount)")} AS revenue
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  WHERE o.o_orderpriority = '1-URGENT' AND o.o_totalprice > 150000
  GROUP BY o.o_orderpriority
""",
    doc="Runtime Bloom-filter join pruning: when the selective dim side is "
    "too big to broadcast but small enough to sketch, Spark's "
    "InjectRuntimeFilter builds a Bloom filter from the dim keys and "
    "pushes might_contain() into the fact scan — at 100 TB the fact "
    "side drops non-matching rows before the shuffle instead of after "
    "it. Demonstrated in an isolated spark.newSession() (broadcast off, "
    "bloom thresholds scaled down to make the local SF behave like "
    "cluster scale) so no conf leaks to sibling queries; "
    "tests/test_physical.py asserts might_contain in the plan. Oracle = "
    "the plain join.",
)
def q_bloom_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    # one isolated session per parent SparkSession, reused across calls:
    # newSession() per invocation accumulated session state on the
    # shared SparkContext for the application lifetime (slow leak in
    # bench loops)
    s2 = _BLOOM_SESSIONS.get(spark)
    if s2 is None:
        s2 = spark.newSession()
        _BLOOM_SESSIONS[spark] = s2
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s2.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
    s2.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter."
        "applicationSideScanSizeThreshold",
        "0",
    )
    li = read_parquet_table(s2, sf_dir, "lineitem")
    o = read_parquet_table(s2, sf_dir, "orders").filter(
        (F.col("o_orderpriority") == "1-URGENT")
        & (F.col("o_totalprice") > 150000)
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            spark_dsum(
                F.col("l_extendedprice") * (1 - F.col("l_discount"))
            ).alias("revenue"),
        )
    )


# --- z-order clustering ---------------------------------------------------

Z_BITS = 8  # per-dimension resolution (256 buckets)
Z_FILES_SHIFT = 10  # 2^16 z-values / 2^10 = 64 files


def _interleave_sql(bx: str, by: str) -> str:
    terms = [
        f"((({bx} >> {i}) & 1) * {1 << (2 * i + 1)}) + "
        f"((({by} >> {i}) & 1) * {1 << (2 * i)})"
        for i in range(Z_BITS)
    ]
    return " + ".join(terms)


def _interleave_col(bx, by):
    z = F.lit(0)
    for i in range(Z_BITS):
        z = (
            z
            + F.shiftright(bx, i).bitwiseAND(F.lit(1)) * (1 << (2 * i + 1))
            + F.shiftright(by, i).bitwiseAND(F.lit(1)) * (1 << (2 * i))
        )
    return z


@register(
    "q_zorder_layout",
    f"""
  WITH __b AS (
    SELECT CAST(min(l_partkey) AS DOUBLE) AS xlo,
           CAST(max(l_partkey) + 1 AS DOUBLE) AS xhi,
           CAST(min(l_suppkey) AS DOUBLE) AS ylo,
           CAST(max(l_suppkey) + 1 AS DOUBLE) AS yhi
    FROM lineitem
  ),
  __z AS (
    SELECT CAST(floor((l_partkey - xlo) * {1 << Z_BITS} / (xhi - xlo))
                AS BIGINT) AS bx,
           CAST(floor((l_suppkey - ylo) * {1 << Z_BITS} / (yhi - ylo))
                AS BIGINT) AS by
    FROM lineitem CROSS JOIN __b
  )
  SELECT ({_interleave_sql("bx", "by")}) >> {Z_FILES_SHIFT} AS file_id,
         count(*) AS n,
         min(bx) AS min_bx, max(bx) AS max_bx,
         min(by) AS min_by, max(by) AS max_by
  FROM __z
  GROUP BY 1
""",
    doc="Z-order (Morton-curve) clustering for multi-dimensional data "
    "skipping: bucket two dims to 8 bits each against their global "
    "bounds (tiny agg, broadcast), interleave the bits into a 16-bit "
    "z-value, and range-partition by z into 64 files. The per-file "
    "min/max output IS the skipping proof: every file covers a narrow "
    "square in (partkey, suppkey) space, so a predicate on EITHER dim "
    "prunes most files via footer min/max stats — a lexicographic sort "
    "only prunes on the leading dim. Pure integer bit arithmetic, "
    "identical on both engines.",
)
def q_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_parquet_table(spark, sf_dir, "lineitem")
    bounds = li.agg(
        F.min("l_partkey").cast("double").alias("xlo"),
        (F.max("l_partkey") + 1).cast("double").alias("xhi"),
        F.min("l_suppkey").cast("double").alias("ylo"),
        (F.max("l_suppkey") + 1).cast("double").alias("yhi"),
    )
    n_buckets = 1 << Z_BITS
    z = li.crossJoin(F.broadcast(bounds)).select(
        F.floor(
            (F.col("l_partkey") - F.col("xlo"))
            * n_buckets
            / (F.col("xhi") - F.col("xlo"))
        )
        .cast("bigint")
        .alias("bx"),
        F.floor(
            (F.col("l_suppkey") - F.col("ylo"))
            * n_buckets
            / (F.col("yhi") - F.col("ylo"))
        )
        .cast("bigint")
        .alias("by"),
    )
    return (
        z.select(
            F.shiftright(
                _interleave_col(F.col("bx"), F.col("by")), Z_FILES_SHIFT
            ).alias("file_id"),
            "bx",
            "by",
        )
        .groupBy("file_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("bx").alias("min_bx"),
            F.max("bx").alias("max_bx"),
            F.min("by").alias("min_by"),
            F.max("by").alias("max_by"),
        )
    )


# --- mergeable HLL sketch persistence -------------------------------------


def hll_daily_sketches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(day, event_type) HLL sketches of user_id — the mergeable
    partial aggregate a pipeline PERSISTS so any later rollup (per week,
    per type, overall) is a cheap sketch union instead of a rescan.

    At 100 TB this is the distinct-counting playbook: each partition/day
    reduces to a ~KB binary sketch; sketches OR-merge associatively, so
    re-aggregation across arbitrary dimensions never touches the facts
    again (Apache DataSketches HLL, built into Spark ≥3.5 as
    hll_sketch_agg / hll_union_agg / hll_sketch_estimate).
    """
    ev = read_parquet_table(spark, sf_dir, "events")
    return (
        ev.select(F.to_date("ts").alias("day"), "event_type", "user_id")
        .groupBy("day", "event_type")
        .agg(F.expr("hll_sketch_agg(user_id)").alias("sketch"))
    )


def hll_rollup(sketches: DataFrame, *keys: str) -> DataFrame:
    """Union persisted sketches up to ``keys`` and estimate distincts —
    no rescan of the base table."""
    return sketches.groupBy(*keys).agg(
        F.expr("hll_sketch_estimate(hll_union_agg(sketch))").alias(
            "approx_distinct_users"
        )
    )


@register(
    "q_dynamic_partition_pruning",
    f"""
  {_cleansed_sql(52.0, 52.4, 20.5, 21.5)},
  __picked AS (
    SELECT d FROM (SELECT DISTINCT date AS d FROM __dedup)
    WHERE CAST(strftime(d, '%d') AS BIGINT) % 10 = 3
  )
  SELECT s.date, count(*) AS n_events,
         {dsum("s.value")} AS sum_value
  FROM __dedup s JOIN __picked p ON s.date = p.d
  GROUP BY s.date
""",
    doc="Dynamic partition pruning: the fact side is the date-partitioned "
    "silver table, the dim side is a selective date filter only known "
    "at runtime (day-of-month % 10 = 3) — Catalyst injects the dim's "
    "build-side values as a runtime IN-subquery into the fact scan's "
    "PartitionFilters, so only ~1/10 of the partitions are read even "
    "though no literal date predicate exists in the query. THE "
    "mechanism that makes star-schema joins over 100 TB partitioned "
    "facts read only the joined slice; plan-asserted via "
    "`dynamicpruning` in tools/dump_plans.py.",
)
def q_dynamic_partition_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    silver = _silver_events(spark, sf_dir)
    dim = (
        silver.select(F.col("date").alias("d"))
        .distinct()
        .filter(F.dayofmonth("d") % 10 == 3)
    )
    return (
        silver.join(F.broadcast(dim), silver.date == dim.d)
        .groupBy("date")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            # events.value is a 2-decimal exact — spark_dsum_fast contract
            spark_dsum_fast(F.col("value"), 2).alias("sum_value"),
        )
    )


# --- small-file compaction -------------------------------------------------

_COMPACT_SHARDS = 64  # deliberately fragmented input layout
_COMPACT_TARGET_FILES = 4


@register(
    "q_compact_small_files",
    f"""
  SELECT CAST(count(*) AS BIGINT) AS n_rows,
         CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
         CAST(sum(n_chars) AS BIGINT) AS total_chars
  FROM documents
""",
    doc=f"Small-file compaction — the 100 TB housekeeping job: a "
    f"deliberately fragmented copy of documents ({_COMPACT_SHARDS} "
    "shard files) is compacted to "
    f"{_COMPACT_TARGET_FILES} right-sized files with repartition(N) at "
    "write time, and the compacted copy must carry exactly the source "
    "rows (the oracle aggregates the ORIGINAL table — loss or "
    "duplication during compaction breaks the hash).  Streaming "
    "ingestion produces exactly this fragmentation (one file per "
    "micro-batch per partition); compaction restores scan efficiency "
    "because a 100 TB table in 10^8 x 1 MB files spends more time in "
    "open/footer overhead than in column IO.  File-count bounds are "
    "asserted in tests/test_physical.py.",
)
def q_compact_small_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_parquet_table(spark, sf_dir, "documents")
    # simulate micro-batch fragmentation: 64 shards of ~80 rows
    frag = _round_trip(
        spark,
        sf_dir,
        "frag_documents",
        docs,
        lambda df, tmp: df.repartition(_COMPACT_SHARDS)
        .write.mode("overwrite")
        .parquet(tmp),
    )
    back = _round_trip(
        spark,
        sf_dir,
        "compact_documents",
        frag,
        lambda df, tmp: df.repartition(_COMPACT_TARGET_FILES)
        .write.mode("overwrite")
        .parquet(tmp),
    )
    return back.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("doc_id").alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
    )


@register(
    "q_parquet_bloom_skip",
    f"""
  SELECT o_orderstatus,
         count(*) AS n_orders,
         {dsum("o_totalprice")} AS sum_price
  FROM orders
  WHERE o_custkey IN (7, 21, 42)
  GROUP BY o_orderstatus
""",
    doc="Write-side parquet BLOOM FILTERS + point-lookup pushdown: orders "
    "are staged as parquet with a bloom filter on o_custkey "
    "(parquet.bloom.filter.enabled#o_custkey, expected NDV sized to the "
    "key domain) and probed with an IN point lookup. Min/max row-group "
    "stats cannot skip anything for a high-cardinality key scattered "
    "through every row group — exactly the 100 TB case (customer/user/"
    "session-id lookups on unsorted landing data); the bloom sidecar "
    "lets parquet-mr drop row groups BEFORE decoding any pages, turning "
    "the scan cost from O(data) into O(matching row groups). The "
    "predicate reaches the scan as PushedFilters: [In(o_custkey, ...)] "
    "— plan-asserted in tests/test_physical.py — and the oracle "
    "aggregates the original parquet, proving the bloom-filtered copy "
    "is lossless.",
)
def q_parquet_bloom_skip(spark: SparkSession, sf_dir: str) -> DataFrame:
    # parquet-mr SKIPS bloom filters for columns whose pages are fully
    # dictionary-encoded (the dictionary already answers membership
    # exactly) — true for any test-SF key column, so the sidecar would
    # never materialize here.  At 100 TB the key overflows the
    # dictionary-page limit and falls back to plain encoding, which is
    # precisely when blooms earn their keep; the staged copy disables
    # the dictionary for the key column to land in that regime.
    back = _round_trip(
        spark,
        sf_dir,
        "orders_bloom_v2",
        read_parquet_table(spark, sf_dir, "orders"),
        lambda df, tmp: df.write.mode("overwrite")
        .option("parquet.bloom.filter.enabled#o_custkey", "true")
        .option("parquet.bloom.filter.expected.ndv#o_custkey", "20000")
        .option("parquet.enable.dictionary#o_custkey", "false")
        .parquet(tmp),
    )
    return (
        back.filter(F.col("o_custkey").isin(7, 21, 42))
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            spark_dsum(F.col("o_totalprice")).alias("sum_price"),
        )
    )
