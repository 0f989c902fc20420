"""Source-format parity: CSV and JSON-lines round-trips with explicit
schemas.

The reference's only interchange formats are raw JSON (Bronze) and
parquet (Silver/Gold); a general engine also has to ingest the two
text formats every data vendor actually ships — delimited CSV and
JSONL.  The scale rules these queries encode:

- **Never infer schemas.** Inference is an extra full scan of 100 TB
  and silently changes types between deliveries; both readers here
  declare the schema and CSV runs in FAILFAST mode so a malformed
  vendor file aborts loudly instead of nulling columns.
- **Text sources are splittable only when uncompressed** (or zstd/bzip2
  block-compressed); the writes here stay uncompressed so a
  1000-executor read parallelizes by byte range.
- The round-trip is verified end-to-end by aggregating the re-read copy
  and oracle-checking against the original parquet — including a
  count(DISTINCT md5(text)) content checksum on the JSONL path, which
  catches any quoting/escaping corruption of free text.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .registry import dsum, register, spark_dsum
from .sources import claim_staged, read_parquet_table, stage_dir

#: bump when a staging transformation below changes semantics (see
#: sources.stage_dir — the fingerprint covers input data, not code)
_STAGE_EPOCH = "v1"


def _stage(sf_dir: str, leaf: str) -> str:
    return stage_dir("spark_graft_formats", _STAGE_EPOCH, sf_dir, leaf)


ORDERS_CSV_SCHEMA = T.StructType(
    [
        T.StructField("o_orderkey", T.LongType()),
        T.StructField("o_custkey", T.LongType()),
        T.StructField("o_orderstatus", T.StringType()),
        T.StructField("o_totalprice", T.DoubleType()),
        T.StructField("o_orderpriority", T.StringType()),
    ]
)

DOCS_JSONL_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("n_chars", T.LongType()),
    ]
)


def write_csv(df: DataFrame, path: str, sep: str = "|") -> None:
    """Uncompressed (splittable) CSV with header, quoted as needed."""
    df.write.mode("overwrite").option("header", "true").option(
        "sep", sep
    ).csv(path)


def read_csv(
    spark: SparkSession, path: str, schema: T.StructType, sep: str = "|"
) -> DataFrame:
    """Schema-declared FAILFAST CSV read — no inference scan, no silent
    nulls from malformed rows.

    multiLine on: the writer quotes embedded newlines, so a symmetric
    reader must parse quoted multi-line fields or FAILFAST aborts on
    any free-text column (the round-trip contract is lossless).  Cost:
    multiLine CSV files are not byte-range splittable — parallelism is
    per FILE, which the writer's task-per-partition layout provides;
    keep free-text tables on the JSONL path when per-file granularity
    is too coarse.
    """
    return (
        spark.read.schema(schema)
        .option("header", "true")
        .option("sep", sep)
        .option("multiLine", "true")
        .option("mode", "FAILFAST")
        .csv(path)
    )


def write_jsonl(df: DataFrame, path: str) -> None:
    df.write.mode("overwrite").json(path)


def read_jsonl(
    spark: SparkSession, path: str, schema: T.StructType
) -> DataFrame:
    return (
        spark.read.schema(schema).option("mode", "FAILFAST").json(path)
    )


@register(
    "q_csv_roundtrip",
    f"""
  SELECT o_orderpriority,
         count(*) AS n_orders,
         {dsum("o_totalprice")} AS sum_price,
         count(DISTINCT o_orderstatus) AS n_statuses
  FROM orders
  GROUP BY o_orderpriority
""",
    doc="CSV round-trip: orders → pipe-delimited CSV with header → "
    "schema-declared FAILFAST re-read → aggregate. Oracle aggregates "
    "the original parquet, so a pass proves the text encode/decode "
    "(quoting, separators, float formatting) is lossless. The reader "
    "parses quoted multi-line fields (symmetric with the writer's "
    "quoting), so read parallelism is per FILE — the writer's "
    "task-per-partition layout supplies the files.",
)
def q_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    stage = _stage(sf_dir, "orders_csv")
    orders = read_parquet_table(spark, sf_dir, "orders").select(
        *[f.name for f in ORDERS_CSV_SCHEMA.fields]
    )
    write_csv(orders, stage)
    back = read_csv(spark, stage, ORDERS_CSV_SCHEMA)
    return back.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        spark_dsum(F.col("o_totalprice")).alias("sum_price"),
        F.count_distinct(F.col("o_orderstatus")).alias("n_statuses"),
    )


@register(
    "q_jsonl_roundtrip",
    """
  SELECT lang,
         count(*) AS n_docs,
         CAST(sum(n_chars) AS BIGINT) AS sum_chars,
         count(DISTINCT md5(text)) AS n_distinct_sigs,
         CAST(sum(CAST(('0x' || substr(md5(text), 1, 8)) AS BIGINT))
              AS BIGINT) AS sum_sig
  FROM documents
  GROUP BY lang
""",
    doc="JSONL round-trip: documents → JSON lines → schema-declared "
    "FAILFAST re-read → per-lang aggregate with BOTH a count(DISTINCT "
    "md5(text)) and an order-insensitive SUM of per-doc md5 prefixes — "
    "the distinct count alone cannot see uniform corruption that "
    "changes every hash without changing the count (the q_xml_roundtrip "
    "lesson); the sum shifts on ANY text change and fails the oracle.",
)
def q_jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    stage = _stage(sf_dir, "docs_jsonl")
    docs = read_parquet_table(spark, sf_dir, "documents").select(
        *[f.name for f in DOCS_JSONL_SCHEMA.fields]
    )
    write_jsonl(docs, stage)
    back = read_jsonl(spark, stage, DOCS_JSONL_SCHEMA)
    sig = F.conv(F.substring(F.md5("text"), 1, 8), 16, 10).cast("long")
    return back.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("sum_chars"),
        F.count_distinct(F.md5(F.col("text"))).alias("n_distinct_sigs"),
        F.sum(sig).alias("sum_sig"),
    )


@register(
    "q_orc_roundtrip",
    f"""
  SELECT o_orderstatus,
         count(*) AS n_orders,
         {dsum("o_totalprice")} AS sum_price
  FROM orders
  GROUP BY o_orderstatus
""",
    doc="ORC round-trip: columnar sibling to parquet (predicate pushdown, "
    "stripe stats, splittable). Write orders as ORC, re-read, aggregate; "
    "oracle aggregates the original parquet, proving type-exact "
    "interchange between the two columnar formats.",
)
def q_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    stage = _stage(sf_dir, "orders_orc")
    orders = read_parquet_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    orders.write.mode("overwrite").orc(stage)
    back = spark.read.orc(stage)
    return back.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        spark_dsum(F.col("o_totalprice")).alias("sum_price"),
    )


DOCS_XML_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("n_chars", T.LongType()),
    ]
)


@register(
    "q_xml_roundtrip",
    """
  SELECT lang,
         count(*) AS n_docs,
         CAST(sum(n_chars) AS BIGINT) AS sum_chars,
         CAST(sum(CAST(('0x' || substr(md5(text), 1, 8)) AS BIGINT))
              AS BIGINT) AS sum_sig
  FROM documents
  WHERE text <> ''
  GROUP BY lang
""",
    doc="XML round-trip on Spark 4's NATIVE xml datasource (no external "
    "spark-xml package): documents → one <doc> element per row → "
    "schema-declared FAILFAST re-read with the same rowTag → per-lang "
    "aggregate with an order-insensitive SUM of per-doc md5 prefixes, "
    "so corruption of ANY text (entity escaping, whitespace) shifts "
    "the sum and fails the oracle (which aggregates the original "
    "parquet) — a count(DISTINCT md5) would miss uniform corruption "
    "that changes every hash but not the count. The reader pins "
    "ignoreSurroundingSpaces=false (the Spark default trims "
    "leading/trailing whitespace — a silent lossy round-trip) and "
    "empty-string docs are excluded on BOTH sides (XML cannot "
    "distinguish '' from null in an element). Scale note: XML files "
    "are NOT byte-range splittable (rowTag boundaries are discovered "
    "by parse), so read parallelism is per FILE — the writer's "
    "task-per-partition layout supplies the files, the same contract "
    "as the multiLine CSV path. Keep XML at the ingest edge; convert "
    "to parquet in the first hop.",
)
def q_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    stage = _stage(sf_dir, "docs_xml")
    docs = (
        read_parquet_table(spark, sf_dir, "documents")
        .select(*[f.name for f in DOCS_XML_SCHEMA.fields])
        .filter(F.col("text") != "")
    )
    docs.write.mode("overwrite").option("rowTag", "doc").format("xml").save(
        stage
    )
    back = (
        spark.read.schema(DOCS_XML_SCHEMA)
        .option("rowTag", "doc")
        .option("ignoreSurroundingSpaces", "false")
        .option("mode", "FAILFAST")
        .format("xml")
        .load(stage)
    )
    sig = F.conv(F.substring(F.md5("text"), 1, 8), 16, 10).cast("long")
    return back.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("sum_chars"),
        F.sum(sig).alias("sum_sig"),
    )


@register(
    "q_schema_evolution",
    """
  WITH v1 AS (
    SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey % 2 = 0
  ),
  v2 AS (
    SELECT o_orderkey, o_totalprice, o_orderpriority
    FROM orders WHERE o_orderkey % 2 = 1
  ),
  merged AS (
    SELECT o_orderkey, o_totalprice, NULL AS o_orderpriority FROM v1
    UNION ALL
    SELECT o_orderkey, o_totalprice, o_orderpriority FROM v2
  )
  SELECT coalesce(o_orderpriority, '__pre_evolution__') AS priority,
         count(*) AS n_orders,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE)
           AS total_price
  FROM merged GROUP BY 1
""",
    doc="Additive schema evolution on a parquet dataset: generation 1 "
    "lands without o_orderpriority, generation 2 adds it; a single read "
    "under the declared current (generation-2) schema unifies both "
    "generations (missing column ⇒ NULL) and downstream code coalesces "
    "a sentinel. This is the contract for 100 TB datasets that gain "
    "columns over years of landing — no rewrite of old partitions, each "
    "file's columns matched to the declared schema at scan time, and no "
    "footer-merging job before the scan; the oracle reproduces the "
    "union-with-NULLs semantics.",
)
def q_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = read_parquet_table(spark, sf_dir, "orders")
    stage = _stage(sf_dir, "evolving_orders")

    def _build(tmp: str) -> None:
        orders.filter("o_orderkey % 2 = 0").select(
            "o_orderkey", "o_totalprice"
        ).write.mode("overwrite").parquet(f"{tmp}/gen=1")
        orders.filter("o_orderkey % 2 = 1").select(
            "o_orderkey", "o_totalprice", "o_orderpriority"
        ).write.mode("overwrite").parquet(f"{tmp}/gen=2")

    claim_staged(stage, _build)
    current = orders.select("o_orderkey", "o_totalprice", "o_orderpriority")
    merged = spark.read.schema(current.schema).parquet(
        f"{stage}/gen=1", f"{stage}/gen=2"
    )
    return merged.groupBy(
        F.coalesce("o_orderpriority", F.lit("__pre_evolution__")).alias(
            "priority"
        )
    ).agg(
        F.count(F.lit(1)).alias("n_orders"),
        spark_dsum(F.col("o_totalprice")).alias("total_price"),
    )


@register(
    "q_corrupt_records",
    """
  WITH lines AS (
    SELECT o_orderkey,
           CASE WHEN o_orderkey % 41 = 0 THEN NULL ELSE o_totalprice END
             AS price,
           o_orderkey % 41 = 0 AS corrupt
    FROM orders
  )
  SELECT corrupt, count(*) AS n_rows,
         CAST(SUM(CAST(coalesce(price, 0.0) AS DECIMAL(30,6))) AS DOUBLE)
           AS total_price
  FROM lines GROUP BY corrupt
""",
    doc="PERMISSIVE-mode quarantine for malformed vendor rows: a staged "
    "CSV where every 41st row carries a non-numeric price is read with "
    "the declared schema + columnNameOfCorruptRecord; bad rows land "
    "with data columns NULL and the raw line preserved in the "
    "quarantine column for reprocessing, good rows flow through. The "
    "complement of the FAILFAST round-trips: at 100 TB you quarantine "
    "and continue, never silently drop — counts per class prove "
    "nothing is lost.",
)
def q_corrupt_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = read_parquet_table(spark, sf_dir, "orders")
    stage = _stage(sf_dir, "corrupt_orders_csv")
    claim_staged(
        stage,
        lambda tmp: orders.select(
            "o_orderkey",
            F.when(F.col("o_orderkey") % 41 == 0, F.lit("N/A"))
            .otherwise(F.col("o_totalprice").cast("string"))
            .alias("price"),
        ).write.mode("overwrite").option("header", "false").csv(tmp),
    )
    schema = T.StructType(
        [
            T.StructField("o_orderkey", T.LongType()),
            T.StructField("price", T.DoubleType()),
            T.StructField("_bad", T.StringType()),
        ]
    )
    df = (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_bad")
        .csv(stage)
    )
    return df.groupBy(F.col("_bad").isNotNull().alias("corrupt")).agg(
        F.count(F.lit(1)).alias("n_rows"),
        spark_dsum(F.coalesce("price", F.lit(0.0))).alias("total_price"),
    )
