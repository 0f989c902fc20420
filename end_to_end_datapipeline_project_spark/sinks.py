"""Sinks (reference S3, S6-S8, S10-S11 re-expressed).

Parquet tiers are written partitioned by date — identical DataFrameWriter
calls to the reference (gtfstransformerSilver.py:59-60, gtfsGold.py:136-137)
but with explicit repartitioning so each date partition lands as a sane
number of files instead of one-file-per-shuffle-task (the small-files
problem at 100 TB).

Presentation edges (pandas/plot/map) are deliberately thin: ``toPandas``
only ever sees bounded, already-aggregated data.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def write_partitioned_parquet(
    df: DataFrame,
    path: str,
    partition_cols: list[str] | None = None,
    files_per_partition: int | None = None,
    mode: str = "overwrite",
) -> None:
    """Parquet sink with date-style partitioning (reference S6/S7).

    ``files_per_partition`` repartitions by the partition columns first so a
    1000-task shuffle does not fan out into 1000 tiny files per partition.
    """
    partition_cols = partition_cols or []
    if files_per_partition and not partition_cols:
        # honor the file budget for UNPARTITIONED writes too: without
        # this, a 1000-task shuffle upstream writes 1000 small files —
        # the exact problem this knob exists to prevent
        df = df.repartition(files_per_partition)
    if files_per_partition and partition_cols:
        # repartition(N, cols) alone CANNOT split a partition: every
        # partition value hashes to one task, so file count per
        # partition collapses to 1 and the whole partition's write
        # serializes through a single task.  A deterministic row-hash
        # salt spreads each partition over files_per_partition tasks.
        salt = F.pmod(
            F.xxhash64(*df.columns), F.lit(files_per_partition)
        ).alias("__salt")
        df = (
            df.withColumn("__salt", salt)
            # explicit count: a column-only repartition is AQE-coalesced
            # back to one partition for small data, un-splitting the
            # files; the x4 headroom reduces (partition, salt) hash
            # collisions into the same task
            .repartition(
                files_per_partition * 4, *partition_cols, F.col("__salt")
            )
            .drop("__salt")
        )
    writer = df.write.mode(mode)
    if partition_cols:
        writer = writer.partitionBy(*partition_cols)
    writer.parquet(path)


def write_bronze_json(df: DataFrame, path: str, mode: str = "append") -> None:
    """Raw landing-zone sink: Hive-style year/month/day partitions
    (reference S3, gtfsdataingestor.py:57-67 — in-engine equivalent)."""
    df.write.mode(mode).partitionBy("year", "month", "day").json(path)


def to_pandas_edge(df: DataFrame, limit: int | None = None):
    """Arrow-enabled hand-off for plotting/mapping (reference S8).

    Guard: refuse unbounded collection — presentation edges must be top-k'd
    or aggregated first.
    """
    cap = 100_000 if limit is None else limit
    pdf = df.limit(cap + 1).toPandas()
    if limit is None and len(pdf) > cap:
        raise ValueError(
            "to_pandas_edge: unbounded collection refused — the frame "
            f"exceeds the {cap}-row default cap; aggregate or top-k "
            "first, or pass an explicit limit"
        )
    return pdf.iloc[:cap]


def compact_partitioned(
    spark,
    path: str,
    partition_col: str,
    target_rows_per_file: int = 1_000_000,
) -> int:
    """Small-file compaction for a partitioned parquet table: rewrite each
    partition into ceil(rows / target) files.

    Continuous/streaming writers accrete many small files per partition
    (one per micro-batch task); at 100 TB the resulting open/seek overhead
    dominates scan time.  Compaction = read, repartition by the partition
    column with a bounded file budget, dynamic-overwrite ONLY the touched
    partitions (``partitionOverwriteMode=dynamic`` leaves all others in
    place).  Returns the number of data files after compaction.
    """
    import math
    import os

    # the one inferred parquet read in the package: ``path`` is any
    # caller's table, whose schema only its footers know
    df = spark.read.parquet(path)
    data_cols = [c for c in df.columns if c != partition_col]
    # PER-PARTITION file budget, not a global one: salting by a global
    # n_files spreads EVERY partition over up to n_files salt values, so
    # the output becomes ~n_partitions x n_files small files — the
    # opposite of compaction.  Each partition gets its own
    # ceil(rows/target) budget via a broadcast join of the (tiny)
    # per-partition row counts.
    budgets = (
        df.groupBy(partition_col)
        .agg(F.count(F.lit(1)).alias("__n"))
        .select(
            partition_col,
            F.greatest(
                F.lit(1),
                F.ceil(F.col("__n") / F.lit(float(target_rows_per_file))),
            )
            .cast("int")
            .alias("__budget"),
        )
    )
    total_files = (
        budgets.agg(F.sum("__budget").alias("t")).first()["t"] or 1
    )
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        (
            # salt within each partition value, bounded by ITS budget:
            # repartition(n, col) alone maps a whole partition to one
            # task/file (see write_partitioned_parquet); the x4 task
            # headroom reduces (partition, salt) hash collisions
            df.join(F.broadcast(budgets), partition_col)
            .withColumn(
                "__salt",
                F.pmod(F.xxhash64(*data_cols), F.col("__budget")),
            )
            .repartition(
                int(math.ceil(total_files)) * 4, partition_col, "__salt"
            )
            .drop("__salt", "__budget")
            .write.mode("overwrite")
            .partitionBy(partition_col)
            .parquet(path)
        )
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(1 for f in files if f.endswith(".parquet"))
    return total
