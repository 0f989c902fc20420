"""Bronze JSON reader with partition pruning + partitioned parquet sinks."""

import json
import os

from pyspark.sql import functions as F

from end_to_end_datapipeline_project_spark.sinks import write_partitioned_parquet
from end_to_end_datapipeline_project_spark.sources import read_bronze


def write_snapshot(base, year, month, day, name, records):
    d = f"{base}/year={year}/month={month:02d}/day={day:02d}"
    os.makedirs(d, exist_ok=True)
    with open(f"{d}/{name}.json", "w") as f:
        json.dump({"result": records}, f)


def rec(veh, time, brigade="1"):
    # includes the extra Brigade field the declared schema must project away
    return {
        "Lines": "180",
        "VehicleNumber": veh,
        "Lat": 52.2,
        "Lon": 21.0,
        "Time": time,
        "Brigade": brigade,
    }


def test_read_bronze_partition_pruning(spark, tmp_path):
    base = str(tmp_path / "bronze")
    write_snapshot(base, 2026, 2, 23, "a", [rec("1000", "2026-02-23 12:00:00")])
    write_snapshot(base, 2026, 2, 22, "b", [rec("2000", "2026-02-22 12:00:00")])

    all_days = read_bronze(spark, base)
    assert all_days.select(F.explode("result")).count() == 2

    one_day = read_bronze(spark, base, year=2026, month=2, day=23)
    vehicles = [
        r.v.VehicleNumber
        for r in one_day.select(F.explode("result").alias("v")).collect()
    ]
    assert vehicles == ["1000"]

    # the partition filter must prune at the scan, not post-filter
    plan = one_day._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan

    # declared schema projects Brigade away at parse time
    assert "Brigade" not in one_day.select(F.explode("result").alias("v")).select(
        "v.*"
    ).columns


def test_partitioned_parquet_roundtrip(spark, tmp_path):
    df = spark.createDataFrame(
        [("a", "2026-02-23", 1.0), ("b", "2026-02-24", 2.0)],
        "k string, date string, v double",
    ).withColumn("date", F.to_date("date"))
    out = str(tmp_path / "silver")
    write_partitioned_parquet(df, out, ["date"], files_per_partition=1)
    back = spark.read.parquet(out)
    assert back.count() == 2
    assert set(back.columns) == {"k", "v", "date"}
    # partition dirs exist → date-partition pruning is available downstream
    assert any(p.startswith("date=") for p in os.listdir(out))


def test_observe_drop_rate_single_pass(spark):
    """observe(): exact drop-rate telemetry with ZERO extra passes (vs the
    reference's double count() re-executing the cleanse, SURVEY §4)."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from end_to_end_datapipeline_project_spark.cleanse import (
        bronze_to_silver_from_exploded,
        explode_envelope,
    )
    from tests.conftest import make_bronze_df

    raw = make_bronze_df(
        spark,
        [
            ("180", "1000", 52.2, 21.0, "2026-02-23 12:00:00"),
            ("180", "1000", 52.2, 21.0, "2026-02-23 12:00:00"),  # dup
            ("181", "1001", 50.06, 19.94, "2026-02-23 12:00:00"),  # Kraków
        ],
    )
    obs_in, obs_out = Observation("in"), Observation("out")
    exploded = explode_envelope(raw).observe(obs_in, F.count(F.lit(1)).alias("n"))
    silver = bronze_to_silver_from_exploded(exploded, "2026-02-23").observe(
        obs_out, F.count(F.lit(1)).alias("n")
    )
    kept = silver.count()  # ONE action drives both metrics
    assert kept == 1
    assert obs_in.get["n"] == 3
    assert obs_out.get["n"] == 1


def test_compaction_reduces_files_and_preserves_rows(spark, tmp_path):
    from pyspark.sql import functions as F

    from end_to_end_datapipeline_project_spark.sinks import compact_partitioned

    path = str(tmp_path / "t")
    df = spark.range(10000).select(
        F.col("id"), (F.col("id") % 3).alias("p")
    )
    # simulate micro-batch accretion: 8 writes → many files per partition
    for _ in range(8):
        df.repartition(4).write.mode("append").partitionBy("p").parquet(path)
    import os

    before = sum(
        1 for _, _, fs in os.walk(path) for f in fs if f.endswith(".parquet")
    )
    after = compact_partitioned(spark, path, "p", target_rows_per_file=100_000)
    assert after < before
    assert after <= 3 * 2  # ≈ one file per partition
    back = spark.read.parquet(path)
    assert back.count() == 80000
    assert back.groupBy().agg(F.sum("id")).collect()[0][0] == 8 * sum(range(10000))


def test_dynamic_partition_overwrite_touches_only_written_partitions(
    spark, tmp_path
):
    from pyspark.sql import functions as F

    path = str(tmp_path / "t2")
    base = spark.createDataFrame(
        [(1, "a"), (2, "b")], "id long, p string"
    )
    base.write.partitionBy("p").parquet(path)
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        spark.createDataFrame([(99, "b")], "id long, p string").write.mode(
            "overwrite"
        ).partitionBy("p").parquet(path)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
    got = {(r.id, r.p) for r in spark.read.parquet(path).collect()}
    # partition a untouched; partition b replaced
    assert got == {(1, "a"), (99, "b")}


def test_csv_failfast_aborts_on_malformed_rows(spark, tmp_path):
    """Schema-declared FAILFAST CSV: a malformed vendor row aborts the job
    instead of silently nulling columns (the 100 TB ingest rule)."""
    import pytest
    from py4j.protocol import Py4JJavaError
    from end_to_end_datapipeline_project_spark.formats import (
        ORDERS_CSV_SCHEMA,
        read_csv,
    )

    p = tmp_path / "bad_csv"
    p.mkdir()
    (p / "part-0.csv").write_text(
        "o_orderkey|o_custkey|o_orderstatus|o_totalprice|o_orderpriority\n"
        "1|10|O|123.45|1-URGENT\n"
        "2|11|F|not_a_number|2-HIGH\n"
    )
    with pytest.raises(Py4JJavaError):
        read_csv(spark, str(p), ORDERS_CSV_SCHEMA).collect()


def test_jsonl_roundtrip_preserves_text_exactly(spark, tmp_path):
    """JSON escaping round-trips control chars, quotes, unicode, tabs."""
    from end_to_end_datapipeline_project_spark.formats import (
        DOCS_JSONL_SCHEMA,
        read_jsonl,
        write_jsonl,
    )

    texts = ['with "quotes" and \\backslash', "tab\there\nnewline", "café ☕ 中文"]
    df = spark.createDataFrame(
        [(i, t, "en", "unit", len(t)) for i, t in enumerate(texts)],
        DOCS_JSONL_SCHEMA,
    )
    path = str(tmp_path / "docs_jsonl")
    write_jsonl(df, path)
    back = {r.doc_id: r.text for r in read_jsonl(spark, path, DOCS_JSONL_SCHEMA).collect()}
    assert back == {i: t for i, t in enumerate(texts)}


def test_xml_roundtrip_escapes_markup_exactly(spark, tmp_path):
    """Native XML datasource round-trips entity-hostile text (&, <, >,
    quotes, unicode) losslessly through escape/unescape."""
    from end_to_end_datapipeline_project_spark.formats import DOCS_XML_SCHEMA

    texts = [
        "a & b < c > d",
        'attr "quoted" & <tag>nested</tag>',
        "café ☕ 中文",
        "  padded with spaces  ",  # default reader TRIMS these silently
    ]
    df = spark.createDataFrame(
        [(i, t, "en", len(t)) for i, t in enumerate(texts)],
        DOCS_XML_SCHEMA,
    )
    path = str(tmp_path / "docs_xml")
    df.write.mode("overwrite").option("rowTag", "doc").format("xml").save(path)
    back = {
        r.doc_id: r.text
        for r in spark.read.schema(DOCS_XML_SCHEMA)
        .option("rowTag", "doc")
        .option("ignoreSurroundingSpaces", "false")
        .option("mode", "FAILFAST")
        .format("xml")
        .load(path)
        .collect()
    }
    assert back == {i: t for i, t in enumerate(texts)}


def test_schema_evolution_null_fills_old_generation(spark, sf_dir):
    import pyspark.sql.functions as F

    from end_to_end_datapipeline_project_spark.formats import q_schema_evolution
    from end_to_end_datapipeline_project_spark.sources import read_parquet_table

    rows = {r.priority: r.n_orders for r in q_schema_evolution(spark, sf_dir).collect()}
    orders = read_parquet_table(spark, sf_dir, "orders")
    assert rows["__pre_evolution__"] == orders.filter("o_orderkey % 2 = 0").count()
    assert sum(rows.values()) == orders.count()


def test_corrupt_records_quarantined_not_dropped(spark, sf_dir):
    from end_to_end_datapipeline_project_spark.formats import q_corrupt_records
    from end_to_end_datapipeline_project_spark.sources import read_parquet_table

    rows = {r.corrupt: r for r in q_corrupt_records(spark, sf_dir).collect()}
    orders = read_parquet_table(spark, sf_dir, "orders")
    n_bad = orders.filter("o_orderkey % 41 = 0").count()
    assert rows[True].n_rows == n_bad
    assert rows[True].total_price == 0.0
    assert rows[False].n_rows == orders.count() - n_bad


def test_files_per_partition_actually_splits(spark, tmp_path):
    """The salt must spread one partition value over multiple files —
    repartition(N, partition_col) alone collapses to 1 file/partition."""
    import glob

    from end_to_end_datapipeline_project_spark.sinks import (
        write_partitioned_parquet,
    )

    df = spark.range(10_000).withColumn("part", F.lit("only"))
    out = str(tmp_path / "salted")
    write_partitioned_parquet(
        df, out, partition_cols=["part"], files_per_partition=4
    )
    files = glob.glob(f"{out}/part=only/*.parquet")
    assert 2 <= len(files) <= 4
    assert spark.read.parquet(out).count() == 10_000


def test_compaction_budget_is_per_partition(spark, tmp_path):
    """The file budget must be computed PER PARTITION: a global budget
    of ceil(total/target) salts every partition over every salt value,
    emitting ~n_partitions x n_files small files instead of compacting."""
    import os

    from pyspark.sql import functions as F

    from end_to_end_datapipeline_project_spark.sinks import compact_partitioned

    path = str(tmp_path / "t3")
    # 6 partitions x 3000 rows, target 2000 -> budget 2 files/partition
    df = spark.range(18000).select(F.col("id"), (F.col("id") % 6).alias("p"))
    for _ in range(5):
        df.repartition(8).write.mode("append").partitionBy("p").parquet(path)
    after = compact_partitioned(spark, path, "p", target_rows_per_file=2000)
    # per-partition budget: ceil(15000/2000)=8 files per partition, 48
    # total (the old global budget ceil(90000/2000)=45 salts per
    # partition would emit up to 6*45=270 files)
    assert after <= 6 * 8
    per_part = {}
    for root, _dirs, files in os.walk(path):
        n = sum(1 for f in files if f.endswith(".parquet"))
        if n:
            per_part[os.path.basename(root)] = n
    assert len(per_part) == 6
    assert all(n <= 8 for n in per_part.values()), per_part
    back = spark.read.parquet(path)
    assert back.count() == 90000


def test_claim_staged_stale_sweep_respects_nested_mtime(tmp_path):
    """A pid-dead .build dir whose only RECENT activity is deep inside
    nested subdirs (Spark's _temporary/...) must NOT be swept: the
    staleness age comes from the max tree mtime, not the top-level dir
    (whose mtime only moves when direct entries change)."""
    import os
    import time

    from end_to_end_datapipeline_project_spark.sources import claim_staged

    final = str(tmp_path / "stage")
    # forge an orphan from a dead pid with OLD top-level but FRESH
    # nested-file mtimes
    orphan = final + ".build.999999999_0"
    nested = os.path.join(orphan, "_temporary", "task_0")
    os.makedirs(nested)
    now = time.time()
    os.utime(os.path.join(nested), (now, now))  # live builder writing
    os.utime(orphan, (now - 3600, now - 3600))  # stale-looking top level

    built = []
    claim_staged(final, lambda tmp: (os.makedirs(tmp, exist_ok=True),
                                     built.append(tmp)))
    assert os.path.isdir(orphan), "live nested build swept by mtime gate"
    assert os.path.isdir(final)

    # same orphan with the WHOLE tree old -> swept (pid 999999999 is dead)
    import shutil

    shutil.rmtree(final)
    old = now - 3600
    for p in (orphan, os.path.join(orphan, "_temporary"), nested):
        os.utime(p, (old, old))
    claim_staged(final, lambda tmp: os.makedirs(tmp, exist_ok=True))
    assert not os.path.isdir(orphan), "dead+old orphan should be swept"


# --- declared testdata schemas: drift guards and zero-job reads ----------


def _testdata_dirs(sf_dir):
    from pathlib import Path

    corpus = Path(__file__).resolve().parents[1] / "perfbench" / "corpus"
    return [corpus] + sorted(Path(sf_dir).parent.glob("sf*"))


def test_testdata_schemas_match_every_footer(spark, sf_dir):
    """A declared column missing from a file reads as NULLs, silently —
    so the declared DDL must equal what footer inference gives, table by
    table, on the benchmark corpus and on every testdata scale present."""
    from pyspark.sql import types as T

    from end_to_end_datapipeline_project_spark.schemas import TESTDATA_SCHEMAS

    checked = 0
    for d in _testdata_dirs(sf_dir):
        for name, ddl in TESTDATA_SCHEMAS.items():
            inferred = spark.read.parquet(f"{d}/{name}.parquet").schema
            assert T.StructType.fromDDL(ddl) == inferred, (d, name)
            checked += 1
    assert checked >= 2 * len(TESTDATA_SCHEMAS)


def test_nanos_events_file_fails_the_declared_read(spark, tmp_path):
    """An events file whose ts is TIMESTAMP(NANOS) must fail the scan
    with a type mismatch, not read as some other value."""
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq
    import pytest

    from end_to_end_datapipeline_project_spark.sources import read_parquet_table

    when = datetime.datetime(2024, 1, 1, 12)
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array([1], pa.int64()),
                "ts": pa.array([when], pa.timestamp("ns")),
                "user_id": pa.array([7], pa.int64()),
                "event_type": pa.array(["click"]),
                "value": pa.array([1.5]),
                "props": pa.array(["{}"]),
            }
        ),
        str(tmp_path / "events.parquet"),
        version="2.6",
    )
    assert pq.read_schema(tmp_path / "events.parquet").field("ts").type == pa.timestamp("ns")
    with pytest.raises(Exception, match="PARQUET_COLUMN_DATA_TYPE_MISMATCH"):
        read_parquet_table(spark, str(tmp_path), "events").collect()


def test_read_parquet_table_launches_no_job(spark, sf_dir):
    """Building each testdata table's DataFrame runs no Spark job; the
    inferred read of the same file runs at least one (the footer job),
    which shows the count sees such jobs."""
    from conftest import jobs_launched

    from end_to_end_datapipeline_project_spark.schemas import TESTDATA_TABLES
    from end_to_end_datapipeline_project_spark.sources import read_parquet_table

    for name in TESTDATA_TABLES:
        assert jobs_launched(
            spark, lambda: read_parquet_table(spark, sf_dir, name)
        ) == 0, name
    inferred = jobs_launched(
        spark, lambda: spark.read.parquet(f"{sf_dir}/orders.parquet")
    )
    assert inferred >= 1


def _parquet_reads_without_schema(source: str) -> list:
    """Enclosing function of every parquet read chain (``.read`` or
    ``.readStream`` ... ``.parquet(`` / ``.format("parquet")`` ...
    ``.load(``) that declares no ``.schema(...)``."""
    import ast

    found = []

    def chain(call):
        """(method names, format args) along a call's receiver chain."""
        names, formats = [], []
        node = call.func.value
        while True:
            if isinstance(node, ast.Call):
                if isinstance(node.func, ast.Attribute) and node.func.attr == "format":
                    formats += [a.value for a in node.args if isinstance(a, ast.Constant)]
                node = node.func
            elif isinstance(node, ast.Attribute):
                names.append(node.attr)
                node = node.value
            else:
                return names, formats

    def visit(node, fn):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            fn = node.name
        if isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute):
            names, formats = chain(node)
            is_read = {"read", "readStream"} & set(names)
            is_parquet = node.func.attr == "parquet" or (
                node.func.attr == "load" and "parquet" in formats
            )
            if is_read and is_parquet and "schema" not in names:
                found.append(fn)
        for child in ast.iter_child_nodes(node):
            visit(child, fn)

    visit(ast.parse(source), "<module>")
    return found


def test_no_unlisted_inferred_parquet_reads():
    """Source-level tripwire: every parquet read in the package declares
    its schema, so none launches a footer-inference job."""
    from pathlib import Path

    # the detector itself: these must be found, the declared ones not
    assert _parquet_reads_without_schema(
        "def f(s):\n s.read.parquet(p)\n"
        " s.read.option('k', 1).parquet(p)\n"
        " s.readStream.format('parquet').load(p)\n"
        " s.read.schema(x).parquet(p)\n"
        " df.write.parquet(p)\n"
    ) == ["f", "f", "f"]

    pkg = Path(__file__).resolve().parents[1] / (
        "end_to_end_datapipeline_project_spark"
    )
    sites = []
    for py in sorted(pkg.rglob("*.py")):
        sites += [f"{py.name}:{fn}" for fn in _parquet_reads_without_schema(py.read_text())]
    allowed = {
        # compacts a table at any caller-given path: only its footers
        # know its schema
        "sinks.py:compact_partitioned",
    }
    assert set(sites) <= allowed and len(sites) == len(allowed), (
        f"parquet reads without a declared schema: {sites} — pass the "
        "writer's schema (or schemas.TESTDATA_SCHEMAS) to "
        "spark.read.schema(...)"
    )
