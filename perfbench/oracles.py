"""Output checks, run outside the timed region.

- ``headline``: each query's rows against the registry's DuckDB oracle
  SQL, compared with ``canon``/``rowset`` from ``tools/check_oracle.py``;
- ``medallion``: the Silver and Gold partitions Spark wrote against an
  independent DuckDB evaluation of the reference cleanse, trajectory and
  report over the generated JSON;
- ``lsh_incremental``: the maintained clusters against the full-rebuild
  oracle ``MINHASH_CLUSTERS_SQL``.

Every check returns a list of problems; an empty list means correct.
"""

from __future__ import annotations

import math
import os
import sys

import duckdb

_TOOLS = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools")
sys.path.insert(0, _TOOLS)
from check_oracle import rowset  # noqa: E402

sys.path.remove(_TOOLS)

from end_to_end_datapipeline_project_spark.schemas import TESTDATA_TABLES  # noqa: E402


def corpus_connection(corpus_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{corpus_dir}/{t}.parquet'")
    return con


def _duck_rows(con, sql: str):
    tbl = con.execute(sql).arrow()
    cols = tbl.column_names
    rows = list(zip(*(tbl.column(i).to_pylist() for i in range(tbl.num_columns))))
    return cols, rows


def compare_rowsets(scols, srows, dcols, drows) -> list[str]:
    """Column names, row count and order-insensitive values."""
    if sorted(scols) != sorted(dcols):
        return [f"columns spark={sorted(scols)} duckdb={sorted(dcols)}"]
    if len(srows) != len(drows):
        return [f"rowcount spark={len(srows)} duckdb={len(drows)}"]
    s, d = rowset(scols, srows), rowset(dcols, drows)
    if s != d:
        ds, ss = set(d), set(s)
        return [
            "values differ; spark-only="
            f"{[r for r in s if r not in ds][:2]} duckdb-only={[r for r in d if r not in ss][:2]}"
        ]
    return []


def check_query(con, oracle_sql: str, scols, srows) -> list[str]:
    dcols, drows = _duck_rows(con, oracle_sql)
    return compare_rowsets(scols, srows, dcols, drows)


# --- medallion ---------------------------------------------------------------

_BRONZE_COLUMNS = (
    "{'result': 'STRUCT(\"Lines\" VARCHAR, \"VehicleNumber\" VARCHAR, "
    "\"Lat\" DOUBLE, \"Lon\" DOUBLE, \"Time\" VARCHAR)[]'}"
)


def reference_silver_sql(day_glob: str, day: str) -> str:
    """Reference cleanse (gtfstransformerSilver.py): explode, trim, cast,
    drop null rows, Warsaw box, target date, non-empty line, one row per
    (VehicleNumber, Time) with the lowest (Lines, Lat, Lon) surviving."""
    return f"""
    WITH raw AS (
      SELECT unnest(result) AS v
      FROM read_json('{day_glob}', columns = {_BRONZE_COLUMNS}, format = 'auto')
    ), typed AS (
      SELECT trim(v."Lines") AS "Lines", trim(v."VehicleNumber") AS "VehicleNumber",
             v."Lat" AS "Lat", v."Lon" AS "Lon",
             try_strptime(v."Time", '%Y-%m-%d %H:%M:%S') AS "Time"
      FROM raw
    ), kept AS (
      SELECT * FROM typed
      WHERE "Lines" IS NOT NULL AND "VehicleNumber" IS NOT NULL
        AND "Lat" IS NOT NULL AND "Lon" IS NOT NULL AND "Time" IS NOT NULL
        AND "Lat" BETWEEN 52.0 AND 52.4 AND "Lon" BETWEEN 20.5 AND 21.5
        AND CAST("Time" AS DATE) = DATE '{day}' AND "Lines" <> ''
    )
    SELECT "Lines", "VehicleNumber", "Lat", "Lon", "Time" FROM (
      SELECT *, row_number() OVER (
        PARTITION BY "VehicleNumber", "Time" ORDER BY "Lines", "Lat", "Lon") AS rn
      FROM kept)
    WHERE rn = 1
    """


def reference_gold_sql(silver_sql: str) -> str:
    """Reference trajectory + per-line report (gtfsGold.py): lag window,
    haversine, 30 l/100 km at 6.5 PLN/l, speed filter at 70 km/h."""
    a = (
        "pow(sin(radians(\"Lat\" - prev_lat) / 2), 2) + cos(radians(prev_lat)) * "
        "cos(radians(\"Lat\")) * pow(sin(radians(\"Lon\" - prev_lon) / 2), 2)"
    )
    return f"""
    WITH s AS ({silver_sql}),
    w AS (
      SELECT *, lag("Lat") OVER win AS prev_lat, lag("Lon") OVER win AS prev_lon,
             lag("Time") OVER win AS prev_time
      FROM s WINDOW win AS (PARTITION BY "VehicleNumber" ORDER BY "Time")
    ), d AS (
      SELECT *, coalesce(6371.0 * 2 * atan2(sqrt({a}), sqrt(greatest(0.0, 1 - ({a})))), 0.0)
                AS dist_km,
             epoch("Time") - epoch(prev_time) AS dt
      FROM w
    ), e AS (
      SELECT *, dist_km / 100.0 * 30.0 * 6.5 AS cost_pln,
             CASE WHEN dt > 0 THEN dist_km / dt * 3600.0 ELSE 0.0 END AS speed_kmh
      FROM d
    )
    SELECT "Lines", sum(dist_km) AS total_distance_km, sum(cost_pln) AS total_cost_pln,
           max(dist_km) AS max_segment_km, count("VehicleNumber") AS data_points_count,
           avg(speed_kmh) AS avg_speed, max(speed_kmh) AS max_recorded_speed,
           count(DISTINCT "VehicleNumber") AS unique_vehicles_count,
           sum(dist_km) / count(DISTINCT "VehicleNumber") AS avg_dist_per_vehicle,
           sum(cost_pln) / nullif(sum(dist_km), 0.0) AS cost_of_1km
    FROM e WHERE speed_kmh <= 70.0 GROUP BY "Lines"
    """


def _close(a, b) -> bool:
    if a is None or b is None:
        return a is b
    if isinstance(a, float) or isinstance(b, float):
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9)
    return a == b


def check_medallion_day(
    con, bronze_dir: str, silver_dir: str, gold_dir: str, day: str
) -> list[str]:
    y, m, d = day.split("-")
    day_glob = f"{bronze_dir}/WAW/year={y}/month={m}/day={d}/*.json"
    silver_sql = reference_silver_sql(day_glob, day)
    problems = []
    scols = ["Lines", "VehicleNumber", "Lat", "Lon", "Time"]
    _, srows = _duck_rows(
        con,
        f"SELECT {', '.join(chr(34) + c + chr(34) for c in scols)} "
        f"FROM read_parquet('{silver_dir}/date={day}/*.parquet')",
    )
    dcols, drows = _duck_rows(con, silver_sql)
    problems += [f"silver {p}" for p in compare_rowsets(scols, srows, dcols, drows)]

    gcols, grows = _duck_rows(con, f"SELECT * FROM read_parquet('{gold_dir}/date={day}/*.parquet', hive_partitioning = false)")
    rcols, rrows = _duck_rows(con, reference_gold_sql(silver_sql))
    if sorted(gcols) != sorted(rcols):
        return problems + [f"gold columns spark={sorted(gcols)} duckdb={sorted(rcols)}"]
    spark_by_line = {r[gcols.index("Lines")]: r for r in grows}
    ref_by_line = {r[rcols.index("Lines")]: r for r in rrows}
    if set(spark_by_line) != set(ref_by_line):
        return problems + [f"gold lines differ: {len(spark_by_line)} vs {len(ref_by_line)}"]
    for line, ref in ref_by_line.items():
        got = spark_by_line[line]
        for i, c in enumerate(rcols):
            if not _close(got[gcols.index(c)], ref[i]):
                return problems + [f"gold {line}.{c}: spark={got[gcols.index(c)]} duckdb={ref[i]}"]
    if not rrows:
        problems.append("gold report is empty")
    return problems


# --- lsh_incremental ----------------------------------------------------------


def check_clusters(con, scols, srows) -> list[str]:
    from end_to_end_datapipeline_project_spark.llm_ops.dedup import MINHASH_CLUSTERS_SQL

    return check_query(con, MINHASH_CLUSTERS_SQL, scols, srows)
