"""Declared schemas (schema-on-read, never inference).

The reference declares its Bronze envelope schema explicitly so the JSON
parser projects away unused fields at parse time (reference
gtfstransformerSilver.py:12-22 — note it deliberately drops the raw
``Brigade`` field).  We keep that discipline for every read, JSON and
parquet alike: explicit schemas double as projection pushdown and as
documentation of the data contract, and a parquet read with a declared
schema builds its DataFrame without the footer-reading Spark job that
inference launches.  Parquet state the engine writes itself carries its
schema in the state store's manifest (``state.StateStore``).
"""

from __future__ import annotations

from pyspark.sql import types as T

# --- GTFS bus-position domain (reference parity) -------------------------

#: One vehicle-position record inside the raw API envelope.
BUS_SCHEMA = T.StructType(
    [
        T.StructField("Lines", T.StringType(), True),
        T.StructField("VehicleNumber", T.StringType(), True),
        T.StructField("Lat", T.DoubleType(), True),
        T.StructField("Lon", T.DoubleType(), True),
        T.StructField("Time", T.StringType(), True),
    ]
)

#: Raw Bronze file shape: ``{"result": [ {record}, ... ]}``.
BRONZE_SCHEMA = T.StructType(
    [T.StructField("result", T.ArrayType(BUS_SCHEMA), True)]
)

#: Silver contract (reference tests/test_silver.py:134-144).
SILVER_SCHEMA = T.StructType(
    [
        T.StructField("Lines", T.StringType(), False),
        T.StructField("VehicleNumber", T.StringType(), False),
        T.StructField("Lat", T.DoubleType(), False),
        T.StructField("Lon", T.DoubleType(), False),
        T.StructField("Time", T.TimestampType(), False),
        T.StructField("date", T.DateType(), False),
    ]
)

#: Gold per-line daily report contract (reference gtfsGold.py:94-105).
GOLD_REPORT_COLUMNS = [
    "Lines",
    "total_distance_km",
    "total_cost_pln",
    "max_segment_km",
    "data_points_count",
    "avg_speed",
    "max_recorded_speed",
    "unique_vehicles_count",
    "avg_dist_per_vehicle",
    "cost_of_1km",
]

# --- driver testdata domain (TESTDATA.md) --------------------------------

#: The ten testdata tables' DDL, exactly as footer inference reads them
#: (the timestamps are parquet ``timestamp[us]`` without a UTC flag, so
#: Spark types them ``timestamp_ntz``).  ``sources.read_parquet_table``
#: reads with these, so a table read launches no Spark job.  A declared
#: column missing from a file reads as NULLs and a file column of another
#: physical type fails the scan, so tests/test_sources_sinks.py pins these
#: against every testdata footer.
TESTDATA_SCHEMAS = {
    "region": "r_regionkey int, r_name string",
    "nation": "n_nationkey int, n_name string, n_regionkey int",
    "customer": "c_custkey bigint, c_name string, c_nationkey int, "
    "c_acctbal double, c_mktsegment string",
    "supplier": "s_suppkey bigint, s_name string, s_nationkey int, "
    "s_acctbal double",
    "part": "p_partkey bigint, p_name string, p_brand string, "
    "p_type string, p_size int, p_retailprice double",
    "orders": "o_orderkey bigint, o_custkey bigint, o_orderstatus string, "
    "o_totalprice double, o_orderdate timestamp_ntz, "
    "o_orderpriority string",
    "lineitem": "l_orderkey bigint, l_partkey bigint, l_suppkey bigint, "
    "l_linenumber int, l_quantity double, l_extendedprice double, "
    "l_discount double, l_tax double, l_returnflag string, "
    "l_linestatus string, l_shipdate timestamp_ntz",
    "events": "event_id bigint, ts timestamp_ntz, user_id bigint, "
    "event_type string, value double, props string",
    "documents": "doc_id bigint, text string, lang string, source string, "
    "n_chars bigint",
    "embeddings": "vec_id bigint, embedding array<float>, label int",
}

TESTDATA_TABLES = list(TESTDATA_SCHEMAS)

# (the multimodal asset/feature contracts live with their kernels in
# llm_ops/multimodal.py — a second copy here drifted from the real
# schema and was removed)
