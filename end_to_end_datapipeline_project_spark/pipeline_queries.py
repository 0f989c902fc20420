"""Reference-parity queries transposed onto the driver's ``events`` table
(FIXTURES.md §4 mapping: user_id≈VehicleNumber, ts≈Time, event_type≈Lines,
value≈measure; pseudo-coordinates derived deterministically from ``value``
so the geo operators have something to chew on).

Each query is the Spark-first expression of a SURVEY.md §2 operator row,
registered together with its DuckDB oracle SQL.  The SQL is assembled from
the same fragments the Spark side mirrors, so the two cannot drift apart
silently.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .cleanse import dedup_deterministic
from .geo import haversine_km, haversine_sql, in_bounding_box
from .lineage import cut
from .registry import dsum, register, spark_dsum, spark_dsum_rounded
from .sources import read_parquet_table
from .trajectory import TrajectoryConfig, enrich

# --- shared fragments -----------------------------------------------------

#: pseudo-geo derivation: deterministic double arithmetic, identical in
#: Spark and DuckDB (multiply/subtract/floor are exact IEEE ops)
LAT_SQL = "52.0 + (value - floor(value)) * 0.4"
LON_SQL = "20.5 + (value * 7 - floor(value * 7))"

TYPED_SQL = f"""
  SELECT event_id, ts, user_id, event_type, value, props,
         {LAT_SQL} AS lat,
         {LON_SQL} AS lon,
         CAST(ts AS DATE) AS date
  FROM events
  WHERE event_id IS NOT NULL AND ts IS NOT NULL AND user_id IS NOT NULL
    AND event_type IS NOT NULL AND value IS NOT NULL AND props IS NOT NULL
"""


def _cleansed_sql(
    lat_min: float, lat_max: float, lon_min: float, lon_max: float
) -> str:
    """typed → bounding box + non-empty type → deterministic dedup."""
    return f"""
  WITH __typed AS ({TYPED_SQL}),
  __boxed AS (
    SELECT * FROM __typed
    WHERE lat BETWEEN {lat_min} AND {lat_max}
      AND lon BETWEEN {lon_min} AND {lon_max}
      AND event_type <> ''
  ),
  __dedup AS (
    SELECT * EXCLUDE (__rn) FROM (
      SELECT *, row_number() OVER (
        PARTITION BY user_id, ts ORDER BY event_id) AS __rn
      FROM __boxed) WHERE __rn = 1
  )
"""


ENRICH_SQL = f"""
  __lagged AS (
    SELECT *,
      lag(lat) OVER w AS prev_lat,
      lag(lon) OVER w AS prev_lon,
      lag(ts) OVER w AS prev_time
    FROM __src
    WINDOW w AS (PARTITION BY user_id ORDER BY ts)
  ),
  __dist AS (
    SELECT *,
      coalesce({haversine_sql("prev_lat", "prev_lon", "lat", "lon")}, 0.0)
        AS dist_km,
      CAST(floor(epoch(ts)) AS BIGINT)
        - CAST(floor(epoch(prev_time)) AS BIGINT) AS diff_time_sec
    FROM __lagged
  ),
  __metrics AS (
    SELECT *,
      dist_km / 100.0 * 30.0 AS fuel_l,
      (dist_km / 100.0 * 30.0) * 6.5 AS cost_pln,
      CASE WHEN diff_time_sec > 0
           THEN dist_km / diff_time_sec * 3600.0
           ELSE 0.0 END AS speed_kmh
    FROM __dist
  ),
  __enriched AS (
    SELECT * FROM __metrics WHERE speed_kmh <= 70.0
  )
"""

REPORT_SQL = f"""
  __report AS (
    SELECT event_type,
      {dsum("dist_km")} AS total_distance_km,
      {dsum("cost_pln")} AS total_cost_pln,
      round(max(dist_km), 6) AS max_segment_km,
      count(user_id) AS data_points_count,
      {dsum("speed_kmh")} / count(user_id) AS avg_speed,
      round(max(speed_kmh), 6) AS max_recorded_speed,
      count(DISTINCT user_id) AS unique_vehicles_count,
      {dsum("dist_km")} / count(DISTINCT user_id) AS avg_dist_per_vehicle
    FROM __enriched
    GROUP BY event_type
  ),
  __report2 AS (
    SELECT *,
      total_cost_pln / nullif(total_distance_km, 0.0) AS cost_of_1km
    FROM __report
  )
"""


# --- Spark-side shared builders ------------------------------------------

EVENTS_TRAJ = TrajectoryConfig(key="user_id", time="ts", lat="lat", lon="lon")


def events_typed(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = read_parquet_table(spark, sf_dir, "events")
    return (
        df.dropna(how="any")
        .withColumn("lat", F.lit(52.0) + (F.col("value") - F.floor("value")) * 0.4)
        .withColumn(
            "lon",
            F.lit(20.5) + (F.col("value") * 7 - F.floor(F.col("value") * 7)),
        )
        .withColumn("date", F.to_date("ts"))
    )


def events_cleansed(
    spark: SparkSession,
    sf_dir: str,
    lat_min: float = 52.0,
    lat_max: float = 52.4,
    lon_min: float = 20.5,
    lon_max: float = 21.5,
) -> DataFrame:
    df = events_typed(spark, sf_dir)
    df = df.filter(
        in_bounding_box(F.col("lat"), F.col("lon"), lat_min, lat_max, lon_min, lon_max)
    ).filter(F.col("event_type") != "")
    # cluster by user_id (prefix of the dedup key): the dedup window AND
    # the downstream lag window share one shuffle
    return dedup_deterministic(
        df, keys=["user_id", "ts"], tiebreak=["event_id"], cluster_by="user_id"
    )


def events_enriched(spark: SparkSession, sf_dir: str) -> DataFrame:
    return enrich(events_cleansed(spark, sf_dir), EVENTS_TRAJ)


def events_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decimal-exact version of reports.daily_report for oracle parity."""
    enr = events_enriched(spark, sf_dir)
    agg = enr.groupBy("event_type").agg(
        # haversine-derived doubles are off-grid → rounded variant
        # (oracle-identical per-row decimal cast, primitive-long buffers)
        spark_dsum_rounded(F.col("dist_km")).alias("total_distance_km"),
        spark_dsum_rounded(F.col("cost_pln")).alias("total_cost_pln"),
        F.round(F.max("dist_km"), 6).alias("max_segment_km"),
        F.count("user_id").alias("data_points_count"),
        (spark_dsum_rounded(F.col("speed_kmh")) / F.count("user_id")).alias(
            "avg_speed"
        ),
        F.round(F.max("speed_kmh"), 6).alias("max_recorded_speed"),
        F.count_distinct("user_id").alias("unique_vehicles_count"),
        (
            spark_dsum_rounded(F.col("dist_km")) / F.count_distinct("user_id")
        ).alias("avg_dist_per_vehicle"),
    )
    return agg.withColumn(
        "cost_of_1km",
        F.col("total_cost_pln") / F.nullif(F.col("total_distance_km"), F.lit(0.0)),
    )


# --- queries --------------------------------------------------------------


@register(
    "q_silver_cleanse",
    f"""
  {_cleansed_sql(52.05, 52.35, 20.6, 21.4)}
  SELECT event_id, user_id, event_type, ts, value,
         round(lat, 6) AS lat, round(lon, 6) AS lon
  FROM __dedup
  WHERE date = DATE '2024-01-15'
""",
    doc="Silver pipeline parity: dropna+box+date+nonempty+deterministic dedup "
    "(reference gtfstransformerSilver.py:27-56; ops P3-P6, D1, F2).",
)
def q_silver_cleanse(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = events_cleansed(spark, sf_dir, 52.05, 52.35, 20.6, 21.4)
    df = df.filter(F.col("date") == F.lit("2024-01-15").cast("date"))
    return df.select(
        "event_id",
        "user_id",
        "event_type",
        "ts",
        "value",
        F.round("lat", 6).alias("lat"),
        F.round("lon", 6).alias("lon"),
    )


@register(
    "q_dedup",
    f"""
  WITH __typed AS ({TYPED_SQL}),
  __doubled AS (
    SELECT event_id, ts, user_id, value FROM __typed
    UNION ALL
    SELECT event_id + 10000000 AS event_id, ts, user_id, value + 1.0 AS value
    FROM __typed
  )
  SELECT event_id, ts, user_id, value FROM (
    SELECT *, row_number() OVER (
      PARTITION BY user_id, ts ORDER BY event_id) AS __rn
    FROM __doubled) WHERE __rn = 1
""",
    doc="Deterministic-survivor dedup under real key collisions (reference D1 "
    "done right: row_number()=1 under a total order, not dropDuplicates).",
)
def q_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = events_typed(spark, sf_dir).select("event_id", "ts", "user_id", "value")
    doubled = base.unionAll(
        base.select(
            (F.col("event_id") + 10000000).alias("event_id"),
            "ts",
            "user_id",
            (F.col("value") + 1.0).alias("value"),
        )
    )
    return dedup_deterministic(doubled, keys=["user_id", "ts"], tiebreak=["event_id"]).select(
        "event_id", "ts", "user_id", "value"
    )


@register(
    "q_lag_enrich",
    f"""
  {_cleansed_sql(52.0, 52.4, 20.5, 21.5)},
  __src AS (SELECT * FROM __dedup),
  {ENRICH_SQL}
  SELECT event_id, user_id, event_type, ts, prev_time,
         round(dist_km, 6) AS dist_km,
         round(fuel_l, 6) AS fuel_l,
         round(cost_pln, 6) AS cost_pln,
         diff_time_sec,
         round(speed_kmh, 6) AS speed_kmh
  FROM __enriched
""",
    doc="Trajectory lag-window enrichment (reference W1-W2, F3-F7, P7: "
    "gtfsGold.py:36-85): lag×3 → haversine → fuel/cost → Δt → speed → cutoff.",
)
def q_lag_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    enr = events_enriched(spark, sf_dir)
    return enr.select(
        "event_id",
        "user_id",
        "event_type",
        "ts",
        "prev_time",
        F.round("dist_km", 6).alias("dist_km"),
        F.round("fuel_l", 6).alias("fuel_l"),
        F.round("cost_pln", 6).alias("cost_pln"),
        "diff_time_sec",
        F.round("speed_kmh", 6).alias("speed_kmh"),
    )


@register(
    "q_daily_report",
    f"""
  {_cleansed_sql(52.0, 52.4, 20.5, 21.5)},
  __src AS (SELECT * FROM __dedup),
  {ENRICH_SQL},
  {REPORT_SQL}
  SELECT * FROM __report2
""",
    doc="Per-group fleet report, 8 aggregates + nullif-guarded post-agg "
    "(reference A1-A2/O2: gtfsGold.py:89-108). Decimal-exact sums.",
)
def q_daily_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    return events_report(spark, sf_dir)


@register(
    "q_topk_report",
    f"""
  {_cleansed_sql(52.0, 52.4, 20.5, 21.5)},
  __src AS (SELECT * FROM __dedup),
  {ENRICH_SQL},
  {REPORT_SQL}
  SELECT event_type, total_cost_pln, total_distance_km FROM __report2
  ORDER BY total_cost_pln DESC, event_type LIMIT 3
""",
    doc="Top-k over the report (reference O3/O4) — TakeOrderedAndProject, "
    "never a global sort.",
)
def q_topk_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    rep = events_report(spark, sf_dir)
    return (
        rep.select("event_type", "total_cost_pln", "total_distance_km")
        .orderBy(F.desc("total_cost_pln"), F.asc("event_type"))
        .limit(3)
    )


def _drill_enrich_sql(src: str) -> str:
    """Second-level enrichment CTEs (lag → haversine → speed → cutoff,
    no fuel/cost) over an already-cleansed source — the drill-down
    oracles' shared fragment; final CTE is ``__l5``.  ONE definition so
    a cutoff/formula change cannot silently diverge from ENRICH_SQL's
    first-level chain (same expressions, reference gtfsGold.py:36-85).
    """
    return f"""
  __l2 AS (
    SELECT *,
      lag(lat) OVER w AS p_lat, lag(lon) OVER w AS p_lon,
      lag(ts) OVER w AS p_time
    FROM {src}
    WINDOW w AS (PARTITION BY user_id ORDER BY ts)
  ),
  __l3 AS (
    SELECT *,
      coalesce({haversine_sql("p_lat", "p_lon", "lat", "lon")}, 0.0) AS dist_km,
      CAST(floor(epoch(ts)) AS BIGINT)
        - CAST(floor(epoch(p_time)) AS BIGINT) AS diff_time_sec
    FROM __l2
  ),
  __l4 AS (
    SELECT *,
      CASE WHEN diff_time_sec > 0
           THEN dist_km / diff_time_sec * 3600.0
           ELSE 0.0 END AS speed_kmh
    FROM __l3
  ),
  __l5 AS (SELECT * FROM __l4 WHERE speed_kmh <= 70.0),"""


#: drill-down CTE chain shared VERBATIM by q_drilldown_top_vehicle and
#: q_route_map_path (top line by cost → that line's rows → re-enrich →
#: top vehicle by distance): one definition so the tiebreaks / cutoffs
#: can never silently desynchronize between the two oracles
_TOP_VEHICLE_SQL = f"""__src AS (SELECT * FROM __dedup),
  {ENRICH_SQL},
  {REPORT_SQL},
  __top_line AS (
    SELECT event_type FROM __report2
    ORDER BY total_cost_pln DESC, event_type LIMIT 1
  ),
  __line_src AS (
    SELECT d.* FROM __dedup d
    WHERE d.event_type IN (SELECT event_type FROM __top_line)
  ),
{_drill_enrich_sql("__line_src")}
  __per_vehicle AS (
    SELECT user_id, {dsum("dist_km")} AS total_v_dist
    FROM __l5 GROUP BY user_id
  ),
  __top_vehicle AS (
    SELECT user_id FROM __per_vehicle
    ORDER BY total_v_dist DESC, user_id LIMIT 1
  )"""


def top_vehicle_enriched(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark side of _TOP_VEHICLE_SQL: the drill-down top vehicle's
    enriched pings, shared by q_drilldown_top_vehicle and
    q_route_map_path (broadcast semi-joins, no driver .first()).

    r14 (VERDICT r13 task #5): the two top-1 broadcast subqueries and
    the final output are three jobs that each re-derived the cleansed
    subtree (executed plan showed 4 parquet scans / 12 Windows, zero
    ReusedExchange across the broadcast-job boundary) — checkpoint it
    ONCE so every job reads the materialized rows, and rank the top
    line on the ONLY report column the drill-down orders by
    (total_cost_pln, same dsum + tiebreak as the full report) instead
    of computing all eight aggregates.  Bench: 2.45 s → ~1.7 s."""
    cleansed = cut(
        events_cleansed(spark, sf_dir), "top_vehicle_enriched.cleansed"
    )
    line_costs = enrich(cleansed, EVENTS_TRAJ).groupBy("event_type").agg(
        spark_dsum_rounded(F.col("cost_pln")).alias("total_cost_pln")
    )
    top_line = (
        line_costs.orderBy(F.desc("total_cost_pln"), F.asc("event_type"))
        .limit(1)
        .select("event_type")
    )
    line_rows = cleansed.join(F.broadcast(top_line), "event_type", "left_semi")
    # r16 (VERDICT r15 task #6): checkpoint the re-enriched line rows —
    # the executed plan otherwise computes this window subtree TWICE
    # (once inside the top_vehicle broadcast subquery's job, once in
    # the main output stage; broadcast-subquery jobs share no
    # ReusedExchange with the main plan, the same pathology the r14
    # cleansed checkpoint fixed one level up).  With the checkpoint the
    # heavy passes are exactly two: enrich(cleansed) for the top-line
    # ranking and enrich(line_rows) here; the top-vehicle agg and the
    # final semi-join both read the materialized rows.
    enr = cut(enrich(line_rows, EVENTS_TRAJ), "top_vehicle_enriched.enr")
    per_vehicle = enr.groupBy("user_id").agg(
        spark_dsum(F.col("dist_km")).alias("total_v_dist")
    )
    top_vehicle = (
        per_vehicle.orderBy(F.desc("total_v_dist"), F.asc("user_id"))
        .limit(1)
        .select("user_id")
    )
    return enr.join(F.broadcast(top_vehicle), "user_id", "left_semi")


@register(
    "q_drilldown_top_vehicle",
    f"""
  {_cleansed_sql(52.0, 52.4, 20.5, 21.5)},
  {_TOP_VEHICLE_SQL}
  SELECT event_id, user_id, event_type, ts,
         round(dist_km, 6) AS dist_km, diff_time_sec,
         round(speed_kmh, 6) AS speed_kmh
  FROM __l5
  WHERE user_id IN (SELECT user_id FROM __top_vehicle)
""",
    doc="Two-level top-1 drill-down (reference P8/A3/O3: gtfsGold.py:110-134) "
    "re-expressed as broadcast semi-joins instead of driver .first() hand-offs.",
)
def q_drilldown_top_vehicle(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = top_vehicle_enriched(spark, sf_dir)
    return out.select(
        "event_id",
        "user_id",
        "event_type",
        "ts",
        F.round("dist_km", 6).alias("dist_km"),
        "diff_time_sec",
        F.round("speed_kmh", 6).alias("speed_kmh"),
    )


@register(
    "q_chart_top10_costs",
    f"""
  {_cleansed_sql(52.0, 52.4, 20.5, 21.5)},
  __src AS (SELECT * FROM __dedup),
  {ENRICH_SQL},
  {REPORT_SQL},
  __top10 AS (
    SELECT event_type, total_cost_pln FROM __report2
    ORDER BY total_cost_pln DESC, event_type LIMIT 10
  )
  SELECT row_number() OVER (ORDER BY total_cost_pln ASC, event_type DESC)
           AS bar_pos,
         event_type AS line,
         total_cost_pln
  FROM __top10
""",
    doc="Chart-data contract for the S11 matplotlib top-10 bar chart "
    "(reference main.py:86-98): the EXACT frame the chart consumes — "
    "top-10 lines by total fuel cost, re-ranked ascending for display "
    "(the reference's sort_values(ascending=True)). bar_pos is the "
    "bar's x position; matplotlib/seaborn are absent in this container "
    "so the contract, not the pixels, is the testable surface. "
    "Top-10 via TakeOrderedAndProject; the display re-rank windows "
    "over 10 rows only.",
)
def q_chart_top10_costs(spark: SparkSession, sf_dir: str) -> DataFrame:
    rep = events_report(spark, sf_dir)
    top10 = (
        rep.select("event_type", "total_cost_pln")
        .orderBy(F.desc("total_cost_pln"), F.asc("event_type"))
        .limit(10)
    )
    w = Window.orderBy(F.asc("total_cost_pln"), F.desc("event_type"))
    return top10.select(
        F.row_number().over(w).alias("bar_pos"),
        F.col("event_type").alias("line"),
        "total_cost_pln",
    )


@register(
    "q_route_map_path",
    f"""
  {_cleansed_sql(52.0, 52.4, 20.5, 21.5)},
  {_TOP_VEHICLE_SQL},
  __pts AS (
    SELECT ts, event_id, lat, lon FROM __l5
    WHERE user_id IN (SELECT user_id FROM __top_vehicle)
  ),
  __path AS (
    SELECT *,
      row_number() OVER (ORDER BY ts, event_id) AS seq,
      count(*) OVER () AS n_pts,
      CAST(SUM(CAST(lat AS DECIMAL(30,6))) OVER () AS DOUBLE)
        / count(*) OVER () AS c_lat,
      CAST(SUM(CAST(lon AS DECIMAL(30,6))) OVER () AS DOUBLE)
        / count(*) OVER () AS c_lon
    FROM __pts
  )
  SELECT seq,
         round(lat, 6) AS lat,
         round(lon, 6) AS lon,
         CASE WHEN seq = 1 THEN 1 ELSE 0 END AS is_start,
         CASE WHEN seq = n_pts THEN 1 ELSE 0 END AS is_end,
         round(c_lat, 6) AS center_lat,
         round(c_lon, 6) AS center_lon
  FROM __path
""",
    doc="Map-data contract for the S10 folium route map (reference "
    "mapping.py:9-37): the ordered (lat, lon) PolyLine path of the "
    "drill-down top vehicle, start/end marker flags, and the "
    "mean-center the map centers on — everything path_map() consumes, "
    "testable without folium. Path order is (ts, event_id); the seq "
    "window runs over one vehicle's handful of points, and the center "
    "is a decimal-exact mean so Spark and DuckDB agree bit-for-bit.",
)
def q_route_map_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    pts = top_vehicle_enriched(spark, sf_dir).select(
        "ts", "event_id", "lat", "lon"
    )
    w_all = Window.partitionBy()
    pathed = pts.select(
        "lat",
        "lon",
        F.row_number().over(Window.orderBy("ts", "event_id")).alias("seq"),
        F.count(F.lit(1)).over(w_all).alias("n_pts"),
        (
            F.sum(F.col("lat").cast("decimal(30,6)")).over(w_all)
            .cast("double")
            / F.count(F.lit(1)).over(w_all)
        ).alias("c_lat"),
        (
            F.sum(F.col("lon").cast("decimal(30,6)")).over(w_all)
            .cast("double")
            / F.count(F.lit(1)).over(w_all)
        ).alias("c_lon"),
    )
    return pathed.select(
        "seq",
        F.round("lat", 6).alias("lat"),
        F.round("lon", 6).alias("lon"),
        F.when(F.col("seq") == 1, 1).otherwise(0).alias("is_start"),
        F.when(F.col("seq") == F.col("n_pts"), 1).otherwise(0).alias("is_end"),
        F.round("c_lat", 6).alias("center_lat"),
        F.round("c_lon", 6).alias("center_lon"),
    )


@register(
    "q_haversine",
    f"""
  WITH __typed AS ({TYPED_SQL})
  SELECT event_id,
         round({haversine_sql("52.2297", "21.0122", "lat", "lon")}, 6)
           AS dist_from_centrum_km
  FROM __typed
""",
    doc="Haversine as a pure Column expression (reference F3: gtfsGold.py:23-34) "
    "— stays in whole-stage codegen, no UDF.",
)
def q_haversine(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = events_typed(spark, sf_dir)
    return df.select(
        "event_id",
        F.round(
            haversine_km(F.lit(52.2297), F.lit(21.0122), F.col("lat"), F.col("lon")),
            6,
        ).alias("dist_from_centrum_km"),
    )


@register(
    "q_dq_null_probe",
    """
  SELECT count(*) AS total_rows,
         CAST(sum(CASE WHEN event_type IS NULL OR user_id IS NULL
                       THEN 1 ELSE 0 END) AS BIGINT) AS null_key_rows
  FROM events
""",
    doc="Data-quality null probe (reference P9/A4: gtfsGold.py:17-21).",
)
def q_dq_null_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = read_parquet_table(spark, sf_dir, "events")
    return df.agg(
        F.count(F.lit(1)).alias("total_rows"),
        F.sum(
            F.when(
                F.col("event_type").isNull() | F.col("user_id").isNull(), 1
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("null_key_rows"),
    )


@register(
    "q_json_extract",
    """
  SELECT event_id, CAST(json_extract_string(props, '$.k') AS INTEGER) AS prop_k
  FROM events
""",
    doc="JSON field extraction from the props payload column (engine surface "
    "beyond the reference; schema-on-read analog of its declared-schema parse).",
)
def q_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = read_parquet_table(spark, sf_dir, "events")
    return df.select(
        "event_id",
        F.get_json_object("props", "$.k").cast("int").alias("prop_k"),
    )


@register(
    "q_sessionize",
    """
  WITH __lagged AS (
    SELECT user_id, ts, event_id,
           lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev_ts
    FROM events
  ),
  __flag AS (
    SELECT *,
      CASE WHEN prev_ts IS NULL
             OR CAST(floor(epoch(ts)) AS BIGINT)
                - CAST(floor(epoch(prev_ts)) AS BIGINT) > 3600
           THEN 1 ELSE 0 END AS new_session
    FROM __lagged
  ),
  __sess AS (
    SELECT *,
      CAST(sum(new_session) OVER (
        PARTITION BY user_id ORDER BY ts
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        AS session_id
    FROM __flag
  )
  SELECT user_id, session_id,
         count(*) AS n_events,
         min(ts) AS session_start,
         max(ts) AS session_end
  FROM __sess
  GROUP BY user_id, session_id
""",
    doc="Gap-based sessionization (lag + cumulative-sum session ids) — the "
    "batch equivalent of a session window; extension beyond the reference.",
)
def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = read_parquet_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts")
    flagged = (
        df.select("user_id", "ts", "event_id")
        .withColumn("prev_ts", F.lag("ts").over(w))
        .withColumn(
            "new_session",
            F.when(
                F.col("prev_ts").isNull()
                | (
                    (F.unix_timestamp("ts") - F.unix_timestamp("prev_ts")) > 3600
                ),
                1,
            ).otherwise(0),
        )
    )
    sess = flagged.withColumn(
        "session_id",
        F.sum("new_session").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return sess.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
    )


# --- declarative data-quality expectation suite ---------------------------


@register(
    "q_dq_expectations",
    """
  SELECT 'orders_pk_unique' AS rule,
         count(*) AS n_checked,
         count(*) - count(DISTINCT o_orderkey) AS n_violations
  FROM orders
  UNION ALL
  SELECT 'orders_totalprice_nonneg', count(*),
         CAST(sum(CASE WHEN o_totalprice < 0 THEN 1 ELSE 0 END) AS BIGINT)
  FROM orders
  UNION ALL
  SELECT 'orders_status_domain', count(*),
         CAST(sum(CASE WHEN o_orderstatus NOT IN ('O', 'F', 'P')
                  THEN 1 ELSE 0 END) AS BIGINT)
  FROM orders
  UNION ALL
  SELECT 'lineitem_qty_range', count(*),
         CAST(sum(CASE WHEN l_quantity < 1 OR l_quantity > 50
                  THEN 1 ELSE 0 END) AS BIGINT)
  FROM lineitem
  UNION ALL
  SELECT 'lineitem_discount_cap', count(*),
         CAST(sum(CASE WHEN l_discount > 0.08 THEN 1 ELSE 0 END) AS BIGINT)
  FROM lineitem
  UNION ALL
  SELECT 'lineitem_fk_orders', count(*),
         CAST(sum(CASE WHEN NOT EXISTS (SELECT 1 FROM orders o
                                   WHERE o.o_orderkey = l.l_orderkey)
                  THEN 1 ELSE 0 END) AS BIGINT)
  FROM lineitem l
""",
    doc="Declarative DQ expectation suite (generalizes the reference's "
    "single null probe, gtfsGold.py:17-21): uniqueness, domain, range, "
    "and referential-integrity rules evaluated as ONE conditional "
    "aggregate per table scan (not one scan per rule, which is what "
    "kills expectation suites at 100 TB) plus one left-anti join for "
    "the FK rule. The oracle desugars to per-rule scalar scans.",
)
def q_dq_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = read_parquet_table(spark, sf_dir, "orders")
    li = read_parquet_table(spark, sf_dir, "lineitem")
    viol = lambda c: F.sum(F.when(c, F.lit(1)).otherwise(F.lit(0)))
    o_rules = orders.agg(
        F.count(F.lit(1)).alias("n"),
        (F.count(F.lit(1)) - F.count_distinct("o_orderkey")).alias("v_pk"),
        viol(F.col("o_totalprice") < 0).alias("v_price"),
        viol(~F.col("o_orderstatus").isin("O", "F", "P")).alias("v_status"),
    ).selectExpr(
        "stack(3, 'orders_pk_unique', n, v_pk, "
        "'orders_totalprice_nonneg', n, v_price, "
        "'orders_status_domain', n, v_status) AS (rule, n_checked, n_violations)"
    )
    l_rules = li.agg(
        F.count(F.lit(1)).alias("n"),
        viol((F.col("l_quantity") < 1) | (F.col("l_quantity") > 50)).alias(
            "v_qty"
        ),
        viol(F.col("l_discount") > 0.08).alias("v_disc"),
    ).selectExpr(
        "stack(2, 'lineitem_qty_range', n, v_qty, "
        "'lineitem_discount_cap', n, v_disc) AS (rule, n_checked, n_violations)"
    )
    n_li = li.agg(F.count(F.lit(1)).alias("n_checked"))
    orphans = (
        li.join(orders.select("o_orderkey"),
                li.l_orderkey == F.col("o_orderkey"), "left_anti")
        .agg(F.count(F.lit(1)).alias("n_violations"))
    )
    fk_rule = (
        n_li.crossJoin(orphans)
        .select(
            F.lit("lineitem_fk_orders").alias("rule"),
            "n_checked",
            "n_violations",
        )
    )
    return o_rules.unionAll(l_rules).unionAll(fk_rule)


# --- sweep-line interval concurrency --------------------------------------


@register(
    "q_concurrency",
    """
  WITH pts AS (
    SELECT ts AS t, 1 AS delta FROM events
    UNION ALL
    SELECT ts + INTERVAL 5 MINUTE AS t, -1 AS delta FROM events
  ),
  swept AS (
    SELECT CAST(t AS DATE) AS day,
           CAST(sum(delta) OVER (ORDER BY t, delta
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS BIGINT) AS conc
    FROM pts
  )
  SELECT day, max(conc) AS max_concurrent
  FROM swept
  GROUP BY day
""",
    doc="Sweep-line interval concurrency: each event opens a 5-minute "
    "activity interval; +1/-1 boundary points, running sum = number of "
    "concurrently active intervals, max per day. The oracle uses one "
    "global ordered window; the engine computes it scalably in two "
    "passes — per-day running sums (shuffle on day) plus a prefix sum "
    "of per-day nets over the tiny day table, broadcast back — so no "
    "single-partition sort ever touches the full data. Tie order "
    "(t, delta) closes intervals before opening new ones at the same "
    "instant.",
)
def q_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_parquet_table(spark, sf_dir, "events")
    # explode-of-array, not UNION ALL: pts feeds BOTH the running-sum
    # and the day-net branches, and a union recomputes its two scans per
    # consumer (4 full event scans); the explode emits both boundary
    # points from ONE scan pass
    pts = (
        ev.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col("ts").alias("t"), F.lit(1).alias("delta")
                    ),
                    F.struct(
                        (F.col("ts") + F.expr("INTERVAL 5 MINUTES")).alias(
                            "t"
                        ),
                        F.lit(-1).alias("delta"),
                    ),
                )
            ).alias("p")
        )
        .select("p.t", "p.delta")
        .withColumn("day", F.to_date("t"))
    )
    w_in = (
        Window.partitionBy("day")
        .orderBy("t", "delta")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    run_in = pts.withColumn("run", F.sum("delta").over(w_in))
    day_net = pts.groupBy("day").agg(F.sum("delta").alias("net"))
    w_days = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, -1
    )  # ~30 day rows: single-partition window over the reduced table only
    carry = day_net.select(
        "day", F.coalesce(F.sum("net").over(w_days), F.lit(0)).alias("carry")
    )
    return (
        run_in.join(F.broadcast(carry), "day")
        .withColumn("conc", F.col("run") + F.col("carry"))
        .groupBy("day")
        .agg(F.max("conc").alias("max_concurrent"))
    )


# --- signup -> purchase conversion lag ------------------------------------


@register(
    "q_conversion_lag",
    """
  WITH su AS (
    SELECT user_id, min(ts) AS signup_ts
    FROM events WHERE event_type = 'signup' GROUP BY user_id
  ),
  pu AS (
    SELECT e.user_id, min(e.ts) AS first_purchase
    FROM events e JOIN su ON su.user_id = e.user_id
    WHERE e.event_type = 'purchase' AND e.ts >= su.signup_ts
    GROUP BY e.user_id
  )
  SELECT CAST(floor((CAST(floor(epoch(p.first_purchase)) AS BIGINT)
               - CAST(floor(epoch(s.signup_ts)) AS BIGINT)) / 3600.0)
              AS BIGINT) AS lag_hours,
         count(*) AS n_users
  FROM pu p JOIN su s ON s.user_id = p.user_id
  GROUP BY 1
""",
    doc="Signup->first-purchase conversion-lag distribution: two "
    "event-type-pruned min-aggregates (both shuffle on user_id, so AQE "
    "coalesces them into one exchange reuse), joined on user_id, "
    "bucketed into hours. The time-to-convert histogram every growth "
    "dashboard needs, with no self-join over raw events.",
)
def q_conversion_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_parquet_table(spark, sf_dir, "events")
    su = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("signup_ts"))
    )
    pu = (
        ev.filter(F.col("event_type") == "purchase")
        .join(su, "user_id")
        .filter(F.col("ts") >= F.col("signup_ts"))
        .groupBy("user_id")
        .agg(
            F.min("ts").alias("first_purchase"),
            F.min("signup_ts").alias("signup_ts"),
        )
    )
    lag_secs = F.unix_timestamp("first_purchase") - F.unix_timestamp(
        "signup_ts"
    )
    return (
        pu.select(
            F.floor(lag_secs / 3600.0).cast("bigint").alias("lag_hours")
        )
        .groupBy("lag_hours")
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


@register(
    "q_table_diff",
    """
  WITH base AS (
    SELECT o_orderkey,
           md5(concat_ws('|',
             CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS VARCHAR),
             o_orderstatus)) AS fp
    FROM orders WHERE o_orderkey % 89 <> 0
  ),
  curr AS (
    SELECT o_orderkey,
           md5(concat_ws('|',
             CAST(CAST(round(o_totalprice * 100) AS BIGINT)
                  + CASE WHEN o_orderkey % 97 = 0 THEN 10 ELSE 0 END
               AS VARCHAR),
             o_orderstatus)) AS fp
    FROM orders WHERE o_orderkey % 83 <> 0
  )
  SELECT CASE WHEN b.fp IS NULL THEN 'added'
              WHEN c.fp IS NULL THEN 'removed'
              WHEN b.fp <> c.fp THEN 'changed'
              ELSE 'unchanged' END AS status,
         count(*) AS n_rows
  FROM base b FULL OUTER JOIN curr c ON b.o_orderkey = c.o_orderkey
  GROUP BY 1
""",
    doc="Snapshot reconciliation (anti-entropy table diff): two versions "
    "of the orders table — simulated here as deterministic "
    "modular-arithmetic edits (÷89 rows absent from base ⇒ added, ÷83 "
    "absent from current ⇒ removed, ÷97 price-bumped ⇒ changed) — are "
    "reduced map-side to (key, md5 fingerprint of the payload), full "
    "outer joined on the key, and classified. Only 8-byte keys + "
    "16-byte digests ever shuffle, never the wide payload, so "
    "reconciling two 100 TB snapshots moves ~24 bytes/row; prices are "
    "fingerprinted as integer cents so both engines hash identical "
    "strings.",
)
def q_table_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = read_parquet_table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    base = orders.filter("o_orderkey % 89 <> 0").select(
        "o_orderkey",
        F.md5(F.concat_ws("|", cents, F.col("o_orderstatus"))).alias("bfp"),
    )
    curr = orders.filter("o_orderkey % 83 <> 0").select(
        "o_orderkey",
        F.md5(
            F.concat_ws(
                "|",
                cents
                + F.when(F.col("o_orderkey") % 97 == 0, F.lit(10)).otherwise(
                    F.lit(0)
                ),
                F.col("o_orderstatus"),
            )
        ).alias("cfp"),
    )
    joined = base.join(curr, "o_orderkey", "full_outer")
    status = (
        F.when(F.col("bfp").isNull(), "added")
        .when(F.col("cfp").isNull(), "removed")
        .when(F.col("bfp") != F.col("cfp"), "changed")
        .otherwise("unchanged")
    )
    return (
        joined.select(status.alias("status"))
        .groupBy("status")
        .agg(F.count(F.lit(1)).alias("n_rows"))
    )


@register(
    "q_event_transitions",
    """
  WITH seq AS (
    SELECT user_id, event_type,
           lag(event_type) OVER (
             PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
    FROM events
  ),
  cnt AS (
    SELECT prev_type AS from_event, event_type AS to_event,
           count(*) AS n_transitions
    FROM seq WHERE prev_type IS NOT NULL
    GROUP BY 1, 2
  )
  SELECT from_event, to_event, n_transitions,
         round(CAST(n_transitions AS DOUBLE)
               / sum(n_transitions) OVER (PARTITION BY from_event), 6) AS p
  FROM cnt
""",
    doc="First-order Markov transition matrix over per-user event "
    "sequences: lag window (deterministic (ts, event_id) order) gives "
    "each event its predecessor, pair counts hash-aggregate, and a "
    "window over the tiny |event_types|² matrix row-normalizes into "
    "probabilities. Two shuffles total — one user-keyed sort window "
    "over the facts, one k²-row agg; the normalization never touches "
    "the fact table.",
)
def q_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_parquet_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    cnt = (
        ev.withColumn("prev_type", F.lag("event_type").over(w))
        .filter(F.col("prev_type").isNotNull())
        .groupBy(
            F.col("prev_type").alias("from_event"),
            F.col("event_type").alias("to_event"),
        )
        .agg(F.count(F.lit(1)).alias("n_transitions"))
    )
    row_total = Window.partitionBy("from_event")
    return cnt.select(
        "from_event",
        "to_event",
        "n_transitions",
        F.round(
            F.col("n_transitions").cast("double")
            / F.sum("n_transitions").over(row_total),
            6,
        ).alias("p"),
    )


# --- stay-point detection (trajectory stop clusters) ----------------------

_STAY_SPEED_KMH = 5.0
_STAY_MIN_PINGS = 3


def flag_islands(
    df: DataFrame, key: str, order: str, flag, island_col: str = "island_seq"
) -> DataFrame:
    """Gaps-and-islands: number each maximal run of flag=true rows.

    Adds ``flag`` (boolean) and ``island_col`` (cumulative count of run
    STARTS — a row where the flag is true and the previous row's is
    not).  Rows where the flag is false carry the preceding island's
    number and are meant to be filtered out by the caller.  Both
    windows share one (key, order) sort+shuffle, and any downstream
    (key, island) aggregate reuses the same hash partitioning — the
    whole stays/trips tier costs a single exchange (plan-asserted).
    """
    w = Window.partitionBy(key).orderBy(order)
    flagged = df.withColumn("__flag", flag).withColumn(
        "__starts",
        F.when(
            F.col("__flag")
            & F.coalesce(~F.lag("__flag").over(w), F.lit(True)),
            F.lit(1),
        ).otherwise(F.lit(0)),
    )
    return (
        flagged.withColumn(
            island_col,
            F.sum("__starts").over(
                w.rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
        .withColumnRenamed("__flag", "flag")
        .drop("__starts")
    )


@register(
    "q_stay_points",
    f"""
  {_cleansed_sql(52.0, 52.4, 20.5, 21.5)},
  __src AS (SELECT * FROM __dedup),
  {ENRICH_SQL},
  __flagged AS (
    SELECT user_id, ts, lat, lon,
           (speed_kmh < {_STAY_SPEED_KMH}) AS slow,
           CASE WHEN (speed_kmh < {_STAY_SPEED_KMH}) AND coalesce(
                  NOT (lag(speed_kmh) OVER w < {_STAY_SPEED_KMH}), TRUE)
                THEN 1 ELSE 0 END AS starts
    FROM __enriched
    WINDOW w AS (PARTITION BY user_id ORDER BY ts)
  ),
  __islands AS (
    SELECT user_id, ts, lat, lon, slow,
           CAST(sum(starts) OVER (
             PARTITION BY user_id ORDER BY ts
             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS stay_seq
    FROM __flagged
  )
  SELECT user_id, stay_seq,
         CAST(count(*) AS BIGINT) AS n_pings,
         CAST(floor(epoch(max(ts))) AS BIGINT)
           - CAST(floor(epoch(min(ts))) AS BIGINT) AS dwell_sec,
         round({dsum("lat")} / count(*), 6) AS centroid_lat,
         round({dsum("lon")} / count(*), 6) AS centroid_lon
  FROM __islands
  WHERE slow
  GROUP BY user_id, stay_seq
  HAVING count(*) >= {_STAY_MIN_PINGS}
""",
    doc=f"Stay-point detection on the enriched trajectory (the classic "
    "GPS stop-cluster op the reference's bus domain implies but never "
    f"ships): runs of consecutive pings slower than {_STAY_SPEED_KMH} "
    f"km/h lasting >= {_STAY_MIN_PINGS} pings become stays with dwell "
    "time and a decimal-exact centroid.  Gaps-and-islands via a "
    "cumulative run-start sum — two windows over the SAME (user_id, ts) "
    "ordering as the lag enrichment, so Catalyst reuses one sort+"
    "shuffle for the whole chain; the stay aggregate shuffles only "
    "(user, stay) groups.  At 100 TB: identical plan per vehicle-day "
    "partition, no cross-key state.",
)
def q_stay_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    enr = events_enriched(spark, sf_dir).select(
        "user_id", "ts", "lat", "lon", "speed_kmh"
    )
    islands = flag_islands(
        enr, "user_id", "ts", F.col("speed_kmh") < _STAY_SPEED_KMH, "stay_seq"
    )
    return (
        islands.filter("flag")
        .groupBy("user_id", "stay_seq")
        .agg(
            F.count(F.lit(1)).alias("n_pings"),
            (
                F.unix_timestamp(F.max("ts")) - F.unix_timestamp(F.min("ts"))
            ).alias("dwell_sec"),
            F.round(
                spark_dsum(F.col("lat")) / F.count(F.lit(1)), 6
            ).alias("centroid_lat"),
            F.round(
                spark_dsum(F.col("lon")) / F.count(F.lit(1)), 6
            ).alias("centroid_lon"),
        )
        .filter(F.col("n_pings") >= _STAY_MIN_PINGS)
    )


@register(
    "q_trip_segments",
    f"""
  {_cleansed_sql(52.0, 52.4, 20.5, 21.5)},
  __src AS (SELECT * FROM __dedup),
  {ENRICH_SQL},
  __flagged AS (
    SELECT user_id, ts, dist_km, speed_kmh,
           (speed_kmh >= {_STAY_SPEED_KMH}) AS moving,
           CASE WHEN (speed_kmh >= {_STAY_SPEED_KMH}) AND coalesce(
                  NOT (lag(speed_kmh) OVER w >= {_STAY_SPEED_KMH}), TRUE)
                THEN 1 ELSE 0 END AS starts
    FROM __enriched
    WINDOW w AS (PARTITION BY user_id ORDER BY ts)
  ),
  __islands AS (
    SELECT user_id, ts, dist_km, speed_kmh, moving,
           CAST(sum(starts) OVER (
             PARTITION BY user_id ORDER BY ts
             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS trip_seq
    FROM __flagged
  )
  SELECT user_id, trip_seq,
         CAST(count(*) AS BIGINT) AS n_pings,
         CAST(floor(epoch(max(ts))) AS BIGINT)
           - CAST(floor(epoch(min(ts))) AS BIGINT) AS duration_sec,
         round({dsum("round(dist_km, 6)")}, 6) AS trip_km,
         {dsum("round(speed_kmh, 6)")} / count(*) AS avg_speed_kmh
  FROM __islands
  WHERE moving
  GROUP BY user_id, trip_seq
  HAVING count(*) >= 2
""",
    doc="Trip segmentation — the complement of q_stay_points: maximal "
    f"runs of pings at >= {_STAY_SPEED_KMH} km/h become trips with "
    "distance, duration, and average speed.  Same gaps-and-islands "
    "template, same single (user_id, ts) sort+shuffle reused by both "
    "windows and the trip aggregate.  Stays + trips partition every "
    "vehicle's day into the two states a fleet dashboard reports.",
)
def q_trip_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    enr = events_enriched(spark, sf_dir).select(
        "user_id", "ts", "dist_km", "speed_kmh"
    )
    islands = flag_islands(
        enr, "user_id", "ts", F.col("speed_kmh") >= _STAY_SPEED_KMH, "trip_seq"
    )
    return (
        islands.filter("flag")
        .groupBy("user_id", "trip_seq")
        .agg(
            F.count(F.lit(1)).alias("n_pings"),
            (
                F.unix_timestamp(F.max("ts")) - F.unix_timestamp(F.min("ts"))
            ).alias("duration_sec"),
            # round each row at 6 BEFORE the decimal sum: trig-derived
            # doubles differ across engines in the last ulps, and the
            # per-row 6-decimal values are the cross-engine-stable ones
            # (same contract q_lag_enrich's outputs rely on)
            F.round(spark_dsum(F.round("dist_km", 6)), 6).alias("trip_km"),
            # NO final round on the average: the decimal sum and count
            # are bit-identical across engines, so the double quotient
            # is too — but a 6-decimal round can land on an exact
            # half-way value (e.g. 8.1637005) where Spark's
            # string-based HALF_UP and DuckDB's binary rounding
            # disagree.  Emitting the raw quotient is exact.
            (
                spark_dsum(F.round("speed_kmh", 6)) / F.count(F.lit(1))
            ).alias("avg_speed_kmh"),
        )
        .filter(F.col("n_pings") >= 2)
    )


# --- geofence entry/exit transitions --------------------------------------

_FENCE = (52.15, 52.25, 20.9, 21.1)  # inner box: lat_min, lat_max, lon_min, lon_max


@register(
    "q_geofence_transitions",
    f"""
  {_cleansed_sql(52.0, 52.4, 20.5, 21.5)},
  __inout AS (
    SELECT user_id, ts, lat, lon,
           (lat BETWEEN {_FENCE[0]} AND {_FENCE[1]}
            AND lon BETWEEN {_FENCE[2]} AND {_FENCE[3]}) AS inside,
           lag((lat BETWEEN {_FENCE[0]} AND {_FENCE[1]}
                AND lon BETWEEN {_FENCE[2]} AND {_FENCE[3]})) OVER (
             PARTITION BY user_id ORDER BY ts) AS prev_inside
    FROM __dedup
  )
  SELECT user_id, ts,
         CASE WHEN inside THEN 'enter' ELSE 'exit' END AS transition,
         round(lat, 6) AS lat, round(lon, 6) AS lon
  FROM __inout
  WHERE prev_inside IS NOT NULL AND inside <> prev_inside
""",
    doc="Geofence entry/exit detection: each vehicle's in/out state for "
    f"an inner box {_FENCE} is compared with its previous ping (lag over "
    "the same (user_id, ts) window the whole trajectory tier shares) and "
    "only state CHANGES are emitted.  The push-notification primitive of "
    "every fleet/delivery product; at 100 TB the box predicate is "
    "scan-stage codegen and the single shuffle is the per-vehicle "
    "window sort.",
)
def q_geofence_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    cl = events_cleansed(spark, sf_dir)
    inside = F.col("lat").between(_FENCE[0], _FENCE[1]) & F.col(
        "lon"
    ).between(_FENCE[2], _FENCE[3])
    w = Window.partitionBy("user_id").orderBy("ts")
    inout = cl.select(
        "user_id",
        "ts",
        "lat",
        "lon",
        inside.alias("inside"),
        F.lag(inside).over(w).alias("prev_inside"),
    )
    return inout.filter(
        F.col("prev_inside").isNotNull()
        & (F.col("inside") != F.col("prev_inside"))
    ).select(
        "user_id",
        "ts",
        F.when(F.col("inside"), "enter").otherwise("exit").alias("transition"),
        F.round("lat", 6).alias("lat"),
        F.round("lon", 6).alias("lon"),
    )
