"""Spatial operators beyond the reference's per-trajectory haversine:
a radius self-join ("all pairs of users whose last positions are within
r km") done the scalable way.

The naive form is a cross join with a haversine predicate — O(n²) rows
shuffled, hopeless at cluster scale.  The engine's form is **grid
bucketing**: hash every point into a lat/lon cell sized so that any two
points within r km are in the same or adjacent cells, explode one side
to its 3×3 cell neighborhood, equi-join on the cell id (an ordinary
shuffle-hash join Catalyst can plan), and run the exact haversine test
only on the candidates.  Work drops from n² to Σ|cell|·9·density — the
same inverted-index trick the LSH dedup path uses, applied to geometry.

Reference parity: the haversine formula is the reference's
(gtfsGold.py:23-34); the radius-join itself is an engine extension.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .geo import WARSAW_BOX, haversine_km, haversine_sql
from .lineage import cut
from .pipeline_queries import TYPED_SQL, events_typed
from .registry import register

RADIUS_KM = 2.0
#: per-point output bound: each user_a emits at most this many partners
#: (dist asc, user_b asc).  Without it the qualifying pairs themselves
#: grow with the square of cell density (the ×10 probe's replicas land
#: on identical pseudo-coordinates), so worst-case output is K·n.
RADIUS_TOPK = 8
#: per-cell occupancy bound (standard spatial tile cap): only the first
#: CELL_CAP points of a grid cell (user_id asc) enter pair generation,
#: making worst-case candidate count 9 · CELL_CAP² · |cells| — without
#: it candidate pairs grow with the SQUARE of cell density, which no
#: radius join survives on colliding points.  Deterministic, applied
#: identically in the oracle, and far above real occupancy at test SFs.
CELL_CAP = 64
#: 1 degree latitude = pi * R / 180 km = 111.195 km for R = 6371
_DLAT = 0.018  # >= 2 km / 111.195 km/deg
#: longitude degree shrinks with cos(lat); worst case here is lat 52.4
_DLON = 0.0295  # >= 2 km / (111.195 * cos(52.4 deg)) km/deg

#: last observed position per user (deterministic: latest ts, then
#: highest event_id)
_LAST_POS_SQL = f"""
  __typed AS ({TYPED_SQL}),
  __last AS (
    SELECT user_id, lat, lon FROM (
      SELECT user_id, lat, lon, row_number() OVER (
        PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS __rn
      FROM __typed) WHERE __rn = 1
  )
"""


def last_positions(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = events_typed(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select("user_id", "lat", "lon")
    )


#: the _DLAT/_DLON cell geometry guarantees adjacent-cell coverage only
#: up to RADIUS_KM at |lat| <= this bound.  The radius side is enforced
#: loudly in radius_pairs; the latitude side is guaranteed by
#: CONSTRUCTION, not by a runtime check: every caller derives positions
#: via events_typed, whose lat expression is literally
#: 52.0 + frac(value) * 0.4 ∈ [52.0, 52.4) (pipeline_queries.py:124) —
#: the Warsaw bounding box the reference cleanse enforces.  A new caller
#: feeding higher-latitude points must widen _DLON (and the oracle's cap
#: cells) first.
_MAX_ABS_LAT = 52.4

# explicit raise (not a bare assert): this contract check is
# load-bearing and must survive `python -O` optimized bytecode
if _MAX_ABS_LAT != WARSAW_BOX["lat_max"]:
    raise AssertionError(
        "cell geometry bound must track the cleanse bounding box"
    )


def radius_pairs(points: DataFrame, radius_km: float = RADIUS_KM) -> DataFrame:
    """All (a, b) pairs with haversine(a, b) <= radius_km, a < b, via
    grid-cell candidate generation (no cross join), with a per-cell
    occupancy cap and per-point top-k emission bounding worst-case
    candidates and output.

    The cell geometry (_DLAT/_DLON) is sized for RADIUS_KM at
    |lat| <= _MAX_ABS_LAT; a larger radius would need wider cells (two
    points 2+ cells apart never meet in the 3×3 neighborhood and the
    pair would be SILENTLY dropped), and the constants are also baked
    into the registered oracle's cap window — so an out-of-coverage
    radius raises instead of under-reporting.
    """
    if radius_km > RADIUS_KM:
        raise ValueError(
            f"radius_km={radius_km} exceeds the {RADIUS_KM} km the "
            "3x3 cell geometry covers; widen _DLAT/_DLON (and the "
            "oracle's cap cells) together"
        )
    cell_y = F.floor(F.col("lat") / _DLAT).cast("long")
    cell_x = F.floor(F.col("lon") / _DLON).cast("long")
    w_cell = Window.partitionBy(cell_y, cell_x).orderBy("user_id")
    points = (
        points.withColumn("__cn", F.row_number().over(w_cell))
        .filter(F.col("__cn") <= CELL_CAP)
        .drop("__cn")
    )
    # side A explodes to its 3x3 neighborhood; side B stays in its cell,
    # so every near pair meets in exactly the B-point's cell
    neighbors = F.array(
        *[
            F.struct(
                (cell_y + dy).alias("cy"), (cell_x + dx).alias("cx")
            )
            for dy in (-1, 0, 1)
            for dx in (-1, 0, 1)
        ]
    )
    a = points.select(
        F.col("user_id").alias("user_a"),
        F.col("lat").alias("lat_a"),
        F.col("lon").alias("lon_a"),
        F.explode(neighbors).alias("cell"),
    ).select("user_a", "lat_a", "lon_a", "cell.cy", "cell.cx")
    b = points.select(
        F.col("user_id").alias("user_b"),
        F.col("lat").alias("lat_b"),
        F.col("lon").alias("lon_b"),
        cell_y.alias("cy"),
        cell_x.alias("cx"),
    )
    dist = haversine_km(
        F.col("lat_a"), F.col("lon_a"), F.col("lat_b"), F.col("lon_b")
    )
    w_k = Window.partitionBy("user_a").orderBy("dist_km", "user_b")
    return (
        a.join(b, ["cy", "cx"])
        .filter(F.col("user_a") < F.col("user_b"))
        .withColumn("dist_km", F.round(dist, 6))
        .filter(F.col("dist_km") <= radius_km)
        .withColumn("__rk", F.row_number().over(w_k))
        .filter(F.col("__rk") <= RADIUS_TOPK)
        .select("user_a", "user_b", "dist_km")
    )


@register(
    "q_radius_join",
    f"""
  WITH {_LAST_POS_SQL},
  __capped AS (
    SELECT user_id, lat, lon FROM (
      SELECT user_id, lat, lon, row_number() OVER (
        PARTITION BY CAST(floor(lat / {_DLAT}) AS BIGINT),
                     CAST(floor(lon / {_DLON}) AS BIGINT)
        ORDER BY user_id) AS __cn
      FROM __last) WHERE __cn <= {CELL_CAP}
  )
  SELECT a.user_id AS user_a, b.user_id AS user_b,
         round({haversine_sql("a.lat", "a.lon", "b.lat", "b.lon")}, 6)
           AS dist_km
  FROM __capped a JOIN __capped b ON a.user_id < b.user_id
  WHERE round({haversine_sql("a.lat", "a.lon", "b.lat", "b.lon")}, 6)
          <= {RADIUS_KM}
  QUALIFY row_number() OVER (PARTITION BY a.user_id
                             ORDER BY round({haversine_sql("a.lat", "a.lon",
                                                           "b.lat", "b.lon")},
                                            6),
                                      b.user_id) <= {RADIUS_TOPK}
""",
    doc="Spatial radius self-join via grid bucketing: cell ids sized to "
    "the radius, 3x3-neighborhood explode on one side, equi-join on "
    "cell, exact haversine only on candidates — O(n * density) instead "
    f"of the oracle's O(n^2) cross join. Two bounds make it scale-safe "
    f"on colliding points: a per-cell occupancy cap ({CELL_CAP}, "
    "user_id asc — the standard spatial tile cap, applied identically "
    f"in the oracle) bounds CANDIDATES at 9·cap²·|cells|, and top-"
    f"{RADIUS_TOPK} emission per point (dist asc, user_b asc) bounds "
    "OUTPUT at K·n. The filter and the rank compare the SAME "
    "round(dist, 6) value that is emitted, so boundary points agree "
    "between engines.",
)
def q_radius_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    return radius_pairs(last_positions(spark, sf_dir))


@register(
    "q_geo_heatmap",
    f"""
  WITH __typed AS ({TYPED_SQL})
  SELECT CAST(floor(lat / {_DLAT}) AS BIGINT) AS cell_y,
         CAST(floor(lon / {_DLON}) AS BIGINT) AS cell_x,
         count(*) AS n_pings,
         count(DISTINCT user_id) AS n_users,
         round(min(lat), 6) AS lat_min,
         round(max(lat), 6) AS lat_max
  FROM __typed
  GROUP BY 1, 2
""",
    doc="Spatial heatmap rollup: every ping hashed to its grid cell (the "
    "same cell geometry the radius join buckets with) and aggregated — "
    "counts plus distinct users per cell. A pure hash aggregate on the "
    "cell id: embarrassingly parallel, no sort, the standard "
    "density-tile pipeline for map rendering at any scale.",
)
def q_geo_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    pts = events_typed(spark, sf_dir)
    return (
        pts.groupBy(
            F.floor(F.col("lat") / _DLAT).cast("bigint").alias("cell_y"),
            F.floor(F.col("lon") / _DLON).cast("bigint").alias("cell_x"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_pings"),
            F.count_distinct("user_id").alias("n_users"),
            F.round(F.min("lat"), 6).alias("lat_min"),
            F.round(F.max("lat"), 6).alias("lat_max"),
        )
    )


# --- trajectory similarity (Hausdorff) ------------------------------------

_TRAJ_USERS = 12


@register(
    "q_trajectory_hausdorff",
    f"""
  WITH __typed AS ({TYPED_SQL}),
  __pts AS (
    SELECT user_id, lat, lon FROM __typed WHERE user_id < {_TRAJ_USERS}
  ),
  __d AS (
    SELECT a.user_id AS user_a, b.user_id AS user_b,
           a.lat AS alat, a.lon AS alon,
           min(round({haversine_sql("a.lat", "a.lon", "b.lat", "b.lon")}, 6)) AS min_d
    FROM __pts a JOIN __pts b ON a.user_id < b.user_id
    GROUP BY 1, 2, 3, 4
  ),
  __h AS (
    SELECT user_a, user_b, max(min_d) AS h_ab
    FROM __d GROUP BY 1, 2
  ),
  __d2 AS (
    SELECT a.user_id AS user_a, b.user_id AS user_b,
           b.lat AS blat, b.lon AS blon,
           min(round({haversine_sql("a.lat", "a.lon", "b.lat", "b.lon")}, 6)) AS min_d
    FROM __pts a JOIN __pts b ON a.user_id < b.user_id
    GROUP BY 1, 2, 3, 4
  ),
  __h2 AS (
    SELECT user_a, user_b, max(min_d) AS h_ba
    FROM __d2 GROUP BY 1, 2
  )
  SELECT h.user_a, h.user_b,
         round(greatest(h.h_ab, h2.h_ba), 6) AS hausdorff_km
  FROM __h h JOIN __h2 h2 USING (user_a, user_b)
""",
    doc=f"Symmetric Hausdorff distance between user GPS trajectories "
    f"(first {_TRAJ_USERS} users): H(A,B) = max(h(A→B), h(B→A)) with "
    "h(A→B) = max over a of min over b of haversine(a,b) — the "
    "trajectory-similarity primitive behind top-k trajectory search "
    "(REPOSE, ICDE'21). Each directed distance is a per-point min "
    "then per-pair max — two grouped aggregates over the pairwise "
    "block join. At 100 TB the pairwise stage is bounded by the same "
    "grid-cell blocking as q_radius_join (only near cells compared) "
    "plus reference-point pruning; this exact form is that path's "
    "correctness oracle.",
)
def q_trajectory_hausdorff(spark: SparkSession, sf_dir: str) -> DataFrame:
    pts = (
        events_typed(spark, sf_dir)
        .filter(F.col("user_id") < _TRAJ_USERS)
        .select("user_id", "lat", "lon")
    )
    a, b = pts.alias("a"), pts.alias("b")
    d = F.round(
        haversine_km(
            F.col("a.lat"), F.col("a.lon"), F.col("b.lat"), F.col("b.lon")
        ),
        6,
    )
    joined = cut(
        a.join(b, F.col("a.user_id") < F.col("b.user_id")).select(
            F.col("a.user_id").alias("user_a"),
            F.col("b.user_id").alias("user_b"),
            F.col("a.lat").alias("alat"),
            F.col("a.lon").alias("alon"),
            F.col("b.lat").alias("blat"),
            F.col("b.lon").alias("blon"),
            d.alias("dist"),
        ),
        "q_trajectory_hausdorff.joined",
        eager=False,
    )
    # both directed aggregations consume the SAME pairwise block join
    # (the dominant cost); without materialization each grouping
    # re-executes the whole O(P^2) join.  eager=False: the checkpoint
    # stores the join's rows on the first action and is shared from then
    # on; under AQE, building the frame still runs the map stages below
    # the join's exchanges (1 job at sf0.001)
    h_ab = (
        joined.groupBy("user_a", "user_b", "alat", "alon")
        .agg(F.min("dist").alias("min_d"))
        .groupBy("user_a", "user_b")
        .agg(F.max("min_d").alias("h_ab"))
    )
    h_ba = (
        joined.groupBy("user_a", "user_b", "blat", "blon")
        .agg(F.min("dist").alias("min_d"))
        .groupBy("user_a", "user_b")
        .agg(F.max("min_d").alias("h_ba"))
    )
    return h_ab.join(h_ba, ["user_a", "user_b"]).select(
        "user_a",
        "user_b",
        F.round(F.greatest("h_ab", "h_ba"), 6).alias("hausdorff_km"),
    )
