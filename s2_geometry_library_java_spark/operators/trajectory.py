"""Per-entity trajectory statistics over an event stream.

The geospatial twin of sessionization: order each user's events in time,
geotag them deterministically (`FIXTURES.md` geotag derivation — the
synthetic stand-in for a real lat/lng column), measure consecutive-step
haversine distances, and roll them up per user.  This is the S2 analog of
the reference's polyline length/interpolation measures
(`S2Polyline.java:103-135`) lifted to a DataFrame of many polylines —
each user's ordered event sequence IS a polyline.

Scale notes (the 100-TB plan):
- ONE shuffle: the lag window and the final groupBy share the
  ``user_id`` hash partitioning, so Catalyst plans a single Exchange.
- Step distances aggregate as fixed-point BIGINT nano-radians: integer
  sums are associative, so the result is bit-identical regardless of
  partial-aggregation order (a double SUM would drift in the last bits
  between engines/partitionings).
- Per-user work is linear in that user's event count; a hot user is one
  window partition — bounded in practice by per-entity retention, and
  sessionized upstream (`q_event_sessions`) when it isn't.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from s2_geometry_library_java_spark.functions.native import (
    GEOTAG_LAT_SQL,
    GEOTAG_LNG_SQL,
    col_ref,
    geotag_lat_sql,
    geotag_lng_sql,
    haversine_sql,
)
from s2_geometry_library_java_spark.kernel import metrics

# A "long step" is one longer than the level-LONG_STEP_LEVEL max cell edge
# (S2Projections metric constants, S2Projections.java:150-170) — the scale
# at which consecutive events can no longer share that cell.  Level 0
# (~0.85 rad) splits uniformly-random geotag steps roughly 17/83.
LONG_STEP_LEVEL = 0


def long_step_threshold_rad() -> float:
    """Max cell-edge angle (radians) at LONG_STEP_LEVEL — the long-step cutoff."""
    return metrics.MAX_EDGE.get_value(LONG_STEP_LEVEL)


def trajectory_stats(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    key_col: str = "event_id",
) -> DataFrame:
    """Per-user path rollup: event count, total/max step distance
    (BIGINT nano-radians), and the count of level-LONG_STEP_LEVEL long
    steps.

    GEOTAG KEY DOMAIN: ``key_col`` feeds the synthetic geotag hash, so
    |key| must stay below ~3.47e9 (see s2_geotag_lat); real deployments
    replace the two geotag expressions with their lat/lng columns.
    """
    key = col_ref(key_col)
    lat, lng = F.expr(geotag_lat_sql(key)), F.expr(geotag_lng_sql(key))
    pts = events.select(F.col(user_col), F.col(ts_col), F.col(key_col), lat.alias("lat"), lng.alias("lng"))
    w = Window.partitionBy(user_col).orderBy(ts_col, key_col)
    lagged = pts.select(
        F.col(user_col), "lat", "lng", F.lag("lat").over(w).alias("plat"), F.lag("lng").over(w).alias("plng")
    )
    step = F.expr(haversine_sql("plat", "plng", "lat", "lng"))
    thresh = long_step_threshold_rad()
    stepped = lagged.select(
        F.col(user_col),
        F.round(step * F.lit(1e9)).cast("bigint").alias("step_nrad"),
        (step > F.lit(thresh)).cast("int").alias("is_long"),
    )
    return stepped.groupBy(user_col).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.coalesce(F.sum("step_nrad"), F.lit(0)).alias("total_nrad"),
        F.coalesce(F.max("step_nrad"), F.lit(0)).alias("max_nrad"),
        F.coalesce(F.sum("is_long"), F.lit(0)).cast("bigint").alias("n_long_steps"),
    )


def trajectory_stats_sql(
    user_col: str = "user_id",
    ts_col: str = "ts",
    key_col: str = "event_id",
    table: str = "events",
) -> str:
    """DuckDB twin of :func:`trajectory_stats` — identical expression trees
    (shared geotag/haversine SQL text), identical fixed-point aggregation."""
    step = haversine_sql("plat", "plng", "lat", "lng")
    thresh = repr(long_step_threshold_rad())
    return f"""
WITH pts AS (
  SELECT {user_col},
         {GEOTAG_LAT_SQL.format(key=key_col)} AS lat,
         {GEOTAG_LNG_SQL.format(key=key_col)} AS lng,
         {ts_col} AS ts, {key_col} AS k
  FROM {table}
), lagged AS (
  SELECT {user_col}, lat, lng,
         lag(lat) OVER w AS plat, lag(lng) OVER w AS plng
  FROM pts
  WINDOW w AS (PARTITION BY {user_col} ORDER BY ts, k)
), steps AS (
  SELECT {user_col},
         CASE WHEN plat IS NULL THEN NULL
              ELSE CAST(round({step} * 1e9) AS BIGINT) END AS step_nrad,
         CASE WHEN plat IS NULL THEN NULL
              WHEN {step} > {thresh} THEN 1 ELSE 0 END AS is_long
  FROM lagged
)
SELECT {user_col},
       count(*) AS n_events,
       CAST(coalesce(sum(step_nrad), 0) AS BIGINT) AS total_nrad,
       coalesce(max(step_nrad), 0) AS max_nrad,
       CAST(coalesce(sum(is_long), 0) AS BIGINT) AS n_long_steps
FROM steps GROUP BY {user_col}
"""
