"""Per-group bounding caps: the distributed `S2Cap` aggregate.

For every group (user, device, tile...), compute a spherical cap that
contains all of the group's points: axis = the normalized vector sum of
the points (the S2 centroid direction), radius = the maximum angle from
that axis.  This is `S2Cap.addPoint` (`S2Cap.java:200-215`) /
`getCapBound` lifted to a DataFrame of many point sets — with one
deliberate semantic change, documented here: `addPoint` grows the cap
incrementally, so its result depends on insertion order; a distributed
aggregate must be order-INDEPENDENT, so the axis is the centroid
direction instead.  The centroid-axis cap still contains every point
(radius is measured back to each point exactly) and is at most 2x the
optimal angular radius — the standard bound for center-of-mass covers.

Determinism at scale (why this hashes identically on any cluster):
- The only order-sensitive step, summing the per-point unit vectors, is
  done in fixed-point BIGINT nano-units — integer addition is
  associative, so any partial-aggregation tree yields the same axis.
- Everything after (normalize, per-point atan2(|p x axis|, p . axis),
  max) is a deterministic per-row function of that axis; the max is
  order-free.
- Angles use atan2(cross, dot), never acos — stable near 0 and pi
  (kernel.predicates discipline, `S1Angle.java:80-84`).

Plan shape: ONE Exchange — the axis windows and the final groupBy share
the group-key hash partitioning (the trajectory_stats discipline,
`operators/trajectory.py`).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from s2_geometry_library_java_spark.functions.native import (
    GEOTAG_LAT_SQL,
    GEOTAG_LNG_SQL,
    col_ref,
    geotag_lat_sql,
    geotag_lng_sql,
    xyz_sql,
)

_R2D = repr(180.0 / math.pi)  # exact repr round-trip, shared with the SQL twin


def bounding_caps(
    events: DataFrame,
    group_col: str = "user_id",
    key_col: str = "event_id",
) -> DataFrame:
    """(group, n_points, axis_lat_ndeg, axis_lng_ndeg, radius_nrad):
    the centroid-axis bounding cap per group.  Axis in nano-degrees,
    radius in nano-radians (fixed-point BIGINT throughout).

    The EMITTED fixed-point cap is a guaranteed cover: the radius is
    rounded UP (ceil) and padded by 1 nrad, which dominates the
    worst-case axis displacement from nano-degree quantization
    (0.5e-9 deg per coordinate -> sqrt(2) * 8.73e-12 rad ~ 0.013 nrad),
    so a consumer reconstructing the cap from (axis_*_ndeg, radius_nrad)
    contains every input point — not only the internal double cap.

    ``key_col`` feeds the synthetic geotag hash (full 64-bit domain);
    real deployments replace the two geotag expressions with their
    lat/lng columns.
    """
    key = col_ref(key_col)
    x, y, z = (F.expr(e) for e in xyz_sql(geotag_lat_sql(key), geotag_lng_sql(key)))
    pts = events.select(
        F.col(group_col),
        x.alias("x"),
        y.alias("y"),
        z.alias("z"),
        F.round(x * F.lit(1e9)).cast("bigint").alias("xi"),
        F.round(y * F.lit(1e9)).cast("bigint").alias("yi"),
        F.round(z * F.lit(1e9)).cast("bigint").alias("zi"),
    )
    w = Window.partitionBy(group_col)
    sx = F.sum("xi").over(w).cast("double")
    sy = F.sum("yi").over(w).cast("double")
    sz = F.sum("zi").over(w).cast("double")
    norm = F.sqrt(sx * sx + sy * sy + sz * sz)
    # degenerate axis (antipodal cancellation): fall back to +z, like the
    # reference's full-cap escape (S2Cap.java:200-204 empty/full handling)
    ax = F.when(norm > 0, sx / norm).otherwise(F.lit(0.0))
    ay = F.when(norm > 0, sy / norm).otherwise(F.lit(0.0))
    az = F.when(norm > 0, sz / norm).otherwise(F.lit(1.0))
    cx = F.col("y") * az - F.col("z") * ay
    cy = F.col("z") * ax - F.col("x") * az
    cz = F.col("x") * ay - F.col("y") * ax
    dot = F.col("x") * ax + F.col("y") * ay + F.col("z") * az
    angle = F.atan2(F.sqrt(cx * cx + cy * cy + cz * cz), dot)
    r2d = F.lit(float(_R2D))
    staged = pts.select(
        F.col(group_col),
        (F.atan2(az, F.sqrt(ax * ax + ay * ay)) * r2d).alias("axis_lat"),
        (F.atan2(ay, ax) * r2d).alias("axis_lng"),
        angle.alias("angle"),
    )
    return staged.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("n_points"),
        F.round(F.max("axis_lat") * F.lit(1e9)).cast("bigint").alias("axis_lat_ndeg"),
        F.round(F.max("axis_lng") * F.lit(1e9)).cast("bigint").alias("axis_lng_ndeg"),
        # ceil + 1 nrad: the emitted fixed-point cap must COVER (see docstring)
        (F.ceil(F.max("angle") * F.lit(1e9)).cast("bigint") + F.lit(1)).alias(
            "radius_nrad"
        ),
    )


def bounding_caps_sql(
    group_col: str = "user_id",
    key_col: str = "event_id",
    table: str = "events",
) -> str:
    """DuckDB twin of :func:`bounding_caps` — identical expression trees
    (shared geotag/xyz SQL text), identical fixed-point staging."""
    lat = GEOTAG_LAT_SQL.format(key=key_col)
    lng = GEOTAG_LNG_SQL.format(key=key_col)
    xs, ys, zs = xyz_sql("lat", "lng")
    return f"""
WITH pts AS (
  SELECT {group_col}, lat, lng,
         {xs} AS x, {ys} AS y, {zs} AS z,
         CAST(round({xs} * 1e9) AS BIGINT) AS xi,
         CAST(round({ys} * 1e9) AS BIGINT) AS yi,
         CAST(round({zs} * 1e9) AS BIGINT) AS zi
  FROM (SELECT {group_col}, {lat} AS lat, {lng} AS lng FROM {table})
), axed AS (
  SELECT {group_col}, x, y, z,
         CAST(sum(xi) OVER w AS DOUBLE) AS sx,
         CAST(sum(yi) OVER w AS DOUBLE) AS sy,
         CAST(sum(zi) OVER w AS DOUBLE) AS sz
  FROM pts
  WINDOW w AS (PARTITION BY {group_col})
), axis AS (
  SELECT {group_col}, x, y, z,
         CASE WHEN nrm > 0 THEN sx / nrm ELSE 0.0 END AS ax,
         CASE WHEN nrm > 0 THEN sy / nrm ELSE 0.0 END AS ay,
         CASE WHEN nrm > 0 THEN sz / nrm ELSE 1.0 END AS az
  FROM (SELECT *, sqrt(sx*sx + sy*sy + sz*sz) AS nrm FROM axed)
), staged AS (
  SELECT {group_col},
         atan2(az, sqrt(ax*ax + ay*ay)) * {_R2D} AS axis_lat,
         atan2(ay, ax) * {_R2D} AS axis_lng,
         atan2(sqrt((y*az - z*ay)*(y*az - z*ay)
                  + (z*ax - x*az)*(z*ax - x*az)
                  + (x*ay - y*ax)*(x*ay - y*ax)),
               x*ax + y*ay + z*az) AS angle
  FROM axis
)
SELECT {group_col},
       count(*) AS n_points,
       CAST(round(max(axis_lat) * 1e9) AS BIGINT) AS axis_lat_ndeg,
       CAST(round(max(axis_lng) * 1e9) AS BIGINT) AS axis_lng_ndeg,
       CAST(ceil(max(angle) * 1e9) AS BIGINT) + 1 AS radius_nrad
FROM staged GROUP BY {group_col}
"""
