"""Polygon-layer wrappers: region object + SQL membership predicate.

Each layer carries its geometry twice:

1. the driver-side region object (geometry/*) used by the coverer and, for
   loop/polygon layers, the vectorized parity refinement kernel
   (S2Loop.java:624-654);
2. where the membership test is interval/trig arithmetic (rect and cap),
   one SQL text, ``Layer.sql_predicate``, parsed by Spark (``F.expr``, so
   refinement never leaves WholeStageCodegen) and by the driver's DuckDB
   oracle, which states ground truth independently of any S2 machinery.

The predicate semantics mirror the reference exactly:
- rect: closed lat/lng intervals, inverted lng interval wraps through ±180
  (S2LatLngRect.contains(S2LatLng) -> R1/S1Interval.contains,
   S2LatLngRect.java:331-335, S1Interval.java:147-162)
- cap: squared chord distance ``|axis - p|^2 <= 2h``
  (S2Cap.contains(S2Point), S2Cap.java:384-388)
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field
from typing import Any

import numpy as np

from s2_geometry_library_java_spark.functions.native import xyz_sql
from s2_geometry_library_java_spark.geometry import S2Cap, S2LatLngRect, S2Polygon
from s2_geometry_library_java_spark.geometry.text_format import make_loop, make_polygon
from s2_geometry_library_java_spark.kernel import cellid as ck


@dataclass
class Layer:
    polygon_id: str
    region: Any
    kind: str  # rect | cap | loop | polygon
    params: dict = field(default_factory=dict)

    # ------------------------------------------------------------------
    @property
    def native(self) -> bool:
        """Refined in the JVM by ``sql_predicate`` (rect, cap), else by the parity kernel."""
        return self.kind in ("rect", "cap")

    def sql_predicate(self, lat: str, lng: str) -> str | None:
        """SQL text of the membership predicate, read alike by Spark
        (``F.expr``) and DuckDB; ``lat``/``lng`` are column references in
        degrees.  rect/cap: interval / chord arithmetic, the engine's refine
        formula.  loop/polygon layers whose loops are all CONVEX get, for
        the oracles only, an exact edge-plane sign test (interior of a
        convex CCW spherical polygon = positive side of every edge's
        great-circle plane), XOR-combined across loops exactly like
        S2Polygon.contains (S2Polygon.java:913-928).  Non-convex loops
        return None (parity is not a conjunction of signs)."""
        if self.kind in ("loop", "polygon"):
            loop_preds = []
            for li in range(self.region.num_loops()):
                loop = self.region.loop(li)
                pred = _convex_loop_sql(loop, lat, lng)
                if pred is None:
                    return None
                loop_preds.append(pred)
            if not loop_preds:
                return None
            out = loop_preds[0]
            for p in loop_preds[1:]:
                out = f"({out} <> {p})"  # boolean XOR
            return out
        if self.kind == "rect":
            p = self.params
            lat_ok = f"({lat} >= {p['lat_lo']!r} AND {lat} <= {p['lat_hi']!r})"
            if p["lng_lo"] <= p["lng_hi"]:
                lng_ok = f"({lng} >= {p['lng_lo']!r} AND {lng} <= {p['lng_hi']!r})"
            else:  # inverted interval wraps through +-180 (S1Interval.java:147)
                lng_ok = f"({lng} >= {p['lng_lo']!r} OR {lng} <= {p['lng_hi']!r})"
            return f"({lat_ok} AND {lng_ok})"
        if self.kind == "cap":
            ax, ay, az = self.params["axis"]
            xs, ys, zs = xyz_sql(lat, lng)
            dist2 = (
                f"(({xs} - {ax!r}) * ({xs} - {ax!r}) + ({ys} - {ay!r}) * ({ys} - {ay!r})"
                f" + ({zs} - {az!r}) * ({zs} - {az!r}))"
            )
            return f"({dist2} <= {2.0 * self.params['height']!r})"
        return None

    # ------------------------------------------------------------------
    def contains_points(self, lat_deg: np.ndarray, lng_deg: np.ndarray) -> np.ndarray:
        """Vectorized membership (the tests' NumPy reference); the same
        formulas as sql_predicate for rect/cap, parity kernel for loops."""
        if self.kind == "rect":
            p = self.params
            lat_ok = (lat_deg >= p["lat_lo"]) & (lat_deg <= p["lat_hi"])
            if p["lng_lo"] <= p["lng_hi"]:
                lng_ok = (lng_deg >= p["lng_lo"]) & (lng_deg <= p["lng_hi"])
            else:
                lng_ok = (lng_deg >= p["lng_lo"]) | (lng_deg <= p["lng_hi"])
            return lat_ok & lng_ok
        xyz = ck.latlng_degrees_to_xyz(lat_deg, lng_deg)
        if self.kind == "cap":
            d = xyz - self.region.axis[None, :]
            return np.sum(d * d, axis=1) <= 2.0 * self.region.height
        return self.region.contains_points(xyz)


def _convex_loop_sql(loop, lat: str, lng: str) -> str | None:
    """Sign-test SQL for a convex CCW loop, or None if non-convex."""
    v = loop.vertices
    n = v.shape[0]
    # convex iff every corner turns CCW
    from s2_geometry_library_java_spark.kernel import predicates as _pr

    for i in range(n):
        if _pr.robust_ccw(v[i - 1], v[i], v[(i + 1) % n]) <= 0:
            return None
    xs, ys, zs = xyz_sql(lat, lng)
    terms = []
    for i in range(n):
        nx, ny, nz = np.cross(v[i], v[(i + 1) % n])
        terms.append(f"(({nx!r}) * {xs} + ({ny!r}) * {ys} + ({nz!r}) * {zs} > 0.0)")
    return "(" + " AND ".join(terms) + ")"


def rect_layer(polygon_id: str, lat_lo: float, lng_lo: float, lat_hi: float, lng_hi: float) -> Layer:
    region = S2LatLngRect.from_degrees(lat_lo, lng_lo, lat_hi, lng_hi)
    return Layer(
        polygon_id,
        region,
        "rect",
        {"lat_lo": float(lat_lo), "lng_lo": float(lng_lo), "lat_hi": float(lat_hi), "lng_hi": float(lng_hi)},
    )


def cap_layer(polygon_id: str, lat_deg: float, lng_deg: float, angle_deg: float) -> Layer:
    axis = ck.latlng_degrees_to_xyz(np.array([lat_deg]), np.array([lng_deg]))[0]
    region = S2Cap.from_axis_angle(axis, math.radians(angle_deg))
    return Layer(
        polygon_id,
        region,
        "cap",
        {"axis": (float(axis[0]), float(axis[1]), float(axis[2])), "height": float(region.height)},
    )


def loop_layer(polygon_id: str, dsl: str) -> Layer:
    """Loop from the reference test DSL "lat:lng, lat:lng, ..."
    (GeometryTestCase.java:165-210)."""
    loop = make_loop(dsl)
    return Layer(polygon_id, S2Polygon(loop), "loop")


def polygon_layer(polygon_id: str, dsl: str) -> Layer:
    """Multi-loop polygon from the DSL; loops separated by ';'."""
    return Layer(polygon_id, make_polygon(dsl), "polygon")
