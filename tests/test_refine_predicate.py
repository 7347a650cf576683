"""The engine's rect/cap refine formula (``Layer.sql_predicate`` texts in one
``F.expr`` CASE inside ``membership_expr``): checked against the NumPy
reference ``Layer.contains_points`` on an edge matrix, on quoted column
names and layer ids, and on how many py4j round trips a repeat build costs,
alone and inside a whole pip_join -> tile_manifest plan."""

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from __spark_entry__ import ALL_LAYERS
from s2_geometry_library_java_spark.operators.layers import cap_layer, rect_layer
from s2_geometry_library_java_spark.operators.pip_join import membership_expr, pip_join
from s2_geometry_library_java_spark.operators.tiling import tile_manifest
from s2_geometry_library_java_spark.plans.pipeline import encode_images

NATIVE = [l for l in ALL_LAYERS if l.native]

# Spark's and NumPy's trig can differ in the last ulp, so a cap point whose
# chord² lies this close to 2h has no single right answer.
CAP_MARGIN = 1e-9


def _rect_points(p):
    lats = []
    for v, out in ((p["lat_lo"], -math.inf), (p["lat_hi"], math.inf)):
        lats += [v, np.nextafter(v, out), np.nextafter(v, -out)]
    lats += [(p["lat_lo"] + p["lat_hi"]) / 2, 90.0, -90.0]
    lngs = []
    for v, out in ((p["lng_lo"], -math.inf), (p["lng_hi"], math.inf)):
        lngs += [v, np.nextafter(v, out), np.nextafter(v, -out)]
    # both ends of the antimeridian, a point on each side of it (inside the
    # inverted interval of a wrapping rect) and the meridian opposite
    lngs += [180.0, -180.0, 179.0, -179.0, 0.0]
    if p["lng_lo"] <= p["lng_hi"]:
        lngs.append((p["lng_lo"] + p["lng_hi"]) / 2)
    return [(la, ln) for la in lats for ln in lngs]


def _cap_points(layer):
    ax = np.asarray(layer.params["axis"])
    lat0 = math.degrees(math.asin(ax[2]))
    lng0 = math.degrees(math.atan2(ax[1], ax[0]))
    angle = 2.0 * math.asin(math.sqrt(layer.params["height"] / 2.0))  # chord² = 2h
    pts = [(lat0, lng0), (-lat0, lng0 - 180.0 if lng0 > 0 else lng0 + 180.0)]
    pts += [(90.0, 0.0), (-90.0, 0.0), (0.0, 180.0), (0.0, -180.0)]
    # just inside / on / just outside the boundary circle, on 8 bearings
    for d in (angle - 1e-4, angle, angle + 1e-4):
        for b in np.linspace(0.0, 2.0 * math.pi, 8, endpoint=False):
            phi1, lam1 = math.radians(lat0), math.radians(lng0)
            phi2 = math.asin(
                math.sin(phi1) * math.cos(d) + math.cos(phi1) * math.sin(d) * math.cos(b)
            )
            lam2 = lam1 + math.atan2(
                math.sin(b) * math.sin(d) * math.cos(phi1),
                math.cos(d) - math.sin(phi1) * math.sin(phi2),
            )
            lng = (math.degrees(lam2) + 180.0) % 360.0 - 180.0
            pts.append((math.degrees(phi2), lng))
    lat = np.array([p[0] for p in pts])
    lng = np.array([p[1] for p in pts])
    xyz = np.stack(
        [
            np.cos(np.radians(lng)) * np.cos(np.radians(lat)),
            np.sin(np.radians(lng)) * np.cos(np.radians(lat)),
            np.sin(np.radians(lat)),
        ],
        axis=1,
    )
    chord2 = np.sum((xyz - ax) ** 2, axis=1)
    keep = np.abs(chord2 - 2.0 * layer.params["height"]) > CAP_MARGIN
    return [p for p, k in zip(pts, keep) if k]


@pytest.mark.parametrize("layer", NATIVE, ids=[l.polygon_id for l in NATIVE])
def test_native_formula_matches_numpy_on_edges(spark, layer):
    pts = _rect_points(layer.params) if layer.kind == "rect" else _cap_points(layer)
    want = layer.contains_points(
        np.array([p[0] for p in pts]), np.array([p[1] for p in pts])
    )
    n = len(pts)
    rows = [(i, float(la), float(ln)) for i, (la, ln) in enumerate(pts)]
    rows += [(n, None, pts[0][1]), (n + 1, pts[0][0], None)]
    df = spark.createDataFrame(rows, "rid int, lat double, lng double")
    inside = membership_expr([layer]).alias("inside")
    df = df.withColumn("polygon_id", F.lit(layer.polygon_id)).select("rid", inside)
    got = {r["rid"]: r["inside"] for r in df.collect()}
    assert [got[i] for i in range(n)] == want.tolist()
    assert want.any() and not want.all()
    # a null coordinate leaves the CASE arm unknown, as in SQL
    assert got[n] is None and got[n + 1] is None


def test_quoted_column_names_resolve(spark):
    probe = ((50.0, 0.0), (10.0, 20.0), (-80.0, 170.0), (40.0, -74.0))
    pts = [(l.polygon_id, lat, lng) for l in ALL_LAYERS for lat, lng in probe]
    pts = [(i, *p) for i, p in enumerate(pts)]
    plain = spark.createDataFrame(pts, "rid int, polygon_id string, lat double, lng double")
    quoted = plain.withColumnsRenamed({"lat": "lat deg", "lng": "p.lng"})
    want = plain.select("rid", membership_expr(ALL_LAYERS).alias("inside")).collect()
    got = quoted.select(
        "rid", membership_expr(ALL_LAYERS, "`lat deg`", "`p.lng`").alias("inside")
    ).collect()
    assert sorted(got) == sorted(want)
    assert any(r["inside"] for r in want) and not all(r["inside"] for r in want)
    # unquoted, "lat-1" would parse as the expression lat - 1
    for bad in ("lat deg", "lat-1", "`lat"):
        with pytest.raises(ValueError, match="backticks"):
            membership_expr(ALL_LAYERS, bad, "lng")


def test_repeat_refine_build_py4j_round_trips(spark, py4j_round_trips):
    # One F.expr parse for the CASE over all native layers; a Column tree
    # built literal by literal costs a round trip per node: 2,509 for these
    # 8 layers.
    membership_expr(ALL_LAYERS, seed=F.col("is_interior"))
    with py4j_round_trips() as calls:
        membership_expr(ALL_LAYERS, seed=F.col("is_interior"))
    assert 0 < calls[0] <= 500, calls[0]


@pytest.mark.parametrize("arm", ["range", "prefix"])
def test_repeat_manifest_build_py4j_round_trips(spark, py4j_round_trips, arm):
    # pip_join -> tile_manifest, built the way the benchmark builds it.  A
    # prefix-arm IN-set prune built with Column.isin costs a round trip or
    # more per prefix: about 3,000 for this covering.
    images = spark.range(2000).select(F.xxhash64("id").alias("phash"))
    kw = {"n_rows": 2000} if arm == "range" else {"broadcast_cells": False}

    def build():
        return tile_manifest(pip_join(encode_images(images), ALL_LAYERS, **kw), tile_level=7)

    plan = build()._jdf.queryExecution().executedPlan().toString()
    assert ("BroadcastNestedLoopJoin" if arm == "range" else "INSET") in plan
    with py4j_round_trips() as calls:
        build()
    assert 0 < calls[0] <= 500, calls[0]


def test_quoted_layer_ids_refine_like_plain_ids(spark):
    # ids land in the CASE text as SQL string literals; quotes and
    # backslashes must survive the quoting
    ids = {"r": "o'r\\", "c": "c\\'nyc"}
    plain = [rect_layer("r", 35.0, -10.0, 60.0, 30.0), cap_layer("c", 40.7, -74.0, 18.0)]
    quoted = [rect_layer(ids["r"], 35.0, -10.0, 60.0, 30.0), cap_layer(ids["c"], 40.7, -74.0, 18.0)]
    pts = [
        (pid, float(lat), float(lng))
        for pid in ("r", "c")
        for lat in range(-80, 81, 10)
        for lng in range(-170, 171, 10)
    ]
    rows = [(i, pid, ids[pid], lat, lng) for i, (pid, lat, lng) in enumerate(pts)]
    df = spark.createDataFrame(rows, "rid int, pid string, qid string, lat double, lng double")

    def inside(id_col, layers):
        named = df.select("rid", F.col(id_col).alias("polygon_id"), "lat", "lng")
        return sorted(named.select("rid", membership_expr(layers).alias("inside")).collect())

    want = inside("pid", plain)
    assert inside("qid", quoted) == want
    assert any(r["inside"] for r in want) and not all(r["inside"] for r in want)
