"""Vectorized pandas UDFs wrapping the NumPy cell-id kernel.

Each UDF is one Arrow batch -> a handful of ufunc calls -> one Arrow batch;
no per-row Python anywhere (BASELINE.json input_hint). The 64-bit unsigned
cell id travels through Spark as its raw signed bit pattern
(``uint64.view(int64)``), mirroring the reference's storage convention
(S2CellId.java:51-60, 897-899).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType, BooleanType, DoubleType, IntegerType, LongType, StringType

from s2_geometry_library_java_spark.kernel import cellid as ck


def _as_uint64(s: pd.Series) -> np.ndarray:
    return s.to_numpy(dtype=np.int64).view(np.uint64)


@pandas_udf(LongType())
def s2_cell_id(lat_deg: pd.Series, lng_deg: pd.Series) -> pd.Series:
    """Leaf cell id from degrees — the K23 flagship encode (S2CellId.java:148-160)."""
    ids = ck.from_latlng_degrees(lat_deg.to_numpy(dtype=np.float64), lng_deg.to_numpy(dtype=np.float64))
    return pd.Series(ids.view(np.int64))


@pandas_udf(LongType())
def s2_cell_id_from_phash(phash: pd.Series) -> pd.Series:
    """Fused geotag-anchor + K23 encode for the north-rule images pipeline:
    one 8-byte column in, one out — halves the encode hop's Arrow traffic vs
    a (lat, lng) input, which matters on the bandwidth-bound fact path.  The
    anchor math calls the same phash_anchor_* NumPy used everywhere else
    (FIXTURES.md F1), so cell ids are bit-identical to encoding the native
    lat/lng columns."""
    from s2_geometry_library_java_spark.sources.images import phash_anchor_lat, phash_anchor_lng

    ph = phash.to_numpy(dtype=np.int64)
    ids = ck.from_latlng_degrees(phash_anchor_lat(ph), phash_anchor_lng(ph))
    return pd.Series(ids.view(np.int64))


# Private twins of the two encode UDFs for the engine's own encode
# projections (pip_join.with_cell_id, plans.pipeline.encode_images): the same
# Python functions under the same plan names, marked nondeterministic.  That
# keeps Catalyst from pushing a filter on a cell-id-derived column (the
# prefix join's IN-set prune) below the projection that defines cell_id: the
# pushed filter re-evaluated the UDF beneath it, so every row it kept crossed
# the Arrow hop twice.  The exported UDFs stay deterministic, because
# asNondeterministic() mutates the UDF in place and a nondeterministic UDF is
# rejected inside join conditions.
_s2_cell_id_once = pandas_udf(s2_cell_id.func, LongType()).asNondeterministic()
_s2_cell_id_from_phash_once = pandas_udf(
    s2_cell_id_from_phash.func, LongType()
).asNondeterministic()


@pandas_udf(LongType())
def s2_cell_id_at_level(lat_deg: pd.Series, lng_deg: pd.Series, level: pd.Series) -> pd.Series:
    ids = ck.from_latlng_degrees(lat_deg.to_numpy(dtype=np.float64), lng_deg.to_numpy(dtype=np.float64))
    ids = ck.parent(ids, level.to_numpy(dtype=np.int64))
    return pd.Series(ids.view(np.int64))


@pandas_udf(DoubleType())
def s2_cell_to_lat(cell_id: pd.Series) -> pd.Series:
    lat, _ = ck.to_latlng_radians(_as_uint64(cell_id))
    return pd.Series(lat * (180.0 / np.pi))


@pandas_udf(DoubleType())
def s2_cell_to_lng(cell_id: pd.Series) -> pd.Series:
    _, lng = ck.to_latlng_radians(_as_uint64(cell_id))
    return pd.Series(lng * (180.0 / np.pi))


@pandas_udf(StringType())
def s2_token(cell_id: pd.Series) -> pd.Series:
    return pd.Series(ck.to_token(_as_uint64(cell_id)))


@pandas_udf(LongType())
def s2_from_token(token: pd.Series) -> pd.Series:
    return pd.Series(ck.from_token(token.tolist()).view(np.int64))


@pandas_udf(IntegerType())
def s2_level_udf(cell_id: pd.Series) -> pd.Series:
    return pd.Series(ck.level(_as_uint64(cell_id)).astype(np.int32))


@pandas_udf(LongType())
def s2_parent_udf(cell_id: pd.Series, level: pd.Series) -> pd.Series:
    """Kernel-side parent (S2CellId.java:334-338) — cross-checked against the
    native bit formula by the driver oracle."""
    ids = ck.parent(_as_uint64(cell_id), level.to_numpy(dtype=np.int64))
    return pd.Series(ids.view(np.int64))


@pandas_udf(LongType())
def s2_range_min_udf(cell_id: pd.Series) -> pd.Series:
    return pd.Series(ck.range_min(_as_uint64(cell_id)).view(np.int64))


@pandas_udf(LongType())
def s2_range_max_udf(cell_id: pd.Series) -> pd.Series:
    return pd.Series(ck.range_max(_as_uint64(cell_id)).view(np.int64))


@pandas_udf(BooleanType())
def s2_contains_udf(a: pd.Series, b: pd.Series) -> pd.Series:
    """Does cell a contain cell b (unsigned range test, S2CellId.java:312-315)."""
    return pd.Series(ck.contains(_as_uint64(a), _as_uint64(b)))


@pandas_udf(IntegerType())
def s2_face_udf(cell_id: pd.Series) -> pd.Series:
    return pd.Series(ck.face(_as_uint64(cell_id)).astype(np.int32))


from pyspark.sql.types import StructField, StructType

_AREA_CENTROID_TYPE = StructType(
    [
        StructField("area", DoubleType()),
        StructField("cx", DoubleType()),
        StructField("cy", DoubleType()),
        StructField("cz", DoubleType()),
    ]
)


@pandas_udf(_AREA_CENTROID_TYPE)
def s2_loop_area_centroid_udf(verts: pd.Series) -> pd.DataFrame:
    """P12/P13 as a column function: loop area + true centroid
    (S2.area/S2.trueCentroid accumulation, S2.java:319-473) from an
    array<array<double>> vertex column.  Row-at-a-time over the LOOP side —
    layers are the small broadcast side, never the fact table."""
    from s2_geometry_library_java_spark.geometry.loop import S2Loop

    rows = []
    for v in verts:
        loop = S2Loop(np.asarray([list(p) for p in v], dtype=np.float64))
        area, centroid = loop.get_area_centroid(True)
        rows.append((float(area), float(centroid[0]), float(centroid[1]), float(centroid[2])))
    return pd.DataFrame(rows, columns=["area", "cx", "cy", "cz"])


_POLYLINE_OPS_TYPE = StructType(
    [StructField(c, IntegerType() if c == "nearest_edge" else DoubleType())
     for c in ("ix", "iy", "iz", "px", "py", "pz", "nearest_edge", "dist")]
)


@pandas_udf(_POLYLINE_OPS_TYPE)
def s2_polyline_ops_udf(dsl: pd.Series, frac: pd.Series, probe: pd.Series) -> pd.DataFrame:
    """Polyline interpolate/project/nearest-edge/distance
    (S2Polyline.java:190-265) as a column function; the polyline DSL is a
    per-row string (constant for the gate query's tiny probe table)."""
    from s2_geometry_library_java_spark.geometry.polyline import S2Polyline
    from s2_geometry_library_java_spark.geometry.text_format import make_point, parse_vertices

    lines: dict[str, S2Polyline] = {}
    rows = []
    for d, f, pb in zip(dsl, frac, probe):
        line = lines.get(d)
        if line is None:
            line = lines[d] = S2Polyline(parse_vertices(d))
        p = make_point(pb)
        ip = line.interpolate(float(f))
        pj = line.project(p)
        rows.append(
            (float(ip[0]), float(ip[1]), float(ip[2]),
             float(pj[0]), float(pj[1]), float(pj[2]),
             int(line.get_nearest_edge_index(p)), float(line.get_distance(p)))
        )
    return pd.DataFrame(rows, columns=["ix", "iy", "iz", "px", "py", "pz", "nearest_edge", "dist"])


def _neighbors_by_level(kernel, cell_id: pd.Series, level: pd.Series) -> pd.Series:
    """One ``kernel(ids, level) -> (rows, neighbours)`` call per distinct
    level in the batch, regrouped into one array per input row."""
    from s2_geometry_library_java_spark.operators.edge_join import regroup_sorted

    ids = _as_uint64(cell_id)
    lv = level.to_numpy(dtype=np.int64)
    out = [None] * len(ids)
    for l in np.unique(lv):
        sel = np.flatnonzero(lv == l)
        rows, nbrs = kernel(ids[sel], int(l))
        order = np.argsort(rows, kind="stable")
        groups = regroup_sorted(rows[order], nbrs[order].view(np.int64), len(sel))
        for local_i, orig in enumerate(sel):
            out[orig] = groups[local_i]
    return pd.Series(out)


@pandas_udf(ArrayType(LongType()))
def s2_vertex_neighbors_udf(cell_id: pd.Series, level: pd.Series) -> pd.Series:
    """getVertexNeighbors (S2CellId.java:595-638): the <=4 level-``level``
    cells closest to the id's position — the PointIndex probe set
    (S2PolygonBuilder.java:669-689)."""
    return _neighbors_by_level(ck.get_vertex_neighbors, cell_id, level)


@pandas_udf(ArrayType(LongType()))
def s2_all_neighbors_udf(cell_id: pd.Series, nbr_level: pd.Series) -> pd.Series:
    """getAllNeighbors (S2CellId.java:640-682) as an array column; one kernel
    call per (distinct nbr_level) group within the batch."""
    return _neighbors_by_level(ck.get_all_neighbors, cell_id, nbr_level)
