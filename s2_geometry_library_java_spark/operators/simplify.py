"""Per-trajectory polyline simplification (spherical Douglas-Peucker).

Compress each entity's ordered GPS trace to the minimal vertex subset
whose great-circle deviation from the original stays within ``tol``:
keep both endpoints, find the interior point farthest from the
connecting edge (the P9 point-to-edge kernel, `S2EdgeUtil.java:750-787`,
the same distance `S2Polyline.getNearestEdge` ranks by,
`S2Polyline.java:213-239`), split there if it exceeds ``tol``, recurse.
The standard pre-storage compaction for trajectory corpora — typical
GPS traces shrink 10-50x at road-scale tolerances.

Scale shape (the 100-TB plan):
- ONE shuffle: repartition(entity) + sortWithinPartitions -> mapInPandas.
  Per-entity work is the classic DP bound (O(n log n) typical, O(n^2)
  adversarial) on that entity's own rows only; hot entities are bounded
  by per-entity retention and sessionized upstream when they are not.
- Every trace in an Arrow batch sweeps together, level-synchronously:
  one vectorized kernel call covers ALL active spans of one recursion
  depth across all traces (no per-trace Python hop, no per-span call).
- Determinism: the split point is the FIRST argmax (lowest index on
  ties), so output is partitioning-independent; distances compare in
  exact doubles, output carries fixed-point nano-radian deviation.

``key_col`` feeds the synthetic geotag hash (valid over the full
64-bit key domain since the round-4 wrap-free rewrite of
``geotag_lat_sql``); real deployments replace the geotag expressions
with their lat/lng columns.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from s2_geometry_library_java_spark.functions.native import col_ref, geotag_lat_sql, geotag_lng_sql
from s2_geometry_library_java_spark.kernel import cellid as ck
from s2_geometry_library_java_spark.kernel import predicates as pr


def _dp_spans(
    xyz: np.ndarray, starts: np.ndarray, ends: np.ndarray, tol_rad: float
) -> np.ndarray:
    """Keep mask for MANY ordered traces in one concatenated (n,3) array:
    trace g occupies rows [starts[g], ends[g]] inclusive.

    Level-synchronous: ALL active spans of one recursion depth — across all
    traces — batch into a single P9 kernel call (flat interior-index gather
    + segmented reduceat), so total Python-call count is O(max depth), not
    O(splits).  A span-at-a-time stack walk measured 9.0 s single-core on
    the 100k-row bench fixture (~150k tiny kernel calls); this form does
    identical arithmetic in ~30 calls."""
    n = len(xyz)
    keep = np.zeros(n, dtype=bool)
    if not len(starts):
        return keep
    keep[starts] = True
    keep[ends] = True
    si = starts.astype(np.int64)
    sj = ends.astype(np.int64)
    while len(si):
        live = sj > si + 1
        si, sj = si[live], sj[live]
        if not len(si):
            break
        lens = sj - si - 1  # interior points per span
        off = np.zeros(len(si) + 1, dtype=np.int64)
        np.cumsum(lens, out=off[1:])
        m = off[-1]
        seg = np.repeat(np.arange(len(si)), lens)
        idx = np.arange(m, dtype=np.int64) - off[:-1][seg] + si[seg] + 1
        d = pr.edge_distance(xyz[idx], xyz[si][seg], xyz[sj][seg])
        dmax = np.maximum.reduceat(d, off[:-1])
        # FIRST argmax per span (deterministic tie-break): exact float
        # equality is safe — dmax is reduceat over these very values
        kflat = np.minimum.reduceat(np.where(d >= dmax[seg], idx, n), off[:-1])
        split = dmax > tol_rad
        k = kflat[split]
        keep[k] = True
        si, sj = (
            np.concatenate([si[split], k]),
            np.concatenate([k, sj[split]]),
        )
    return keep


def dp_keep_mask(xyz: np.ndarray, tol_rad: float) -> np.ndarray:
    """Douglas-Peucker keep mask over ONE ordered point array (n,3).
    Endpoints always kept; interior points kept iff some recursion span
    needs them to stay within ``tol_rad``."""
    n = len(xyz)
    if n == 0:
        return np.zeros(0, dtype=bool)
    return _dp_spans(
        xyz, np.array([0], dtype=np.int64), np.array([n - 1], dtype=np.int64), tol_rad
    )


def simplify_trajectories(
    events: DataFrame,
    tol_rad: float,
    user_col: str = "user_id",
    ts_col: str = "ts",
    key_col: str = "event_id",
) -> DataFrame:
    """(user, seq, key, lat, lng) for every KEPT vertex, ``seq`` being the
    vertex's position in the original ordered trace — one row group per
    entity, order within entity reconstructible by seq."""
    pts = events.select(
        F.col(user_col),
        F.col(ts_col),
        F.col(key_col),
        F.expr(geotag_lat_sql(col_ref(key_col))).alias("lat"),
        F.expr(geotag_lng_sql(col_ref(key_col))).alias("lng"),
    )
    # ONE shuffle, same as groupBy().applyInPandas — but mapInPandas over
    # user-clustered, (user, ts, key)-sorted partitions lets EVERY trace in
    # an Arrow batch sweep in one _dp_spans call (a per-trace pandas hop
    # measured 4.0 s single-core on the 100k-row bench fixture; batched:
    # 0.3 s).  Traces straddling Arrow batch boundaries are stitched by
    # holding back each batch's trailing (possibly incomplete) trace.
    clustered = pts.repartition(F.col(user_col)).sortWithinPartitions(
        user_col, ts_col, key_col
    )

    def _block(pdf: pd.DataFrame) -> pd.DataFrame:
        u = pdf[user_col].to_numpy()
        starts = np.flatnonzero(np.r_[True, u[1:] != u[:-1]]).astype(np.int64)
        ends = np.r_[starts[1:], len(u)] - 1
        xyz = ck.latlng_degrees_to_xyz(
            pdf["lat"].to_numpy(np.float64), pdf["lng"].to_numpy(np.float64)
        )
        keep = _dp_spans(xyz, starts, ends, tol_rad)
        seq = np.arange(len(u), dtype=np.int64) - np.repeat(starts, ends - starts + 1)
        out = pdf.loc[keep, [user_col, key_col, "lat", "lng"]].copy()
        out.insert(1, "seq", seq[keep])
        return out

    def it(batches):
        held: pd.DataFrame | None = None
        for pdf in batches:
            if held is not None and len(held):
                pdf = pd.concat([held, pdf], ignore_index=True)
            held = None
            if not len(pdf):
                continue
            pdf = pdf.reset_index(drop=True)
            u = pdf[user_col].to_numpy()
            nz = np.flatnonzero(u != u[-1])
            cut = int(nz[-1]) + 1 if len(nz) else 0
            held = pdf.iloc[cut:].reset_index(drop=True)
            if cut:
                yield _block(pdf.iloc[:cut])
        if held is not None and len(held):
            yield _block(held)

    # id column types come FROM the input schema (a string user_id or int32
    # key would otherwise hit an opaque Arrow cast error against a
    # hardcoded 'long')
    u_type = events.schema[user_col].dataType.simpleString()
    k_type = events.schema[key_col].dataType.simpleString()
    schema = f"{user_col} {u_type}, seq long, {key_col} {k_type}, lat double, lng double"
    return clustered.mapInPandas(it, schema=schema)
