"""Raster -> vector: fixed-level tile sets back to boundary polygons.

The inverse of the tiling direction (``operators/tiling.py`` turns join
matches into raster tiles); together they close the north rule's
"raster<->vector" pair.  Given a uniform-level tile raster per layer, emit
the vector boundary:

1. **edge explode** (native, codegen): each tile contributes its 4 directed
   boundary edges CCW in the face's (s,t) grid.  Vertices are integer grid
   points — a level-L tile's corners lie on the 2^L+1 lattice — packed into
   one 64-bit key ``face * 4^(L+1) + x * 2^(L+1) + y``, so the whole explode
   is native column arithmetic.
2. **interior cancellation** (distributed anti-join): an edge shared by two
   tiles of one layer appears twice in opposite directions; a self
   anti-join on the reversed key pair deletes both.  This is the scale
   path: the shuffle carries only edge keys, and output size collapses
   from O(area) to O(perimeter).
3. **ring chaining** (`applyInPandas`, per layer): the surviving boundary
   edges chain into closed rings.  Cross-face coincident edges (faces have
   disjoint integer grids, so step 2 cannot cancel them) are cancelled
   here by quantized-xyz vertex keys; the residue is O(perimeter), so the
   per-layer Python walk is bounded by boundary length, never raster area.

Faces' (u,v,norm) frames are all right-handed (S2Projections.java:271-286),
so CCW in (s,t) is CCW on the sphere for every face: outer rings come out
CCW, holes CW — standard vector-polygon winding.

Cell geometry sources: corner/lattice layout S2CellId.java:170-199 (center
= (2i+delta, 2j+delta) in si/ti space, so corners are the even lattice),
quadratic st->uv S2Projections.java:238-243, face frames
S2Projections.java:271-286.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from s2_geometry_library_java_spark.kernel import cellid as ck
from s2_geometry_library_java_spark.session import local_frame

MAX_VECTORIZE_LEVEL = 15  # key packing needs 3 + 2*(L+1) <= 35 bits; L<=15 is
# plenty for raster tiles (tile levels in this engine are 5-7) and keeps the
# packed key far inside long range.


# ---------------------------------------------------------------------------
# Tile rasters in grid coordinates
# ---------------------------------------------------------------------------
def tiles_to_grid(tile_ids: np.ndarray, level: int) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Uniform-level cell ids -> (face, gx, gy) raster grid coordinates.

    gx/gy index the level-L cell grid on the face: gx = i >> (30-L) where i
    is any leaf i-coordinate inside the cell (S2CellId.java:741-803 decode +
    the parent-alignment mask).
    """
    ids = np.asarray(tile_ids, dtype=np.uint64)
    lvls = ck.level(ids)
    if len(ids) and not (lvls == level).all():
        raise ValueError("tiles_to_grid requires a uniform-level raster")
    face, i, j, _ = ck.to_face_ij_orientation(ids)
    shift = ck.MAX_LEVEL - level
    return face, i >> shift, j >> shift


def raster_df(spark, rows: list[tuple[str, int, int, int]]) -> DataFrame:
    """(layer_id, face, gx, gy) rows -> DataFrame with the raster schema."""
    return local_frame(spark, rows, "layer_id string, face int, gx long, gy long")


def uniform_raster(union, level: int) -> np.ndarray:
    """S2CellUnion -> unique uniform-level tile ids (parent for finer cells,
    children for coarser — the same normalization assign_tiles applies to
    matched points)."""
    ids = np.asarray(union.ids, dtype=np.uint64)
    lvls = ck.level(ids)
    out = []
    for cid, lvl in zip(ids, lvls):
        arr = np.array([cid], dtype=np.uint64)
        if lvl >= level:
            out.append(ck.parent(arr, level))
        else:
            start = ck.child_begin(arr, level)[0]
            step = ck.lowest_on_bit(np.array([start], dtype=np.uint64))[0] << np.uint64(1)
            count = 1 << (2 * (level - int(lvl)))
            out.append(start + np.arange(count, dtype=np.uint64) * step)
    if not out:
        return np.empty(0, dtype=np.uint64)
    return np.unique(np.concatenate(out))


# ---------------------------------------------------------------------------
# Step 1+2: native edge explode + anti-join cancellation
# ---------------------------------------------------------------------------
def _vkey(level: int, face, x, y):
    s = level + 1
    return (face.cast("long") * F.lit(1 << (2 * s))) + (x * F.lit(1 << s)) + y


def directed_edges(tiles: DataFrame, level: int) -> DataFrame:
    """Explode each raster tile into its 4 directed edges, CCW in (s,t).

    Input: (layer_id, face, gx, gy).  Output: (layer_id, ka, kb) with packed
    vertex keys.  Pure native expressions — stays in WholeStageCodegen.
    """
    if level > MAX_VECTORIZE_LEVEL:
        raise ValueError(f"vectorize supports level <= {MAX_VECTORIZE_LEVEL}")
    f, x, y = F.col("face"), F.col("gx"), F.col("gy")
    v00 = _vkey(level, f, x, y)
    v10 = _vkey(level, f, x + F.lit(1), y)
    v11 = _vkey(level, f, x + F.lit(1), y + F.lit(1))
    v01 = _vkey(level, f, x, y + F.lit(1))
    edges = F.array(
        F.struct(v00.alias("ka"), v10.alias("kb")),
        F.struct(v10.alias("ka"), v11.alias("kb")),
        F.struct(v11.alias("ka"), v01.alias("kb")),
        F.struct(v01.alias("ka"), v00.alias("kb")),
    )
    return tiles.select("layer_id", F.explode(edges).alias("e")).select(
        "layer_id", F.col("e.ka").alias("ka"), F.col("e.kb").alias("kb")
    )


def boundary_edges(tiles: DataFrame, level: int) -> DataFrame:
    """Keep only edges whose reverse does not exist: the raster boundary.

    Within a layer each directed edge occurs at most once (tiles are a set),
    so a left-anti self-join on the reversed key pair implements exact
    multiset cancellation.  Shuffle key = (layer_id, ka, kb): edge keys
    only, no geometry — O(area) rows in, O(perimeter) out.
    """
    e = directed_edges(tiles, level)
    rev = e.select("layer_id", F.col("kb").alias("ka"), F.col("ka").alias("kb"))
    return e.join(rev, ["layer_id", "ka", "kb"], "left_anti")


# ---------------------------------------------------------------------------
# Step 3: ring chaining
# ---------------------------------------------------------------------------
def _unpack_vertices(level: int, keys: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    s = level + 1
    face = keys >> (2 * s)
    x = (keys >> s) & ((1 << s) - 1)
    y = keys & ((1 << s) - 1)
    return face, x, y


def _vertex_xyz(level: int, face: np.ndarray, x: np.ndarray, y: np.ndarray) -> np.ndarray:
    """Exact corner direction vector: grid point -> st -> uv -> xyz.

    st = x / 2^L is dyadic; st_to_uv and the face frame are the same exact
    float64 expression trees as the decode kernel, so the same geometric
    corner computed from two adjacent faces agrees to ~1 ulp.
    """
    scale = 2.0 ** (1 - level)  # maps grid to the [-1,1] st domain
    u = ck.st_to_uv(x * scale - 1.0)
    v = ck.st_to_uv(y * scale - 1.0)
    return ck.face_uv_to_xyz(face, u, v)


_QUANT = float(1 << 26)  # ~1.5e-8 resolution: >>1 ulp fp noise, far below
# the level-15 (finest supported) lattice spacing of ~1e-4 rad.


def _quant_keys(xyz_unit: np.ndarray) -> list[tuple[int, int, int]]:
    """Exact integer triples of the quantized UNIT vector.

    Cross-face coincident corners are directionally equal but live on
    different cube-surface points, so quantization must follow
    normalization.  Tuples (not a packed int) so distinct lattice points can
    never collide.
    """
    q = np.round(xyz_unit * _QUANT).astype(np.int64)
    return list(zip(q[:, 0].tolist(), q[:, 1].tolist(), q[:, 2].tolist()))


RINGS_SCHEMA = StructType(
    [
        StructField("layer_id", StringType()),
        StructField("ring_id", IntegerType()),
        StructField("seq", IntegerType()),
        StructField("vlat", DoubleType()),
        StructField("vlng", DoubleType()),
    ]
)


def _chain_rings(level: int, pdf: pd.DataFrame) -> pd.DataFrame:
    """Chain one layer's boundary edges into closed rings.

    Vertices are unified by quantized xyz (handles cross-face lattice
    seams); geometrically coincident opposite edge pairs that survived the
    same-face anti-join (face-boundary neighbors) cancel here.  Walk order
    is deterministic: rings start at their minimal vertex key; at a pinch
    vertex (two diagonal tiles sharing a corner) the smallest-key outgoing
    edge is taken.
    """
    layer = pdf["layer_id"].iloc[0]
    ka = pdf["ka"].to_numpy(dtype=np.int64)
    kb = pdf["kb"].to_numpy(dtype=np.int64)
    fa, xa, ya = _unpack_vertices(level, ka)
    fb, xb, yb = _unpack_vertices(level, kb)
    xyz_a = _vertex_xyz(level, fa, xa, ya)
    xyz_b = _vertex_xyz(level, fb, xb, yb)

    def _unit(v: np.ndarray) -> np.ndarray:
        return v / np.linalg.norm(v, axis=1, keepdims=True) if len(v) else v

    ua, ub = _unit(xyz_a), _unit(xyz_b)
    qa, qb = _quant_keys(ua), _quant_keys(ub)

    # cross-face cancellation: drop (a,b) when (b,a) is present geometrically
    fwd = set(zip(qa, qb))
    keep = [(b, a) not in fwd for a, b in zip(qa, qb)]

    lat, lng = ck.xyz_to_latlng_radians(ua) if len(ua) else (np.empty(0), np.empty(0))
    deg = 180.0 / np.pi
    coords: dict[tuple, tuple[float, float]] = {}
    for q, la, ln in zip(qa, lat, lng):
        coords.setdefault(q, (float(la) * deg, float(ln) * deg))
    for q, v in zip(qb, ub):
        if q not in coords:
            la, ln = ck.xyz_to_latlng_radians(v[None, :])
            coords[q] = (float(la[0]) * deg, float(ln[0]) * deg)

    # successor map: vertex -> sorted outgoing targets (pinch vertices have >1)
    succ: dict[tuple, list[tuple]] = {}
    for a, b in sorted((a, b) for a, b, k in zip(qa, qb, keep) if k):
        succ.setdefault(a, []).append(b)

    rows = []
    ring_id = 0
    while succ:
        start = min(succ)
        cur, seq = start, 0
        while True:
            targets = succ[cur]
            nxt = targets.pop(0)
            if not targets:
                del succ[cur]
            la, ln = coords[cur]
            rows.append((layer, ring_id, seq, la, ln))
            seq += 1
            cur = nxt
            if cur == start:
                break
        ring_id += 1
    return pd.DataFrame(rows, columns=["layer_id", "ring_id", "seq", "vlat", "vlng"])


def boundary_rings(tiles: DataFrame, level: int) -> DataFrame:
    """Full raster->vector: tiles -> closed boundary rings per layer.

    Distributed anti-join shrinks O(area) to O(perimeter) before any Python;
    ring chaining then runs per layer over boundary edges only.
    """
    be = boundary_edges(tiles, level)
    return be.groupBy("layer_id").applyInPandas(
        lambda pdf: _chain_rings(level, pdf), RINGS_SCHEMA
    )


# ---------------------------------------------------------------------------
# Exact re-rasterization (the round-trip check): winding number in the
# integer grid, valid for single-face rasters.
# ---------------------------------------------------------------------------
def rasterize_rings_single_face(
    ring_edges: list[tuple[int, int, int, int]], candidates: np.ndarray
) -> np.ndarray:
    """Winding parity of tile centers (gx+.5, gy+.5) w.r.t. grid-aligned ring
    edges [(x0,y0,x1,y1)...]; returns a boolean mask over candidate (gx,gy)
    pairs.  Exact integer/half-integer arithmetic — no floats."""
    cx = candidates[:, 0] + 0.5
    cy = candidates[:, 1] + 0.5
    winding = np.zeros(len(candidates), dtype=np.int64)
    for x0, y0, x1, y1 in ring_edges:
        if x0 != x1:  # horizontal edges don't cross the vertical ray
            continue
        lo, hi = min(y0, y1), max(y0, y1)
        crosses = (cy > lo) & (cy < hi) & (cx < x0)
        winding += np.where(crosses, np.sign(y1 - y0), 0)
    return winding != 0
