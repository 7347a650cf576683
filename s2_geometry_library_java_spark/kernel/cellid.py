"""Vectorized S2 cell-id kernel: the encode/decode core as uint64 NumPy array programs.

Capability parity with the reference library's S2CellId
(``/root/reference/src/com/google/common/geometry/S2CellId.java``) and
S2Projections (``S2Projections.java``), re-expressed as batched columnar
kernels: every function maps NumPy arrays -> NumPy arrays with no per-row
Python, so a single Arrow batch flows through a handful of ufunc calls.

Semantics mirrored from the reference (file:line cites throughout):
  - 64-bit id layout: 3-bit face + 61-bit Hilbert position (S2CellId.java:51-60)
  - quadratic (s,t)<->(u,v) projection, the compiled-in choice
    (S2Projections.java:77,222-264)
  - 4-bit/round Hilbert lookup tables LOOKUP_POS/LOOKUP_IJ generated from the
    same POS_TO_IJ / POS_TO_ORIENTATION tables (S2.java:66-119,
    S2CellId.java:936-955)
  - unsigned-compare domain: ids are kept as raw uint64; helpers provide the
    signed bias trick for Spark SQL (S2CellId.java:897-899)

NumPy 1.26 promotion hazard: uint64 <op> python-int promotes to float64, so
every scalar touching a uint64 array is wrapped in np.uint64 below.
"""

from __future__ import annotations

import numpy as np

# ---------------------------------------------------------------------------
# Constants (S2CellId.java:56-63)
# ---------------------------------------------------------------------------
FACE_BITS = 3
NUM_FACES = 6
MAX_LEVEL = 30
POS_BITS = 2 * MAX_LEVEL + 1  # 61
MAX_SIZE = 1 << MAX_LEVEL  # 2**30
WRAP_OFFSET = np.uint64(NUM_FACES) << np.uint64(POS_BITS)

LOOKUP_BITS = 4
SWAP_MASK = 0x01
INVERT_MASK = 0x02

_U0 = np.uint64(0)
_U1 = np.uint64(1)
_U2 = np.uint64(2)
_U32 = np.uint64(32)
_U64MAX = np.uint64(0xFFFFFFFFFFFFFFFF)
# Signed bias for order-preserving signed comparison of unsigned ids
# (S2CellId.java:897-899: compare (x + Long.MIN_VALUE)).
SIGNED_BIAS = np.int64(-0x8000000000000000)

# ---------------------------------------------------------------------------
# Hilbert traversal tables (S2.java:66-119)
# ---------------------------------------------------------------------------
POS_TO_ORIENTATION = np.array([SWAP_MASK, 0, 0, INVERT_MASK + SWAP_MASK], dtype=np.int64)
POS_TO_IJ = np.array(
    [
        [0, 1, 3, 2],  # canonical order
        [0, 2, 3, 1],  # axes swapped
        [3, 2, 0, 1],  # bits inverted
        [3, 1, 0, 2],  # swapped & inverted
    ],
    dtype=np.int64,
)
IJ_TO_POS = np.array(
    [
        [0, 1, 3, 2],
        [0, 3, 1, 2],
        [2, 3, 1, 0],
        [2, 1, 3, 0],
    ],
    dtype=np.int64,
)


def _init_lookup_tables() -> tuple[np.ndarray, np.ndarray]:
    """Generate the 1024-entry LOOKUP_POS / LOOKUP_IJ tables.

    Same recursion as the reference initLookupCell (S2CellId.java:936-955):
    key "iiiijjjjoo" -> value "ppppppppoo" and inverse.
    """
    lookup_pos = np.zeros(1 << (2 * LOOKUP_BITS + 2), dtype=np.int64)
    lookup_ij = np.zeros(1 << (2 * LOOKUP_BITS + 2), dtype=np.int64)

    def init(level: int, i: int, j: int, orig_orientation: int, pos: int, orientation: int) -> None:
        if level == LOOKUP_BITS:
            ij = (i << LOOKUP_BITS) + j
            lookup_pos[(ij << 2) + orig_orientation] = (pos << 2) + orientation
            lookup_ij[(pos << 2) + orig_orientation] = (ij << 2) + orientation
            return
        level += 1
        i <<= 1
        j <<= 1
        pos <<= 2
        for sub_pos in range(4):
            ij = int(POS_TO_IJ[orientation][sub_pos])
            mask = int(POS_TO_ORIENTATION[sub_pos])
            init(level, i + (ij >> 1), j + (ij & 1), orig_orientation, pos + sub_pos, orientation ^ mask)

    init(0, 0, 0, 0, 0, 0)
    init(0, 0, 0, SWAP_MASK, 0, SWAP_MASK)
    init(0, 0, 0, INVERT_MASK, 0, INVERT_MASK)
    init(0, 0, 0, SWAP_MASK | INVERT_MASK, 0, SWAP_MASK | INVERT_MASK)
    return lookup_pos, lookup_ij


LOOKUP_POS, LOOKUP_IJ = _init_lookup_tables()


def _init_lookup_tables8() -> tuple[np.ndarray, np.ndarray]:
    """8-bit Hilbert tables composed from the 4-bit ones, vectorized.

    One 8-bit round == two chained 4-bit rounds (the orientation threads
    through), so the encode/decode loops drop from 8 table gathers to 4 —
    the single hottest cost in the kernel micro.  2^18 int32 entries = 1 MB
    per table; built in a handful of whole-array ops at import."""
    idx = np.arange(1 << 18, dtype=np.int64)
    # encode: key = (i8 << 10) | (j8 << 2) | o
    i8 = (idx >> 10) & 0xFF
    j8 = (idx >> 2) & 0xFF
    o = idx & 3
    v1 = LOOKUP_POS[o + ((i8 >> 4) << (LOOKUP_BITS + 2)) + ((j8 >> 4) << 2)]
    v2 = LOOKUP_POS[(v1 & 3) + ((i8 & 15) << (LOOKUP_BITS + 2)) + ((j8 & 15) << 2)]
    lookup_pos8 = ((((v1 >> 2) << 8) | (v2 >> 2)) << 2) | (v2 & 3)
    # decode: key = (pos16 << 2) | o
    pos16 = idx >> 2
    w1 = LOOKUP_IJ[o + ((pos16 >> 8) << 2)]
    w2 = LOOKUP_IJ[(w1 & 3) + ((pos16 & 0xFF) << 2)]
    i_hi, j_hi = (w1 >> 2) >> LOOKUP_BITS, (w1 >> 2) & 15
    i_lo, j_lo = (w2 >> 2) >> LOOKUP_BITS, (w2 >> 2) & 15
    ij = (((i_hi << 4) | i_lo) << 8) | ((j_hi << 4) | j_lo)
    lookup_ij8 = (ij << 2) | (w2 & 3)
    return lookup_pos8.astype(np.int64), lookup_ij8.astype(np.int64)


LOOKUP_POS8, LOOKUP_IJ8 = _init_lookup_tables8()

# ---------------------------------------------------------------------------
# Projection tables (S2Projections.java:271-412):
# faceUvToXyz(face,u,v) == NORM[face] + u*U_AXIS[face] + v*V_AXIS[face]
# ---------------------------------------------------------------------------
FACE_NORMS = np.array(
    [[1, 0, 0], [0, 1, 0], [0, 0, 1], [-1, 0, 0], [0, -1, 0], [0, 0, -1]], dtype=np.float64
)
FACE_U_AXES = np.array(
    [[0, 1, 0], [-1, 0, 0], [-1, 0, 0], [0, 0, -1], [0, 0, -1], [0, 1, 0]], dtype=np.float64
)
FACE_V_AXES = np.array(
    [[0, 0, 1], [0, 0, 1], [0, -1, 0], [0, -1, 0], [1, 0, 0], [1, 0, 0]], dtype=np.float64
)
# validFaceXyzToUv gather tables (S2Projections.java:288-319):
# pu = PU_SIGN[f] * p[PU_IDX[f]] / p[DEN_IDX[f]], likewise pv.
_PU_IDX = np.array([1, 0, 0, 2, 2, 1], dtype=np.int64)
_PU_SIGN = np.array([1.0, -1.0, -1.0, 1.0, 1.0, -1.0])
_PV_IDX = np.array([2, 2, 1, 1, 0, 0], dtype=np.int64)
_PV_SIGN = np.array([1.0, 1.0, -1.0, 1.0, -1.0, -1.0])
_DEN_IDX = np.array([0, 1, 2, 0, 1, 2], dtype=np.int64)


# ---------------------------------------------------------------------------
# K1/K2: lat/lng <-> xyz (S2LatLng.java:59-69,101-107,169-174)
# ---------------------------------------------------------------------------
_DEG2RAD = np.pi / 180.0
_RAD2DEG = 180.0 / np.pi


def latlng_degrees_to_xyz(lat_deg: np.ndarray, lng_deg: np.ndarray) -> np.ndarray:
    """(lat,lng) degrees -> (n,3) unit xyz. Mirrors S2LatLng.toPoint (S2LatLng.java:169-174)."""
    return latlng_radians_to_xyz(np.asarray(lat_deg, dtype=np.float64) * _DEG2RAD,
                                 np.asarray(lng_deg, dtype=np.float64) * _DEG2RAD)


def latlng_radians_to_xyz(phi: np.ndarray, theta: np.ndarray) -> np.ndarray:
    phi = np.asarray(phi, dtype=np.float64)
    theta = np.asarray(theta, dtype=np.float64)
    cosphi = np.cos(phi)
    out = np.empty(phi.shape + (3,), dtype=np.float64)
    out[..., 0] = np.cos(theta) * cosphi
    out[..., 1] = np.sin(theta) * cosphi
    out[..., 2] = np.sin(phi)
    return out


def xyz_to_latlng_radians(xyz: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """xyz -> (lat,lng) radians via pole-accurate atan2 (S2LatLng.java:101-107)."""
    x, y, z = xyz[..., 0], xyz[..., 1], xyz[..., 2]
    lat = np.arctan2(z, np.sqrt(x * x + y * y))
    lng = np.arctan2(y, x)
    return lat, lng


# ---------------------------------------------------------------------------
# UV edge normals (S2Projections.getUNorm/getVNorm, S2Projections.java:
# 341-373): the right-handed normal of the edge running in the increasing
# u (resp. v) direction at coordinate u on a face.  Each switch arm is
# linear in u, so the vectorized form is one coefficient gather + fma.
# ---------------------------------------------------------------------------
_U_NORM_COEF = np.array(
    [[1, 0, 0], [0, 1, 0], [0, 0, 1], [-1, 0, 0], [0, -1, 0], [0, 0, -1]], dtype=np.float64
)
_U_NORM_CONST = np.array(
    [[0, -1, 0], [1, 0, 0], [1, 0, 0], [0, 0, 1], [0, 0, 1], [0, -1, 0]], dtype=np.float64
)
_V_NORM_COEF = np.array(
    [[-1, 0, 0], [0, -1, 0], [0, 0, -1], [1, 0, 0], [0, 1, 0], [0, 0, 1]], dtype=np.float64
)
_V_NORM_CONST = np.array(
    [[0, 0, 1], [0, 0, 1], [0, -1, 0], [0, -1, 0], [1, 0, 0], [1, 0, 0]], dtype=np.float64
)


def get_u_norm(face: np.ndarray, u: np.ndarray) -> np.ndarray:
    """(n,3) right-handed normal of the increasing-u edge at u on each face
    (S2Projections.getUNorm, S2Projections.java:341-356)."""
    face = np.asarray(face, dtype=np.int64)
    u = np.asarray(u, dtype=np.float64)
    return _U_NORM_COEF[face] * u[..., None] + _U_NORM_CONST[face]


def get_v_norm(face: np.ndarray, v: np.ndarray) -> np.ndarray:
    """(S2Projections.getVNorm, S2Projections.java:358-373)."""
    face = np.asarray(face, dtype=np.int64)
    v = np.asarray(v, dtype=np.float64)
    return _V_NORM_COEF[face] * v[..., None] + _V_NORM_CONST[face]


# ---------------------------------------------------------------------------
# S2LatLng fixed-point codecs (S2LatLng.java:43-57 fromE5/E6/E7,
# S1Angle.java:31-41 e5/e6/e7, :109-121 the inverse constructors).  The
# reference MULTIPLIES by 1e-k on decode (S1Angle.java:113-116 keeps the
# faster multiply deliberately) and uses Math.round == floor(x + 0.5) on
# encode — both reproduced exactly so doubles are bit-identical.
# ---------------------------------------------------------------------------
def from_e5(e: np.ndarray) -> np.ndarray:
    """E5 fixed-point -> degrees (S2LatLng.fromE5 / S1Angle.e5)."""
    return np.asarray(e, dtype=np.int64) * 1e-5


def from_e6(e: np.ndarray) -> np.ndarray:
    return np.asarray(e, dtype=np.int64) * 1e-6


def from_e7(e: np.ndarray) -> np.ndarray:
    return np.asarray(e, dtype=np.int64) * 1e-7


def to_e5(deg: np.ndarray) -> np.ndarray:
    """Degrees -> E5 (Java Math.round == floor(x + 0.5), exact for negatives
    too: Math.round(-2.5) == -2)."""
    return np.floor(np.asarray(deg, dtype=np.float64) * 1e5 + 0.5).astype(np.int64)


def to_e6(deg: np.ndarray) -> np.ndarray:
    return np.floor(np.asarray(deg, dtype=np.float64) * 1e6 + 0.5).astype(np.int64)


def to_e7(deg: np.ndarray) -> np.ndarray:
    return np.floor(np.asarray(deg, dtype=np.float64) * 1e7 + 0.5).astype(np.int64)


# ---------------------------------------------------------------------------
# K3: xyzToFace (S2Projections.java:321-327, S2Point.java:96-111)
# ---------------------------------------------------------------------------
def xyz_to_face(xyz: np.ndarray) -> np.ndarray:
    """argmax(|x|,|y|,|z|) with the reference's exact tie-breaking, +3 if negative."""
    ax = np.abs(xyz[..., 0])
    ay = np.abs(xyz[..., 1])
    az = np.abs(xyz[..., 2])
    # S2Point.largestAbsComponent: x>y ? (x>z ? 0 : 2) : (y>z ? 1 : 2)
    face = np.where(ax > ay, np.where(ax > az, 0, 2), np.where(ay > az, 1, 2)).astype(np.int64)
    comp = np.take_along_axis(xyz, face[..., None], axis=-1)[..., 0]
    return np.where(comp < 0, face + 3, face)


# ---------------------------------------------------------------------------
# K4: validFaceXyzToUv (S2Projections.java:288-319)
# ---------------------------------------------------------------------------
def valid_face_xyz_to_uv(face: np.ndarray, xyz: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    den = np.take_along_axis(xyz, _DEN_IDX[face][..., None], axis=-1)[..., 0]
    pu = _PU_SIGN[face] * np.take_along_axis(xyz, _PU_IDX[face][..., None], axis=-1)[..., 0] / den
    pv = _PV_SIGN[face] * np.take_along_axis(xyz, _PV_IDX[face][..., None], axis=-1)[..., 0] / den
    return pu, pv


# ---------------------------------------------------------------------------
# K5/K6: quadratic uv<->st (S2Projections.java:222-264)
# ---------------------------------------------------------------------------
def uv_to_st(u: np.ndarray) -> np.ndarray:
    """Quadratic projection: u>=0 -> sqrt(1+3u)-1 else 1-sqrt(1-3u) (S2Projections.java:255-260).

    Computed on |u| and sign-flipped; bitwise identical to the two-branch form
    because IEEE ops here are symmetric under negation.
    """
    u = np.asarray(u, dtype=np.float64)
    mag = np.sqrt(1.0 + 3.0 * np.abs(u)) - 1.0
    return np.where(u >= 0, mag, -mag)


def st_to_uv(s: np.ndarray) -> np.ndarray:
    """Inverse quadratic: s>=0 -> ((1+s)^2-1)/3 else (1-(1-s)^2)/3 (S2Projections.java:238-243)."""
    s = np.asarray(s, dtype=np.float64)
    a = 1.0 + np.abs(s)
    mag = (1.0 / 3.0) * (a * a - 1.0)
    return np.where(s >= 0, mag, -mag)


# ---------------------------------------------------------------------------
# K7: stToIJ (S2CellId.java:825-833). Java Math.round == floor(x + 0.5).
# ---------------------------------------------------------------------------
def st_to_ij(s: np.ndarray) -> np.ndarray:
    m = float(MAX_SIZE // 2)
    v = np.floor(m * np.asarray(s, dtype=np.float64) + (m - 0.5) + 0.5)
    # Java Math.round(NaN) == 0; NumPy's NaN->int cast is platform-defined.
    v = np.nan_to_num(v, nan=0.0)
    return np.clip(v, 0.0, 2.0 * m - 1.0).astype(np.int64)


# ---------------------------------------------------------------------------
# K8: fromFaceIJ — vectorized 8-round Hilbert encode (S2CellId.java:691-731)
# ---------------------------------------------------------------------------
def from_face_ij(face: np.ndarray, i: np.ndarray, j: np.ndarray) -> np.ndarray:
    """4 rounds over the composed 8-bit tables — bit-identical to the
    reference's 8x4-bit loop (each 8-bit round IS two chained 4-bit rounds
    by construction of LOOKUP_POS8)."""
    face = np.asarray(face, dtype=np.int64)
    i = np.asarray(i, dtype=np.int64)
    j = np.asarray(j, dtype=np.int64)
    acc = face.astype(np.uint64) << np.uint64(POS_BITS - 1)  # face << 60
    bits = face & SWAP_MASK
    for k in range(3, -1, -1):
        bits = bits + (((i >> (k * 8)) & 0xFF) << 10)
        bits = bits + (((j >> (k * 8)) & 0xFF) << 2)
        bits = LOOKUP_POS8[bits]
        acc |= (bits >> 2).astype(np.uint64) << np.uint64(k * 16)
        bits = bits & (SWAP_MASK | INVERT_MASK)
    return (acc << _U1) + _U1


# ---------------------------------------------------------------------------
# K9: toFaceIJOrientation — vectorized inverse (S2CellId.java:741-803)
# ---------------------------------------------------------------------------
def to_face_ij_orientation(
    ids: np.ndarray, want_orientation: bool = False
) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray | None]:
    ids = np.asarray(ids, dtype=np.uint64)
    face = (ids >> np.uint64(POS_BITS)).astype(np.int64)
    bits = face & SWAP_MASK
    i = np.zeros(ids.shape, dtype=np.int64)
    j = np.zeros(ids.shape, dtype=np.int64)
    # 4 rounds over the composed 8-bit tables (bit-identical to the 8x4-bit
    # reference loop); the top round carries only 30-3*8=6 i/j bits.
    # Extraction shifts run on an int64 VIEW of the ids: the arithmetic
    # shift's sign-extended high bits (faces 4-5) die under the per-round
    # mask, and skipping the four uint64->int64 casts is a measured win.
    ids_i64 = ids.view(np.int64)
    for k in range(3, -1, -1):
        nbits = (MAX_LEVEL - 3 * 8) if k == 3 else 8
        extract = (ids_i64 >> (k * 16 + 1)) & ((1 << (2 * nbits)) - 1)
        bits = bits + (extract << 2)
        bits = LOOKUP_IJ8[bits]
        i = i + ((bits >> 10) << (k * 8))
        j = j + (((bits >> 2) & 0xFF) << (k * 8))
        bits = bits & (SWAP_MASK | INVERT_MASK)
    orientation = None
    if want_orientation:
        # Suffix "00" pairs flip the swap bit (S2CellId.java:762-776).
        flip = (lowest_on_bit(ids) & np.uint64(0x1111111111111110)) != _U0
        orientation = np.where(flip, bits ^ SWAP_MASK, bits).astype(np.int64)
    return face, i, j, orientation


# ---------------------------------------------------------------------------
# K10/K11: decode to point (S2CellId.java:170-199,839-844)
# ---------------------------------------------------------------------------
def face_uv_to_xyz(face: np.ndarray, u: np.ndarray, v: np.ndarray) -> np.ndarray:
    """(face,u,v) -> xyz direction (S2Projections.java:271-286), via norm/axis tables."""
    face = np.asarray(face, dtype=np.int64)
    u = np.asarray(u, dtype=np.float64)[..., None]
    v = np.asarray(v, dtype=np.float64)[..., None]
    return FACE_NORMS[face] + u * FACE_U_AXES[face] + v * FACE_V_AXES[face]


def _xyz_component_cols(
    face: np.ndarray, u: np.ndarray, v: np.ndarray
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """faceUvToXyz as where-chains on columns — the same per-face component
    table as FACE_NORMS/U_AXES/V_AXES (S2Projections.java:271-286) without
    the three (n,3) gathers; products with 0/±1 are exact, so results are
    bit-identical to face_uv_to_xyz.  Every component is a permutation of
    {±1, ±u, ±v} — callers exploit that for the exact norm."""
    f = np.asarray(face, dtype=np.int64)
    one = np.ones_like(u)
    nu, nv = -u, -v
    x = np.where(f == 0, one, np.where(f <= 2, nu, np.where(f == 3, -one, v)))
    y = np.where((f == 0) | (f == 5), u, np.where(f == 1, one, np.where(f == 4, -one, nv)))
    z = np.where(f <= 1, v, np.where(f == 2, one, np.where(f == 5, -one, nu)))
    return x, y, z


def _face_uv_to_xyz_cols(face: np.ndarray, u: np.ndarray, v: np.ndarray) -> np.ndarray:
    x, y, z = _xyz_component_cols(face, u, v)
    out = np.empty(x.shape + (3,), dtype=np.float64)
    out[..., 0] = x
    out[..., 1] = y
    out[..., 2] = z
    return out


# One encode/decode pass materializes ~15 same-length float64/int64
# temporaries; chunking the public entry points keeps that working set
# cache-resident instead of streaming multi-MB arrays through DRAM once
# per ufunc.  24576 rows * ~15 * 8 B ≈ 3 MB — inside L2+L3 on any modern
# core.  Bit-identical by construction (rows never interact), measured
# ~1.4x on the 2M-row micro.
_CHUNK = 24576


def _chunked(block, ndim: int, *cols: np.ndarray) -> np.ndarray:
    """``block(*cols)`` computed _CHUNK rows at a time into one preallocated
    output, once ``cols`` are ``ndim``-dimensional and longer than two
    chunks; anything else goes to ``block`` whole."""
    n = cols[0].shape[0] if cols[0].ndim == ndim else 0
    if n <= 2 * _CHUNK:
        return block(*cols)
    first = block(*(c[:_CHUNK] for c in cols))
    out = np.empty((n,) + first.shape[1:], dtype=first.dtype)
    out[:_CHUNK] = first
    for s in range(_CHUNK, n, _CHUNK):
        out[s : s + _CHUNK] = block(*(c[s : s + _CHUNK] for c in cols))
    return out


def _decode_center_uv(ids: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Cell id -> (face, u, v) of the cell center (S2CellId.java:170-199)."""
    face, i, j, _ = to_face_ij_orientation(ids)
    leaf = (ids & _U1) != _U0
    if leaf.all():
        # Leaf fast path (the encode->decode round-trip case): delta == 1
        # for every row, skip the low-bit parity selects.
        delta = 1
    else:
        # delta = isLeaf ? 1 : ((i ^ (int(id) >> 2)) & 1) ? 2 : 0
        low_id = (ids >> _U2).astype(np.int64)  # (int) id >>> 2 — only bit 0 matters
        delta = np.where(leaf, 1, np.where(((i ^ low_id) & 1) != 0, 2, 0))
    si = (i << 1) + delta - MAX_SIZE
    ti = (j << 1) + delta - MAX_SIZE
    k_scale = 1.0 / MAX_SIZE
    return face, st_to_uv(k_scale * si), st_to_uv(k_scale * ti)


def _to_point_raw_block(ids: np.ndarray) -> np.ndarray:
    face, u, v = _decode_center_uv(ids)
    return _face_uv_to_xyz_cols(face, u, v)


def to_point_raw(ids: np.ndarray) -> np.ndarray:
    """Cell center direction vector, not unit length (S2CellId.java:170-199)."""
    return _chunked(_to_point_raw_block, 1, np.asarray(ids, dtype=np.uint64))


def _to_point_block(ids: np.ndarray) -> np.ndarray:
    face, u, v = _decode_center_uv(ids)
    x, y, z = _xyz_component_cols(face, u, v)
    # The raw components are a permutation of {±1, ±u, ±v}, so
    # norm² = 1 + u² + v² EXACTLY — no (n,3) square-sum pass (norm >= 1
    # always, so no zero guard).  The fixed (u²+v²)+1 summation order can
    # differ from the old per-row x²+y²+z² order by <= 1 ulp on faces
    # where ±1 is not the last component; reciprocal-multiply kept.
    n = u * u
    n += v * v
    n += 1.0
    np.sqrt(n, out=n)
    np.divide(1.0, n, out=n)
    out = np.empty(x.shape + (3,), dtype=np.float64)
    np.multiply(x, n, out=out[..., 0])
    np.multiply(y, n, out=out[..., 1])
    np.multiply(z, n, out=out[..., 2])
    return out


def to_point(ids: np.ndarray) -> np.ndarray:
    return _chunked(_to_point_block, 1, np.asarray(ids, dtype=np.uint64))


def to_latlng_radians(ids: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    return xyz_to_latlng_radians(to_point_raw(ids))


# ---------------------------------------------------------------------------
# K23: full encode compositions (S2CellId.java:148-160)
# ---------------------------------------------------------------------------
def _face_uv_cols(x: np.ndarray, y: np.ndarray, z: np.ndarray):
    """Fused xyzToFace + validFaceXyzToUv on separate coordinate columns.

    Identical selections to the table-gather versions (xyz_to_face /
    valid_face_xyz_to_uv) expressed as where-chains over 1-D arrays — no
    (n,3) interleaved layout, no take_along_axis gathers, which dominated
    the encode micro."""
    ax, ay, az = np.abs(x), np.abs(y), np.abs(z)
    axis = np.where(ax > ay, np.where(ax > az, 0, 2), np.where(ay > az, 1, 2))
    den = np.where(axis == 0, x, np.where(axis == 1, y, z))
    face = np.where(den < 0, axis + 3, axis)
    # pu numerator per face: [+y, -x, -x, +z, +z, -y] (S2Projections.java:288-319)
    pu_num = np.where(face == 0, y, np.where(face <= 2, -x, np.where(face <= 4, z, -y)))
    # pv numerator per face: [+z, +z, -y, +y, -x, -x]
    pv_num = np.where(face <= 1, z, np.where(face == 2, -y, np.where(face == 3, y, -x)))
    return face, pu_num / den, pv_num / den


def _from_xyz_block(xyz: np.ndarray) -> np.ndarray:
    face, pu, pv = _face_uv_cols(xyz[..., 0], xyz[..., 1], xyz[..., 2])
    i = st_to_ij(uv_to_st(pu))
    j = st_to_ij(uv_to_st(pv))
    return from_face_ij(face, i, j)


def from_xyz(xyz: np.ndarray) -> np.ndarray:
    return _chunked(_from_xyz_block, 2, np.asarray(xyz, dtype=np.float64))


def from_latlng_degrees(lat_deg: np.ndarray, lng_deg: np.ndarray) -> np.ndarray:
    return from_latlng_radians(np.asarray(lat_deg, dtype=np.float64) * _DEG2RAD,
                               np.asarray(lng_deg, dtype=np.float64) * _DEG2RAD)


def _from_latlng_radians_block(phi: np.ndarray, theta: np.ndarray) -> np.ndarray:
    cosphi = np.cos(phi)
    face, pu, pv = _face_uv_cols(np.cos(theta) * cosphi, np.sin(theta) * cosphi, np.sin(phi))
    i = st_to_ij(uv_to_st(pu))
    j = st_to_ij(uv_to_st(pv))
    return from_face_ij(face, i, j)


def from_latlng_radians(lat_rad: np.ndarray, lng_rad: np.ndarray) -> np.ndarray:
    return _chunked(
        _from_latlng_radians_block,
        1,
        np.asarray(lat_rad, dtype=np.float64),
        np.asarray(lng_rad, dtype=np.float64),
    )


# ---------------------------------------------------------------------------
# K12-K17: bit-level ops (S2CellId.java:231-427,806-818)
# ---------------------------------------------------------------------------
def lowest_on_bit(ids: np.ndarray) -> np.ndarray:
    ids = np.asarray(ids, dtype=np.uint64)
    return ids & (~ids + _U1)


def lowest_on_bit_for_level(level: np.ndarray) -> np.ndarray:
    level = np.asarray(level, dtype=np.int64)
    return np.left_shift(_U1, (2 * (MAX_LEVEL - level)).astype(np.uint64))


def level(ids: np.ndarray) -> np.ndarray:
    """Cell level from position of lowest set bit (S2CellId.java:231-260)."""
    lsb = lowest_on_bit(ids)
    # Exact: lsb is a power of two <= 2**61, representable exactly in float64.
    with np.errstate(divide="ignore"):
        lg = np.where(lsb == _U0, 0.0, np.log2(lsb.astype(np.float64))).astype(np.int64)
    return MAX_LEVEL - (lg >> 1)


def is_leaf(ids: np.ndarray) -> np.ndarray:
    return (np.asarray(ids, dtype=np.uint64) & _U1) != _U0


def is_face(ids: np.ndarray) -> np.ndarray:
    ids = np.asarray(ids, dtype=np.uint64)
    return (ids & (np.uint64(1 << 60) - _U1)) == _U0


def is_valid(ids: np.ndarray) -> np.ndarray:
    ids = np.asarray(ids, dtype=np.uint64)
    face_ok = (ids >> np.uint64(POS_BITS)) < np.uint64(NUM_FACES)
    return face_ok & ((lowest_on_bit(ids) & np.uint64(0x1555555555555555)) != _U0)


def face(ids: np.ndarray) -> np.ndarray:
    return (np.asarray(ids, dtype=np.uint64) >> np.uint64(POS_BITS)).astype(np.int64)


def pos(ids: np.ndarray) -> np.ndarray:
    return np.asarray(ids, dtype=np.uint64) & (_U64MAX >> np.uint64(FACE_BITS))


def parent(ids: np.ndarray, lvl: np.ndarray | int) -> np.ndarray:
    """Ancestor at the given level: (id & -newLsb) | newLsb (S2CellId.java:334-338)."""
    ids = np.asarray(ids, dtype=np.uint64)
    new_lsb = lowest_on_bit_for_level(np.broadcast_to(np.asarray(lvl, dtype=np.int64), ids.shape))
    return (ids & (~new_lsb + _U1)) | new_lsb


def immediate_parent(ids: np.ndarray) -> np.ndarray:
    ids = np.asarray(ids, dtype=np.uint64)
    new_lsb = lowest_on_bit(ids) << _U2
    return (ids & (~new_lsb + _U1)) | new_lsb


def child_begin(ids: np.ndarray, lvl: np.ndarray | int | None = None) -> np.ndarray:
    ids = np.asarray(ids, dtype=np.uint64)
    old = lowest_on_bit(ids)
    if lvl is None:
        return ids - old + (old >> _U2)
    return ids - old + lowest_on_bit_for_level(np.broadcast_to(np.asarray(lvl, dtype=np.int64), ids.shape))


def child_end(ids: np.ndarray, lvl: np.ndarray | int | None = None) -> np.ndarray:
    ids = np.asarray(ids, dtype=np.uint64)
    old = lowest_on_bit(ids)
    if lvl is None:
        return ids + old + (old >> _U2)
    return ids + old + lowest_on_bit_for_level(np.broadcast_to(np.asarray(lvl, dtype=np.int64), ids.shape))


def next_id(ids: np.ndarray) -> np.ndarray:
    ids = np.asarray(ids, dtype=np.uint64)
    return ids + (lowest_on_bit(ids) << _U1)


def prev_id(ids: np.ndarray) -> np.ndarray:
    ids = np.asarray(ids, dtype=np.uint64)
    return ids - (lowest_on_bit(ids) << _U1)


def next_wrap(ids: np.ndarray) -> np.ndarray:
    n = next_id(ids)
    return np.where(n < WRAP_OFFSET, n, n - WRAP_OFFSET)


def prev_wrap(ids: np.ndarray) -> np.ndarray:
    p = prev_id(ids)
    # Reference compares signed: p.id < WRAP_OFFSET (S2CellId.java:412-418).
    return np.where(p.view(np.int64) < WRAP_OFFSET.astype(np.int64), p, p + WRAP_OFFSET)


def range_min(ids: np.ndarray) -> np.ndarray:
    ids = np.asarray(ids, dtype=np.uint64)
    return ids - (lowest_on_bit(ids) - _U1)


def range_max(ids: np.ndarray) -> np.ndarray:
    ids = np.asarray(ids, dtype=np.uint64)
    return ids + (lowest_on_bit(ids) - _U1)


def contains(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Does cell a contain cell b (unsigned range test, S2CellId.java:312-315)."""
    b = np.asarray(b, dtype=np.uint64)
    return (b >= range_min(a)) & (b <= range_max(a))


def intersects(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    return (range_min(b) <= range_max(a)) & (range_max(b) >= range_min(a))


def child_position(ids: np.ndarray, lvl: np.ndarray | int) -> np.ndarray:
    ids = np.asarray(ids, dtype=np.uint64)
    lvl = np.broadcast_to(np.asarray(lvl, dtype=np.int64), ids.shape)
    shift = (2 * (MAX_LEVEL - lvl) + 1).astype(np.uint64)
    return ((ids >> shift) & np.uint64(3)).astype(np.int64)


def from_face_pos_level(f: np.ndarray | int, p: np.ndarray | int, lvl: np.ndarray | int) -> np.ndarray:
    """(face, pos, level) -> id (S2CellId.java:140-142)."""
    f = np.atleast_1d(np.asarray(f, dtype=np.uint64))
    p = np.atleast_1d(np.asarray(p, dtype=np.uint64))
    f, p = np.broadcast_arrays(f, p)
    raw = (f << np.uint64(POS_BITS)) + (p | _U1)
    return parent(raw, lvl)


def begin(lvl: int) -> np.uint64:
    return child_begin(from_face_pos_level(0, 0, 0), lvl)[0]


def end(lvl: int) -> np.uint64:
    return child_end(from_face_pos_level(5, 0, 0), lvl)[0]


# ---------------------------------------------------------------------------
# K18: token codec (S2CellId.java:439-498)
# ---------------------------------------------------------------------------
def to_token(ids: np.ndarray) -> np.ndarray:
    """Hex with trailing zeros stripped; id 0 -> 'X'.

    Fully vectorized: nibble extraction is uint64 bit math, string assembly
    is a C-level rstrip over fixed-width byte rows (no per-row Python)."""
    ids = np.atleast_1d(np.asarray(ids, dtype=np.uint64))
    # 16 hex nibbles, most significant first.
    shifts = np.uint64(60) - np.arange(16, dtype=np.uint64) * np.uint64(4)
    nibbles = ((ids[:, None] >> shifts[None, :]) & np.uint64(0xF)).astype(np.uint8)
    chars = np.where(nibbles < 10, nibbles + ord("0"), nibbles - 10 + ord("a")).astype(np.uint8)
    fixed = np.ascontiguousarray(chars).view("S16")[:, 0]
    out = np.char.rstrip(fixed, b"0").astype("U16").astype(object)
    zero = ids == _U0
    if zero.any():
        out[zero] = "X"
    return out


def from_token(tokens) -> np.ndarray:
    out = np.empty(len(tokens), dtype=np.uint64)
    for r, tok in enumerate(tokens):
        if tok is None or len(tok) == 0:
            raise ValueError("empty token")
        if len(tok) > 16 or tok == "X":
            out[r] = 0
            continue
        out[r] = np.uint64(int(tok, 16) << (4 * (16 - len(tok))))
    return out


# ---------------------------------------------------------------------------
# K19-K21: neighbors (S2CellId.java:557-682,850-883)
# ---------------------------------------------------------------------------
def _from_face_ij_wrap(f: np.ndarray, i: np.ndarray, j: np.ndarray) -> np.ndarray:
    """Out-of-bounds (i,j) -> neighbor leaf on the adjacent face (S2CellId.java:850-870)."""
    i = np.clip(np.asarray(i, dtype=np.int64), -1, MAX_SIZE)
    j = np.clip(np.asarray(j, dtype=np.int64), -1, MAX_SIZE)
    k_scale = 1.0 / MAX_SIZE
    s = k_scale * ((i << 1) + 1 - MAX_SIZE)
    t = k_scale * ((j << 1) + 1 - MAX_SIZE)
    p = face_uv_to_xyz(f, s, t)
    f2 = xyz_to_face(p)
    u, v = valid_face_xyz_to_uv(f2, p)
    return from_face_ij(f2, st_to_ij(u), st_to_ij(v))


def from_face_ij_same(f: np.ndarray, i: np.ndarray, j: np.ndarray, same: np.ndarray) -> np.ndarray:
    """Vectorized fromFaceIJSame (S2CellId.java:876-883): wrap path only on masked rows."""
    f = np.asarray(f, dtype=np.int64)
    i = np.asarray(i, dtype=np.int64)
    j = np.asarray(j, dtype=np.int64)
    same = np.asarray(same, dtype=bool)
    out = np.empty(f.shape, dtype=np.uint64)
    if same.any():
        out[same] = from_face_ij(f[same], i[same], j[same])
    wrap = ~same
    if wrap.any():
        out[wrap] = _from_face_ij_wrap(f[wrap], i[wrap], j[wrap])
    return out


def get_edge_neighbors(ids: np.ndarray) -> np.ndarray:
    """(n,) ids -> (n,4) same-level S,E,N,W neighbors (S2CellId.java:557-575)."""
    ids = np.atleast_1d(np.asarray(ids, dtype=np.uint64))
    lvl = level(ids)
    size = np.int64(1) << (MAX_LEVEL - lvl)
    f, i, j, _ = to_face_ij_orientation(ids)
    out = np.empty(ids.shape + (4,), dtype=np.uint64)
    out[:, 0] = parent(from_face_ij_same(f, i, j - size, j - size >= 0), lvl)
    out[:, 1] = parent(from_face_ij_same(f, i + size, j, i + size < MAX_SIZE), lvl)
    out[:, 2] = parent(from_face_ij_same(f, i, j + size, j + size < MAX_SIZE), lvl)
    out[:, 3] = parent(from_face_ij_same(f, i - size, j, i - size >= 0), lvl)
    return out


def get_vertex_neighbors(ids: np.ndarray, lvl: int) -> tuple[np.ndarray, np.ndarray]:
    """Neighbors of the closest vertex at coarser ``lvl`` (S2CellId.java:586-629).

    Returns (row_idx, neighbor_id) flat arrays — 3 or 4 rows per input cell.
    """
    ids = np.atleast_1d(np.asarray(ids, dtype=np.uint64))
    f, i, j, _ = to_face_ij_orientation(ids)
    halfsize = np.int64(1) << (MAX_LEVEL - (lvl + 1))
    size = halfsize << 1
    ihalf = (i & halfsize) != 0
    ioffset = np.where(ihalf, size, -size)
    isame = np.where(ihalf, (i + size) < MAX_SIZE, (i - size) >= 0)
    jhalf = (j & halfsize) != 0
    joffset = np.where(jhalf, size, -size)
    jsame = np.where(jhalf, (j + size) < MAX_SIZE, (j - size) >= 0)

    n = ids.shape[0]
    rows = [np.arange(n)] * 3
    nbrs = [
        parent(ids, lvl),
        parent(from_face_ij_same(f, i + ioffset, j, isame), lvl),
        parent(from_face_ij_same(f, i, j + joffset, jsame), lvl),
    ]
    diag_ok = isame | jsame
    if diag_ok.any():
        rows.append(np.arange(n)[diag_ok])
        nbrs.append(
            parent(
                from_face_ij_same(
                    f[diag_ok], (i + ioffset)[diag_ok], (j + joffset)[diag_ok], (isame & jsame)[diag_ok]
                ),
                lvl if np.isscalar(lvl) else lvl[diag_ok],
            )
        )
    row_idx = np.concatenate(rows)
    out = np.concatenate([np.atleast_1d(x) for x in nbrs])
    order = np.argsort(row_idx, kind="stable")
    return row_idx[order], out[order]


def get_all_neighbors(ids: np.ndarray, nbr_level: int) -> tuple[np.ndarray, np.ndarray]:
    """All neighbors at nbr_level >= level (S2CellId.java:640-682).

    Returns (row_idx, neighbor_id) flat arrays; duplicates possible at face
    vertices, exactly like the reference.
    """
    ids = np.atleast_1d(np.asarray(ids, dtype=np.uint64))
    f, i, j, _ = to_face_ij_orientation(ids)
    lvl = level(ids)
    size = np.int64(1) << (MAX_LEVEL - lvl)
    i = i & -size
    j = j & -size
    nbr_size = np.int64(1) << (MAX_LEVEL - nbr_level)

    rows_out = []
    nbrs_out = []
    n = ids.shape[0]
    all_rows = np.arange(n)
    # k runs per-row from -nbr_size to size stepping nbr_size; sizes differ per
    # row, so group rows by level (<= 31 distinct) and vectorize within groups.
    for lv in np.unique(lvl):
        sel = lvl == lv
        rs = all_rows[sel]
        fs, is_, js = f[sel], i[sel], j[sel]
        sz = np.int64(1) << (MAX_LEVEL - lv)
        nsz = np.int64(np.broadcast_to(nbr_size, ids.shape)[sel][0]) if not np.isscalar(nbr_level) else np.int64(1) << (MAX_LEVEL - nbr_level)
        k = -nsz
        while True:
            if k < 0:
                same_face = js + k >= 0
            elif k >= sz:
                same_face = js + k < MAX_SIZE
            else:
                same_face = np.ones(len(rs), dtype=bool)
                # North and South neighbors.
                rows_out.append(rs)
                nbrs_out.append(parent(from_face_ij_same(fs, is_ + k, js - nsz, js - sz >= 0), nbr_level))
                rows_out.append(rs)
                nbrs_out.append(parent(from_face_ij_same(fs, is_ + k, js + sz, js + sz < MAX_SIZE), nbr_level))
            same_face = np.broadcast_to(same_face, rs.shape)
            rows_out.append(rs)
            nbrs_out.append(parent(from_face_ij_same(fs, is_ - nsz, js + k, same_face & (is_ - sz >= 0)), nbr_level))
            rows_out.append(rs)
            nbrs_out.append(parent(from_face_ij_same(fs, is_ + sz, js + k, same_face & (is_ + sz < MAX_SIZE)), nbr_level))
            if k >= sz:
                break
            k += nsz
    row_idx = np.concatenate(rows_out)
    out = np.concatenate(nbrs_out)
    order = np.argsort(row_idx, kind="stable")
    return row_idx[order], out[order]
