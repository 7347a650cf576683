"""Radius-bounded snap-to-polyline: the map-matching primitive.

For every point, find the nearest polyline within ``radius`` and the
exact spherical distance to it (P9 edge-distance kernel,
`S2EdgeUtil.java:750-787`) — the distributed form of
``S2Polyline.getNearestEdge/project`` (`S2Polyline.java:213-249`).

Scale shape (the 100-TB plan):
- DRIVER (once, tiny): each polyline gets a fixed-level flood-fill
  covering (C3, `S2RegionCoverer.java:316-319`) at the level whose MIN
  WIDTH is >= radius, expanded by one K21 neighbor ring.  That ring is
  the completeness proof: any point within radius of the line is within
  radius of a covered cell, and radius <= min_width(level) means its own
  level-L cell is that cell or one of its 8 neighbors.  Candidate table
  size is O(total line perimeter / cell size), independent of the corpus.
- FACT: one native parent() bucket column, one BROADCAST equi-join —
  the fact table never shuffles and never explodes.
- REFINE: one Arrow pass over candidate pairs only; per line the P9
  kernel vectorizes over that line's points x edges.  Pairs farther than
  radius drop; the per-point argmin is a window over the (few) surviving
  candidates with a deterministic (dist, line_id) tie-break.

Points with no line within radius emit nothing — the standard
map-matching contract (an unbounded global nearest would force an
all-pairs shape; bound it or re-probe coarser, the kNN discipline).
"""

from __future__ import annotations

from typing import Iterator, Mapping

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from s2_geometry_library_java_spark.functions.native import col_ref, parent_sql
from s2_geometry_library_java_spark.geometry.coverer import S2RegionCoverer
from s2_geometry_library_java_spark.geometry.polyline import S2Polyline
from s2_geometry_library_java_spark.kernel import cellid as ck
from s2_geometry_library_java_spark.kernel import metrics
from s2_geometry_library_java_spark.kernel import predicates as pr
from s2_geometry_library_java_spark.session import local_frame


def snap_level(radius_rad: float) -> int:
    """Deepest level whose MIN_WIDTH still covers the radius — one K21
    ring then suffices for completeness."""
    return metrics.MIN_WIDTH.get_max_level(radius_rad)


def snap_candidate_cells(lines: Mapping[str, S2Polyline], radius_rad: float):
    """(level, [(bucket_cell, line_id)]): fixed-level flood-fill covering of
    each line plus its K21 neighbor ring, deduped per line."""
    level = snap_level(radius_rad)
    rows: list[tuple[int, str]] = []
    for line_id in sorted(lines):
        line = lines[line_id]
        cover = S2RegionCoverer.get_simple_covering(line, line.vertices[0], level)
        _, ring = ck.get_all_neighbors(cover, level)
        cells = np.unique(np.concatenate([cover.view(np.int64), ring.view(np.int64)]))
        rows.extend((int(c), line_id) for c in cells)
    return level, rows


def snap_join(
    points: DataFrame,
    lines: Mapping[str, S2Polyline],
    radius_rad: float,
    id_col: str = "point_id",
    cell_col: str = "cell_id",
    lat_col: str = "lat",
    lng_col: str = "lng",
) -> DataFrame:
    """One row per snapped point: (id, line_id, dist_nrad) for the nearest
    line within ``radius_rad``, distance in fixed-point nano-radians.
    ``points`` must carry the leaf cell id plus lat/lng degrees."""
    spark = points.sparkSession
    # mirror S2Polyline's vertex-count validity rule (S2Polyline.java:90-100)
    # driver-side: a 0/1-vertex line has no edges, and would otherwise fail
    # deep inside an Arrow task (np.stack over zero edges) with no line name
    bad = sorted(lid for lid, ln in lines.items() if len(ln.vertices) < 2)
    if bad:
        raise ValueError(
            f"snap_join requires >= 2 vertices per polyline (no edges to "
            f"snap to); invalid line ids: {bad[:5]}{'...' if len(bad) > 5 else ''}"
        )
    level, rows = snap_candidate_cells(lines, radius_rad)
    cand = F.broadcast(local_frame(spark, rows, "bucket long, line_id string"))
    pairs = points.withColumn("bucket", F.expr(parent_sql(col_ref(cell_col), level))).join(
        cand, "bucket"
    )
    sel = pairs.select(id_col, lat_col, lng_col, "line_id")
    edges = {
        lid: (ln.vertices[:-1].copy(), ln.vertices[1:].copy()) for lid, ln in lines.items()
    }
    max_nrad = int(np.floor(radius_rad * 1e9 + 0.5))

    def refine(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            out = []
            for lid, grp in pdf.groupby("line_id", sort=False):
                x = ck.latlng_degrees_to_xyz(
                    grp[lat_col].to_numpy(np.float64), grp[lng_col].to_numpy(np.float64)
                )
                a, b = edges[lid]
                d = np.min(
                    np.stack(
                        [pr.edge_distance(x, a[k][None, :], b[k][None, :]) for k in range(len(a))]
                    ),
                    axis=0,
                )
                nrad = np.floor(d * 1e9 + 0.5).astype(np.int64)
                keep = nrad <= max_nrad
                if keep.any():
                    out.append(
                        pd.DataFrame(
                            {
                                id_col: grp[id_col].to_numpy()[keep],
                                "line_id": lid,
                                "dist_nrad": nrad[keep],
                            }
                        )
                    )
            if out:
                yield pd.concat(out, ignore_index=True)

    refined = sel.mapInPandas(refine, schema=f"{id_col} long, line_id string, dist_nrad long")
    w = Window.partitionBy(id_col).orderBy("dist_nrad", "line_id")
    return (
        refined.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") == 1)
        .drop("__rk")
    )
