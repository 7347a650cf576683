"""Adaptive (skew-balanced) tiling: split hot cells until every tile
holds at most ``cap`` points.

The fixed-level manifest (`operators/tiling.py`) gives every tile the
same area; at web scale that leaves city cells with 10^9 points and
ocean cells with 3.  This operator produces the quadtree answer the
reference computes region-by-region with `S2RegionCoverer`'s
priority-queue split (`S2RegionCoverer.java:109-139`: "cells are split
until the desired approximation is achieved") — applied to DATA density
instead of region shape: starting from ``min_level``, any cell holding
more than ``cap`` points splits into its K16 children
(`S2CellId.java:528-539`), recursively, until the count fits or
``max_level`` is reached (those rare leftovers are flagged
``overflow``).

Scale shape (the 100-TB plan):
- ONE fact-table pass: `groupBy(parent(cell_id, max_level)).count()`,
  materialized with localCheckpoint (the connected-components discipline,
  `operators/dedup.py:443`) so the dozen level/hot consumers below all
  read the aggregated grid, never the facts — exchange reuse alone only
  collapses some of the branch re-scans.  Grid size is bounded by
  min(n_points, 6*4^max_level) regardless of corpus size.
- The per-level rollups chain on the grid (tiny aggs); the returned
  plan contains no fact scan at all (pinned in tests/test_adaptive.py).
- The "hot parent" membership join broadcasts: at most
  n_points / cap parents can be hot, by counting — 10^12 points at
  cap 10^6 is 10^6 hot cells ≈ 8 MB.

Output tiles are disjoint (no tile is an ancestor of another) and
complete (every input point has exactly one covering tile) — both
properties are pytest-pinned against a brute recompute.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from s2_geometry_library_java_spark.functions.native import col_ref, parent_sql


def adaptive_tiles(
    points: DataFrame,
    cap: int,
    min_level: int,
    max_level: int,
    cell_col: str = "cell_id",
) -> DataFrame:
    """(tile_id, level, n, overflow): the deepest-needed S2 cell per
    populated region.  A cell is a tile iff its count fits ``cap`` (or it
    sits at ``max_level``) while its parent's count does not.  Only
    populated cells emit tiles, so the result covers the data, not the
    sphere."""
    if not 0 <= min_level <= max_level <= 30:
        raise ValueError(f"bad level range [{min_level}, {max_level}]")
    base = (
        points.groupBy(F.expr(parent_sql(col_ref(cell_col), max_level)).alias("cell"))
        .agg(F.count(F.lit(1)).alias("n"))
        .localCheckpoint(eager=True)
    )

    # Grid-side rollup: counts at every level, coarse from fine (tiny aggs).
    counts: dict[int, DataFrame] = {max_level: base}
    for lvl in range(max_level - 1, min_level - 1, -1):
        counts[lvl] = (
            counts[lvl + 1]
            .groupBy(F.expr(parent_sql("cell", lvl)).alias("cell"))
            .agg(F.sum("n").alias("n"))
        )

    at_floor = min_level == max_level
    tiles = counts[min_level].filter((F.col("n") <= cap) | F.lit(at_floor)).select(
        F.col("cell").alias("tile_id"),
        F.lit(min_level).alias("level"),
        "n",
        ((F.col("n") > cap) & F.lit(at_floor)).alias("overflow"),
    )
    for lvl in range(min_level + 1, max_level + 1):
        hot = counts[lvl - 1].filter(F.col("n") > cap).select(
            F.col("cell").alias("pcell")
        )
        lvl_tiles = (
            counts[lvl]
            .withColumn("pcell", F.expr(parent_sql("cell", lvl - 1)))
            .join(F.broadcast(hot), "pcell")
            .filter((F.col("n") <= cap) | F.lit(lvl == max_level))
            .select(
                F.col("cell").alias("tile_id"),
                F.lit(lvl).alias("level"),
                "n",
                (F.col("n") > cap).alias("overflow"),
            )
        )
        tiles = tiles.unionByName(lvl_tiles)
    return tiles
