"""Covering tables: the relational image of S2CellUnion + S2RegionCoverer.

``covering_rows`` runs the deterministic coverer (S2RegionCoverer.java:56-548)
per layer on the driver — polygon layers are the small side — and explodes
each covering into rows

    (polygon_id, cell_id, level, range_min, range_max, is_interior)

exactly the shape of the reference's sorted cell index
(S2CellUnion.java:160-198, S2EdgeIndex.java:103-154).  ``is_interior`` marks
covering cells fully contained in the region (the
S2RegionCoverer.getInteriorCovering split, S2RegionCoverer.java:271-310 /
newCandidate:326-353): rows joined on interior cells skip exact refinement —
the O5 selectivity win in SURVEY.md §4.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import BooleanType, IntegerType, LongType, StringType, StructField, StructType

from s2_geometry_library_java_spark.geometry import S2Cell, S2RegionCoverer
from s2_geometry_library_java_spark.kernel import cellid as ck
from s2_geometry_library_java_spark.operators.layers import Layer
from s2_geometry_library_java_spark.session import local_frame

COVERING_SCHEMA = StructType(
    [
        StructField("polygon_id", StringType(), False),
        StructField("cell_id", LongType(), False),
        StructField("level", IntegerType(), False),
        StructField("range_min", LongType(), False),
        StructField("range_max", LongType(), False),
        StructField("is_interior", BooleanType(), False),
    ]
)

# The coverer settings of every spatial join's covering (pip_join, and the
# covering_df_distributed frames passed to it as covering_frame=).
# max_level 12 (not 30): a coverer tunnelling down a single-child chain
# (S2RegionCoverer.java:480) stops at a level-12 cell instead of a leaf; on
# ALL_LAYERS that is one cell, and the cell count (56) is the same either
# way.  No join arm's per-row cost grows with covering depth (range: rows x
# cells, stab: one binary search, prefix: one key), so the cap buys no join
# speed; it stays because every measured config, driver golden and
# benchmark digest uses it, and the few extra boundary candidates a level-12
# cell admits are absorbed by the refine.  (Measured: a coarser covering,
# min_level=4/level_mod=2, inflated refine work 3x.)
JOIN_COVERING = {"max_cells": 8, "max_level": 12}


# Memo for repeated covering builds: the coverer is deterministic and layer
# objects are long-lived (module-level layer sets), so repeated jobs over the
# same layers — every bench/pipeline iteration — pay the ~0.4s driver-side
# build once instead of per job (it is pure SERIAL time that caps N->4N
# scaling efficiency).  Keyed by layer object identities + coverer params;
# entries hold strong refs so ids can't be recycled.
_COVERING_MEMO: dict[tuple, tuple[list, list[tuple]]] = {}


def covering_rows(
    layers: list[Layer],
    max_cells: int = 8,
    max_level: int = ck.MAX_LEVEL,
) -> list[tuple]:
    key = (tuple(id(l) for l in layers), max_cells, max_level)
    hit = _COVERING_MEMO.get(key)
    if hit is not None:
        return hit[1]
    rows = _covering_rows_uncached(layers, max_cells, max_level)
    if len(_COVERING_MEMO) > 64:
        _COVERING_MEMO.clear()
    _COVERING_MEMO[key] = (list(layers), rows)
    return rows


def _covering_rows_uncached(layers: list[Layer], max_cells: int, max_level: int) -> list[tuple]:
    coverer = S2RegionCoverer(max_cells=max_cells, max_level=max_level)
    rows: list[tuple] = []
    for layer in layers:
        cells = coverer.get_covering(layer.region)
        if cells.size == 0:
            continue
        levels = ck.level(cells)
        rmin = ck.range_min(cells).view(np.int64)
        rmax = ck.range_max(cells).view(np.int64)
        signed = cells.view(np.int64)
        for idx in range(cells.size):
            interior = bool(layer.region.contains_cell(S2Cell(int(cells[idx]))))
            rows.append(
                (
                    layer.polygon_id,
                    int(signed[idx]),
                    int(levels[idx]),
                    int(rmin[idx]),
                    int(rmax[idx]),
                    interior,
                )
            )
    return rows


def covering_df(
    spark: SparkSession,
    layers: list[Layer],
    max_cells: int = 8,
    max_level: int = ck.MAX_LEVEL,
) -> DataFrame:
    rows = covering_rows(layers, max_cells, max_level)
    return local_frame(spark, rows, COVERING_SCHEMA)


def covering_df_distributed(
    spark: SparkSession,
    layer_specs: list[dict],
    max_cells: int = 8,
    max_level: int = ck.MAX_LEVEL,
) -> DataFrame:
    """Executor-side covering generation for LARGE layer sets (SURVEY.md
    §3.2: "applyInPandas over a polygons DataFrame grouped by polygon_id
    when layers are large").

    ``layer_specs``: [{"polygon_id": ..., "kind": "rect|cap|loop|polygon",
    ...constructor kwargs}] — the deterministic coverer runs once per layer
    inside an applyInPandas group, so a 100k-layer dimension builds its
    covering table with full cluster parallelism instead of on the driver.
    Output is identical to ``covering_df`` (the coverer is deterministic)."""
    import json

    import pandas as pd

    spec_rows = [(s["polygon_id"], json.dumps(s)) for s in layer_specs]
    df = local_frame(spark, spec_rows, "polygon_id string, spec string")

    def per_layer(pdf: pd.DataFrame) -> pd.DataFrame:
        from s2_geometry_library_java_spark.operators.layers import cap_layer, loop_layer, polygon_layer, rect_layer

        makers = {"rect": rect_layer, "cap": cap_layer, "loop": loop_layer, "polygon": polygon_layer}
        out = []
        for spec_json in pdf["spec"]:
            spec = json.loads(spec_json)
            kind = spec.pop("kind")
            layer = makers[kind](**spec)
            out.extend(covering_rows([layer], max_cells, max_level))
        return pd.DataFrame(out, columns=[f.name for f in COVERING_SCHEMA.fields])

    return df.groupBy("polygon_id").applyInPandas(per_layer, COVERING_SCHEMA)
