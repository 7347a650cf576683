"""``token_sql`` — the codegen S2CellId.toToken — against the NumPy token
kernel: bit-exact strings on the edge ids and on 10^5 random valid ids, and
a lossless round trip through the ``s2_from_token`` decoder."""

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from s2_geometry_library_java_spark.functions.native import token_sql
from s2_geometry_library_java_spark.functions.udfs import s2_from_token
from s2_geometry_library_java_spark.kernel import cellid as ck


def _tokens(spark, ids: np.ndarray) -> pd.DataFrame:
    pdf = pd.DataFrame({"rid": np.arange(len(ids)), "cell": ids.view(np.int64)})
    df = spark.createDataFrame(pdf).withColumn("tok", F.expr(token_sql("cell")))
    return (
        df.withColumn("back", s2_from_token(F.col("tok")))
        .toPandas()
        .sort_values("rid")
        .reset_index(drop=True)
    )


def _assert_matches_kernel(spark, ids: np.ndarray) -> None:
    out = _tokens(spark, ids)
    assert list(out["tok"]) == list(ck.to_token(ids))
    assert np.array_equal(out["back"].to_numpy(np.int64), ids.view(np.int64))


def test_zero_is_x(spark):
    out = _tokens(spark, np.array([0], dtype=np.uint64))
    assert out["tok"][0] == "X"
    assert out["back"][0] == 0


def test_face_cells_including_negative_faces(spark):
    faces = ck.from_face_pos_level(np.arange(6), 0, 0)
    # faces 4 and 5 are negative as Spark BIGINT
    assert (faces.view(np.int64)[4:] < 0).all()
    _assert_matches_kernel(spark, faces)
    assert list(_tokens(spark, faces)["tok"]) == ["1", "3", "5", "7", "9", "b"]


def test_leaf_ids_and_level7_tiles(spark):
    rng = np.random.default_rng(7)
    lat = np.concatenate([rng.uniform(-90, 90, 500), [90.0, -90.0, 0.0]])
    lng = np.concatenate([rng.uniform(-180, 180, 500), [0.0, 180.0, -180.0]])
    leaves = ck.from_latlng_degrees(lat, lng)
    extremes = np.array([ck.begin(30), ck.end(30) - np.uint64(2)], dtype=np.uint64)
    _assert_matches_kernel(spark, np.concatenate([leaves, extremes, ck.parent(leaves, 7)]))


def test_random_valid_ids_at_random_levels(spark):
    rng = np.random.default_rng(0)
    n = 100_000
    face = rng.integers(0, 6, n).astype(np.uint64)
    pos = rng.integers(0, 2**61, n, dtype=np.uint64)
    ids = ck.from_face_pos_level(face, pos, rng.integers(0, 31, n))
    assert ck.is_valid(ids).all()
    _assert_matches_kernel(spark, ids)
