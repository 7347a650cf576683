"""The probe prune's semi→bloom escalation at TRUE scale: a synthetic
covering with > PREFIX_SEMI_PRUNE_MAX (2^20) distinct level-10 prefixes —
no lowered thresholds — must route to the Bloom bitmap and emit exactly
the candidates of the broadcast-semi rung (reached by raising the bound).

The covering is built from raw bit patterns (level-10 cell = face<<61 |
path<<41 | 1<<40, S2CellId.java:58-77 layout), including the signed-int64
wrap for faces 4-5 that the engine carries everywhere (cell ids are
unsigned in the reference; Spark LongType holds the raw bit pattern).
"""

import importlib

from pyspark.sql import functions as F

from s2_geometry_library_java_spark.operators.pip_join import (
    PREFIX_SEMI_PRUNE_MAX,
    prefix_candidates_df,
)

pj = importlib.import_module("s2_geometry_library_java_spark.operators.pip_join")

LSB10 = 1 << 40
FACE5 = (5 << 61) - (1 << 64)  # signed bit pattern of the face-5 base


def _big_cover(spark, n):
    """n distinct level-10 cells across faces 0-1, COVERING_SCHEMA shape."""
    return (
        spark.range(n)
        .select(
            (
                (F.col("id") % 2) * F.lit(1 << 61)
                + (F.col("id") / 2).cast("long") * F.lit(1 << 41)
                + F.lit(LSB10)
            ).alias("cell_id")
        )
        .select(
            "cell_id",
            F.concat(F.lit("p"), (F.col("cell_id") % 97).cast("string")).alias(
                "polygon_id"
            ),
            (F.col("cell_id") - F.lit(LSB10 - 1)).alias("range_min"),
            (F.col("cell_id") + F.lit(LSB10 - 1)).alias("range_max"),
            F.lit(True).alias("is_interior"),
        )
    )


def test_auto_rung_escalates_to_bloom_at_true_scale(spark, monkeypatch):
    n = PREFIX_SEMI_PRUNE_MAX + 1400  # just across the semi→bloom bound
    cover = _big_cover(spark, n).persist()
    cover.count()
    try:
        # probes: a leaf inside every 1000th covering cell, plus face-5
        # leaves (negative int64 bit patterns) far outside every prefix
        probes = (
            spark.range(0, n, 1000)
            .select(
                (
                    (F.col("id") % 2) * F.lit(1 << 61)
                    + (F.col("id") / 2).cast("long") * F.lit(1 << 41)
                    + F.lit(LSB10)
                    - F.lit(LSB10 - 1)
                    + F.lit(12345)
                ).alias("cell_id"),
                F.col("id").alias("point_id"),
            )
            .unionAll(
                spark.range(500).select(
                    (F.lit(FACE5) + F.col("id") * 2 + 1).alias("cell_id"),
                    (F.col("id") + 10_000_000).alias("point_id"),
                )
            )
        )
        auto = prefix_candidates_df(probes, cover, prefix_level=10)
        plan = auto._jdf.queryExecution().executedPlan().toString()
        # the escalation really happened: bloom, not semi, not IN-set
        assert "bit_or" in plan
        assert "LeftSemi" not in plan
        assert " IN (" not in plan
        got = {(r["point_id"], r["polygon_id"]) for r in auto.collect()}
        monkeypatch.setattr(pj, "PREFIX_SEMI_PRUNE_MAX", n)
        semi = prefix_candidates_df(probes, cover, prefix_level=10)
        assert "LeftSemi" in semi._jdf.queryExecution().executedPlan().toString()
        expect = {(r["point_id"], r["polygon_id"]) for r in semi.collect()}
        assert got == expect
        # every inside probe matched its one covering cell; face-5 none
        assert len(got) == len(range(0, n, 1000))
        assert not any(pid >= 10_000_000 for pid, _ in got)
    finally:
        cover.unpersist()
