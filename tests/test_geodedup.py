"""Geo near-dup pairs: parity with an unblocked numpy brute recompute
(also pinned by the geo_neardup gate at sf0.01), pair uniqueness, the
blocking-level choice, and the no-all-pairs plan shape."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from s2_geometry_library_java_spark.kernel import cellid as ck
from s2_geometry_library_java_spark.kernel import metrics
from s2_geometry_library_java_spark.operators.geodedup import (
    geo_block_level,
    geo_neardup_pairs,
)

RADIUS = 0.05
MAX_HAM = 5
N = 2500


@pytest.fixture(scope="module")
def pts(spark):
    keys = np.arange(N, dtype=np.int64)
    lat = -90.0 + 180.0 * (((keys * 2654435761) % 4294967296).astype(np.float64) / 4294967296.0)
    lng = -180.0 + 360.0 * (((keys * 2246822519 + 1013904223) % 4294967296).astype(np.float64) / 4294967296.0)
    cells = ck.from_latlng_degrees(lat, lng).view(np.int64)
    ph = (keys * 40503) % 65536
    df = spark.createDataFrame(
        [(int(k), float(a), float(o), int(c), int(h)) for k, a, o, c, h in zip(keys, lat, lng, cells, ph)],
        "point_id long, lat double, lng double, cell_id long, phash long",
    )
    return df, lat, lng, ph


def _brute(lat, lng, ph):
    phi, lam = np.radians(lat), np.radians(lng)
    out = set()
    for i in range(N):
        dlat = np.sin(0.5 * (phi[i] - phi))
        dlng = np.sin(0.5 * (lam[i] - lam))
        x = dlat * dlat + dlng * dlng * np.cos(phi) * np.cos(phi[i])
        d = 2 * np.arctan2(np.sqrt(x), np.sqrt(np.maximum(0.0, 1.0 - x)))
        ham = np.array([bin(int(ph[i]) ^ int(h)).count("1") for h in ph])
        hit = (d <= RADIUS) & (ham <= MAX_HAM) & (np.arange(N) > i)
        out |= {(i, int(j)) for j in np.nonzero(hit)[0]}
    return out


def test_matches_unblocked_brute(spark, pts):
    df, lat, lng, ph = pts
    rows = geo_neardup_pairs(df, RADIUS, MAX_HAM).collect()
    got = {(r.id_lo, r.id_hi) for r in rows}
    assert len(got) == len(rows)  # pair dedup held
    want = _brute(lat, lng, ph)
    assert got == want and len(want) > 10


def test_block_level_covers_radius():
    lvl = geo_block_level(RADIUS)
    assert metrics.MIN_WIDTH.get_value(lvl) >= RADIUS
    assert metrics.MIN_WIDTH.get_value(lvl + 1) < RADIUS


def test_ring_broadcast_follows_populated_bound(spark, pts):
    """Meters-scale radius => level >= 8 => grid bound exceeds the cap, but
    an n_rows hint bounds the POPULATED ring small => broadcast plan; the
    same radius without a hint falls through to the shuffled equi-join."""
    df, _, _, _ = pts
    tiny_radius = 1e-6  # ~6 m: geo_block_level gives a deep level
    assert geo_block_level(tiny_radius) >= 8

    def plan(n_rows):
        return (
            geo_neardup_pairs(df, tiny_radius, MAX_HAM, n_rows=n_rows)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )

    hinted = plan(N)
    assert "BroadcastHashJoin" in hinted
    unhinted = plan(None)
    # conservative fall-through: ring join shuffles without the hint
    assert "SortMergeJoin" in unhinted or "ShuffledHashJoin" in unhinted

    # same rows either way (the hint is plan-only)
    a = sorted(
        map(tuple, geo_neardup_pairs(df, RADIUS, MAX_HAM, n_rows=N).collect())
    )
    b = sorted(map(tuple, geo_neardup_pairs(df, RADIUS, MAX_HAM).collect()))
    assert a == b


def test_plan_has_no_all_pairs_join(spark, pts):
    df, _, _, _ = pts
    plan = (
        geo_neardup_pairs(df, RADIUS, MAX_HAM)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan  # refine is fully native


@pytest.mark.parametrize("salt", [2, 8])
def test_salted_pairs_bit_identical(spark, pts, salt):
    """The packed-bit hot-bucket salt must not change the pair set: every
    (l, r) pair still meets exactly once (in l's salt class), and the refine
    filters are untouched."""
    df, lat, lng, ph = pts
    base = {(r.id_lo, r.id_hi, r.dist_nrad, r.hamming) for r in geo_neardup_pairs(df, RADIUS, MAX_HAM).collect()}
    salted_rows = geo_neardup_pairs(df, RADIUS, MAX_HAM, salt=salt).collect()
    salted = {(r.id_lo, r.id_hi, r.dist_nrad, r.hamming) for r in salted_rows}
    assert len(salted) == len(salted_rows)  # no pair emitted twice
    assert salted == base and base


def test_salted_hot_bucket_pairs(spark):
    """Hot-spot corpus (one cell holds most rows, jittered so leaf ids stay
    distinct): salted output equals unsalted on the exact shape salting
    exists for."""
    rng = np.random.default_rng(11)
    n = 800
    lat = np.where(np.arange(n) % 4 == 0, -90.0 + 180.0 * rng.random(n), 48.0 + 0.003 * rng.random(n))
    lng = np.where(np.arange(n) % 4 == 0, -180.0 + 360.0 * rng.random(n), 10.0 + 0.003 * rng.random(n))
    cells = ck.from_latlng_degrees(lat, lng).view(np.int64)
    ph = (np.arange(n) * 40503) % 65536
    df = spark.createDataFrame(
        [(int(k), float(a), float(o), int(c), int(h)) for k, a, o, c, h in zip(range(n), lat, lng, cells, ph)],
        "point_id long, lat double, lng double, cell_id long, phash long",
    )
    base = {(r.id_lo, r.id_hi) for r in geo_neardup_pairs(df, 0.01, 8).collect()}
    salted = {(r.id_lo, r.id_hi) for r in geo_neardup_pairs(df, 0.01, 8, salt=8).collect()}
    assert salted == base and len(base) > 100


def test_global_salt_is_unconditional(spark, pts):
    """Global salting is the hot-only tree with every bucket hot: the
    optimizer folds the CASE WHEN true away, leaving the K21 ring explode
    plus the two unconditional class explodes (ring edges, right rows)."""
    df, _, _, _ = pts
    plan = geo_neardup_pairs(df, RADIUS, MAX_HAM, salt=4)._jdf.queryExecution().optimizedPlan().toString()
    assert "CASE WHEN" not in plan
    assert plan.count("Generate ") == 3


def test_salt_overflow_rejected(spark, pts):
    df, _, _, _ = pts
    lvl = geo_block_level(RADIUS)
    too_big = (1 << (2 * (30 - lvl))) + 1
    with pytest.raises(ValueError, match="salt"):
        geo_neardup_pairs(df, RADIUS, MAX_HAM, salt=too_big)


def _hot_corpus(spark, n=800, hot_every=4):
    """Hot-spot corpus: 3/4 of rows jittered inside one ~0.003-degree box
    (one blocking bucket at the 0.01-rad radius), the rest uniform."""
    rng = np.random.default_rng(11)
    lat = np.where(np.arange(n) % hot_every == 0, -90.0 + 180.0 * rng.random(n), 48.0 + 0.003 * rng.random(n))
    lng = np.where(np.arange(n) % hot_every == 0, -180.0 + 360.0 * rng.random(n), 10.0 + 0.003 * rng.random(n))
    cells = ck.from_latlng_degrees(lat, lng).view(np.int64)
    ph = (np.arange(n) * 40503) % 65536
    return spark.createDataFrame(
        [(int(k), float(a), float(o), int(c), int(h)) for k, a, o, c, h in zip(range(n), lat, lng, cells, ph)],
        "point_id long, lat double, lng double, cell_id long, phash long",
    )


def test_hot_only_salt_bit_identical(spark):
    """salt_threshold salts ONLY the hot buckets; cold rows keep the
    unsalted plan and the unioned pair set is bit-identical (full tuple,
    including dist_nrad/hamming) to the unsalted run."""
    df = _hot_corpus(spark)
    base = {(r.id_lo, r.id_hi, r.dist_nrad, r.hamming) for r in geo_neardup_pairs(df, 0.01, 8).collect()}
    rows = geo_neardup_pairs(df, 0.01, 8, salt=8, salt_threshold=50).collect()
    got = {(r.id_lo, r.id_hi, r.dist_nrad, r.hamming) for r in rows}
    assert len(got) == len(rows)  # disjoint paths: no pair emitted twice
    assert got == base and len(base) > 100


def test_hot_only_salt_no_hot_buckets(spark, pts):
    """A threshold nothing exceeds degenerates to the plain unsalted plan."""
    df, lat, lng, ph = pts
    base = {(r.id_lo, r.id_hi) for r in geo_neardup_pairs(df, RADIUS, MAX_HAM).collect()}
    got = {(r.id_lo, r.id_hi) for r in geo_neardup_pairs(df, RADIUS, MAX_HAM, salt=8, salt_threshold=N).collect()}
    assert got == base and base


def test_hot_only_salt_replicates_only_hot_probes(spark):
    """The scale contract: ONE join tree (no union — a union-of-paths
    variant built the ring's distinct+K21 hop twice and measured SLOWER
    than unsalted at 32M rows), with the salt explode CONDITIONAL on the
    hot set: rows outside the hot 9-neighborhood keep exactly one class-0
    replica, so the salt tax is proportional to hot-vicinity rows, not the
    corpus."""
    df = _hot_corpus(spark)
    plan = geo_neardup_pairs(df, 0.01, 8, salt=8, salt_threshold=50)._jdf.queryExecution().analyzed().toString()
    assert "Union" not in plan  # single join tree, ring/left scanned once
    assert plan.count("explode") == 3  # K21 ring + 2 conditional class explodes
    # the explode arrays are conditional on the hot IN-set (class fan-out
    # only inside the hot vicinity)
    assert plan.count("CASE WHEN") >= 2 and " IN (" in plan


def test_hot_only_salt_requires_salt(spark, pts):
    df, _, _, _ = pts
    with pytest.raises(ValueError, match="salt_threshold requires salt"):
        geo_neardup_pairs(df, RADIUS, MAX_HAM, salt_threshold=10)


def test_hot_set_in_sql_is_one_parse(spark, py4j_round_trips):
    """The hot-bucket tests are one parsed ``IN (...)`` text: a few py4j
    round trips for 5,000 ids where ``Column.isin`` makes one or more per
    id, planned as an INSET, keeping the rows isin keeps."""
    from s2_geometry_library_java_spark.functions.native import in_set_sql

    hot = [(-1) ** i * (i * 1_000_003 + (1 << 40)) for i in range(5000)] + [-(1 << 63)]
    probe = spark.range(12000).select(
        F.expr("(CASE WHEN id % 2 = 0 THEN 1 ELSE -1 END) * (id * 1000003 + 1099511627776)").alias("bucket")
    )
    with py4j_round_trips() as calls:
        kept = probe.filter(F.expr(in_set_sql("bucket", hot)))
    assert 0 < calls[0] <= 10, calls[0]
    assert "INSET" in kept._jdf.queryExecution().optimizedPlan().toString()
    rows = sorted(r["bucket"] for r in kept.collect())
    assert len(rows) == 5000
    assert rows == sorted(r["bucket"] for r in probe.filter(F.col("bucket").isin(hot)).collect())
