"""M4/M5: tiling + resumable manifests, and kNN vs brute-force oracle."""

import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from s2_geometry_library_java_spark.kernel import cellid as ck
from s2_geometry_library_java_spark.kernel.predicates import haversine_radians
from s2_geometry_library_java_spark.operators.knn import knn_join, radius_join
from s2_geometry_library_java_spark.operators.layers import rect_layer
from s2_geometry_library_java_spark.operators.pip_join import pip_join, with_cell_id
from s2_geometry_library_java_spark.operators.tiling import assign_tiles, read_ledger, run_tiled_write, tile_manifest
from s2_geometry_library_java_spark.sources.tables import geotagged_points, geotagged_queries


@pytest.fixture(scope="module")
def points(spark, sf_dir):
    return geotagged_points(spark, sf_dir).cache()


# ---------------------------------------------------------------------------
# kNN
# ---------------------------------------------------------------------------
def test_knn_matches_bruteforce(spark, sf_dir, points):
    queries = [(r["query_id"], r["qlat"], r["qlng"]) for r in geotagged_queries(spark, sf_dir, limit=8).collect()]
    k = 5
    result = knn_join(points, queries, k)
    got = {}
    for r in result.select("query_id", "point_id", "rank").collect():
        got.setdefault(r["query_id"], []).append((r["rank"], r["point_id"]))

    pdf = points.toPandas()
    lat = np.radians(pdf["lat"].to_numpy())
    lng = np.radians(pdf["lng"].to_numpy())
    ids = pdf["point_id"].to_numpy()
    for qid, qlat, qlng in queries:
        d = haversine_radians(np.radians(qlat), np.radians(qlng), lat, lng)
        order = sorted(zip(d, ids))[:k]
        expect = [(i + 1, int(pid)) for i, (_, pid) in enumerate(order)]
        assert sorted(got[str(qid)]) == expect, f"query {qid}"


def test_radius_join_matches_bruteforce(spark, sf_dir, points):
    queries = [(r["query_id"], r["qlat"], r["qlng"]) for r in geotagged_queries(spark, sf_dir, limit=8).collect()]
    r_rad = 0.12
    result = radius_join(points, queries, r_rad)
    got = {}
    for row in result.select("query_id", "point_id").collect():
        got.setdefault(row["query_id"], set()).add(row["point_id"])

    pdf = points.toPandas()
    lat = np.radians(pdf["lat"].to_numpy())
    lng = np.radians(pdf["lng"].to_numpy())
    ids = pdf["point_id"].to_numpy()
    for qid, qlat, qlng in queries:
        d = haversine_radians(np.radians(qlat), np.radians(qlng), lat, lng)
        expect = {int(pid) for pid in ids[d <= r_rad]}
        assert got.get(str(qid), set()) == expect, f"query {qid}"


def test_radius_join_shuffle_path_matches_broadcast(spark, sf_dir, points):
    queries = [(r["query_id"], r["qlat"], r["qlng"]) for r in geotagged_queries(spark, sf_dir, limit=4).collect()]
    a = radius_join(points, queries, 0.12)
    b = radius_join(points, queries, 0.12, broadcast_queries=False)
    pairs_a = {(r["query_id"], r["point_id"]) for r in a.select("query_id", "point_id").collect()}
    pairs_b = {(r["query_id"], r["point_id"]) for r in b.select("query_id", "point_id").collect()}
    assert pairs_a == pairs_b and pairs_a


def test_radius_join_rejects_oversized_radius(spark, points):
    with pytest.raises(ValueError, match="level-0 bucket invariant"):
        radius_join(points, [("q0", 0.0, 0.0)], radius_rad=1.0)


def _sparse_corner(spark):
    """A dense cluster far away plus five neighbors around the sparse query
    (-40, 100) at ~0.04-0.05 rad: outside a 0.02 first-rung radius, inside
    the 0.08 re-probe radius."""
    import pandas as pd

    rng_lat, rng_lng = [], []
    # dense cluster far away (sets nothing here; realism only)
    for i in range(200):
        rng_lat.append(10.0 + 0.002 * i)
        rng_lng.append(10.0 + 0.003 * (i % 17))
    sparse = [(-42.6, 100.0), (-37.4, 100.0), (-40.0, 96.5), (-40.0, 103.5), (-42.2, 102.2)]
    for la, ln in sparse:
        rng_lat.append(la)
        rng_lng.append(ln)
    pdf = pd.DataFrame(
        {"point_id": range(len(rng_lat)), "lat": rng_lat, "lng": rng_lng}
    )
    return spark.createDataFrame(pdf), len(pdf)


def _executed(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_knn_unresolved_reprobe_avoids_brute_scan(spark):
    """The brute-fallback guard: a query whose first-rung bucket probe finds
    fewer than k candidates (sparse corner) must resolve through the 4x
    coarser re-probe rung, and with the corpus size unknown the executed
    plan holds no brute cross join — no full-corpus scan per unresolved
    query."""
    pts, n = _sparse_corner(spark)
    # unknown corpus size (explicit radius, no count) = the web-scale shape:
    # the brute net must stay OUT of the plan entirely — a BNLJ scans its
    # whole streamed side even with an empty build side
    res = knn_join(pts, [("q0", -40.0, 100.0)], k=5, init_radius_rad=0.02)
    rows = res.collect()
    got = {r["point_id"] for r in rows}
    assert got == set(range(200, 205))  # the five sparse neighbors
    assert all(0.02 < r["dist"] <= 0.08 for r in rows)  # rung 1 found none
    plan = _executed(res)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    # ...and the full exactness net (a known-small corpus) changes nothing
    with_net = knn_join(pts, [("q0", -40.0, 100.0)], k=5, init_radius_rad=0.02, n_points=n)
    assert {r["point_id"] for r in with_net.collect()} == got


@pytest.mark.parametrize("hint,net", [("corpus", True), ("huge", False)])
def test_knn_brute_net_follows_n_points(spark, hint, net):
    """The brute net is derived from the corpus size: an ``n_points`` at or
    below BRUTE_NET_MAX_ROWS puts the broadcast-NL sweep in the executed
    plan (AQE's initial plan; empty-relation propagation drops it at run
    time once the re-probe resolved every query); a web-scale hint keeps it
    out.  Rows are the same either way."""
    pts, n = _sparse_corner(spark)
    n_points = n if hint == "corpus" else 10**9
    res = knn_join(pts, [("q0", -40.0, 100.0)], k=5, init_radius_rad=0.02, n_points=n_points)
    assert {r["point_id"] for r in res.collect()} == set(range(200, 205))
    assert ("BroadcastNestedLoopJoin" in _executed(res)) == net


def test_knn_k_larger_than_n(spark, points):
    small = points.limit(3).cache()
    res = knn_join(small, [("q0", 10.0, 10.0)], k=10)
    assert res.count() == 3


def test_knn_eager_gating(spark, sf_dir, points):
    """The rung-1 candidates are pinned (localCheckpoint shows as an RDD
    scan in the plan) ONLY when the candidate bound is known small:
    density-derived radius + known query count.  A user-supplied radius or
    an unhinted query DataFrame must stay lazy — checkpoints are
    non-reliable on a real cluster and must not pin unbounded candidate
    sets.  Both paths return identical rows."""

    import re

    def has_checkpoint_scan(df) -> bool:
        # the checkpointed candidate subtree scans an RDD whose schema
        # carries the window columns; the driver-built query table is a
        # LocalTableScan
        plan = df._jdf.queryExecution().executedPlan().toString()
        return any(
            "_n_in_r" in cols
            for cols in re.findall(r"Scan ExistingRDD[^\[]*\[([^\]]*)\]", plan)
        )

    queries = [
        (r["query_id"], r["qlat"], r["qlng"])
        for r in geotagged_queries(spark, sf_dir, limit=4).collect()
    ]
    # list input, derived radius: bound known -> eager
    eager = knn_join(points, queries, 5)
    assert has_checkpoint_scan(eager)
    # user radius: expectation can blow up on clustered corpora -> lazy
    lazy_r = knn_join(points, queries, 5, init_radius_rad=0.3)
    assert not has_checkpoint_scan(lazy_r)
    # unhinted query DataFrame: count unknown -> lazy
    qdf = geotagged_queries(spark, sf_dir, limit=4)
    lazy_q = knn_join(points, qdf, 5)
    assert not has_checkpoint_scan(lazy_q)
    # hinted query DataFrame: bound known -> eager again
    hinted = knn_join(points, qdf, 5, n_queries=4)
    assert has_checkpoint_scan(hinted)

    key = lambda df: {
        (str(r["query_id"]), r["point_id"], r["rank"])
        for r in df.select("query_id", "point_id", "rank").collect()
    }
    expect = key(eager)
    assert expect and key(lazy_q) == expect and key(hinted) == expect


# ---------------------------------------------------------------------------
# Tiling & resume
# ---------------------------------------------------------------------------
def test_tile_assignment_is_parent_bit_math(points):
    df = assign_tiles(with_cell_id(points), tile_level=7)
    rows = df.select("cell_id", "tile_id").limit(200).collect()
    ids = np.array([r["cell_id"] for r in rows], dtype=np.int64).view(np.uint64)
    tiles = np.array([r["tile_id"] for r in rows], dtype=np.int64).view(np.uint64)
    assert np.array_equal(tiles, ck.parent(ids, 7))


def test_manifest_counts(points):
    layers = [rect_layer("r", -60.0, -120.0, 60.0, 120.0)]
    matches = pip_join(points, layers)
    man = tile_manifest(matches, tile_level=4)
    total = man.agg(F.sum("n_images")).collect()[0][0]
    assert total == matches.count()


def test_resumable_write_kill_and_resume(tmp_path, points):
    layers = [rect_layer("r", -60.0, -120.0, 60.0, 120.0)]
    matches = pip_join(points, layers)

    full_dir = str(tmp_path / "full")
    run_tiled_write(matches, full_dir, buckets=4)
    spark = points.sparkSession
    expect = spark.read.parquet(f"{full_dir}/bucket=*").drop("lineage_job", "lineage_part")

    # killed run: crash after 2 bucket commits, then resume
    resume_dir = str(tmp_path / "resume")
    with pytest.raises(RuntimeError, match="injected failure"):
        run_tiled_write(matches, resume_dir, buckets=4, fail_after=2, job_id="job-a")
    ledger = read_ledger(resume_dir)
    assert len(ledger["committed"]) == 2
    stats = run_tiled_write(matches, resume_dir, buckets=4, job_id="job-b")
    assert sorted(stats["skipped"]) == sorted(ledger["committed"])
    assert len(stats["written"]) == 2

    got = spark.read.parquet(f"{resume_dir}/bucket=*").drop("lineage_job", "lineage_part")
    assert got.count() == expect.count()
    assert got.exceptAll(expect).count() == 0 and expect.exceptAll(got).count() == 0

    # lineage: committed buckets keep the first job's id (not rewritten)
    jobs = {
        r["lineage_job"]
        for r in spark.read.parquet(f"{resume_dir}/bucket=*").select("lineage_job").distinct().collect()
    }
    assert jobs == {"job-a", "job-b"}


def test_ledger_idempotent_rerun(tmp_path, points):
    layers = [rect_layer("r", 0.0, 0.0, 50.0, 50.0)]
    matches = pip_join(points, layers)
    out = str(tmp_path / "idem")
    run_tiled_write(matches, out, buckets=2)
    stats = run_tiled_write(matches, out, buckets=2)
    assert stats["written"] == [] and sorted(stats["skipped"]) == [0, 1]
