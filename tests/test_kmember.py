"""k-member constrained k-means invariants (SURVEY.md §7 phase 4):
every cluster >= k members, full coverage, cost sanity."""

import random

import pytest
from pyspark.sql import functions as F

from dbscan_pyspark_spark.operators.kmember import (
    kmember_anonymize,
    kmember_kmeans,
    kmember_search,
)


@pytest.fixture(scope="module")
def blob_points(spark):
    rng = random.Random(31)
    pts = []
    i = 0
    for cx, cy in [(0, 0), (30, 5), (10, 40)]:
        for _ in range(40):
            pts.append((i, [cx + rng.uniform(-3, 3), cy + rng.uniform(-3, 3)]))
            i += 1
    return spark.createDataFrame(pts, ["id", "features"]).repartition(4)


def test_kmember_invariants(spark, blob_points):
    n = blob_points.count()
    res = kmember_kmeans(blob_points, k=10, n_clusters=5, max_iter=8)

    sizes = res.assignments.groupBy("cluster_id").count().collect()
    assert sum(r["count"] for r in sizes) == n  # full coverage
    assert all(r["count"] >= 10 for r in sizes)  # k-member constraint
    assert len(sizes) == 5
    assert res.cost >= 0
    # each point assigned exactly once
    assert res.assignments.select("id").distinct().count() == n


def test_kmember_tight_feasibility(spark):
    # n == k * n_clusters: every cluster must end up with exactly k
    pts = [(i, [float(i % 7), float(i // 7)]) for i in range(30)]
    df = spark.createDataFrame(pts, ["id", "features"])
    res = kmember_kmeans(df, k=10, n_clusters=3, max_iter=5)
    sizes = [r["count"] for r in res.assignments.groupBy("cluster_id").count().collect()]
    assert sorted(sizes) == [10, 10, 10]


def test_kmember_infeasible_raises(spark):
    df = spark.createDataFrame([(i, [float(i)]) for i in range(5)], ["id", "features"])
    with pytest.raises(ValueError, match="infeasible"):
        kmember_kmeans(df, k=10, n_clusters=3)


def test_kmember_anonymize_shape(spark, blob_points):
    res = kmember_kmeans(blob_points, k=12, n_clusters=4, max_iter=5)
    out = kmember_anonymize(blob_points, res)
    assert out.count() == blob_points.count()
    # every output row's an_features is its cluster's centroid
    cents = {r["cluster_id"]: r["centroid"] for r in res.centroids.collect()}
    for r in out.collect():
        assert r["an_features"] == cents[r["cluster_id"]]


@pytest.mark.slow
def test_kmember_search_picks_feasible_best(spark, blob_points):
    metrics, res = kmember_search(
        blob_points, k=15, candidates=[3, 6], restarts=2, max_iter=4
    )
    sizes = [r["count"] for r in res.assignments.groupBy("cluster_id").count().collect()]
    assert all(s >= 15 for s in sizes)
    # metrics: one row per (candidate, restart); exactly one accepted,
    # and it carries the (strictly-first) minimum cost
    rows = sorted(
        map(tuple, metrics.collect())
    )  # (n_clusters, restart, cost, n_iter, accepted)
    assert [(r[0], r[1]) for r in rows] == [(3, 0), (3, 1), (6, 0), (6, 1)]
    accepted = [r for r in rows if r[4] == 1]
    assert len(accepted) == 1
    assert accepted[0][2] == min(r[2] for r in rows)
    assert abs(accepted[0][2] - res.cost) < 1e-9


def test_kmember_search_quantized_sweep_is_exact(spark):
    """The quantized sweep: metrics are exact integers, the accepted
    run is the (cost, n_clusters, restart)-min, every run respects the
    >= k constraint, and the whole sweep is bit-deterministic."""
    from dbscan_pyspark_spark.operators.kmember import (
        kmember_search_quantized,
    )

    pts = [(i, [float(i % 9), float(i // 9)]) for i in range(60)]
    df = spark.createDataFrame(pts, ["id", "features"])
    m1, best1 = kmember_search_quantized(
        df, k=10, candidates=[3, 5], restarts=2, n_iter=1
    )
    m2, best2 = kmember_search_quantized(
        df, k=10, candidates=[3, 5], restarts=2, n_iter=1
    )
    r1 = sorted(map(tuple, m1.collect()))
    assert r1 == sorted(map(tuple, m2.collect()))
    assert sorted(map(tuple, best1.collect())) == sorted(
        map(tuple, best2.collect())
    )
    assert [(r[0], r[1]) for r in r1] == [(3, 0), (3, 1), (5, 0), (5, 1)]
    acc = [r for r in r1 if r[3] == 1]
    assert len(acc) == 1
    assert (acc[0][2], acc[0][0], acc[0][1]) == min(
        (r[2], r[0], r[1]) for r in r1
    )
    # constraint holds on the winning assignment
    from collections import Counter

    sizes = Counter(c for _, c, _ in map(tuple, best1.collect()))
    assert min(sizes.values()) >= 10
    # infeasible candidate raises with the explicit contract
    import pytest as _pytest

    with _pytest.raises(ValueError, match="infeasible"):
        kmember_search_quantized(df, k=10, candidates=[7], restarts=1)


def test_kmember_quantized_constraint_and_determinism(spark):
    from dbscan_pyspark_spark.operators.kmember import kmember_quantized

    pts = [(i, [float(i % 7), float(i // 7)]) for i in range(30)]
    df = spark.createDataFrame(pts, ["id", "features"])
    out1 = sorted(
        map(tuple, kmember_quantized(df, k=10, n_clusters=3).collect())
    )
    out2 = sorted(
        map(tuple, kmember_quantized(df, k=10, n_clusters=3).collect())
    )
    # bit-for-bit deterministic (no seed, no sampling)
    assert out1 == out2
    assert len(out1) == 30
    from collections import Counter

    sizes = Counter(c for _, c, _ in out1)
    # n == k * n_clusters: exactly k everywhere after repair
    assert sorted(sizes.values()) == [10, 10, 10]


def test_kmember_quantized_fixpoint_rounds_are_identity(spark):
    """Extra repair rounds past the fixpoint must not change the
    result — the unroll-equals-loop argument the oracle relies on."""
    from dbscan_pyspark_spark.operators.kmember import kmember_quantized

    pts = [(i, [float(i % 5), float(i * 3 % 11)]) for i in range(40)]
    df = spark.createDataFrame(pts, ["id", "features"])
    a = sorted(map(tuple, kmember_quantized(
        df, k=8, n_clusters=4, repair_rounds=2).collect()))
    b = sorted(map(tuple, kmember_quantized(
        df, k=8, n_clusters=4, repair_rounds=6).collect()))
    assert a == b


def test_kmember_quantized_contracts(spark):
    from dbscan_pyspark_spark.operators.kmember import kmember_quantized

    df = spark.createDataFrame(
        [(i, [float(i)]) for i in range(5)], ["id", "features"]
    )
    with pytest.raises(ValueError, match="infeasible"):
        kmember_quantized(df, k=10, n_clusters=3)
    with pytest.raises(ValueError, match="must be"):
        kmember_quantized(df, k=0, n_clusters=3)

    # scale=None: already-integral features pass through exactly
    dfi = spark.createDataFrame(
        [(i, [float(i % 4), float(i % 3)]) for i in range(12)],
        ["id", "features"],
    )
    out = kmember_quantized(dfi, k=4, n_clusters=3, scale=None)
    assert out.count() == 12


def test_repair_keeps_cluster_ids_beyond_int_range(spark):
    # the repair's driver-built surplus/deficient/need frames carry the
    # cluster ids as bigint: ids past 2^31 move members, not overflow
    from dbscan_pyspark_spark.operators.anonymize import assign_nearest
    from dbscan_pyspark_spark.operators.kmember import _repair

    big = 2**33
    points = spark.createDataFrame(
        [(1, [0.0]), (2, [1.0]), (3, [2.0]), (4, [10.0])], "id long, features array<double>"
    )
    cents = spark.createDataFrame(
        [(big, [0.5]), (big + 1, [10.0])], "cluster_id long, centroid array<double>"
    )
    assign = assign_nearest(points, cents)
    out = _repair(points, assign, cents, 2, "l1", "id", "features", max_rounds=4)
    got = {r["id"]: r["cluster_id"] for r in out.collect()}
    assert got == {1: big, 2: big, 3: big + 1, 4: big + 1}
