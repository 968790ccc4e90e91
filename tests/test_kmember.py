"""k-member constrained k-means invariants (SURVEY.md §7 phase 4):
every cluster >= k members, full coverage, cost sanity."""

import random

import pytest
from pyspark.sql import functions as F

from dbscan_pyspark_spark.operators import components
from dbscan_pyspark_spark.operators import kmember as kmember_module
from dbscan_pyspark_spark.operators.kmember import kmember_anonymize, kmember_kmeans
from dbscan_pyspark_spark.session import _local_frame


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


@pytest.mark.parametrize("bound", [None, 0])  # driver solver, Spark loop
def test_kmember_rejects_max_iter_below_one(spark, monkeypatch, bound):
    if bound is not None:
        monkeypatch.setattr(components, "_DRIVER_PAIRS_THRESHOLD", bound)
    with pytest.raises(ValueError, match="max_iter must be >= 1"):
        kmember_kmeans(_grid(spark), k=10, n_clusters=3, max_iter=0)


@pytest.mark.parametrize("bound", [None, 0])  # driver solver, Spark loop
def test_kmember_rejects_ragged_features(spark, monkeypatch, bound):
    if bound is not None:
        monkeypatch.setattr(components, "_DRIVER_PAIRS_THRESHOLD", bound)
    df = _local_frame(
        spark,
        [(i, [float(i % 7), float(i // 7)] + [1.0] * (i == 5)) for i in range(30)],
        "id long, features array<double>",
    )
    with pytest.raises(ValueError, match="feature arrays differ in length"):
        kmember_kmeans(df, k=10, n_clusters=3)


@pytest.mark.parametrize("bound", [None, 0])  # driver solver, Spark loop
def test_kmember_rejects_null_features(spark, monkeypatch, bound):
    if bound is not None:
        monkeypatch.setattr(components, "_DRIVER_PAIRS_THRESHOLD", bound)
    df = _local_frame(
        spark,
        [(i, [float(i % 3), float(i // 3)]) for i in range(8)] + [(8, None)],
        "id long, features array<double>",
    )
    with pytest.raises(ValueError, match="1 NULL feature arrays"):
        kmember_kmeans(df, k=3, n_clusters=2, max_iter=1)


def test_kmember_anonymize_shape(spark, blob_points):
    res = kmember_kmeans(blob_points, k=12, n_clusters=4, max_iter=5)
    out = kmember_anonymize(blob_points, res)
    assert out.count() == blob_points.count()
    # every output row's an_features is its cluster's centroid
    cents = {r["cluster_id"]: r["centroid"] for r in res.centroids.collect()}
    for r in out.collect():
        assert r["an_features"] == cents[r["cluster_id"]]


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


def _repair_input(points, cents, metric="l1"):
    """The Spark loop's first assignment of ``points`` against the
    centroid frame ``cents``, and the centroid table it ranks against."""
    from dbscan_pyspark_spark.operators.eps_join import _metric_fn
    from dbscan_pyspark_spark.operators.kmeans import _assign, _centroid_row

    dist = _metric_fn(metric, len(cents.first()["centroid"]))
    table = _centroid_row(cents, "cluster_id", "centroid")
    pts = points.select("id", F.col("features").alias("_v"))
    return _assign(pts, table, dist=dist, dist_col="dist"), table, dist


def test_repair_keeps_cluster_ids_beyond_int_range(spark):
    # the repair's driver-built need frame carries the cluster ids in
    # their own type: ids past 2^31 move members, not overflow
    big = 2**33
    points = spark.createDataFrame(
        [(1, [0.0]), (2, [1.0]), (3, [2.0]), (4, [10.0])], "id long, features array<double>"
    )
    cents = spark.createDataFrame(
        [(big, [0.5]), (big + 1, [10.0])], "cluster_id long, centroid array<double>"
    )
    assign, table, dist = _repair_input(points, cents)
    out, fixpoint = kmember_module._repair(assign, table, 2, dist, "id", rounds=4)
    got = {r["id"]: r["cluster"] for r in out.collect()}
    assert fixpoint
    assert got == {1: big, 2: big, 3: big + 1, 4: big + 1}


def test_repair_reports_no_fixpoint_when_rounds_run_out(spark, monkeypatch):
    """The grid's first argmin leaves clusters short. One round moves
    members but cannot show the fixpoint, so the repair reports none and
    the Spark loop raises; enough rounds reach it."""
    df = _grid(spark)
    cents = _local_frame(
        spark,
        [(0, [0.0, 0.0]), (1, [6.0, 0.0]), (2, [3.0, 4.0])],
        "cluster_id int, centroid array<double>",
    )
    assign, table, dist = _repair_input(df, cents)
    repair = kmember_module._repair
    _, fixpoint = repair(assign, table, 10, dist, "id", rounds=1)
    assert not fixpoint
    out, fixpoint = repair(assign, table, 10, dist, "id", rounds=14)
    assert fixpoint
    sizes = [r["count"] for r in out.groupBy("cluster").count().collect()]
    assert sorted(sizes) == [10, 10, 10]

    def one_round(*args, **kwargs):
        return repair(*args, **{**kwargs, "rounds": 1})

    monkeypatch.setattr(components, "_DRIVER_PAIRS_THRESHOLD", 0)
    monkeypatch.setattr(kmember_module, "_repair", one_round)
    with pytest.raises(RuntimeError, match="did not converge"):
        kmember_kmeans(df, k=10, n_clusters=3, max_iter=2)


def _fail(name):
    def fail(*args, **kwargs):
        raise AssertionError(f"{name} called")

    return fail


def _driver_run(monkeypatch, df, **kw):
    # the driver solver: the Spark loop's argmin, repair and centroid
    # update never run
    with monkeypatch.context() as m:
        m.setattr(kmember_module, "_assign", _fail("_assign"))
        m.setattr(kmember_module, "_repair", _fail("_repair"))
        m.setattr(kmember_module, "_means", _fail("_means"))
        return kmember_kmeans(df, **kw)


def _twin_run(monkeypatch, df, **kw):
    # a zero pair bound forces the Spark loop; the driver solver never runs
    with monkeypatch.context() as m:
        m.setattr(components, "_DRIVER_PAIRS_THRESHOLD", 0)
        m.setattr(kmember_module, "_kmember_driver", _fail("_kmember_driver"))
        return kmember_kmeans(df, **kw)


def _rows(df):
    return sorted(map(tuple, df.collect()))


def _assert_same_result(got, want):
    assert got.assignments.dtypes == want.assignments.dtypes
    assert got.centroids.dtypes == want.centroids.dtypes
    assert _rows(got.assignments) == _rows(want.assignments)
    assert _rows(got.centroids) == _rows(want.centroids)
    assert got.cost == pytest.approx(want.cost, rel=1e-12)
    assert got.n_iter == want.n_iter


# Inputs are Arrow-built (``_local_frame``): every scan of them stays in
# the JVM, which keeps the Spark loop's many small jobs cheap.


def _grid(spark):
    # 30 points on a 7-wide grid, 3 clusters of k=10: the argmin leaves
    # clusters short, so the repair moves members
    return _local_frame(
        spark,
        [(i, [float(i % 7), float(i // 7)]) for i in range(30)],
        "id long, features array<double>",
    )


def _two_spots(spark):
    # 2 distinct vectors for 3 clusters: two init centroids coincide, the
    # higher cluster id gets no member on the tie and drops out
    return _local_frame(
        spark,
        [(i, [10.0 * (i % 2), 10.0 * (i % 2)]) for i in range(24)],
        "id long, features array<double>",
    )


def _ties(spark):
    # integer lattice: points equidistant from two centroids and equal
    # distances within clusters, so argmins, releases and caps hit their
    # tie-breaks
    return _local_frame(
        spark, [(i, [i % 6, i // 6]) for i in range(36)], "id long, features array<bigint>"
    )


@pytest.mark.parametrize("metric", ["l1", "l2"])
def test_driver_solver_matches_spark_twin(spark, monkeypatch, metric):
    """The driver solver and the Spark loop give the same assignments,
    centroids, member counts, cost and n_iter, on the path each is
    meant for: spies fail the run if the other path's pieces are
    called."""
    cases = [  # (points, arguments, clusters left at the end)
        (_grid(spark), dict(k=10, n_clusters=3, max_iter=2), 3),
        (_two_spots(spark), dict(k=5, n_clusters=3, max_iter=2, seed=7), 2),
        (_ties(spark), dict(k=6, n_clusters=4, max_iter=2, seed=3), 4),
    ]
    for df, kw, live in cases:
        got = _driver_run(monkeypatch, df, metric=metric, **kw)
        want = _twin_run(monkeypatch, df, metric=metric, **kw)
        _assert_same_result(got, want)
        sizes = [r["n_members"] for r in got.centroids.collect()]
        assert len(sizes) == live
        assert min(sizes) >= kw["k"] and sum(sizes) == df.count()


def test_driver_solver_failure_falls_back(spark, monkeypatch):
    """A driver solve that runs out of memory falls back to the Spark
    loop, whose result equals the driver solver's (and so the twin's)."""
    df = _two_spots(spark)
    kw = dict(k=5, n_clusters=3, max_iter=2, seed=7)
    want = _driver_run(monkeypatch, df, **kw)
    calls = []

    def oom(*args, **kwargs):
        calls.append("driver")
        raise MemoryError("driver out of memory")

    repair = kmember_module._repair

    def repair_spy(*args, **kwargs):
        calls.append("repair")
        return repair(*args, **kwargs)

    monkeypatch.setattr(kmember_module, "_kmember_driver", oom)
    monkeypatch.setattr(kmember_module, "_repair", repair_spy)
    got = kmember_kmeans(df, **kw)
    assert calls[:2] == ["driver", "repair"]  # tried the driver, then the loop ran
    _assert_same_result(got, want)
