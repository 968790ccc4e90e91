"""Grid ε-join vs brute-force oracle on random points (seeded)."""

import random

import pytest
from pyspark.sql import functions as F

from dbscan_pyspark_spark.operators import (
    core_points,
    eps_join,
    eps_self_join,
    neighbor_counts,
)
from dbscan_pyspark_spark.operators.eps_join import _key_dims
from dbscan_pyspark_spark.plans.inspect import assert_no_cartesian, node_metrics


def _brute_pairs(pts, eps, metric="l1", probe=None):
    out = set()
    for i, a in pts:
        for j, b in pts if probe is None else probe:
            if metric == "l1":
                d = sum(abs(x - y) for x, y in zip(a, b))
            else:
                d = sum((x - y) ** 2 for x, y in zip(a, b)) ** 0.5
            if d < eps:
                out.add((i, j))
    return out


@pytest.fixture(scope="module")
def small_points(spark):
    rng = random.Random(7)
    pts = [(i, [float(rng.randint(0, 30)), float(rng.randint(0, 30))]) for i in range(120)]
    # duplicates are semantically meaningful (FIXTURES.md §1)
    pts += [(200 + i, pts[i][1]) for i in range(5)]
    df = spark.createDataFrame(pts, ["id", "features"]).repartition(4)
    return pts, df


@pytest.mark.parametrize("metric", ["l1", "l2"])
@pytest.mark.parametrize("eps", [2.0, 5.0])
def test_eps_self_join_matches_bruteforce(spark, small_points, metric, eps):
    pts, df = small_points
    expected = _brute_pairs(pts, eps, metric)
    got = {
        (r["a_id"], r["b_id"])
        for r in eps_self_join(df, eps, metric=metric).collect()
    }
    assert got == expected


def test_unique_pairs_and_no_self(spark, small_points):
    pts, df = small_points
    expected = {(i, j) for (i, j) in _brute_pairs(pts, 3.0) if i < j}
    got = {
        (r["a_id"], r["b_id"])
        for r in eps_self_join(df, 3.0, unique_pairs=True).collect()
    }
    assert got == expected


def test_neighbor_counts_include_self(spark, small_points):
    pts, df = small_points
    expected = _brute_pairs(pts, 4.0)
    cnt = {}
    for i, j in expected:
        cnt[i] = cnt.get(i, 0) + 1
    got = {r["id"]: r["n_neighbors"] for r in neighbor_counts(df, 4.0).collect()}
    assert got == cnt
    # every point is its own neighbor at any eps > 0
    assert all(v >= 1 for v in got.values())


def test_core_points(spark, small_points):
    pts, df = small_points
    counts = {}
    for i, j in _brute_pairs(pts, 4.0):
        counts[i] = counts.get(i, 0) + 1
    expected = {i for i, c in counts.items() if c >= 4}
    got = {r["id"] for r in core_points(df, 4.0, 4).collect()}
    assert got == expected


def test_distance_column(spark):
    df = spark.createDataFrame(
        [(1, [0.0, 0.0]), (2, [1.0, 1.0]), (3, [10.0, 10.0])], ["id", "features"]
    )
    rows = {
        (r["a_id"], r["b_id"]): r["distance"]
        for r in eps_self_join(df, 3.0).collect()
    }
    assert rows[(1, 2)] == 2.0
    assert rows[(1, 1)] == 0.0
    assert (1, 3) not in rows


def test_k_distance_exact_tiny(spark):
    from dbscan_pyspark_spark.operators.eps_join import k_distance

    # 1-D points at 0, 1, 3, 7: kth (k=2) nearest incl. self is the
    # nearest other point: 1, 1, 2, 4.
    pts = spark.createDataFrame(
        [(i, [float(v)]) for i, v in enumerate([0, 1, 3, 7])],
        "id long, features array<double>",
    )
    got = {
        r["sample_id"]: r["kth_dist"]
        for r in k_distance(pts, k=2, n_samples=4).collect()
    }
    assert got == {0: 1.0, 1: 1.0, 2: 2.0, 3: 4.0}


def test_k_distance_pool_mode_bounds_candidates(spark):
    from dbscan_pyspark_spark.operators.eps_join import k_distance

    pts = spark.createDataFrame(
        [(i, [float(i)]) for i in range(100)],
        "id long, features array<double>",
    )
    exact = k_distance(pts, k=3, n_samples=8)
    pooled = k_distance(pts, k=3, n_samples=8, pool_size=40)
    assert exact.count() == 8 and pooled.count() == 8
    # pooled kth distance can only be >= the exact one (fewer candidates)
    j = exact.withColumnRenamed("kth_dist", "d_exact").join(
        pooled.withColumnRenamed("kth_dist", "d_pool"), "sample_id"
    )
    assert j.where(F.col("d_pool") < F.col("d_exact")).count() == 0


# -- key dimensions: the join keys only on dimensions spanning >= 3 cells --

# eps = 5: dims 0 and 3 span many cells, dim 4 exactly 3 (cells 0..2,
# keyed), dim 1 two cells, dim 2 one cell, dim 5 is constant
_MIXED_RANGES = [(0, 30), (0, 9), (0, 4), (0, 20), (3, 12), (7, 7)]


@pytest.fixture(scope="module")
def mixed_6d(spark):
    rng = random.Random(11)
    pts = [
        (i, [float(rng.randint(lo, hi)) for lo, hi in _MIXED_RANGES])
        for i in range(48)
    ]
    pts += [(100 + i, pts[i][1]) for i in range(4)]  # duplicate rows
    # pin every range end, so the spans do not depend on the draw
    pts += [(200, [float(lo) for lo, _ in _MIXED_RANGES])]
    pts += [(201, [float(hi) for _, hi in _MIXED_RANGES])]
    df = spark.createDataFrame(pts, "id long, features array<double>").repartition(3)
    return pts, df


def test_key_dims_follow_the_span_rule(mixed_6d):
    _, df = mixed_6d
    assert _key_dims(df, df, 5.0, "features", 6) == [0, 3, 4]


@pytest.mark.parametrize("metric", ["l1", "l2"])
@pytest.mark.parametrize("unique", [False, True])
def test_mixed_span_6d_matches_bruteforce(mixed_6d, metric, unique):
    pts, df = mixed_6d
    eps = 8.0 if metric == "l1" else 6.0
    expected = _brute_pairs(pts, eps, metric)
    if unique:
        expected = {(i, j) for i, j in expected if i < j}
    got = eps_join(df, df, eps, metric=metric, keep_distance=False, unique_pairs=unique)
    got = {(r["a_id"], r["b_id"]) for r in got.collect()}
    assert got == expected
    assert any(i != j for i, j in got)  # not only self-pairs


def test_all_narrow_input_keys_on_widest_dim(spark):
    # every dimension inside 2 cells: no span qualifies, so the join keys
    # on the widest one (dim 1) and stays an equi-join
    rng = random.Random(5)
    pts = [
        (i, [float(rng.randint(0, 4)), float(rng.randint(3, 8)), 1.0])
        for i in range(30)
    ]
    df = spark.createDataFrame(pts, "id long, features array<double>")
    assert _key_dims(df, df, 5.0, "features", 3) == [1]
    pairs = eps_join(df, df, 5.0, keep_distance=False)
    assert_no_cartesian(pairs)
    assert {(r["a_id"], r["b_id"]) for r in pairs.collect()} == _brute_pairs(pts, 5.0)


def test_two_frame_spans_are_taken_over_the_union(spark):
    # at eps 5, dim 0 occupies cell 0 on the build side and cells 1-2 on
    # the probe side: 3 cells over the union, so the join keys on it.
    # Dim 1 spans 2 cells on each side; spans taken on the build side
    # alone would key on dim 1 instead.
    rng = random.Random(3)
    build = [(i, [float(rng.randint(0, 4)), float(rng.randint(0, 9))]) for i in range(25)]
    probe = [
        (100 + i, [float(rng.randint(5, 14)), float(rng.randint(0, 9))])
        for i in range(25)
    ]
    build += [(30, [0.0, 0.0])]
    probe += [(130, [14.0, 9.0])]
    schema = "id long, features array<double>"
    a = spark.createDataFrame(build, schema)
    b = spark.createDataFrame(probe, schema)
    assert _key_dims(a, a, 5.0, "features", 2) == [1]
    assert _key_dims(a, b, 5.0, "features", 2) == [0]
    got = {
        (r["a_id"], r["b_id"])
        for r in eps_join(a, b, 5.0, keep_distance=False).collect()
    }
    assert got == _brute_pairs(build, 5.0, probe=probe)
    assert got  # pairs across the cell 0 | 1 border exist


def test_anon_6d_probe_explodes_27_offsets(spark):
    # the data10k_6attr quasi-identifier ranges at eps 20: only dims 0-2
    # span >= 3 cells, so each probe row explodes 3^3 offsets, not 3^6
    ranges = [(15, 90), (130, 190), (30, 100), (2, 23), (0, 5), (0, 20)]
    rng = random.Random(1)
    pts = [(i, [float(rng.randint(lo, hi)) for lo, hi in ranges]) for i in range(40)]
    pts += [(40, [float(lo) for lo, _ in ranges]), (41, [float(hi) for _, hi in ranges])]
    df = spark.createDataFrame(pts, "id long, features array<double>").repartition(2)
    assert _key_dims(df, df, 20.0, "features", 6) == [0, 1, 2]
    for unique, offsets in ((False, 27), (True, 14)):
        pairs = eps_join(df, df, 20.0, keep_distance=False, unique_pairs=unique)
        pairs.collect()
        assert node_metrics(pairs, "Generate") == [len(pts) * offsets]
