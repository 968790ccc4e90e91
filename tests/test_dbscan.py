"""DBSCAN vs a driver-side oracle implementing the reference semantics:

neighbors via cartesian incl. self; cores = count >= min_pts; edges
core->neighbor; undirected CC; components >= k are clusters, rest noise
(DBSCAN.py:161-181).
"""

import random

from dbscan_pyspark_spark.operators import dbscan


def _oracle(pts, eps, min_pts, k, variant="cc"):
    """``variant='scc'`` keeps core-core edges only: a component is the
    cores it connects, and a border point is a singleton."""
    ids = [i for i, _ in pts]
    coords = dict(pts)

    def d(a, b):
        return sum(abs(x - y) for x, y in zip(coords[a], coords[b]))

    nbrs = {i: [j for j in ids if d(i, j) < eps] for i in ids}
    cores = {i for i in ids if len(nbrs[i]) >= min_pts}
    # union-find over core->neighbor edges
    parent = {i: i for i in ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    for c in cores:
        for nb in nbrs[c]:
            if variant == "cc" or nb in cores:
                union(c, nb)
    comp = {}
    for i in ids:
        comp.setdefault(find(i), set()).add(i)
    out = {}
    for members in comp.values():
        is_cluster = len(members) >= k
        label = min(members) if is_cluster else None
        for m in members:
            out[m] = label
    return out


def test_dbscan_two_blobs_and_noise(spark):
    rng = random.Random(3)
    pts = []
    for i in range(40):  # blob at (0,0)
        pts.append((i, [float(rng.uniform(0, 4)), float(rng.uniform(0, 4))]))
    for i in range(40, 80):  # blob at (100,100)
        pts.append((i, [float(rng.uniform(100, 104)), float(rng.uniform(100, 104))]))
    pts.append((900, [50.0, 50.0]))  # lone noise point
    df = spark.createDataFrame(pts, ["id", "features"]).repartition(4)

    expected = _oracle(pts, eps=3.0, min_pts=5, k=5)
    got = {r["id"]: r["cluster_id"] for r in dbscan(df, 3.0, 5, 5).collect()}
    assert got == expected
    assert got[900] is None  # the lone point is noise
    assert got[0] is not None and got[40] is not None
    assert got[0] != got[40]  # blobs are distinct clusters


def test_dbscan_random_matches_oracle(spark):
    rng = random.Random(17)
    pts = [
        (i, [float(rng.randint(0, 25)), float(rng.randint(0, 25))])
        for i in range(150)
    ]
    df = spark.createDataFrame(pts, ["id", "features"]).repartition(4)
    for eps, min_pts, k in [(3.0, 6, 6), (2.0, 4, 8)]:
        expected = _oracle(pts, eps, min_pts, k)
        got = {r["id"]: r["cluster_id"] for r in dbscan(df, eps, min_pts, k).collect()}
        assert got == expected


def test_dbscan_driver_matches_distributed(spark, monkeypatch):
    """The driver Kruskal pass and its distributed twin (the per-ε
    chain, forced by a zero pair bound) give identical labels for both
    variants, and both match the brute-force oracles — so the size
    crossover can never change results."""
    import importlib

    dbscan_mod = importlib.import_module("dbscan_pyspark_spark.operators.dbscan")
    rng = random.Random(23)
    pts = [
        (i, [float(rng.randint(0, 20)), float(rng.randint(0, 20))])
        for i in range(120)
    ] + [(1000 + i, [5.0, 5.0]) for i in range(10)]  # duplicate group
    df = spark.createDataFrame(pts, ["id", "features"]).repartition(4)
    for variant in ("cc", "scc"):
        expected = _oracle(pts, 3.0, 6, 6, variant)
        driver = {
            r["id"]: r["cluster_id"]
            for r in dbscan(df, 3.0, 6, 6, variant=variant).collect()
        }
        with monkeypatch.context() as m:
            m.setattr(dbscan_mod, "_DRIVER_PAIRS_THRESHOLD", 0)
            distributed = {
                r["id"]: r["cluster_id"]
                for r in dbscan(df, 3.0, 6, 6, variant=variant).collect()
            }
        assert driver == expected, variant
        assert distributed == expected, variant


def test_dbscan_scc_variant_smaller_clusters(spark):
    # core-core mutual edges only: border points fall out as noise
    rng = random.Random(5)
    pts = [(i, [float(rng.uniform(0, 5)), float(rng.uniform(0, 5))]) for i in range(60)]
    df = spark.createDataFrame(pts, ["id", "features"])
    cc = {r["id"]: r["cluster_id"] for r in dbscan(df, 2.0, 8, 8, variant="cc").collect()}
    scc = {r["id"]: r["cluster_id"] for r in dbscan(df, 2.0, 8, 8, variant="scc").collect()}
    cc_members = {i for i, c in cc.items() if c is not None}
    scc_members = {i for i, c in scc.items() if c is not None}
    assert scc_members <= cc_members
    assert scc == _oracle(pts, 2.0, 8, 8, "scc")


def test_dbscan_assign_labels_new_points(spark):
    from dbscan_pyspark_spark.operators.dbscan import dbscan, dbscan_assign

    # two tight blobs + one far-away new point
    train_rows = [(i, [0.0 + i % 3, 0.0]) for i in range(12)] + [
        (100 + i, [50.0 + i % 3, 0.0]) for i in range(12)
    ]
    train = spark.createDataFrame(
        train_rows, "id long, features array<double>"
    )
    labels = dbscan(train, eps=2.0, min_pts=4)
    new = spark.createDataFrame(
        [(500, [1.0, 0.5]), (501, [51.0, 0.2]), (502, [500.0, 500.0])],
        "id long, features array<double>",
    )
    out = {
        r["id"]: (r["cluster_id"], r["is_noise"])
        for r in dbscan_assign(new, train, labels, eps=2.0).collect()
    }
    assert out[500] == (0, False)      # joins blob at origin (min id 0)
    assert out[501] == (100, False)    # joins far blob (min id 100)
    assert out[502] == (None, True)    # nowhere near anything


def test_dbscan_assign_tie_breaks_deterministically(spark):
    from dbscan_pyspark_spark.operators.dbscan import dbscan, dbscan_assign

    # two clusters equidistant from the new point
    train_rows = [(i, [0.0, float(i % 2)]) for i in range(4)] + [
        (10 + i, [4.0, float(i % 2)]) for i in range(4)
    ]
    train = spark.createDataFrame(train_rows, "id long, features array<double>")
    labels = dbscan(train, eps=1.5, min_pts=3)
    new = spark.createDataFrame([(99, [2.0, 0.0])], "id long, features array<double>")
    a = dbscan_assign(new, train, labels, eps=2.5).first()
    b = dbscan_assign(new, train, labels, eps=2.5).first()
    assert a["cluster_id"] == b["cluster_id"] == 0  # lower cluster id wins


def test_ragged_features_fail_loudly(spark):
    """The scalar contraction keys assume fixed-dim vectors; ragged
    input must raise instead of silently contracting distinct vectors
    into one rep, and a NULL array must raise a readable message too,
    not a NULL one."""
    import pytest as _pytest

    bad = spark.createDataFrame(
        [(1, [1.0, 2.0]), (2, [1.0]), (3, [1.0, 2.0, 3.0])],
        "id long, features array<double>",
    )
    with _pytest.raises(Exception, match="duplicate contraction expects"):
        dbscan(bad, eps=1.5, min_pts=2).count()
    null_row = spark.createDataFrame(
        [(1, [1.0, 2.0]), (2, None)], "id long, features array<double>"
    )
    with _pytest.raises(
        Exception, match="expects fixed 2-dim feature vectors, got size -1"
    ):
        dbscan(null_row, eps=1.5, min_pts=2, dim=2).count()
