"""Anonymization invariants (FIXTURES.md §3): sensitive preserved, every
member's an_features equals its cluster mean, noise takes nearest centroid."""

import random

import pytest
from pyspark.sql import functions as F

from dbscan_pyspark_spark.operators import dbscan
from dbscan_pyspark_spark.operators.anonymize import (
    anonymize,
    assign_nearest,
    cluster_centroids,
    eps_sweep,
    information_loss,
)


def _blobs(rng, centers, n_each, spread, start_id=0):
    pts, i = [], start_id
    for cx, cy in centers:
        for _ in range(n_each):
            pts.append((i, [cx + rng.uniform(-spread, spread), cy + rng.uniform(-spread, spread)], i % 5))
            i += 1
    return pts


def test_anonymize_invariants(spark):
    rng = random.Random(11)
    pts = _blobs(rng, [(0, 0), (60, 60)], 30, 2.0)
    pts.append((999, [30.0, 30.0], 4))  # noise
    df = spark.createDataFrame(pts, ["id", "features", "sensitive"])
    labels = dbscan(df, eps=3.0, min_pts=5, min_cluster_size=5)
    out = anonymize(df, labels).collect()

    assert len(out) == len(pts)
    by_id = {r["id"]: r for r in out}
    # sensitive preserved
    for i, _, s in pts:
        assert by_id[i]["sensitive"] == s

    # clustered members share their cluster's mean
    cents = {
        r["cluster_id"]: r["centroid"]
        for r in cluster_centroids(df, labels).collect()
    }
    for r in out:
        if not r["is_noise"]:
            exp = cents[r["cluster_id"]]
            assert all(abs(a - b) < 1e-9 for a, b in zip(r["an_features"], exp))

    # the noise point gets the nearest centroid
    noise = by_id[999]
    assert noise["is_noise"]
    dists = {
        cid: sum(abs(a - b) for a, b in zip([30.0, 30.0], c))
        for cid, c in cents.items()
    }
    assert noise["cluster_id"] == min(dists, key=lambda c: (dists[c], c))


def _nearest_rows(points, cents, metric):
    """(id, cluster_id, distance) by brute force: the (distance, cluster
    id)-least centroid; a NULL vector takes the lowest id at NULL."""
    import math

    def dist(v, c):
        if metric == "l1":
            return float(sum(abs(a - b) for a, b in zip(v, c)))
        return math.sqrt(sum((a - b) * (a - b) for a, b in zip(v, c)))

    rows = []
    for i, v in points:
        if not cents:
            continue
        if v is None:
            rows.append((i, min(cid for cid, _ in cents), None))
            continue
        d, cid = min((dist(v, c), cid) for cid, c in cents)
        rows.append((i, cid, d))
    return sorted(rows)


_LATTICE = [(i, [float(i % 60), float(i // 60)]) for i in range(3000)]
# cluster ids out of position order, so ties must break on the id
_LATTICE_CENTS = [(7, [10.0, 10.0]), (3, [30.0, 10.0]), (5, [20.0, 40.0]), (1, [50.0, 30.0])]


@pytest.mark.parametrize(
    "points, cents, metric, id_type",
    [
        # both centroids at distance 10 (l1) / sqrt(50) (l2): the lower id wins
        ([(1, [5.0, 5.0])], [(10, [0.0, 0.0]), (2, [10.0, 10.0])], "l1", "int"),
        ([(1, [5.0, 5.0])], [(10, [0.0, 0.0]), (2, [10.0, 10.0])], "l2", "int"),
        (_LATTICE, _LATTICE_CENTS, "l1", "int"),
        (_LATTICE, _LATTICE_CENTS, "l2", "int"),
        ([(1, [5.0, 5.0]), (2, None)], [(10, [0.0, 0.0]), (2, [10.0, 10.0])], "l1", "int"),
        ([(1, [5.0, 5.0]), (2, [1.0, 2.0])], [], "l1", "int"),
        (
            [(2**40, [5.0, 5.0]), (2**40 + 1, [9.0, 9.0])],
            [(2**35, [0.0, 0.0]), (2**33, [10.0, 10.0])],
            "l1",
            "bigint",
        ),
    ],
    ids=["l1-tie", "l2-tie", "l1-lattice", "l2-lattice", "null-features", "no-centroids", "wide-ids"],
)
def test_assign_nearest_tiebreak(spark, points, cents, metric, id_type):
    pts = spark.createDataFrame(points, f"id {id_type}, features array<double>")
    cdf = spark.createDataFrame(cents, f"cluster_id {id_type}, centroid array<double>")
    got = assign_nearest(pts, cdf, metric=metric)
    assert got.dtypes == [("id", id_type), ("cluster_id", id_type), ("distance", "double")]
    assert sorted(map(tuple, got.collect())) == _nearest_rows(points, cents, metric)


def test_information_loss_and_sweep(spark):
    rng = random.Random(23)
    pts = _blobs(rng, [(0, 0), (40, 40)], 25, 1.5)
    df = spark.createDataFrame(pts, ["id", "features", "sensitive"])

    labels = dbscan(df, eps=2.0, min_pts=4, min_cluster_size=4)
    m = information_loss(df, labels).first()
    assert m["n_clusters"] >= 2
    assert m["total_error"] == m["cluster_error"] + m["noise_error"]

    metrics, best = eps_sweep(df, [0.01, 2.0, 4.0], min_pts=4)
    rows = {r["eps"]: r for r in metrics.collect()}
    assert set(rows) == {0.01, 2.0, 4.0}
    # eps=0.01: everything is noise, degenerate row
    assert rows[0.01]["n_clusters"] == 0
    assert rows[0.01]["total_error"] == float("inf")
    assert best in (2.0, 4.0)


def test_anonymize_refuses_an_all_noise_level(spark):
    """With every point noise there is no centroid to generalize to:
    the anonymized release raises a readable error instead of silently
    dropping every row, while information_loss still reports the
    reference's zero-cluster row."""
    rng = random.Random(5)
    pts = [(i, [rng.uniform(0, 100), rng.uniform(0, 100)], i % 3) for i in range(20)]
    df = spark.createDataFrame(pts, ["id", "features", "sensitive"])
    labels = dbscan(df, eps=0.01, min_pts=4)
    with pytest.raises(Exception, match="labels hold no cluster"):
        anonymize(df, labels).collect()
    loss = information_loss(df, labels).first()
    assert tuple(loss) == (0, 20, 0.0, float("inf"), float("inf"))


def _dbscan_module():
    import importlib

    return importlib.import_module("dbscan_pyspark_spark.operators.dbscan")


def _components_module():
    import importlib

    return importlib.import_module("dbscan_pyspark_spark.operators.components")


def test_eps_sweep_matches_single_runs(spark, monkeypatch):
    rng = random.Random(29)
    pts = _blobs(rng, [(0, 0), (20, 20)], 20, 2.0)
    df = spark.createDataFrame(pts, ["id", "features", "sensitive"])
    # min_cluster_size=1 with an edgeless duplicate pair (ids 100, 101):
    # each of its rows is its own singleton cluster, so 3 clusters
    dups = spark.createDataFrame(
        [(i, [float(i % 3), 0.0], 0) for i in range(6)]
        + [(100, [50.0, 50.0], 0), (101, [50.0, 50.0], 0)],
        ["id", "features", "sensitive"],
    )
    cases = [(df, [2.0, 5.0], 4, None, None), (dups, [1.5], 4, 1, 3)]
    mod = _components_module()
    for threshold in (mod._DRIVER_PAIRS_THRESHOLD, 0):  # driver pass, distributed twin
        monkeypatch.setattr(mod, "_DRIVER_PAIRS_THRESHOLD", threshold)
        for frame, eps_values, min_pts, mcs, n_clusters in cases:
            metrics, _ = eps_sweep(frame, eps_values, min_pts, min_cluster_size=mcs)
            for r in metrics.collect():
                labels = dbscan(frame, r["eps"], min_pts, mcs)
                single = information_loss(frame, labels).first()
                assert r["n_clusters"] == single["n_clusters"]
                assert r["n_noise"] == single["n_noise"]
                assert abs(r["total_error"] - single["total_error"]) < 1e-6
                if n_clusters is not None:
                    assert r["n_clusters"] == n_clusters


def _anonymize_module():
    import importlib

    return importlib.import_module("dbscan_pyspark_spark.operators.anonymize")


def _no_assign(*args, **kwargs):
    raise AssertionError("_assign called")


def _tie_frame(spark):
    """Two plus-shaped 5-point clusters with L1 centroids (0, 0) and
    (10, 0), and a noise point at (5, 0), L1-equidistant from both. At
    eps 1.0 each plus is a cluster and the point is noise; at eps 6.0
    the point is a core that merges everything, so no noise is left."""
    plus = [(0.0, 0.0), (0.5, 0.0), (-0.5, 0.0), (0.0, 0.5), (0.0, -0.5)]
    pts = [(i, [x, y], 0) for i, (x, y) in enumerate(plus)]
    pts += [(10 + i, [x + 10.0, y], 0) for i, (x, y) in enumerate(plus)]
    pts.append((99, [5.0, 0.0], 0))
    return spark.createDataFrame(pts, ["id", "features", "sensitive"])


def test_eps_sweep_kruskal_matches_per_eps_chain(spark, monkeypatch):
    """The driver path (one Kruskal pass labeling every eps level, then
    numpy scoring of every level) must produce the same metrics as the
    per-eps counts/cores/edges/CC chain and Spark scoring, its
    distributed twin (forced by a zero pair bound)."""
    rng = random.Random(31)
    pts = _blobs(rng, [(0, 0), (15, 15), (40, 0)], 18, 2.0)
    # add exact duplicates so the contraction multiplicities matter
    pts = pts + [(10_000 + i, list(pts[i][1]), pts[i][2]) for i in range(12)]
    df = spark.createDataFrame(pts, ["id", "features", "sensitive"])
    tie = _tie_frame(spark)
    for frame, eps_values, min_pts, mcs, metric in [
        # 0.01 is the degenerate zero-cluster level (covered by
        # test_information_loss_and_sweep's assertion of that branch)
        (df, [0.01, 0.5, 2.0, 6.0], 4, None, "l1"),
        (df, [2.0, 5.0], 1, 1, "l1"),       # mcs<=1: edgeless singleton clusters
        (df, [0.01, 1.5, 4.0], 4, None, "l2"),
        (tie, [1.0, 6.0], 4, None, "l1"),   # equidistant noise; empty noise set
    ]:
        with monkeypatch.context() as m:
            # the driver path scores every level without the twin's
            # noise argmin, so a silent fallback cannot pass for it
            m.setattr(_anonymize_module(), "_assign", _no_assign)
            m_new, b_new = eps_sweep(
                frame, eps_values, min_pts, min_cluster_size=mcs, metric=metric
            )
        calls = []
        comp = _components_module()
        union_find = comp._driver_union_find

        def spy(*args, **kwargs):
            calls.append(1)
            return union_find(*args, **kwargs)

        with monkeypatch.context() as m:
            m.setattr(comp, "_DRIVER_PAIRS_THRESHOLD", 0)
            m.setattr(comp, "_driver_union_find", spy)
            m_old, b_old = eps_sweep(
                frame, eps_values, min_pts, min_cluster_size=mcs, metric=metric
            )
        assert calls == []  # the chain's components ran star contraction
        assert b_new == b_old
        _assert_same_metrics(m_new, m_old)
        if frame is tie:
            rows = {r["eps"]: r for r in m_new.collect()}
            assert (rows[1.0]["n_clusters"], rows[1.0]["n_noise"]) == (2, 1)
            assert rows[1.0]["noise_error"] == 5.0
            assert (rows[6.0]["n_clusters"], rows[6.0]["n_noise"]) == (1, 0)
            assert rows[6.0]["noise_error"] == 0.0


def _assert_same_metrics(m_new, m_old):
    rn = sorted(m_new.collect(), key=lambda r: r["eps"])
    ro = sorted(m_old.collect(), key=lambda r: r["eps"])
    assert len(rn) == len(ro)
    for a, b in zip(rn, ro):
        assert a["eps"] == b["eps"]
        assert a["n_clusters"] == b["n_clusters"]
        assert a["n_noise"] == b["n_noise"]
        for col in ("cluster_error", "noise_error", "total_error"):
            if a[col] == float("inf"):
                assert b[col] == float("inf")
            else:
                assert abs(a[col] - b[col]) < 1e-6


def test_driver_pass_failure_falls_back(spark, monkeypatch):
    """A driver Kruskal pass or a driver scoring pass that fails (here:
    driver memory) falls back to the distributed twin with identical
    labels and metrics."""
    rng = random.Random(37)
    pts = _blobs(rng, [(0, 0), (15, 15)], 15, 2.0)
    pts = pts + [(10_000 + i, list(pts[i][1]), pts[i][2]) for i in range(6)]
    df = spark.createDataFrame(pts, ["id", "features", "sensitive"])
    eps_values = [1.0, 2.0, 4.0]

    def _labels():
        return sorted(
            (r["id"], r["cluster_id"]) for r in dbscan(df, 2.0, 4, 4).collect()
        )

    labels = _labels()
    metrics, best = eps_sweep(df, eps_values, 4)
    with monkeypatch.context() as m:
        m.setattr(_components_module(), "_DRIVER_PAIRS_THRESHOLD", 0)
        m_twin, best_twin = eps_sweep(df, eps_values, 4)
    assert best_twin == best
    _assert_same_metrics(m_twin, metrics)

    calls = []

    def _oom(name):
        def fail(*args, **kwargs):
            calls.append(name)
            raise MemoryError("driver out of memory")

        return fail

    with monkeypatch.context() as m:
        m.setattr(_anonymize_module(), "_score_levels", _oom("score"))
        m_fb, best_fb = eps_sweep(df, eps_values, 4)
    assert calls == ["score"]  # the Kruskal pass succeeded, its scoring was tried
    assert best_fb == best_twin
    _assert_same_metrics(m_fb, m_twin)

    calls.clear()
    monkeypatch.setattr(_dbscan_module(), "_kruskal", _oom("kruskal"))
    monkeypatch.setattr(_anonymize_module(), "_score_levels", _oom("score"))
    assert _labels() == labels
    m_fb, best_fb = eps_sweep(df, eps_values, 4)
    # both calls tried the driver pass first; with no driver labels
    # there is nothing to score on the driver
    assert calls == ["kruskal", "kruskal"]
    assert best_fb == best
    _assert_same_metrics(m_fb, metrics)


def test_driver_paths_avoid_list_frames_and_noise_join(spark, monkeypatch):
    """Under the default pair bound the sweep scores on the driver
    (``_assign``, the twin's noise argmin, is never reached), and
    every driver-built frame is Arrow-backed (no list goes through
    ``createDataFrame``): eps_sweep, the zero-cluster information_loss
    row and a k-member run with a repair round all still succeed. The
    k-member run is forced onto its Spark loop (pair bound 0), the path
    that builds the repair frames; its driver solver builds none."""
    from pyspark.sql import SparkSession

    from dbscan_pyspark_spark.operators import kmember

    rng = random.Random(41)
    df = spark.createDataFrame(
        _blobs(rng, [(0, 0), (20, 20)], 15, 2.0), ["id", "features", "sensitive"]
    )
    grid = spark.createDataFrame(
        [(i, [float(i % 7), float(i // 7)]) for i in range(30)], ["id", "features"]
    )
    all_noise = dbscan(df, 0.01, 4)

    create = SparkSession.createDataFrame

    def _no_lists(self, data, *args, **kwargs):
        if isinstance(data, list):
            raise AssertionError("createDataFrame from a list")
        return create(self, data, *args, **kwargs)

    built = []
    local_frame = kmember._local_frame

    def _spy(spark_, rows, ddl):
        built.append(ddl)
        return local_frame(spark_, rows, ddl)

    monkeypatch.setattr(SparkSession, "createDataFrame", _no_lists)
    monkeypatch.setattr(kmember, "_local_frame", _spy)

    with monkeypatch.context() as m:
        m.setattr(_anonymize_module(), "_assign", _no_assign)
        metrics, best = eps_sweep(df, [0.01, 2.0, 4.0], 4)
    assert len(metrics.collect()) == 3 and best in (2.0, 4.0)
    loss = information_loss(df, all_noise).first()
    assert (loss["n_clusters"], loss["n_noise"]) == (0, df.count())
    with monkeypatch.context() as m:
        m.setattr(_components_module(), "_DRIVER_PAIRS_THRESHOLD", 0)
        res = kmember.kmember_kmeans(grid, k=10, n_clusters=3, max_iter=3)
    assert "cluster int, _need int" in built  # a repair round ran
    sizes = [r["count"] for r in res.assignments.groupBy("cluster_id").count().collect()]
    assert sorted(sizes) == [10, 10, 10]
