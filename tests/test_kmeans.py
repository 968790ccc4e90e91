"""kmeans_quantized: deterministic Lloyd's over embedding arrays.

Reference parity target: k-means.ipynb cell0 (random-restart RDD
Lloyd's). This variant trades restarts for determinism (lowest-id
init, grid-snapped centroids) so it is exactly reproducible — the
invariants below pin the semantics the DuckDB oracle replays.
"""

from __future__ import annotations

import numpy as np
import pytest

from dbscan_pyspark_spark.operators import components, kmeans
from dbscan_pyspark_spark.operators.kmeans import kmeans_quantized
from dbscan_pyspark_spark.plans import broadcast_join_count, shuffle_count
from dbscan_pyspark_spark.session import _local_frame


def _df(spark, vecs):
    return spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<double>",
    )


def _numpy_reference(vecs, k, n_iter, scale=1000):
    """Independent driver-side replica of the exact algorithm."""
    q = np.round(np.asarray(vecs, dtype=float) * scale).astype(np.int64)
    cents = [(i, q[i].copy()) for i in range(min(k, len(q)))]

    def assign(cents):
        out = np.empty(len(q), dtype=int)
        for j, v in enumerate(q):
            best = min(
                (int(((v - c) ** 2).sum()), cid) for cid, c in cents
            )
            out[j] = best[1]
        return out

    for _ in range(n_iter):
        a = assign(cents)
        new = []
        for cid in sorted(set(a)):
            members = q[a == cid]
            new.append(
                (cid, np.floor_divide(members.sum(axis=0), len(members)))
            )
        cents = new
    return assign(cents)


def test_separated_blobs_recovered(spark):
    rng = np.random.default_rng(7)
    blobs = np.concatenate(
        [rng.normal(loc=c, scale=0.05, size=(20, 4)) for c in (0.0, 5.0, -5.0)]
    )
    out = kmeans_quantized(_df(spark, blobs), k=3, n_iter=4).collect()
    labels = {r["vec_id"]: r["cluster"] for r in out}
    assert len(labels) == 60
    for blob in range(3):
        ids = range(blob * 20, blob * 20 + 20)
        assert len({labels[i] for i in ids}) == 1, "blob split across clusters"
    assert len({labels[i * 20] for i in range(3)}) == 3, "blobs merged"


@pytest.mark.parametrize("k,n_iter", [(2, 1), (3, 3), (5, 2)])
def test_matches_numpy_reference(spark, k, n_iter):
    rng = np.random.default_rng(k * 10 + n_iter)
    vecs = rng.normal(size=(40, 6))
    out = kmeans_quantized(_df(spark, vecs), k=k, n_iter=n_iter).collect()
    got = {r["vec_id"]: r["cluster"] for r in out}
    want = _numpy_reference(vecs, k, n_iter)
    assert got == {i: int(want[i]) for i in range(len(vecs))}


def test_deterministic_across_runs(spark):
    rng = np.random.default_rng(3)
    vecs = rng.normal(size=(30, 5))
    df = _df(spark, vecs)
    a = sorted(map(tuple, kmeans_quantized(df, k=4, n_iter=2).collect()))
    b = sorted(map(tuple, kmeans_quantized(df, k=4, n_iter=2).collect()))
    assert a == b


def test_fewer_rows_than_k(spark):
    vecs = [[0.0, 0.0], [10.0, 10.0]]
    out = kmeans_quantized(_df(spark, vecs), k=5, n_iter=2).collect()
    assert {r["vec_id"]: r["cluster"] for r in out} == {0: 0, 1: 1}


def test_empty_input(spark):
    df = spark.createDataFrame([], "vec_id long, embedding array<double>")
    assert kmeans_quantized(df, k=3, n_iter=2).count() == 0


def test_quantized_rows_quantize_once(spark):
    """The row filter reads the source column, so the optimized plan
    evaluates the quantizing lambda once per row; a filter on its output
    is pushed below the projection and repeats the lambda."""
    df = spark.createDataFrame(
        [(1, [0.5, 1.0]), (2, None), (3, []), (4, [2.0, 3.0])],
        "vec_id long, embedding array<double>",
    )
    q = kmeans._quantized_rows(df, "embedding", 1000)
    assert q._jdf.queryExecution().optimizedPlan().toString().count("transform(") == 1
    assert sorted((r["vec_id"], r["_v"]) for r in q.collect()) == [
        (1, [500, 1000]), (4, [2000, 3000])
    ]


def test_assignment_is_map_side_only(spark, monkeypatch):
    """The final assignment pass must not shuffle the points: the
    centroids join as one broadcast row and the argmin is one
    expression over it (the whole point of the argmin-as-expression
    design). The bound at 0 pins the fit to its Spark loop."""
    monkeypatch.setattr(components, "_DRIVER_PAIRS_THRESHOLD", 0)
    rng = np.random.default_rng(1)
    df = _df(spark, rng.normal(size=(20, 3)))
    # the fit checkpoints its final assignment pass; the iteration
    # shuffles (the groupBy updates) happen in other jobs
    checkpointed = []
    real = type(df).localCheckpoint

    def spy(self, *args, **kwargs):
        checkpointed.append(self)
        return real(self, *args, **kwargs)

    monkeypatch.setattr(type(df), "localCheckpoint", spy)
    kmeans_quantized(df, k=2, n_iter=1)
    (final,) = checkpointed
    assert shuffle_count(final) == 0
    assert broadcast_join_count(final) >= 1


def _persisted(spark):
    # ids of the session's persisted RDDs: a call that persists one adds
    # a new id, while the context cleaner may drop ids of earlier tests'
    # collected frames at any time, so compare id sets, not counts
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())


def test_fit_failure_releases_cached_projection(spark, monkeypatch):
    """A job that raises after the init collect must not leave the
    quantized projection persisted for the rest of the session. The
    bound at 0 pins the fit to its Spark loop."""
    monkeypatch.setattr(components, "_DRIVER_PAIRS_THRESHOLD", 0)
    rng = np.random.default_rng(2)
    df = _df(spark, rng.normal(size=(20, 3)))
    before = _persisted(spark)

    def boom(*args, **kwargs):
        raise RuntimeError("assignment failed")

    monkeypatch.setattr(kmeans, "_assign", boom)
    with pytest.raises(RuntimeError, match="assignment failed"):
        kmeans.kmeans_fit(df, k=2, n_iter=1)
    assert _persisted(spark) <= before


def test_model_save_load_roundtrip_and_assign(spark, tmp_path):
    import numpy as np

    from dbscan_pyspark_spark.operators.kmeans import (
        assign_with_model,
        kmeans_fit,
        load_kmeans_model,
        save_kmeans_model,
    )

    rng = np.random.default_rng(17)
    blobs = np.concatenate(
        [rng.normal(loc=c, scale=0.05, size=(15, 4)) for c in (0.0, 8.0)]
    )
    df = _df(spark, blobs)
    assign, cents = kmeans_fit(df, k=2, n_iter=2)
    p = str(tmp_path / "model.json")
    save_kmeans_model(cents, p, scale=1000)
    loaded, scale = load_kmeans_model(p)
    assert loaded == cents and scale == 1000

    # assignment with the loaded model == the training assignment
    re_assigned = assign_with_model(df, loaded, scale=scale)
    a = sorted(map(tuple, assign.collect()))
    b = sorted(map(tuple, re_assigned.collect()))
    assert a == b
    # and the points never shuffle (pure map-side inference)
    assert shuffle_count(re_assigned) == 0
    assert broadcast_join_count(re_assigned) >= 1


def test_assign_plan_size_does_not_grow_with_centroids(spark):
    """The centroid table reaches the workers as one broadcast row, not
    as plan literals: a sentinel coordinate never shows in the analyzed
    plan, and the plan is as long for 64 x 64 centroids as for 2 x 3
    (expression ids masked, their digit counts vary between plans)."""
    import re

    from dbscan_pyspark_spark.operators.kmeans import assign_with_model

    sentinel = 987654321
    lengths = []
    for k, dim in ((2, 3), (64, 64)):
        cents = [(c, [sentinel] + [c] * (dim - 1)) for c in range(k)]
        df = _df(spark, np.zeros((4, dim)))
        plan = (
            assign_with_model(df, cents, scale=None)
            ._jdf.queryExecution()
            .analyzed()
            .toString()
        )
        assert str(sentinel) not in plan
        lengths.append(len(re.sub(r"\d+", "0", plan)))
    assert lengths[0] == lengths[1]


def test_load_model_rejects_wrong_format(spark, tmp_path):
    import json

    import pytest

    from dbscan_pyspark_spark.operators.kmeans import load_kmeans_model

    p = tmp_path / "bad.json"
    p.write_text(json.dumps({"format": "other"}))
    with pytest.raises(ValueError, match="not a kmeans_quantized model"):
        load_kmeans_model(str(p))


# -- the driver path and its distributed twin ---------------------------------
# Inputs are Arrow-built integer vectors (``scale=None``), tiny on purpose:
# every twin fit runs a handful of Spark jobs.


def _int_df(spark, rows, ddl="vec_id long, embedding array<bigint>"):
    return _local_frame(spark, rows, ddl)


def _fail(name):
    def fail(*args, **kwargs):
        raise AssertionError(f"{name} called")

    return fail


def _driver_fit(monkeypatch, df, **kw):
    # the driver path: the Spark loop's assignment never runs
    with monkeypatch.context() as m:
        m.setattr(kmeans, "_assign", _fail("_assign"))
        m.setattr(kmeans, "_centroid_table", _fail("_centroid_table"))
        return kmeans.kmeans_fit(df, scale=None, **kw)


def _twin_fit(monkeypatch, df, **kw):
    # a zero pair bound forces the Spark loop; the numpy kernel never runs
    with monkeypatch.context() as m:
        m.setattr(components, "_DRIVER_PAIRS_THRESHOLD", 0)
        m.setattr(kmeans, "_lloyd", _fail("_lloyd"))
        return kmeans.kmeans_fit(df, scale=None, **kw)


def _fallback_fit(monkeypatch, df, **kw):
    # under the bound on input the driver path refuses: it raises
    # _Declined before the kernel runs, then the Spark loop runs
    raised = []
    fit_driver = kmeans._fit_driver

    def spy(*args, **kwargs):
        try:
            return fit_driver(*args, **kwargs)
        except Exception as e:
            raised.append(type(e))
            raise

    with monkeypatch.context() as m:
        m.setattr(kmeans, "_fit_driver", spy)
        m.setattr(kmeans, "_lloyd", _fail("_lloyd"))
        out = kmeans.kmeans_fit(df, scale=None, **kw)
    assert raised == [components._Declined]
    return out


def _assert_same_fit(got, want):
    (got_assign, got_cents), (want_assign, want_cents) = got, want
    assert got_assign.dtypes == want_assign.dtypes
    assert sorted(map(tuple, got_assign.collect())) == sorted(
        map(tuple, want_assign.collect())
    )
    assert got_cents == want_cents

    def types(cents):
        return [(type(c), {type(x) for x in v}) for c, v in cents]

    assert types(got_cents) == types(want_cents) == [(int, {int})] * len(want_cents)


def _equivalence_cases(spark):
    return [  # (name, points, k, centroids left after one or more updates)
        # integer lattice, init (0,0), (2,0), (4,0): the odd columns are
        # equidistant from two centroids at every iteration
        (
            "lattice",
            _int_df(spark, [(i, [(2 * i) % 5, (2 * i) // 5]) for i in range(15)]),
            3,
            3,
        ),
        # ids 0 and 2 coincide: cid 2 loses every tie to cid 0 and drops out
        (
            "empties",
            _int_df(spark, [(i, [5 * (i % 2), 5 * (i % 2)]) for i in range(8)]),
            3,
            2,
        ),
        # negative sums that do not divide evenly: floor, not truncation
        (
            "negative",
            _int_df(spark, [(i, [-((7 * i) % 11), (5 * i) % 13 - 9]) for i in range(12)]),
            3,
            3,
        ),
        # more clusters than points: every point is its own centroid
        ("k_over_n", _int_df(spark, [(i, [3 * i, -i]) for i in range(3)]), 5, 3),
    ]


@pytest.mark.parametrize("n_iter", [0, 1, 2])
def test_driver_fit_matches_spark_twin(spark, monkeypatch, n_iter):
    """The numpy fit and the Spark loop give the same assignments (with
    the same column types) and the same centroid list (Python ints), on
    the path each is meant for: spies fail the run if the other path's
    pieces are called. The driver path leaves nothing persisted."""
    for name, df, k, live in _equivalence_cases(spark):
        before = _persisted(spark)
        got = _driver_fit(monkeypatch, df, k=k, n_iter=n_iter)
        assert _persisted(spark) <= before, name
        want = _twin_fit(monkeypatch, df, k=k, n_iter=n_iter)
        _assert_same_fit(got, want)
        assert len(got[1]) == (min(k, df.count()) if n_iter == 0 else live), name


def test_driver_fit_failure_falls_back(spark, monkeypatch):
    """A driver fit that runs out of memory falls back to the Spark loop,
    whose result equals the driver path's."""
    df = _equivalence_cases(spark)[0][1]
    want = _driver_fit(monkeypatch, df, k=3, n_iter=2)
    calls = []

    def oom(*args, **kwargs):
        calls.append("driver")
        raise MemoryError("driver out of memory")

    assign = kmeans._assign

    def assign_spy(*args, **kwargs):
        calls.append("assign")
        return assign(*args, **kwargs)

    monkeypatch.setattr(kmeans, "_lloyd", oom)
    monkeypatch.setattr(kmeans, "_assign", assign_spy)
    got = kmeans.kmeans_fit(df, k=3, n_iter=2, scale=None)
    assert calls[:2] == ["driver", "assign"]  # tried the driver, then the loop ran
    _assert_same_fit(got, want)


def test_ragged_vectors_fall_back(spark, monkeypatch):
    """Vectors of different lengths do not stack into one matrix: the
    Spark loop runs, with its own reading of the short centroids."""
    df = _int_df(spark, [(i, [i, -i] + [1] * (i % 3 == 2)) for i in range(9)])
    _assert_same_fit(
        _fallback_fit(monkeypatch, df, k=2, n_iter=1),
        _twin_fit(monkeypatch, df, k=2, n_iter=1),
    )


def test_duplicate_ids_fall_back(spark, monkeypatch):
    """Duplicate ids leave the lowest-id init to the Spark loop."""
    df = _int_df(spark, [(min(i, 6), [i % 3, i]) for i in range(9)])
    got = _fallback_fit(monkeypatch, df, k=2, n_iter=1)
    _assert_same_fit(got, _twin_fit(monkeypatch, df, k=2, n_iter=1))
    assert got[0].count() == 9


def test_int64_overflow_risk_falls_back(spark, monkeypatch):
    """Coordinates whose expanded squared distance could overflow int64
    (dim·(2·max|v|)² = 2^63 here) go to the Spark loop, whose exact
    differences still fit."""
    big = 2**30
    df = _int_df(spark, [(i, [big * (i % 2), big * (i % 3 == 0)]) for i in range(6)])
    _assert_same_fit(
        _fallback_fit(monkeypatch, df, k=2, n_iter=2),
        _twin_fit(monkeypatch, df, k=2, n_iter=2),
    )


def test_negative_n_iter_rejected(spark):
    df = _int_df(spark, [(0, [1, 2])])
    with pytest.raises(ValueError, match="n_iter must be >= 0"):
        kmeans.kmeans_fit(df, k=1, n_iter=-1, scale=None)
