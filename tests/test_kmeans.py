"""kmeans_quantized: deterministic Lloyd's over embedding arrays.

Reference parity target: k-means.ipynb cell0 (random-restart RDD
Lloyd's). This variant trades restarts for determinism (lowest-id
init, grid-snapped centroids) so it is exactly reproducible — the
invariants below pin the semantics the DuckDB oracle replays.
"""

from __future__ import annotations

import numpy as np
import pytest

from dbscan_pyspark_spark.operators import kmeans
from dbscan_pyspark_spark.operators.kmeans import kmeans_quantized
from dbscan_pyspark_spark.plans import broadcast_join_count, shuffle_count


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


def test_assignment_is_map_side_only(spark, monkeypatch):
    """The final assignment pass must not shuffle the points: the
    centroids join as one broadcast row and the argmin is one
    expression over it (the whole point of the argmin-as-expression
    design)."""
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


def test_fit_failure_releases_cached_projection(spark, monkeypatch):
    """A job that raises after the init collect must not leave the
    quantized projection persisted for the rest of the session."""
    rng = np.random.default_rng(2)
    df = _df(spark, rng.normal(size=(20, 3)))
    persistent = spark.sparkContext._jsc.getPersistentRDDs
    before = persistent().size()

    def boom(*args, **kwargs):
        raise RuntimeError("assignment failed")

    monkeypatch.setattr(kmeans, "_assign", boom)
    with pytest.raises(RuntimeError, match="assignment failed"):
        kmeans.kmeans_fit(df, k=2, n_iter=1)
    assert persistent().size() == before


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
