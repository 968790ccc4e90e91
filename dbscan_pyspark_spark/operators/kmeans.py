"""Deterministic k-means (Lloyd's) over embedding array columns.

Reference parity: the reference's ``k-means.ipynb`` runs Lloyd's over
RDD tuples with random restarts and a driver loop per iteration
(``k-means.ipynb cell0:L12-15,75-86``). This module keeps the
algorithmic shape (assign → recompute means → repeat). Where
:func:`kmeans_fit` runs is decided once, by ``components._on_driver``
on vectors × (k + dim), the cells of one iteration's distance matrix
plus the pulled vectors:

- **on the driver**: one Arrow pull of (id, vector), then every
  iteration in numpy (:func:`_lloyd`, the package's one numpy Lloyd's,
  which the two-level IVF fitter runs per coarse cell too), and the
  assignment ships back as one Arrow-built frame.
- **in Spark**: the distributed twin, each iteration TWO dataframe
  operations:

  - **assignment is map-side only.** The k centroids ship as ONE
    broadcast row (``_centroid_table``: ``_c array<struct<cid, c>>``)
    cross-joined onto the points, and the nearest-centroid argmin is a
    single ``array_min(transform(_c, ...))`` expression (``_nearest``)
    — no shuffle of the points, and the plan's size does not grow with
    k×dim. Every iteration is one scan. ``_assign`` is the package's
    one nearest-centroid argmin: k-member (both contracts and their
    repair claims), ``anonymize.assign_nearest`` and the ε-sweep noise
    (float metrics, against a row built from a centroid DataFrame by
    ``_centroid_row``), the float IVF cells and streaming inference
    all call it; the IVF probes rank their top cells against the same
    row with the same expression.
  - **the centroid update is one k×dim-row shuffle.** Per-dimension
    sums are expressed as ``dim`` independent ``sum(v[i])`` aggregates,
    all partially aggregated map-side, so the exchange carries k rows
    of dim sums — never the point set. No ``posexplode`` (which would
    shuffle n×dim rows).

Determinism (and hence DuckDB-oracle-ability, which no random-restart
k-means has): inputs are quantized to a integer grid (``round(x *
scale)`` as long), initial centroids are the k lowest-id vectors, and
updated centroids are snapped back to the grid with
``floor(sum / count)`` — exact integer arithmetic end to end, so every
iteration is bit-reproducible in any engine. Ties in the argmin break
toward the lower centroid id. Empty clusters drop out (both engines
agree). The oracle SQL is generated by unrolling the iterations as
chained CTEs (see ``__spark_entry__.kmeans_oracle``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dbscan_pyspark_spark.operators.components import _Declined, _on_driver
from dbscan_pyspark_spark.session import _local_frame


def _quantized(vec_col: str, scale: int) -> F.Column:
    return F.transform(
        vec_col, lambda x: F.round(x * scale, 0).cast("long")
    )


def _quantized_rows(
    df: DataFrame, vec_col: str, scale: int | None, out_col: str = "_v"
) -> DataFrame:
    """``df`` plus ``out_col``: ``vec_col`` on the integer grid (cast to
    ``array<bigint>`` when ``scale`` is None), NULL and empty vectors
    dropped — the one row filter training and inference share. It
    filters the source column: a filter on ``out_col`` is pushed below
    the projection and would evaluate the quantizing lambda again."""
    q = (
        _quantized(vec_col, scale)
        if scale is not None
        else F.col(vec_col).cast("array<bigint>")
    )
    return df.where(F.col(vec_col).isNotNull() & (F.size(vec_col) > 0)).withColumn(
        out_col, q
    )


def _sq_l2(v, c) -> F.Column:
    """Exact integer squared L2 between two long arrays (sequential
    fold — identical associativity in every engine, though with exact
    integers the order cannot matter anyway)."""
    return F.aggregate(
        F.zip_with(v, c, lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def _l1_int(v, c) -> F.Column:
    """Exact integer L1 between two long arrays (the reference
    pipeline's k-member metric, F1/A4) — order-free, engine-exact."""
    return F.aggregate(
        F.zip_with(v, c, lambda a, b: F.abs(a - b)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def _centroid_table(
    spark: SparkSession, centroids: list[tuple[int, list[int]]]
) -> DataFrame:
    """The centroid table as one broadcast row
    ``_c array<struct<cid int, c array<bigint>>>``: :func:`_assign`
    crossJoins it and ranks against ``_c`` with :func:`_nearest`. The
    k×dim integers ship to the workers once, so the plan stays the same
    size whatever k×dim is."""
    row = [{"cid": int(cid), "c": [int(x) for x in vec]} for cid, vec in centroids]
    return F.broadcast(
        _local_frame(spark, [(row,)], "_c array<struct<cid: int, c: array<bigint>>>")
    )


def _nearest(
    cents: F.Column, v: F.Column, n: int | None = None, dist=_sq_l2
) -> F.Column:
    """Rank the vector ``v`` against the centroid array ``cents`` (an
    ``array<struct<cid, c>>`` column) by ``(d, cid)`` structs, so ties
    break toward the lower cid: the nearest struct when ``n`` is None,
    else the ``n`` nearest in order."""
    ranked = F.transform(
        cents,
        lambda c: F.struct(
            dist(v, c.getField("c")).alias("d"),
            c.getField("cid").alias("cid"),
        ),
    )
    return F.array_min(ranked) if n is None else F.slice(F.array_sort(ranked), 1, n)


def _centroid_row(centroids: DataFrame, cid_col: str, vec_col: str) -> DataFrame:
    """:func:`_centroid_table` built from a centroid DataFrame by one
    ``collect_list`` aggregate, the cid keeping its own type; an empty
    centroid set gives no row, so nothing is assigned against it."""
    return centroids.agg(
        F.collect_list(
            F.struct(F.col(cid_col).alias("cid"), F.col(vec_col).alias("c"))
        ).alias("_c")
    ).where(F.size("_c") > 0)


def _assign(
    df: DataFrame,
    centroids,
    v_col: str = "_v",
    out_col: str = "cluster",
    dist=_sq_l2,
    dist_col: str | None = None,
) -> DataFrame:
    """``df`` plus ``out_col``, the cid of the centroid nearest to
    ``v_col`` under ``dist`` (ties to the lower cid), and ``dist_col``,
    that distance, when given: the package's one nearest-centroid
    argmin. ``centroids`` is a (cid, vector) list or a one-row ``_c``
    table (:func:`_centroid_table`, :func:`_centroid_row`); each row is
    answered in its own partition, so ``df`` is never shuffled.

    ``out_col`` is nullable, so an inner equi-join on it makes Catalyst
    infer ``isnotnull`` and push the argmin into the cross join's
    condition, where it runs a second time: callers left-join it."""
    if not isinstance(centroids, DataFrame):
        centroids = _centroid_table(df.sparkSession, centroids)
    nearest = (
        df.crossJoin(F.broadcast(centroids.select("_c")))
        .withColumn("_a", _nearest(F.col("_c"), F.col(v_col), dist=dist))
        .drop("_c")
    )
    # fields read from a projection below, so the argmin runs once per row
    out = {out_col: F.col("_a.cid")}
    if dist_col is not None:
        out[dist_col] = F.col("_a.d")
    return nearest.withColumns(out).drop("_a")


def _lloyd(vs, k: int, n_iter: int):
    """Lloyd's in numpy over the int64 matrix ``vs``, rows in id order:
    the k first rows as the initial centroids (cids 0..k-1), exact
    integer ``‖v‖² + ‖c‖² − 2v·c`` distances, argmin ties to the first
    (lowest) cid, ``floor_divide`` centroid updates, and clusters left
    empty dropped with the other cids kept. Returns ``(cid, cents,
    label)``: the live cids ascending, their centroids, and each row's
    cid against the final centroids. Exact while ``dim·(2·max|v|)²``
    and ``rows·max|v|`` fit int64 (the caller's check)."""
    import numpy as np

    cid = np.arange(min(k, len(vs)))
    cents = vs[: len(cid)]
    vs2 = (vs * vs).sum(axis=1)

    def nearest(cents):
        d = vs2[:, None] + (cents * cents).sum(axis=1)[None, :] - 2 * (vs @ cents.T)
        return d.argmin(axis=1)  # the first minimum: the lowest cid

    for _ in range(n_iter):
        pos = nearest(cents)
        order = np.argsort(pos, kind="stable")
        live, start, counts = np.unique(
            pos[order], return_index=True, return_counts=True
        )
        sums = np.add.reduceat(vs[order], start, axis=0)
        # floors toward -inf like the twin's Python //
        cid, cents = cid[live], np.floor_divide(sums, counts[:, None])
    return cid, cents, cid[nearest(cents)]


def _fit_driver(
    q: DataFrame, k: int, n_iter: int, id_col: str
) -> tuple[DataFrame, list[tuple[int, list[int]]]]:
    """:func:`kmeans_fit` on the driver: one Arrow pull of ``q`` (id,
    ``_v``), :func:`_lloyd`, and the assignment as one Arrow-built
    frame. Raises ``_Declined``, so that the twin runs, where the twin's
    behaviour is not a plain Lloyd's: ragged vectors or vectors holding
    NULLs, NULL or duplicate ids (the twin's lowest-id init is then not
    one fixed set), and coordinates large enough for the int64
    arithmetic to overflow (where the twin raises under ANSI)."""
    import numpy as np
    import pandas as pd

    pdf = q.toPandas()
    ids = pdf[id_col].to_numpy()
    if pd.isna(ids).any() or len(pd.unique(ids)) < len(ids):
        raise _Declined("kmeans driver path: NULL or duplicate ids")
    if pdf["_v"].map(len).nunique() > 1:
        raise _Declined("kmeans driver path: ragged vectors")
    vs = np.stack(pdf["_v"].to_numpy())
    if vs.dtype.kind != "i":
        raise _Declined("kmeans driver path: NULL coordinates")
    order = np.argsort(ids, kind="stable")
    ids, vs = ids[order], vs[order]
    m = max(int(vs.max()), -int(vs.min()))
    if vs.shape[1] * (2 * m) ** 2 >= 2**63 or len(vs) * m >= 2**63:
        raise _Declined("kmeans driver path: int64 overflow")
    cid, cents, label = _lloyd(vs, k, n_iter)
    id_type = q.schema[id_col].dataType.simpleString()
    out = _local_frame(
        q.sparkSession,
        list(zip(ids.tolist(), label.tolist())),
        f"{id_col} {id_type}, cluster int",
    )
    return out, list(zip(cid.tolist(), cents.tolist()))


def kmeans_quantized(
    vectors: DataFrame,
    k: int = 10,
    n_iter: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 1000,
) -> DataFrame:
    """Deterministic grid-quantized Lloyd's k-means.

    Returns DataFrame(id_col, cluster) — the assignment after exactly
    ``n_iter`` centroid updates. ``scale`` controls the quantization
    grid (``round(x * scale)``); pass ``scale=None`` if ``vec_col``
    already holds integral longs. :func:`kmeans_fit` additionally
    returns the fitted centroids (the model) for downstream inference
    (streaming assignment, IVF coarse quantization).
    """
    return kmeans_fit(
        vectors, k=k, n_iter=n_iter, id_col=id_col, vec_col=vec_col,
        scale=scale,
    )[0]


def kmeans_fit(
    vectors: DataFrame,
    k: int = 10,
    n_iter: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 1000,
) -> tuple[DataFrame, list[tuple[int, list[int]]]]:
    """:func:`kmeans_quantized` returning (assignments, centroids) —
    the centroid list is the trained model in quantized units, ready
    for :func:`assign_with_model` or streaming inference. ``n_iter=0``
    assigns to the initial centroids.

    One aggregate counts the vectors and reads their dimension, and
    ``components._on_driver`` picks the fit on vectors × (k + dim): on
    the driver (``_fit_driver``: one Arrow pull, numpy iterations, an
    Arrow-built assignment, and no Spark job after the pull), or the
    Spark loop (``_fit_twin``), the distributed twin. Both give the same
    assignment and centroid list."""
    if n_iter < 0:
        raise ValueError(f"kmeans_fit: n_iter must be >= 0, got {n_iter}")
    q = _quantized_rows(vectors, vec_col, scale).select(id_col, "_v")
    n, dim = q.agg(F.count(F.lit(1)), F.max(F.size("_v"))).first()
    # empty input and k < 1 keep the twin's empty-init branch
    cells = n * (k + dim) if min(n, k) > 0 else float("inf")
    args = (q, k, n_iter, id_col)
    return _on_driver(cells, lambda: _fit_driver(*args), lambda: _fit_twin(*args))


def _fit_twin(q, k, n_iter, id_col):
    """:func:`kmeans_fit`'s Spark loop over the quantized rows ``q``
    (id, ``_v``), the distributed twin of ``_fit_driver``: its driver
    state per iteration is the k×dim centroid table only (the
    bounded-collect discipline of SURVEY §2 A7), and it scans ``q``
    ``n_iter + 2`` times and shuffles it never."""
    # the loop scans q n_iter+2 times: materialize the quantized
    # projection once instead of re-deriving it from the source each
    # pass (at 2M x 64-d this halves the run; with a real file source
    # it also avoids repeated scans of the table). It is persisted only
    # here: a cached scan runs one more job, which the driver path's
    # two scans do not earn back. try/finally so a job failure mid-fit
    # cannot leak the persisted relation.
    q = q.persist()
    try:
        init_rows = q.orderBy(id_col).limit(k).collect()
        if not init_rows:
            return (
                q.select(
                    F.col(id_col), F.lit(None).cast("int").alias("cluster")
                ),
                [],
            )
        centroids = [(i, list(r["_v"])) for i, r in enumerate(init_rows)]
        dim = len(centroids[0][1])

        for _ in range(n_iter):
            # dim independent partial-agg sums: the exchange carries k rows.
            sums = [
                F.sum(F.col("_v")[i]).alias(f"s{i}") for i in range(dim)
            ]
            upd = (
                _assign(q, centroids)
                .groupBy("cluster")
                .agg(F.count(F.lit(1)).alias("n"), *sums)
                .collect()
            )
            centroids = sorted(
                (
                    int(r["cluster"]),
                    # floor(sum / n) in exact integer arithmetic (Python //
                    # floors toward -inf; the oracle mirrors with floor()).
                    [int(r[f"s{i}"] // r["n"]) for i in range(dim)],
                )
                for r in upd
            )

        # pin the final assignment before the cached projection is
        # released, so a long-running caller doesn't leak a cached
        # relation per call
        out = (
            _assign(q, centroids)
            .select(id_col, "cluster")
            .localCheckpoint(eager=True)
        )
    finally:
        q.unpersist()
    return out, centroids


def save_kmeans_model(
    centroids: list[tuple[int, list[int]]],
    path: str,
    scale: int = 1000,
) -> None:
    """Persist a fitted quantized model (centroids + grid scale) as a
    single JSON file — the model is k x dim integers, driver-small by
    construction, and the JSON round-trips bit-exactly (no float
    serialization ambiguity)."""
    import json

    with open(path, "w") as f:
        json.dump(
            {
                "format": "kmeans_quantized.v1",
                "scale": scale,
                "centroids": [[cid, list(map(int, c))] for cid, c in centroids],
            },
            f,
        )


def load_kmeans_model(path: str) -> tuple[list[tuple[int, list[int]]], int]:
    """Load a model saved by :func:`save_kmeans_model`; returns
    (centroids, scale) ready for :func:`assign_with_model` or the
    streaming inference wrapper."""
    import json

    with open(path) as f:
        m = json.load(f)
    if m.get("format") != "kmeans_quantized.v1":
        raise ValueError(f"not a kmeans_quantized model: {path}")
    return [(int(c), list(map(int, v))) for c, v in m["centroids"]], int(
        m["scale"]
    )


def assign_with_model(
    vectors: DataFrame,
    centroids: list[tuple[int, list[int]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 1000,
) -> DataFrame:
    """Map-side assignment of new vectors to a fitted model — identical
    expression AND row filter to the training assignment (null/empty
    vectors are dropped, as kmeans_fit drops them); the points side
    never shuffles."""
    return _assign(_quantized_rows(vectors, vec_col, scale), centroids).select(
        id_col, "cluster"
    )
