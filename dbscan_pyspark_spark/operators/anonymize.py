"""Centroid generalization (k-anonymization) + ε-sweep metrics.

Rebuilds the reference's anonymization stage declaratively:

- per-cluster centroid  = per-dimension mean (``calc_error``/``anonymize``,
  ``DBSCAN.py:86-117``) — ``_means``, a single groupBy with one
  (weighted) mean per dimension (map-side partial agg; no
  ``collect_list`` of whole clusters, so no group can exceed executor
  memory);
- noise points take their *nearest* centroid (``assign_nearest`` over a
  broadcast list, ``DBSCAN.py:126-133,187-192``) — here the centroids
  are one broadcast row (``kmeans._centroid_row``) and each point is
  ranked against it in its own partition by ``kmeans._assign``, the
  package's one nearest-centroid argmin, so the points are never
  shuffled for it; tie-break = lowest cluster id (the reference's strict
  ``<`` keeps the first-seen centroid, which is list order — a total
  order makes it deterministic);
- information-loss metrics per ε (``eps_records``, ``DBSCAN.py:135-152``).

One generalization (``_generalize``: own centroid, else the nearest)
and one loss aggregate over it (``_loss``) serve ``anonymize``,
``information_loss`` and the ε-sweep's Spark scorer; the sweep weighs
each contracted rep by its multiplicity ``_mult``.

The ε-sweep computes the pair set ONCE at max ε and filters per ε
(neighbors at ε ⊆ neighbors at ε' > ε) — turning the reference's
Σ O(n²) sweep into one grid join (SURVEY.md §4 'iterative compute').
Where each level is scored follows where it was labeled: when
``dbscan._rep_labels`` solved the sweep on the driver, every level's
metrics are weighted numpy sums over the labels and reps it already
holds (``_score_levels``); otherwise each level is one ``_loss`` action
over its reps, several levels in flight — the distributed twin.
``components._on_driver`` makes both choices.

The sweep's metric rows are built on the driver and go through
``_local_frame``: Arrow ships them to the JVM, so scanning them never
starts a Python task.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dbscan_pyspark_spark.operators.components import _on_driver
from dbscan_pyspark_spark.operators.dbscan import _rep_labels
from dbscan_pyspark_spark.operators.eps_join import _contract, _dim_of, _metric_fn, eps_join
from dbscan_pyspark_spark.operators.kmeans import _assign, _centroid_row
from dbscan_pyspark_spark.session import _local_frame


def cluster_centroids(
    points: DataFrame,
    labels: DataFrame,
    features: str = "features",
    id_col: str = "id",
    cluster_col: str = "cluster_id",
    dim: int | None = None,
) -> DataFrame:
    """DataFrame(cluster_id, centroid array<double>, n_members).

    ``labels`` rows with NULL cluster are ignored (noise).
    """
    if dim is None:
        dim = _dim_of(points, features)
    joined = points.join(
        labels.where(F.col(cluster_col).isNotNull()).select(id_col, cluster_col),
        id_col,
    )
    return _means(joined, features, cluster_col, dim)


def _means(
    df: DataFrame, features: str, cluster_col: str, dim: int, w: str | None = None
) -> DataFrame:
    """DataFrame(cluster_col, centroid array<double>, n_members): per
    ``cluster_col`` group, the ``w``-weighted mean of ``features`` in
    each dimension, Σx·w / Σw, and n_members = Σw — the package's one
    centroid formula. With ``w`` None every weight is 1 and the mean is
    Spark's ``avg``, which skips a NULL element; spelled as weighted
    sums it made ``anonymize`` slower to plan and run."""
    xs = [F.col(features)[i] for i in range(dim)]
    if w is None:
        means, n = [F.avg(x) for x in xs], F.count(F.lit(1))
    else:
        means, n = [F.sum(x * F.col(w)) / F.sum(w) for x in xs], F.sum(w)
    return df.groupBy(cluster_col).agg(F.array(*means).alias("centroid"), n.alias("n_members"))


def assign_nearest(
    points: DataFrame,
    centroids: DataFrame,
    metric: str = "l1",
    features: str = "features",
    id_col: str = "id",
    cluster_col: str = "cluster_id",
    centroid_col: str = "centroid",
    dim: int | None = None,
) -> DataFrame:
    """Broadcast nearest-centroid join (SURVEY.md §2.3 J2/J3).

    DataFrame(id, cluster_id, distance): each point mapped to its
    closest centroid, ties to the lower cluster id; an empty centroid
    set assigns nothing. The centroids ship as one broadcast row
    (``kmeans._centroid_row``, the cluster id keeping its type) and
    ``kmeans._assign`` ranks each point against it in the point's own
    partition, so the points side is never shuffled. The distance
    expression is evaluated |points| x |centroids| times, so the
    unrolled fixed-dimension form matters here: the dimension is
    inferred from the (small) centroid side when not given.
    """
    if dim is None:
        # the centroid side is the cheap probe, but it can be legitimately
        # empty (zero clusters -> every point is noise); fall back to the
        # points side rather than failing plan construction.
        try:
            dim = _dim_of(centroids, centroid_col)
        except ValueError:
            dim = _dim_of(points, features)
    return _assign(
        points.select(id_col, features),
        _centroid_row(centroids, cluster_col, centroid_col),
        v_col=features,
        out_col=cluster_col,
        dist=_metric_fn(metric, dim),
        dist_col="distance",
    ).select(id_col, cluster_col, "distance")


def _generalize(
    rows: DataFrame, features: str, dist, dim: int, w: str | None = None
) -> DataFrame:
    """``rows`` plus ``centroid``, the generalized features, ``_d``, the
    distance to it, and ``_noise``. ``rows`` carries ``features`` and
    ``cluster_id``, NULL for noise. A clustered row takes its own
    cluster's ``w``-weighted centroid (``_means``). A noise row takes the
    nearest centroid and its cluster id (``kmeans._assign`` against the
    one centroid row, ties to the lower id); with no cluster at all the
    row is empty and the noise row keeps a NULL cluster id, ``_d`` and
    centroid."""
    own = rows.where(F.col("cluster_id").isNotNull())
    cents = _means(own, features, "cluster_id", dim, w).select("cluster_id", "centroid")
    # ``_centroid_row`` without its empty-row filter, which would drop
    # every noise row when there is no cluster
    table = cents.agg(
        F.collect_list(F.struct(F.col("cluster_id").alias("cid"), F.col("centroid").alias("c")))
        .alias("_c")
    )
    clustered = own.join(cents, "cluster_id").select(
        "*", dist(features, "centroid").alias("_d"), F.lit(False).alias("_noise")
    )
    # left: an inner join would infer isnotnull(cluster_id) and push the
    # argmin into the cross join's condition, running it twice
    noise = _assign(
        rows.where(F.col("cluster_id").isNull()).drop("cluster_id"),
        table,
        v_col=features,
        out_col="cluster_id",
        dist=dist,
        dist_col="_d",
    ).join(F.broadcast(cents), "cluster_id", "left")
    return clustered.unionByName(noise.withColumn("_noise", F.lit(True)))


def _loss(
    rows: DataFrame, gen: DataFrame, w: str | None = None, solo: str | None = None
) -> DataFrame:
    """The one-row metrics frame (n_clusters, n_noise, cluster_error,
    noise_error, total_error) of the reference's eps_records
    (``DBSCAN.py:135-152``) for ``rows`` and their generalization
    ``gen = _generalize(rows, ...)``, each row standing for ``w`` points
    (1 when None). A row flagged by the ``solo`` column is ``w``
    singleton clusters. With no cluster at all the row is the
    reference's ``(0, n, 0, inf, inf)`` (``DBSCAN.py:163-168``)."""
    one = F.lit(1) if w is None else F.col(w)
    single = F.lit(False) if solo is None else F.col(solo)
    cid = F.col("cluster_id")
    counts = rows.agg(
        (
            F.count_distinct(F.when(~single, cid))
            + F.coalesce(F.sum(F.when(single, one)), F.lit(0))
        ).alias("n_clusters"),
        F.coalesce(F.sum(F.when(cid.isNull(), one)), F.lit(0)).alias("n_noise"),
    )

    def err(noise):
        return F.coalesce(
            F.sum(F.when(F.col("_noise") == noise, one * F.col("_d"))), F.lit(0.0)
        )

    errors = gen.agg(err(False).alias("cluster_error"), err(True).alias("_ne"))
    noise_error = F.when(F.col("n_clusters") == 0, float("inf")).otherwise(F.col("_ne"))
    return counts.crossJoin(errors).select(
        "n_clusters",
        "n_noise",
        "cluster_error",
        noise_error.alias("noise_error"),
        (F.col("cluster_error") + noise_error).alias("total_error"),
    )


def anonymize(
    points: DataFrame,
    labels: DataFrame,
    metric: str = "l1",
    features: str = "features",
    id_col: str = "id",
    sensitive_col: str = "sensitive",
    dim: int | None = None,
) -> DataFrame:
    """Replace each point's quasi-identifiers by its cluster centroid.

    Clustered points take their own cluster's centroid; noise points
    (NULL ``cluster_id``, where ``dbscan`` sets ``is_noise``) the
    nearest cluster centroid and its id (``DBSCAN.py:200-205`` union).
    Output: DataFrame(id, features, an_features, sensitive, cluster_id,
    is_noise) — the sensitive attribute rides through untouched
    (``DBSCAN.py:84``).

    Labels with no cluster at all leave no centroid to generalize to:
    the action over the result fails with a readable error, instead of
    publishing raw quasi-identifiers or dropping every row. The check is
    an expression on ``an_features``, so it runs no job of its own.
    """
    if dim is None:
        dim = _dim_of(points, features)
    rows = points.join(labels.select(id_col, "cluster_id", "is_noise"), id_col)
    no_cluster = F.raise_error(
        F.lit("anonymize: the labels hold no cluster (every point is noise), so there is no "
              "centroid to generalize to; choose a larger eps or a smaller min_pts")
    )
    return _generalize(rows, features, _metric_fn(metric, dim), dim).select(
        id_col,
        features,
        F.when(F.col("centroid").isNull(), no_cluster)
        .otherwise(F.col("centroid"))
        .alias("an_features"),
        sensitive_col,
        "cluster_id",
        "is_noise",
    )


def information_loss(
    points: DataFrame,
    labels: DataFrame,
    metric: str = "l1",
    features: str = "features",
    id_col: str = "id",
    dim: int | None = None,
) -> DataFrame:
    """One-row metrics frame per the reference's eps_records
    (``DBSCAN.py:135-152``): n_clusters, n_noise, cluster_error
    (Σ dist(pt, own centroid)), noise_error (Σ dist(noise, nearest
    centroid)), total_error.

    Degenerate ε with no clusters at all reproduces the reference's
    ``[eps, 0, n, 0, inf, inf]`` row (``DBSCAN.py:163-168``)."""
    if dim is None:
        dim = _dim_of(points, features)
    rows = points.select(id_col, features).join(labels.select(id_col, "cluster_id"), id_col)
    return _loss(rows, _generalize(rows, features, _metric_fn(metric, dim), dim))


def _driver_dist(a, b, metric: str):
    """numpy twin of ``_metric_fn(metric, dim)`` over the last axis of
    broadcastable float arrays: the per-dimension terms are added in
    index order, as the unrolled Spark expression adds them, so the
    sums match it bit for bit."""
    import numpy as np

    if metric not in ("l1", "l2"):
        raise ValueError(f"unknown metric {metric!r} (use 'l1' or 'l2')")
    acc = np.zeros(np.broadcast_shapes(a.shape, b.shape)[:-1])
    for j in range(a.shape[-1]):
        diff = a[..., j] - b[..., j]
        acc += np.abs(diff) if metric == "l1" else diff * diff
    return acc if metric == "l1" else np.sqrt(acc)


def _score_levels(levels, reps_pdf, eps_values, min_cluster_size, metric, features, id_col):
    """Every ε level's metrics row, computed on the driver from
    ``_rep_labels``' per-level label frames ``levels`` and its collect of
    the reps — ``_loss`` over ``_generalize`` with ``w = _mult``, the
    sweep's Spark scorer, term for term, in numpy:

    - with ``min_cluster_size <= 1`` an unlabeled rep is a singleton
      cluster: its centroid is its own point and it adds ``_mult``
      clusters;
    - centroids are ``_mult``-weighted means; cluster_error is
      Σ ``_mult``·dist(x, own centroid);
    - n_noise is Σ ``_mult`` over noise reps; noise_error is
      Σ ``_mult``·min over all centroids (singletons included);
    - a level with no cluster gives ``(eps, 0, n_total, 0.0, inf, inf)``.

    The caller gates it on Σ over levels of noise reps × centroids, the
    cells of its noise distance matrices, which are built one dimension
    at a time."""
    import numpy as np

    ids = reps_pdf[id_col].to_numpy(dtype="int64")
    mult = reps_pdf["_mult"].to_numpy(dtype="int64")
    x = np.stack(reps_pdf[features].to_numpy()).astype("float64")
    order = np.argsort(ids)
    n_total = int(mult.sum())

    rows = []
    for eps in sorted(eps_values):
        lab = levels[float(eps)]
        pos = order[np.searchsorted(ids[order], lab[id_col].to_numpy(dtype="int64"))]
        labeled = np.zeros(len(ids), dtype=bool)
        labeled[pos] = True
        cid = ids.copy()  # an unlabeled rep's singleton cluster is its own id
        cid[pos] = lab["cluster_id"].to_numpy(dtype="int64")
        solo = ~labeled if min_cluster_size <= 1 else np.zeros(len(ids), dtype=bool)
        clustered = labeled | solo
        _, inv = np.unique(cid[clustered], return_inverse=True)
        n_clusters = len(np.unique(cid[labeled])) + int(mult[solo].sum())
        if not n_clusters:
            rows.append((float(eps), 0, n_total, 0.0, float("inf"), float("inf")))
            continue
        w = mult[clustered].astype("float64")
        xc = x[clustered]
        cents = np.stack(
            [np.bincount(inv, weights=xc[:, j] * w) for j in range(x.shape[1])], axis=1
        ) / np.bincount(inv, weights=w)[:, None]
        ce = float((w * _driver_dist(xc, cents[inv], metric)).sum())
        noise = np.flatnonzero(~clustered)
        nearest = _driver_dist(x[noise][:, None, :], cents[None, :, :], metric).min(axis=1)
        ne = float((mult[noise] * nearest).sum())
        rows.append((float(eps), n_clusters, int(mult[noise].sum()), ce, ne, ce + ne))
    return rows


def eps_sweep(
    points: DataFrame,
    eps_values: list[float],
    min_pts: int,
    min_cluster_size: int | None = None,
    metric: str = "l1",
    features: str = "features",
    id_col: str = "id",
    dim: int | None = None,
) -> tuple[DataFrame, float]:
    """Sweep ε over ``eps_values`` (the reference's outer loop,
    ``DBSCAN.py:158``), computing the pair set ONCE at max ε.

    Scale design: the whole sweep runs on the *contracted* point set
    (distinct feature vectors weighted by multiplicity — see dbscan.py):
    one grid join at max ε over reps, then ``dbscan``'s labeling core
    ``_rep_labels`` labels every ε level and decides where. When it
    solved them in one driver pass, every level is scored on the driver
    too (``_score_levels``: weighted numpy sums over the labels and reps
    that pass already holds, no Spark job) unless ``_on_driver`` sends
    its noise × centroid work to the distributed twin: per ε, one
    ``_loss(...).first()`` over the reps left-joined to that level's
    labels, ``_mult`` the weight, up to three levels in flight. Per-point
    metrics are exact because duplicates share features: Σ_points dist =
    Σ_reps mult·dist, and centroids are multiplicity-weighted means.

    Returns (metrics DataFrame with one row per ε, best_eps) where best
    minimizes total_error — ties to the smaller ε, matching the
    reference's strict ``<`` best-so-far update (``DBSCAN.py:200``).
    """
    if min_cluster_size is None:
        min_cluster_size = min_pts
    if dim is None:
        dim = _dim_of(points, features)
    dist = _metric_fn(metric, dim)
    spark = points.sparkSession

    reps = _contract(points, features, id_col, dim).persist()
    all_pairs = eps_join(
        reps, reps, max(eps_values), metric=metric, features=features,
        id_col=id_col, dim=dim, payload_b=["_mult"],
    ).persist()

    def _one_eps(eps):
        # one ε's labels + weighted metrics; bodies for different ε
        # run concurrently (guide §2.6: the per-ε chain is many small
        # dependent jobs, so overlapping sweeps hides per-job
        # scheduling latency; 2-3 in flight). An unlabeled rep with
        # min_cluster_size <= 1 is edgeless: each of its rows is a
        # singleton cluster at the rep's point.
        solo = F.col("cluster_id").isNull() & F.lit(min_cluster_size <= 1)
        rows = (
            reps.join(labels_at(eps), id_col, "left")
            .select(
                id_col,
                features,
                "_mult",
                F.when(solo, F.col(id_col))
                .otherwise(F.col("cluster_id"))
                .alias("cluster_id"),
                solo.alias("_solo"),
            )
            .persist()
        )
        try:
            # built here, once: left lazy, each of the five reads of rows
            # in the metrics action runs its own job to build the cache,
            # and the error sums then differed in the last bit between runs
            rows.count()
            gen = _generalize(rows, features, dist, dim, "_mult")
            return (float(eps), *_loss(rows, gen, "_mult", "_solo").first())
        finally:
            rows.unpersist()

    def twin():
        from dbscan_pyspark_spark.compat import concurrent_map_ordered

        return concurrent_map_ordered(_one_eps, sorted(eps_values))

    try:
        labels_at, driver = _rep_labels(
            reps, all_pairs, eps_values, min_pts, min_cluster_size, "cc", id_col
        )
        if driver is None:
            rows = twin()
        else:
            levels, reps_pdf = driver
            # the driver's noise distance cells, Σ over levels of noise
            # reps × centroids (no noise when unlabeled reps are clusters)
            work = 0 if min_cluster_size <= 1 else sum(
                (len(reps_pdf) - len(lab)) * lab["cluster_id"].nunique()
                for lab in (levels[float(eps)] for eps in eps_values)
            )
            args = (*driver, eps_values, min_cluster_size, metric, features, id_col)
            rows = _on_driver(work, lambda: _score_levels(*args), twin)
    finally:
        all_pairs.unpersist()
        reps.unpersist()

    metrics = _local_frame(
        spark,
        rows,
        "eps double, n_clusters long, n_noise long, cluster_error double, "
        "noise_error double, total_error double",
    )
    best = min(rows, key=lambda r: (r[5], r[0]))[0]
    return metrics, best
