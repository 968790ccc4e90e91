"""Centroid generalization (k-anonymization) + ε-sweep metrics.

Rebuilds the reference's anonymization stage declaratively:

- per-cluster centroid  = per-dimension mean (``calc_error``/``anonymize``,
  ``DBSCAN.py:86-117``) — a single groupBy with one ``avg`` per dimension
  (map-side partial agg; no ``collect_list`` of whole clusters, so no
  group can exceed executor memory);
- noise points take their *nearest* centroid via a broadcast
  nested-loop argmin join (``assign_nearest`` over a broadcast list,
  ``DBSCAN.py:126-133,187-192``) — here ``crossJoin(broadcast(centroids))``
  + ``min_by``; tie-break = lowest cluster id (the reference's strict
  ``<`` keeps the first-seen centroid, which is list order — a total
  order makes it deterministic);
- information-loss metrics per ε (``eps_records``, ``DBSCAN.py:135-152``).

The ε-sweep computes the pair set ONCE at max ε and filters per ε
(neighbors at ε ⊆ neighbors at ε' > ε) — turning the reference's
Σ O(n²) sweep into one grid join (SURVEY.md §4 'iterative compute').
Where each level is scored follows where it was labeled: when
``dbscan._rep_labels`` solved the sweep on the driver, every level's
metrics are weighted numpy sums over the labels and reps it already
holds (``_score_levels``); otherwise (pairs or noise-to-centroid work
above ``_DRIVER_PAIRS_THRESHOLD``, or a failed driver attempt) the
concurrent per-ε Spark bodies score them — the distributed twin.

Small driver-built frames (metric rows, centroid and repair tables)
go through ``_local_frame``: Arrow ships them to the JVM, so scanning
or broadcasting them never starts a Python task.
"""

from __future__ import annotations

from importlib import import_module

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import DataType

from dbscan_pyspark_spark.operators.dbscan import _DRIVER_FAILURES, _rep_labels
from dbscan_pyspark_spark.operators.eps_join import _contract, _dim_of, _metric_fn, eps_join

# the module, not the ``dbscan`` function the operators package exports
# under the same name; its pair bound is read at call time
_dbscan = import_module("dbscan_pyspark_spark.operators.dbscan")


def _local_frame(spark: SparkSession, rows: list[tuple], ddl: str) -> DataFrame:
    """DataFrame of driver-side ``rows`` under the DDL schema ``ddl``.

    Built as a pandas frame and shipped as one Arrow table, so Spark
    scans it in the JVM. A list of tuples would go through
    ``parallelize`` instead, and every scan of it (each broadcast
    included) would run Python tasks; so would an empty pandas frame,
    which ``createDataFrame`` converts without Arrow. Empty ``rows``
    give an empty frame of the same schema."""
    import pandas as pd
    import pyarrow as pa

    schema = DataType.fromDDL(ddl)
    pdf = pd.DataFrame.from_records(rows, columns=schema.fieldNames())
    return spark.createDataFrame(pa.Table.from_pandas(pdf, preserve_index=False), schema)


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
    aggs = [F.avg(F.col(features)[i]).alias(f"_c{i}") for i in range(dim)] + [
        F.count(F.lit(1)).alias("n_members")
    ]
    g = joined.groupBy(cluster_col).agg(*aggs)
    return g.select(
        cluster_col,
        F.array(*[F.col(f"_c{i}") for i in range(dim)]).alias("centroid"),
        "n_members",
    )


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
    closest centroid. Centroid sets are small by construction (bounded
    by n/k clusters), so the build side is an explicit ``broadcast`` —
    no shuffle of the points side at any scale. The distance expression
    is evaluated |points| x |centroids| times, so the unrolled
    fixed-dimension form matters here: the dimension is inferred from
    the (small) centroid side when not given.
    """
    if dim is None:
        # the centroid side is the cheap probe, but it can be legitimately
        # empty (zero clusters -> every point is noise); fall back to the
        # points side rather than failing plan construction.
        try:
            dim = _dim_of(centroids, centroid_col)
        except ValueError:
            dim = _dim_of(points, features)
    dist = _metric_fn(metric, dim)
    c = F.broadcast(
        centroids.select(
            F.col(cluster_col).alias("_cid"), F.col(centroid_col).alias("_centroid")
        )
    )
    paired = points.crossJoin(c).select(
        F.col(id_col),
        F.col("_cid"),
        dist(features, "_centroid").alias("_d"),
    )
    # argmin with deterministic tie-break on cluster id
    return paired.groupBy(id_col).agg(
        F.min_by("_cid", F.struct("_d", "_cid")).alias(cluster_col),
        F.min("_d").alias("distance"),
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

    Clustered points take their own cluster's centroid; noise points the
    nearest cluster centroid (``DBSCAN.py:200-205`` union). Output:
    DataFrame(id, features, an_features, sensitive, cluster_id, is_noise)
    — the sensitive attribute rides through untouched (``DBSCAN.py:84``).
    """
    if dim is None:
        dim = _dim_of(points, features)
    cents = cluster_centroids(points, labels, features=features, id_col=id_col, dim=dim)
    lab = labels.select(id_col, "cluster_id", "is_noise")
    pts = points.join(lab, id_col)

    clustered = (
        pts.where(~F.col("is_noise"))
        .join(cents.select("cluster_id", "centroid"), "cluster_id")
    )
    noise = pts.where(F.col("is_noise")).drop("cluster_id")
    noise_assigned = noise.join(
        assign_nearest(
            noise, cents, metric=metric, features=features, id_col=id_col, dim=dim
        ).select(id_col, "cluster_id"),
        id_col,
    ).join(cents.select("cluster_id", "centroid"), "cluster_id")

    out_cols = [
        F.col(id_col),
        F.col(features),
        F.col("centroid").alias("an_features"),
        F.col(sensitive_col),
        F.col("cluster_id"),
        F.col("is_noise"),
    ]
    return clustered.select(*out_cols).unionByName(noise_assigned.select(*out_cols))


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
    dist = _metric_fn(metric, dim)
    spark = points.sparkSession
    if labels.where(F.col("cluster_id").isNotNull()).isEmpty():
        n = points.count()
        inf = float("inf")
        return _local_frame(
            spark,
            [(0, n, 0.0, inf, inf)],
            "n_clusters long, n_noise long, cluster_error double, "
            "noise_error double, total_error double",
        )
    an = anonymize(points, labels, metric=metric, features=features, id_col=id_col, dim=dim)
    return an.agg(
        F.count_distinct(F.when(~F.col("is_noise"), F.col("cluster_id"))).alias(
            "n_clusters"
        ),
        F.sum(F.when(F.col("is_noise"), 1).otherwise(0)).alias("n_noise"),
        F.coalesce(
            F.sum(F.when(~F.col("is_noise"), dist(features, "an_features"))), F.lit(0.0)
        ).alias("cluster_error"),
        F.coalesce(
            F.sum(F.when(F.col("is_noise"), dist(features, "an_features"))), F.lit(0.0)
        ).alias("noise_error"),
    ).select(
        "n_clusters",
        "n_noise",
        "cluster_error",
        "noise_error",
        (F.col("cluster_error") + F.col("noise_error")).alias("total_error"),
    )


def _score_levels(levels, reps_pdf, eps_values, min_cluster_size, metric, features, id_col):
    """Every ε level's metrics row, computed on the driver from
    ``_rep_labels``' per-level label frames ``levels`` and its collect of
    the reps — ``eps_sweep``'s per-ε Spark body, term for term, in
    numpy:

    - with ``min_cluster_size <= 1`` an unlabeled rep is a singleton
      cluster: its centroid is its own point and it adds ``_mult``
      clusters;
    - centroids are ``_mult``-weighted means; cluster_error is
      Σ ``_mult``·dist(x, own centroid);
    - n_noise is Σ ``_mult`` over noise reps; noise_error is
      Σ ``_mult``·min over all centroids (singletons included);
    - a level with no cluster gives ``(eps, 0, n_total, 0.0, inf, inf)``.

    Returns None (the caller runs the Spark body) when Σ over levels of
    noise reps × centroids exceeds ``_DRIVER_PAIRS_THRESHOLD``; within it,
    noise distances are built one dimension at a time in row blocks of
    at most that many cells."""
    import numpy as np

    bound = _dbscan._DRIVER_PAIRS_THRESHOLD
    ids = reps_pdf[id_col].to_numpy(dtype="int64")
    mult = reps_pdf["_mult"].to_numpy(dtype="int64")
    x = np.stack(reps_pdf[features].to_numpy()).astype("float64")
    order = np.argsort(ids)
    n_total = int(mult.sum())

    def dist(a, b):
        # per-dimension accumulation in index order, as the unrolled
        # Spark expression adds its terms
        acc = np.zeros(np.broadcast_shapes(a.shape, b.shape)[:-1])
        for j in range(x.shape[1]):
            diff = a[..., j] - b[..., j]
            acc += np.abs(diff) if metric == "l1" else diff * diff
        return acc if metric == "l1" else np.sqrt(acc)

    levels_out, work = [], 0
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
            levels_out.append((float(eps), None))
            continue
        w = mult[clustered].astype("float64")
        xc = x[clustered]
        cents = np.stack(
            [np.bincount(inv, weights=xc[:, j] * w) for j in range(x.shape[1])], axis=1
        ) / np.bincount(inv, weights=w)[:, None]
        ce = float((w * dist(xc, cents[inv])).sum())
        noise = np.flatnonzero(~clustered)
        work += len(noise) * len(cents)
        levels_out.append((float(eps), (n_clusters, ce, noise, cents)))
    if work > bound:
        return None

    rows = []
    for eps, level in levels_out:
        if level is None:
            rows.append((eps, 0, n_total, 0.0, float("inf"), float("inf")))
            continue
        n_clusters, ce, noise, cents = level
        step = max(1, bound // len(cents))
        ne = 0.0
        for lo in range(0, len(noise), step):
            blk = noise[lo : lo + step]
            nearest = dist(x[blk][:, None, :], cents[None, :, :]).min(axis=1)
            ne += float((mult[blk] * nearest).sum())
        rows.append((eps, n_clusters, int(mult[noise].sum()), ce, ne, ce + ne))
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
    that pass already holds, no Spark job). The concurrent per-ε Spark
    bodies below are only the distributed twin: they score the levels
    when the labeling ran distributed, when the scoring's noise ×
    centroid work exceeds the same pair bound, or when the driver
    scoring fails. Per-point metrics are exact because duplicates share
    features: Σ_points dist = Σ_reps mult·dist, and centroids are
    multiplicity-weighted means.

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
    inf = float("inf")

    def _one_eps(eps):
        # one ε's labels + weighted metrics; bodies for different ε
        # run concurrently (guide §2.6: the per-ε chain is many small
        # dependent jobs, so overlapping sweeps hides per-job
        # scheduling latency; 2-3 in flight). An unlabeled rep with
        # min_cluster_size <= 1 is edgeless: each of its rows is a
        # singleton cluster at the rep's point.
        solo = F.col("cluster_id").isNull() & F.lit(min_cluster_size <= 1)
        rep_labels = (
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

        clustered = rep_labels.where(F.col("cluster_id").isNotNull())

        # weighted centroids
        cents = (
            clustered.groupBy("cluster_id")
            .agg(
                *[
                    (
                        F.sum(F.col(features)[i] * F.col("_mult"))
                        / F.sum("_mult")
                    ).alias(f"_c{i}")
                    for i in range(dim)
                ]
            )
            .select(
                "cluster_id",
                F.array(*[F.col(f"_c{i}") for i in range(dim)]).alias("centroid"),
            )
        )
        cluster_agg = clustered.join(cents, "cluster_id").agg(
            (
                F.count_distinct(F.when(~F.col("_solo"), F.col("cluster_id")))
                + F.coalesce(F.sum(F.when(F.col("_solo"), F.col("_mult"))), F.lit(0))
            ).alias("n_clusters"),
            F.sum(F.col("_mult") * dist(features, "centroid")).alias("err"),
        )
        noise = rep_labels.where(F.col("cluster_id").isNull())
        noise_agg = (
            assign_nearest(
                noise, cents, metric=metric, features=features,
                id_col=id_col, dim=dim,
            )
            .join(noise.select(id_col, "_mult"), id_col)
            .agg(
                F.coalesce(F.sum("_mult"), F.lit(0)).alias("n_noise"),
                F.coalesce(F.sum(F.col("_mult") * F.col("distance")), F.lit(0.0)).alias("nerr"),
            )
        )
        # ONE action per ε: both 1-row aggregates ride a single
        # crossJoin job (replacing isEmpty + two .first()s — the
        # per-ε cost is job-scheduling latency, not data)
        stats = cluster_agg.crossJoin(noise_agg).first()
        rep_labels.unpersist()
        if not stats["n_clusters"]:
            # zero clusters at this ε: every original row is noise
            # and there is no centroid to measure error against
            return (float(eps), 0, n_total, 0.0, inf, inf)
        ce = float(stats["err"] or 0.0)
        ne = float(stats["nerr"] or 0.0)
        return (
            float(eps),
            int(stats["n_clusters"]),
            int(stats["n_noise"]),
            ce,
            ne,
            ce + ne,
        )

    try:
        from dbscan_pyspark_spark.compat import concurrent_map_ordered

        labels_at, driver = _rep_labels(
            reps, all_pairs, eps_values, min_pts, min_cluster_size, "cc", id_col
        )
        rows = None
        if driver is not None:
            try:
                rows = _score_levels(
                    *driver, eps_values, min_cluster_size, metric, features, id_col
                )
            except _DRIVER_FAILURES:
                pass  # the distributed twin below scores every level
        if rows is None:
            n_total = points.count()  # read by _one_eps
            rows = concurrent_map_ordered(_one_eps, sorted(eps_values))
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
