"""Distributed DBSCAN with the reference's exact cluster semantics.

Reference pipeline (``DBSCAN.py:157-181``):

1. ε-pairs via cartesian self-join, self-pairs included;
2. core points: neighbor count (incl. self and duplicate rows) >=
   min_pts (``DBSCAN.py:161``, HAVING semantics — P3);
3. edges core -> every ε-neighbor (``flattenPair``, ``DBSCAN.py:119-124,162``);
4. undirected connected components over those edges — or, with
   ``variant='scc'``, only mutual core-core edges, reproducing the
   directed strongly-connected-components variant
   (``DBSCAN-strongly-connected-component.py:174``): clusters are sets
   of mutually-reachable core points, border points fall out;
5. components with >= min_cluster_size members are clusters, everything
   else is noise (``DBSCAN.py:176-181`` — the anonymity k, not min_pts).

Here ``dbscan(eps)`` is the one-level case of the ε-sweep
(``anonymize.eps_sweep``): both run one labeling core, ``_rep_labels``,
over the grid-bucketed ε-join (not cartesian) of the *contracted* point
set. Points sharing a feature vector are interchangeable (same
neighbors, same core status, same component), so the join and the
labeling run over distinct vectors weighted by multiplicity and labels
go back to the points by vector equality. Quantized data (the
anonymization use case) contracts orders of magnitude; continuous data
contracts to ~n and costs one extra groupBy. All counts use
multiplicities, so the result is bit-identical to the uncontracted run:
neighbor counts still include self and duplicate rows, and an edgeless
duplicate group is still |group| singleton components, not one
component of size |group|.

Note the reference quirk, preserved on purpose: because edges run core ->
*all* neighbors, two cores farther than ε apart can merge through a
shared border point. That is its documented behavior (SURVEY.md §7).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dbscan_pyspark_spark.operators.components import _union, connected_components
from dbscan_pyspark_spark.operators.eps_join import _contract, _dim_of, eps_join

# Up to this many ε-pairs (the symmetric relation at the largest ε) the
# labeling core solves every ε level in one driver pass; above it, it
# runs the distributed per-ε chain. Same bound as connected_components'
# union-find fast path: four 8-byte columns per pair, ~160 MB at the
# bound.
_DRIVER_PAIRS_THRESHOLD = 5_000_000

# Below this rep count the label map (rep features + cluster id) is
# broadcast for the final expansion join, so the original points are
# never shuffled at all: measured 1.7s -> <0.1s at 600k points / 58k
# reps. ~1M reps * ~100B/row ≈ 100 MB broadcast — acceptable on any
# executor sizing we'd deploy; above it the expansion falls back to a
# shuffle join keyed by the feature hash (cheap long key, exact
# feature-equality residual).
_BROADCAST_EXPAND_THRESHOLD = 1_000_000

# What a driver fast path may raise and still fall back to its
# distributed twin: no numpy/pandas, driver memory, Arrow conversion.
_DRIVER_FAILURES = (ImportError, MemoryError, ValueError, TypeError)


def _kruskal(pairs_pdf, reps_pdf, eps_values, min_pts, min_cluster_size, variant, id_col):
    """Solve EVERY ε level's rep labels in one driver pass (a Kruskal
    sweep) over the max-ε pair relation.

    Equivalence to the per-ε chain (``_chain_labels``):

    - a rep's weighted neighbor count at ε is Σ{mult_b : d < ε}, which
      only grows with ε, so core status is monotone: a is core at ε iff
      ε > dthr(a), where dthr(a) = min{D : Σ{mult_b : d <= D} >= k};
    - the ``cc`` edge set at ε is {(a, b) : d < ε and a core}, so the
      UNDIRECTED pair {a, b} is connected at ε iff
      ε > max(d, min(dthr(a), dthr(b))) — its activation threshold;
      ``scc`` keeps core-core pairs only, so there it is
      ε > max(d, max(dthr(a), dthr(b)));
    - a rep participates (is CC-labeled) at ε iff some active pair
      touches it; the self-pair (a, a, d=0) the ε-join emits makes a
      lone core participate at exactly ε > dthr(a), so participation
      needs no special case;
    - union-by-min-root union-find labels components with their min rep
      id — the same labels connected_components produces.

    Returns {ε: pandas DataFrame(id, cluster_id)} holding only the
    clustered reps."""
    import numpy as np
    import pandas as pd

    rid = reps_pdf[id_col].to_numpy(dtype="int64")
    rmult = reps_pdf["_mult"].to_numpy(dtype="int64")
    order = np.argsort(rid)
    rid, rmult = rid[order], rmult[order]
    n = len(rid)
    ai = np.searchsorted(rid, pairs_pdf["a_id"].to_numpy(dtype="int64"))
    bi = np.searchsorted(rid, pairs_pdf["b_id"].to_numpy(dtype="int64"))
    d = pairs_pdf["distance"].to_numpy(dtype="float64")
    m = pairs_pdf["b__mult"].to_numpy(dtype="int64")

    # dthr per rep: running weighted count up the sorted distance list
    # (ties share a distance value, so the first row whose running sum
    # reaches k carries exactly min{D : sum over d<=D >= k})
    dthr = np.full(n, np.inf)
    if len(d):
        df = pd.DataFrame({"ai": ai, "d": d, "m": m}).sort_values(
            ["ai", "d"], kind="mergesort"
        )
        cum = df.groupby("ai")["m"].cumsum()
        hits = df.loc[cum >= min_pts].groupby("ai")["d"].first()
        dthr[hits.index.to_numpy()] = hits.to_numpy()

    # per-pair activation threshold and per-rep participation threshold
    core_of_pair = np.maximum if variant == "scc" else np.minimum
    t = np.maximum(d, core_of_pair(dthr[ai], dthr[bi]))
    part = np.full(n, np.inf)
    if len(t):
        np.minimum.at(part, ai, t)
        np.minimum.at(part, bi, t)

    # Kruskal: union pairs by ascending threshold, snapshot per ε
    eorder = np.argsort(t, kind="stable")
    ai, bi, t = ai[eorder], bi[eorder], t[eorder]
    parent = np.arange(n)
    out = {}
    lo_edge = 0
    for eps in sorted(set(float(e) for e in eps_values)):
        hi_edge = int(np.searchsorted(t, eps, side="left"))  # t < eps
        parent = _union(parent, ai[lo_edge:hi_edge], bi[lo_edge:hi_edge])
        lo_edge = hi_edge
        participating = part < eps
        mass = np.bincount(
            parent[participating], weights=rmult[participating], minlength=n
        )
        keep = participating & (mass[parent] >= min_cluster_size)
        out[eps] = pd.DataFrame({id_col: rid[keep], "cluster_id": rid[parent[keep]]})
    return out


def _chain_labels(reps, pairs, eps, min_pts, min_cluster_size, variant, id_col):
    """Distributed twin of ``_kruskal`` for one ε level: filter → weighted
    counts → cores → core-incident edges (core-core for ``scc``) →
    connected components → component masses. Returns
    DataFrame(id, cluster_id) of the clustered reps."""
    at_eps = pairs.where(F.col("distance") < F.lit(float(eps)))
    cores = (
        at_eps.groupBy("a_id")
        .agg(F.sum("b__mult").alias("_n"))
        .where(F.col("_n") >= F.lit(int(min_pts)))
        .select(F.col("a_id").alias("_core"))
    )
    edges = at_eps.join(cores, at_eps["a_id"] == cores["_core"]).select(
        F.col("a_id").alias("src"), F.col("b_id").alias("dst")
    )
    if variant == "scc":
        # directed mutual reachability == both orientations present ==
        # core-core ε-pairs
        edges = edges.intersect(
            edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
    # connected_components labels every edge participant, including
    # cores whose only edge is their self-loop
    labels = connected_components(edges, id_col=id_col)
    mass = (
        labels.join(reps.select(id_col, "_mult"), id_col)
        .groupBy("component")
        .agg(F.sum("_mult").alias("_n"))
    )
    return (
        labels.join(mass, "component")
        .where(F.col("_n") >= F.lit(int(min_cluster_size)))
        .select(id_col, F.col("component").alias("cluster_id"))
    )


def _rep_labels(reps, pairs, eps_values, min_pts, min_cluster_size, variant, id_col):
    """The labeling core of ``dbscan`` and ``eps_sweep``.

    ``reps`` is the contraction (``_contract``) and ``pairs`` its
    symmetric ε-join at max(eps_values) with ``keep_distance=True`` and
    ``payload_b=["_mult"]``; the caller persists both. Returns
    ``(labels_at, driver)``. ``labels_at`` maps ε -> DataFrame(id,
    cluster_id) listing the clustered reps. A rep not listed is noise,
    except that with ``min_cluster_size <= 1`` an edgeless rep stands for
    one singleton cluster per original row.

    This is the one driver-vs-distributed decision. Up to
    ``_DRIVER_PAIRS_THRESHOLD`` pairs every level is solved at once by
    ``_kruskal`` on the driver, and ``driver`` is ``({ε: pandas
    DataFrame(id, cluster_id)}, reps as pandas)``: the per-level label
    frames plus the one collect of the reps (features, id, ``_mult``),
    which ``eps_sweep`` scores on the driver and ``dbscan`` ignores.
    Above the bound, or when the driver pass fails (no numpy/pandas,
    driver memory, Arrow conversion), ``driver`` is None and each
    ``labels_at`` call runs the distributed ``_chain_labels``. Both give
    every component its minimum rep id."""
    spark = reps.sparkSession
    if pairs.count() <= _DRIVER_PAIRS_THRESHOLD:
        try:
            reps_pdf = reps.toPandas()
            pdfs = _kruskal(
                pairs.select("a_id", "b_id", "distance", "b__mult").toPandas(),
                reps_pdf, eps_values, min_pts, min_cluster_size, variant, id_col,
            )
            return (
                lambda eps: spark.createDataFrame(
                    pdfs[float(eps)], f"{id_col} long, cluster_id long"
                ),
                (pdfs, reps_pdf),
            )
        except _DRIVER_FAILURES:
            pass  # fall through to the distributed twin
    return (
        lambda eps: _chain_labels(
            reps, pairs, eps, min_pts, min_cluster_size, variant, id_col
        ),
        None,
    )


def dbscan(
    points: DataFrame,
    eps: float,
    min_pts: int,
    min_cluster_size: int | None = None,
    metric: str = "l1",
    features: str = "features",
    id_col: str = "id",
    dim: int | None = None,
    variant: str = "cc",
) -> DataFrame:
    """Cluster ``points`` -> DataFrame(id, cluster_id, is_noise).

    ``cluster_id`` is the minimum member id of the cluster (stable,
    deterministic — unlike GraphFrames' internal component numbering);
    NULL for noise. ``min_cluster_size`` defaults to ``min_pts`` and is
    the reference's k-anonymity threshold (``DBSCAN.py:47,176``).

    Runs the ε-sweep's labeling core at the single level ``eps`` (see
    the module docstring), then expands rep labels to the points.
    """
    if min_cluster_size is None:
        min_cluster_size = min_pts
    if variant not in ("cc", "scc"):
        raise ValueError(f"variant must be 'cc' or 'scc', got {variant!r}")

    # The input lineage (often a window/exchange-bearing view) feeds both
    # the contraction and the final expansion join — cache it once.
    points = points.persist()
    reps = pairs = None
    try:
        if dim is None:
            dim = _dim_of(points, features)
        reps = _contract(points, features, id_col, dim).persist()
        # one cheap job over the persisted contraction sizes the
        # expansion join
        small = reps.count() <= _BROADCAST_EXPAND_THRESHOLD
        # Multiplicities (how many original rows each rep stands for)
        # ride through the cell join as payload — joining them onto the
        # pair set afterwards would shuffle the pairs a second time.
        pairs = eps_join(
            reps, reps, eps, metric=metric, features=features, id_col=id_col,
            dim=dim, keep_distance=True, payload_b=["_mult"],
        ).persist()
        labels_at, _ = _rep_labels(
            reps, pairs, [eps], min_pts, min_cluster_size, variant, id_col
        )
        labels = labels_at(eps)
        if small:
            labels = F.broadcast(labels)

        # Expand back to original rows by feature equality, equi-keyed on
        # the 64-bit feature hash (cheap to shuffle/compare; the exact
        # array equality stays as a residual so hash collisions cannot
        # mislabel). Small rep sets broadcast — the points side is then
        # never shuffled.
        rep_map = reps.select(
            F.col(features).alias("_rep_features"), F.col(id_col).alias("_rep_id")
        ).join(
            labels.withColumnRenamed(id_col, "_rep_id"), "_rep_id", "left"
        ).withColumn("_rep_h", F.xxhash64("_rep_features"))
        if small:
            rep_map = F.broadcast(rep_map)
        pts_h = points.withColumn("_h", F.xxhash64(F.col(features)))
        out = pts_h.join(
            rep_map,
            (pts_h["_h"] == rep_map["_rep_h"])
            & (pts_h[features] == rep_map["_rep_features"]),
            "left",
        ).select(
            pts_h[id_col],
            # unlabeled rep with min_cluster_size <= 1: it is edgeless,
            # and every original row is a cluster of itself
            F.when(
                F.col("cluster_id").isNull() & F.lit(min_cluster_size <= 1),
                pts_h[id_col],
            )
            .otherwise(F.col("cluster_id"))
            .alias("cluster_id"),
        ).withColumn("is_noise", F.col("cluster_id").isNull())
        out = out.localCheckpoint(eager=True)
    finally:
        for df in (pairs, reps, points):
            if df is not None:
                df.unpersist()
    return out


def dbscan_assign(
    new_points: DataFrame,
    trained_points: DataFrame,
    labels: DataFrame,
    eps: float,
    metric: str = "l1",
    features: str = "features",
    id_col: str = "id",
    dim: int | None = None,
) -> DataFrame:
    """Classify NEW points against a trained clustering (DBSCAN
    inference): a new point takes the cluster of its nearest labeled
    (non-noise) trained point within ``eps``; no such neighbor → noise.

    ``labels`` is :func:`dbscan`'s output for ``trained_points``.
    Ties break deterministically on (distance, cluster_id, member id).
    Nearest-MEMBER semantics (not nearest-core): every non-noise
    trained point attracts, which is the anonymization use case's
    contract (each labeled point already belongs to exactly one
    k-anonymous cell); classical core-only prediction is recoverable by
    passing a core-filtered ``labels``.

    Scale shape: the same grid-bucketed ε-join as training (no
    cartesian), cluster ids riding the join as payload; one groupBy on
    the new-point id for the argmin; the trained side shuffles once.
    Returns DataFrame(id, cluster_id, is_noise) for the new points.
    """
    members = trained_points.join(
        labels.where(~F.col("is_noise")).select(id_col, "cluster_id"),
        id_col,
    ).select(id_col, features, "cluster_id")
    pairs = eps_join(
        new_points,
        members,
        eps,
        metric=metric,
        features=features,
        id_col=id_col,
        dim=dim,
        keep_distance=True,
        payload_b=["cluster_id"],
    )
    best = (
        pairs.groupBy("a_id")
        .agg(
            F.min(
                F.struct(
                    F.col("distance"), F.col("b_cluster_id"), F.col("b_id")
                )
            ).alias("_best")
        )
        .select(
            F.col("a_id").alias(id_col),
            F.col("_best.b_cluster_id").alias("cluster_id"),
        )
    )
    return (
        new_points.select(id_col)
        .join(best, id_col, "left")
        .select(
            id_col,
            "cluster_id",
            F.col("cluster_id").isNull().alias("is_noise"),
        )
    )
