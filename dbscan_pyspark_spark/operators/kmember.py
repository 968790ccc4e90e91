"""k-member constrained k-means (reference pipeline 2,
``k-means.ipynb:cell0``): Lloyd's iterations under the constraint that
every cluster keeps >= k members, for k-anonymity.

The reference runs the repair inside the assignment step as a driver
loop of RDD jobs — 30 restarts x 20 iterations x a multi-job while-loop
(SURVEY.md §3.2: thousands of jobs for 10k rows, with an unbounded
``.union().cache()`` lineage chain).

Where :func:`kmember_kmeans` runs is decided once, by
``components._on_driver`` on points × clusters: the whole algorithm in
numpy after one Arrow pull (``_kmember_driver``), or the Spark loop
(``_kmember_twin``), its distributed twin, which gives the same result.
There each Lloyd iteration is one DataFrame pass (``kmeans._assign``,
the package's one nearest-centroid argmin, against one broadcast
centroid row) and the constraint repair is a bounded loop of
window-ranked moves; the driver solver takes the same steps with the
same tie-breaks:

  release:   clusters > k give up their farthest-beyond-k members (W2);
  claim:     each released point goes to its nearest *deficient*
             centroid (the same broadcast argmin);
  cap:       each deficient cluster accepts only the (k - count)
             nearest claimants (W1), so no cluster overshoots back
             below feasibility.

One Spark function, ``_repair``, runs those rounds for both the twin
(float distances, until the fixpoint) and the exactly-oracled
:func:`kmember_quantized` (integer L1, a fixed number of rounds). Its
assignment carries each point's vector, so a claim never joins back to
the points. Feasible inputs (n >= k * n_clusters) terminate: every
round either fills a deficient cluster or strictly shrinks the
deficiency total. Lineage is truncated per round (localCheckpoint) —
the discipline the notebook lacked.

Deviations from the reference, on purpose (SURVEY.md §7 flag list):
- convergence uses |drift| (the notebook's live version sums *signed*
  diffs and can "converge" on cancellation — F6 bug, cell0:L58-67);
- the repair-exit test is ``deficient > 0`` not the notebook's ``> 1``
  (cell0:L107 leaves one cluster under-filled);
- the restarts/cluster-count search is an explicit helper
  (:func:`kmember_search_quantized`), not 600 hardcoded driver jobs.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from dbscan_pyspark_spark.operators.anonymize import _driver_dist, _means
from dbscan_pyspark_spark.operators.components import _on_driver
from dbscan_pyspark_spark.operators.eps_join import _dim_of, _metric_fn
from dbscan_pyspark_spark.operators.kmeans import (
    _assign,
    _centroid_row,
    _centroid_table,
    _l1_int,
    _quantized_rows,
)
from dbscan_pyspark_spark.session import _local_frame


@dataclass
class KMemberResult:
    assignments: DataFrame  # (id, cluster_id, distance)
    centroids: DataFrame  # (cluster_id, centroid, n_members)
    cost: float
    n_iter: int


def _repair(
    assign: DataFrame,
    table: DataFrame,
    k: int,
    dist,
    id_col: str,
    rounds: int,
) -> tuple[DataFrame, bool]:
    """Enforce 'every cluster >= k members' by ranked moves, at most
    ``rounds`` rounds of: release the beyond-k farthest members of
    surplus clusters, claim each to its nearest *deficient* centroid of
    ``table`` (the iteration's one-row ``_c`` centroid table) under
    ``dist``, cap each deficient cluster at its need. Members are ranked
    by (distance, id). ``assign`` carries (id, ``_v``, cluster, dist).

    Returns ``(assign, fixpoint)``: ``fixpoint`` is True when a round
    found no deficient cluster, False when no surplus cluster was left
    to release from or the rounds ran out. A round at the fixpoint is
    the identity, so a fixed unroll equals the early-stopping loop — the
    quantized contract's DuckDB oracle replays it CTE-for-CTE. Clusters
    with ZERO members never appear in the count table and are never
    repaired (mirrored by the oracle and the driver solver): an empty
    cluster has no rows to de-anonymize.

    One job per round: the count table (one row per cluster) is the
    only driver state, each round's assignment is localCheckpointed
    non-eagerly and the next count collect (or the caller's next
    action) materializes it; the incoming argmin assignment is
    checkpointed up front, so a round reads it instead of re-ranking
    every point in each subtree."""
    spark = assign.sparkSession
    cluster_type = assign.schema["cluster"].dataType.simpleString()
    ranked = Window.partitionBy("cluster").orderBy(
        F.col("dist").asc(), F.col(id_col).asc()
    )
    assign = assign.localCheckpoint(eager=False)
    for _ in range(rounds):
        counts = dict(
            assign.groupBy("cluster").agg(F.count(F.lit(1))).collect()
        )
        deficient = {c: k - n for c, n in counts.items() if n < k}
        if not deficient:
            return assign, True
        surplus = [c for c, n in counts.items() if n > k]
        if not surplus:
            return assign, False
        released = (
            assign.where(F.col("cluster").isin(*surplus))
            .withColumn("_rn", F.row_number().over(ranked))
            .where(F.col("_rn") > k)
            .select(id_col, "_v")
        )
        deficient_row = table.select(
            F.filter("_c", lambda c: c["cid"].isin(*deficient)).alias("_c")
        )
        claims = _assign(released, deficient_row, dist=dist, dist_col="dist")
        need = F.broadcast(
            _local_frame(
                spark, list(deficient.items()), f"cluster {cluster_type}, _need int"
            )
        )
        accepted = (
            # left: an inner join would infer isnotnull(cluster) and push
            # the argmin into the cross join's condition, running it twice
            claims.join(need, "cluster", "left")
            .withColumn("_rn", F.row_number().over(ranked))
            .where(F.col("_rn") <= F.col("_need"))
            .select(id_col, "_v", "cluster", "dist")
        )
        assign = (
            # the moved ids are at most the deficit total: broadcast them,
            # so the assignment is not shuffled by id in every round
            assign.join(F.broadcast(accepted.select(id_col)), id_col, "left_anti")
            .unionByName(accepted)
            .localCheckpoint(eager=False)
        )
    return assign, False


def _ranks(groups, *keys):
    """Each row's 0-based rank within its ``groups`` value, ordered by
    ``keys`` (the first key leads): ``row_number() - 1`` over a window
    partitioned by ``groups`` and ordered by ``keys``."""
    import numpy as np

    order = np.lexsort(tuple(reversed(keys)) + (groups,))
    g = groups[order]
    rank = np.empty(len(g), dtype="int64")
    rank[order] = np.arange(len(g)) - np.searchsorted(g, g)
    return rank


def _kmember_driver(
    points: DataFrame,
    k: int,
    n_clusters: int,
    max_iter: int,
    tol: float,
    seed: int,
    metric: str,
    features: str,
    id_col: str,
) -> KMemberResult:
    """The whole of :func:`kmember_kmeans` in numpy, after one Arrow pull
    of (id, features, init hash): the Spark loop's init, argmin, repair,
    centroid means and |drift| stop, step for step.

    - argmin ties go to the lower cluster id, and release and cap rank
      members by (distance, id), as ``kmeans._assign`` and ``_repair``
      do;
    - a cluster that loses every member leaves the centroid set, and
      only clusters with members are counted, so an empty one is never
      deficient;
    - distances add their dimensions in index order (``_driver_dist``),
      centroids are per-dimension sums over the count, and the repair
      raises after the same number of rounds.

    The n × clusters distance matrix of each iteration serves its argmin
    and every repair claim."""
    import numpy as np

    pdf = points.select(
        id_col, features, F.xxhash64(F.col(id_col), F.lit(seed)).alias("_h")
    ).toPandas()
    ids = pdf[id_col].to_numpy()
    x = np.stack(pdf[features].to_numpy()).astype("float64")
    cid = np.arange(n_clusters)  # live cluster ids, ascending
    cents = x[np.argsort(pdf["_h"].to_numpy(), kind="stable")[:n_clusters]]
    max_rounds = 2 * n_clusters + 8

    for n_iter in range(1, max_iter + 1):
        d = _driver_dist(x[:, None, :], cents[None, :, :], metric)
        # argmin ties go to the first minimum: the lower cluster id
        assign, dist = cid[d.argmin(axis=1)], d.min(axis=1)
        for _ in range(max_rounds):
            present, counts = np.unique(assign, return_counts=True)
            deficient = present[counts < k]
            if not len(deficient):
                break
            # release: members ranked beyond k in their (surplus) cluster
            released = np.flatnonzero(_ranks(assign, dist, ids) >= k)
            # claim: each released point's nearest deficient centroid
            sub = d[released][:, np.searchsorted(cid, deficient)]
            claim, claim_d = deficient[sub.argmin(axis=1)], sub.min(axis=1)
            # cap: a deficient cluster takes its (k - count) nearest claimants
            need = k - counts[np.searchsorted(present, claim)]
            ok = _ranks(claim, claim_d, ids[released]) < need
            assign[released[ok]], dist[released[ok]] = claim[ok], claim_d[ok]
        else:
            raise RuntimeError(
                f"k-member repair did not converge in {max_rounds} rounds"
            )
        present, inv, counts = np.unique(
            assign, return_inverse=True, return_counts=True
        )
        new = np.stack(
            [np.bincount(inv, weights=x[:, j]) for j in range(x.shape[1])], axis=1
        ) / counts[:, None]
        # |drift|: max L1 movement of any centroid that kept members
        drift = _driver_dist(cents[np.searchsorted(cid, present)], new, "l1").max()
        cid, cents = present, new
        if drift < tol:
            break

    final = _driver_dist(x, cents[np.searchsorted(cid, assign)], metric)
    spark = points.sparkSession
    id_type = points.schema[id_col].dataType.simpleString()
    return KMemberResult(
        assignments=_local_frame(
            spark,
            list(zip(ids.tolist(), assign.tolist(), final.tolist())),
            f"{id_col} {id_type}, cluster_id int, distance double",
        ),
        centroids=_local_frame(
            spark,
            list(zip(cid.tolist(), cents.tolist(), counts.tolist())),
            "cluster_id int, centroid array<double>, n_members long",
        ),
        cost=float(final.sum()),
        n_iter=n_iter,
    )


def kmember_kmeans(
    points: DataFrame,
    k: int,
    n_clusters: int | None = None,
    max_iter: int = 20,
    tol: float = 1e-6,
    seed: int = 42,
    metric: str = "l1",
    features: str = "features",
    id_col: str = "id",
    dim: int | None = None,
) -> KMemberResult:
    """Cluster with every cluster >= k members (k-anonymity).

    ``n_clusters`` defaults to the reference's upper search bound
    ``n // k`` (``cell0:L12-13``, py2 floor division). Init = seeded
    random sample, as ``takeSample(False, want_cluster)`` (W4).

    Where it runs (``components._on_driver``, on n × n_clusters, the
    cells of one iteration's distance matrix): on the driver
    (``_kmember_driver``: one Arrow pull, numpy iterations, two
    Arrow-built result frames, and no Spark job after the pull), or in
    the Spark loop (``_kmember_twin``), the distributed twin. Both give
    the same clusters, centroids, cost and ``n_iter``. NULL feature
    arrays, and arrays of different lengths, raise ValueError on both.
    """
    if max_iter < 1:
        raise ValueError(f"kmember_kmeans: max_iter must be >= 1, got {max_iter}")
    size = F.size(features)
    n, n_feat, lo, hi = points.agg(
        F.count(F.lit(1)), F.count(features), F.min(size), F.max(size)
    ).first()
    if n_feat < n:
        raise ValueError(f"kmember_kmeans: {n - n_feat} NULL feature arrays")
    if lo != hi:
        raise ValueError(
            f"kmember_kmeans: feature arrays differ in length ({lo} to {hi})"
        )
    if n_clusters is None:
        n_clusters = max(n // k, 1)
    if n < k * n_clusters:
        raise ValueError(
            f"infeasible: n={n} < k*n_clusters={k * n_clusters}"
        )
    args = (points, k, n_clusters, max_iter, tol, seed, metric, features, id_col)
    return _on_driver(
        n * n_clusters,
        lambda: _kmember_driver(*args),
        lambda: _kmember_twin(*args, dim),
    )


def _kmember_twin(
    points, k, n_clusters, max_iter, tol, seed, metric, features, id_col, dim
) -> KMemberResult:
    """:func:`kmember_kmeans`' Spark loop, the distributed twin of
    ``_kmember_driver``: per iteration one broadcast argmin, the
    ``_repair`` rounds and a centroid aggregate, all over one
    assignment that carries each point's vector."""
    if dim is None:
        dim = _dim_of(points, features)
    dist = _metric_fn(metric, dim)
    init_rows = (
        points.select(id_col, features)
        .orderBy(F.xxhash64(F.col(id_col), F.lit(seed)))
        .limit(n_clusters)
        .collect()
    )
    centroids = _local_frame(
        points.sparkSession,
        [(i, [float(x) for x in r[features]], 0) for i, r in enumerate(init_rows)],
        "cluster_id int, centroid array<double>, n_members long",
    )
    pts = points.select(id_col, F.col(features).alias("_v"))
    max_rounds = 2 * n_clusters + 8

    for n_iter in range(1, max_iter + 1):
        table = _centroid_row(centroids, "cluster_id", "centroid")
        assign, fixpoint = _repair(
            _assign(pts, table, dist=dist, dist_col="dist"),
            table, k, dist, id_col, rounds=max_rounds,
        )
        if not fixpoint:
            raise RuntimeError(
                f"k-member repair did not converge in {max_rounds} rounds"
            )
        new_centroids = (
            _means(assign, "_v", "cluster", dim)
            .withColumnRenamed("cluster", "cluster_id")
            .localCheckpoint(eager=False)  # the drift .first() is the action
        )

        # |drift|: max L1 movement of any centroid (abs version of F6)
        drift_row = (
            centroids.select("cluster_id", F.col("centroid").alias("_old"))
            .join(new_centroids, "cluster_id")
            .select(
                F.aggregate(
                    F.zip_with("_old", "centroid", lambda a, b: F.abs(a - b)),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                ).alias("_d")
            )
            .agg(F.max("_d").alias("m"))
            .first()
        )
        centroids = new_centroids
        if drift_row["m"] is not None and drift_row["m"] < tol:
            break

    # final distances against the final centroids
    final_assign = (
        assign.join(
            F.broadcast(centroids.withColumnRenamed("cluster_id", "cluster")),
            "cluster",
        )
        .select(
            id_col,
            F.col("cluster").alias("cluster_id"),
            dist("_v", "centroid").alias("distance"),
        )
        .localCheckpoint(eager=False)  # the cost agg materializes it
    )
    cost = final_assign.agg(F.sum("distance").alias("c")).first()["c"]
    return KMemberResult(
        assignments=final_assign,
        centroids=centroids,
        cost=float(cost) if cost is not None else 0.0,
        n_iter=n_iter,
    )


def kmember_anonymize(
    points: DataFrame,
    result: KMemberResult,
    features: str = "features",
    id_col: str = "id",
) -> DataFrame:
    """The reference's parquet output shape (``cell0:L69-71``): one row
    per input point carrying its cluster's centroid values."""
    return (
        points.select(id_col)
        .join(result.assignments.select(id_col, "cluster_id"), id_col)
        .join(F.broadcast(result.centroids.select("cluster_id", "centroid")), "cluster_id")
        .select(id_col, "cluster_id", F.col("centroid").alias("an_features"))
    )


def kmember_quantized(
    points: DataFrame,
    k: int,
    n_clusters: int,
    n_iter: int = 2,
    repair_rounds: int = 2,
    id_col: str = "id",
    features: str = "features",
    scale: int | None = 1000,
) -> DataFrame:
    """Deterministic exactly-oracle-able twin of
    :func:`kmember_kmeans` — the kmeans_quantized pattern applied to
    the constrained pipeline (reference ``k-means.ipynb cell0``):
    integer grid quantization (``round(x * scale)``), lowest-id init,
    integer-L1 assignment with (distance, cid) tie-break, a FIXED
    number of ``_repair`` rounds per iteration, and
    ``floor(sum / count)`` centroid snap — exact integer arithmetic
    end to end, so every step replays bit-for-bit in any engine (the
    DuckDB oracle unrolls it as chained CTEs,
    ``__spark_entry__._kmember_oracle``). The randomized
    :func:`kmember_kmeans` stays as the production-shaped op; this
    twin is the verification surface (the ninth exactly-oracled
    iterative family).

    Returns DataFrame(id, cluster int, distance long) after ``n_iter``
    centroid updates plus a final assign+repair, distance in quantized
    L1 units against the final centroids' repair-time values.

    Scale shape: assignment is map-side only (one broadcast centroid
    row, ranked per point — one scan, no shuffle); each centroid update
    shuffles n_clusters rows of dim partial sums; each repair round is two
    ranked windows over the surplus/claim relations plus one anti-join
    against the broadcast moved ids. Driver state is the n_clusters-row
    count/centroid tables only.
    """
    if k < 1 or n_clusters < 1:
        raise ValueError("kmember_quantized: k and n_clusters must be >= 1")
    # try/finally so a job failure mid-iteration (or an exception in
    # _repair) cannot leak the persisted relation for the
    # session — the unpersist runs on EVERY exit path
    q = _quantized_rows(points, features, scale).select(id_col, "_v").persist()
    try:
        n = q.count()
        if n < k * n_clusters:
            raise ValueError(
                f"infeasible: n={n} < k*n_clusters={k * n_clusters}"
            )
        out = _kmember_quantized_core(
            q, k, n_clusters, n_iter, repair_rounds, id_col, init_salt=None
        )
    finally:
        q.unpersist()
    return out


def _kmember_quantized_core(
    q: DataFrame,
    k: int,
    n_clusters: int,
    n_iter: int,
    repair_rounds: int,
    id_col: str,
    init_salt: str | None,
) -> DataFrame:
    """One deterministic quantized run over a PREPARED (id, _v)
    relation (caller persists/unpersists it — the scan-sharing seam
    :func:`kmember_search_quantized` sweeps through). ``init_salt``
    picks the init: None = lowest-id rows (the
    :func:`kmember_quantized` contract); a string = rows ranked by the
    engine-portable ``portable_hash(id, salt)`` — a seeded 'random'
    restart that any SQL engine replays bit-for-bit."""
    if init_salt is None:
        init_q = q.orderBy(id_col)
    else:
        from dbscan_pyspark_spark.operators.pipeline import portable_hash

        init_q = q.orderBy(
            portable_hash(id_col, salt=init_salt), F.col(id_col)
        )
    init_rows = init_q.limit(n_clusters).collect()
    centroids = [(i, list(r["_v"])) for i, r in enumerate(init_rows)]
    dim = len(centroids[0][1])

    assign = None
    for it in range(n_iter + 1):
        table = _centroid_table(q.sparkSession, centroids)
        # the fixed unroll the oracle replays: whether the rounds
        # reached the fixpoint does not change what is returned
        assign, _ = _repair(
            _assign(q, table, dist=_l1_int, dist_col="dist"),
            table, k, _l1_int, id_col, repair_rounds,
        )
        if it == n_iter:
            break
        sums = [
            F.sum(F.col("_v")[i]).alias(f"s{i}") for i in range(dim)
        ]
        upd = (
            assign.groupBy("cluster")
            .agg(F.count(F.lit(1)).alias("n"), *sums)
            .collect()
        )
        centroids = sorted(
            (
                int(r["cluster"]),
                [int(r[f"s{i}"] // r["n"]) for i in range(dim)],
            )
            for r in upd
        )

    return assign.select(
        id_col,
        F.col("cluster").cast("int").alias("cluster"),
        F.col("dist").cast("long").alias("distance"),
    ).localCheckpoint(eager=True)


def kmember_search_quantized(
    points: DataFrame,
    k: int,
    candidates: list[int] | None = None,
    restarts: int = 1,
    n_iter: int = 2,
    repair_rounds: int = 2,
    id_col: str = "id",
    features: str = "features",
    scale: int | None = 1000,
    seed_salt: str = "kmsearch",
) -> tuple[DataFrame, DataFrame]:
    """The reference's cluster-count sweep + random restarts
    (``k-means.ipynb cell0:L12-15,75-77,129-133``: want_cluster over
    ``[3n/4k .. n/k]``, 30 restarts, keep the global min cost) over the
    deterministic quantized twin — the :func:`~dbscan_pyspark_spark.
    operators.anonymize.eps_sweep` pattern applied to pipeline 2.

    Returns ``(metrics, best_assignments)``: ``metrics`` has one row
    per (n_clusters, restart) — ``cost`` (exact integer L1 total
    against the final centroids), ``accepted`` (1 on the winning run;
    ties break to smaller (cost, n_clusters, restart), the reference's
    strict best-so-far update) — and ``best_assignments`` is that
    run's (id, cluster, distance).

    Scale shape: the quantized projection is built and persisted ONCE
    and every (candidate x restart) run sweeps over it — candidates
    share the scan the way eps_sweep shares its max-eps pair set.
    Restart 'randomness' is ``portable_hash(id, '{seed_salt}:{r}')``
    init ranking, so the whole sweep — init order, every iteration,
    the metrics relation itself — replays exactly in the DuckDB oracle
    (`kmember_search_quantized_embeddings`). Driver state per run is
    one cost scalar + the n_clusters-row centroid table."""
    if k < 1:
        raise ValueError("kmember_search_quantized: k must be >= 1")
    if restarts < 1:
        raise ValueError("kmember_search_quantized: restarts must be >= 1")
    q = _quantized_rows(points, features, scale).select(id_col, "_v").persist()
    try:
        n = q.count()
        if candidates is None:
            lo, hi = (3 * n) // (4 * k), n // k
            candidates = sorted({max(lo, 1), max((lo + hi) // 2, 1), max(hi, 1)})
        candidates = sorted(set(candidates))
        bad = [c for c in candidates if n < k * c]
        if bad:
            raise ValueError(
                f"infeasible candidates {bad}: n={n} < k*n_clusters"
            )
        def _one_run(cr):
            # one (n_clusters, restart) configuration — unchanged math;
            # configurations run concurrently from a small thread pool
            # (guide §2.6: each run is a chain of small dependent jobs,
            # so overlapping 2-3 runs hides per-job scheduling latency)
            c, r = cr
            out = _kmember_quantized_core(
                q, k, c, n_iter, repair_rounds, id_col,
                init_salt=f"{seed_salt}:{r}",
            )
            cost = out.agg(F.sum("distance").alias("c")).first()["c"]
            return (c, r, int(cost), out)

        from dbscan_pyspark_spark.compat import concurrent_map_ordered

        results = concurrent_map_ordered(
            _one_run,
            [(c, r) for c in candidates for r in range(restarts)],
        )
        rows = [(c, r, cost) for c, r, cost, _ in results]
        runs = {(c, r): out for c, r, cost, out in results}
        best_c, best_r, _ = min(rows, key=lambda t: (t[2], t[0], t[1]))
        metrics = _local_frame(
            points.sparkSession,
            [
                (
                    c,
                    r,
                    cost,
                    1 if (c, r) == (best_c, best_r) else 0,
                )
                for (c, r, cost) in rows
            ],
            "n_clusters int, restart int, cost long, accepted int",
        )
        return metrics, runs[(best_c, best_r)]
    finally:
        q.unpersist()
