"""k-member constrained k-means (reference pipeline 2,
``k-means.ipynb:cell0``): Lloyd's iterations under the constraint that
every cluster keeps >= k members, for k-anonymity.

The reference runs the repair inside the assignment step as a driver
loop of RDD jobs — 30 restarts x 20 iterations x a multi-job while-loop
(SURVEY.md §3.2: thousands of jobs for 10k rows, with an unbounded
``.union().cache()`` lineage chain). Here each Lloyd iteration is one
DataFrame pass (broadcast argmin assign) and the constraint repair is a
bounded loop of window-ranked moves:

  release:   clusters > k give up their farthest-beyond-k members (W2);
  claim:     each released point goes to its nearest *deficient*
             centroid (broadcast argmin);
  cap:       each deficient cluster accepts only the (k - count)
             nearest claimants (W1), so no cluster overshoots back
             below feasibility.

Feasible inputs (n >= k * n_clusters) terminate: every round either
fills a deficient cluster or strictly shrinks the deficiency total.
Lineage is truncated per round (localCheckpoint) — the discipline the
notebook lacked.

Deviations from the reference, on purpose (SURVEY.md §7 flag list):
- convergence uses |drift| (the notebook's live version sums *signed*
  diffs and can "converge" on cancellation — F6 bug, cell0:L58-67);
- the repair-exit test is ``deficient > 0`` not the notebook's ``> 1``
  (cell0:L107 leaves one cluster under-filled);
- restarts/cluster-count search is an explicit helper
  (:func:`kmember_search`), not 600 hardcoded driver jobs.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from dbscan_pyspark_spark.operators.anonymize import assign_nearest, cluster_centroids
from dbscan_pyspark_spark.operators.eps_join import _dim_of
from dbscan_pyspark_spark.operators.kmeans import (
    _centroid_table,
    _l1_int,
    _nearest,
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
    points: DataFrame,
    assign: DataFrame,
    centroids: DataFrame,
    k: int,
    metric: str,
    id_col: str,
    features: str,
    max_rounds: int,
) -> DataFrame:
    """Enforce 'every cluster >= k members' by ranked moves.

    ONE job per round (guide §5; the CC loop's signature-agg pattern):
    each round's moved assignment is localCheckpointed NON-eagerly and
    the next round's cluster-count collect is the single action that
    both materializes it and decides the exit — replacing the previous
    isEmpty + eager-checkpoint pair. The count table (n_clusters rows)
    lives on the driver, so surplus / deficient / need become broadcast
    literals instead of re-aggregating the assignment inside every
    subtree of the round job."""
    spark = assign.sparkSession
    # materialize the incoming argmin assignment once: the first count
    # collect is its action, and the round job then reads the
    # checkpoint instead of recomputing the crossJoin-argmin lineage
    # per subtree
    assign = assign.localCheckpoint(eager=False)
    for _ in range(max_rounds):
        counts = {
            int(r["cluster_id"]): int(r["_cnt"])
            for r in assign.groupBy("cluster_id")
            .agg(F.count(F.lit(1)).alias("_cnt"))
            .collect()
        }
        deficient = {c: k - cnt for c, cnt in counts.items() if cnt < k}
        if not deficient:
            return assign

        # farthest-beyond-k members of surplus clusters are up for grabs
        surplus_ids = F.broadcast(
            _local_frame(
                spark,
                [(c,) for c, cnt in counts.items() if cnt > k],
                "cluster_id int",
            )
        )
        surplus_members = assign.join(surplus_ids, "cluster_id", "left_semi")
        w = Window.partitionBy("cluster_id").orderBy(
            F.col("distance").asc(), F.col(id_col).asc()
        )
        released = (
            surplus_members.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") > k)
            .select(id_col)
        )

        # claim: nearest deficient centroid per released point
        deficient_df = F.broadcast(
            _local_frame(spark, [(c,) for c in deficient], "cluster_id int")
        )
        deficient_cents = centroids.join(deficient_df, "cluster_id", "left_semi")
        claims = assign_nearest(
            points.join(released, id_col, "left_semi"),
            deficient_cents,
            metric=metric,
            features=features,
            id_col=id_col,
        )  # (id, cluster_id, distance) vs deficient centroids

        # cap: each deficient cluster takes only its (k - cnt) nearest claimants
        need = F.broadcast(
            _local_frame(spark, list(deficient.items()), "cluster_id int, _need int")
        )
        wc = Window.partitionBy("cluster_id").orderBy(
            F.col("distance").asc(), F.col(id_col).asc()
        )
        accepted = (
            claims.join(need, "cluster_id")
            .withColumn("_rn", F.row_number().over(wc))
            .where(F.col("_rn") <= F.col("_need"))
            .select(id_col, "cluster_id", "distance")
        )

        moved = accepted.select(id_col)
        assign = (
            assign.join(moved, id_col, "left_anti")
            .unionByName(accepted)
            .localCheckpoint(eager=False)  # next count collect is the action
        )
    raise RuntimeError(f"k-member repair did not converge in {max_rounds} rounds")


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
    """
    if dim is None:
        dim = _dim_of(points, features)
    n = points.count()
    if n_clusters is None:
        n_clusters = max(n // k, 1)
    if n < k * n_clusters:
        raise ValueError(
            f"infeasible: n={n} < k*n_clusters={k * n_clusters}"
        )

    spark = points.sparkSession
    init_rows = (
        points.select(id_col, features)
        .orderBy(F.xxhash64(F.col(id_col), F.lit(seed)))
        .limit(n_clusters)
        .collect()
    )
    centroids = _local_frame(
        spark,
        [(i, [float(x) for x in r[features]], 0) for i, r in enumerate(init_rows)],
        "cluster_id int, centroid array<double>, n_members long",
    )

    assign = None
    n_iter = 0
    for n_iter in range(1, max_iter + 1):
        assign = assign_nearest(
            points, centroids, metric=metric, features=features, id_col=id_col
        )
        assign = _repair(
            points, assign, centroids, k, metric, id_col, features,
            max_rounds=2 * n_clusters + 8,
        )
        new_centroids = cluster_centroids(
            points, assign, features=features, id_col=id_col, dim=dim
        ).localCheckpoint(eager=False)  # the drift .first() is the action

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
        assign.select(id_col, "cluster_id")
        .join(points.select(id_col, features), id_col)
        .join(F.broadcast(centroids.select("cluster_id", "centroid")), "cluster_id")
    )
    from dbscan_pyspark_spark.operators.eps_join import _metric_fn

    dist = _metric_fn(metric, dim)
    final_assign = final_assign.select(
        id_col, "cluster_id", dist(features, "centroid").alias("distance")
    ).localCheckpoint(eager=False)  # the cost agg materializes it
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


def kmember_search(
    points: DataFrame,
    k: int,
    candidates: list[int] | None = None,
    restarts: int = 2,
    max_iter: int = 10,
    metric: str = "l1",
    features: str = "features",
    id_col: str = "id",
) -> tuple[DataFrame, KMemberResult]:
    """Cluster-count / restart search (the reference's outer loops,
    ``cell0:L12-15,75-77``: want_cluster in [3n/4k .. n/k], 30
    restarts) reduced to an explicit candidate sweep. Returns
    ``(metrics, best)``: one metrics row per (n_clusters, restart) —
    cost, n_iter, accepted flag — plus the min-cost
    :class:`KMemberResult` (strict ``<`` best-so-far update, so ties
    keep the earlier run, like the reference's ``cell0:L129-133``).
    The float-cost randomized production path; its exactly-oracle-able
    twin is :func:`kmember_search_quantized`."""
    n = points.count()
    if candidates is None:
        lo, hi = (3 * n) // (4 * k), n // k
        candidates = sorted({max(c, 1) for c in (lo, (lo + hi) // 2, hi)})
    def _one_run(cr):
        # one (n_clusters, restart) configuration — unchanged math;
        # configurations overlap from a small thread pool (guide §2.6)
        c, r = cr
        return c, r, kmember_kmeans(
            points, k, n_clusters=c, max_iter=max_iter, seed=42 + r,
            metric=metric, features=features, id_col=id_col,
        )

    from dbscan_pyspark_spark.compat import concurrent_map_ordered

    results = concurrent_map_ordered(
        _one_run,
        [(c, r) for c in sorted(set(candidates)) for r in range(restarts)],
    )
    # best-so-far selection replayed in submission order: the strict <
    # keeps the earlier run on ties, exactly as the sequential loop did
    best: KMemberResult | None = None
    rows: list[tuple[int, int, float, int]] = []
    best_idx = -1
    for c, r, res in results:
        rows.append((c, r, res.cost, res.n_iter))
        if best is None or res.cost < best.cost:
            best = res
            best_idx = len(rows) - 1
    assert best is not None
    metrics = _local_frame(
        points.sparkSession,
        [
            (c, r, cost, n_it, 1 if i == best_idx else 0)
            for i, (c, r, cost, n_it) in enumerate(rows)
        ],
        "n_clusters int, restart int, cost double, n_iter int, accepted int",
    )
    return metrics, best


def _nearest_l1(
    df: DataFrame, centroids: list[tuple[int, list[int]]], id_col: str
) -> DataFrame:
    """(id, _v, cluster, dist): each ``_v`` row's nearest centroid under
    integer L1, ties toward the lower cid."""
    return (
        df.crossJoin(_centroid_table(df.sparkSession, centroids))
        .select(
            id_col,
            "_v",
            _nearest(F.col("_c"), F.col("_v"), dist=_l1_int).alias("_a"),
        )
        .select(
            id_col,
            "_v",
            F.col("_a.cid").alias("cluster"),
            F.col("_a.d").alias("dist"),
        )
    )


def _repair_quantized(
    assign: DataFrame,
    centroids: list[tuple[int, list[int]]],
    k: int,
    repair_rounds: int,
    id_col: str,
) -> DataFrame:
    """Fixed-round deterministic repair on integer distances: release
    the beyond-k farthest members of surplus clusters, claim each to
    its nearest DEFICIENT centroid, cap each deficient cluster at its
    need. A round at the fixpoint (no deficient cluster) is the
    identity, so a fixed unroll equals the early-stopping loop exactly
    (the k-core-peel argument) — which is what lets the DuckDB oracle
    replay it CTE-for-CTE. ``assign`` carries (id, _v, cluster, dist);
    all per-round driver state is the cluster-count table
    (n_clusters rows, the bounded-collect discipline of SURVEY §2 A7).
    Clusters with ZERO members never appear in the count table and are
    therefore never repaired — mirrored deliberately by the oracle
    (and by :func:`_repair`); an empty cluster has no rows to
    de-anonymize, so the k-anonymity contract is vacuous for it.

    One job per round: the non-eager round checkpoint is materialized
    by the next count collect (or the caller's next action) — and the
    incoming argmin assignment is checkpointed up front so the
    round job reads it instead of re-evaluating the per-row centroid
    scan in every subtree."""
    assign = assign.localCheckpoint(eager=False)
    for _ in range(repair_rounds):
        counts = [
            (int(r["cluster"]), int(r["_cnt"]))
            for r in assign.groupBy("cluster")
            .agg(F.count(F.lit(1)).alias("_cnt"))
            .collect()
        ]
        deficient = {cid: k - cnt for cid, cnt in counts if cnt < k}
        if not deficient:
            break
        surplus = {cid for cid, cnt in counts if cnt > k}
        if not surplus:
            break
        w = Window.partitionBy("cluster").orderBy(
            F.col("dist").asc(), F.col(id_col).asc()
        )
        released = (
            assign.where(F.col("cluster").isin(*surplus))
            .withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") > k)
            .select(id_col, "_v")
        )
        deficient_cents = [
            (cid, vec) for cid, vec in centroids if cid in deficient
        ]
        need_df = F.broadcast(
            _local_frame(
                assign.sparkSession,
                [(cid, n) for cid, n in deficient.items()],
                "cluster int, _need int",
            )
        )
        claims = _nearest_l1(released, deficient_cents, id_col)
        wc = Window.partitionBy("cluster").orderBy(
            F.col("dist").asc(), F.col(id_col).asc()
        )
        accepted = (
            claims.join(need_df, "cluster")
            .withColumn("_rn", F.row_number().over(wc))
            .where(F.col("_rn") <= F.col("_need"))
            .select(id_col, "_v", "cluster", "dist")
        )
        assign = (
            assign.join(accepted.select(id_col), id_col, "left_anti")
            .unionByName(accepted)
            # non-eager: the next round's count collect (or the caller's
            # next action) materializes it — one job per round
            .localCheckpoint(eager=False)
        )
    return assign


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
    number of :func:`_repair_quantized` rounds per iteration, and
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
    ranked windows over the (small) surplus/claim relations plus one
    id-keyed anti-join. Driver state is the n_clusters-row count/
    centroid tables only.
    """
    if k < 1 or n_clusters < 1:
        raise ValueError("kmember_quantized: k and n_clusters must be >= 1")
    # try/finally so a job failure mid-iteration (or an exception in
    # _repair_quantized) cannot leak the persisted relation for the
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
        assign = _nearest_l1(q, centroids, id_col)
        assign = _repair_quantized(
            assign, centroids, k, repair_rounds, id_col
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
