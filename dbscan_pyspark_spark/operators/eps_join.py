"""Grid-bucketed ε-distance join — the scalable replacement for the
reference's cartesian self-join (``DBSCAN.py:161``:
``rdd.cartesian(rdd).filter(dist < eps)``), which is O(n²) and crashed
the reference's JVM at 10^4 rows (hs_err_pid*.log, BASELINE.md).

Strategy (pure DataFrame — Catalyst plans a shuffled hash equi-join):

1. every point gets a grid cell id ``floor(coord / eps)`` per dimension;
2. the *probe* side explodes each point into its 3^d neighboring cells;
3. equi-join build.home_cell == probe.neighbor_cell;
4. exact distance post-filter ``dist < eps``.

Any pair within ε (L1 or L2) differs by < ε per coordinate, so the
build point's home cell is always one of the probe point's 3^d
neighbor cells — and exactly one of them, so no pair dedup is needed.
Cost is O(n · 3^d + candidate pairs); with cell-sized buckets the
candidate set is near-linear for non-adversarial data.

Scale posture: the equi-join shuffles both sides partitioned by cell id.
Dense cells (skew) are split by AQE skew-join handling (enabled in
session.py); at extreme density a cell's points all pairwise match
anyway, so the output itself is the lower bound. Self-pairs and both
orientations (a,b)/(b,a) are produced to match the reference's
cartesian semantics — neighbor counts *include self* (SURVEY.md §2.2 P3).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from dbscan_pyspark_spark.functions.distance import (
    l1_distance,
    l1_distance_fixed,
    l2_distance,
    l2_distance_fixed,
)


def _metric_fn(metric: str, dim: int | None = None):
    """Distance expression builder; with a known ``dim`` the unrolled
    codegen-friendly form is used (~3x faster per candidate pair than
    the interpreted higher-order-function form)."""
    if metric == "l1":
        if dim is not None:
            return lambda a, b: l1_distance_fixed(a, b, dim)
        return l1_distance
    if metric == "l2":
        if dim is not None:
            return lambda a, b: l2_distance_fixed(a, b, dim)
        return l2_distance
    raise ValueError(f"unknown metric {metric!r} (use 'l1' or 'l2')")


def _dim_of(df: DataFrame, features: str) -> int:
    row = df.select(F.size(F.col(features)).alias("d")).first()
    if row is None:
        raise ValueError("cannot infer dimension of an empty DataFrame")
    return int(row["d"])


def _contract(points: DataFrame, features: str, id_col: str, dim: int) -> DataFrame:
    """Duplicate contraction -> DataFrame(features, id_col, _mult): one
    rep per distinct feature vector, its id the minimum member id and
    ``_mult`` its member count.

    The rep id is deterministic, so it stays consistent even when an
    unpersisted contraction subtree re-executes in different join
    branches. Groups by one SCALAR column per dimension, not by the
    array: the array key runs an interpreted normalize lambda per row
    per aggregation pass, scalar keys stay in codegen. Same equivalence
    classes (per-element NaN/-0.0 normalization both ways), and the
    rebuilt array carries the same normalized element values.

    Indexing a short (or null) feature array yields equal NULL keys,
    which would silently merge distinct vectors, so a ragged-input
    guard folded into dimension 0 raises instead — one ``size()``
    comparison per row, still whole-stage codegen."""
    f = F.col(features)
    size = F.coalesce(F.size(f), F.lit(-1))  # size(NULL) is NULL off legacy mode
    guard = F.when(size == dim, f[0]).otherwise(
        F.raise_error(
            F.concat(
                F.lit(
                    "duplicate contraction expects fixed "
                    f"{dim}-dim feature vectors, got size "
                ),
                size.cast("string"),
            )
        )
    )
    keys = [f"_f{i}" for i in range(dim)]
    return (
        points.select(
            F.col(id_col), guard.alias("_f0"), *[f[i].alias(keys[i]) for i in range(1, dim)]
        )
        .groupBy(*keys)
        .agg(F.min(id_col).alias(id_col), F.count(F.lit(1)).alias("_mult"))
        .select(F.array(*keys).alias(features), F.col(id_col), F.col("_mult"))
    )


def eps_join(
    build: DataFrame,
    probe: DataFrame,
    eps: float,
    metric: str = "l1",
    features: str = "features",
    id_col: str = "id",
    dim: int | None = None,
    keep_distance: bool = True,
    payload_a: list[str] | None = None,
    payload_b: list[str] | None = None,
    unique_pairs: bool = False,
) -> DataFrame:
    """All pairs (a from ``build``, b from ``probe``) with dist(a,b) < eps.

    Returns ``a_id, b_id[, distance][, payload cols]``. Strict ``<``
    matches the reference (``DBSCAN.py:161``). ``payload_a`` /
    ``payload_b`` columns of build/probe ride through the cell join
    (prefixed ``a_`` / ``b_``) — cheaper than re-joining them onto the
    pair set afterwards, which would be a second shuffle of the (much
    larger) pair relation.

    ``unique_pairs`` (self-joins): emit each unordered pair once, with
    ``a_id < b_id`` in the output. The probe side explodes to only the
    lexicographically-positive half of the neighbor offsets —
    (3^d+1)/2 cells instead of 3^d — so the candidate-pair build, its
    shuffle, AND the per-pair distance evaluations are all halved, not
    just post-filtered. Self-pairs vanish. Callers that need symmetric
    counts mirror the pair list (a narrow map over the result, not a
    second join). Payloads must be identical on both sides (the
    orientation of a surviving pair is cell-determined, so payload
    columns swap with the ids when canonicalizing).
    """
    if dim is None:
        dim = _dim_of(build, features)
    dist = _metric_fn(metric, dim)
    payload_a = payload_a or []
    payload_b = payload_b or []
    if unique_pairs and payload_a != payload_b:
        raise ValueError(
            "unique_pairs requires payload_a == payload_b (pair orientation "
            "is cell-determined; payloads swap with ids)"
        )

    # Grid-cell coordinates as ONE SCALAR LONG COLUMN PER DIMENSION —
    # not an array<bigint>. The array form paid interpreted
    # higher-order-function lambdas per probe row (27 x zip_with at
    # d=3) to build each neighbor cell, plus array hashing in the join;
    # scalar columns keep the cell arithmetic and the composite join
    # keys inside whole-stage codegen (measured ~35% off the dbscan
    # pair phase at sf0.1).
    def cell_cols(prefix: str) -> list:
        return [
            F.floor(F.col(features)[i] / F.lit(float(eps))).alias(f"{prefix}{i}")
            for i in range(dim)
        ]

    a = build.select(
        F.col(id_col).alias("a_id"),
        F.col(features).alias("a_features"),
        *[F.col(c).alias(f"a_{c}") for c in payload_a],
        *cell_cols("_ac"),
    )
    b = probe.select(
        F.col(id_col).alias("b_id"),
        F.col(features).alias("b_features"),
        *[F.col(c).alias(f"b_{c}") for c in payload_b],
        *cell_cols("_bc"),
    )

    # Neighbor offsets as ONE exploded index k in [0, 3^d): the offset
    # in dimension i is base-3 digit i of k, minus 1 — k enumerates the
    # offsets in lexicographic order, so the zero offset sits at the
    # center, (3^d - 1) / 2. A runtime sequence instead of 3^d struct
    # literals keeps the plan O(d): at d=6 (729 offsets) planning the
    # join took ~8-10x less time on a 4-core host. With
    # ``unique_pairs`` only the center and the lex-positive half above
    # it are exploded.
    center = (3**dim - 1) // 2
    b = b.withColumn(
        "_k", F.explode(F.sequence(F.lit(center if unique_pairs else 0), F.lit(3**dim - 1)))
    )
    cond = None
    for i in range(dim):
        off = F.floor(b["_k"] / F.lit(3 ** (dim - 1 - i))) % 3 - 1
        eq = a[f"_ac{i}"] == b[f"_bc{i}"] + off
        cond = eq if cond is None else cond & eq
    if unique_pairs:
        # same-cell (zero-offset) matches de-dup on id order; cross-cell
        # matches are already unique because only one of ±δ is exploded.
        cond = cond & ((b["_k"] != center) | (a["a_id"] < b["b_id"]))

    pairs = a.join(b, cond).withColumn(
        "distance", dist("a_features", "b_features")
    ).where(F.col("distance") < F.lit(float(eps)))

    if unique_pairs:
        # canonicalize to a_id < b_id (cross-cell pairs come out in
        # cell order, not id order); payloads swap alongside.
        swap = F.col("a_id") > F.col("b_id")
        cols = [
            F.least("a_id", "b_id").alias("a_id"),
            F.greatest("a_id", "b_id").alias("b_id"),
        ]
        if keep_distance:
            cols.append(F.col("distance"))
        for c in payload_a:
            cols.append(
                F.when(swap, F.col(f"b_{c}")).otherwise(F.col(f"a_{c}")).alias(f"a_{c}")
            )
        for c in payload_b:
            cols.append(
                F.when(swap, F.col(f"a_{c}")).otherwise(F.col(f"b_{c}")).alias(f"b_{c}")
            )
        return pairs.select(*cols)

    cols = (
        ["a_id", "b_id"]
        + (["distance"] if keep_distance else [])
        + [f"a_{c}" for c in payload_a]
        + [f"b_{c}" for c in payload_b]
    )
    return pairs.select(*cols)


def eps_self_join(
    points: DataFrame,
    eps: float,
    metric: str = "l1",
    features: str = "features",
    id_col: str = "id",
    dim: int | None = None,
    include_self: bool = True,
    unique_pairs: bool = False,
    keep_distance: bool = True,
) -> DataFrame:
    """ε-neighborhood self-join (SURVEY.md §2.3 J1).

    Default emits self-pairs and both orientations — the reference's
    cartesian semantics, where a point's neighbor count includes itself
    and duplicate rows. ``unique_pairs=True`` keeps only ``a_id < b_id``
    (the checkpoint draft's ``smaller()`` intent, done correctly on a
    total order — SURVEY.md §2.2 P6).
    """
    if unique_pairs:
        return eps_join(
            points, points, eps,
            metric=metric, features=features, id_col=id_col, dim=dim,
            keep_distance=keep_distance, unique_pairs=True,
        )
    pairs = eps_join(
        points, points, eps,
        metric=metric, features=features, id_col=id_col, dim=dim,
        keep_distance=keep_distance,
    )
    if not include_self:
        return pairs.where(F.col("a_id") != F.col("b_id"))
    return pairs


def neighbor_counts(
    points: DataFrame,
    eps: float,
    metric: str = "l1",
    features: str = "features",
    id_col: str = "id",
    dim: int | None = None,
    contract_duplicates: bool = True,
) -> DataFrame:
    """Per-point ε-neighborhood size, **including self and duplicate
    rows** (reference ``reduceByKey`` list length at ``DBSCAN.py:161``).
    Never materializes neighbor lists — count only, partial-aggregated
    map-side.

    Runs the join once per *unordered* pair (half the distance
    evaluations) and mirrors counts by a 3-leg union: each a<b pair
    contributes to both endpoints, and every vector contributes its own
    self-pair(s).

    ``contract_duplicates``: run the join over *distinct* feature
    vectors weighted by multiplicity and broadcast counts back by
    vector equality (the dbscan.py contraction). Quantized data (the
    anonymization use case) contracts many-fold — the customer point
    cloud at sf0.1 is 15k rows over ~2.7k vectors, a ~30x drop in
    candidate pairs. Counts are bit-identical to the uncontracted run.
    """
    if not contract_duplicates:
        pairs = eps_self_join(
            points, eps, metric=metric, features=features, id_col=id_col, dim=dim,
            keep_distance=False, unique_pairs=True,
        )
        # explode, not a 2-leg union: a union would reference (and
        # re-run) the join subtree once per leg — Catalyst does not CSE
        # across union branches.
        legs = pairs.select(
            F.explode(F.array("a_id", "b_id")).alias(id_col)
        ).unionAll(points.select(id_col))
        return legs.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_neighbors"))

    if dim is None:
        dim = _dim_of(points, features)
    reps = _contract(points, features, id_col, dim)
    pairs = eps_join(
        reps, reps, eps, metric=metric, features=features, id_col=id_col, dim=dim,
        keep_distance=False, payload_a=["_mult"], payload_b=["_mult"],
        unique_pairs=True,
    )
    legs = pairs.select(
        F.explode(
            F.array(
                F.struct(F.col("a_id").alias("pid"), F.col("b__mult").alias("m")),
                F.struct(F.col("b_id").alias("pid"), F.col("a__mult").alias("m")),
            )
        ).alias("e")
    ).select("e.pid", "e.m")
    counts = (
        legs.unionAll(
            reps.select(F.col(id_col).alias("pid"), F.col("_mult").alias("m"))
        )
        .groupBy("pid")
        .agg(F.sum("m").alias("n_neighbors"))
    )
    # Expansion equi-keyed on the 64-bit feature hash (cheap long key;
    # exact array equality kept as residual so a collision cannot
    # miscount). The rep side is tiny relative to points — AQE's
    # size-based planning upgrades this to a broadcast join at runtime,
    # so the points side is never shuffled.
    rep_n = reps.join(counts, reps[id_col] == counts["pid"]).select(
        F.col(features).alias("_rep_features"),
        F.xxhash64(features).alias("_rep_h"),
        "n_neighbors",
    )
    pts_h = points.withColumn("_h", F.xxhash64(F.col(features)))
    return pts_h.join(
        rep_n,
        (pts_h["_h"] == rep_n["_rep_h"])
        & (pts_h[features] == rep_n["_rep_features"]),
    ).select(F.col(id_col), "n_neighbors")


def core_points(
    points: DataFrame,
    eps: float,
    min_pts: int,
    metric: str = "l1",
    features: str = "features",
    id_col: str = "id",
    dim: int | None = None,
    contract_duplicates: bool = True,
) -> DataFrame:
    """Points with >= min_pts ε-neighbors (HAVING filter, SURVEY.md §2.2 P3)."""
    counts = neighbor_counts(
        points, eps, metric=metric, features=features, id_col=id_col, dim=dim,
        contract_duplicates=contract_duplicates,
    )
    return counts.where(F.col("n_neighbors") >= F.lit(int(min_pts)))


def k_distance(
    points: DataFrame,
    k: int,
    n_samples: int = 256,
    pool_size: int | None = None,
    metric: str = "l1",
    features: str = "features",
    id_col: str = "id",
) -> DataFrame:
    """k-distance diagnostic for choosing ε (Ester et al. 1996, §4.2).

    For a deterministic sample of points, the distance to their k-th
    nearest neighbor (self included at rank 1, matching the reference's
    self-counting neighbor semantics, ``DBSCAN.py:161``). Sorting these
    and looking for the "elbow" is the standard way to pick ε — the
    reference instead sweeps a hand-chosen ε range (``DBSCAN.py:29-43``).

    Returns DataFrame(sample_id, kth_dist double), ``n_samples`` rows.

    Scale shape: the sample is chosen by an engine-portable md5 hash of
    the id (smallest ``n_samples`` values — deterministic on any engine
    or cluster size) and broadcast. With ``pool_size=None`` every point
    is a neighbor candidate — exact, but the ranking shuffles
    ``n_samples × n`` distance rows, fine up to tens of millions of
    rows. At 100 TB pass ``pool_size=m``: candidates are an independent
    hash-sample of m points, bounding the shuffle at ``n_samples × m``
    narrow rows while the k-distance *distribution* — the thing the
    elbow read needs — stays statistically faithful (each sampled
    point's kth-in-pool distance estimates the kth/(m/n) quantile of
    its true neighbor-distance distribution).
    """
    from dbscan_pyspark_spark.operators.pipeline import portable_hash

    if metric == "l1":
        dist_fn = l1_distance
    elif metric == "l2":
        dist_fn = l2_distance
    else:
        raise ValueError(f"metric must be 'l1' or 'l2', got {metric!r}")

    sample = (
        points.select(
            F.col(id_col).alias("sample_id"),
            F.col(features).alias("_sf"),
            portable_hash(id_col, salt="kdist").alias("_hk"),
        )
        .orderBy("_hk", "sample_id")
        .limit(int(n_samples))
        .drop("_hk")
    )
    pool = points
    if pool_size is not None:
        pool = (
            points.withColumn(
                "_hp", portable_hash(id_col, salt="kdistpool")
            )
            .orderBy("_hp", id_col)
            .limit(int(pool_size))
            .drop("_hp")
        )
    dists = pool.join(F.broadcast(sample)).select(
        "sample_id",
        dist_fn(F.col(features), F.col("_sf")).cast("double").alias("_d"),
        F.col(id_col).alias("_nid"),
    )
    w = Window.partitionBy("sample_id").orderBy(
        F.col("_d").asc(), F.col("_nid").asc()
    )
    return (
        dists.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == F.lit(int(k)))
        .select("sample_id", F.col("_d").alias("kth_dist"))
    )
