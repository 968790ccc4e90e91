"""Pure-DataFrame connected components (alternating large-star / small-star).

Replaces the reference's GraphFrames dependency
(``DBSCAN.py:157,169-172``: tuple-id vertices + ``connectedComponents()``,
checkpoint dir required) with the two-phase star-contraction algorithm of
Kiveris et al., "Connected Components in MapReduce and Beyond" (SoCC'14):
O(log n) rounds, each round two groupBy-join passes — no jar, no Pregel,
partitions by node id, so it holds at cluster scale where a
driver-side BFS (the reference's abandoned checkpoint draft, cells 5-9)
cannot.

large-star: every node links its larger neighbors to the minimum of its
neighborhood (incl. itself).  small-star: every node links its smaller
neighbors (and itself) to that minimum.  Labels only decrease; fixpoint
is a star forest whose centers are component minima.
"""

from __future__ import annotations

import threading

from pyarrow import ArrowException
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from dbscan_pyspark_spark.session import _local_frame

# Refcounted guard for the session-global AQE-coalescing flip in the
# star-contraction loop: concurrent CC runs (e.g. eps_sweep's thread
# pool overlapping configurations) must not race on save/restore — the
# FIRST concurrent entry snapshots the caller's setting, the LAST exit
# restores it. Keyed per session so independent sessions stay isolated.
_COALESCE_KEY = "spark.sql.adaptive.coalescePartitions.enabled"
_COALESCE_LOCK = threading.Lock()
_COALESCE_STATE: dict[int, list] = {}  # id(session) -> [depth, prev]

# The one driver-vs-distributed size bound of the adaptive fast paths,
# in cells of a site's driver work: edges for connected_components,
# pairs for dbscan's labeling core, noise reps × centroids for
# eps_sweep's scoring, points × clusters for k-member k-means,
# vectors × (k + dim) for k-means. Four 8-byte columns per pair, ~160
# MB at the bound. Read only by ``_on_driver``, at call time; 0 forces
# every distributed twin.
_DRIVER_PAIRS_THRESHOLD = 5_000_000


class _Declined(Exception):
    """Raised by a driver fast path for an input it leaves to its twin."""


# What a driver fast path may raise and still fall back to its twin:
# no numpy/pandas, driver memory, Arrow conversion, a declared decline.
# Anything else is a bug of the fast path and propagates.
_DRIVER_FAILURES = (ImportError, MemoryError, ArrowException, _Declined)


def _on_driver(cells, driver, twin):
    """The one driver-or-twin seam: ``driver()`` when ``cells`` fits
    ``_DRIVER_PAIRS_THRESHOLD``, else ``twin()``, the pinned distributed
    twin, which also runs when ``driver()`` raises one of
    ``_DRIVER_FAILURES``."""
    if 0 < _DRIVER_PAIRS_THRESHOLD and cells <= _DRIVER_PAIRS_THRESHOLD:
        try:
            return driver()
        except _DRIVER_FAILURES:
            pass
    return twin()


def _coalesce_flip_enter(spark) -> None:
    with _COALESCE_LOCK:
        state = _COALESCE_STATE.get(id(spark))
        if state is None:
            prev = spark.conf.get(_COALESCE_KEY, None)
            spark.conf.set(_COALESCE_KEY, "false")
            _COALESCE_STATE[id(spark)] = [1, prev]
        else:
            state[0] += 1


def _coalesce_flip_exit(spark) -> None:
    with _COALESCE_LOCK:
        state = _COALESCE_STATE[id(spark)]
        state[0] -= 1
        if state[0] == 0:
            del _COALESCE_STATE[id(spark)]
            if state[1] is None:
                spark.conf.unset(_COALESCE_KEY)
            else:
                spark.conf.set(_COALESCE_KEY, state[1])


def _canonical(edges: DataFrame) -> DataFrame:
    """Undirected edge set as (u > v) pairs, no self-loops, distinct."""
    u, v = F.col("u"), F.col("v")
    return (
        edges.select(F.greatest(u, v).alias("u"), F.least(u, v).alias("v"))
        .where(F.col("u") != F.col("v"))
        .distinct()
    )


def _large_star(edges: DataFrame) -> DataFrame:
    """(u,v) both orientations; for each node n: attach neighbors > n to
    min(N(n) ∪ {n}).

    The neighborhood minimum rides on a whole-partition window instead
    of a groupBy + self-join: one exchange over the edge relation per
    star step rather than two (the shuffles over the full, not-yet-
    contracted relation are the round cost at scale)."""
    both = edges.select("u", "v").union(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    w = Window.partitionBy("u")
    m = F.least(F.min("v").over(w), F.col("u"))
    return (
        both.withColumn("m", m)
        .where(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .where(F.col("u") != F.col("v"))
        .distinct()
    )


def _small_star(edges: DataFrame, pre_oriented: bool = False) -> DataFrame:
    """Edges oriented big->small; for each node n attach its smaller
    neighbors and itself to min(N(n) ∪ {n}).

    ``pre_oriented``: the input already satisfies u > v and is distinct
    (true for large-star output, whose rows are (big, candidate-min)),
    so the canonicalizing exchange is skipped. Each input row emits its
    relink (v -> m) and its node's self-link (u -> m); self-link
    duplicates collapse in the output distinct."""
    oriented = edges if pre_oriented else _canonical(edges)  # u > v
    w = Window.partitionBy("u")
    m = F.min("v").over(w)
    return (
        oriented.withColumn("m", m)
        .select(
            F.explode(
                F.array(
                    F.struct(F.col("v").alias("u"), F.col("m").alias("v")),
                    F.struct(F.col("u").alias("u"), F.col("m").alias("v")),
                )
            ).alias("_e")
        )
        .select("_e.u", "_e.v")
        .where(F.col("u") != F.col("v"))
        .distinct()
    )


def _union(parent, u, v):
    """Merge the index pairs (u[i], v[i]) into the forest ``parent`` by
    vectorized hooking + pointer jumping (O(E) per round, O(log n)
    rounds). Links always hook the larger root to the smaller, so every
    root is its component's minimum index. Returns the fully
    path-compressed forest (every entry points at its root)."""
    import numpy as np

    while True:
        # full path compression (pointer jumping to fixpoint)
        while True:
            grand = parent[parent]
            if np.array_equal(grand, parent):
                break
            parent = grand
        pu, pv = parent[u], parent[v]
        hooks = pu != pv
        if not hooks.any():
            return parent
        lo = np.minimum(pu[hooks], pv[hooks])
        hi = np.maximum(pu[hooks], pv[hooks])
        # min-accumulate handles multiple hooks onto the same root
        np.minimum.at(parent, hi, lo)


def _driver_union_find(e: DataFrame, id_col: str):
    """Small-graph fast path: collect edges, solve components on the
    driver, return pandas (id, component). Chosen adaptively by observed edge
    count — the same strategy-by-size philosophy as AQE. A 100 TB run
    whose *contracted* cluster graph fits in driver memory (it usually
    does: components, not rows) also takes this path.

    Vectorized union-find over numpy arrays (``_union``) — ~10x the
    per-edge Python union-find loop at hundreds of thousands of edges.
    Duplicate / mirrored edges and self-loops are all tolerated.
    Components are labeled by their minimum member id: ``_union`` keeps
    the smaller root, and dense indices are id-sorted (np.unique)."""
    import numpy as np
    import pandas as pd

    # Arrow transfer: a plain collect() pays per-Row pickle cost, ~10x
    # slower at hundreds of thousands of edges.
    pdf = e.toPandas()
    u = pdf["u"].to_numpy(dtype="int64", copy=False)
    v = pdf["v"].to_numpy(dtype="int64", copy=False)
    ids, inv = np.unique(np.concatenate([u, v]), return_inverse=True)
    parent = _union(np.arange(len(ids)), inv[: len(u)], inv[len(u):])
    return pd.DataFrame({id_col: ids, "component": ids[parent]})


def _star_contraction(raw, n_edges, id_col, max_iter, finish):
    """``connected_components``' distributed twin over the raw edge list
    ``raw`` (``n_edges`` rows of (u, v)): star-contraction rounds to the
    fixpoint, or until ``finish(edges, n)`` returns the labels of a
    round's n-edge remnant. Returns DataFrame(id, component) of every
    edge participant."""
    e = raw.where(F.col("u") != F.col("v"))
    # A node whose only edges are self-loops IS a participant (it must
    # come out labeled with its own id); collect that small set once so
    # callers don't need to hand in a vertex list for it. The distinct
    # runs over self-loop rows only, not the full edge relation.
    selfloop_only = (
        raw.where(F.col("u") == F.col("v"))
        .select(F.col("u").alias(id_col))
        .distinct()
    )

    # The star-contraction rounds iterate over a SHRINKING edge set —
    # a few MB within a couple of rounds — and AQE's partition
    # coalescing then folds every round's ~6 exchanges down to 1-2
    # tasks, serializing the whole loop (measured 78 s for a 2.4M-edge
    # graph, ~10 s/round at 1-way parallelism). Pin coalescing off for
    # the loop so each round keeps the configured shuffle parallelism;
    # restore the caller's setting after.
    spark = raw.sparkSession

    # Known cliff (measured round 2): in LOCAL mode the star-contraction
    # loop's localCheckpoint copies live in the single driver JVM, and a
    # 40M-edge graph OOMs an 8 GiB heap while 24 GiB passes. 500 B/edge
    # splits that bracket so the measured-passing conf is never refused
    # (Runtime.maxMemory reports ~0.9x of -Xmx: 40M x 500 = 18.6 GiB <
    # ~21.4 GiB at 24g; > ~7.1 GiB at the 8g default). Fail fast with a
    # sizing line instead of a mid-loop executor OOM. On a real cluster
    # checkpoint blocks are spread across executors — no check.
    # exact-match single-JVM masters only: 'local-cluster[...]' runs
    # separate executor JVMs, where the driver heap is the wrong
    # denominator
    from ..compat import jvm_max_heap_bytes, master_url

    master = master_url(spark)
    if master == "local" or master.startswith("local["):
        heap = jvm_max_heap_bytes(spark)
        needed = n_edges * 500
        if heap and needed > heap:
            raise RuntimeError(
                f"connected_components: {n_edges:,} edges needs "
                f"~{needed / 2**30:.0f} GiB of local-mode JVM heap for "
                f"star-contraction checkpoints but only "
                f"{heap / 2**30:.1f} GiB is configured — set "
                f"spark.driver.memory to at least "
                f"{max(1, int(needed / 2**30) + 1)}g (smaller graphs "
                f"take the driver union-find path, which needs only "
                f"~16 B/edge)"
            )

    # NOTE: SQL confs are session-global — flipping coalescing off for
    # the loop also affects queries running CONCURRENTLY in this
    # session. The refcounted guard makes overlapping CC runs (sweep
    # thread pools) restore the CALLER's setting exactly once, at the
    # last exit, instead of racing on save/restore.
    _coalesce_flip_enter(spark)
    labels = None
    try:
        e = _canonical(e).localCheckpoint(eager=True)
        prev_sig = None
        for _ in range(max_iter):
            # Non-eager checkpoint: the signature agg below is the one
            # action that both materializes this round's edge set
            # (truncating lineage) and tests the fixpoint — one job per
            # round instead of two.
            e = _small_star(
                _large_star(e), pre_oriented=True
            ).localCheckpoint(eager=False)
            sig = e.agg(
                F.count(F.lit(1)).alias("n"),
                F.coalesce(F.sum(F.col("u") + F.col("v")), F.lit(0)).alias("s"),
            ).first()
            sig = (sig["n"], sig["s"])
            if sig == prev_sig:
                break
            prev_sig = sig
            labels = finish(e, sig[0])
            if labels is not None:
                break
        else:
            raise RuntimeError(
                f"connected_components did not converge in {max_iter} rounds"
            )
    finally:
        _coalesce_flip_exit(spark)

    if labels is None:
        # Star forest: u(>v) -> center v. Node that appears only as
        # center maps to itself.
        labels = (
            e.select(F.col("u").alias(id_col), F.col("v").alias("component"))
            .groupBy(id_col)
            .agg(F.min("component").alias("component"))
        )
        centers = e.select(F.col("v").alias(id_col)).distinct().withColumn(
            "component", F.col(id_col)
        )
        labels = labels.unionByName(
            centers.join(labels.select(id_col), id_col, "left_anti")
        )
    return labels.unionByName(
        selfloop_only.join(labels.select(id_col), id_col, "left_anti")
        .withColumn("component", F.col(id_col))
    )


def connected_components(
    edges: DataFrame,
    vertices: DataFrame | None = None,
    src: str = "src",
    dst: str = "dst",
    id_col: str = "id",
    max_iter: int = 50,
) -> DataFrame:
    """Labels every vertex with the minimum vertex id of its component.

    ``edges``: DataFrame with ``src``/``dst`` (undirected; self-loops and
    duplicates tolerated — a node appearing only in self-loops is still
    labeled, with itself as component; an edge with a NULL endpoint is
    dropped). ``vertices`` (optional): DataFrame with ``id_col`` —
    isolated vertices get their own id as component, and the output is
    restricted to this set. Returns ``DataFrame(id, component)``.

    Adaptive execution (``_on_driver``, by raw edge count): a small
    graph is solved by driver union-find (one job, O(E α)); larger
    graphs run distributed star-contraction (O(log n) shuffling rounds),
    finished on the driver once a round shrinks the edge set under the
    same bound. A driver union-find that falls back is not retried:
    star contraction then runs to its fixpoint.
    Each round localCheckpoints the edge set — lineage truncation, the
    discipline the reference needed ``setCheckpointDir`` for
    (``DBSCAN.py:171``) and its k-means notebook lacked entirely
    (unbounded ``.union().cache()`` chains, SURVEY.md §3.2).
    """
    # Materialize the raw (self-loop-free) edge list WITHOUT the
    # canonical distinct: union-find tolerates duplicate/mirrored edges,
    # so the driver path skips that whole extra shuffle (measured ~1-2 s
    # of a 4 s CC step at 400k edges). The distributed path still
    # canonicalizes — star-contraction rounds shrink with dedup.
    # When the caller already persisted ``edges`` the checkpoint copy is
    # skipped too: the projection below recomputes from cache for the
    # price of a narrow scan, and the driver path collects immediately.
    # NULL-endpoint rows go before either path reads the edge list.
    raw = edges.select(
        F.col(src).cast("long").alias("u"), F.col(dst).cast("long").alias("v")
    ).where(F.col("u").isNotNull() & F.col("v").isNotNull())
    lvl = edges.storageLevel
    if not (lvl.useMemory or lvl.useDisk):
        # One materialization serves BOTH jobs below (threshold count +
        # solve/self-loop scan); without it, an unpersisted caller would
        # recompute its full edge lineage for each.
        raw = raw.localCheckpoint(eager=True)

    spark = edges.sparkSession
    tried = []  # driver union-finds run; after one falls back, none is retried

    def union_find(e):
        tried.append(True)
        return _local_frame(
            spark, _driver_union_find(e, id_col), f"{id_col} long, component long"
        )

    def finish(e, n):
        # Hybrid finish: rounds preserve connectivity and never drop a
        # node (every node re-emits as a relink target or self-link
        # until fixpoint), and a component's minimum id always survives
        # as a link target — so once contraction shrinks the relation
        # under the driver bound, union-find on the remnant yields the
        # same min-id labels as iterating to fixpoint, minus the
        # remaining O(log n) rounds.
        return None if tried else _on_driver(n, lambda: union_find(e), lambda: None)

    # Union-find tolerates self-loops (a hook where u == v is a no-op),
    # and a node whose only edges are self-loops appears in the pulled
    # id set and comes out labeled with itself — so the driver path
    # needs ONE Arrow pull over the raw edge list, no self-loop
    # distinct, no anti-join.
    n_edges = raw.count()
    labels = _on_driver(
        n_edges,
        lambda: union_find(raw),
        lambda: _star_contraction(raw, n_edges, id_col, max_iter, finish),
    )
    if vertices is not None:
        vs = vertices.select(F.col(id_col).cast("long").alias(id_col)).distinct()
        labels = vs.join(labels, id_col, "left").select(
            F.col(id_col),
            F.coalesce(F.col("component"), F.col(id_col)).alias("component"),
        )
    return labels


def pagerank(
    edges: DataFrame,
    n_iter: int = 3,
    damping_pct: int = 85,
    src_col: str = "src",
    dst_col: str = "dst",
    scale: int = 10**12,
    seeds: DataFrame | None = None,
    seed_col: str = "node",
    weight_col: str | None = None,
) -> DataFrame:
    """Deterministic integer-arithmetic PageRank (fixed iterations),
    optionally PERSONALIZED: with ``seeds`` (a one-column DataFrame of
    node ids), the initial mass and the per-round teleport both go to
    the seed set only — the related-items/recommendation primitive
    (random walk with restart to the seeds). Seeds not present in the
    graph are ignored; the seed relation is a bounded probe set and is
    broadcast onto the rank vector, never shuffled.

    Optionally WEIGHTED: with ``weight_col`` (an integer edge-weight
    column — e.g. ``F.lit(1)`` per fact row to rank by multiplicity
    instead of the unweighted variant's DISTINCT edges), parallel
    edges aggregate by weight sum and each round distributes
    ``((p * d) div 100) * w div W(src)`` along every edge — still
    all-integer, so the weighted run replays exactly too. The
    two-step division bounds intermediates by ``(scale * d div 100) *
    w``, so edge weights are capped at ``(2^63-1) // (scale * d div
    100)`` (~1e7 at the defaults) — one driver max-weight pull
    enforces it (the HITS overflow-guard discipline); rescale heavy
    weights down before calling. Composes freely with ``seeds``.

    All mass lives on an integer micro-unit grid (``scale`` units = 1.0
    of probability): contributions are ``(p * damping_pct) div
    (100 * outdeg)`` — exact integer ops, so every engine that runs the
    same recurrence lands on the same bits, making a fixed-iteration
    run DuckDB-oracle-able exactly like the quantized k-means
    (kmeans.py). Simplified recurrence (no dangling-mass
    redistribution: nodes without out-edges absorb; total mass decays
    accordingly — documented deviation from the renormalized variant).

    Returns DataFrame(node, pagerank double) with pagerank = p/scale
    rounded to 8 digits.

    Scale shape: per iteration one join of the rank vector against the
    edge relation on the src key and one sum-aggregate on dst — both
    hash-partitioned by node id, the same profile as the star
    contraction above; the rank vector (|V| rows) is localCheckpointed
    each round to keep lineage flat. Edge relation is scanned
    ``n_iter`` times but never mutated.
    """
    if weight_col is None:
        e = edges.select(
            F.col(src_col).cast("long").alias("src"),
            F.col(dst_col).cast("long").alias("dst"),
        ).distinct()
        outdeg = e.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    else:
        # parallel edges collapse by weight sum (dedupe preserving
        # mass); W(src) = total out-weight
        e = (
            edges.select(
                F.col(src_col).cast("long").alias("src"),
                F.col(dst_col).cast("long").alias("dst"),
                F.col(weight_col).cast("long").alias("w"),
            )
            .groupBy("src", "dst")
            .agg(F.sum("w").alias("w"))
            .where(F.col("w") > 0)
        )
        outdeg = e.groupBy("src").agg(F.sum("w").alias("deg"))
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    # checkpoint the node set BEFORE anything counts or joins it: the
    # unseeded path reads it twice (count + rank init) and the seeded
    # path three times (count + seed flag + rank init) — without the
    # checkpoint each read re-runs the edges->distinct-union->distinct
    # derivation (review finding)
    nodes = nodes.localCheckpoint(eager=True)
    n_nodes = nodes.count()
    if n_nodes == 0:
        return (
            edges.sparkSession.range(0)
            .select(
                F.col("id").alias("node"),
                F.lit(None).cast("double").alias("pagerank"),
            )
        )
    if seeds is not None:
        # node-complete frame with the teleport-set flag — S = seeds
        # present in the graph; the seed relation is a bounded probe,
        # broadcast onto the checkpointed node set
        nodes = (
            nodes.join(
                F.broadcast(
                    seeds.select(
                        F.col(seed_col).cast("long").alias("node")
                    )
                    .distinct()
                    .withColumn("_is_seed", F.lit(True))
                ),
                "node",
                "left",
            )
            .select(
                "node",
                F.coalesce(F.col("_is_seed"), F.lit(False)).alias("_is_seed"),
            )
            .localCheckpoint(eager=True)
        )
        n = nodes.where(F.col("_is_seed")).count()
        if n == 0:
            raise ValueError(
                "pagerank: no seed node present in the graph — the "
                "personalized teleport distribution would be undefined"
            )
    else:
        n = n_nodes
    p0 = int(scale) // n
    base = (int(scale) - int(scale) * damping_pct // 100) // n
    # NOTE the oracle must mirror this exact base formula:
    # base = (scale - scale*d//100) // n, all integer ops (n = |S|
    # when personalized); p0 / base apply to seed nodes only in the
    # personalized variant, 0 elsewhere.
    # Same loop discipline as the star-contraction above: materialize
    # each round (flat lineage, no end-of-loop mega-plan) and pin AQE
    # partition coalescing off — each round's exchanges are small, and
    # coalescing them to 1-2 tasks serializes the iteration (measured
    # on CC: 78 s -> 37 s; here 59 s -> ~20 s at 2M nodes / 4M edges).
    # session-global conf toggle: refcounted like the CC loop above
    # (see the NOTE there)
    spark = edges.sparkSession
    _coalesce_flip_enter(spark)
    try:
        if seeds is None:
            init = F.lit(p0).cast("long")
            teleport = F.lit(base).cast("long")
        else:
            init = F.when(F.col("_is_seed"), F.lit(p0)).otherwise(
                F.lit(0)
            ).cast("long")
            teleport = F.when(F.col("_is_seed"), F.lit(base)).otherwise(
                F.lit(0)
            ).cast("long")
        p = nodes.select("node", init.alias("p"))
        # (src, dst[, w], deg) — static across rounds, materialized once
        ed = e.join(outdeg, "src").localCheckpoint(eager=True)
        if weight_col is None:
            contrib_expr = f"(p * {damping_pct}) div (100 * deg)"
        else:
            # two-step division keeps intermediates inside a long for
            # w up to ~(2^63-1)/(scale*d/100); enforced below
            contrib_expr = f"((p * {damping_pct}) div 100) * w div deg"
            w_bound = (2**63 - 1) // (
                int(scale) * damping_pct // 100 + 1
            )
            w_max = ed.agg(F.max("w")).first()[0]
            if w_max is not None and w_max > w_bound:
                raise ValueError(
                    f"pagerank: max edge weight {w_max} * (scale * "
                    f"damping) would overflow a long (bound {w_bound}); "
                    "rescale weights down"
                )
        for _ in range(n_iter):
            contrib = (
                ed.join(p, ed["src"] == p["node"])
                .select("dst", F.expr(contrib_expr).alias("_c"))
                .groupBy("dst")
                .agg(F.sum("_c").alias("_s"))
            )
            p = (
                nodes.join(contrib, nodes["node"] == contrib["dst"], "left")
                .select(
                    "node",
                    (teleport + F.coalesce(F.col("_s"), F.lit(0))).alias("p"),
                )
                .localCheckpoint(eager=True)
            )
    finally:
        _coalesce_flip_exit(spark)
    return p.select(
        "node", F.round(F.col("p") / F.lit(float(scale)), 8).alias("pagerank")
    )


def bfs_hops(
    edges: DataFrame,
    seeds: DataFrame,
    max_hops: int = 3,
    src: str = "src",
    dst: str = "dst",
    id_col: str = "id",
) -> DataFrame:
    """Minimum-hop BFS labels from a seed set over an undirected graph.

    Returns DataFrame(node, hop) for every node reachable within
    ``max_hops`` (seeds at hop 0; unreached nodes are absent). Each
    round expands the frontier through one equi-join and anti-joins the
    visited set — the classic distributed BFS: per-round cost scales
    with the frontier's edge boundary, never the whole graph, and the
    loop localCheckpoints round state (the lineage discipline of
    connected_components). Hop labels are exact integers, so the whole
    expansion unrolls into chained SQL CTEs for the oracle
    (`part_bfs_hops`) — same family as the k-means/PageRank replicas.
    """
    e = edges.select(
        F.col(src).cast("long").alias("u"), F.col(dst).cast("long").alias("v")
    )
    e = (
        e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        .where(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    visited = (
        seeds.select(F.col(id_col).cast("long").alias("node"))
        .distinct()
        .withColumn("hop", F.lit(0))
        .localCheckpoint(eager=True)
    )
    frontier = visited
    for h in range(1, max_hops + 1):
        nxt = (
            e.join(
                frontier.select(F.col("node").alias("u")), "u"
            )
            .select(F.col("v").alias("node"))
            .distinct()
            .join(visited.select("node"), "node", "left_anti")
            .withColumn("hop", F.lit(h))
            .localCheckpoint(eager=True)
        )
        if nxt.isEmpty():
            break
        visited = visited.union(nxt).localCheckpoint(eager=True)
        frontier = nxt
    return visited


def triangle_counts(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    sample_p: float | None = None,
    salt: str = "doulion",
) -> DataFrame:
    """Per-node triangle participation counts over an undirected graph.
    DataFrame(node, n_triangles) for every node in >= 1 triangle.

    The 100 TB formulation (Suri & Vassilvitskii, WWW'11): orient every
    undirected edge from its (degree, id)-smaller endpoint to the
    larger, enumerate wedges by self-joining oriented edges on their
    source, and close each wedge with ONE oriented-edge lookup — every
    triangle materializes exactly once. Orientation by degree bounds
    the wedge fan-out by the max oriented out-degree (O(sqrt(E)) on
    skewed graphs, vs the hub-degree blow-up of a naive wedge join):
    the shuffles are edge-keyed equi-joins, never a cartesian.

    ``sample_p``: Doulion-style edge sparsification (Tsourakakis,
    Kang, Miller & Faloutsos, KDD'09) — the density lever when exact
    wedge enumeration is too expensive (the wedge join's output volume
    grows ~quadratically with average degree). Each canonical edge is
    kept iff ``xxhash64(u, v, salt) mod 1e6 < p*1e6`` — deterministic
    (reproducible across runs, engines, and cluster sizes — no RNG),
    the filter rides the canonical edge scan, and the exact pipeline
    then runs on the ~p*|E| sparsified graph: wedge volume shrinks by
    ~p², surviving triangles by ~p³. Counts are scaled back by 1/p³;
    the column name stays ``n_triangles`` in BOTH modes (long when
    exact, DOUBLE when sampled — the rescale is an unbiased estimate
    of the global count; per-node estimates are noisier — aggregate
    before trusting small ones). Self-loops and duplicate/mirrored
    edges are tolerated (canonical distinct first)."""
    e = edges.select(
        F.col(src).cast("long").alias("u"), F.col(dst).cast("long").alias("v")
    )
    und = (
        e.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        )
        .where(F.col("u") != F.col("v"))
        .distinct()
        # referenced by the degree agg (twice, via both orientations)
        # and the orientation join: truncate the lineage so the
        # canonicalizing exchange runs once, not per reference
        .localCheckpoint(eager=False)
    )
    if sample_p is not None:
        if not (0.0 < sample_p <= 1.0):
            raise ValueError(f"sample_p must be in (0, 1], got {sample_p}")
        und = und.where(
            F.pmod(
                F.xxhash64(F.col("u"), F.col("v"), F.lit(salt)),
                F.lit(1_000_000),
            )
            < F.lit(int(round(sample_p * 1_000_000)))
        ).localCheckpoint(eager=False)
    both = und.union(und.select(F.col("v").alias("u"), F.col("u").alias("v")))
    deg = both.groupBy("u").agg(F.count(F.lit(1)).alias("d"))
    # orient by (degree, id): strict total order, so each edge gets
    # exactly one direction. Degrees join onto the CANONICAL |E| edge
    # list (one join per endpoint) and the comparator SELECTS the
    # direction — joining the doubled 2|E| relation and filtering half
    # away would double the dominant shuffle volume.
    dd = (
        und.join(deg.withColumnRenamed("u", "_n1"), F.col("u") == F.col("_n1"))
        .withColumnRenamed("d", "du")
        .join(
            deg.select(F.col("u").alias("_n2"), F.col("d").alias("dv")),
            F.col("v") == F.col("_n2"),
        )
    )
    fwd = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    oriented = dd.select(
        F.when(fwd, F.col("u")).otherwise(F.col("v")).alias("u"),
        F.when(fwd, F.col("v")).otherwise(F.col("u")).alias("v"),
        F.when(fwd, F.col("du")).otherwise(F.col("dv")).alias("du"),
        F.when(fwd, F.col("dv")).otherwise(F.col("du")).alias("dv"),
    # three downstream references (both wedge legs + the closing
    # semi-join): without truncation the degree joins replay per
    # reference and the physical plan blows up combinatorially
    ).localCheckpoint(eager=False)
    o1 = oriented.select(
        F.col("u").alias("a"),
        F.col("v").alias("b"),
        F.col("dv").alias("db"),
    )
    o2 = oriented.select(
        F.col("u").alias("a"),
        F.col("v").alias("c"),
        F.col("dv").alias("dc"),
    )
    # wedge (a->b, a->c) ordered by the SAME comparator, so the closing
    # edge b-c, if present, is oriented exactly b->c
    wedges = o1.join(o2, "a").where(
        (F.col("db") < F.col("dc"))
        | ((F.col("db") == F.col("dc")) & (F.col("b") < F.col("c")))
    )
    tri = wedges.join(
        oriented.select(F.col("u").alias("b"), F.col("v").alias("c")),
        ["b", "c"],
        "left_semi",
    ).select("a", "b", "c")
    nodes = (
        tri.select(F.col("a").alias("node"))
        .union(tri.select(F.col("b").alias("node")))
        .union(tri.select(F.col("c").alias("node")))
    )
    counts = nodes.groupBy("node").agg(F.count(F.lit(1)).alias("n_triangles"))
    if sample_p is not None:
        # stable schema across modes: the column stays `n_triangles`
        # (DOUBLE when sampled — the 1/p^3 rescale is an estimate),
        # so callers can toggle sampling without a rename
        counts = counts.select(
            "node",
            (F.col("n_triangles") / F.lit(float(sample_p) ** 3)).alias(
                "n_triangles"
            ),
        )
    return counts


def k_core(
    edges: DataFrame,
    k: int,
    max_rounds: int = 8,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """k-core peeling: repeatedly drop nodes with degree < k (and their
    edges) until fixpoint or ``max_rounds``. Returns DataFrame(node,
    degree) over the surviving edge set — the classic graph-quality /
    spam-filter reduction (nodes in a k-core have >= k neighbors that
    themselves survive).

    Deterministic and exactly SQL-replayable: peeling is a pure
    function of the edge set, and rounds past the fixpoint are no-ops,
    so stopping early at convergence equals unrolling ``max_rounds``
    CTE rounds (the `part_k_core` oracle) — sixth iterative family
    with an exact oracle. CAVEAT: that equivalence (and the "k-core"
    name) holds only when peeling CONVERGES within ``max_rounds``; a
    truncated run is a well-defined N-round peel but NOT the k-core —
    size ``max_rounds`` to the graph (the contract query verifies
    convergence against an independent Python peel). Each round is a
    degree aggregate + two semi-joins over a SHRINKING edge relation,
    localCheckpointed per round (the CC loop discipline)."""
    e = edges.select(
        F.col(src).cast("long").alias("u"), F.col(dst).cast("long").alias("v")
    )
    e = _canonical(e).localCheckpoint(eager=True)
    prev_n = e.count()
    for _ in range(max_rounds):
        both = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        deg = both.groupBy("u").agg(F.count(F.lit(1)).alias("d"))
        # keep is DERIVED FROM e, so a same-name semi-join would be a
        # self-join with colliding attribute ids — eager checkpoint
        # gives it fresh lineage, and the aliased explicit conditions
        # leave no ambiguity for the resolver
        keep = (
            deg.where(F.col("d") >= k)
            .select(F.col("u").alias("node"))
            .localCheckpoint(eager=True)
        )
        nxt = (
            e.alias("e")
            .join(
                keep.alias("ka"),
                F.col("e.u") == F.col("ka.node"),
                "left_semi",
            )
            .join(
                keep.alias("kb"),
                F.col("e.v") == F.col("kb.node"),
                "left_semi",
            )
            .localCheckpoint(eager=True)
        )
        # one count job per round: last round's nxt.count() is this
        # round's e.count()
        n = nxt.count()
        converged = n == prev_n
        e, prev_n = nxt, n
        if converged:
            break
    both = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    return both.groupBy(F.col("u").alias("node")).agg(
        F.count(F.lit(1)).alias("degree")
    )


def bounded_sssp(
    edges: DataFrame,
    seeds: DataFrame,
    rounds: int = 6,
    src: str = "src",
    dst: str = "dst",
    weight_col: str = "weight",
    id_col: str = "id",
) -> DataFrame:
    """Bounded-round Bellman-Ford over an undirected integer-weighted
    graph: minimum path cost from the seed set using at most ``rounds``
    relaxation rounds. DataFrame(node, dist) for reached nodes (seeds
    at 0; parallel edges collapse to their minimum weight).

    Distances are exact integer sums, and relaxation is monotone — a
    fixpoint round changes nothing — so the early-stopping loop equals
    a fixed ``rounds``-deep CTE unroll (`part_sssp` oracle; its test
    pins convergence-within-unroll, the k_core discipline). SEVENTH
    iterative family with an exact oracle. Per round: one equi-join of
    the frontier distances with the edge relation + a min aggregate,
    localCheckpointed (the CC loop discipline)."""
    e = edges.select(
        F.col(src).cast("long").alias("u"),
        F.col(dst).cast("long").alias("v"),
        F.col(weight_col).cast("long").alias("w"),
    )
    und = (
        e.select(
            F.greatest("u", "v").alias("u"),
            F.least("u", "v").alias("v"),
            "w",
        )
        .where(F.col("u") != F.col("v"))
        .groupBy("u", "v")
        .agg(F.min("w").alias("w"))
    )
    both = und.union(
        und.select(F.col("v").alias("u"), F.col("u").alias("v"), "w")
    ).localCheckpoint(eager=True)
    dist = (
        seeds.select(F.col(id_col).cast("long").alias("node"))
        .distinct()
        .withColumn("dist", F.lit(0).cast("long"))
        .localCheckpoint(eager=True)
    )
    prev_sig = None
    for _ in range(rounds):
        relaxed = (
            both.join(
                dist.select(F.col("node").alias("u"), "dist"), "u"
            )
            .select(
                F.col("v").alias("node"),
                (F.col("dist") + F.col("w")).alias("dist"),
            )
        )
        dist = (
            dist.unionByName(relaxed)
            .groupBy("node")
            .agg(F.min("dist").alias("dist"))
            .localCheckpoint(eager=True)
        )
        sig = dist.agg(
            F.count(F.lit(1)).alias("n"), F.sum("dist").alias("s")
        ).first()
        if prev_sig == (sig["n"], sig["s"]):
            break
        prev_sig = (sig["n"], sig["s"])
    return dist


def hits(
    edges: DataFrame,
    n_iter: int = 2,
    src_col: str = "src",
    dst_col: str = "dst",
    scale: int = 1_000_000,
) -> DataFrame:
    """Deterministic integer-arithmetic HITS (Kleinberg, JACM 1999)
    over a directed graph: ``n_iter`` fixed hub/authority mutual-
    reinforcement rounds. DataFrame(node, hub double, authority
    double), scores max-normalized to [0, 1], rounded to 6 digits.

    EIGHTH iterative family with an exact oracle: all scores live on an
    integer micro-unit grid and the per-round normalization divides by
    the round's MAX score using integer division — ``(x * scale) div
    max(x)`` — instead of the textbook L2 norm (a float sqrt whose
    cross-engine bits are fine, but whose SUM is aggregation-order-
    dependent). max is order-free, integer division is exact, so a
    fixed-round run replays bit-for-bit as an unrolled MATERIALIZED-CTE
    oracle (`part_order_hits`), the pagerank/k-means discipline.

    Update order per round: hubs from the previous authorities
    (h[u] = Σ a[v] over u→v), normalize; authorities from the fresh
    hubs (a[v] = Σ h[u] over u→v), normalize. With ≥ 1 edge the round
    maxima stay positive (authorities start at ``scale``), so the
    integer divisions are safe. Each round's max is pulled to the
    driver (one 1-row aggregate — A7-bounded, the k-means
    literal-centroid discipline) both to fail fast when ``max * scale``
    would overflow a long (in-degree × scale² must stay under 2⁶³ —
    holds to ~9M-degree hubs at the default scale; a plan-side
    assert_true would be pruned as unused) and to inline the divisor
    as a literal, which drops the broadcast-join the normalization
    would otherwise need.

    Scale shape: per round two node-keyed equi-joins + two sum
    aggregates + two 1-row max pulls — the pagerank profile; vectors
    are localCheckpointed per round (flat lineage)."""
    if n_iter < 1:
        raise ValueError(f"n_iter must be >= 1, got {n_iter}")
    # materialize the deduped edge list ONCE: four joins per iteration
    # read it, and an un-checkpointed `e` would re-run the 10M-row
    # distinct shuffle for every one of them (measured: the dominant
    # cost of the hits_10m_edges stress stage before this)
    e = (
        edges.select(
            F.col(src_col).cast("long").alias("src"),
            F.col(dst_col).cast("long").alias("dst"),
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    max_safe = (1 << 63) // int(scale) - 1

    def _normalized(raw: DataFrame, col: str) -> DataFrame:
        # raw: (node, col) for SOME nodes; normalize to node-complete.
        # Materialize raw first — the max pull and the normalization
        # join both consume it, and recomputing means re-running the
        # edge join + aggregate that produced it
        raw = raw.localCheckpoint(eager=True)
        m = raw.agg(F.max(F.col(col))).first()[0]
        if m is None:
            return nodes.select("node", F.lit(0).cast("long").alias(col))
        if m > max_safe:
            raise ValueError(
                f"hits: max {col} score {m} * scale {scale} would "
                "overflow a long; lower `scale`"
            )
        return nodes.join(raw, "node", "left").select(
            "node",
            F.coalesce(
                F.expr(f"({col} * {int(scale)}) div {int(m)}"), F.lit(0)
            ).alias(col),
        )

    a = nodes.select("node", F.lit(int(scale)).cast("long").alias("a"))
    for _ in range(n_iter):
        h_raw = (
            e.join(a.select(F.col("node").alias("dst"), "a"), "dst")
            .groupBy("src")
            .agg(F.sum("a").alias("h"))
            .select(F.col("src").alias("node"), "h")
        )
        h = _normalized(h_raw, "h").localCheckpoint(eager=True)
        a_raw = (
            e.join(h.select(F.col("node").alias("src"), "h"), "src")
            .groupBy("dst")
            .agg(F.sum("h").alias("a"))
            .select(F.col("dst").alias("node"), "a")
        )
        a = _normalized(a_raw, "a").localCheckpoint(eager=True)
    # _normalized already returns node-complete vectors (nodes
    # left-joined, missing scores coalesced to 0) — one equi-join
    # zips them, no re-join against nodes needed
    return h.join(a, "node").select(
        "node",
        F.round(F.col("h") / F.lit(float(scale)), 6).alias("hub"),
        F.round(F.col("a") / F.lit(float(scale)), 6).alias("authority"),
    )


def label_propagation(
    edges: DataFrame,
    n_iter: int = 3,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Deterministic synchronous label propagation (Raghavan et al.,
    Phys. Rev. E 2007) over an undirected graph: community detection
    without an objective function — each round every node adopts the
    most frequent label among its neighbors, ties broken by the
    SMALLEST label, labels initialized to the node id. Fixed ``n_iter``
    synchronous rounds (the asynchronous variant is order-dependent
    and unreplayable; synchronous + deterministic tie-break replays
    bit-for-bit, the pagerank/HITS discipline — oscillation on
    bipartite structures is the documented price and the reason the
    round count is fixed rather than run-to-convergence).

    Returns DataFrame(node, community long) — community is the label
    held after the final round; nodes with no neighbors (self-loop-only
    endpoints) keep their own id.

    Scale shape: the neighbor relation (both orientations, self-loops
    dropped) is materialized once; per round one equi-join of the
    label vector onto it (keyed by neighbor id), one (node, label)
    count aggregate with map-side partials, one min-struct argmax per
    node, and one left join back onto the full label vector — all
    hash-partitioned by node id, the exact pagerank profile. Label
    vectors are localCheckpointed per round (flat lineage); AQE
    partition coalescing is pinned off for the loop (same single-owner
    session-conf contract as connected_components above).
    """
    if n_iter < 1:
        raise ValueError(f"n_iter must be >= 1, got {n_iter}")
    raw = edges.select(
        F.col(src_col).cast("long").alias("src"),
        F.col(dst_col).cast("long").alias("dst"),
    )
    spark = edges.sparkSession
    _coalesce_flip_enter(spark)
    try:
        # undirected neighbor relation: both orientations, no self-loops
        nbr = (
            raw.union(raw.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
            .where(F.col("src") != F.col("dst"))
            .distinct()
            .localCheckpoint(eager=True)
        )
        nodes = (
            raw.select(F.col("src").alias("node"))
            .union(raw.select(F.col("dst").alias("node")))
            .distinct()
            .localCheckpoint(eager=True)
        )
        labels = nodes.select("node", F.col("node").alias("lbl"))
        for _ in range(n_iter):
            counts = (
                nbr.join(
                    labels.select(F.col("node").alias("dst"), "lbl"), "dst"
                )
                .groupBy(F.col("src").alias("node"), "lbl")
                .agg(F.count(F.lit(1)).alias("cnt"))
            )
            # argmax by (cnt desc, lbl asc) == min of struct(-cnt, lbl)
            pick = counts.groupBy("node").agg(
                F.min(
                    F.struct((-F.col("cnt")).alias("nc"), F.col("lbl"))
                ).alias("_m")
            ).select("node", F.col("_m.lbl").alias("_new"))
            labels = (
                labels.join(pick, "node", "left")
                .select(
                    "node", F.coalesce(F.col("_new"), F.col("lbl")).alias("lbl")
                )
                .localCheckpoint(eager=True)
            )
    finally:
        _coalesce_flip_exit(spark)
    return labels.select("node", F.col("lbl").alias("community"))
