"""Scale stress runs beyond the driver's sf0.1: synthetic data generated
in-memory (spark.range + deterministic hashes, no files), sized by CLI.

Usage: python tools/stress.py [n_points] [n_vectors]

- DBSCAN on n_points quantized 3-d integer points (the anonymization
  shape: low-cardinality quasi-identifiers). Duplicate contraction is
  the load-bearing scale path: the grid/CC graph runs over distinct
  vectors (bounded by the value-grid cardinality, here 21*21*11 per
  cluster pattern), not rows — which is exactly how a 100 TB run of
  the reference's use case behaves.
- IVF cosine ANN: n_vectors 16-d unit-ish vectors, 64 queries, top-5,
  8 cells, nprobe 3 — the bucketed scale path of similarity search.
- ε-join: the one-cell skew worst case, and 10^5 rows of the paper's
  6-d quasi-identifier shape (``eps_join_stages``; it reports the key
  dimensions and the probe's exploded row count).
- k-member k-means: 10^5 rows of the same 6-d shape, k = 10, 40
  clusters, on its driver solver and on its Spark loop
  (``kmember_stage``; it reports wall time, jobs and whether the two
  costs agree).
- IVF coarse quantizer: ``kmeans_fit`` over 50 000 32-d vectors at 64
  cells, on its driver path and on its Spark loop
  (``ivf_quantizer_stage``; it reports wall time and jobs, and asserts
  the two centroid lists are identical).

Prints one JSON line per stage with wall seconds and result stats.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

N_POINTS = int(sys.argv[1]) if len(sys.argv) > 1 else 2_000_000
N_VECS = int(sys.argv[2]) if len(sys.argv) > 2 else 200_000
N_SKEW_DOCS = int(sys.argv[3]) if len(sys.argv) > 3 else 10_000_000
N_2L_VECS = int(sys.argv[4]) if len(sys.argv) > 4 else 5_000_000


def eps_join_stages(spark, n_skew: int) -> None:
    """The ε-join stages: the adversarial one-cell skew over ``n_skew``
    points, and the paper's 6-d anonymization shape over 10^5 rows."""
    from importlib import import_module

    from pyspark.sql import functions as F

    from dbscan_pyspark_spark.plans.inspect import node_metrics

    # the module, not the function the operators package re-exports
    ej = import_module("dbscan_pyspark_spark.operators.eps_join")

    # --- adversarial ε-join skew: every point in ONE grid cell ---
    # Distinct coordinates (duplicate contraction cannot shrink it), all
    # inside a single eps-sized cell, so the cell equi-join degenerates
    # to one hot key. This is the worst case the grid strategy has:
    # candidate pairs are quadratic in the cell population no matter how
    # you partition, so the knobs under test are (a) AQE skew-split
    # parallelizing the hot partition and (b) the per-pair distance eval
    # cost. Points are spread uniformly in the cell; ~13% of pairs fall
    # within L1 eps, so the run is candidate-bound, not output-bound.
    hs = F.abs(F.xxhash64("id"))
    skew_pts = spark.range(n_skew).select(
        F.col("id"),
        F.array(
            ((hs % 97650) / 97650.0),           # [0, 1) distinct-ish
            (((hs / 97650).cast("long") % 9973) / 9973.0),
            (((hs / 1021).cast("long") % 1013) / 1013.0),
        ).alias("features"),
    )
    t0 = time.time()
    n_skew_pairs = ej.eps_self_join(
        skew_pts, eps=1.0, unique_pairs=True, keep_distance=False
    ).count()
    print(
        json.dumps(
            {
                "stage": "eps_join_one_cell_skew",
                "n_points": n_skew,
                "wall_s": round(time.time() - t0, 1),
                "result_pairs": n_skew_pairs,
            }
        ),
        flush=True,
    )

    # --- the paper's 6-d shape at 10^5 rows ---
    # Integer rows in the data10k_6attr quasi-identifier ranges,
    # contracted to reps and ε-joined at eps 12, the symmetric max-ε
    # join of eps_sweep and dbscan. At eps 12 three of the six dimensions
    # span >= 3 cells, so the join keys on them (27 offsets per rep
    # instead of 729), and the ~1.5M pairs stay under the 5M driver bound
    # (components._DRIVER_PAIRS_THRESHOLD) the sweep's Kruskal pass needs.
    ranges = [(15, 90), (130, 190), (30, 100), (2, 23), (0, 5), (0, 20)]
    n_6d = 100_000
    eps_6d = 12.0
    pts_6d = spark.range(n_6d).select(
        F.col("id"),
        F.array(
            *[
                (F.lit(lo) + F.abs(F.xxhash64("id", F.lit(c))) % (hi - lo + 1)).cast(
                    "double"
                )
                for c, (lo, hi) in enumerate(ranges)
            ]
        ).alias("features"),
    )
    t0 = time.time()
    reps = ej._contract(pts_6d, "features", "id", 6).persist()
    pairs = ej.eps_join(
        reps, reps, eps_6d, dim=6, keep_distance=True, payload_b=["_mult"]
    )
    counted = pairs.agg(F.count(F.lit(1)).alias("n"))
    n_6d_pairs = counted.collect()[0]["n"]
    wall = round(time.time() - t0, 1)
    keys = ej._key_dims(reps, reps, eps_6d, "features", 6)
    print(
        json.dumps(
            {
                "stage": "eps_join_6d",
                "n_points": n_6d,
                "reps": reps.count(),
                "eps": eps_6d,
                "key_dims": keys,
                "probe_rows": sum(node_metrics(counted, "Generate")),
                "result_pairs": n_6d_pairs,
                "wall_s": wall,
            }
        ),
        flush=True,
    )
    reps.unpersist()


def kmember_stage(spark) -> None:
    """k-member k-means over 10^5 integer rows in the data10k_6attr
    quasi-identifier ranges, k = 10, 40 clusters: 4M distances per
    iteration, under the 5M driver pair bound, so it runs on the driver
    solver; then again with the bound at 0, on the Spark loop."""
    from pyspark.sql import functions as F

    from dbscan_pyspark_spark.operators import components
    from dbscan_pyspark_spark.operators import kmember as km

    ranges = [(15, 90), (130, 190), (30, 100), (2, 23), (0, 5), (0, 20)]
    n, k, n_clusters, max_iter = 100_000, 10, 40, 5
    pts = spark.range(n).select(
        F.col("id"),
        F.array(
            *[
                F.lit(lo) + F.abs(F.xxhash64("id", F.lit(c))) % (hi - lo + 1)
                for c, (lo, hi) in enumerate(ranges)
            ]
        ).alias("features"),
    ).persist()
    pts.count()
    sc = spark.sparkContext
    out = {}
    bound = components._DRIVER_PAIRS_THRESHOLD
    try:
        for path, threshold in (("driver", bound), ("spark_loop", 0)):
            components._DRIVER_PAIRS_THRESHOLD = threshold
            sc.setJobGroup(f"kmember_{path}", path)
            t0 = time.time()
            res = km.kmember_kmeans(pts, k=k, n_clusters=n_clusters, max_iter=max_iter)
            out[path] = {
                "wall_s": round(time.time() - t0, 1),
                "jobs": len(sc.statusTracker().getJobIdsForGroup(f"kmember_{path}")),
                "cost": res.cost,
                "n_iter": res.n_iter,
            }
            sizes = res.centroids.agg(F.min("n_members"), F.sum("n_members")).first()
            assert sizes[0] >= k and sizes[1] == n
    finally:
        components._DRIVER_PAIRS_THRESHOLD = bound
        sc.setJobGroup("", "")
        pts.unpersist()
    print(
        json.dumps(
            {
                "stage": "kmember_kmeans_6d",
                "n_points": n,
                "k": k,
                "n_clusters": n_clusters,
                "max_iter": max_iter,
                **out,
                "same_cost": abs(out["driver"]["cost"] - out["spark_loop"]["cost"])
                <= 1e-9 * out["spark_loop"]["cost"],
            }
        ),
        flush=True,
    )


def ivf_quantizer_stage(spark) -> None:
    """The IVF coarse quantizer's fit, ``kmeans_fit`` with the
    ``ivf_quantized_topk`` defaults (scale 1000, 2 iterations), over
    50 000 32-d vectors at 64 cells: 50 000 × (64 + 32) = 4.8M cells,
    under the 5M driver pair bound, so it runs on the driver path; then
    again with the bound at 0, on the Spark loop."""
    from pyspark.sql import functions as F

    from dbscan_pyspark_spark.operators import components
    from dbscan_pyspark_spark.operators import kmeans as km

    n, dim, cells, n_iter = 50_000, 32, 64, 2
    vecs = spark.range(n).select(
        F.col("id").alias("vec_id"),
        F.array(
            *[
                (F.abs(F.xxhash64("id", F.lit(i))) % 2001 - 1000) / 1000.0
                for i in range(dim)
            ]
        ).alias("embedding"),
    ).persist()
    vecs.count()
    sc = spark.sparkContext
    out, cents = {}, {}
    bound = components._DRIVER_PAIRS_THRESHOLD
    try:
        for path, threshold in (("driver", bound), ("spark_loop", 0)):
            components._DRIVER_PAIRS_THRESHOLD = threshold
            sc.setJobGroup(f"ivf_quantizer_{path}", path)
            t0 = time.time()
            assign, cents[path] = km.kmeans_fit(vecs, k=cells, n_iter=n_iter)
            n_assigned = assign.count()
            out[path] = {
                "wall_s": round(time.time() - t0, 1),
                "jobs": len(sc.statusTracker().getJobIdsForGroup(f"ivf_quantizer_{path}")),
            }
            assert n_assigned == n
    finally:
        components._DRIVER_PAIRS_THRESHOLD = bound
        sc.setJobGroup("", "")
        vecs.unpersist()
    assert cents["driver"] == cents["spark_loop"]
    print(
        json.dumps(
            {
                "stage": "ivf_quantizer_fit",
                "n_vectors": n,
                "dim": dim,
                "n_cells": cells,
                "n_iter": n_iter,
                "live_cells": len(cents["driver"]),
                **out,
                "same_centroids": True,
            }
        ),
        flush=True,
    )


def main() -> None:
    from pyspark.sql import functions as F

    from dbscan_pyspark_spark.operators.dbscan import dbscan
    from dbscan_pyspark_spark.operators.similarity import ivf_cosine_topk
    from dbscan_pyspark_spark.session import get_session

    spark = get_session("stress")
    spark.range(1000).count()  # warm the JVM

    # --- DBSCAN at N_POINTS ---
    # Deterministic pseudo-random integer features: two dense blobs plus
    # a sparse background, quantized to an integer grid.
    base = spark.range(N_POINTS)
    h = F.abs(F.xxhash64("id"))
    pts = base.select(
        F.col("id"),
        F.array(
            (
                F.when(h % 3 < 2, (h % 21).cast("double"))  # blob at 0..20
                # sparse background: ~2M distinct cells -> real noise
                .otherwise(((h % 9973) + 40).cast("double"))
            ),
            ((h / F.lit(7)).cast("long") % 21).cast("double"),
            ((h / F.lit(149)).cast("long") % 11).cast("double"),
        ).alias("features"),
    )
    t0 = time.time()
    labels = dbscan(pts, eps=2.0, min_pts=64, min_cluster_size=64)
    stats = (
        labels.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("is_noise").cast("long")).alias("noise"),
            F.countDistinct("cluster_id").alias("clusters"),
        )
    ).first()
    print(
        json.dumps(
            {
                "stage": "dbscan",
                "n_points": N_POINTS,
                "wall_s": round(time.time() - t0, 1),
                "rows": stats["n"],
                "noise": stats["noise"],
                "clusters": stats["clusters"],
            }
        ),
        flush=True,
    )
    assert stats["n"] == N_POINTS

    # --- IVF ANN at N_VECS ---
    dim = 16
    vecs = spark.range(N_VECS).select(
        F.col("id").alias("vec_id"),
        F.array(
            *[
                ((F.abs(F.xxhash64("id", F.lit(i))) % 1000) / 500.0 - 1.0)
                for i in range(dim)
            ]
        ).alias("embedding"),
    )
    queries = vecs.where(F.col("vec_id") % (N_VECS // 64) == 0)
    t0 = time.time()
    nn = ivf_cosine_topk(vecs, queries, k=5, n_cells=8, nprobe=3)
    n_nn = nn.count()
    print(
        json.dumps(
            {
                "stage": "ivf_ann",
                "n_vectors": N_VECS,
                "wall_s": round(time.time() - t0, 1),
                "result_rows": n_nn,
            }
        ),
        flush=True,
    )

    eps_join_stages(spark, max(N_POINTS // 60, 10_000))
    kmember_stage(spark)
    ivf_quantizer_stage(spark)

    # --- distributed connected components (star contraction) ---
    # A zero driver bound forces the large-star/small-star path even
    # when the driver could absorb the graph, so the 100 TB code path
    # has a measured number. Random graph: 2 edges per node -> a few giant
    # components, the classic CC workload.
    n_nodes = max(N_POINTS * 2, 1_000_000)
    edges = spark.range(n_nodes * 2).select(
        (F.col("id") % n_nodes).alias("src"),
        (F.abs(F.xxhash64("id", F.lit(1))) % n_nodes).alias("dst"),
    )
    from dbscan_pyspark_spark.operators import components

    t0 = time.time()
    bound = components._DRIVER_PAIRS_THRESHOLD
    components._DRIVER_PAIRS_THRESHOLD = 0
    try:
        labels_cc = components.connected_components(edges)
        cc_stats = labels_cc.agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("component").alias("components"),
        ).first()
    finally:
        components._DRIVER_PAIRS_THRESHOLD = bound
    print(
        json.dumps(
            {
                "stage": "cc_star_contraction",
                "n_nodes": n_nodes,
                "n_edges": n_nodes * 2,
                "wall_s": round(time.time() - t0, 1),
                "labeled": cc_stats["n"],
                "components": cc_stats["components"],
            }
        ),
        flush=True,
    )

    # --- BFS minimum-hop labels over the same random graph ---
    # 1000 seeds, 3 frontier rounds: per-round cost is the frontier's
    # edge boundary; on a 2-edges-per-node random graph the frontier
    # saturates the giant component fast, so this measures the
    # worst-case (whole-graph) expansion joins.
    from dbscan_pyspark_spark.operators.components import bfs_hops

    seeds = spark.range(1000).select((F.col("id") * 97).alias("id"))
    t0 = time.time()
    hops = bfs_hops(edges, seeds, max_hops=3)
    hop_stats = hops.agg(
        F.count(F.lit(1)).alias("n"), F.max("hop").alias("max_hop")
    ).first()
    print(
        json.dumps(
            {
                "stage": "bfs_hops",
                "n_nodes": n_nodes,
                "n_edges": n_nodes * 2,
                "n_seeds": 1000,
                "wall_s": round(time.time() - t0, 1),
                "reached": hop_stats["n"],
                "max_hop": hop_stats["max_hop"],
            }
        ),
        flush=True,
    )

    # --- triangle counting over planted cliques ---
    # 10-cliques planted across n/10 groups: C(10,3)=120 triangles per
    # clique, so the wedge join runs in its dense (clique) regime while
    # fan-out stays bounded by the degree orientation. Exact expected
    # totals make this a correctness check at scale too.
    from dbscan_pyspark_spark.operators.components import triangle_counts

    tri_nodes = max(N_POINTS // 4, 100_000)
    clique = 10
    tri_edges = (
        spark.range(tri_nodes)
        .alias("a")
        .join(
            spark.range(tri_nodes).alias("b"),
            (F.col("a.id") / clique).cast("long")
            == (F.col("b.id") / clique).cast("long"),
        )
        .where(F.col("a.id") < F.col("b.id"))
        .select(F.col("a.id").alias("src"), F.col("b.id").alias("dst"))
    )
    t0 = time.time()
    tc = triangle_counts(tri_edges)
    tri_stats = tc.agg(
        F.count(F.lit(1)).alias("nodes"),
        F.sum("n_triangles").alias("sum_part"),
    ).first()
    import math

    # the trailing group has tri_nodes % clique members — include its
    # C(r,3) triangles / C(r,2) edges so a CLI n_points that is not a
    # multiple of 4*clique doesn't report a false correctness failure
    n_full, rem = divmod(tri_nodes, clique)
    expected_sum = (n_full * math.comb(clique, 3) + math.comb(rem, 3)) * 3
    print(
        json.dumps(
            {
                "stage": "triangle_cliques",
                "n_nodes": tri_nodes,
                "n_edges": n_full * math.comb(clique, 2) + math.comb(rem, 2),
                "wall_s": round(time.time() - t0, 1),
                "nodes_in_triangles": tri_stats["nodes"],
                "participation_ok": int(tri_stats["sum_part"]) == expected_sum,
            }
        ),
        flush=True,
    )

    # --- Doulion-sampled triangle estimate on the same clique graph ---
    # The density lever for graphs where exact wedge enumeration is the
    # wrong default (VERDICT r3: 21.9 s at sf0.1 on a degree-190
    # graph): p=0.5 shrinks wedge volume ~4x and surviving triangles
    # ~8x; record the error/speedup pair against the exact run above.
    t0 = time.time()
    est = triangle_counts(tri_edges, sample_p=0.5)
    # sum over zero rows is None (every triangle sampled away on a
    # shrunken config) — report 0, don't kill the whole stress run
    est_total = (est.agg(F.sum("n_triangles")).first()[0] or 0.0) / 3.0
    sampled_wall = round(time.time() - t0, 1)
    exact_total = expected_sum / 3
    print(
        json.dumps(
            {
                "stage": "triangle_cliques_sampled",
                "sample_p": 0.5,
                "wall_s": sampled_wall,
                "est_triangles": round(est_total, 1),
                "exact_triangles": exact_total,
                "err_pct": (
                    round(100.0 * abs(est_total - exact_total) / exact_total, 2)
                    if exact_total
                    else None
                ),
            }
        ),
        flush=True,
    )

    # --- sparse TF-IDF pairs at N_DOCS with top-term truncation ---
    # Topic + long-tail synthetic corpus: 20 tokens from the doc's
    # topic vocabulary (500 topics x 50 terms -> real same-topic pairs)
    # and 20 from a 20k-term uniform tail. Term df stays bounded
    # (~tens), so the inverted-list join cost Σ df² grows linearly with
    # corpus size — the regime the df/top-term levers are built for.
    n_docs = max(N_POINTS // 50, 10_000)
    topic = (F.col("id") % 500).cast("long")
    tokens = [
        F.concat(
            F.lit("t"), topic.cast("string"), F.lit("_"),
            (F.abs(F.xxhash64("id", F.lit(i))) % 50).cast("string"),
        )
        for i in range(20)
    ] + [
        F.concat(
            F.lit("w"),
            (F.abs(F.xxhash64("id", F.lit(i + 100))) % 20000).cast("string"),
        )
        for i in range(20)
    ]
    docs = spark.range(n_docs).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(" ", F.array(*tokens)).alias("text"),
    )
    from dbscan_pyspark_spark.operators.similarity import tfidf_cosine_pairs

    t0 = time.time()
    n_pairs = tfidf_cosine_pairs(
        docs, threshold=0.5, max_df_ratio=0.2, top_terms_per_doc=10
    ).count()
    print(
        json.dumps(
            {
                "stage": "tfidf_pairs",
                "n_docs": n_docs,
                "wall_s": round(time.time() - t0, 1),
                "result_rows": n_pairs,
            }
        ),
        flush=True,
    )

    # --- Z-ordered write at N_POINTS rows, 2 independent dims ---
    import shutil
    import tempfile

    from dbscan_pyspark_spark.sources.io import write_zordered

    zdf = spark.range(N_POINTS).select(
        "id",
        (F.col("id") % 4096).alias("x"),
        ((F.col("id") * 2654435761) % 4096).alias("y"),
    )
    zdir = tempfile.mkdtemp(prefix="stress_zorder_")
    try:
        t0 = time.time()
        write_zordered(zdf, zdir, ["x", "y"], bits=12, num_files=64)
        wall = round(time.time() - t0, 1)
        import duckdb

        span = duckdb.connect().execute(
            f"""SELECT path_in_schema,
                  avg(CAST(stats_max AS DOUBLE) - CAST(stats_min AS DOUBLE))
                FROM parquet_metadata('{zdir}/*.parquet')
                WHERE path_in_schema IN ('x','y') GROUP BY 1"""
        ).fetchall()
        print(
            json.dumps(
                {
                    "stage": "zorder_write",
                    "n_rows": N_POINTS,
                    "wall_s": wall,
                    "mean_file_span_frac": {
                        c: round(s / 4095, 3) for c, s in span
                    },
                }
            ),
            flush=True,
        )
    finally:
        shutil.rmtree(zdir, ignore_errors=True)

    # --- deterministic k-means + exact covariance at N_POINTS x 64-d ---
    # Embedding-shaped synthetic: 8 well-separated integer-grid blobs.
    from dbscan_pyspark_spark.operators.kmeans import kmeans_quantized
    from dbscan_pyspark_spark.operators.similarity import (
        embedding_covariance,
    )

    hh = F.abs(F.xxhash64("id"))
    emb = spark.range(N_POINTS).select(
        F.col("id").alias("vec_id"),
        F.transform(
            F.sequence(F.lit(0), F.lit(63)),
            lambda i: (
                ((hh % 8) * 100).cast("double")  # blob offset dim-0..7
                * F.when(i < 8, 1.0).otherwise(0.0)
                + (F.abs(F.xxhash64(F.col("id"), i)) % 41).cast("double")
                / 10.0
            ),
        ).alias("embedding"),
    )
    t0 = time.time()
    km = kmeans_quantized(emb, k=8, n_iter=3, scale=10)
    n_clusters = km.select("cluster").distinct().count()
    print(
        json.dumps(
            {
                "stage": "kmeans_1m",
                "n_vectors": N_POINTS,
                "dim": 64,
                "n_iter": 3,
                "wall_s": round(time.time() - t0, 1),
                "n_clusters": n_clusters,
            }
        ),
        flush=True,
    )

    # --- skewed shuffle join: AQE skew-split vs explicit salting ---
    # Half the fact rows carry ONE key; broadcast disabled so the join
    # must shuffle. Measures the two skew levers the engine offers.
    from dbscan_pyspark_spark.operators.joins import salted_join

    n_fact = max(N_POINTS * 2, 1_000_000)
    fact = spark.range(n_fact).select(
        F.when(F.col("id") % 2 == 0, 0)
        .otherwise(F.abs(F.xxhash64("id")) % 1000)
        .alias("k"),
        (F.col("id") % 97).alias("payload"),
    )
    dim = spark.range(1000).select(
        F.col("id").alias("k"), (F.col("id") * 7).alias("attr")
    )
    prev_bc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        t0 = time.time()
        n_aqe = fact.join(dim, "k").count()
        t_aqe = round(time.time() - t0, 1)
        t0 = time.time()
        n_salted = salted_join(fact, dim, ["k"], n_salts=32).count()
        t_salted = round(time.time() - t0, 1)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_bc)
    assert n_aqe == n_salted == n_fact
    print(
        json.dumps(
            {
                "stage": "skew_join",
                "n_fact": n_fact,
                "hot_key_share": 0.5,
                "wall_s_aqe_skew": t_aqe,
                "wall_s_salted": t_salted,
            }
        ),
        flush=True,
    )

    # --- PageRank on the CC stress graph shape (directed) ---
    from dbscan_pyspark_spark.operators.components import pagerank

    pr_nodes = max(N_POINTS, 1_000_000)
    pr_edges = spark.range(pr_nodes * 2).select(
        (F.col("id") % pr_nodes).alias("src"),
        (F.abs(F.xxhash64("id", F.lit(7))) % pr_nodes).alias("dst"),
    )
    t0 = time.time()
    pr = pagerank(pr_edges, n_iter=3)
    top = pr.orderBy(F.col("pagerank").desc()).limit(3).collect()
    print(
        json.dumps(
            {
                "stage": "pagerank",
                "n_nodes": pr_nodes,
                "n_edges": pr_nodes * 2,
                "n_iter": 3,
                "wall_s": round(time.time() - t0, 1),
                "top_rank": round(top[0]["pagerank"], 8) if top else None,
            }
        ),
        flush=True,
    )

    # --- source_cap on a mega-domain skewed corpus ---
    # 1 source with 5M docs + 1000 sources with 1k docs each. The
    # single per-source window is NOT a one-task sort: Catalyst's
    # partial WindowGroupLimit prunes each map task to its local
    # top-cap per source before the exchange (measured: it beats the
    # hand-rolled two-phase top-k ~3.5x at 41M rows). Record both
    # walls and verify the checksums agree (strict total order ->
    # identical results).
    from dbscan_pyspark_spark.operators.pipeline import source_cap

    mega = 5_000_000
    docs_sk = spark.range(mega + 1_000_000).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") < mega, F.lit("mega"))
        .otherwise(F.concat(F.lit("s"), (F.col("id") % 1000).cast("string")))
        .alias("source"),
        (F.col("id") % 997).alias("n_chars"),
    )
    checksum = lambda d: d.agg(  # noqa: E731
        # pmod before summing: raw 64-bit hashes overflow LongType sums
        # under ANSI; <=cap*1001 rows * 1e9 stays far inside a long
        F.sum(
            F.pmod(F.xxhash64("doc_id", "source", "src_rank"), F.lit(1_000_000_007))
        ).alias("cs")
    ).first()["cs"]
    t0 = time.time()
    cs_one = checksum(source_cap(docs_sk, cap=100, score_col="n_chars"))
    one_wall = round(time.time() - t0, 1)
    t0 = time.time()
    cs_two = checksum(
        source_cap(docs_sk, cap=100, score_col="n_chars", salt_buckets=16)
    )
    two_wall = round(time.time() - t0, 1)
    print(
        json.dumps(
            {
                "stage": "source_cap_mega_domain",
                "n_docs": mega + 1_000_000,
                "mega_source_docs": mega,
                "cap": 100,
                "single_window_wall_s": one_wall,
                "two_phase_wall_s": two_wall,
                "results_identical": cs_one == cs_two,
            }
        ),
        flush=True,
    )

    # --- integer HITS on a 10M-edge bipartite graph ---
    # The pagerank cost profile (per round: 2 node-keyed equi-joins +
    # 2 aggregates + 2 broadcast scalar maxes); hub fan-out is skewed
    # (hub h points at ~h+1 authorities) so the authority-side sums see
    # real imbalance.
    from dbscan_pyspark_spark.operators.components import hits

    n_hub = 2_000_000
    hits_edges = spark.range(10_000_000).select(
        (F.col("id") % n_hub).alias("src"),
        (
            F.lit(n_hub)
            + F.pmod(
                F.xxhash64("id", F.lit(3)),
                (F.col("id") % n_hub) % 997 + 1,
            )
        ).alias("dst"),
    )
    t0 = time.time()
    hs = hits(hits_edges, n_iter=2)
    hstats = hs.agg(
        F.count(F.lit(1)).alias("n"),
        F.max("hub").alias("max_hub"),
        F.max("authority").alias("max_auth"),
    ).first()
    print(
        json.dumps(
            {
                "stage": "hits_10m_edges",
                "n_edges": 10_000_000,
                "n_nodes": hstats["n"],
                "n_iter": 2,
                "wall_s": round(time.time() - t0, 1),
                "max_scores_unit": hstats["max_hub"] == 1.0
                and hstats["max_auth"] == 1.0,
            }
        ),
        flush=True,
    )

    # --- full curation chain on a 20M-doc synthetic corpus ---
    # The mix-rebalancing tail of a training-data pipeline as ONE DAG:
    # temperature mixing (rates derived from per-source counts) ->
    # per-source caps (WindowGroupLimit-pruned rank) -> deterministic
    # shard/order export. Exponential source sizes (source k holds
    # ~2^k-sized slices of each 1M-row block: ~21 sources spanning
    # 19 docs to ~10M) so the chain runs against real skew.
    from dbscan_pyspark_spark.operators.pipeline import (
        shard_order,
        temperature_sample,
    )

    n_cur = 20_000_000
    cur = spark.range(n_cur).select(
        F.col("id").alias("doc_id"),
        F.concat(
            F.lit("s"),
            F.floor(F.log2(F.col("id") % 1_048_576 + 1)).cast("string"),
        ).alias("source"),
        (F.col("id") % 4096).alias("n_chars"),
    )
    t0 = time.time()
    mixed = temperature_sample(cur, per_source_target=200_000)
    capped = source_cap(mixed, cap=150_000, score_col="n_chars")
    exported = shard_order(capped.drop("src_rank"), n_shards=64)
    cur_stats = exported.agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("source").alias("n_sources"),
        F.countDistinct("shard").alias("n_shards"),
    ).first()
    print(
        json.dumps(
            {
                "stage": "curation_chain_20m",
                "n_docs_in": n_cur,
                "n_docs_out": cur_stats["n"],
                "n_sources": cur_stats["n_sources"],
                "n_shards": cur_stats["n_shards"],
                "wall_s": round(time.time() - t0, 1),
            }
        ),
        flush=True,
    )

    # --- waterfill budget split + apply over the same skewed corpus ---
    # The data-mixing pair at scale: the allocation runs on the
    # ~21-row source relation (driver-free closed form), the apply is
    # one source-partitioned window over 20M docs — the skewed mega
    # source (~10M docs) exercises the single-partition-per-source
    # regime the greedy prefix has to survive.
    from dbscan_pyspark_spark.operators.pipeline import (
        apply_allocation,
        budget_waterfill,
    )

    wf_budget = 2_000_000_000  # ~ half the corpus token mass
    t0 = time.time()
    wf_avail = cur.groupBy("source").agg(
        F.sum("n_chars").cast("long").alias("avail")
    )
    wf_alloc = budget_waterfill(wf_avail, wf_budget)
    picked = apply_allocation(
        cur, wf_alloc, token_count_col="n_chars"
    )
    wf_stats = (
        picked.join(F.broadcast(wf_alloc), "source")
        .groupBy("source", "alloc")
        .agg(F.sum("n_tokens").alias("kept"))
        .agg(
            F.count(F.lit(1)).alias("n_sources"),
            F.sum("kept").alias("total_kept"),
            F.max(F.col("kept") > F.col("alloc")).alias("overshoot"),
        )
        .first()
    )
    assert not wf_stats["overshoot"], wf_stats
    assert wf_stats["total_kept"] <= wf_budget, wf_stats
    print(
        json.dumps(
            {
                "stage": "waterfill_apply_20m",
                "n_docs": n_cur,
                "budget": wf_budget,
                "total_kept": wf_stats["total_kept"],
                "n_sources": wf_stats["n_sources"],
                "wall_s": round(time.time() - t0, 1),
            }
        ),
        flush=True,
    )

    # --- mega-source apply_allocation at 50M docs (90% one source) ---
    # The 100 TB regime the chunked two-phase exists for: one crawl
    # holding ~90% of the corpus. Auto mode must route it through the
    # (source, chunk) windows — plan-asserted: no single-task sort of
    # the hot source — while conserving the never-overshoot contract.
    n_mega = 50_000_000
    mega_docs = spark.range(n_mega).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 10 < 9, F.lit("mega"))
        .otherwise(F.concat(F.lit("s"), (F.col("id") % 16).cast("string")))
        .alias("source"),
        (F.col("id") % 4096).alias("n_chars"),
    )
    t0 = time.time()
    mg_avail = mega_docs.groupBy("source").agg(
        F.sum("n_chars").cast("long").alias("avail")
    )
    mg_budget = 40_000_000_000
    mg_alloc = budget_waterfill(mg_avail, mg_budget)
    mg_picked = apply_allocation(
        mega_docs, mg_alloc, token_count_col="n_chars"
    )
    mg_plan = mg_picked._jdf.queryExecution().executedPlan().toString()
    # the hot side's windows carry the chunk key
    assert "_c" in mg_plan, "mega source did not take the chunked path"
    mg_stats = (
        mg_picked.join(F.broadcast(mg_alloc), "source")
        .groupBy("source", "alloc")
        .agg(F.sum("n_tokens").alias("kept"))
        .agg(
            F.count(F.lit(1)).alias("n_sources"),
            F.sum("kept").alias("total_kept"),
            F.max(F.col("kept") > F.col("alloc")).alias("overshoot"),
        )
        .first()
    )
    assert not mg_stats["overshoot"], mg_stats
    assert mg_stats["total_kept"] <= mg_budget, mg_stats
    print(
        json.dumps(
            {
                "stage": "waterfill_apply_mega_50m",
                "n_docs": n_mega,
                "budget": mg_budget,
                "total_kept": mg_stats["total_kept"],
                "n_sources": mg_stats["n_sources"],
                "wall_s": round(time.time() - t0, 1),
            }
        ),
        flush=True,
    )

    t0 = time.time()
    n_cells = embedding_covariance(emb, scale=10).count()
    print(
        json.dumps(
            {
                "stage": "covariance_1m",
                "n_vectors": N_POINTS,
                "dim": 64,
                "wall_s": round(time.time() - t0, 1),
                "n_cells": n_cells,
            }
        ),
        flush=True,
    )
    # --- Misra-Gries heavy hitters at 40M rows, near-unique tail ---
    # 5 planted hot keys carry ~30% of the mass; the tail draws from a
    # 100M-key domain (~28M distinct over these rows), so map-side
    # combine compresses nothing and the exact diagnostic shuffles
    # ~every row, while the sketch shuffles <= (k+1) per partition.
    # With exact_recount=True the outputs must be IDENTICAL (the MG
    # guarantee made deterministic). Measured on local[32]: sketch
    # 11.0 s vs exact 19.8 s here; at a 1M-key (compressible) tail the
    # exact JVM groupBy wins instead (8.5 s vs 12.8 s) — the sketch is
    # the wide-domain lever, not a universal replacement (BASELINE.md
    # late-additions).
    from dbscan_pyspark_spark.operators.pipeline import approx_top_k

    n_hh = 40_000_000
    hh_k = 20
    kh = F.abs(F.xxhash64(F.col("id"), F.lit("hh")))
    # independent hash for the hot-key id: kh % 10 < 3 constrains
    # kh % 5 to {0,1,2}, which would silently plant only 3 hot keys
    hot_id = F.abs(F.xxhash64(F.col("id"), F.lit("hotid"))) % 5
    keys = spark.range(n_hh).select(
        F.when(kh % 10 < 3, F.concat(F.lit("hot"), hot_id.cast("string")))
        .otherwise(
            F.concat(F.lit("k"), (kh % 100_000_000).cast("string"))
        )
        .alias("key")
    )
    t0 = time.time()
    sketch_rows = sorted(
        (r["value"], r["n_occurrences"])
        for r in approx_top_k(
            keys, "key", k=hh_k, exact_recount=True
        ).collect()
    )
    sketch_wall = round(time.time() - t0, 1)
    t0 = time.time()
    exact_counts = keys.groupBy("key").agg(F.count(F.lit(1)).alias("n"))
    exact_rows = sorted(
        (r["key"], r["n"])
        for r in exact_counts.where(
            F.col("n") * (hh_k + 1) > n_hh
        ).collect()
    )
    exact_wall = round(time.time() - t0, 1)
    assert sketch_rows == exact_rows, (sketch_rows, exact_rows)
    print(
        json.dumps(
            {
                "stage": "heavy_hitters_40m",
                "n_rows": n_hh,
                "k": hh_k,
                "n_heavy": len(sketch_rows),
                "sketch_recount_wall_s": sketch_wall,
                "exact_groupby_wall_s": exact_wall,
                "outputs_identical": True,
            }
        ),
        flush=True,
    )
    # --- exact KS drift at 40M rows, 1M-value grid, planted 0.001 shift ---
    from dbscan_pyspark_spark.operators.pipeline import ks_drift

    n_ks = 40_000_000
    grid = 1_000_000
    shift = 1_000
    rows = spark.range(n_ks).select(
        (
            F.pmod(F.xxhash64(F.col("id"), F.lit("ksv")), F.lit(grid))
            # side B (odd ids) shifted up by `shift`: for a uniform
            # grid the true D is shift/grid = 0.001
            + F.when(F.col("id") % 2 == 1, F.lit(shift)).otherwise(F.lit(0))
        ).alias("v"),
        (F.col("id") % 2).alias("side"),
    )
    t0 = time.time()
    ks = ks_drift(
        rows.where(F.col("side") == 0),
        rows.where(F.col("side") == 1),
        "v",
    ).collect()[0]
    assert ks["n_a"] == n_ks // 2 and ks["n_b"] == n_ks // 2
    assert 0.0005 < ks["ks_stat"] < 0.002, ks["ks_stat"]
    print(
        json.dumps(
            {
                "stage": "ks_drift_40m",
                "n_rows": n_ks,
                "value_grid": grid,
                "planted_D": shift / grid,
                "ks_stat": ks["ks_stat"],
                "wall_s": round(time.time() - t0, 1),
            }
        ),
        flush=True,
    )

    # --- boilerplate strip at 2M docs, planted 4-token banner in 30% ---
    from dbscan_pyspark_spark.operators.dedup import strip_frequent_segments

    n_docs_bp = 2_000_000
    body = F.format_string(
        "a%1$d b%1$d c%1$d d%1$d e%1$d f%1$d g%1$d h%1$d i%1$d j%1$d"
        " k%1$d l%1$d",
        F.col("id"),
    )  # 12 unique-per-doc tokens -> every body segment has df = 1
    banner = "terms of service apply"  # one aligned 4-token segment
    docs_bp = spark.range(n_docs_bp).select(
        F.col("id").alias("doc_id"),
        F.when(
            F.col("id") % 10 < 3, F.concat_ws(" ", F.lit(banner), body)
        )
        .otherwise(body)
        .alias("text"),
    )
    n_planted = sum(1 for i in range(10) if i < 3) * (n_docs_bp // 10)
    t0 = time.time()
    stats = (
        strip_frequent_segments(
            docs_bp, max_doc_freq=100, seg_tokens=4
        )
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_dropped").alias("dropped"),
        )
        .collect()[0]
    )
    assert stats["n_docs"] == n_docs_bp
    assert stats["dropped"] == n_planted, stats["dropped"]
    print(
        json.dumps(
            {
                "stage": "boilerplate_strip_2m",
                "n_docs": n_docs_bp,
                "n_planted_banners": n_planted,
                "n_dropped": stats["dropped"],
                "wall_s": round(time.time() - t0, 1),
            }
        ),
        flush=True,
    )

    # --- semantic dedup at 200k vectors (100k exact-duplicate pairs) ---
    from dbscan_pyspark_spark.operators.similarity import semantic_dedup

    n_sem = 200_000
    dim_sem = 64
    vecs = spark.range(n_sem).select(
        F.col("id").alias("vec_id"),
        F.transform(
            F.sequence(F.lit(0), F.lit(dim_sem - 1)),
            # ids 2c and 2c+1 share the concept c -> identical vectors
            # (cos = 1.0, found at ANY threshold/recall); at 64-d the
            # chance of two random concepts passing cos > 0.95 is
            # ~1e-14 per pair, so groups are exactly the planted pairs
            lambda i: F.pmod(
                F.xxhash64((F.col("id") / 2).cast("long") * dim_sem + i),
                F.lit(2001),
            )
            - 1000,
        ).alias("qemb"),
    )
    t0 = time.time()
    # banding MUST be sized to the corpus: buckets-per-band =
    # 2^rows_per_band, so the default 16/4 (fine for the 500-vector
    # contract query) leaves 16 buckets for 200k vectors -> ~12.5k
    # occupancy -> ~3e8 candidate pairs; measured 4134 s. Sized to
    # 64/16 (65k buckets per band) the same run is 35 s — a 117×
    # lever from one parameter (recall for EXACT dups is 1.0 at any
    # banding: identical vectors share every signature).
    surv = semantic_dedup(
        vecs,
        threshold=0.95,
        vec_col="qemb",
        plane_scale=1000,
        n_planes=64,
        rows_per_band=16,
    )
    agg = surv.agg(
        F.count(F.lit(1)).alias("n"),
        F.min("dup_group_size").alias("mn"),
        F.max("dup_group_size").alias("mx"),
    ).collect()[0]
    assert (agg["n"], agg["mn"], agg["mx"]) == (n_sem // 2, 2, 2), agg
    print(
        json.dumps(
            {
                "stage": "semantic_dedup_200k",
                "n_vectors": n_sem,
                "dim": dim_sem,
                "n_survivors": agg["n"],
                "wall_s": round(time.time() - t0, 1),
            }
        ),
        flush=True,
    )

    # --- constrained k-member at 1M points (deterministic twin) ---
    from dbscan_pyspark_spark.operators.kmember import kmember_quantized

    n_km = 1_000_000
    km_pts = spark.range(n_km).select(
        F.col("id"),
        F.array(
            *[
                (
                    F.pmod(F.abs(F.xxhash64("id")), F.lit(8)) * 100
                    + F.pmod(F.abs(F.xxhash64(F.col("id") + d + 1)), F.lit(21))
                ).cast("double")
                for d in range(3)
            ]
        ).alias("features"),
    )
    t0 = time.time()
    km = kmember_quantized(
        km_pts, k=500, n_clusters=16, n_iter=2, repair_rounds=3,
        scale=None,
    )
    km_agg = (
        km.groupBy("cluster")
        .agg(F.count(F.lit(1)).alias("n"))
        .agg(
            F.sum("n").alias("total"),
            F.min("n").alias("mn"),
            F.count(F.lit(1)).alias("n_clusters"),
        )
        .collect()[0]
    )
    # gate the CONSTRAINT, not just conservation: every surviving
    # cluster must hold >= k members after the fixed repair rounds
    # (cluster count is data-dependent — empty clusters drop out)
    assert km_agg["total"] == n_km and km_agg["mn"] >= 500, km_agg
    print(
        json.dumps(
            {
                "stage": "kmember_quantized_1m",
                "n_points": n_km,
                "n_clusters": km_agg["n_clusters"],
                "min_cluster_size": km_agg["mn"],
                "k_constraint": 500,
                "wall_s": round(time.time() - t0, 1),
            }
        ),
        flush=True,
    )

    # --- duplicated spans at 2M docs (planted 12-token spans) ---
    from dbscan_pyspark_spark.operators.dedup import duplicated_spans

    n_span_docs = 2_000_000
    doc_tokens = 30
    planted_frac_mod = 50  # id % 50 < 5 -> 10% of docs planted
    # 30 alnum tokens per doc from a ~1e12 vocab (random 10-gram
    # collisions impossible); planted docs overwrite tokens [9, 21)
    # with one of 5 shared phrases -> anchors at 9,10,11 with k=10,
    # i.e. exactly one maximal span (start 9, len 12) per planted doc
    planted = F.pmod("id", F.lit(planted_frac_mod)) < 5
    span_docs = spark.range(n_span_docs).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(
            " ",
            F.transform(
                F.sequence(F.lit(0), F.lit(doc_tokens - 1)),
                lambda j: F.when(
                    planted & j.between(9, 20),
                    F.concat(
                        F.lit("d"),
                        F.pmod("id", F.lit(5)).cast("string"),
                        F.lit("x"),
                        j.cast("string"),
                    ),
                ).otherwise(
                    F.concat(
                        F.lit("w"),
                        F.pmod(
                            F.xxhash64(F.col("id") * 37 + j),
                            F.lit(10**12),
                        ).cast("string"),
                    )
                ),
            ),
        ).alias("text"),
    )
    t0 = time.time()
    spans = duplicated_spans(span_docs, k=10)
    span_agg = spans.agg(
        F.count(F.lit(1)).alias("n"),
        F.min("span_start").alias("mn_s"),
        F.max("span_start").alias("mx_s"),
        F.min("span_len").alias("mn_l"),
        F.max("span_len").alias("mx_l"),
    ).collect()[0]
    n_planted_spans = n_span_docs // planted_frac_mod * 5
    assert (
        span_agg["n"],
        span_agg["mn_s"],
        span_agg["mx_s"],
        span_agg["mn_l"],
        span_agg["mx_l"],
    ) == (n_planted_spans, 9, 9, 12, 12), span_agg
    print(
        json.dumps(
            {
                "stage": "dup_spans_2m",
                "n_docs": n_span_docs,
                "n_grams": n_span_docs * (doc_tokens - 9),
                "n_spans": span_agg["n"],
                "wall_s": round(time.time() - t0, 1),
            }
        ),
        flush=True,
    )

    # --- simhash pigeonhole near-dup pairs at 1M docs ---
    # 5000 planted exact-duplicate pairs (ids 2k/2k+1 share text) in a
    # sea of unique docs. Unrelated fingerprints are ~uniform 64-bit,
    # so P(random pair within hamming 3) ~ 2.4e-15 — the expected
    # false-pair count over 5e11 pairs is ~1e-3, hence the EXACT
    # equality assert. The real load is the block join's candidate
    # stream (4 x 16-bit blocks over 1M docs -> ~2^4 x bucket-size
    # candidates) and the 64-position Hamming verify on each.
    from dbscan_pyspark_spark.operators.dedup import simhash_near_dups

    n_sh = 1_000_000
    planted_pair = F.col("id") < 10_000
    base_id = F.when(planted_pair, (F.col("id") / 2).cast("long") * 2).otherwise(
        F.col("id")
    )
    sh_docs = spark.range(n_sh).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(
            " ",
            F.transform(
                F.sequence(F.lit(0), F.lit(29)),
                lambda j: F.concat(
                    F.lit("w"),
                    F.pmod(
                        F.xxhash64(base_id * 37 + j, F.lit("sh")),
                        F.lit(10**12),
                    ).cast("string"),
                ),
            ),
        ).alias("text"),
    )
    t0 = time.time()
    sh_pairs = simhash_near_dups(sh_docs, max_hamming=3)
    sh_agg = sh_pairs.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("hamming") == 0, 1).otherwise(0)).alias("n_h0"),
        F.max("hamming").alias("mx"),
    ).first()
    assert (sh_agg["n"], sh_agg["n_h0"]) == (5000, 5000), sh_agg
    print(
        json.dumps(
            {
                "stage": "simhash_pairs_1m",
                "n_docs": n_sh,
                "n_planted_pairs": 5000,
                "n_pairs": sh_agg["n"],
                "wall_s": round(time.time() - t0, 1),
            }
        ),
        flush=True,
    )

    # --- BM25 retrieval over a 2M-doc corpus ---
    # Words come from a closed arithmetic vocab ("w" + (base*31+j) mod
    # 100k) so probe terms are computable here; doc 0 is planted with
    # ten copies of an out-of-vocab needle term and doc 1 with one —
    # the needle probe must return exactly [doc 0, doc 1] in that
    # order (tf 10 at dl 40 outscores tf 1 at dl 31 for every sane
    # k1/b; no other doc contains the term). The
    # load is the index build: 60M token rows -> (doc, term) tf agg ->
    # term-keyed df agg.
    from dbscan_pyspark_spark.operators.search import bm25_topk

    n_bm = 2_000_000
    filler = F.concat_ws(
        " ",
        F.transform(
            F.sequence(F.lit(0), F.lit(29)),
            lambda j: F.concat(
                F.lit("w"),
                F.pmod(F.col("id") * 31 + j, F.lit(100_000)).cast("string"),
            ),
        ),
    )
    needles = F.when(
        F.col("id") == 0,
        F.concat_ws(" ", *([F.lit("xneedlex")] * 10)),
    ).when(F.col("id") == 1, F.lit("xneedlex"))
    bm_docs = spark.range(n_bm).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(" ", needles, filler).alias("text"),
    )
    probes = spark.createDataFrame(
        [(0, "xneedlex"), (1, "w7 w777 w77777"), (2, "w31 w62")],
        "query_id int, query_text string",
    )
    t0 = time.time()
    bm = bm25_topk(bm_docs, probes, k=5)
    rows = bm.collect()
    needle_hits = sorted(
        ((r.rank, r.doc_id) for r in rows if r.query_id == 0)
    )
    assert needle_hits == [(1, 0), (2, 1)], needle_hits
    per_q = {qid: sorted(r.rank for r in rows if r.query_id == qid) for qid in (1, 2)}
    assert per_q == {1: [1, 2, 3, 4, 5], 2: [1, 2, 3, 4, 5]}, per_q
    print(
        json.dumps(
            {
                "stage": "bm25_2m",
                "n_docs": n_bm,
                "n_token_rows": n_bm * 30,
                "wall_s": round(time.time() - t0, 1),
            }
        ),
        flush=True,
    )

    # --- sorted-neighborhood pairs at 2M docs ---
    # 5000 planted pairs (ids 2k/2k+1 share every word except the
    # 26th, far past the 64-char sort-key prefix) are adjacent in the
    # sorted order with identical truncated keys -> dist 0; unrelated
    # neighbors differ in their first word w.h.p. The load is the
    # two-phase global rank (range repartition + offsets) and the
    # 4M-candidate levenshtein verify.
    from dbscan_pyspark_spark.operators.dedup import sorted_neighborhood_pairs
    from dbscan_pyspark_spark.functions.text import normalized

    n_sn = 2_000_000
    sn_pair = F.col("id") < 10_000
    sn_base = F.when(sn_pair, (F.col("id") / 2).cast("long") * 2).otherwise(
        F.col("id")
    )
    sn_docs = spark.range(n_sn).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(
            " ",
            F.transform(
                F.sequence(F.lit(0), F.lit(29)),
                lambda j: F.concat(
                    F.lit("w"),
                    F.pmod(
                        F.when(
                            (j == F.lit(25)) & sn_pair & (F.col("id") % 2 == 1),
                            F.xxhash64(F.col("id"), F.lit("alt")),
                        ).otherwise(F.xxhash64(sn_base * 37 + j, F.lit("sn"))),
                        F.lit(10**12),
                    ).cast("string"),
                ),
            ),
        ).alias("text"),
    )
    t0 = time.time()
    sn = sorted_neighborhood_pairs(
        sn_docs,
        window=2,
        key_expr=F.substring(normalized("text"), 1, 64),
    )
    sn_agg = sn.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum((F.col("dist") == 0).cast("long")).alias("n_d0"),
    ).first()
    assert sn_agg["n"] == 2 * n_sn - 3, sn_agg
    assert sn_agg["n_d0"] == 5000, sn_agg
    print(
        json.dumps(
            {
                "stage": "snm_pairs_2m",
                "n_docs": n_sn,
                "n_candidates": sn_agg["n"],
                "n_planted_found": sn_agg["n_d0"],
                "wall_s": round(time.time() - t0, 1),
            }
        ),
        flush=True,
    )

    # --- label propagation on a 2M-node planted-community graph ---
    # 200k blocks of 10 nodes, each a hub-star + ring (18 intra-block
    # edges, no inter-block edges): 3 synchronous rounds must label
    # every block homogeneously with its minimum id. Load: 3 rounds x
    # (3.6M-edge neighbor join + mode aggregate) over 2M labels.
    from dbscan_pyspark_spark.operators.components import label_propagation

    n_lp = 2_000_000
    block = (F.col("id") / 10).cast("long") * 10
    lp_star = spark.range(n_lp).where(F.col("id") % 10 != 0).select(
        block.alias("src"), F.col("id").alias("dst")
    )
    lp_ring = spark.range(n_lp).select(
        F.col("id").alias("src"),
        F.when(F.col("id") % 10 == 9, block).otherwise(F.col("id") + 1).alias("dst"),
    )
    t0 = time.time()
    lp = label_propagation(lp_star.union(lp_ring), n_iter=3)
    lp_agg = lp.agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("community").alias("n_comm"),
        F.sum(
            (F.col("community") == (F.col("node") / 10).cast("long") * 10)
            .cast("long")
        ).alias("n_home"),
    ).first()
    assert lp_agg["n"] == n_lp, lp_agg
    assert lp_agg["n_comm"] == n_lp // 10, lp_agg
    assert lp_agg["n_home"] == n_lp, lp_agg
    print(
        json.dumps(
            {
                "stage": "label_prop_2m",
                "n_nodes": n_lp,
                "n_edges_directed": int(n_lp * 0.9 + n_lp),
                "n_iter": 3,
                "wall_s": round(time.time() - t0, 1),
            }
        ),
        flush=True,
    )

    # --- BPE induction over a 2M-doc corpus, 8192 merge rounds ---
    # 100k-word closed vocab ("w" + digits): the corpus collapses to
    # the word-frequency relation in one pass, then auto mode picks
    # the DRIVER merge loop (|V| = 100k <= driver_max_words) —
    # incremental pair counts + lazy argmax heap, so a production-
    # scale vocabulary (8192 merges here; 32k is the same regime)
    # costs one Spark pass + seconds of local iteration, not 8192
    # sequential Spark jobs. Digit-pair merges must dominate: every
    # word is 'w' + ~uniform digits, so the top merges are digit-digit
    # or w-digit pairs; assert the table is full-length and ranks
    # contiguous (counts can rise as merges create new pairs, so
    # assert only shape + ranks).
    from dbscan_pyspark_spark.operators.tokenize import bpe_learn

    n_bpe = 2_000_000
    n_bpe_merges = 8192
    bpe_docs = spark.range(n_bpe).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(
            " ",
            F.transform(
                F.sequence(F.lit(0), F.lit(29)),
                lambda j: F.concat(
                    F.lit("w"),
                    F.pmod(F.col("id") * 31 + j, F.lit(100_000)).cast(
                        "string"
                    ),
                ),
            ),
        ).alias("text"),
    )
    t0 = time.time()
    bpe = bpe_learn(
        bpe_docs, n_merges=n_bpe_merges, min_pair_count=2
    ).collect()
    assert len(bpe) == n_bpe_merges, len(bpe)
    assert [r["rank"] for r in sorted(bpe, key=lambda r: r["rank"])] == list(
        range(n_bpe_merges)
    )
    assert all(r["pair_count"] >= 2 for r in bpe)
    print(
        json.dumps(
            {
                "stage": "bpe_learn_2m",
                "n_docs": n_bpe,
                "n_merges": n_bpe_merges,
                "top_merge": bpe[0]["left"] + "+" + bpe[0]["right"],
                "top_count": bpe[0]["pair_count"],
                "wall_s": round(time.time() - t0, 1),
            }
        ),
        flush=True,
    )

    # --- degenerate-bucket guard: a planted 50k-copy clique ---
    # 50k identical docs + 200k unique background docs. Without the
    # identical-content contraction the clique fills one LSH bucket
    # per band (and one pigeonhole block bucket per block): the band
    # self-join alone is C(50k,2) x n_bands ~ 5e9 candidate rows
    # through distinct + verification joins. With the guard the clique
    # is ONE signature in the band join; the quadratic part is only
    # the final pair expansion (the output's own semantics), produced
    # by one equi-join and streamed through count(). Both operators
    # must return EXACTLY the clique's C(50k,2) pairs (minhash: the
    # unique background texts share no shingles at threshold 0.5;
    # simhash may add accidental <=3-Hamming background pairs, so >=).
    from dbscan_pyspark_spark.operators.dedup import (
        minhash_near_dup_pairs,
        simhash_near_dups,
    )

    n_clique, n_bg = 50_000, 200_000
    clique = spark.range(n_clique).select(
        F.col("id").alias("doc_id"),
        F.lit(
            "the quick brown fox jumps over the lazy dog while seven "
            "wizards brew strong coffee at dawn near the old harbor wall"
        ).alias("text"),
    )
    bg = spark.range(n_bg).select(
        (F.col("id") + n_clique).alias("doc_id"),
        F.concat_ws(
            " ",
            F.transform(
                F.sequence(F.lit(0), F.lit(19)),
                lambda j: F.concat(
                    F.lit("tok"),
                    F.pmod(
                        F.xxhash64((F.col("id") + n_clique) * 37 + j),
                        F.lit(1_000_000_000),
                    ).cast("string"),
                ),
            ),
        ).alias("text"),
    )
    dup_docs = clique.unionByName(bg)
    expected_pairs = n_clique * (n_clique - 1) // 2
    t0 = time.time()
    n_mh = minhash_near_dup_pairs(dup_docs, threshold=0.5).count()
    t_mh = time.time() - t0
    assert n_mh == expected_pairs, (n_mh, expected_pairs)
    t0 = time.time()
    n_sh2 = simhash_near_dups(dup_docs, max_hamming=3).count()
    t_sh2 = time.time() - t0
    assert n_sh2 >= expected_pairs, (n_sh2, expected_pairs)
    print(
        json.dumps(
            {
                "stage": "planted_clique_dedup_250k",
                "n_docs": n_clique + n_bg,
                "clique": n_clique,
                "minhash_pairs": n_mh,
                "simhash_pairs": n_sh2,
                "minhash_wall_s": round(t_mh, 1),
                "simhash_wall_s": round(t_sh2, 1),
            }
        ),
        flush=True,
    )

    # --- phrase search over a 2M-doc corpus ---
    # Phrase "alpha bravo charlie" is planted ONCE in every doc with
    # id % 200 == 0 (10k docs), spliced between filler words; a decoy
    # "alpha bravo" prefix (without charlie) is planted in id % 200 ==
    # 1 docs to prove anchor-votes don't fire on partial matches. The
    # load is the broadcast slot join over 60M token rows and the
    # anchor-vote aggregate.
    from dbscan_pyspark_spark.operators.search import phrase_search

    n_ph = 2_000_000
    ph_fill = F.transform(
        F.sequence(F.lit(0), F.lit(27)),
        lambda j: F.concat(
            F.lit("w"),
            F.pmod(F.col("id") * 31 + j, F.lit(100_000)).cast("string"),
        ),
    )
    ph_docs = spark.range(n_ph).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(
            " ",
            F.slice(ph_fill, 1, 14),
            F.when(F.col("id") % 200 == 0, F.lit("alpha bravo charlie"))
            .when(F.col("id") % 200 == 1, F.lit("alpha bravo delta"))
            .otherwise(F.lit("")),
            F.slice(ph_fill, 15, 14),
        ).alias("text"),
    )
    ph_probes = spark.createDataFrame(
        [(0, "alpha bravo charlie"), (1, "alpha bravo")],
        "phrase_id int, phrase_text string",
    )
    t0 = time.time()
    ph = phrase_search(ph_docs, ph_probes)
    ph_agg = ph.groupBy("phrase_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_occurrences").alias("n_occ"),
    )
    ph_stats = {r["phrase_id"]: (r["n_docs"], r["n_occ"]) for r in ph_agg.collect()}
    assert ph_stats[0] == (n_ph // 200, n_ph // 200), ph_stats
    assert ph_stats[1] == (n_ph // 100, n_ph // 100), ph_stats
    print(
        json.dumps(
            {
                "stage": "phrase_search_2m",
                "n_docs": n_ph,
                "n_matches_full": ph_stats[0][0],
                "n_matches_prefix": ph_stats[1][0],
                "wall_s": round(time.time() - t0, 1),
            }
        ),
        flush=True,
    )

    # --- kNN graph over 200k vectors with DEFAULT parameters ---
    # The knn-graph candidate volume is sum over queries of
    # nprobe x |cell| — QUADRATIC within cells — so cells must grow
    # with n. n_cells now defaults to "auto" (one count job ->
    # ceil(n/512) cells, here 391), which is exactly the configuration
    # that died in round 8 when cells were manual: 8 cells at 200k
    # vectors planned 1e10 scored pairs and was killed. Corpus-sized
    # query side goes through the cell-keyed shuffle join
    # (broadcast_probes=False); every vector must emit <= k self-free
    # edges.
    from dbscan_pyspark_spark.operators.similarity import ivf_knn_graph

    n_kg = N_VECS
    blob = F.col("id") % 8
    kg_vecs = spark.range(n_kg).select(
        F.col("id").alias("vec_id"),
        F.transform(
            F.sequence(F.lit(0), F.lit(15)),
            lambda j: (
                (blob * 100).cast("double")
                + (F.abs(F.xxhash64("id", j.cast("string"))) % 21 - 10)
            ),
        ).alias("embedding"),
    )
    t0 = time.time()
    kg = ivf_knn_graph(kg_vecs, k=5, nprobe=2, n_iter=2)
    kg_agg = kg.agg(
        F.count(F.lit(1)).alias("n_edges"),
        F.sum((F.col("src") == F.col("dst")).cast("long")).alias("n_self"),
        F.max("rank").alias("max_rank"),
        F.countDistinct("src").alias("n_src"),
    ).first()
    assert kg_agg["n_self"] == 0 and kg_agg["max_rank"] <= 5, kg_agg
    assert kg_agg["n_src"] == n_kg, kg_agg
    print(
        json.dumps(
            {
                "stage": "knn_graph_200k_auto",
                "n_vectors": n_kg,
                "n_edges": kg_agg["n_edges"],
                "wall_s": round(time.time() - t0, 1),
            }
        ),
        flush=True,
    )

    # --- two-level IVF at N_2L vectors with PURE DEFAULTS ---
    # The regime past _FLAT_MAX_CELLS: auto_n_cells(5M) = 9766 > 4096,
    # so n_cells='auto' must route to the hierarchical quantizer
    # (k1 = k2 = 99) — a single-level literal/argmin here would embed
    # a 9766-entry plan literal and evaluate 9766 distances per row.
    # Asserts the verdict-r9 'done' bar: per-cell population held near
    # the 512 target (mean exactly n/used; tail bounded), probes
    # return sane top-k.
    from dbscan_pyspark_spark.operators.similarity import (
        _FLAT_MAX_CELLS,
        auto_n_cells,
        ivf_fit_two_level,
        ivf_quantized_topk,
    )

    n_2l = N_2L_VECS
    resolved = auto_n_cells(n_2l)
    assert resolved > _FLAT_MAX_CELLS, (n_2l, resolved)
    blob2 = F.col("id") % 64
    tl_vecs = spark.range(n_2l).select(
        F.col("id").alias("vec_id"),
        F.transform(
            F.sequence(F.lit(0), F.lit(15)),
            lambda j: (
                (blob2 * 40).cast("double")
                + (F.abs(F.xxhash64("id", j.cast("string"))) % 21 - 10)
            ),
        ).alias("embedding"),
    )
    t0 = time.time()
    # exactly what ivf_quantized_topk(n_cells="auto", model=None)
    # resolves to at this corpus size; fit explicitly so the cell
    # population is assertable without training twice
    model = ivf_fit_two_level(tl_vecs, resolved, n_iter=2)
    fit_s = time.time() - t0
    pops = model.assign.groupBy("cluster").count()
    pop = pops.agg(
        F.count(F.lit(1)).alias("used"),
        F.sum("count").alias("n"),
        F.max("count").alias("max_pop"),
        F.expr("percentile_approx(count, 0.5)").alias("p50"),
        F.expr("percentile_approx(count, 0.9)").alias("p90"),
    ).first()
    assert pop["n"] == n_2l, pop
    assert pop["used"] >= resolved // 2, pop
    mean_pop = pop["n"] / pop["used"]
    assert mean_pop <= 2 * 512, pop
    assert pop["p90"] <= 8 * 512, pop
    assert pop["max_pop"] <= 50 * 512, pop

    t1 = time.time()
    tl_qs = tl_vecs.where(F.col("vec_id") % (n_2l // 2000) == 0)
    nn2 = ivf_quantized_topk(tl_vecs, tl_qs, k=5, n_cells="auto", model=model)
    nn2_agg = nn2.agg(
        F.count(F.lit(1)).alias("rows"),
        F.countDistinct("query_id").alias("n_q"),
        F.sum((F.col("query_id") == F.col("vec_id")).cast("long")).alias(
            "n_self"
        ),
        F.max("rank").alias("max_rank"),
        F.min("score").alias("min_score"),
    ).first()
    assert nn2_agg["n_self"] == 0 and nn2_agg["max_rank"] <= 5, nn2_agg
    assert nn2_agg["n_q"] >= 1900, nn2_agg
    # same-blob neighbors dominate: quantized cosine of same-blob
    # vectors stays high (noise is +-10 on a 40*blob+ offset base)
    print(
        json.dumps(
            {
                "stage": "ivf_two_level_5m_auto",
                "n_vectors": n_2l,
                "n_cells": resolved,
                "k1": model.k1,
                "k2": model.k2,
                "cells_used": pop["used"],
                "mean_pop": round(mean_pop, 1),
                "p50_pop": pop["p50"],
                "p90_pop": pop["p90"],
                "max_pop": pop["max_pop"],
                "topk_rows": nn2_agg["rows"],
                "fit_wall_s": round(fit_s, 1),
                "probe_wall_s": round(time.time() - t1, 1),
            }
        ),
        flush=True,
    )

    # --- skewed 10M-doc corpus: SNM + MinHash-LSH together ---
    # The regime where the degenerate-bucket guard and linear blocking
    # earn their keep: a Zipf-skewed background (6 hot z-tokens
    # interleaved with 6 unique u-tokens per doc — every 3-gram shingle
    # contains a unique token, so backgrounds share NO shingles while
    # the hot tokens still skew the token/shingle relations), one
    # 20k-copy exact-dup mega-clique, and 2000 planted near-dup
    # clusters of 20 docs (19 shared tokens + 1 of 4 variant tokens:
    # identical-variant pairs are exact dups, cross-variant Jaccard =
    # 15/21 ~ 0.71 >= the 0.6 threshold, caught at LSH recall).
    # Gates: SNM candidate count is EXACTLY 3n-6 (linear, skew can't
    # inflate a fixed-width neighborhood) with the clique's dist-0 run
    # found; MinHash output is clique pairs + [identical-variant
    # minimum, all-within-cluster maximum]. Measured: SNM 50 s,
    # minhash 167 s at 10M docs on local[32].
    from dbscan_pyspark_spark.functions.text import normalized
    from dbscan_pyspark_spark.operators.dedup import (
        sorted_neighborhood_pairs,
    )

    n_sk = N_SKEW_DOCS
    sk_clique, sk_nclust, sk_csize = 20_000, 2000, 20
    sid = F.col("id")
    sk_clique_txt = F.lit(
        "alpha beta gamma delta epsilon zeta eta theta iota kappa lam "
        "mu nu xi omicron pi rho sigma tau upsilon"
    )
    sk_cl = F.floor((sid - sk_clique) / sk_csize).cast("long")
    sk_member = (sid - sk_clique) % sk_csize
    sk_clust_txt = F.concat_ws(
        " ",
        F.transform(
            F.sequence(F.lit(0), F.lit(18)),
            lambda j: F.concat(
                F.lit("c"),
                F.pmod(
                    F.xxhash64(sk_cl, j.cast("string")), F.lit(10_000_000)
                ).cast("string"),
            ),
        ),
        F.concat(F.lit("v"), (sk_member % 4).cast("string")),
    )

    def _zipf_tok(j):
        h = F.pmod(F.xxhash64(sid, F.lit(j).cast("string")), F.lit(1024))
        return F.concat(
            F.lit("z"), ((h * h) / F.lit(1024)).cast("long").cast("string")
        )

    def _uniq_tok(j):
        return F.concat(
            F.lit("u"), sid.cast("string"), F.lit("x"), F.lit(str(j))
        )

    sk_bg_txt = F.concat_ws(
        " ",
        *[
            t
            for j in range(6)
            for t in (_zipf_tok(2 * j), _uniq_tok(2 * j + 1))
        ],
    )
    sk_docs = spark.range(n_sk).select(
        sid.alias("doc_id"),
        F.when(sid < sk_clique, sk_clique_txt)
        .when(sid < sk_clique + sk_nclust * sk_csize, sk_clust_txt)
        .otherwise(sk_bg_txt)
        .alias("text"),
    )

    t0 = time.time()
    snm = sorted_neighborhood_pairs(
        sk_docs, window=3, key_expr=F.substring(normalized("text"), 1, 32)
    )
    snm_agg = snm.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum((F.col("dist") == 0).cast("long")).alias("n0"),
    ).first()
    t_snm = time.time() - t0
    assert snm_agg["n"] == 3 * n_sk - 6, snm_agg
    assert snm_agg["n0"] >= 3 * sk_clique - 6, snm_agg

    t0 = time.time()
    n_mh2 = minhash_near_dup_pairs(sk_docs, threshold=0.6).count()
    t_mh2 = time.time() - t0
    sk_clique_pairs = sk_clique * (sk_clique - 1) // 2
    lo = sk_clique_pairs + sk_nclust * 4 * (5 * 4 // 2)
    hi = sk_clique_pairs + sk_nclust * (sk_csize * (sk_csize - 1) // 2)
    assert lo <= n_mh2 <= hi, (n_mh2, lo, hi)
    print(
        json.dumps(
            {
                "stage": "skewed_corpus_10m",
                "n_docs": n_sk,
                "snm_candidates": snm_agg["n"],
                "snm_dist0": snm_agg["n0"],
                "snm_wall_s": round(t_snm, 1),
                "minhash_pairs": n_mh2,
                "minhash_wall_s": round(t_mh2, 1),
            }
        ),
        flush=True,
    )

    # --- substring dedup on the same skewed 10M-doc corpus ---
    # The one dedup operator whose exchange is corpus-TOKEN-sized
    # (round-9 verdict item 6): every k-gram row shuffles once on its
    # fingerprint. On this corpus that is ~11 grams per clique/cluster
    # doc + 3 per background doc (~30M gram rows at 10M docs), with
    # the fingerprint distribution skewed exactly where the corpus is:
    # the 20k-copy clique sends 11 fingerprints x 20k rows each
    # through the count window. Exact expectations (k=10):
    #   clique doc (20 toks, all 20k identical): positions 0..10 all
    #     anchored -> one span (0, 20) per doc;
    #   cluster doc (19 shared + 1-of-4 variant): positions 0..9
    #     shared by all 20 members, position 10 by the 5 same-variant
    #     members -> one span (0, 20) per doc;
    #   background: every window holds a per-doc unique u-token ->
    #     no anchors.
    # keep_first=True exempts corpus-first grams (min (doc, pos)):
    #   clique doc 0 and each cluster's member 0 survive intact;
    #   cluster members 1-3 keep only their variant token (their
    #   position-10 gram is its variant's first occurrence, so the
    #   span stops at token 18); everything else strips fully.
    from dbscan_pyspark_spark.operators.dedup import (
        duplicated_spans,
        strip_duplicated_spans,
    )

    t0 = time.time()
    sk_spans = duplicated_spans(sk_docs, k=10)
    sk_span_agg = sk_spans.agg(
        F.count(F.lit(1)).alias("n"),
        F.min("span_start").alias("mn_s"),
        F.max("span_start").alias("mx_s"),
        F.min("span_len").alias("mn_l"),
        F.max("span_len").alias("mx_l"),
    ).first()
    t_spans = time.time() - t0
    n_dup_docs = sk_clique + sk_nclust * sk_csize
    assert (
        sk_span_agg["n"],
        sk_span_agg["mn_s"],
        sk_span_agg["mx_s"],
        sk_span_agg["mn_l"],
        sk_span_agg["mx_l"],
    ) == (n_dup_docs, 0, 0, 20, 20), sk_span_agg

    t0 = time.time()
    sk_clean = strip_duplicated_spans(sk_docs, k=10, keep_first=True)
    sk_clean_agg = sk_clean.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("n_dropped").alias("dropped"),
        F.sum((F.col("n_dropped") == F.col("n_tokens")).cast("long")).alias(
            "gone"
        ),
        F.sum((F.col("n_dropped") == 19).cast("long")).alias("partial"),
    ).first()
    t_strip = time.time() - t0
    exp_dropped = (sk_clique - 1) * 20 + sk_nclust * (3 * 19 + 16 * 20)
    assert sk_clean_agg["n"] == n_sk, sk_clean_agg
    assert sk_clean_agg["dropped"] == exp_dropped, sk_clean_agg
    assert sk_clean_agg["gone"] == (sk_clique - 1) + sk_nclust * 16, (
        sk_clean_agg
    )
    assert sk_clean_agg["partial"] == sk_nclust * 3, sk_clean_agg
    survivors = sorted(
        r["clean_text"]
        for r in sk_clean.where(F.col("n_dropped") == 19)
        .select("clean_text")
        .distinct()
        .collect()
    )
    assert survivors == ["v1", "v2", "v3"], survivors
    print(
        json.dumps(
            {
                "stage": "dup_spans_10m_zipf",
                "n_docs": n_sk,
                "n_grams": (n_sk - n_dup_docs) * 3 + n_dup_docs * 11,
                "n_spans": sk_span_agg["n"],
                "n_dropped_tokens": sk_clean_agg["dropped"],
                "spans_wall_s": round(t_spans, 1),
                "strip_keep_first_wall_s": round(t_strip, 1),
            }
        ),
        flush=True,
    )

    spark.stop()


if __name__ == "__main__":
    main()
