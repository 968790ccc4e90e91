import pytest
import math
import random

from pyspark.sql import functions as F

from dbscan_pyspark_spark.operators.similarity import cosine_topk, ivf_cosine_topk


def _cos(a, b):
    d = sum(x * y for x, y in zip(a, b))
    na = math.sqrt(sum(x * x for x in a))
    nb = math.sqrt(sum(x * x for x in b))
    return d / (na * nb)


def _make_vectors(n=80, dim=8, seed=19):
    rng = random.Random(seed)
    return [(i, [rng.uniform(-1, 1) for _ in range(dim)]) for i in range(n)]


def test_cosine_topk_matches_bruteforce(spark):
    vecs = _make_vectors()
    df = spark.createDataFrame(vecs, ["vec_id", "embedding"]).repartition(4)
    queries = df.where(df.vec_id < 3)
    got = cosine_topk(df, queries, k=4).collect()

    by_query = {}
    for r in got:
        by_query.setdefault(r["query_id"], []).append((r["rank"], r["vec_id"], r["score"]))

    coords = dict(vecs)
    for qid in (0, 1, 2):
        scored = sorted(
            ((round(_cos(coords[qid], coords[i]), 6), i) for i in coords if i != qid),
            key=lambda t: (-t[0], t[1]),
        )
        expected = [(rank + 1, i, s) for rank, (s, i) in enumerate(scored[:4])]
        assert sorted(by_query[qid]) == expected


def test_ivf_recall_reasonable(spark):
    vecs = _make_vectors(n=200, dim=6, seed=23)
    df = spark.createDataFrame(vecs, ["vec_id", "embedding"]).repartition(4)
    queries = df.where(df.vec_id < 5)
    exact = cosine_topk(df, queries, k=5).collect()
    approx = ivf_cosine_topk(df, queries, k=5, n_cells=8, nprobe=4).collect()

    exact_sets = {}
    for r in exact:
        exact_sets.setdefault(r["query_id"], set()).add(r["vec_id"])
    approx_sets = {}
    for r in approx:
        approx_sets.setdefault(r["query_id"], set()).add(r["vec_id"])

    recalls = [
        len(exact_sets[q] & approx_sets.get(q, set())) / len(exact_sets[q])
        for q in exact_sets
    ]
    assert sum(recalls) / len(recalls) >= 0.5  # probing half the cells
    # every query answered with k results
    assert all(len(s) == 5 for s in approx_sets.values())


def test_quantize_embeddings_exact_tiny(spark):
    from dbscan_pyspark_spark.operators.similarity import quantize_embeddings

    df = spark.createDataFrame(
        [(1, [0.5, -1.0, 0.25]), (2, [0.0, 0.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    rows = {r["vec_id"]: r for r in quantize_embeddings(df).collect()}
    # scale = 1.0/127; q = round(x*127): [64, -127, 32]
    assert rows[1]["q"] == [64, -127, 32]
    assert abs(rows[1]["scale"] - 1.0 / 127) < 1e-12
    assert rows[1]["recon_mse"] < (0.5 / 127) ** 2  # < half-step² per dim
    # zero vector: scale 0, all-zero q, zero error
    assert rows[2]["q"] == [0, 0, 0] and rows[2]["scale"] == 0.0
    assert rows[2]["recon_mse"] == 0.0


def test_quantized_topk_recall(spark, sf_dir):
    """int8 reconstruction preserves cosine top-10 recall >= 0.9 on the
    real embeddings table."""
    from dbscan_pyspark_spark.operators.similarity import (
        cosine_topk,
        dequantized,
        quantize_embeddings,
    )
    from dbscan_pyspark_spark.sources.tables import load_table

    emb = (
        load_table(spark, sf_dir, "embeddings")
        .select("vec_id", F.col("embedding").cast("array<double>").alias("embedding"))
    )
    queries = emb.orderBy("vec_id").limit(20)
    k = 10
    exact = cosine_topk(emb, queries, k=k, id_col="vec_id")
    deq = quantize_embeddings(emb).select(
        "vec_id", dequantized().alias("embedding")
    )
    approx = cosine_topk(
        deq, quantize_embeddings(queries).select(
            "vec_id", dequantized().alias("embedding")
        ), k=k, id_col="vec_id",
    )
    hits = exact.select("query_id", "vec_id").intersect(
        approx.select("query_id", "vec_id")
    ).count()
    assert hits / (20 * k) >= 0.9


def test_tfidf_cosine_pairs_identical_docs(spark):
    from dbscan_pyspark_spark.operators.similarity import tfidf_cosine_pairs

    docs = spark.createDataFrame(
        [(1, "red widget spins"), (2, "red widget spins"), (3, "blue bolt")],
        "doc_id long, text string",
    )
    out = tfidf_cosine_pairs(docs, threshold=0.5, max_df_ratio=1.0).collect()
    assert [(r["a_id"], r["b_id"], r["cosine"]) for r in out] == [(1, 2, 1.0)]


def test_tfidf_cosine_pairs_stop_term_pruning(spark):
    from dbscan_pyspark_spark.operators.similarity import tfidf_cosine_pairs

    # 'the' appears in all 4 docs -> pruned at max_df_ratio=0.5; the only
    # surviving overlap is docs 1-2 via 'widget'
    docs = spark.createDataFrame(
        [
            (1, "the widget"),
            (2, "the widget"),
            (3, "the bolt"),
            (4, "the gear"),
        ],
        "doc_id long, text string",
    )
    out = tfidf_cosine_pairs(docs, threshold=0.1, max_df_ratio=0.5).collect()
    assert [(r["a_id"], r["b_id"], r["cosine"]) for r in out] == [(1, 2, 1.0)]


def test_tfidf_top_terms_truncation_bounds_candidates(spark):
    from dbscan_pyspark_spark.operators.similarity import tfidf_cosine_pairs

    import random as _r
    rng = _r.Random(7)
    vocab = [f"w{i}" for i in range(50)]
    docs = spark.createDataFrame(
        [(i, " ".join(rng.choices(vocab, k=30))) for i in range(40)],
        "doc_id long, text string",
    )
    full = tfidf_cosine_pairs(docs, threshold=0.2, max_df_ratio=1.0)
    trunc = tfidf_cosine_pairs(
        docs, threshold=0.2, max_df_ratio=1.0, top_terms_per_doc=5
    )
    # truncation changes scores but still returns a valid pair relation
    assert trunc.count() > 0
    assert trunc.where(F.col("a_id") >= F.col("b_id")).count() == 0
    # high-similarity pairs under truncation are mostly real: verify the
    # top truncated pair also scores >= threshold untruncated
    top = trunc.orderBy(F.col("cosine").desc()).first()
    match = full.where(
        (F.col("a_id") == top["a_id"]) & (F.col("b_id") == top["b_id"])
    ).count()
    assert match == 1


def test_exact_pairs_size_guard(spark):
    import pytest
    from dbscan_pyspark_spark.operators.similarity import cosine_near_dup_pairs

    big = spark.range(0, 101_000).select(
        F.col("id").alias("vec_id"),
        F.array(F.rand(seed=1), F.rand(seed=2)).alias("embedding"),
    )
    with pytest.raises(ValueError, match="rp_lsh_near_dup_pairs"):
        cosine_near_dup_pairs(big, threshold=0.9)
    # bounded inputs still run, and the override works
    small = big.limit(50)
    assert cosine_near_dup_pairs(small, threshold=-1.0).count() == 50 * 49 / 2
    assert cosine_near_dup_pairs(small, threshold=-1.0, max_vectors=None).count() == 50 * 49 / 2


def test_cosine_topk_query_guard(spark):
    import pytest

    big = spark.range(0, 1_000_100).select(
        F.col("id").alias("vec_id"),
        F.array(F.rand(seed=1)).alias("embedding"),
    )
    with pytest.raises(ValueError, match="ivf_quantized_topk"):
        cosine_topk(big.limit(10), big, k=1)


def test_embedding_covariance_matches_numpy(spark):
    import numpy as np

    from dbscan_pyspark_spark.operators.similarity import embedding_covariance

    rng = np.random.default_rng(11)
    X = rng.normal(size=(50, 5))
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(X)],
        "vec_id long, embedding array<double>",
    )
    got = {
        (r["i"], r["j"]): r["cov"]
        for r in embedding_covariance(df, scale=1000).collect()
    }
    Q = np.round(X * 1000)
    C = np.cov(Q.T, bias=True) / 1e6  # population covariance, like the op
    for (i, j), v in got.items():
        assert abs(v - C[i, j]) < 1e-6, (i, j)
    assert len(got) == 5 * 6 // 2  # upper triangle only


def test_embedding_covariance_partition_invariant(spark):
    import numpy as np

    from dbscan_pyspark_spark.operators.similarity import embedding_covariance

    rng = np.random.default_rng(12)
    X = rng.normal(size=(40, 4))
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(X)]
    a = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    sig = lambda df: sorted(map(tuple, embedding_covariance(df).collect()))
    assert sig(a.repartition(1)) == sig(a.repartition(13))


def test_pca_project_matches_numpy(spark):
    import numpy as np

    from dbscan_pyspark_spark.operators.similarity import pca_project

    rng = np.random.default_rng(13)
    # anisotropic cloud: variance concentrated on two directions
    base = rng.normal(size=(80, 2)) * [5.0, 2.0]
    mix = rng.normal(size=(2, 6)) * 0.1
    X = base @ np.array([[1, 0, 0, 0, 0, 0], [0, 1, 0, 0, 0, 0]], dtype=float) + rng.normal(size=(80, 6)) * 0.01 + mix[0]
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(X)],
        "vec_id long, embedding array<double>",
    )
    out = pca_project(df, n_components=2).collect()
    got = np.array([r["pc"] for r in sorted(out, key=lambda r: r["vec_id"])])
    # numpy reference on the same quantized covariance
    Q = np.round(X * 1000) / 1000
    C = np.cov(Q.T, bias=True)
    vals, vecs = np.linalg.eigh(C)
    W = vecs[:, np.argsort(vals)[::-1][:2]]
    for c in range(2):
        if W[np.argmax(np.abs(W[:, c])), c] < 0:
            W[:, c] = -W[:, c]
    want = (X - X.mean(axis=0)) @ W
    assert np.abs(got - want).max() < 2e-2
    # variance ordering: pc1 captures more than pc2
    assert got[:, 0].var() > got[:, 1].var()


def test_ivf_quantized_topk_deterministic_and_high_recall(spark):
    import numpy as np

    from dbscan_pyspark_spark.operators.similarity import (
        cosine_topk,
        ivf_quantized_topk,
    )

    rng = np.random.default_rng(31)
    X = rng.normal(size=(300, 8))
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(X)],
        "vec_id long, embedding array<double>",
    )
    queries = df.where(F.col("vec_id") % 50 == 0)
    a = sorted(map(tuple, ivf_quantized_topk(df, queries, k=3, n_cells=4, nprobe=2).collect()))
    b = sorted(map(tuple, ivf_quantized_topk(df, queries, k=3, n_cells=4, nprobe=2).collect()))
    assert a == b, "deterministic pipeline must replay identically"

    # recall vs the exact quantized top-k (same rounding discipline)
    qdf = df.select(
        "vec_id",
        F.transform("embedding", lambda x: F.round(x * 1000, 0).cast("long")).alias("q"),
    )
    exact = cosine_topk(qdf, qdf.where(F.col("vec_id") % 50 == 0), k=3, vec_col="q")
    exact_set = {(r["query_id"], r["vec_id"]) for r in exact.collect()}
    approx_set = {(r[0], r[1]) for r in a}
    recall = len(exact_set & approx_set) / len(exact_set)
    assert recall >= 0.5, recall  # nprobe=2 of 4 cells: at least half


def test_rp_lsh_integer_planes_subset_of_exact(spark):
    import numpy as np

    from dbscan_pyspark_spark.operators.similarity import (
        cosine_near_dup_pairs,
        rp_lsh_near_dup_pairs,
    )

    rng = np.random.default_rng(41)
    base = rng.normal(size=(40, 8))
    # plant near-duplicates
    dups = base[:10] + rng.normal(scale=0.01, size=(10, 8))
    X = np.concatenate([base, dups])
    df = spark.createDataFrame(
        [(i, [int(round(x * 1000)) for x in v]) for i, v in enumerate(X)],
        "vec_id long, qemb array<long>",
    )
    lsh = rp_lsh_near_dup_pairs(
        df, threshold=0.9, vec_col="qemb", plane_scale=1000
    )
    got = {(r["a_id"], r["b_id"]) for r in lsh.collect()}
    exact = cosine_near_dup_pairs(df, threshold=0.9, vec_col="qemb")
    want = {(r["a_id"], r["b_id"]) for r in exact.collect()}
    assert got <= want, "LSH results must be a subset of exact pairs"
    assert len(got) >= len(want) * 0.5, (len(got), len(want))
    # deterministic replay
    again = {(r["a_id"], r["b_id"]) for r in rp_lsh_near_dup_pairs(
        df, threshold=0.9, vec_col="qemb", plane_scale=1000).collect()}
    assert got == again


def test_rp_lsh_skips_null_embeddings_and_rejects_ragged(spark):
    # NULL and empty embeddings project to NULL, which used to give them
    # all-zero bits in every band: one shared bucket per band, whose
    # self-join the verify then emptied. They are no longer banded, pair
    # with nothing, and semantic_dedup keeps each as a singleton
    # survivor. A vector of another length raises instead of silently
    # missing every pair.
    import numpy as np

    from dbscan_pyspark_spark.operators.similarity import (
        rp_lsh_near_dup_pairs,
        semantic_dedup,
    )

    X = np.random.default_rng(7).normal(size=(12, 8))
    rows = [(i, [int(round(x * 1000)) for x in v]) for i, v in enumerate(X)]
    rows += [(12, rows[0][1])]  # exact duplicate of 0
    rows += [(100 + i, None) for i in range(5)] + [(200, [])]
    df = spark.createDataFrame(rows, "vec_id long, qemb array<long>")
    kw = dict(threshold=0.99, vec_col="qemb", plane_scale=1000)
    got = {(r.a_id, r.b_id) for r in rp_lsh_near_dup_pairs(df, **kw).collect()}
    assert got == {(0, 12)}
    surv = sorted(r.vec_id for r in semantic_dedup(df, **kw).collect())
    assert surv == list(range(12)) + [100, 101, 102, 103, 104, 200]

    ragged = df.unionByName(
        spark.createDataFrame([(300, [1, 2, 3])], "vec_id long, qemb array<long>")
    )
    with pytest.raises(ValueError, match="from 3 to 8"):
        rp_lsh_near_dup_pairs(ragged, **kw)
    with pytest.raises(ValueError, match="empty vectors"):
        rp_lsh_near_dup_pairs(df.where("vec_id >= 100"), **kw)


def test_semantic_dedup_transitive_groups_and_representative(spark):
    """A~B and B~C land in ONE dup group even when A!~C (transitive
    closure, not pairwise greedy); default representative is the min
    id; a score column overrides it; singletons survive untouched."""
    from pyspark.sql import functions as F

    from dbscan_pyspark_spark.operators.similarity import semantic_dedup

    # 4-d integer vectors: 10 and 11 are near-identical, 12 overlaps 11
    # but is farther from 10; 20 is its own cluster; 30 is orthogonal
    rows = [
        (10, [1000, 0, 0, 0]),
        (11, [995, 100, 0, 0]),
        (12, [940, 340, 0, 0]),
        (20, [0, 1000, 50, 0]),
        (30, [0, 0, 0, 1000]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, emb array<long>")
    out = semantic_dedup(
        df,
        threshold=0.95,
        vec_col="emb",
        n_planes=8,
        rows_per_band=2,
        plane_scale=1000,
    )
    got = {
        r["vec_id"]: (r["dup_group"], r["dup_group_size"])
        for r in out.collect()
    }
    # 10-11 ~ 0.995 and 11-12 ~ 0.97 pass the 0.95 threshold; 10-12
    # ~ 0.94 does NOT — yet all three land in one group: transitive
    # closure through 11, labeled by the min id, one survivor
    assert got[10] == (10, 3)
    assert 11 not in got and 12 not in got
    assert got[20] == (20, 1) and got[30] == (30, 1)

    # score-based representative: highest first norm wins -> 12? no,
    # highest LAST component wins picks a specific member
    out2 = semantic_dedup(
        df,
        threshold=0.95,
        vec_col="emb",
        n_planes=8,
        rows_per_band=2,
        plane_scale=1000,
        score=F.element_at(F.col("emb"), 2),
    )
    got2 = {r["vec_id"]: r["dup_group"] for r in out2.collect()}
    # max 2nd component in the {10,11,12} group is vec 12 (340)
    assert set(got2) == {12, 20, 30}
    assert got2[12] == 10  # group label stays the min id

    # non-numeric ids route through xxhash64 surrogates — a silent
    # long cast would null every edge and return all rows as
    # singletons (the near_dup_dedup no-op hazard, r6 review)
    sdf = spark.createDataFrame(
        [(f"img_{i:03d}", v) for i, v in rows], "vec_id string, emb array<long>"
    )
    gots = {
        r["vec_id"]: (r["dup_group"], r["dup_group_size"])
        for r in semantic_dedup(
            sdf, threshold=0.95, vec_col="emb", n_planes=8,
            rows_per_band=2, plane_scale=1000,
        ).collect()
    }
    assert gots == {
        "img_010": ("img_010", 3),
        "img_020": ("img_020", 1),
        "img_030": ("img_030", 1),
    }


def test_auto_band_size_and_auto_lsh_path(spark):
    """auto_band_size targets ~16 occupancy with a 4-bit floor and
    stays deterministic; rows_per_band='auto' wires it into the LSH
    join and still finds exact duplicates (recall 1.0 at any banding)."""
    import pytest as _pytest

    from dbscan_pyspark_spark.operators.similarity import (
        auto_band_size,
        rp_lsh_near_dup_pairs,
        semantic_dedup,
    )

    assert auto_band_size(1) == (16, 4)  # floor
    assert auto_band_size(500) == (20, 5)
    assert auto_band_size(200_000) == (56, 14)
    assert auto_band_size(10**9) == (104, 26)
    with _pytest.raises(ValueError):
        auto_band_size(0)

    rows = [
        (0, [1000, 0, 0, 0]), (1, [1000, 0, 0, 0]),  # exact dup pair
        (2, [0, 1000, 0, 0]), (3, [0, 0, 1000, 0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, emb array<long>")
    pairs = rp_lsh_near_dup_pairs(
        df, threshold=0.99, rows_per_band="auto", vec_col="emb",
        plane_scale=1000,
    )
    assert [(r["a_id"], r["b_id"]) for r in pairs.collect()] == [(0, 1)]
    surv = semantic_dedup(
        df, threshold=0.99, vec_col="emb", plane_scale=1000,
        rows_per_band="auto",
    )
    assert sorted(r["vec_id"] for r in surv.collect()) == [0, 2, 3]

    # n_planes not a multiple of rows_per_band raises
    with _pytest.raises(ValueError, match="multiple"):
        rp_lsh_near_dup_pairs(
            df, threshold=0.9, n_planes=10, rows_per_band=4, vec_col="emb"
        ).collect()
    # auto owns n_planes: an explicit non-default plane count alongside
    # rows_per_band='auto' raises instead of being silently discarded
    with _pytest.raises(ValueError, match="auto"):
        rp_lsh_near_dup_pairs(
            df, threshold=0.9, n_planes=128, rows_per_band="auto",
            vec_col="emb",
        )
    # ... INCLUDING an explicit 16 (the old non-sentinel default):
    # 'unset' is spelled n_planes=None only
    with _pytest.raises(ValueError, match="auto"):
        rp_lsh_near_dup_pairs(
            df, threshold=0.9, n_planes=16, rows_per_band="auto",
            vec_col="emb",
        )
    # a typo'd banding string fails the contract, not an opaque modulo
    with _pytest.raises(ValueError, match="rows_per_band"):
        rp_lsh_near_dup_pairs(
            df, threshold=0.9, rows_per_band="Auto", vec_col="emb"
        )
    # 0 would be an opaque ZeroDivisionError; a NEGATIVE value would
    # silently produce zero bands and hence an always-empty pair set
    for bad in (0, -4):
        with _pytest.raises(ValueError, match="positive"):
            rp_lsh_near_dup_pairs(
                df, threshold=0.9, rows_per_band=bad, vec_col="emb"
            )


def test_pca_trace_check_invariants(spark):
    """Sum of eigenvalues equals the covariance trace on the integer
    grid, spectrum is PSD, top-k explained variance bounded by trace —
    the oracle-able conservation laws of the eigensolve."""
    import numpy as np

    from dbscan_pyspark_spark.operators.similarity import pca_trace_check

    rng = np.random.RandomState(7)
    vecs = [(i, rng.randn(6).tolist()) for i in range(120)]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    row = pca_trace_check(df, round_dp=4).collect()[0]
    assert row["dim"] == 6
    assert row["psd_violations"] == 0
    assert row["explained_top_le_trace"] == 1
    # numpy-recomputed trace on the same quantized grid agrees
    q = np.round(np.array([v for _, v in vecs]) * 1000)
    trace = (q.var(axis=0) / 1e6).sum()
    assert abs(row["trace_q"] - round(float(trace), 4)) < 2e-4


# ---------------------------------------------------------------------------
# kNN graph


def test_ivf_knn_graph_shape_and_broadcast_equivalence(spark, sf_dir):
    from dbscan_pyspark_spark.operators.similarity import (
        ivf_knn_graph,
        ivf_quantized_topk,
    )
    from dbscan_pyspark_spark.sources.tables import load_table

    e = load_table(spark, sf_dir, "embeddings")
    g = ivf_knn_graph(e, k=3, n_cells=4, nprobe=2, n_iter=1)
    rows = g.collect()
    assert g.columns == ["src", "dst", "score", "rank"]
    # self excluded, <=k per source, ranks contiguous from 1
    assert all(r.src != r.dst for r in rows)
    per_src = {}
    for r in rows:
        per_src.setdefault(r.src, []).append(r.rank)
    assert all(sorted(v) == list(range(1, len(v) + 1)) for v in per_src.values())
    assert all(len(v) <= 3 for v in per_src.values())
    # the shuffle-join path is RESULT-identical to the broadcast path
    bro = ivf_quantized_topk(
        e, e, k=3, n_cells=4, nprobe=2, n_iter=1, broadcast_probes=True
    )
    got = {(r.src, r.dst, r.score, r.rank) for r in rows}
    exp = {
        (r.query_id, r.vec_id, r.score, r.rank) for r in bro.collect()
    }
    assert got == exp


def test_mutual_knn_clusters_properties(spark):
    from dbscan_pyspark_spark.operators.similarity import mutual_knn_clusters

    # cosine clusters by DIRECTION: two arcs of gently rotating unit
    # directions (adjacent members are mutual nearest neighbors, so
    # each arc chains into one component) + an opposite-direction
    # outlier whose picks never reciprocate
    import math

    rows = []
    for i in range(4):
        ta = 0.02 * i
        rows.append((i, [1000 * math.cos(ta), 1000 * math.sin(ta)]))
        tb = 1.2 + 0.02 * i
        rows.append((10 + i, [1000 * math.cos(tb), 1000 * math.sin(tb)]))
    rows.append((99, [-1000.0, -1000.0]))
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {
        r.vec_id: r.cluster_id
        for r in mutual_knn_clusters(
            vecs, k=2, n_cells=2, nprobe=2, n_iter=2
        ).collect()
    }
    # every vector labeled; labels are member minima
    assert set(got) == {0, 1, 2, 3, 10, 11, 12, 13, 99}
    for v, c in got.items():
        assert c <= v
    # each arc chains into one cluster; the outlier is a singleton
    assert got[0] == got[1] == got[2] == got[3] == 0
    assert got[10] == got[11] == got[12] == got[13] == 10
    assert got[99] == 99


def _blob_vectors(spark, n, dim=8, blobs=8, spread=50):
    b = F.col("id") % blobs
    return spark.range(n).select(
        F.col("id").alias("vec_id"),
        F.transform(
            F.sequence(F.lit(0), F.lit(dim - 1)),
            lambda j: (
                (b * spread).cast("double")
                + (F.abs(F.xxhash64("id", j.cast("string"))) % 11 - 5)
            ),
        ).alias("embedding"),
    )


@pytest.mark.slow
def test_two_level_ivf_deterministic_assignment(spark):
    # Two independent fits of the hierarchical quantizer must produce
    # byte-identical corpus assignments (fixed init, fixed iteration
    # counts, integer arithmetic, (d, cid) tie-breaks) — the property
    # every auto-sized IVF oracle relies on.
    from dbscan_pyspark_spark.operators.similarity import ivf_fit_two_level

    vecs = _blob_vectors(spark, 3000)
    m1 = ivf_fit_two_level(vecs, 4100, n_iter=2)
    m2 = ivf_fit_two_level(vecs, 4100, n_iter=2)
    assert (m1.k1, m1.k2) == (65, 64)
    a1 = sorted(tuple(r) for r in m1.assign.collect())
    a2 = sorted(tuple(r) for r in m2.assign.collect())
    assert a1 == a2
    assert len(a1) == 3000
    # global cell ids stay inside [0, k1*k2)
    assert all(0 <= c < 65 * 64 for _, c in a1)


def test_two_level_ivf_exhaustive_probe_equals_bruteforce(spark):
    # With nprobe >= n_cells the coarse fan covers every cell, every
    # vector is a candidate, and the hierarchical path must reproduce
    # the brute-force quantized-cosine top-k EXACTLY (same round-6
    # scores, same (score desc, id) tie-break).
    from pyspark.sql import Window

    from dbscan_pyspark_spark.functions.distance import dot
    from dbscan_pyspark_spark.operators.kmeans import _quantized
    from dbscan_pyspark_spark.operators.similarity import (
        ivf_fit_two_level,
        ivf_quantized_topk,
    )

    vecs = _blob_vectors(spark, 2000)
    qs = vecs.where(F.col("vec_id") % 100 == 0)
    model = ivf_fit_two_level(vecs, 4100, n_iter=2)
    got = sorted(
        tuple(r)
        for r in ivf_quantized_topk(
            vecs, qs, k=5, nprobe=4100, model=model
        ).collect()
    )

    v = vecs.select("vec_id", _quantized("embedding", 1000).alias("_v"))
    qv = qs.select(
        F.col("vec_id").alias("query_id"),
        _quantized("embedding", 1000).alias("_qv"),
    )
    scored = (
        qv.crossJoin(v)
        .where(F.col("query_id") != F.col("vec_id"))
        .select(
            "query_id",
            "vec_id",
            F.round(
                F.when(
                    (dot("_v", "_v") != 0) & (dot("_qv", "_qv") != 0),
                    dot("_v", "_qv")
                    / (
                        F.sqrt(dot("_v", "_v").cast("double"))
                        * F.sqrt(dot("_qv", "_qv").cast("double"))
                    ),
                ),
                6,
            ).alias("score"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc_nulls_last(), F.col("vec_id")
    )
    want = sorted(
        tuple(r)
        for r in scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 5)
        .collect()
    )
    assert got == want


def test_two_level_ivf_narrow_probe_structure_and_recall(spark):
    # Narrow-probe sanity on a deliberately SPARSE index (2000 vectors
    # in ~4100 cells — ~1 vector per cell, far below the auto_n_cells
    # occupancy this path is sized for): output structure must hold
    # (<= k rows per query, no self, ranks contiguous) and a widened
    # coarse beam must recover a solid fraction of the exhaustive
    # top-k even in this worst-case occupancy.
    from dbscan_pyspark_spark.operators.similarity import (
        ivf_fit_two_level,
        ivf_quantized_topk,
    )

    vecs = _blob_vectors(spark, 2000)
    qs = vecs.where(F.col("vec_id") % 100 == 0)
    model = ivf_fit_two_level(vecs, 4100, n_iter=2)
    approx = ivf_quantized_topk(
        vecs, qs, k=5, nprobe=100, model=model, nprobe_l1=20
    ).collect()
    by_q = {}
    for r in approx:
        assert r["query_id"] != r["vec_id"]
        by_q.setdefault(r["query_id"], []).append(r["rank"])
    for ranks in by_q.values():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))
        assert len(ranks) <= 5
    exact = {
        (r["query_id"], r["vec_id"])
        for r in ivf_quantized_topk(
            vecs, qs, k=5, nprobe=4100, model=model
        ).collect()
    }
    hits = {(r["query_id"], r["vec_id"]) for r in approx}
    assert len(hits & exact) / len(exact) > 0.5


def test_two_level_ivf_rejects_flat_sized_cell_counts(spark):
    import pytest

    from dbscan_pyspark_spark.operators.similarity import ivf_fit_two_level

    vecs = _blob_vectors(spark, 100)
    with pytest.raises(ValueError, match="single level"):
        ivf_fit_two_level(vecs, 64)


@pytest.mark.slow
def test_two_level_ivf_auto_dispatch(spark):
    # n_cells past _FLAT_MAX_CELLS with model=None must route to the
    # two-level fit internally and produce exactly what an explicit
    # ivf_fit_two_level + probe produces (same deterministic
    # construction).
    from dbscan_pyspark_spark.operators.similarity import (
        ivf_fit_two_level,
        ivf_quantized_topk,
    )

    vecs = _blob_vectors(spark, 1500)
    qs = vecs.where(F.col("vec_id") % 150 == 0)
    auto = sorted(
        tuple(r)
        for r in ivf_quantized_topk(vecs, qs, k=5, n_cells=4100, nprobe=64).collect()
    )
    model = ivf_fit_two_level(vecs, 4100, n_iter=2)
    explicit = sorted(
        tuple(r)
        for r in ivf_quantized_topk(vecs, qs, k=5, nprobe=64, model=model).collect()
    )
    assert auto == explicit and len(auto) > 0
