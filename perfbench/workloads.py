"""The benchmark workloads.

Each workload has three parts:

- ``setup(spark, seed)`` makes the seeded inputs inside the work
  directory and returns a state dict (it is timed as part of set-up);
- ``run(state, tr)`` is one closed-loop execution of the pipeline; it
  leaves its result in ``state["last"]`` and returns a digest of it (it
  is what the timed loop repeats);
- ``check(state)`` runs once, untimed, after the timed runs: it verifies
  the last result against an independent reference and returns the
  quality metrics ``info_loss`` and ``recall_at_k``.

Layers are called as attributes of their modules (``dbscan.dbscan``),
looked up at call time, so a tracer that patches the modules sees every
call. ``tr.span(layer, "sink")`` charges the final action to the layer
that produced the DataFrame it forces.
"""

from __future__ import annotations

import os
from importlib import import_module

import numpy as np

from perfbench import oracles

# import_module, not ``from ... import``: the operators package re-exports
# the functions dbscan() and anonymize() under their modules' names
session = import_module("dbscan_pyspark_spark.session")
tables = import_module("dbscan_pyspark_spark.sources.tables")
io = import_module("dbscan_pyspark_spark.sources.io")
dbscan = import_module("dbscan_pyspark_spark.operators.dbscan")
anonymize = import_module("dbscan_pyspark_spark.operators.anonymize")
kmember = import_module("dbscan_pyspark_spark.operators.kmember")
dedup = import_module("dbscan_pyspark_spark.operators.dedup")
similarity = import_module("dbscan_pyspark_spark.operators.similarity")

# data10k_6attr.csv column ranges (inclusive): 6 quasi-identifiers + sensitive
RANGES_6D = [(15, 90), (130, 190), (30, 100), (2, 23), (0, 5), (0, 20), (1, 5)]
K_6D = 10

N_ANON = 2000
# at this density the first clusters form near eps 17 and the information
# loss is lowest at 19-20 (by eps 22 everything has merged into one
# cluster), so the sweep covers 18..20: on some seeds 18 is all noise
ANON_EPS = [18.0, 19.0, 20.0]
KMEMBER_CLUSTERS = 20
KMEMBER_ITERS = 2
# the sf0.1 documents table's size; oracles.make_documents copies its shape
N_DOCS = 5000
JACCARD = 0.3
N_VECTORS = 2000
N_QUERIES = 200
DIM_VEC = 32
TOPK = 10
IVF_CELLS = 32
IVF_NPROBE = 4
QUERY_ID_OFFSET = 10_000_000


def _work(*parts):
    path = os.path.join(os.environ["PERFBENCH_WORK"], *parts)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    return path


def checksum(df, cols):
    """The sink: forces every row and returns 'count:xor-of-row-hashes'.
    Order-independent, so it is stable across partitionings; doubles are
    rounded to 6 digits first, so a different summation order changes the
    hash only when a value sits on a rounding boundary."""
    from pyspark.sql import functions as F

    exprs = []
    for c in cols:
        dtype = dict(df.dtypes)[c]
        if dtype == "double":
            exprs.append(F.round(F.col(c), 6))
        elif dtype == "array<double>":
            exprs.append(F.transform(F.col(c), lambda x: F.round(x, 6)))
        else:
            exprs.append(F.col(c))
    row = df.agg(
        F.count(F.lit(1)).alias("n"), F.bit_xor(F.xxhash64(*exprs)).alias("h")
    ).first()
    return f"{row['n']}:{row['h'] or 0}"


def _write_points_csv(seed: int, n: int, tag: str) -> str:
    rng = np.random.default_rng(seed)
    cols = [rng.integers(lo, hi + 1, size=n) for lo, hi in RANGES_6D]
    data = np.stack(cols, axis=1)
    path = _work(f"{tag}_{seed}.csv")
    np.savetxt(path, data, fmt="%d", delimiter=",")
    return path


# -- anon_6d ------------------------------------------------------------------


def anon_setup(spark, seed):
    path = _write_points_csv(seed, N_ANON, "anon6")
    spark.read.csv(path).count()
    return {"spark": spark, "path": path, "rows": N_ANON}


def anon_run(st, tr):
    """Both anonymizations: the eps sweep, dbscan at the best eps and
    centroid generalization; then k-member k-means and its
    generalization."""
    pts = io.read_csv_points(st["spark"], st["path"], 6)
    metrics, best = anonymize.eps_sweep(pts, ANON_EPS, min_pts=K_6D)
    with tr.span("anonymize", "sink"):
        rows = [tuple(r) for r in metrics.collect()]
    labels = dbscan.dbscan(pts, eps=best, min_pts=K_6D)
    an = anonymize.anonymize(pts, labels)
    with tr.span("anonymize", "sink"):
        d1 = checksum(an, ["id", "cluster_id", "an_features", "sensitive", "is_noise"])
    res = kmember.kmember_kmeans(pts, k=K_6D, n_clusters=KMEMBER_CLUSTERS, max_iter=KMEMBER_ITERS)
    km = kmember.kmember_anonymize(pts, res)
    with tr.span("kmember", "sink"):
        d2 = checksum(km, ["id", "cluster_id", "an_features"])
    tr.notes["kmember.n_iter"] = res.n_iter
    sweep = ";".join(f"{r[0]:g},{r[1]},{r[2]},{r[5]:.9g}" for r in rows)
    st["last"] = (pts, rows, best, labels, an, res, km)
    return f"best={best:g}|{sweep}|{d1}|cost={res.cost:.9g}|iter={res.n_iter}|{d2}"


def anon_check(st):
    """The sweep's rows at every eps, the best eps, dbscan's labels at it
    and the anonymized rows against the NumPy reference; the cross-path
    agreement: information_loss over dbscan's labels at the best eps
    equals the sweep's row there (the sweep labels clusters by a
    driver-side Kruskal pass, dbscan by a connected-components job); and
    the k-member clusters, their means and cost.

    ``recall_at_k`` is the share of rows whose labels and k-member
    generalization match the reference: 1.0 whenever the check passes,
    since a mismatch raises."""
    pts, rows, best, labels, an, res, km = st["last"]
    ids, feats = oracles.collect_points(pts)
    sens = pts.select("id", "sensitive").toPandas().sort_values("id")["sensitive"].to_numpy()
    want = oracles.pairwise_dbscan(ids, feats, ANON_EPS, min_pts=K_6D)
    want_rows = [(eps,) + oracles.loss(feats, want[eps]) for eps in ANON_EPS]
    if len(rows) != len(want_rows):
        raise AssertionError(f"eps_sweep: {len(rows)} rows, want {len(want_rows)}")
    for got, ref in zip(sorted(rows), want_rows):
        oracles.expect_row(got, ref, "eps_sweep")
    want_best = min(want_rows, key=lambda r: (r[5], r[0]))[0]
    if best != want_best:
        raise AssertionError(f"eps_sweep: best eps {best} != reference {want_best}")
    lab = want[best]
    agree = oracles.compare_labels(labels.select("id", "cluster_id").toPandas(), ids, lab)
    oracles.check_anonymized(an.toPandas(), ids, feats, sens, lab)
    loss = anonymize.information_loss(pts, labels).first()
    best_row = next(r for r in rows if r[0] == best)
    oracles.expect_row((best,) + tuple(loss), best_row, "information_loss(dbscan) vs eps_sweep")
    dist = res.assignments.select("id", "distance").toPandas()
    agree = min(agree, oracles.check_kmember(km.toPandas(), dist, ids, feats, K_6D, res.cost))
    return {"info_loss": best_row[5] / len(ids), "recall_at_k": agree}


# -- near_dup_search ----------------------------------------------------------


def neardup_setup(spark, seed):
    import pandas as pd

    rng = np.random.default_rng(seed)
    docs = oracles.make_documents(rng, N_DOCS)
    vecs, qvecs = oracles.make_vectors(rng, N_VECTORS, N_QUERIES, DIM_VEC)
    sf_dir = os.path.dirname(_work(f"docs_{seed}", "documents.parquet"))
    pd.DataFrame({"doc_id": np.arange(N_DOCS, dtype="int64"), "text": docs}).to_parquet(
        os.path.join(sf_dir, "documents.parquet"), index=False
    )
    schema = "vec_id long, embedding array<float>"
    vectors = spark.createDataFrame(
        pd.DataFrame({"vec_id": np.arange(N_VECTORS, dtype="int64"), "embedding": list(vecs)}),
        schema,
    ).persist()
    queries = spark.createDataFrame(
        pd.DataFrame({"vec_id": np.arange(N_QUERIES, dtype="int64") + QUERY_ID_OFFSET,
                      "embedding": list(qvecs)}),
        schema,
    ).persist()
    vectors.count()
    queries.count()
    spark.read.parquet(sf_dir).count()
    return {"spark": spark, "sf_dir": sf_dir, "vectors": vectors, "queries": queries,
            "vecs": vecs, "qvecs": qvecs, "docs": docs, "rows": N_DOCS + N_VECTORS}


def neardup_run(st, tr):
    docs = tables.load_table(st["spark"], st["sf_dir"], "documents")
    pairs = dedup.minhash_near_dup_pairs(docs, threshold=JACCARD)
    with tr.span("dedup", "sink"):
        d1 = checksum(pairs, ["a_id", "b_id", "jaccard"])
    topk = similarity.ivf_quantized_topk(
        st["vectors"], st["queries"], k=TOPK, n_cells=IVF_CELLS, nprobe=IVF_NPROBE
    )
    with tr.span("similarity", "sink"):
        d2 = checksum(topk, ["query_id", "vec_id", "score", "rank"])
    st["last"] = (pairs, topk)
    return f"{d1}|{d2}"


def neardup_check(st):
    pairs, topk = st["last"]
    oracles.check_jaccard_pairs(pairs.toPandas(), st["docs"], JACCARD)
    return oracles.check_ivf(topk.toPandas(), st["vecs"], st["qvecs"], TOPK, QUERY_ID_OFFSET)


# name -> (setup, run, check)
WORKLOADS = {
    "anon_6d": (anon_setup, anon_run, anon_check),
    "near_dup_search": (neardup_setup, neardup_run, neardup_check),
}
