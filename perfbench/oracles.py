"""Independent references for the workloads' outputs, in NumPy, and the
seeded generators of the text and vector inputs.

None of this calls the package: each function recomputes what a layer
should have produced from the raw inputs, or checks a property the
output must have, and raises ``AssertionError`` on a mismatch.
"""

from __future__ import annotations

import math

import numpy as np

REL_TOL = 1e-9


def collect_points(df):
    """(ids, features) of a points frame, sorted by id."""
    pdf = df.select("id", "features").toPandas()
    ids = pdf["id"].to_numpy(dtype="int64")
    feats = np.array(pdf["features"].tolist(), dtype="float64")
    order = np.argsort(ids)
    return ids[order], feats[order]


def _close(a, b) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        a, b = float(a), float(b)
        if math.isinf(a) or math.isinf(b):
            return a == b
        return math.isclose(a, b, rel_tol=REL_TOL, abs_tol=1e-9)
    return a == b


def expect_row(got, want, what) -> None:
    if len(got) != len(want) or not all(_close(g, w) for g, w in zip(got, want)):
        raise AssertionError(f"{what}: {tuple(got)} != reference {tuple(want)}")


def _components(n, u, v):
    """Union-find by min root: every vertex labeled with the smallest
    index in its component."""
    parent = np.arange(n)
    while True:
        while True:
            grand = parent[parent]
            if np.array_equal(grand, parent):
                break
            parent = grand
        pu, pv = parent[u], parent[v]
        hooks = pu != pv
        if not hooks.any():
            return parent
        np.minimum.at(parent, np.maximum(pu[hooks], pv[hooks]), np.minimum(pu[hooks], pv[hooks]))


def _label(n, core_u, nbr_v, mult, min_cluster):
    """DBSCAN labels from core -> neighbour edges over n weighted nodes:
    component root index per clustered node, -1 for noise."""
    root = _components(n, core_u, nbr_v)
    part = np.zeros(n, dtype=bool)
    part[core_u] = True
    part[nbr_v] = True
    mass = np.bincount(root[part], weights=mult[part], minlength=n)
    keep = part & (mass[root] >= min_cluster)
    return np.where(keep, root, -1)


def _cluster_means(feats, lab):
    """Sorted cluster ids and their centroids (clustered rows only)."""
    cids, inv = np.unique(lab[lab >= 0], return_inverse=True)
    sums = np.zeros((len(cids), feats.shape[1]))
    np.add.at(sums, inv, feats[lab >= 0])
    return cids, inv, sums / np.bincount(inv)[:, None]


def _nearest(x, cents, block=2048):
    """(index, L1 distance) of each row's nearest centroid; ties go to the
    lowest index, i.e. the lowest cluster id."""
    idx = np.empty(len(x), dtype="int64")
    dist = np.empty(len(x))
    for s in range(0, len(x), block):
        d = np.abs(x[s:s + block, None, :] - cents[None, :, :]).sum(axis=2)
        idx[s:s + block] = d.argmin(axis=1)
        dist[s:s + block] = d[np.arange(len(d)), idx[s:s + block]]
    return idx, dist


def loss(feats, lab):
    """(n_clusters, n_noise, cluster_error, noise_error, total_error) of
    generalizing every point to its cluster centroid (noise: to the
    nearest centroid), L1."""
    n_noise = int((lab < 0).sum())
    if n_noise == len(lab):
        return (0, n_noise, 0.0, math.inf, math.inf)
    cids, inv, cents = _cluster_means(feats, lab)
    ce = float(np.abs(feats[lab >= 0] - cents[inv]).sum())
    ne = float(_nearest(feats[lab < 0], cents)[1].sum())
    return (len(cids), n_noise, ce, ne, ce + ne)


def _dbscan_labels(a, b, inv, mult, rep_id, min_pts):
    """Per-row DBSCAN labels from the directed neighbour pairs (a, b) of
    the distinct vectors, self-pairs included: a vector is core when its
    neighbours hold >= min_pts rows, cores link to every neighbour, and
    a component is a cluster when it holds >= min_pts rows. Cluster id =
    smallest member id; -1 = noise."""
    m = len(mult)
    counts = np.bincount(a, weights=mult[b], minlength=m)
    sel = (counts >= min_pts)[a]
    # vector index order is not id order: relabel roots by min member id
    root = _label(m, a[sel], b[sel], mult.astype("float64"), min_pts)
    comp_id = np.full(m, np.iinfo("int64").max)
    keep = root >= 0
    np.minimum.at(comp_id, root[keep], rep_id[keep])
    rep_lab = np.where(keep, comp_id[np.maximum(root, 0)], -1)
    return rep_lab[inv]


def pairwise_dbscan(ids, feats, eps_values, min_pts, block=256):
    """Reference DBSCAN of integer-valued features at every eps of
    ``eps_values``, from all pairwise L1 distances between the distinct
    vectors (neighbours: distance < eps). For a few thousand rows.
    Returns {eps: per-row labels}."""
    reps, inv, mult = np.unique(feats.astype("int32"), axis=0, return_inverse=True, return_counts=True)
    inv = inv.reshape(-1)
    rep_id = np.full(len(reps), np.iinfo("int64").max)
    np.minimum.at(rep_id, inv, ids)
    dist = np.concatenate([np.abs(reps[s:s + block, None, :] - reps[None, :, :]).sum(axis=2)
                           for s in range(0, len(reps), block)])
    out = {}
    for eps in eps_values:
        a, b = np.nonzero(dist < eps)
        out[eps] = _dbscan_labels(a, b, inv, mult, rep_id, min_pts)
    return out


def compare_labels(got, ids, want) -> float:
    got = got.sort_values("id")
    if not np.array_equal(got["id"].to_numpy(), ids):
        raise AssertionError("dbscan: ids differ from the input")
    lab = got["cluster_id"].fillna(-1).to_numpy(dtype="int64")
    ok = lab == want
    if not ok.all():
        raise AssertionError(f"dbscan: {int((~ok).sum())} labels differ from the reference")
    return float(ok.mean())


def check_anonymized(got, ids, feats, sens, lab) -> None:
    """Centroid generalization of labels ``lab``: every id once, clustered
    rows carry their own cluster's centroid, noise rows the nearest
    centroid (ties to the lowest cluster id), sensitive values unchanged."""
    got = got.sort_values("id")
    if not np.array_equal(got["id"].to_numpy(), ids):
        raise AssertionError("anonymize: ids differ from the input")
    noise = lab < 0
    cids, _, cents = _cluster_means(feats, lab)
    want = lab.copy()
    want[noise] = cids[_nearest(feats[noise], cents)[0]]
    an = np.array(got["an_features"].tolist())
    ok = (
        (got["cluster_id"].to_numpy(dtype="int64") == want)
        & (got["is_noise"].to_numpy(dtype=bool) == noise)
        & (got["sensitive"].to_numpy(dtype="int64") == sens)
        & np.isclose(an, cents[np.searchsorted(cids, want)], rtol=REL_TOL, atol=1e-9).all(axis=1)
    )
    if not ok.all():
        raise AssertionError(f"anonymize: {int((~ok).sum())} rows differ from the reference")


def check_kmember(got, dist, ids, feats, k, cost) -> float:
    """k-member output: every id once, every cluster >= k members, each
    anonymized value the mean of its cluster, distances and cost the L1
    to it. Returns the share of rows that hold (1.0, or it raises)."""
    got = got.sort_values("id")
    if not np.array_equal(got["id"].to_numpy(), ids):
        raise AssertionError("kmember: ids differ from the input")
    cid = got["cluster_id"].to_numpy(dtype="int64")
    _, inv, sizes = np.unique(cid, return_inverse=True, return_counts=True)
    if sizes.min() < k:
        raise AssertionError(f"kmember: a cluster has {sizes.min()} < k={k} members")
    sums = np.zeros((len(sizes), feats.shape[1]))
    np.add.at(sums, inv, feats)
    means = (sums / sizes[:, None])[inv]
    an = np.array(got["an_features"].tolist())
    d = dist.sort_values("id")["distance"].to_numpy()
    ok = np.isclose(an, means, rtol=REL_TOL, atol=1e-9).all(axis=1) & np.isclose(
        d, np.abs(feats - an).sum(axis=1), rtol=REL_TOL, atol=1e-9
    )
    if not ok.all():
        raise AssertionError(f"kmember: {int((~ok).sum())} rows are not at their cluster mean")
    if not math.isclose(cost, float(d.sum()), rel_tol=REL_TOL):
        raise AssertionError(f"kmember: cost {cost} != sum of distances {d.sum()}")
    return float(ok.mean())


_WORDS = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()


def make_documents(rng, n):
    """n texts shaped like the sf0.1 ``documents`` table: 10..99 words
    drawn uniformly from its 30-word vocabulary, and 5% of the rows
    replaced by the text of a row that is not replaced, plus the word
    "dup" (Jaccard about 0.98 with it); two copies of one row are then
    identical."""
    docs = [
        " ".join(_WORDS[j] for j in rng.integers(0, len(_WORDS), size=int(rng.integers(10, 100))))
        for _ in range(n)
    ]
    targets = rng.choice(n, size=n // 20, replace=False)
    sources = rng.choice(np.setdiff1d(np.arange(n), targets), size=len(targets))
    for t, s in zip(targets, sources):
        docs[t] = docs[s] + " dup"
    return docs


def _shingles(text, n=3):
    w = text.split()
    return {tuple(w[i:i + n]) for i in range(len(w) - n + 1)}


def check_jaccard_pairs(pairs, docs, threshold) -> None:
    """Every reported pair is ordered, unique, and its Jaccard is the
    exact word-3-shingle Jaccard of the two texts, at or above the
    threshold. The planted edited copies guarantee some pairs exist."""
    if len(pairs) == 0:
        raise AssertionError("minhash: no near-duplicate pairs found")
    a = pairs["a_id"].to_numpy()
    b = pairs["b_id"].to_numpy()
    if (a >= b).any() or len(set(zip(a, b))) != len(a):
        raise AssertionError("minhash: pairs not ordered or not unique")
    for x, y, j in zip(a, b, pairs["jaccard"].to_numpy()):
        sx, sy = _shingles(docs[x]), _shingles(docs[y])
        want = len(sx & sy) / len(sx | sy)
        if j < threshold - 1e-9 or abs(j - want) > 1e-6:
            raise AssertionError(f"minhash: pair ({x},{y}) jaccard {j} != {want}")


def make_vectors(rng, n, q, dim):
    """Unit vectors around 64 random directions; queries are perturbed
    copies of random corpus vectors."""
    centers = rng.normal(size=(64, dim))
    v = centers[rng.integers(0, 64, size=n)] + 0.6 * rng.normal(size=(n, dim))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    qv = v[rng.integers(0, n, size=q)] + 0.2 * rng.normal(size=(q, dim))
    qv /= np.linalg.norm(qv, axis=1, keepdims=True)
    return v.astype("float32"), qv.astype("float32")


def _quantized(v, scale):
    """round(x * scale) per component, half away from zero as Spark rounds."""
    x = v.astype("float32").astype("float64") * scale
    return (np.sign(x) * np.floor(np.abs(x) + np.float32(0.5))).astype("int64")


def check_ivf(got, vecs, qvecs, k, qoffset, scale=1000):
    """IVF top-k: k ranked rows per query whose scores are the cosine of
    the quantized vectors. Returns recall@k against the exact float
    top-k and the mean cosine distance of the returned neighbours."""
    qi = got["query_id"].to_numpy(dtype="int64") - qoffset
    vi = got["vec_id"].to_numpy(dtype="int64")
    score = got["score"].to_numpy(dtype="float64")
    if np.bincount(qi, minlength=len(qvecs)).tolist() != [k] * len(qvecs):
        raise AssertionError("ivf: not k rows per query")
    qa, va = _quantized(qvecs, scale), _quantized(vecs, scale)
    dots = (qa[qi] * va[vi]).sum(axis=1).astype("float64")
    want = dots / (np.sqrt((qa[qi] ** 2).sum(axis=1)) * np.sqrt((va[vi] ** 2).sum(axis=1)))
    worst = int(np.abs(score - want).argmax())
    if abs(score[worst] - want[worst]) > 2e-6:
        raise AssertionError(
            f"ivf: score {score[worst]} of ({qi[worst]}, {vi[worst]}) != quantized cosine {want[worst]}"
        )
    order = np.lexsort((got["rank"].to_numpy(), qi))
    s = score[order].reshape(len(qvecs), k)
    if (np.diff(s, axis=1) > 1e-12).any():
        raise AssertionError("ivf: ranks not in score order")
    exact = qvecs.astype("float64") @ vecs.astype("float64").T
    top = np.argsort(-exact, axis=1, kind="stable")[:, :k]
    found = set(zip(qi.tolist(), vi.tolist()))
    hits = sum((q, int(v)) in found for q in range(len(qvecs)) for v in top[q])
    return {"recall_at_k": hits / (len(qvecs) * k), "info_loss": float(np.mean(1.0 - score))}
