"""Connected components vs a driver-side union-find oracle."""

import importlib
import random

import pyarrow as pa
import pytest

from dbscan_pyspark_spark.operators import components, connected_components
from dbscan_pyspark_spark.session import _local_frame


def _uf_components(n_vertices, edges):
    parent = list(range(n_vertices))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v in edges:
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
    # label = min id in component
    comp = {}
    for x in range(n_vertices):
        comp.setdefault(find(x), []).append(x)
    return {x: min(members) for members in comp.values() for x in members}


def test_simple_chain(spark):
    edges = spark.createDataFrame([(0, 1), (1, 2), (2, 3), (5, 6)], ["src", "dst"])
    verts = spark.createDataFrame([(i,) for i in range(8)], ["id"])
    got = {
        r["id"]: r["component"]
        for r in connected_components(edges, vertices=verts).collect()
    }
    assert got == {0: 0, 1: 0, 2: 0, 3: 0, 4: 4, 5: 5, 6: 5, 7: 7}


def test_random_graph_matches_union_find(spark, monkeypatch):
    rng = random.Random(13)
    n = 300
    edges = [(rng.randrange(n), rng.randrange(n)) for _ in range(220)]
    expected = _uf_components(n, edges)
    edf = spark.createDataFrame(edges, ["src", "dst"]).repartition(4)
    vdf = spark.createDataFrame([(i,) for i in range(n)], ["id"])
    # both physical strategies must agree with the oracle
    for thr in (5_000_000, 0):  # driver union-find / distributed star-contraction
        monkeypatch.setattr(components, "_DRIVER_PAIRS_THRESHOLD", thr)
        got = {
            r["id"]: r["component"]
            for r in connected_components(edf, vertices=vdf).collect()
        }
        assert got == expected, f"strategy threshold={thr}"


def test_self_loops_and_duplicates(spark):
    edges = spark.createDataFrame(
        [(1, 1), (1, 2), (2, 1), (1, 2), (3, 3)], ["src", "dst"]
    )
    verts = spark.createDataFrame([(1,), (2,), (3,)], ["id"])
    got = {
        r["id"]: r["component"]
        for r in connected_components(edges, vertices=verts).collect()
    }
    assert got == {1: 1, 2: 1, 3: 3}


def test_empty_edges(spark):
    edges = spark.createDataFrame([], "src long, dst long")
    verts = spark.createDataFrame([(1,), (2,)], ["id"])
    got = {
        r["id"]: r["component"]
        for r in connected_components(edges, vertices=verts).collect()
    }
    assert got == {1: 1, 2: 2}


def test_hybrid_early_exit_matches_other_strategies(spark, monkeypatch):
    """A threshold between 0 and the edge count triggers >=1 distributed
    round followed by the driver union-find finish; labels must equal
    both pure strategies (min member id per component)."""
    import random

    rng = random.Random(11)
    n = 400
    edges = [(rng.randrange(n), rng.randrange(n)) for _ in range(600)]
    edf = spark.createDataFrame(edges, ["src", "dst"])
    monkeypatch.setattr(components, "_DRIVER_PAIRS_THRESHOLD", 10_000_000)
    baseline = {
        r["id"]: r["component"] for r in connected_components(edf).collect()
    }
    for thr in (50, 200, 500):
        monkeypatch.setattr(components, "_DRIVER_PAIRS_THRESHOLD", thr)
        got = {r["id"]: r["component"] for r in connected_components(edf).collect()}
        assert got == baseline, f"hybrid threshold={thr}"


def _pr_reference(edges, n_iter, d=85, scale=10**12):
    from collections import Counter

    E = sorted(set(edges))
    nodes = sorted({u for e in E for u in e})
    deg = Counter(u for u, _ in E)
    n = len(nodes)
    p = {v: scale // n for v in nodes}
    base = (scale - scale * d // 100) // n
    for _ in range(n_iter):
        s = {v: 0 for v in nodes}
        for u, w in E:
            s[w] += (p[u] * d) // (100 * deg[u])
        p = {v: base + s[v] for v in nodes}
    return {v: round(p[v] / scale, 8) for v in nodes}


def test_pagerank_matches_python_reference(spark):
    import random

    from dbscan_pyspark_spark.operators.components import pagerank

    rng = random.Random(5)
    edges = [(rng.randrange(30), rng.randrange(30)) for _ in range(120)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r["node"]: r["pagerank"] for r in pagerank(df, n_iter=3).collect()}
    assert got == _pr_reference(edges, 3)


def test_pagerank_hub_ranks_highest(spark):
    from dbscan_pyspark_spark.operators.components import pagerank

    # every node points at 0; 0 points at 1
    edges = [(i, 0) for i in range(1, 10)] + [(0, 1)]
    df = spark.createDataFrame(edges, "src long, dst long")
    out = {r["node"]: r["pagerank"] for r in pagerank(df, n_iter=4).collect()}
    # node 1 receives the hub's whole damped mass each round -> highest;
    # the hub (fed by 9 leaves) comes second; leaves trail
    assert max(out, key=out.get) == 1
    assert out[0] > out[2]


def test_pagerank_deterministic_and_mass_bounded(spark):
    import random

    from dbscan_pyspark_spark.operators.components import pagerank

    rng = random.Random(9)
    edges = [(rng.randrange(50), rng.randrange(50)) for _ in range(200)]
    df = spark.createDataFrame(edges, "src long, dst long")
    a = sorted(map(tuple, pagerank(df, n_iter=3).collect()))
    b = sorted(map(tuple, pagerank(df, n_iter=3).collect()))
    assert a == b
    total = sum(p for _, p in a)
    # truncating integer ops + dangling absorption only ever LOSE mass
    # (tolerance: per-node 8-digit output rounding can add ~5e-9 each)
    assert 0 < total <= 1.0 + 5e-9 * len(a)


def test_hits_matches_integer_replay(spark):
    """Fixed-round integer HITS must replay bit-for-bit in plain Python
    (micro-unit grid, max-normalization via integer division)."""
    from dbscan_pyspark_spark.operators.components import hits

    edges = [(1, 101), (1, 102), (2, 101), (3, 101), (3, 103), (4, 104)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {
        r["node"]: (r["hub"], r["authority"])
        for r in hits(df, n_iter=2).collect()
    }
    S = 1_000_000
    nodes = sorted({u for u, _ in edges} | {v for _, v in edges})
    a = {n: S for n in nodes}
    h = {}
    for _ in range(2):
        hr = {}
        for u, v in edges:
            hr[u] = hr.get(u, 0) + a[v]
        m = max(hr.values())
        h = {n: (hr.get(n, 0) * S) // m for n in nodes}
        ar = {}
        for u, v in edges:
            ar[v] = ar.get(v, 0) + h[u]
        m = max(ar.values())
        a = {n: (ar.get(n, 0) * S) // m for n in nodes}
    want = {n: (round(h[n] / S, 6), round(a[n] / S, 6)) for n in nodes}
    assert got == want
    # the best-connected hub and the most-pointed-at authority win
    assert got[101][1] == 1.0
    assert got[1][0] == 1.0 and got[3][0] == 1.0


def test_hits_duplicate_edges_collapse(spark):
    from dbscan_pyspark_spark.operators.components import hits

    once = spark.createDataFrame([(1, 2), (3, 2)], "src long, dst long")
    dup = spark.createDataFrame(
        [(1, 2), (1, 2), (3, 2), (3, 2)], "src long, dst long"
    )
    k = lambda df: sorted(  # noqa: E731
        (r["node"], r["hub"], r["authority"]) for r in hits(df).collect()
    )
    assert k(once) == k(dup)


def test_hits_overflow_guard_fires_and_validates_n_iter(spark):
    import pytest as _pytest

    from dbscan_pyspark_spark.operators.components import hits

    edges = spark.createDataFrame([(1, 2)], "src long, dst long")
    # scale = 2^33 makes max_safe ~2^30 while round-1 raw hub scores
    # start at `scale` — the driver-side guard must raise, not wrap
    with _pytest.raises(ValueError, match="overflow"):
        hits(edges, n_iter=1, scale=1 << 33).collect()
    with _pytest.raises(ValueError, match="n_iter"):
        hits(edges, n_iter=0)


# ---------------------------------------------------------------------------
# label propagation


def _py_lpa(edges, n_iter):
    """Synchronous LPA replay: mode of neighbor labels, ties to the
    smallest label, neighborless nodes keep their own."""
    nbrs: dict = {}
    nodes = set()
    for s, d in edges:
        nodes.update((s, d))
        if s != d:
            nbrs.setdefault(s, set()).add(d)
            nbrs.setdefault(d, set()).add(s)
    lbl = {v: v for v in nodes}
    for _ in range(n_iter):
        new = {}
        for v in nodes:
            ns = nbrs.get(v)
            if not ns:
                new[v] = lbl[v]
                continue
            cnt: dict = {}
            for u in ns:
                cnt[lbl[u]] = cnt.get(lbl[u], 0) + 1
            new[v] = min(cnt, key=lambda lab: (-cnt[lab], lab))
        lbl = new
    return lbl


def test_label_propagation_two_cliques(spark):
    from dbscan_pyspark_spark.operators.components import label_propagation

    clique_a = [(0, 1), (0, 2), (1, 2)]
    clique_b = [(10, 11), (10, 12), (11, 12)]
    bridge = [(2, 10)]
    edges = spark.createDataFrame(
        clique_a + clique_b + bridge, "src long, dst long"
    )
    got = {
        r.node: r.community for r in label_propagation(edges, n_iter=4).collect()
    }
    assert got == _py_lpa(clique_a + clique_b + bridge, 4)
    # the two triangles resolve to separate communities
    assert len({got[0], got[1], got[2]} | {got[10], got[11], got[12]}) >= 2
    assert got[0] == got[1] == got[2]


def test_label_propagation_matches_python_replay_random(spark):
    import random

    from dbscan_pyspark_spark.operators.components import label_propagation

    rng = random.Random(7)
    edges = list(
        {
            (rng.randrange(30), rng.randrange(30))
            for _ in range(80)
        }
    )
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r.node: r.community for r in label_propagation(df, n_iter=3).collect()}
    assert got == _py_lpa(edges, 3)


def test_label_propagation_self_loop_only_node_keeps_label(spark):
    from dbscan_pyspark_spark.operators.components import label_propagation

    edges = spark.createDataFrame(
        [(1, 2), (5, 5)], "src long, dst long"
    )
    got = {r.node: r.community for r in label_propagation(edges, n_iter=2).collect()}
    assert got[5] == 5
    # 1 and 2 swap labels each sync round: after 2 rounds both are home
    assert got[1] == 1 and got[2] == 2


def test_label_propagation_validates_n_iter(spark):
    import pytest as _pytest

    from dbscan_pyspark_spark.operators.components import label_propagation

    edges = spark.createDataFrame([(1, 2)], "src long, dst long")
    with _pytest.raises(ValueError, match="n_iter"):
        label_propagation(edges, n_iter=0)


# ---------------------------------------------------------------------------
# personalized pagerank


def _py_ppr(edges, seeds, n_iter, d=85, scale=10**12):
    """Integer-grid replay of the personalized variant."""
    e = sorted(set(edges))
    nodes = sorted({v for p in e for v in p})
    sd = sorted(set(seeds) & set(nodes))
    outdeg = {}
    for s, _ in e:
        outdeg[s] = outdeg.get(s, 0) + 1
    p = {v: (scale // len(sd) if v in sd else 0) for v in nodes}
    base = (scale - scale * d // 100) // len(sd)
    for _ in range(n_iter):
        c = {v: 0 for v in nodes}
        for s, t in e:
            c[t] += (p[s] * d) // (100 * outdeg[s])
        p = {v: (base if v in sd else 0) + c[v] for v in nodes}
    return {v: round(p[v] / scale, 8) for v in nodes}


def test_personalized_pagerank_matches_python_replay(spark):
    from dbscan_pyspark_spark.operators.components import pagerank

    edges = [(1, 2), (2, 3), (3, 1), (3, 4), (4, 5), (5, 3), (6, 1)]
    df = spark.createDataFrame(edges, "src long, dst long")
    seeds = spark.createDataFrame([(1,), (99,)], "node long")  # 99 absent
    got = {
        r.node: r.pagerank
        for r in pagerank(df, n_iter=3, seeds=seeds).collect()
    }
    assert got == _py_ppr(edges, [1], 3)
    # mass concentrates near the seed: the seed outranks the sink 5
    assert got[1] > got[5]


def test_personalized_pagerank_seedless_matches_classic(spark):
    from dbscan_pyspark_spark.operators.components import pagerank

    edges = spark.createDataFrame(
        [(1, 2), (2, 1), (2, 3)], "src long, dst long"
    )
    classic = {r.node: r.pagerank for r in pagerank(edges, n_iter=2).collect()}
    all_seeds = spark.createDataFrame([(1,), (2,), (3,)], "node long")
    seeded = {
        r.node: r.pagerank
        for r in pagerank(edges, n_iter=2, seeds=all_seeds).collect()
    }
    assert classic == seeded  # seeding with ALL nodes is the classic walk


def test_personalized_pagerank_rejects_disjoint_seeds(spark):
    import pytest as _pytest

    from dbscan_pyspark_spark.operators.components import pagerank

    edges = spark.createDataFrame([(1, 2)], "src long, dst long")
    seeds = spark.createDataFrame([(42,)], "node long")
    with _pytest.raises(ValueError, match="no seed node"):
        pagerank(edges, n_iter=1, seeds=seeds)


# ---------------------------------------------------------------------------
# weighted pagerank


def _py_wpr(wedges, n_iter, d=85, scale=10**12):
    """Integer-grid replay of the weighted variant."""
    agg = {}
    for s, t, w in wedges:
        agg[(s, t)] = agg.get((s, t), 0) + w
    e = [(s, t, w) for (s, t), w in agg.items() if w > 0]
    nodes = sorted({v for s, t, _ in e for v in (s, t)})
    W = {}
    for s, _, w in e:
        W[s] = W.get(s, 0) + w
    n = len(nodes)
    p = {v: scale // n for v in nodes}
    base = (scale - scale * d // 100) // n
    for _ in range(n_iter):
        c = {v: 0 for v in nodes}
        for s, t, w in e:
            c[t] += ((p[s] * d) // 100) * w // W[s]
        p = {v: base + c[v] for v in nodes}
    return {v: round(p[v] / scale, 8) for v in nodes}


def test_weighted_pagerank_matches_python_replay(spark):
    from dbscan_pyspark_spark.operators.components import pagerank

    # parallel edges: 1->2 x3, 1->3 x1 — weighted must favor node 2;
    # the unweighted variant sees the same DISTINCT graph either way
    wedges = [(1, 2, 1), (1, 2, 1), (1, 2, 1), (1, 3, 1), (2, 1, 2), (3, 1, 1)]
    df = spark.createDataFrame(wedges, "src long, dst long, w long")
    got = {
        r.node: r.pagerank
        for r in pagerank(df, n_iter=3, weight_col="w").collect()
    }
    assert got == _py_wpr(wedges, 3)
    assert got[2] > got[3]
    unw = {
        r.node: r.pagerank for r in pagerank(df, n_iter=3).collect()
    }
    assert unw[2] == unw[3]  # multiplicity invisible to the DISTINCT walk


def test_weighted_pagerank_overflow_guard(spark):
    import pytest as _pytest

    from dbscan_pyspark_spark.operators.components import pagerank

    df = spark.createDataFrame(
        [(1, 2, 10**12)], "src long, dst long, w long"
    )
    with _pytest.raises(ValueError, match="overflow"):
        pagerank(df, n_iter=1, weight_col="w")


def test_coalesce_flip_guard_is_refcounted():
    """Concurrent/nested CC runs share the session-global AQE
    coalescing flip: the first entry snapshots, the LAST exit restores
    (an interleaved save/restore pair must not leave the session with
    coalescing disabled)."""
    from dbscan_pyspark_spark.operators import components as C

    class FakeConf:
        def __init__(self):
            self.d = {C._COALESCE_KEY: "true"}

        def get(self, k, dflt=None):
            return self.d.get(k, dflt)

        def set(self, k, v):
            self.d[k] = v

        def unset(self, k):
            self.d.pop(k, None)

    class FakeSpark:
        def __init__(self):
            self.conf = FakeConf()

    s = FakeSpark()
    C._coalesce_flip_enter(s)
    C._coalesce_flip_enter(s)  # overlapping second run
    assert s.conf.get(C._COALESCE_KEY) == "false"
    C._coalesce_flip_exit(s)
    assert s.conf.get(C._COALESCE_KEY) == "false"  # still held by run 2
    C._coalesce_flip_exit(s)
    assert s.conf.get(C._COALESCE_KEY) == "true"  # restored exactly once
    # previously-unset conf is unset again on last exit
    s2 = FakeSpark()
    s2.conf.d.clear()
    C._coalesce_flip_enter(s2)
    C._coalesce_flip_exit(s2)
    assert C._COALESCE_KEY not in s2.conf.d


def test_driver_union_find_failure_falls_back(spark, monkeypatch):
    """A driver union-find that runs out of memory hands the graph to
    star contraction, with identical labels: a chain, a self-loop-only
    vertex and an isolated vertex from ``vertices=``."""
    edges = spark.createDataFrame([(0, 1), (1, 2), (3, 3)], ["src", "dst"])
    verts = spark.createDataFrame([(i,) for i in range(5)], ["id"])
    want = {r["id"]: r["component"] for r in connected_components(edges, vertices=verts).collect()}
    calls = []

    def oom(*args, **kwargs):
        calls.append(1)
        raise MemoryError("driver out of memory")

    monkeypatch.setattr(components, "_driver_union_find", oom)
    got = {r["id"]: r["component"] for r in connected_components(edges, vertices=verts).collect()}
    assert calls == [1]  # tried once; no hybrid finish retries it
    assert got == want == {0: 0, 1: 0, 2: 0, 3: 3, 4: 4}


def test_null_endpoints_dropped_on_both_paths(spark, monkeypatch):
    """An edge with a NULL endpoint is dropped before the size gate, so
    the driver union-find and star contraction (forced by a zero bound)
    read the same edge set."""
    edges = spark.createDataFrame([(0, 1), (1, None), (2, 3)], "src long, dst long")
    driver = {r["id"]: r["component"] for r in connected_components(edges).collect()}
    monkeypatch.setattr(components, "_DRIVER_PAIRS_THRESHOLD", 0)
    twin = {r["id"]: r["component"] for r in connected_components(edges).collect()}
    assert driver == twin == {0: 0, 1: 0, 2: 2, 3: 2}


def test_on_driver_gate(monkeypatch):
    """The seam alone: the driver path up to the bound, the twin above it
    and on a declared failure, any other exception propagates, and a
    zero bound forces the twin even for empty input."""

    def run(cells, exc=None):
        def driver():
            if exc is not None:
                raise exc
            return "driver"

        return components._on_driver(cells, driver, lambda: "twin")

    bound = components._DRIVER_PAIRS_THRESHOLD
    assert (run(0), run(bound), run(bound + 1)) == ("driver", "driver", "twin")
    declared = (components._Declined(), MemoryError(), ImportError(), pa.ArrowInvalid())
    for exc in declared:
        assert run(1, exc) == "twin", exc
    for exc in (ValueError("bug"), TypeError("bug")):
        with pytest.raises(type(exc), match="bug"):
            run(1, exc)
    monkeypatch.setattr(components, "_DRIVER_PAIRS_THRESHOLD", 0)
    assert run(0) == "twin"


# -- fault injection at every driver-or-twin site ------------------------------
# Each site: (pair bound or None for the default, module and kernel of its
# driver path, a run on the smallest input that reaches the twin). The
# runs return value lists, compared with pytest.approx.


def _cc_run(spark):
    # a duplicate, a cycle and a self-loop: 5 raw edges, 3 canonical
    edges = spark.createDataFrame(
        [(0, 1), (1, 0), (1, 2), (2, 0), (3, 3)], "src long, dst long"
    )
    return sorted(map(tuple, connected_components(edges).collect()))


def _points(spark):
    # two 4-point plus shapes and one far point
    plus = [(0.0, 0.0), (1.0, 0.0), (-1.0, 0.0), (0.0, 1.0)]
    pts = [(i, [x, y]) for i, (x, y) in enumerate(plus)]
    pts += [(10 + i, [x + 10.0, y]) for i, (x, y) in enumerate(plus)]
    pts.append((99, [5.0, 5.0]))
    return _local_frame(spark, pts, "id long, features array<double>")


def _dbscan_run(spark):
    from dbscan_pyspark_spark.operators.dbscan import dbscan

    return sorted(map(tuple, dbscan(_points(spark), 1.5, 3).collect()))


def _eps_sweep_run(spark):
    from dbscan_pyspark_spark.operators.anonymize import eps_sweep

    metrics, best = eps_sweep(_points(spark), [1.5, 2.0], 3)
    return [best] + [v for r in sorted(map(tuple, metrics.collect())) for v in r]


def _kmember_run(spark):
    from dbscan_pyspark_spark.operators.kmember import kmember_kmeans

    res = kmember_kmeans(_points(spark), k=3, n_clusters=2, max_iter=1)
    rows = sorted(map(tuple, res.assignments.collect()))
    rows += sorted((c, tuple(v), n) for c, v, n in res.centroids.collect())
    return rows + [res.cost, res.n_iter]


def _kmeans_run(spark):
    from dbscan_pyspark_spark.operators.kmeans import kmeans_fit

    assign, cents = kmeans_fit(
        _points(spark), k=2, n_iter=1, vec_col="features", id_col="id"
    )
    return sorted(map(tuple, assign.collect())) + cents


_SITES = {
    "cc_start": (None, "components", "_union", _cc_run),
    # 5 raw edges over a bound of 4: a star round, then the driver finish
    "cc_finish": (4, "components", "_union", _cc_run),
    "dbscan_rep_labels": (None, "dbscan", "_kruskal", _dbscan_run),
    "eps_sweep_score_levels": (None, "anonymize", "_driver_dist", _eps_sweep_run),
    "kmember_kmeans": (None, "kmember", "_driver_dist", _kmember_run),
    "kmeans_fit": (None, "kmeans", "_lloyd", _kmeans_run),
}


@pytest.mark.parametrize("site", list(_SITES))
def test_driver_faults_fall_back_or_propagate(spark, monkeypatch, site):
    """``_Declined`` and MemoryError raised inside a site's driver kernel
    fall back to its twin with the driver path's result, tried once;
    a plain ValueError (a bug of the kernel) propagates."""
    bound, modname, kernel, run = _SITES[site]
    if bound is not None:
        monkeypatch.setattr(components, "_DRIVER_PAIRS_THRESHOLD", bound)
    mod = importlib.import_module(f"dbscan_pyspark_spark.operators.{modname}")
    real = getattr(mod, kernel)
    calls = []

    def spy(*args, **kwargs):
        calls.append(1)
        return real(*args, **kwargs)

    monkeypatch.setattr(mod, kernel, spy)
    want = run(spark)
    assert calls, "the driver path did not run"
    for exc in (components._Declined("no"), MemoryError("oom"), ValueError("bug")):
        calls.clear()

        def fail(*args, exc=exc, **kwargs):
            calls.append(1)
            raise exc

        monkeypatch.setattr(mod, kernel, fail)
        if isinstance(exc, ValueError):
            with pytest.raises(ValueError, match="bug"):
                run(spark)
        else:
            assert run(spark) == pytest.approx(want), exc
        assert calls == [1], exc  # tried once, never retried
