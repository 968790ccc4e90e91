"""Property-based tests (hypothesis): the operators most prone to
boundary bugs, checked against brute-force Python oracles on randomized
inputs. Few examples per property (each example runs Spark jobs), but
each run explores fresh shapes: negative/duplicate coordinates, points
exactly at eps (strict <), self-loop/duplicate/mirrored edges, and the
distributed star-contraction path that sf-scale tests rarely touch.
"""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from dbscan_pyspark_spark.operators import components
from dbscan_pyspark_spark.operators.components import connected_components
from dbscan_pyspark_spark.operators.eps_join import eps_join
from dbscan_pyspark_spark.operators.windows import anti_top_k_per_group, top_k_per_group

SET = settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

points_strategy = st.lists(
    st.tuples(st.integers(-5, 5), st.integers(-5, 5)),
    min_size=2,
    max_size=25,
)
# .5 offsets land pairs exactly ON the eps boundary -> strict-< coverage
eps_strategy = st.sampled_from([0.5, 1.0, 2.0, 2.5, 3.0, 5.5])


@pytest.mark.slow
@SET
@given(pts=points_strategy, eps=eps_strategy)
def test_eps_join_matches_bruteforce(spark, pts, eps):
    rows = [(i, [float(x), float(y)]) for i, (x, y) in enumerate(pts)]
    df = spark.createDataFrame(rows, "id long, features array<double>")
    got = {
        (r["a_id"], r["b_id"])
        for r in eps_join(df, df, eps, metric="l1", keep_distance=False).collect()
    }
    want = {
        (i, j)
        for i, (xi, yi) in enumerate(pts)
        for j, (xj, yj) in enumerate(pts)
        if abs(xi - xj) + abs(yi - yj) < eps
    }
    assert got == want


@pytest.mark.slow
@SET
@given(pts=points_strategy, eps=eps_strategy)
def test_eps_join_unique_pairs_is_half_relation(spark, pts, eps):
    rows = [(i, [float(x), float(y)]) for i, (x, y) in enumerate(pts)]
    df = spark.createDataFrame(rows, "id long, features array<double>")
    got = {
        (r["a_id"], r["b_id"])
        for r in eps_join(
            df, df, eps, metric="l1", keep_distance=False, unique_pairs=True
        ).collect()
    }
    want = {
        (i, j)
        for i, (xi, yi) in enumerate(pts)
        for j, (xj, yj) in enumerate(pts)
        if i < j and abs(xi - xj) + abs(yi - yj) < eps
    }
    assert got == want


edges_strategy = st.lists(
    st.tuples(st.integers(0, 12), st.integers(0, 12)),  # incl. self-loops
    min_size=1,
    max_size=30,
)


def _python_components(edges):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v in edges:
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
    # label every participant with the min id of its component
    labels = {}
    for x in parent:
        root = find(x)
        labels.setdefault(root, []).append(x)
    out = {}
    for members in labels.values():
        m = min(members)
        for x in members:
            out[x] = m
    return out


@SET
@given(edges=edges_strategy)
def test_components_driver_path_matches_union_find(spark, edges):
    e = spark.createDataFrame(edges, "src long, dst long")
    got = {
        r["id"]: r["component"]
        for r in connected_components(e, id_col="id").collect()
    }
    assert got == _python_components(edges)


@pytest.mark.slow
@SET
@given(edges=edges_strategy)
def test_components_star_contraction_matches_union_find(spark, edges):
    e = spark.createDataFrame(edges, "src long, dst long")
    with pytest.MonkeyPatch.context() as m:
        m.setattr(components, "_DRIVER_PAIRS_THRESHOLD", 0)
        got = {
            r["id"]: r["component"]
            for r in connected_components(e, id_col="id").collect()
        }
    assert got == _python_components(edges)


groups_strategy = st.lists(
    st.tuples(st.integers(0, 3), st.integers(0, 100)),
    min_size=1,
    max_size=30,
)


@SET
@given(rows=groups_strategy, k=st.integers(1, 5))
def test_topk_and_antitopk_partition_each_group(spark, rows, k):
    df = spark.createDataFrame(
        [(g, v, i) for i, (g, v) in enumerate(rows)], "g int, v int, rid int"
    )
    order = [F.col("v").asc(), F.col("rid").asc()]
    top = top_k_per_group(df, ["g"], order, k).select("g", "rid").collect()
    rest = anti_top_k_per_group(df, ["g"], order, k).select("g", "rid").collect()
    top_ids = {r["rid"] for r in top}
    rest_ids = {r["rid"] for r in rest}
    assert top_ids.isdisjoint(rest_ids)
    assert top_ids | rest_ids == set(range(len(rows)))
    # per group: the kept set is exactly the k smallest by (v, rid)
    by_group = {}
    for i, (g, v) in enumerate(rows):
        by_group.setdefault(g, []).append((v, i))
    for g, members in by_group.items():
        want = {i for _, i in sorted(members)[:k]}
        assert {r["rid"] for r in top if r["g"] == g} == want


# --- funnel: random event logs vs a pure-Python simulation ---

events_strategy = st.lists(
    st.tuples(
        st.integers(0, 5),          # user
        st.integers(0, 50),         # ts (seconds)
        st.sampled_from(["a", "b", "c", "x"]),  # step types + noise
    ),
    min_size=0,
    max_size=40,
)


def _funnel_bruteforce(events, steps):
    """Earliest step_i strictly after the user's step_{i-1} time."""
    reached = []
    by_user = {}
    for u, t, ty in events:
        by_user.setdefault(u, []).append((t, ty))
    times = {}
    for u, evs in by_user.items():
        prev = None
        ts_list = []
        for step in steps:
            cand = [
                t for t, ty in evs
                if ty == step and (prev is None or t > prev)
            ]
            if not cand:
                break
            prev = min(cand)
            ts_list.append(prev)
        times[u] = ts_list
    return [
        sum(1 for ts_list in times.values() if len(ts_list) > i)
        for i in range(len(steps))
    ]


@pytest.mark.slow
@SET
@given(events=events_strategy)
def test_funnel_matches_bruteforce(spark, events):
    from dbscan_pyspark_spark.operators.events import funnel

    ev = spark.createDataFrame(
        [(u, f"2024-01-01 00:{t // 60:02d}:{t % 60:02d}", ty) for u, t, ty in events],
        "user_id long, ts string, event_type string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    got = {
        r["step"]: r["n_users"]
        for r in funnel(ev, ["a", "b", "c"]).collect()
    }
    want = _funnel_bruteforce(events, ["a", "b", "c"])
    assert got == {i + 1: want[i] for i in range(3)}


# --- k_distance: random points vs numpy brute force ---

kdist_points = st.lists(
    st.tuples(st.integers(-8, 8), st.integers(-8, 8)),
    min_size=3,
    max_size=20,
)


@pytest.mark.slow
@SET
@given(pts=kdist_points, k=st.integers(1, 3))
def test_k_distance_matches_bruteforce(spark, pts, k):
    from dbscan_pyspark_spark.operators.eps_join import k_distance

    rows = [(i, [float(x), float(y)]) for i, (x, y) in enumerate(pts)]
    df = spark.createDataFrame(rows, "id long, features array<double>")
    got = {
        r["sample_id"]: r["kth_dist"]
        for r in k_distance(df, k=k, n_samples=len(pts)).collect()
    }
    for i, (xi, yi) in enumerate(pts):
        dists = sorted(
            (abs(xi - xj) + abs(yi - yj), j) for j, (xj, yj) in enumerate(pts)
        )
        assert got[i] == float(dists[k - 1][0]), (i, k)


def _python_merge(intervals):
    """Brute-force island merge for one key: sort, sweep."""
    out = []
    for s, e in sorted(intervals):
        if out and s <= out[-1][1]:
            out[-1] = (out[-1][0], max(out[-1][1], e))
        else:
            out.append((s, e))
    return out


@given(
    iv=st.lists(
        st.tuples(st.integers(0, 500), st.integers(0, 200)),
        min_size=1,
        max_size=40,
    )
)
@settings(max_examples=15, deadline=None, suppress_health_check=list(HealthCheck))
def test_merge_intervals_matches_sweep(spark, iv):
    from dbscan_pyspark_spark.operators.events import merge_intervals

    rows = [(1, s, s + d) for s, d in iv]
    df = spark.createDataFrame(rows, "k long, s long, e long")
    got = sorted(
        (r["island_start"], r["island_end"])
        for r in merge_intervals(df, "k", "s", "e").collect()
    )
    assert got == _python_merge([(s, s + d) for s, d in iv])


@given(
    states=st.lists(st.sampled_from(["a", "b", "c", None]), min_size=1, max_size=30)
)
@settings(max_examples=15, deadline=None, suppress_health_check=list(HealthCheck))
def test_scd2_runs_match_python(spark, states):
    from dbscan_pyspark_spark.operators.events import scd2_intervals

    rows = [(i, i, 1, s) for i, s in enumerate(states)]
    df = spark.createDataFrame(rows, "event_id long, ts long, k long, attr string")
    out = sorted(
        scd2_intervals(df, "k", "ts", ["attr"], order_cols=("event_id",)).collect(),
        key=lambda r: r["valid_from"],
    )
    # python reference: run-length compress, intervals chain
    runs = []
    for i, s in enumerate(states):
        if not runs or runs[-1][1] != s:
            runs.append((i, s))
    want = [
        (s, t, runs[j + 1][0] if j + 1 < len(runs) else None)
        for j, (t, s) in enumerate(runs)
    ]
    assert [(r["attr"], r["valid_from"], r["valid_to"]) for r in out] == want


@given(
    ev=st.lists(
        st.tuples(st.integers(0, 5), st.integers(0, 50), st.sampled_from("abc")),
        min_size=2,
        max_size=40,
    )
)
@settings(max_examples=15, deadline=None, suppress_health_check=list(HealthCheck))
def test_transition_counts_matches_python(spark, ev):
    from collections import Counter, defaultdict

    from dbscan_pyspark_spark.operators.events import transition_counts

    rows = [(i, t, u, s) for i, (u, t, s) in enumerate(ev)]
    df = spark.createDataFrame(rows, "event_id long, ts long, user_id long, event_type string")
    got = {
        (r["prev_type"], r["next_type"]): r["n"]
        for r in transition_counts(df).collect()
    }
    seqs = defaultdict(list)
    for i, (u, t, s) in enumerate(ev):
        seqs[u].append((t, i, s))
    want = Counter()
    for u, items in seqs.items():
        items.sort()
        for (_, _, a), (_, _, b) in zip(items, items[1:]):
            want[(a, b)] += 1
    assert got == dict(want)


throttle_events = st.lists(
    st.tuples(
        st.integers(0, 900),   # seconds offset (collisions likely)
        st.integers(1, 3),     # user
    ),
    min_size=1,
    max_size=20,
)


@SET
@given(ev=throttle_events, gap=st.sampled_from([1, 100, 300]))
def test_throttle_dedup_matches_bruteforce(spark, ev, gap):
    """Lag-based debounce vs a brute-force Python replay, including
    duplicate timestamps (ordering tie-broken by event_id)."""
    import datetime

    from dbscan_pyspark_spark.operators.events import throttle_dedup

    base = datetime.datetime(2024, 1, 1)
    rows = [
        (i, base + datetime.timedelta(seconds=s), u, "c")
        for i, (s, u) in enumerate(ev)
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string"
    )
    got = {
        r["event_id"]: r["is_kept"] for r in throttle_dedup(df, gap).collect()
    }
    expect = {}
    by_key = {}
    for i, ts, u, t in rows:
        by_key.setdefault((u, t), []).append((ts, i))
    for key, items in by_key.items():
        prev = None
        for ts, i in sorted(items):
            expect[i] = prev is None or (ts - prev).total_seconds() >= gap
            prev = ts
    assert got == expect


mode_rows = st.lists(
    st.tuples(st.integers(0, 2), st.integers(0, 4)),
    min_size=1,
    max_size=30,
)


@SET
@given(rows=mode_rows)
def test_mode_per_group_matches_bruteforce(spark, rows):
    from collections import Counter

    from dbscan_pyspark_spark.operators.windows import mode_per_group

    df = spark.createDataFrame(rows, "g int, v int")
    got = {
        r["g"]: (r["mode_v"], r["n"])
        for r in mode_per_group(df, ["g"], "v").collect()
    }
    expect = {}
    by_g = {}
    for g, v in rows:
        by_g.setdefault(g, []).append(v)
    for g, vs in by_g.items():
        c = Counter(vs)
        best = min(c.items(), key=lambda kv: (-kv[1], kv[0]))
        expect[g] = best
    assert got == expect


bfs_edges = st.lists(
    st.tuples(st.integers(0, 9), st.integers(0, 9)),
    min_size=1,
    max_size=25,
)


@pytest.mark.slow
@SET
@given(edges=bfs_edges, hops=st.sampled_from([1, 2, 3]))
def test_bfs_hops_matches_bruteforce(spark, edges, hops):
    """BFS levels vs a Python BFS on the same undirected graph
    (self-loops and duplicate/mirrored edges tolerated); seed = node 0."""
    from collections import deque

    from dbscan_pyspark_spark.operators.components import bfs_hops

    df = spark.createDataFrame(edges, "src long, dst long")
    seeds = spark.createDataFrame([(0,)], "id long")
    got = {r["node"]: r["hop"] for r in bfs_hops(df, seeds, hops).collect()}

    adj = {}
    for u, v in edges:
        if u != v:
            adj.setdefault(u, set()).add(v)
            adj.setdefault(v, set()).add(u)
    expect = {0: 0}
    dq = deque([(0, 0)])
    while dq:
        n, h = dq.popleft()
        if h == hops:
            continue
        for m in adj.get(n, ()):
            if m not in expect:
                expect[m] = h + 1
                dq.append((m, h + 1))
    assert got == expect


@pytest.mark.slow
@SET
@given(edges=bfs_edges)
def test_triangle_counts_matches_bruteforce(spark, edges):
    from itertools import combinations

    from dbscan_pyspark_spark.operators.components import triangle_counts

    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r["node"]: r["n_triangles"] for r in triangle_counts(df).collect()}

    und = {tuple(sorted(e)) for e in edges if e[0] != e[1]}
    nodes = {n for e in und for n in e}
    expect = {}
    for a, b, c in combinations(sorted(nodes), 3):
        if {(a, b), (a, c), (b, c)} <= und:
            for n in (a, b, c):
                expect[n] = expect.get(n, 0) + 1
    assert got == expect


# ------------------------------------------------- round-4 curation ops


docs_strategy = st.lists(
    st.tuples(
        st.integers(0, 40),           # doc_id (dups possible -> filtered)
        st.sampled_from(["a", "b", "c", "d"]),
        st.integers(0, 9),            # score
    ),
    min_size=1,
    max_size=30,
    unique_by=lambda t: t[0],
)


@pytest.mark.slow
@SET
@given(docs=docs_strategy, cap=st.integers(1, 5))
def test_source_cap_matches_bruteforce(spark, docs, cap):
    """Top-cap per source under the (score DESC, hash, id) total order
    must equal a Python argsort on the same portable hash values — for
    the default plan AND the two-phase variant."""
    import hashlib

    from dbscan_pyspark_spark.operators.pipeline import source_cap

    df = spark.createDataFrame(docs, "doc_id long, source string, n_chars long")

    def phash(v: int) -> int:
        return int(hashlib.md5(f"srccap:{v}".encode()).hexdigest()[:15], 16)

    want = set()
    by_src: dict[str, list[tuple]] = {}
    for i, s, sc in docs:
        by_src.setdefault(s, []).append((-sc, phash(i), i))
    for s, items in by_src.items():
        for rank, (_, _, i) in enumerate(sorted(items)[:cap], start=1):
            want.add((i, s, rank))
    for buckets in (1, 3):
        got = {
            (r["doc_id"], r["source"], r["src_rank"])
            for r in source_cap(
                df, cap=cap, score_col="n_chars", salt_buckets=buckets
            ).collect()
        }
        assert got == want, (buckets, got, want)


@pytest.mark.slow
@SET
@given(docs=docs_strategy, target=st.integers(1, 20))
def test_temperature_sample_matches_bruteforce(spark, docs, target):
    """The sqrt-law keep decision must replay exactly in Python floats
    (every step correctly rounded), and under-target sources keep all."""
    import hashlib
    import math

    from dbscan_pyspark_spark.operators.pipeline import temperature_sample

    df = spark.createDataFrame(docs, "doc_id long, source string, n_chars long")
    got = {
        (r["doc_id"], r["source"])
        for r in temperature_sample(df, per_source_target=target).collect()
    }
    n_by_src: dict[str, int] = {}
    for _, s, _ in docs:
        n_by_src[s] = n_by_src.get(s, 0) + 1
    want = set()
    for i, s, _ in docs:
        rate = min(1.0, math.sqrt(float(target) / float(n_by_src[s])))
        h = int(hashlib.md5(f"temp:{i}".encode()).hexdigest()[:15], 16) % 1_000_000
        if h < rate * 1_000_000.0:
            want.add((i, s))
    assert got == want
    for s, n in n_by_src.items():
        if n <= target:  # under-target sources keep everything
            assert {(i, t) for i, t, _ in docs if t == s} <= got


snapshot_strategy = st.lists(
    st.tuples(st.integers(0, 12), st.integers(0, 3)),
    min_size=0,
    max_size=15,
    unique_by=lambda t: t[0],
)


@pytest.mark.slow
@SET
@given(old=snapshot_strategy, new=snapshot_strategy)
def test_snapshot_diff_matches_dict_diff(spark, old, new):
    from dbscan_pyspark_spark.operators.pipeline import snapshot_diff

    odf = spark.createDataFrame(old, "id long, v long") if old else (
        spark.createDataFrame([], "id long, v long")
    )
    ndf = spark.createDataFrame(new, "id long, v long") if new else (
        spark.createDataFrame([], "id long, v long")
    )
    got = {
        r["id"]: r["change"]
        for r in snapshot_diff(odf, ndf, ["id"], ["v"]).collect()
    }
    om, nm = dict(old), dict(new)
    want = {}
    for k in set(om) | set(nm):
        if k not in om:
            want[k] = "added"
        elif k not in nm:
            want[k] = "removed"
        elif om[k] == nm[k]:
            want[k] = "same"
        else:
            want[k] = "changed"
    assert got == want


@pytest.mark.slow
@SET
@given(
    a=st.lists(st.integers(-20, 120), min_size=1, max_size=25),
    b=st.lists(st.integers(-20, 120), min_size=1, max_size=25),
)
def test_column_drift_rates_sum_to_one_and_tvd_bounded(spark, a, b):
    from dbscan_pyspark_spark.operators.pipeline import column_drift

    da = spark.createDataFrame([(float(v),) for v in a], "x double")
    db = spark.createDataFrame([(float(v),) for v in b], "x double")
    rows = column_drift(da, db, "x", 0.0, 100.0, 5).collect()
    # rates are rounded to 6dp per bin -> worst-case drift 5e-7 * bins
    assert abs(sum(r["rate_a"] for r in rows) - 1.0) <= 5e-7 * len(rows) + 1e-9
    assert abs(sum(r["rate_b"] for r in rows) - 1.0) <= 5e-7 * len(rows) + 1e-9
    tvd = sum(r["tvd_term"] for r in rows) / 2
    assert -1e-9 <= tvd <= 1.0 + 1e-9
    assert sum(r["n_a"] for r in rows) == len(a)  # clamping loses no rows
    assert sum(r["n_b"] for r in rows) == len(b)


directed_edges_strategy = st.lists(
    st.tuples(st.integers(0, 6), st.integers(0, 6)),
    min_size=1,
    max_size=18,
)


@pytest.mark.slow
@SET
@given(edges=directed_edges_strategy, n_iter=st.integers(1, 3))
def test_hits_matches_integer_replay(spark, edges, n_iter):
    from dbscan_pyspark_spark.operators.components import hits

    df = spark.createDataFrame(edges, "src long, dst long")
    got = {
        r["node"]: (r["hub"], r["authority"])
        for r in hits(df, n_iter=n_iter).collect()
    }
    S = 1_000_000
    es = sorted(set(edges))
    nodes = sorted({u for u, _ in es} | {v for _, v in es})
    a = {n: S for n in nodes}
    h = {n: 0 for n in nodes}
    for _ in range(n_iter):
        hr = {}
        for u, v in es:
            hr[u] = hr.get(u, 0) + a[v]
        m = max(hr.values())
        h = {n: (hr.get(n, 0) * S) // m for n in nodes}
        ar = {}
        for u, v in es:
            ar[v] = ar.get(v, 0) + h[u]
        m = max(ar.values())
        a = {n: (ar.get(n, 0) * S) // m for n in nodes}
    want = {n: (round(h[n] / S, 6), round(a[n] / S, 6)) for n in nodes}
    assert got == want


docs_strategy = st.lists(
    # small vocab ('a'..'e') makes duplicated windows COMMON, which is
    # exactly the regime the anchor merge has to get right
    st.lists(st.sampled_from("abcde"), min_size=0, max_size=14),
    min_size=1,
    max_size=8,
)


@SET
@given(docs=docs_strategy, k=st.integers(2, 4))
def test_duplicated_spans_matches_bruteforce(spark, docs, k):
    from dbscan_pyspark_spark.operators.dedup import duplicated_spans

    rows = [(i, " ".join(toks)) for i, toks in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = sorted(
        (r["doc_id"], r["span_start"], r["span_len"])
        for r in duplicated_spans(df, k=k).collect()
    )

    # brute force: count every k-window across the corpus, anchor
    # positions whose window occurs >= 2 times, merge consecutive runs
    from collections import Counter

    wins = Counter()
    for i, toks in enumerate(docs):
        for p in range(len(toks) - k + 1):
            wins[tuple(toks[p : p + k])] += 1
    want = []
    for i, toks in enumerate(docs):
        anchors = [
            p
            for p in range(len(toks) - k + 1)
            if wins[tuple(toks[p : p + k])] >= 2
        ]
        run_start = None
        prev = None
        for p in anchors + [None]:
            if p is not None and prev is not None and p == prev + 1:
                prev = p
                continue
            if run_start is not None:
                want.append((i, run_start, prev - run_start + k))
            run_start, prev = p, p
    assert got == sorted(want)


@pytest.mark.slow
@SET
@given(
    avails=st.lists(st.integers(0, 50), min_size=1, max_size=8),
    budget=st.integers(0, 300),
)
def test_budget_waterfill_invariants(spark, avails, budget):
    """Conservation, caps, and max-min fairness (no source could give
    one unit to a strictly lower-allocated non-full source) on random
    shapes — zero-avail sources, all-fit, none-fit, remainder edges."""
    from dbscan_pyspark_spark.operators.pipeline import budget_waterfill

    df = spark.createDataFrame(
        [(f"s{i}", a) for i, a in enumerate(avails)],
        "source string, avail long",
    )
    got = {
        r["source"]: (r["avail"], r["alloc"])
        for r in budget_waterfill(df, budget).collect()
    }
    assert len(got) == len(avails)
    assert all(0 <= alloc <= avail for avail, alloc in got.values())
    assert sum(a for _, a in got.values()) == min(budget, sum(avails))
    # max-min: a transfer from a higher-allocated source to a lower-
    # allocated NON-FULL source must never raise the minimum — i.e. no
    # pair (alloc_hi, alloc_lo) with alloc_hi > alloc_lo + 1 where lo
    # is below its cap
    vals = sorted(
        (alloc, avail) for avail, alloc in got.values()
    )
    for alloc_lo, avail_lo in vals:
        if alloc_lo < avail_lo:  # lo could absorb more
            assert all(
                alloc_hi <= alloc_lo + 1 for alloc_hi, _ in vals
            ), (budget, got)


# PNG is the one bit-exact codec with a combinatorial surface (color
# type x depth x filters x interlace x awkward dims) — a pure-Python
# property needs no Spark session, so it affords many examples.
png_config_strategy = st.tuples(
    st.integers(1, 17),  # width
    st.integers(1, 13),  # height
    st.sampled_from(
        [  # (channels-or-palette, depth)
            (1, 1), (1, 2), (1, 4), (1, 8), (1, 16),
            (2, 8), (2, 16), (3, 8), (3, 16), (4, 8), (4, 16),
            ("pal", 1), ("pal", 2), ("pal", 4), ("pal", 8),
        ]
    ),
    st.booleans(),  # interlace
    st.lists(st.integers(0, 4), min_size=1, max_size=7),  # row filters
    st.randoms(use_true_random=False),
)


@settings(max_examples=60, deadline=None)
@given(cfg=png_config_strategy)
def test_png_roundtrip_property(cfg):
    """decode(encode(pixels)) is exact for EVERY legal PNG layout: any
    dims (incl. Adam7 passes that are empty or partial and sub-byte
    rows with pad bits), any filter sequence, every depth/type pair —
    16-bit comes back as high bytes, sub-byte gray scales 0..255,
    palette expands through PLTE."""
    from dbscan_pyspark_spark.operators.multimodal import (
        _decode_png,
        _encode_png,
    )

    w, h, (kind, depth), interlace, filters, rng = cfg
    if kind == "pal":
        n = 1 << depth
        pal = [
            (rng.randrange(256), rng.randrange(256), rng.randrange(256))
            for _ in range(n)
        ]
        pix = bytes(rng.randrange(n) for _ in range(w * h))
        enc = _encode_png(
            w, h, pix, row_filters=filters, depth=depth, palette=pal,
            interlace=interlace,
        )
        exp = (w, h, 3, b"".join(bytes(pal[i]) for i in pix))
    elif depth < 8:
        mask = (1 << depth) - 1
        pix = bytes(rng.randrange(mask + 1) for _ in range(w * h))
        enc = _encode_png(
            w, h, pix, channels=1, row_filters=filters, depth=depth,
            interlace=interlace,
        )
        exp = (w, h, 1, bytes(v * 255 // mask for v in pix))
    elif depth == 16:
        ch = kind
        hi = bytes(rng.randrange(256) for _ in range(w * h * ch))
        pix = b"".join(
            bytes([v, rng.randrange(256)]) for v in hi
        )
        enc = _encode_png(
            w, h, pix, channels=ch, row_filters=filters, depth=16,
            interlace=interlace,
        )
        exp = (w, h, ch, hi)
    else:
        ch = kind
        pix = bytes(rng.randrange(256) for _ in range(w * h * ch))
        enc = _encode_png(
            w, h, pix, channels=ch, row_filters=filters,
            interlace=interlace,
        )
        exp = (w, h, ch, pix)
    assert _decode_png(enc) == exp


jpeg_config_strategy = st.tuples(
    st.integers(1, 20),  # width
    st.integers(1, 18),  # height
    st.sampled_from(
        [  # (channels, subsampling, precision)
            (1, "4:4:4", 8), (3, "4:4:4", 8), (3, "4:2:2", 8),
            (3, "4:2:0", 8), (1, "4:4:4", 12), (3, "4:4:4", 12),
            (3, "4:2:0", 12),
        ]
    ),
    st.booleans(),  # progressive (8-bit only; falls back to baseline)
    st.sampled_from([0, 2, 5]),  # restart interval
    st.randoms(use_true_random=False),
)


@settings(max_examples=40, deadline=None)
@given(cfg=jpeg_config_strategy)
def test_jpeg_structural_property(cfg):
    """Across the full encode matrix (channels x subsampling x
    precision x progressive x restarts x awkward dims): decode
    recovers exact dimensions/channels, and a FLAT image — DC only,
    quantization-immune at q95 — survives within 1 level per channel
    (subsampled chroma included: a flat field box-averages and
    replicates to itself)."""
    from dbscan_pyspark_spark.operators.jpeg import (
        decode_jpeg,
        encode_jpeg,
        encode_progressive_jpeg,
    )

    w, h, (ch, sub, prec), progressive, rst, rng = cfg
    maxv = (1 << prec) - 1
    flat = [rng.randrange(maxv + 1)] * (w * h * ch)
    if prec == 8:
        flat_in = bytes(flat)
    else:
        flat_in = flat
    if progressive and prec == 8 and rst == 0:
        payload = encode_progressive_jpeg(
            w, h, flat_in, ch, 95, subsampling=sub
        )
    else:
        payload = encode_jpeg(
            w, h, flat_in, ch, 95, subsampling=sub,
            restart_interval=rst, precision=prec,
        )
    rw, rh, rch, rpix = decode_jpeg(payload)
    assert (rw, rh, rch) == (w, h, ch)
    exp = flat[0] >> (prec - 8)
    assert all(abs(v - exp) <= 1 for v in rpix), (cfg, flat[0])
