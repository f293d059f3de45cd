"""Hypothesis fuzz of the graph family (the four rank functions,
triangle_count, k_hop, neighbor_jaccard, k_core) against brute-force
pure-Python references on random small graphs — contract-level: the
integer fixpoints, the triangle invariant under the degree orientation,
and shortest-hop BFS including cycles."""

from hypothesis import HealthCheck, given, settings, strategies as st

from dss_plugin_nlp_analysis_spark.operators.graph import (
    k_hop,
    katz_centrality,
    pagerank,
    personalized_pagerank,
    triangle_count,
    weighted_pagerank,
)
from tests.test_graph import py_pagerank

FUZZ = settings(
    max_examples=12, deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)

NODE = st.integers(0, 7)
EDGES = st.lists(st.tuples(NODE, NODE), min_size=1, max_size=24)


@given(EDGES, st.integers(1, 3))
@FUZZ
def test_pagerank_fuzz_vs_python(spark, edges, iters):
    e = [(s, d) for s, d in edges if s != d]
    if not e:
        return
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r["node"]: r["rank"] for r in pagerank(df, iterations=iters).collect()}
    assert got == py_pagerank(edges, iterations=iters)


# Rank-family inputs with the cases every prep must drop: self-loops,
# parallel edges, NULL endpoints and (for weights) NULL or non-positive
# weights.
MAYBE_NODE = st.one_of(st.none(), NODE)
RAW_EDGES = st.lists(st.tuples(MAYBE_NODE, MAYBE_NODE), min_size=1, max_size=24)
WEIGHTED_EDGES = st.lists(
    st.tuples(MAYBE_NODE, MAYBE_NODE, st.one_of(st.none(), st.integers(-2, 5))),
    min_size=1,
    max_size=24,
)
DAMPING = st.integers(1, 100).flatmap(
    lambda den: st.tuples(st.integers(0, den), st.just(den))
)


def _py_damped_sum(edges, share, base, rank0, iterations, num, den):
    """Brute-force rank fixpoint over a dict {(u, v): payload}:
    rank'(v) = base(v) + (num * sum(share(rank(u), u, payload))) // den."""
    nodes = {n for edge in edges for n in edge}
    rank = {n: rank0(n) for n in nodes}
    for _ in range(iterations):
        incoming = dict.fromkeys(nodes, 0)
        for (u, v), payload in edges.items():
            incoming[v] += share(rank[u], u, payload)
        rank = {n: base(n) + num * incoming[n] // den for n in nodes}
    return rank


def _py_simple(edges):
    return {(s, d): None for s, d in edges if None not in (s, d) and s != d}


def _rank_of(df, col="rank"):
    return {r["node"]: r[col] for r in df.collect()}


@given(RAW_EDGES, st.integers(1, 3), st.integers(0, 3), st.integers(1, 4))
@FUZZ
def test_katz_fuzz_vs_python(spark, edges, iters, a_num, a_den):
    init = 10**6
    df = spark.createDataFrame(edges, "src long, dst long")
    got = _rank_of(
        katz_centrality(
            df, iterations=iters, init=init, alpha_num=a_num, alpha_den=a_den
        ),
        "katz_micro",
    )
    want = _py_damped_sum(
        _py_simple(edges), lambda r, u, _: r, lambda n: init, lambda n: init,
        iters, a_num, a_den,
    )
    assert got == want


@given(WEIGHTED_EDGES, st.integers(1, 3), DAMPING)
@FUZZ
def test_weighted_pagerank_fuzz_vs_python(spark, edges, iters, damping):
    num, den = damping
    init = 10**9
    w = {}
    for s, d, x in edges:
        if None not in (s, d, x) and s != d and x > 0:
            w[(s, d)] = w.get((s, d), 0) + x
    totw = {}
    for (s, _), x in w.items():
        totw[s] = totw.get(s, 0) + x
    df = spark.createDataFrame(edges, "src long, dst long, weight long")
    got = _rank_of(
        weighted_pagerank(df, iterations=iters, init=init, damp_num=num, damp_den=den)
    )
    base = (den - num) * init // den
    want = _py_damped_sum(
        w, lambda r, u, x: r * x // totw[u], lambda n: base, lambda n: init,
        iters, num, den,
    )
    assert got == want


@given(RAW_EDGES, st.sets(st.integers(0, 9), max_size=4), st.integers(1, 3), DAMPING)
@FUZZ
def test_personalized_pagerank_fuzz_vs_python(spark, edges, seeds, iters, damping):
    num, den = damping
    init = 10**12
    e = _py_simple(edges)
    outdeg = {}
    for s, _ in e:
        outdeg[s] = outdeg.get(s, 0) + 1
    df = spark.createDataFrame(edges, "src long, dst long")
    sdf = spark.createDataFrame([(s,) for s in seeds], "node long")
    got = _rank_of(
        personalized_pagerank(
            df, sdf, iterations=iters, init=init, damp_num=num, damp_den=den
        )
    )
    base = (den - num) * init // den
    want = _py_damped_sum(
        e, lambda r, u, _: r // outdeg[u],
        lambda n: base if n in seeds else 0,
        lambda n: init if n in seeds else 0,
        iters, num, den,
    )
    assert got == want


def _py_triangles(edges):
    und = {tuple(sorted(e)) for e in edges if e[0] != e[1]}
    nodes = sorted({n for e in und for n in e})
    adj = {n: set() for n in nodes}
    for a, b in und:
        adj[a].add(b)
        adj[b].add(a)
    count = 0
    for a in nodes:
        for b in adj[a]:
            if b <= a:
                continue
            count += len([c for c in adj[a] & adj[b] if c > b])
    return count


@given(EDGES)
@FUZZ
def test_triangle_count_fuzz_vs_bruteforce(spark, edges):
    df = spark.createDataFrame(edges, "src long, dst long")
    rows = triangle_count(df).collect()
    got = rows[0]["n_triangles"] if rows else 0
    assert got == _py_triangles(edges)


def _py_khop(edges, seeds, k):
    e = {(s, d) for s, d in edges if s != d}
    out = {}
    for s, d in e:
        out.setdefault(s, set()).add(d)
    dist = {s: 0 for s in seeds}
    frontier = set(seeds)
    for depth in range(1, k + 1):
        nxt = set()
        for u in frontier:
            for v in out.get(u, ()):
                if v not in dist:
                    nxt.add(v)
        for v in nxt:
            dist[v] = depth
        frontier = nxt
    return dist


@given(EDGES, st.sets(NODE, min_size=1, max_size=3), st.integers(0, 3))
@FUZZ
def test_k_hop_fuzz_vs_python_bfs(spark, edges, seeds, k):
    df = spark.createDataFrame(edges, "src long, dst long")
    sdf = spark.createDataFrame([(s,) for s in seeds], "node long")
    got = {r["node"]: r["hops"] for r in k_hop(df, sdf, k=k).collect()}
    assert got == _py_khop(edges, seeds, k)


# --- round-4 continued: neighbor_jaccard / k_core fuzz --------------------


@given(EDGES, st.integers(1, 3), st.one_of(st.none(), st.integers(1, 4)))
@FUZZ
def test_neighbor_jaccard_fuzz_vs_python(spark, edges, min_shared, cap):
    from dss_plugin_nlp_analysis_spark.operators.graph import neighbor_jaccard
    from tests.test_graph import py_neighbor_jaccard

    e = [(s, d) for s, d in edges if s != d]
    if not e:
        return
    df = spark.createDataFrame(edges, "src long, dst long")
    got = sorted(
        tuple(r)
        for r in neighbor_jaccard(
            df, min_shared=min_shared, max_hub_degree=cap
        ).collect()
    )
    assert got == [
        r
        for r in py_neighbor_jaccard(e, max_hub_degree=cap)
        if r[2] >= min_shared
    ]


@given(EDGES, st.integers(1, 3))
@FUZZ
def test_k_core_fuzz_vs_python(spark, edges, k):
    from dss_plugin_nlp_analysis_spark.operators.graph import k_core
    from tests.test_graph import py_k_core

    e = [(s, d) for s, d in edges if s != d]
    if not e:
        return
    df = spark.createDataFrame(edges, "src long, dst long")
    got = sorted(
        (r["node"], r["core_degree"]) for r in k_core(df, k=k, max_rounds=30).collect()
    )
    assert got == py_k_core(e, k)
