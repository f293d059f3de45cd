"""Unit tests for operators/graph.py (integer PageRank, degree stats),
operators/decontam.py, dedup.cross_snapshot_dedup and textstats.top_ngrams
— each against a pure-Python reference on hand-checkable inputs."""

import pytest
from pyspark.sql import functions as F

from dss_plugin_nlp_analysis_spark.operators.decontam import decontaminate
from dss_plugin_nlp_analysis_spark.operators.dedup import cross_snapshot_dedup
from dss_plugin_nlp_analysis_spark.operators.graph import degree_stats, pagerank
from dss_plugin_nlp_analysis_spark.operators.textstats import top_ngrams


def py_pagerank(edges, iterations=3, init=10**12, dnum=85, dden=100):
    """Pure-Python mirror of the integer update rule."""
    e = sorted({(s, d) for s, d in edges if s != d})
    nodes = sorted({s for s, _ in e} | {d for _, d in e})
    outdeg = {}
    for s, _ in e:
        outdeg[s] = outdeg.get(s, 0) + 1
    base = (dden - dnum) * init // dden
    rank = {n: init for n in nodes}
    for _ in range(iterations):
        incoming = {n: 0 for n in nodes}
        for s, d in e:
            incoming[d] += rank[s] // outdeg[s]
        rank = {n: base + dnum * incoming[n] // dden for n in nodes}
    return rank


EDGES = [
    (1, 2), (1, 3), (2, 3), (3, 1),
    (4, 3),          # 4 is dangling-in only via out-edge; never receives
    (5, 5),          # self-loop: dropped
    (1, 2),          # parallel edge: collapsed
]


def test_pagerank_matches_python_reference(spark):
    df = spark.createDataFrame(EDGES, "src long, dst long")
    got = {r["node"]: r["rank"] for r in pagerank(df, iterations=3).collect()}
    assert got == py_pagerank(EDGES, iterations=3)


_BAD_RANK_ARGS = [
    (fn, kw, "iterations" if "iterations" in kw else "damping")
    for fn in ("pagerank", "personalized_pagerank", "weighted_pagerank")
    for kw in (
        {"iterations": 0},
        {"damp_den": 0},
        {"damp_num": 120},
        {"damp_num": -1},
    )
] + [
    ("katz_centrality", kw, "iterations" if "iterations" in kw else "alpha")
    for kw in ({"iterations": 0}, {"alpha_den": 0}, {"alpha_num": -1})
]


@pytest.mark.parametrize(
    "fn,kwargs,match",
    _BAD_RANK_ARGS,
    ids=[f"{fn}-{k}={v}" for fn, kw, _ in _BAD_RANK_ARGS for k, v in kw.items()],
)
def test_rank_family_rejects_bad_args_before_any_job(spark, fn, kwargs, match):
    """Bad iteration counts and ratios raise ValueError up front: no Spark
    job runs (a zero denominator used to surface as ZeroDivisionError
    after the prep checkpoints, and damping above 1 was accepted)."""
    from dss_plugin_nlp_analysis_spark.operators import graph

    df = spark.createDataFrame(
        [(1, 2, 1), (2, 3, 1)], "src long, dst long, weight long"
    )
    args = (df,)
    if fn == "personalized_pagerank":
        args += (spark.createDataFrame([(1,)], "node long"),)
    sc = spark.sparkContext
    group = f"rank-args-{fn}-{sorted(kwargs.items())}"
    sc.setJobGroup(group, "rank argument check")
    try:
        with pytest.raises(ValueError, match=match):
            getattr(graph, fn)(*args, **kwargs)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []


def test_pagerank_dangling_and_isolated_semantics(spark):
    # node 4 has out-edges but no in-edges: rank stays at the teleport base
    df = spark.createDataFrame(EDGES, "src long, dst long")
    got = {r["node"]: r["rank"] for r in pagerank(df, iterations=2).collect()}
    base = (100 - 85) * 10**12 // 100
    assert got[4] == base
    # self-loop-only node 5 is dropped entirely (no non-loop edges)
    assert 5 not in got
    # every rank at least the teleport base, and values match the
    # pure-Python rule at this iteration count too
    assert all(v >= base for v in got.values())
    assert got == py_pagerank(EDGES, iterations=2)


def test_pagerank_rejects_zero_iterations(spark):
    df = spark.createDataFrame(EDGES, "src long, dst long")
    with pytest.raises(ValueError):
        pagerank(df, iterations=0)


def test_degree_stats(spark):
    df = spark.createDataFrame(EDGES, "src long, dst long")
    got = {
        r["node"]: (r["out_degree"], r["in_degree"], r["total_degree"])
        for r in degree_stats(df).collect()
    }
    assert got == {
        1: (2, 1, 3),   # ->2,->3 ; <-3
        2: (1, 1, 2),   # ->3 ; <-1 (parallel edge collapsed)
        3: (1, 3, 4),   # ->1 ; <-1,<-2,<-4
        4: (1, 0, 1),
    }


def test_decontaminate_flags_and_counts(spark):
    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps"),     # shares 'the quick brown'
            (2, "totally unrelated words here"),
            (3, "the quick brown the quick brown x"),  # leaked gram twice
            (4, "hi"),                            # short doc, whole-text gram
        ],
        "id long, text string",
    )
    bench = spark.createDataFrame([("the quick brown cat",)], "text string")
    got = {
        r["id"]: (r["n_hits"], r["contaminated"])
        for r in decontaminate(docs, bench, "id", "text", n=3).collect()
    }
    assert got[1] == (1, 1)     # 'the quick brown'
    assert got[2] == (0, 0)
    assert got[3] == (2, 1)     # the leaked gram occurs twice -> 2 hits
    assert got[4] == (0, 0)     # whole-text gram 'hi' not in the bench set


def test_decontaminate_short_doc_whole_text_match(spark):
    # a short benchmark answer copied verbatim must be caught via the
    # whole-text fallback gram on both sides
    docs = spark.createDataFrame([(1, "forty two")], "id long, text string")
    bench = spark.createDataFrame([("forty two",)], "text string")
    got = decontaminate(docs, bench, "id", "text", n=3).collect()[0]
    assert (got["n_hits"], got["contaminated"]) == (1, 1)


def test_cross_snapshot_dedup(spark):
    seen = spark.createDataFrame(
        [(10, "alpha beta"), (11, "gamma delta")], "id long, text string"
    )
    new = spark.createDataFrame(
        [
            (1, "Alpha   Beta"),   # normalizes to a seen fingerprint
            (2, "epsilon zeta"),   # genuinely new
            (3, "gamma delta"),    # exact seen
        ],
        "id long, text string",
    )
    out = cross_snapshot_dedup(new, seen, "id", "text")
    assert [r["id"] for r in out.collect()] == [2]


def test_top_ngrams_deterministic_ties(spark):
    docs = spark.createDataFrame(
        [(1, "b b a a c c"), (2, "z")], "id long, text string"
    )
    # bigrams: 'b b','b a','a a','a c','c c' each once; 'z' whole-text
    out = top_ngrams(docs, "id", "text", n=2, k=3).collect()
    # all counts tie at 1 -> lexicographic gram order decides the top-3
    assert [(r["gram"], r["n_occurrences"]) for r in out] == [
        ("a a", 1), ("a c", 1), ("b a", 1),
    ]


def test_triangle_count_known_graphs(spark):
    from dss_plugin_nlp_analysis_spark.operators.graph import triangle_count

    # K4 = 4 triangles; edges given in mixed directions with dups/loops
    k4 = [(1, 2), (2, 1), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4), (3, 3)]
    df = spark.createDataFrame(k4, "src long, dst long")
    assert triangle_count(df).collect()[0]["n_triangles"] == 4

    # path graph: no triangles
    path = spark.createDataFrame([(1, 2), (2, 3), (3, 4)], "src long, dst long")
    assert triangle_count(path).collect()[0]["n_triangles"] == 0

    # K4 plus a pendant triangle sharing node 4
    extra = spark.createDataFrame(
        k4 + [(4, 5), (5, 6), (6, 4)], "src long, dst long"
    )
    assert triangle_count(extra).collect()[0]["n_triangles"] == 5


def test_quantile_buckets_discrete_thresholds(spark):
    from dss_plugin_nlp_analysis_spark.operators.textstats import quantile_buckets

    # values 1..8: N=8, thresholds at positions ceil(.25*8)=2, 4, 6
    # -> t1=2, t2=4, t3=6
    df = spark.createDataFrame([(i, i) for i in range(1, 9)], "id long, v long")
    got = {r["id"]: r["bucket"] for r in quantile_buckets(df, "id", "v").collect()}
    assert got == {1: "q1", 2: "q1", 3: "q2", 4: "q2",
                   5: "q3", 6: "q3", 7: "q4", 8: "q4"}


def test_quantile_buckets_degenerate_all_equal(spark):
    from dss_plugin_nlp_analysis_spark.operators.textstats import quantile_buckets

    # all-equal metric: every threshold collapses to the value -> all q1
    df = spark.createDataFrame([(i, 7) for i in range(5)], "id long, v long")
    got = {r["bucket"] for r in quantile_buckets(df, "id", "v").collect()}
    assert got == {"q1"}


def test_inverted_index_cap_and_sorting(spark):
    from dss_plugin_nlp_analysis_spark.operators.invindex import inverted_index

    docs = spark.createDataFrame(
        [
            (3, "apple banana"),
            (1, "apple cherry apple"),   # dup token in doc counts once
            (2, "apple banana cherry"),
        ],
        "id long, text string",
    )
    out = {
        r["token"]: (r["df"], r["doc_ids"])
        for r in inverted_index(docs, "id", "text", min_df=1, max_df=2).collect()
    }
    # 'apple' has df=3 > max_df -> capped out entirely
    assert "apple" not in out
    assert out["banana"] == (2, [2, 3])    # sorted ids, not input order
    assert out["cherry"] == (2, [1, 2])


def test_collocations_confidence_ordering(spark):
    from dss_plugin_nlp_analysis_spark.operators.textstats import collocations

    # 'new york' 3/3 after 'new' -> conf 1e6; 'san francisco' 2 of 3 'san'
    docs = spark.createDataFrame(
        [
            (1, "new york new york san francisco"),
            (2, "new york san francisco san diego"),
        ],
        "id long, text string",
    )
    rows = collocations(docs, "id", "text", k=3, min_count=2).collect()
    got = [(r["gram"], r["c_xy"], r["c_x"], r["conf_micro"]) for r in rows]
    assert got[0] == ("new york", 3, 3, 1000000)
    assert ("san francisco", 2, 3, 666666) in got


def test_extract_links(spark):
    from dss_plugin_nlp_analysis_spark.operators.url import extract_links

    pages = spark.createDataFrame(
        [
            (1, '<p>x</p><a href="https://a.com/1">first</a> mid '
                '<a rel="nofollow" href="/b">second link</a>'),
            (2, "no links here"),
            (3, None),
            (4, '<a href="https://c.com/">'  "</a>"),   # empty anchor text
        ],
        "id long, html string",
    )
    got = [(r["id"], r["href"], r["anchor_text"])
           for r in extract_links(pages, "id", "html").collect()]
    assert sorted(got) == [
        (1, "/b", "second link"),
        (1, "https://a.com/1", "first"),
        (4, "https://c.com/", ""),
    ]


def test_snapshot_diff_statuses(spark):
    from dss_plugin_nlp_analysis_spark.operators.url import snapshot_diff

    old = spark.createDataFrame(
        [("u1", "alpha"), ("u2", "beta"), ("u3", "gamma")], "url string, text string"
    )
    new = spark.createDataFrame(
        [("u1", "ALPHA  "), ("u3", "gamma prime"), ("u4", "delta")],
        "url string, text string",
    )
    got = {r["key"]: r["status"]
           for r in snapshot_diff(old, new, "url", "text").collect()}
    assert got == {
        "u1": "same",       # normalization: case/whitespace-insensitive
        "u2": "removed",
        "u3": "changed",
        "u4": "added",
    }


def test_k_hop_shortest_distances(spark):
    from dss_plugin_nlp_analysis_spark.operators.graph import k_hop

    #  1 -> 2 -> 3 -> 4,  1 -> 3 (shortcut),  5 isolated seed, 4 -> 1 cycle
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (1, 3), (4, 1)], "src long, dst long"
    )
    seeds = spark.createDataFrame([(1,), (5,)], "node long")
    got = {r["node"]: r["hops"] for r in k_hop(edges, seeds, k=2).collect()}
    # 3 is at hop 1 via the shortcut, NOT hop 2; 4 at hop 2; 5 stays hop 0
    assert got == {1: 0, 5: 0, 2: 1, 3: 1, 4: 2}

    # k=0: seeds only
    got0 = {r["node"]: r["hops"] for r in k_hop(edges, seeds, k=0).collect()}
    assert got0 == {1: 0, 5: 0}

    # cycle safety: deeper k revisits nothing, hop counts unchanged
    got4 = {r["node"]: r["hops"] for r in k_hop(edges, seeds, k=4).collect()}
    assert got4 == {1: 0, 5: 0, 2: 1, 3: 1, 4: 2}


def test_k_hop_rejects_negative(spark):
    from dss_plugin_nlp_analysis_spark.operators.graph import k_hop

    edges = spark.createDataFrame([(1, 2)], "src long, dst long")
    seeds = spark.createDataFrame([(1,)], "node long")
    with pytest.raises(ValueError):
        k_hop(edges, seeds, k=-1)


def test_bm25_matches_python_mirror(spark):
    import math

    from dss_plugin_nlp_analysis_spark.operators.invindex import bm25_topk

    corpus = [
        (1, "spark engine spark engine spark"),   # tf(spark)=3, dl=5
        (2, "spark engine"),                      # shorter, tf=1
        (3, "engine engine engine engine"),       # no 'spark'
        (4, "spark"),                             # shortest
        (5, "nothing relevant here at all okay"),
    ]
    query = ["spark", "engine"]

    def py_bm25(corpus, query, k):
        toks = {i: t.split() for i, t in corpus}
        dl = {i: len(ws) for i, ws in toks.items()}
        n = len(corpus)
        avgdl = sum(dl.values()) // n
        scores = {}
        for term in query:
            dfc = sum(1 for ws in toks.values() if term in ws)
            if dfc == 0:
                continue
            idf = round(math.log(1.0 + (n - dfc + 0.5) / (dfc + 0.5)) * 1e6)
            for i, ws in toks.items():
                tf = ws.count(term)
                if tf == 0:
                    continue
                q = (22 * tf * 1000000) // (10 * tf + 3 + (9 * dl[i]) // avgdl)
                scores[i] = scores.get(i, 0) + (idf * q) // 1000000
        return sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:k]

    df = spark.createDataFrame(corpus, "id long, text string")
    got = [(r["id"], r["score_micro"])
           for r in bm25_topk(df, "id", "text", query, k=4).collect()]
    assert got == py_bm25(corpus, query, 4)
    # behavioral sanity: doc 5 (no query terms) never appears
    assert 5 not in {i for i, _ in got}


def test_bm25_rejects_empty_query(spark):
    from dss_plugin_nlp_analysis_spark.operators.invindex import bm25_topk

    df = spark.createDataFrame([(1, "a")], "id long, text string")
    with pytest.raises(ValueError):
        bm25_topk(df, "id", "text", [])


# --- neighbor_jaccard / k_core -------------------------------------------


def py_neighbor_jaccard(edges, min_shared=1, max_hub_degree=None):
    und = {(min(s, d), max(s, d)) for s, d in edges if s != d}
    adj = {}
    for a, b in und:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    deg = {n: len(ns) for n, ns in adj.items()}
    out = {}
    for via, members in adj.items():
        if max_hub_degree is not None and deg[via] > max_hub_degree:
            continue
        ms = sorted(members)
        for i, x in enumerate(ms):
            for y in ms[i + 1:]:
                out[(x, y)] = out.get((x, y), 0) + 1
    res = []
    for (x, y), shared in sorted(out.items()):
        if shared < min_shared:
            continue
        union = deg[x] + deg[y] - shared
        res.append((x, y, shared, deg[x], deg[y], (1_000_000 * shared) // union))
    return res


def test_neighbor_jaccard_matches_python_reference(spark):
    from dss_plugin_nlp_analysis_spark.operators.graph import neighbor_jaccard

    edges = [(1, 2), (1, 3), (2, 3), (2, 4), (3, 4), (4, 5), (5, 1),
             (6, 1), (6, 2), (6, 3), (7, 7), (2, 1)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = sorted(
        tuple(r) for r in neighbor_jaccard(df, min_shared=1).collect()
    )
    assert got == py_neighbor_jaccard(edges)


def test_neighbor_jaccard_hub_cap_drops_pivot_not_pairs(spark):
    from dss_plugin_nlp_analysis_spark.operators.graph import neighbor_jaccard

    # star: hub 0 connected to 1..5 (deg 5); plus edge 1-2 so pair (1,2)
    # also shares pivot-eligible neighbors? no: 1's nbrs={0,2}, 2's={0,1}.
    # With cap=3 the hub can't pivot; only shared neighbor of any pair was
    # the hub -> pairs via hub vanish, but pairs via low-degree pivots stay.
    edges = [(0, i) for i in range(1, 6)] + [(1, 2)]
    df = spark.createDataFrame(edges, "src long, dst long")
    uncapped = sorted(tuple(r) for r in neighbor_jaccard(df).collect())
    assert uncapped == py_neighbor_jaccard(edges)
    capped = sorted(
        tuple(r) for r in neighbor_jaccard(df, max_hub_degree=3).collect()
    )
    assert capped == py_neighbor_jaccard(edges, max_hub_degree=3)
    # the hub-pivot pairs (e.g. (3,4) sharing only node 0) are gone
    assert any(r[0] == 3 and r[1] == 4 for r in uncapped)
    assert not any(r[0] == 3 and r[1] == 4 for r in capped)
    # true degrees reported even under cap: pair (0,1) pivots through node
    # 2 and still reports the hub's TRUE degree 5
    pair01 = next(r for r in capped if (r[0], r[1]) == (0, 1))
    assert (pair01[3], pair01[4]) == (5, 2)
    # a cap below 1 is an error, as in co_citation / resource_allocation
    with pytest.raises(ValueError, match="max_hub_degree"):
        neighbor_jaccard(df, max_hub_degree=0)


def py_k_core(edges, k, rounds=None):
    und = {(min(s, d), max(s, d)) for s, d in edges if s != d}
    e = set(und)
    i = 0
    while True:
        deg = {}
        for a, b in e:
            deg[a] = deg.get(a, 0) + 1
            deg[b] = deg.get(b, 0) + 1
        keep = {n for n, d in deg.items() if d >= k}
        ne = {(a, b) for a, b in e if a in keep and b in keep}
        i += 1
        if rounds is not None and i >= rounds:
            e = ne
            break
        if ne == e:
            break
        e = ne
    deg = {}
    for a, b in e:
        deg[a] = deg.get(a, 0) + 1
        deg[b] = deg.get(b, 0) + 1
    return sorted((n, d) for n, d in deg.items() if d >= k)


def test_k_core_peels_pendants(spark):
    from dss_plugin_nlp_analysis_spark.operators.graph import k_core

    # triangle 1-2-3 plus a pendant chain 3-4-5: 2-core = the triangle
    edges = [(1, 2), (2, 3), (3, 1), (3, 4), (4, 5)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = sorted((r["node"], r["core_degree"]) for r in k_core(df, k=2).collect())
    assert got == [(1, 2), (2, 2), (3, 2)] == py_k_core(edges, 2)


def test_k_core_fixed_rounds_matches_converged_when_deep_enough(spark):
    from dss_plugin_nlp_analysis_spark.operators.graph import k_core

    # chain of pendants peels one layer per round: needs 3 rounds
    edges = [(1, 2), (2, 3), (3, 1), (3, 4), (4, 5), (5, 6)]
    df = spark.createDataFrame(edges, "src long, dst long")
    conv = sorted(tuple(r) for r in k_core(df, k=2).collect())
    fixed = sorted(tuple(r) for r in k_core(df, k=2, fixed_rounds=4).collect())
    assert conv == fixed == [(1, 2), (2, 2), (3, 2)]
    # python reference with bounded rounds mirrors fixed_rounds
    assert py_k_core(edges, 2, rounds=4) == fixed


def test_k_core_empty_core(spark):
    from dss_plugin_nlp_analysis_spark.operators.graph import k_core

    df = spark.createDataFrame([(1, 2), (2, 3)], "src long, dst long")
    assert k_core(df, k=3).count() == 0


def test_k_core_rejects_bad_k_and_nonconvergence(spark):
    from dss_plugin_nlp_analysis_spark.operators.graph import k_core

    df = spark.createDataFrame([(1, 2)], "src long, dst long")
    with pytest.raises(ValueError):
        k_core(df, k=0)
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(8)], "src long, dst long"
    )
    with pytest.raises(RuntimeError):
        k_core(chain, k=2, max_rounds=2)
