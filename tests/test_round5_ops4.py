"""Unit tests for the round-5 session-5 operators: TransE integer energy
scoring (operators/kg.py), freshness-driven recrawl priorities
(operators/url.py), and ontology-release alignment (operators/ontology.py)."""

import pytest
from pyspark.sql import functions as F

from dss_plugin_nlp_analysis_spark.operators.kg import transe_scores
from dss_plugin_nlp_analysis_spark.operators.ontology import align_ontologies
from dss_plugin_nlp_analysis_spark.operators.url import recrawl_priority


def _triples(spark, rows):
    return spark.createDataFrame(rows, "subj string, pred string, obj string")


# --------------------------------------------------------- transe_scores


def test_transe_energy_bounds_and_determinism(spark):
    t = _triples(
        spark,
        [("a", "p", "x"), ("a", "p", "y"), ("b", "q", "x"), ("c", "p", "y")],
    )
    out1 = transe_scores(t, dims=4, n_neg=2, seed="s").collect()
    out2 = transe_scores(t, dims=4, n_neg=2, seed="s").collect()
    assert sorted(map(tuple, out1)) == sorted(map(tuple, out2))
    # each |E(s,d)+R(p,d)-E(o,d)| <= 3*scale; 4 dims -> <= 1200
    for r in out1:
        assert 0 <= r.pos_energy <= 1200
        assert 0 <= r.neg_energy <= 1200
        assert r.margin == r.neg_energy - r.pos_energy
        assert r.neg_obj != r.obj


def test_transe_energy_is_pure_function_of_triple(spark):
    # the same (subj, pred, obj) must score identically however the rows
    # are partitioned — energy is hash math, not state
    t = _triples(spark, [("a", "p", "x"), ("b", "p", "y")])
    one = transe_scores(t.repartition(1), dims=2, seed="z").collect()
    many = transe_scores(t.repartition(7), dims=2, seed="z").collect()
    assert sorted(map(tuple, one)) == sorted(map(tuple, many))


def test_transe_dims_scale_energy_monotone(spark):
    # more dims can only add non-negative terms
    t = _triples(spark, [("a", "p", "x"), ("b", "p", "y")])
    e2 = {
        (r.subj, r.pred, r.obj, r.neg_obj): r.pos_energy
        for r in transe_scores(t, dims=2, seed="s").collect()
    }
    e4 = {
        (r.subj, r.pred, r.obj, r.neg_obj): r.pos_energy
        for r in transe_scores(t, dims=4, seed="s").collect()
    }
    for k, v in e2.items():
        assert e4[k] >= v


def test_transe_validation(spark):
    t = _triples(spark, [("a", "p", "x"), ("b", "p", "y")])
    with pytest.raises(ValueError, match="dims"):
        transe_scores(t, dims=0)
    with pytest.raises(ValueError, match="scale"):
        transe_scores(t, scale=0)


# ------------------------------------------------------- recrawl_priority


def _snaps(spark, rows):
    return spark.createDataFrame(
        rows, "url string, warc_ts timestamp, text string"
    )


def test_recrawl_counts_changes_and_staleness(spark):
    import datetime as dt

    d = lambda day: dt.datetime(2026, 1, day)
    snaps = _snaps(
        spark,
        [
            # hot url: 3 snapshots, 2 content changes, last seen day 3
            ("hot", d(1), "v1"),
            ("hot", d(2), "v2"),
            ("hot", d(3), "v3"),
            # cold url: 3 snapshots, no change, last seen day 5
            ("cold", d(1), "same"),
            ("cold", d(3), "same"),
            ("cold", d(5), "same"),
            # single-snapshot url: no transition evidence
            ("single", d(4), "x"),
        ],
    )
    out = {r.url: r for r in recrawl_priority(snaps).collect()}
    assert out["hot"].n_snapshots == 3
    assert out["hot"].n_changes == 2
    assert out["hot"].change_rate_ppm == 1_000_000
    assert out["hot"].staleness_days == 2  # corpus max = day 5
    assert out["hot"].priority == 3_000_000
    assert out["cold"].n_changes == 0
    assert out["cold"].change_rate_ppm == 0
    assert out["cold"].priority == 0
    assert out["single"].n_snapshots == 1
    assert out["single"].change_rate_ppm == 0


def test_recrawl_same_day_captures_deterministic(spark):
    import datetime as dt

    d = dt.datetime(2026, 2, 1)
    # two same-ts captures with different content: the (ts, fingerprint)
    # tie-break makes the transition count deterministic (exactly one
    # ordering, so one change counted between them)
    snaps = _snaps(spark, [("u", d, "aaa"), ("u", d, "bbb")])
    rows = [
        recrawl_priority(snaps.repartition(n)).collect()[0] for n in (1, 5)
    ]
    assert rows[0].n_changes == rows[1].n_changes == 1


def test_recrawl_change_rate_floor_division(spark):
    import datetime as dt

    d = lambda day: dt.datetime(2026, 3, day)
    # 1 change over 2 transitions -> floor(10^6 / 2) = 500000
    snaps = _snaps(spark, [("u", d(1), "a"), ("u", d(2), "a"), ("u", d(3), "b")])
    r = recrawl_priority(snaps).collect()[0]
    assert r.change_rate_ppm == 500_000


# ------------------------------------------------------- align_ontologies


def _onto(spark, rows):
    return spark.createDataFrame(rows, "tag string, keyword string")


def test_align_exact_and_partial_overlap(spark):
    left = _onto(
        spark,
        [("t1", "alpha"), ("t1", "beta"), ("t2", "gamma")],
    )
    right = _onto(
        spark,
        [("r1", "alpha"), ("r1", "beta"), ("r2", "beta"), ("r3", "delta")],
    )
    out = {
        (r.tag_left, r.tag_right): r
        for r in align_ontologies(left, right).collect()
    }
    # t1 x r1: 2 shared / (2 + 2 - 2) = 1.0
    assert out[("t1", "r1")].jaccard_ppm == 1_000_000
    # t1 x r2: 1 shared / (2 + 1 - 1) = 0.5
    assert out[("t1", "r2")].jaccard_ppm == 500_000
    # gamma/delta share nothing -> never generated (blocking)
    assert ("t2", "r3") not in out
    assert ("t2", "r1") not in out


def test_align_normalization_and_threshold(spark):
    left = _onto(spark, [("t", "Alpha "), ("t", "beta")])
    right = _onto(spark, [("r", "alpha"), ("r", "zeta"), ("r", "eta")])
    out = align_ontologies(left, right).collect()
    assert len(out) == 1 and out[0].jaccard_ppm == 250_000
    assert align_ontologies(left, right, min_jaccard_ppm=250_001).count() == 0
    raw = align_ontologies(left, right, normalize=False).collect()
    assert raw == []  # 'Alpha ' != 'alpha' without normalization


def test_align_duplicate_keywords_count_once(spark):
    # case-variant duplicate aliases collapse under normalization: sizes
    # and intersections use the distinct normalized sets
    left = _onto(spark, [("t", "ALPHA"), ("t", "alpha")])
    right = _onto(spark, [("r", "alpha")])
    r = align_ontologies(left, right).collect()[0]
    assert (r.size_left, r.size_right, r.shared, r.jaccard_ppm) == (
        1,
        1,
        1,
        1_000_000,
    )


def test_align_validation(spark):
    left = _onto(spark, [("t", "a")])
    with pytest.raises(ValueError, match="min_jaccard_ppm"):
        align_ontologies(left, left, min_jaccard_ppm=-1)


# ---------------------------------------------------------- transe_ranks


def test_transe_ranks_bounds_and_filtered(spark):
    from dss_plugin_nlp_analysis_spark.operators.kg import transe_ranks

    t = _triples(
        spark,
        [
            ("a", "p", "x"),
            ("a", "p", "y"),  # second true tail for (a, p)
            ("b", "p", "y"),
            ("b", "q", "z"),
        ],
    )
    out = transe_ranks(t, dims=2).collect()
    assert len(out) == 4
    vocab = 3  # x, y, z
    for r in out:
        assert 1 <= r.rank <= vocab
        assert r.hits1 == int(r.rank <= 1)
        assert r.hits3 == int(r.rank <= 3)
    # filtered protocol: for (a,p,x) the candidate y is another true
    # tail and must be excluded, so rank <= vocab - 1
    ax = next(r for r in out if (r.subj, r.obj) == ("a", "x"))
    assert ax.rank <= 2


def test_transe_ranks_rank1_is_unique_minimum(spark):
    from dss_plugin_nlp_analysis_spark.operators.kg import transe_ranks
    from dss_plugin_nlp_analysis_spark.operators.kg import transe_scores

    # cross-check: the triple ranked 1 must have pos_energy <= every
    # candidate's energy (via transe_scores on swapped tails)
    rows = [("s%d" % i, "p", "t%d" % (i % 4)) for i in range(8)]
    t = _triples(spark, rows)
    ranks = {
        (r.subj, r.obj): r.rank
        for r in transe_ranks(t, dims=3, filtered=False).collect()
    }
    assert set(ranks.values()) <= {1, 2, 3, 4}


def test_transe_ranks_validation(spark):
    from dss_plugin_nlp_analysis_spark.operators.kg import transe_ranks

    t = _triples(spark, [("a", "p", "x")])
    with pytest.raises(ValueError, match="dims"):
        transe_ranks(t, dims=0)


# --------------------------------------------------------- crawl_schedule


def test_crawl_schedule_waves_and_politeness(spark):
    from dss_plugin_nlp_analysis_spark.operators.url import crawl_schedule

    rows = [("u%02d" % i, "d1", 100 - i) for i in range(7)] + [
        ("v1", "d2", 5),
        ("v2", "d2", None),  # NULL priority sorts last
    ]
    df = spark.createDataFrame(
        rows, "url string, domain string, priority long"
    )
    out = crawl_schedule(df, per_domain_budget=3).collect()
    d1 = sorted(
        (r for r in out if r.domain == "d1"), key=lambda r: r.rank_in_domain
    )
    # highest priority first; waves of 3
    assert [r.url for r in d1[:3]] == ["u00", "u01", "u02"]
    assert [r.wave for r in d1] == [0, 0, 0, 1, 1, 1, 2]
    d2 = sorted(
        (r for r in out if r.domain == "d2"), key=lambda r: r.rank_in_domain
    )
    assert [r.url for r in d2] == ["v1", "v2"]  # NULL last
    assert all(r.wave == 0 for r in d2)
    # politeness invariant: no domain exceeds the budget within a wave
    from collections import Counter

    per_wave = Counter((r.domain, r.wave) for r in out)
    assert max(per_wave.values()) <= 3


def test_crawl_schedule_drops_null_keys_and_validates(spark):
    from dss_plugin_nlp_analysis_spark.operators.url import crawl_schedule

    df = spark.createDataFrame(
        [("u", None, 1), (None, "d", 1), ("w", "d", 1)],
        "url string, domain string, priority long",
    )
    out = crawl_schedule(df).collect()
    assert [(r.url, r.domain) for r in out] == [("w", "d")]
    with pytest.raises(ValueError, match="per_domain_budget"):
        crawl_schedule(df, per_domain_budget=0)


# ------------------------------------------------ cluster_representatives


def test_cluster_reps_picks_best_score_then_min_id(spark):
    from dss_plugin_nlp_analysis_spark.operators.dedup import (
        cluster_representatives,
    )

    clusters = spark.createDataFrame(
        [(1, 10), (2, 10), (3, 10), (4, 20), (5, 20)],
        "id long, cluster_id long",
    )
    scored = spark.createDataFrame(
        [(1, 5), (2, 9), (3, 9), (4, None), (5, None)],
        "id long, score long",
    )
    out = {r.id: r for r in cluster_representatives(scored, clusters).collect()}
    assert len(out) == 5
    # cluster 10: max score 9 shared by ids 2 and 3 -> min id 2 wins
    assert [out[i].keep for i in (1, 2, 3)] == [0, 1, 0]
    # cluster 20: all-NULL scores -> min id wins
    assert [out[i].keep for i in (4, 5)] == [1, 0]
    # exactly one representative per cluster
    assert sum(r.keep for r in out.values()) == 2


def test_cluster_reps_excludes_unscored_docs(spark):
    from dss_plugin_nlp_analysis_spark.operators.dedup import (
        cluster_representatives,
    )

    clusters = spark.createDataFrame(
        [(1, 10), (2, 10)], "id long, cluster_id long"
    )
    scored = spark.createDataFrame([(1, 7)], "id long, score long")
    out = cluster_representatives(scored, clusters).collect()
    assert [(r.id, r.keep) for r in out] == [(1, 1)]


# ------------------------------------------------------------ co_citation


def _edges(spark, rows):
    return spark.createDataFrame(rows, "src long, dst long")


def test_co_citation_counts_shared_citers(spark):
    from dss_plugin_nlp_analysis_spark.operators.graph import co_citation

    # citers 100, 101 both cite (7, 8); 102 cites only 7
    e = _edges(
        spark,
        [(100, 7), (100, 8), (101, 7), (101, 8), (102, 7), (102, 9)],
    )
    out = {
        (r.node_a, r.node_b): r.shared
        for r in co_citation(e, min_shared=1).collect()
    }
    assert out[(7, 8)] == 2
    assert out[(7, 9)] == 1
    assert (8, 9) not in out


def test_coupling_is_the_transpose(spark):
    from dss_plugin_nlp_analysis_spark.operators.graph import co_citation

    e = _edges(spark, [(1, 50), (2, 50), (1, 60), (2, 60), (3, 50)])
    # coupling: 1 and 2 share targets {50, 60}; 3 shares {50} with both
    out = {
        (r.node_a, r.node_b): r.shared
        for r in co_citation(e, mode="coupling", min_shared=1).collect()
    }
    assert out[(1, 2)] == 2
    assert out[(1, 3)] == 1 and out[(2, 3)] == 1
    # transpose equivalence: coupling(E) == cocitation(E with src/dst swapped)
    swapped = e.select(
        F.col("dst").alias("src"), F.col("src").alias("dst")
    )
    out2 = {
        (r.node_a, r.node_b): r.shared
        for r in co_citation(swapped, min_shared=1).collect()
    }
    assert out == out2


def test_co_citation_hub_cap_and_validation(spark):
    from dss_plugin_nlp_analysis_spark.operators.graph import co_citation

    rows = [(999, d) for d in range(10)] + [(1, 3), (1, 4), (2, 3), (2, 4)]
    e = _edges(spark, rows)
    capped = {
        (r.node_a, r.node_b): r.shared
        for r in co_citation(e, max_hub_degree=5, min_shared=1).collect()
    }
    # hub citer 999 (degree 10) dropped: only wedges via citers 1, 2 remain
    assert capped == {(3, 4): 2}
    with pytest.raises(ValueError, match="mode"):
        co_citation(e, mode="bogus")
    with pytest.raises(ValueError, match="min_shared"):
        co_citation(e, min_shared=0)
    with pytest.raises(ValueError, match="max_hub_degree"):
        co_citation(e, max_hub_degree=0)


# -------------------------------------------------- constraint_violations


def test_constraint_violations_shape_and_functional(spark):
    from dss_plugin_nlp_analysis_spark.operators.kg import (
        constraint_violations,
    )

    t = _triples(
        spark,
        [
            ("s1", "born_year", "1984"),
            ("s1", "born_year", "1990"),  # functional conflict (both emitted)
            ("s2", "born_year", "purple"),  # shape violation
            ("s3", "homepage", "https://ok.com"),
            ("s3", "homepage", "https://two.com"),  # NOT functional: fine
            ("s4", "related", "anything"),  # unconstrained
        ],
    )
    rules = spark.createDataFrame(
        [
            ("born_year", "[0-9]{4}", 1),
            ("homepage", r"https://[a-z.]+\.com", 0),
        ],
        "pred string, obj_pattern string, functional int",
    )
    out = constraint_violations(t, rules).collect()
    got = {(r.subj, r.obj, r.violation) for r in out}
    assert ("s2", "purple", "shape") in got
    # the whole conflict set is emitted, not one arbitrary member
    assert ("s1", "1984", "functional") in got
    assert ("s1", "1990", "functional") in got
    # s3 has two homepages but homepage is not functional
    assert not any(r.subj == "s3" for r in out)
    assert not any(r.subj == "s4" for r in out)
    # purple is a shape violation but s2 has only one object: no
    # functional row for it
    assert ("s2", "purple", "functional") not in got


def test_constraint_violations_anchored_full_match(spark):
    from dss_plugin_nlp_analysis_spark.operators.kg import (
        constraint_violations,
    )

    # '1984-ish' CONTAINS four digits but must fail the anchored match
    t = _triples(spark, [("s", "year", "1984-ish"), ("s2", "year", "1984")])
    rules = spark.createDataFrame(
        [("year", "[0-9]{4}", 0)], "pred string, obj_pattern string, functional int"
    )
    out = constraint_violations(t, rules).collect()
    assert [(r.subj, r.violation) for r in out] == [("s", "shape")]


def test_constraint_violations_duplicate_triples_not_functional(spark):
    from dss_plugin_nlp_analysis_spark.operators.kg import (
        constraint_violations,
    )

    # the SAME object asserted twice is one distinct value — no conflict
    t = _triples(spark, [("s", "p", "x"), ("s", "p", "x")])
    rules = spark.createDataFrame(
        [("p", None, 1)], "pred string, obj_pattern string, functional int"
    )
    assert constraint_violations(t, rules).count() == 0


# ------------------------------------------- local_clustering / reciprocity


def test_local_clustering_triangle_and_bridge(spark):
    from dss_plugin_nlp_analysis_spark.operators.graph import local_clustering

    # triangle 1-2-3 plus a pendant 4 hanging off 3
    e = _edges(spark, [(1, 2), (2, 3), (3, 1), (3, 4)])
    out = {r.node: r for r in local_clustering(e).collect()}
    assert out[1].cc_ppm == 1_000_000 and out[1].n_triangles == 1
    assert out[2].cc_ppm == 1_000_000
    # node 3: deg 3, 1 triangle -> 2/6 = 0.333...
    assert out[3].deg == 3 and out[3].cc_ppm == 333_333
    # pendant: deg 1, cc 0 by convention
    assert out[4].deg == 1 and out[4].cc_ppm == 0 and out[4].n_triangles == 0


def test_local_clustering_ignores_direction_and_dups(spark):
    from dss_plugin_nlp_analysis_spark.operators.graph import local_clustering

    e1 = _edges(spark, [(1, 2), (2, 3), (3, 1)])
    e2 = _edges(spark, [(2, 1), (2, 3), (1, 3), (3, 1), (1, 1)])
    a = sorted(map(tuple, local_clustering(e1).collect()))
    b = sorted(map(tuple, local_clustering(e2).collect()))
    assert a == b


def test_reciprocity_counts_mutual_edges(spark):
    from dss_plugin_nlp_analysis_spark.operators.graph import reciprocity

    e = _edges(
        spark, [(1, 2), (2, 1), (1, 3), (3, 4), (4, 3), (3, 5), (3, 3)]
    )
    out = {r.node: r for r in reciprocity(e).collect()}
    # node 1: out {2, 3}; only 1<->2 mutual
    assert (out[1].out_deg, out[1].n_reciprocal) == (2, 1)
    assert out[1].reciprocity_ppm == 500_000
    # node 3: out {4, 5} (self-loop dropped); 3<->4 mutual
    assert (out[3].out_deg, out[3].n_reciprocal) == (2, 1)
    # node 5 is a pure sink: absent
    assert 5 not in out
    assert out[2].reciprocity_ppm == 1_000_000


# ---------------------------------------------------- resource_allocation


def test_resource_allocation_weights_by_pivot_degree(spark):
    from dss_plugin_nlp_analysis_spark.operators.graph import (
        resource_allocation,
    )

    # a and b share two neighbors: z1 (degree 2 -> 500000) and z2
    # (degree 4 -> 250000); z2 also connects c
    e = _edges(
        spark,
        [(10, 1), (10, 2), (20, 1), (20, 2), (20, 3), (20, 4)],
    )
    out = {
        (r.node_a, r.node_b): r.ra_ppm
        for r in resource_allocation(e).collect()
    }
    assert out[(1, 2)] == 500_000 + 250_000
    assert out[(1, 3)] == 250_000  # only via hub 20
    # pivot cap: dropping degree-4 pivots removes exactly their terms
    capped = {
        (r.node_a, r.node_b): r.ra_ppm
        for r in resource_allocation(e, max_hub_degree=3).collect()
    }
    # hub 20 (degree 4) dropped as pivot; nodes 1 and 2 (degree 2) still
    # pivot the (10, 20) pair — 500000 each
    assert capped == {(1, 2): 500_000, (10, 20): 1_000_000}


def test_resource_allocation_undirected_and_threshold(spark):
    from dss_plugin_nlp_analysis_spark.operators.graph import (
        resource_allocation,
    )

    e = _edges(spark, [(1, 9), (9, 2)])
    out = resource_allocation(e).collect()
    # shared neighbor 9 has degree 2 -> 500000 for pair (1, 2)
    assert [(r.node_a, r.node_b, r.ra_ppm) for r in out] == [(1, 2, 500_000)]
    assert resource_allocation(e, min_score_ppm=500_001).count() == 0
    with pytest.raises(ValueError, match="min_score_ppm"):
        resource_allocation(e, min_score_ppm=-1)
    with pytest.raises(ValueError, match="max_hub_degree"):
        resource_allocation(e, max_hub_degree=0)


# ----------------------------------------------------------- assign_splits


def test_assign_splits_total_coverage_and_determinism(spark):
    from dss_plugin_nlp_analysis_spark.operators.sampling import (
        assign_splits,
    )

    df = spark.range(2000).withColumnRenamed("id", "doc_id")
    out = assign_splits(df, "doc_id", seed="s")
    rows = out.collect()
    # every row labeled, exactly one label each
    assert len(rows) == 2000 and all(r.split for r in rows)
    counts = out.groupBy("split").count().collect()
    got = {r.split: r["count"] for r in counts}
    assert set(got) <= {"train", "val", "test"}
    # 98/1/1 within loose binomial bounds at n=2000
    assert got["train"] > 1900
    # stable under repartitioning AND across runs
    again = {
        r.doc_id: r.split
        for r in assign_splits(df.repartition(13), "doc_id", seed="s").collect()
    }
    assert {r.doc_id: r.split for r in rows} == again
    # different seed shuffles membership
    other = {
        r.doc_id: r.split
        for r in assign_splits(df, "doc_id", seed="t").collect()
    }
    assert other != again


def test_assign_splits_custom_and_validation(spark):
    from dss_plugin_nlp_analysis_spark.operators.sampling import (
        assign_splits,
    )

    df = spark.range(100).withColumnRenamed("id", "doc_id")
    out = assign_splits(df, "doc_id", {"a": 0.5, "b": 0.5}, split_col="part")
    assert set(r.part for r in out.collect()) <= {"a", "b"}
    with pytest.raises(ValueError, match="non-empty"):
        assign_splits(df, "doc_id", {})
    with pytest.raises(ValueError, match="sum to 1"):
        assign_splits(df, "doc_id", {"a": 0.5, "b": 0.6})
    with pytest.raises(ValueError, match="must be > 0"):
        assign_splits(df, "doc_id", {"a": 1.0, "b": 0.0})


# -------------------------------------------------------- katz_centrality


def test_katz_counts_damped_paths(spark):
    from dss_plugin_nlp_analysis_spark.operators.graph import katz_centrality

    # star into node 9: three in-edges, no outs elsewhere
    e = _edges(spark, [(1, 9), (2, 9), (3, 9)])
    out = {
        r.node: r.katz_micro
        for r in katz_centrality(
            e, iterations=2, init=1000, alpha_num=1, alpha_den=2
        ).collect()
    }
    # sources receive nothing: rank stays init
    assert out[1] == out[2] == out[3] == 1000
    # node 9 after iter1: 1000 + (3000)//2 = 2500;
    # iter2: 1000 + (3*1000)//2 = 2500 (sources unchanged)
    assert out[9] == 2500


def test_katz_differs_from_pagerank_on_fanout(spark):
    from dss_plugin_nlp_analysis_spark.operators.graph import (
        katz_centrality,
        pagerank,
    )

    # hub 1 links to 2 and 3: Katz gives each the FULL damped rank of 1;
    # PageRank splits it
    e = _edges(spark, [(1, 2), (1, 3)])
    k = {r.node: r.katz_micro for r in katz_centrality(e, iterations=1).collect()}
    assert k[2] == k[3] == 10**6 + (10**6) // 4  # undivided
    p = {r.node: r.rank for r in pagerank(e, iterations=1).collect()}
    assert p[2] == p[3] < k[2] * 10**6  # split + damped (different scale)


def test_katz_validation(spark):
    from dss_plugin_nlp_analysis_spark.operators.graph import katz_centrality

    e = _edges(spark, [(1, 2)])
    with pytest.raises(ValueError, match="iterations"):
        katz_centrality(e, iterations=0)
    with pytest.raises(ValueError, match="alpha"):
        katz_centrality(e, alpha_den=0)


# --------------------------------------- extract_headings / meta_robots


def test_extract_headings_order_levels_and_nested_contract(spark):
    from dss_plugin_nlp_analysis_spark.operators.structured import (
        extract_headings,
    )

    df = spark.createDataFrame(
        [
            (1, '<h2>Two</h2><h1 id="a">One</h1><h3></h3>'),
            (2, "<h1><b>rich</b></h1><p>no headings match</p>"),
            (3, None),
        ],
        "doc_id long, html string",
    )
    out = extract_headings(df, "doc_id", "html").collect()
    one = sorted(
        ((r.pos, r.level, r.text) for r in out if r.id == 1)
    )
    # document order preserved, empty heading text kept
    assert one == [(1, 2, "Two"), (2, 1, "One"), (3, 3, "")]
    # nested inline markup does not match the inline-free body (frozen)
    assert not any(r.id == 2 for r in out)
    assert not any(r.id == 3 for r in out)


def test_extract_meta_robots_tokens_and_none(spark):
    from dss_plugin_nlp_analysis_spark.operators.structured import (
        extract_meta_robots,
    )

    df = spark.createDataFrame(
        [
            (1, '<meta name="robots" content="noindex, nofollow">'),
            (2, '<meta name="robots" content="index, follow">'),
            (3, '<meta name="robots" content="none">'),
            (4, "<p>no tag</p>"),
            (5, '<meta name="robots" content="nonoindexed">'),
        ],
        "doc_id long, html string",
    )
    out = {r.id: r for r in extract_meta_robots(df, "doc_id", "html").collect()}
    assert (out[1].noindex, out[1].nofollow) == (1, 1)
    assert (out[2].noindex, out[2].nofollow) == (0, 0)
    assert (out[3].noindex, out[3].nofollow) == (1, 1)  # blanket 'none'
    assert out[4].directives is None and out[4].noindex == 0
    # word-boundary: 'nonoindexed' is not 'noindex'
    assert (out[5].noindex, out[5].nofollow) == (0, 0)


# ----------------------------------- feed items / incremental minhash


def test_extract_feed_items_formats_and_positions(spark):
    from dss_plugin_nlp_analysis_spark.operators.structured import (
        extract_feed_items,
    )

    df = spark.createDataFrame(
        [
            (
                1,
                "<item><title>T1</title><link>u1</link></item>"
                "<item><title>T2</title><link>u2</link></item>"
                '<entry><title>A1</title><link href="a1"/></entry>',
            ),
            (2, "<p>no feed</p>"),
        ],
        "doc_id long, xml string",
    )
    out = sorted(
        (
            (r.pos, r.fmt, r.title, r.link)
            for r in extract_feed_items(df, "doc_id", "xml").collect()
            if r.id == 1
        )
    )
    assert out == [
        (1, "rss", "T1", "u1"),
        (2, "rss", "T2", "u2"),
        (3, "atom", "A1", "a1"),
    ]
    assert (
        extract_feed_items(df, "doc_id", "xml").where("id = 2").count() == 0
    )


def test_incremental_minhash_equals_full_run_delta_slice(spark):
    from dss_plugin_nlp_analysis_spark.operators.dedup import (
        incremental_minhash_pairs,
        minhash_candidate_pairs,
    )

    base = spark.createDataFrame(
        [(i, f"alpha beta gamma delta epsilon zeta doc{i % 3}") for i in range(6)],
        "id long, t string",
    )
    deltas = {
        "recrawl": [
            (100, "alpha beta gamma delta epsilon zeta doc0"),
            (1, "totally different words entirely here now"),  # re-crawl of id 1
        ],
        # every delta id is also a base id: two re-crawled in place, one
        # moved into another cluster
        "overlap": [
            (0, "alpha beta gamma delta epsilon zeta doc0"),
            (2, "alpha beta gamma delta epsilon zeta doc1"),
            (4, "another text for the fourth document"),
        ],
    }
    for name, rows in deltas.items():
        delta = spark.createDataFrame(rows, "id long, t string")
        ids = {r[0] for r in rows}
        # reference: full run over (base minus updated ids) union delta,
        # keep only pairs touching a delta id. The doc0 bucket holds
        # exactly 3 members ({0, 3, 100} / {0, 3}), so cap 3 keeps it
        # and cap 2 drops it in the first case and keeps it in the second
        merged = base.where(~F.col("id").isin(*ids)).unionByName(delta)
        for cap in (1000, 3, 2):
            full = {
                (r.id_a, r.id_b)
                for r in minhash_candidate_pairs(
                    merged, "id", "t", max_bucket_size=cap
                ).collect()
            }
            want = {p for p in full if p[0] in ids or p[1] in ids}
            got = {
                (r.id_a, r.id_b)
                for r in incremental_minhash_pairs(
                    base, delta, "id", "t", max_bucket_size=cap
                ).collect()
            }
            assert got == want, (name, cap)
            if name == "recrawl":
                # the re-crawled id 1 must be paired by its NEW content
                # (none — it changed away from the cluster), not its old text
                assert not any(1 in p for p in got)
                assert ((0, 100) in got) == (cap >= 3), cap
            else:
                assert ((0, 3) in got) and ((1, 2) in got), (cap, got)
                assert not any(4 in p for p in got)


# --------------------------------- weighted_pagerank / decayed_fact_scores


def test_weighted_pagerank_splits_by_weight(spark):
    from dss_plugin_nlp_analysis_spark.operators.graph import (
        weighted_pagerank,
    )

    e = spark.createDataFrame(
        [(1, 2, 3), (1, 3, 1)], "src long, dst long, weight long"
    )
    out = {
        r.node: r.rank for r in weighted_pagerank(e, iterations=1).collect()
    }
    init, base = 10**9, 15 * 10**9 // 100
    # node 2 gets 3/4 of node 1's rank, node 3 gets 1/4
    assert out[2] == base + 85 * (init * 3 // 4) // 100
    assert out[3] == base + 85 * (init * 1 // 4) // 100
    assert out[1] == base  # no in-edges


def test_weighted_pagerank_combines_parallel_edges_and_validates(spark):
    from dss_plugin_nlp_analysis_spark.operators.graph import (
        weighted_pagerank,
    )
    import pytest as _pytest

    # two parallel 1->2 edges of weight 1 == one edge of weight 2
    e1 = spark.createDataFrame(
        [(1, 2, 1), (1, 2, 1), (1, 3, 2)], "src long, dst long, weight long"
    )
    e2 = spark.createDataFrame(
        [(1, 2, 2), (1, 3, 2)], "src long, dst long, weight long"
    )
    a = sorted(map(tuple, weighted_pagerank(e1, iterations=2).collect()))
    b = sorted(map(tuple, weighted_pagerank(e2, iterations=2).collect()))
    assert a == b
    with _pytest.raises(ValueError, match="iterations"):
        weighted_pagerank(e1, iterations=0)


def test_decayed_fact_scores_halves_per_half_life(spark):
    import datetime as dt

    from dss_plugin_nlp_analysis_spark.operators.kg import decayed_fact_scores

    t = spark.createDataFrame(
        [
            ("s", "p", "o", dt.datetime(2026, 3, 1)),   # 2 half-lives old
            ("s", "p", "o", dt.datetime(2026, 3, 8)),   # 1 half-life old
            ("s", "p", "o", dt.datetime(2026, 3, 15)),  # fresh
            ("s", "p", "x", None),                      # NULL ts excluded
        ],
        "subj string, pred string, obj string, warc_ts timestamp",
    )
    out = decayed_fact_scores(t, half_life_days=7).collect()
    assert len(out) == 1
    r = out[0]
    assert r.n_mentions == 3
    assert r.score == 1_000_000 + 500_000 + 250_000
    with pytest.raises(ValueError, match="half_life_days"):
        decayed_fact_scores(t, half_life_days=0)
    with pytest.raises(ValueError, match="max_halvings"):
        decayed_fact_scores(t, max_halvings=63)


# ----------------------------------------------------------- cube_aggregate


def test_cube_aggregate_all_margins_and_gid(spark):
    from dss_plugin_nlp_analysis_spark.operators.rollup import cube_aggregate

    df = spark.createDataFrame(
        [("a", 1, 10), ("a", 2, 20), ("b", 1, 30), (None, 1, 40)],
        "t string, s int, m int",
    )
    out = {
        (r.t, r.s, r.gid): (r.n_rows, r.measure_sum)
        for r in cube_aggregate(df, ["t", "s"], measure_col="m").collect()
    }
    # 2 dims -> every subset present: grand total gid=3
    assert out[(None, None, 3)] == (4, 100)
    # per-t margin (s rolled away, gid bit of s = 1)
    assert out[("a", None, 1)] == (2, 30)
    # genuine NULL t at detail level distinguished from rollup by gid
    assert out[(None, 1, 0)] == (1, 40)       # real NULL value
    assert out[(None, 1, 2)] == (3, 80)       # t rolled away margin
    with pytest.raises(ValueError, match="non-empty"):
        cube_aggregate(df, [])
    with pytest.raises(ValueError, match="cap is 6"):
        cube_aggregate(df, ["t"] * 7)


def test_cube_aggregate_plan_is_one_expand(spark):
    from dss_plugin_nlp_analysis_spark.operators.rollup import cube_aggregate

    df = spark.createDataFrame([("a", 1)], "t string, s int")
    plan = (
        cube_aggregate(df, ["t", "s"])
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # one Expand into one hash aggregate — not 2^d separate scans
    assert plan.count("Expand") == 1, plan
    assert "HashAggregate" in plan


# ------------------------------------------------------------ url_templates


def test_url_templates_collapses_ids_and_hex(spark):
    from dss_plugin_nlp_analysis_spark.operators.url import url_templates

    df = spark.createDataFrame(
        [
            ("https://a.example.com/product/123",),
            ("https://a.example.com/product/456",),
            ("https://a.example.com/obj/deadbeefcafe1234",),
            ("https://a.example.com/obj/0123456789abcdef",),
            ("https://a.example.com/about/cafe",),  # short hex stays
            # same registrable domain as the a. host — counts together
            ("https://b.example.com/product/9",),
        ],
        "url string",
    )
    out = {
        (r.domain, r.template): (r.n_urls, r.sample_url)
        for r in url_templates(df, "url").collect()
    }
    assert out[("example.com", "/product/{d}")] == (
        3,
        "https://a.example.com/product/123",
    )
    assert out[("example.com", "/obj/{h}")][0] == 2
    # below min_count or unique templates absent
    assert ("example.com", "/about/cafe") not in out
    with pytest.raises(ValueError, match="min_count"):
        url_templates(df, "url", min_count=0)


def test_url_templates_uses_canonical_urls(spark):
    from dss_plugin_nlp_analysis_spark.operators.url import url_templates

    # fragment/utm variants of one template collapse together
    df = spark.createDataFrame(
        [
            ("https://a.example.com/p/1?utm_source=x",),
            ("https://a.example.com/p/2#frag",),
        ],
        "url string",
    )
    out = url_templates(df, "url").collect()
    assert len(out) == 1 and out[0].template == "/p/{d}" and out[0].n_urls == 2


# ------------------------------ group_percentiles / inverse_predicates


def test_group_percentiles_disc_semantics(spark):
    from dss_plugin_nlp_analysis_spark.operators.rollup import (
        group_percentiles,
    )

    rows = [("a", v) for v in range(1, 11)] + [("b", 5), ("b", None), (None, 9)]
    df = spark.createDataFrame(rows, "g string, v long")
    out = {
        (r.g, r.pct): r.value
        for r in group_percentiles(df, "g", "v", (50, 100)).collect()
    }
    # group a: n=10 -> p50 = value at ceil(5) = 5th smallest = 5
    assert out[("a", 50)] == 5
    assert out[("a", 100)] == 10
    # group b: single non-NULL value; NULL group/value rows excluded
    assert out[("b", 50)] == 5 and out[("b", 100)] == 5
    assert not any(g is None for g, _ in out)
    with pytest.raises(ValueError, match="non-empty"):
        group_percentiles(df, "g", "v", ())
    with pytest.raises(ValueError, match="in \\[1, 100\\]"):
        group_percentiles(df, "g", "v", (0,))


def test_inverse_predicates_directional_and_symmetric(spark):
    from dss_plugin_nlp_analysis_spark.operators.kg import inverse_predicates

    t = _triples(
        spark,
        [
            ("a", "likes", "b"),
            ("b", "liked_by", "a"),
            ("c", "likes", "d"),           # no inverse
            ("x", "married_to", "y"),
            ("y", "married_to", "x"),      # symmetric
            ("z", "likes", "z"),           # self-loop: excluded
        ],
    )
    out = {
        (r.pred, r.inv_pred): (r.support, r.n_facts, r.confidence_ppm)
        for r in inverse_predicates(t).collect()
    }
    # directional: likes has 2 facts, 1 inverted -> 50%; liked_by 1/1
    assert out[("likes", "liked_by")] == (1, 2, 500_000)
    assert out[("liked_by", "likes")] == (1, 1, 1_000_000)
    assert out[("married_to", "married_to")] == (2, 2, 1_000_000)
    assert not any(p == "likes" and q == "likes" for p, q in out)
    with pytest.raises(ValueError, match="min_support"):
        inverse_predicates(t, min_support=0)


# ------------------------------------------------------------ mine_acronyms


def test_mine_acronyms_initial_match_and_duplicates(spark):
    from dss_plugin_nlp_analysis_spark.operators.mentions import mine_acronyms

    df = spark.createDataFrame(
        [
            (1, "the knowledge graph (KG) and knowledge graph (KG) again"),
            (2, "the big company (IBM) said"),        # initials mismatch
            (3, "United Nations (UN) met"),           # case-insensitive
            (4, "tiny (A) parenthetical"),            # 1-letter: no match
            (5, None),
        ],
        "doc_id long, t string",
    )
    out = mine_acronyms(df, "doc_id", "t").collect()
    got = sorted((r.id, r.acronym, r.expansion) for r in out)
    # duplicates within a page kept (frequency is alias-weight signal)
    assert got == [
        (1, "KG", "knowledge graph"),
        (1, "KG", "knowledge graph"),
        (3, "UN", "united nations"),
    ]


def test_mine_acronyms_takes_exact_tail_words(spark):
    from dss_plugin_nlp_analysis_spark.operators.mentions import mine_acronyms

    # phrase window is 5 words; expansion = exactly the last len(acr)
    # initial-matching words, not the whole captured phrase
    df = spark.createDataFrame(
        [(1, "works at the World Health Organization (WHO) today")],
        "doc_id long, t string",
    )
    out = mine_acronyms(df, "doc_id", "t").collect()
    assert [(r.acronym, r.expansion) for r in out] == [
        ("WHO", "world health organization")
    ]


# ------------------------------------------------------------- image_dhash


def test_image_dhash_container_invariance_and_gradient(spark):
    import numpy as np

    from dss_plugin_nlp_analysis_spark.functions.imagecodec import (
        encode_bmp,
        encode_ppm,
    )
    from dss_plugin_nlp_analysis_spark.operators.multimodal import image_dhash

    # horizontal gradient: every left pixel darker -> all 64 bits clear
    grad = np.tile(np.arange(0, 160, 10, dtype=np.uint8), (8, 1))
    arr = np.stack([grad] * 3, axis=2)
    solid = np.full((6, 6, 3), 77, dtype=np.uint8)
    rows = [
        (1, bytearray(encode_ppm(arr))),
        (2, bytearray(encode_bmp(arr))),   # same pixels, other container
        (3, bytearray(encode_ppm(solid))),
    ]
    df = spark.createDataFrame(rows, "doc_id long, img binary")
    out = {r.id: r for r in image_dhash(df, "doc_id", "img").collect()}
    # container-invariant: PPM and BMP of the same pixels hash equal
    assert out[1].dhash == out[2].dhash
    # ascending left-to-right means luma[x] > luma[x+1] never holds
    assert out[1].dhash == 0
    assert out[3].dhash == 0 and (out[3].width, out[3].height) == (6, 6)
    # reversed gradient flips every comparison -> all 64 bits set
    rev = np.stack([grad[:, ::-1]] * 3, axis=2)
    df2 = spark.createDataFrame(
        [(9, bytearray(encode_ppm(np.ascontiguousarray(rev))))],
        "doc_id long, img binary",
    )
    r9 = image_dhash(df2, "doc_id", "img").collect()[0]
    assert r9.dhash == -1  # all-ones in signed two's complement


# ---------------------------------------------------- dhash_candidate_pairs


def test_dhash_pairs_hamming_band_guarantee(spark):
    from dss_plugin_nlp_analysis_spark.operators.multimodal import (
        dhash_candidate_pairs,
    )

    # a=base; b differs in 2 bits of one band (caught: 3 bands agree);
    # c differs in one bit of EVERY band (missed: no whole band agrees)
    a = 0x1234_5678_9ABC_DEF0
    b = a ^ 0x3  # low band only
    c = a ^ (1 | (1 << 16) | (1 << 32) | (1 << 48))
    df = spark.createDataFrame(
        [(1, a - (1 << 64) if a >= 1 << 63 else a),
         (2, b - (1 << 64) if b >= 1 << 63 else b),
         (3, c - (1 << 64) if c >= 1 << 63 else c)],
        "id long, dhash long",
    )
    out = {(r.id_a, r.id_b) for r in dhash_candidate_pairs(df).collect()}
    assert (1, 2) in out
    assert (1, 3) not in out and (2, 3) not in out
    import pytest as _pytest

    with _pytest.raises(ValueError, match="bands"):
        dhash_candidate_pairs(df, bands=5)


def test_dhash_pairs_duplicate_ids(spark):
    from dss_plugin_nlp_analysis_spark.operators.multimodal import (
        dhash_candidate_pairs,
    )

    # an id may carry several hashes; a bucket's size counts hash rows,
    # and an id never pairs with itself
    df = spark.createDataFrame(
        [(1, 0), (1, 0), (2, 0), (2, 7), (3, 7), (3, 1 << 40), (4, 1 << 40),
         (5, -1), (5, -1), (6, -2), (7, (1 << 16) - 1)],
        "id long, dhash long",
    )
    out = sorted(tuple(r) for r in dhash_candidate_pairs(df).collect())
    assert out == [(1, 2), (1, 3), (1, 4), (1, 7), (2, 3), (2, 4), (2, 7),
                   (3, 4), (3, 7), (4, 7), (5, 6), (5, 7)]
    out = sorted(
        tuple(r) for r in dhash_candidate_pairs(df, max_bucket_size=3).collect()
    )
    assert out == [(2, 3), (3, 4), (5, 6), (5, 7)]


def test_dhash_pairs_null_hashes_never_pair(spark):
    from dss_plugin_nlp_analysis_spark.operators.multimodal import (
        dhash_candidate_pairs,
    )

    # a NULL hash has no band keys, so NULL-hash rows never pair with
    # each other (a NULL slice used to leave every band key as "b" alone)
    df = spark.createDataFrame([(1, None), (2, None), (3, 0)], "id long, dhash long")
    assert dhash_candidate_pairs(df).collect() == []


def test_dhash_pairs_negative_hash_band_keys(spark):
    from dss_plugin_nlp_analysis_spark.operators.multimodal import (
        dhash_candidate_pairs,
    )

    # identical NEGATIVE (bit-63-set) hashes must pair — the masked
    # band keys are sign-safe
    df = spark.createDataFrame([(1, -7), (2, -7)], "id long, dhash long")
    out = dhash_candidate_pairs(df).collect()
    assert [(r.id_a, r.id_b) for r in out] == [(1, 2)]


# -------------------------------------------------------- audio_fingerprint


def test_audio_fingerprint_contour_and_scale_direction(spark):
    import numpy as np

    from dss_plugin_nlp_analysis_spark.functions.audiocodec import encode_wav
    from dss_plugin_nlp_analysis_spark.operators.multimodal import (
        audio_fingerprint,
    )

    # monotone-rising energy: every adjacent comparison true -> 15 bits
    rising = np.repeat(np.arange(16, dtype=np.int32) * 100, 4)
    # doubled volume: same contour, same fingerprint
    loud = rising * 2
    falling = rising[::-1].copy()
    rows = [
        (1, bytearray(encode_wav(rising, 16000, 16))),
        (2, bytearray(encode_wav(loud, 16000, 16))),
        (3, bytearray(encode_wav(falling, 16000, 16))),
    ]
    df = spark.createDataFrame(rows, "doc_id long, audio binary")
    out = {r.id: r for r in audio_fingerprint(df, "doc_id", "audio").collect()}
    assert out[1].fingerprint == (1 << 15) - 1
    assert out[2].fingerprint == out[1].fingerprint  # volume-invariant contour
    assert out[3].fingerprint == 0
    assert out[1].n_samples == 64
    import pytest as _pytest

    with _pytest.raises(ValueError, match="windows"):
        audio_fingerprint(df, "doc_id", "audio", windows=1)


# ------------------------------------------------------ video_scene_changes


def test_video_scene_changes_lag_and_threshold(spark):
    from dss_plugin_nlp_analysis_spark.operators.multimodal import (
        video_scene_changes,
    )

    # 4x4 frames: sums are w*h*value (solid); cut between frame 2 and 4
    rows = [
        (1, 0, 4, 4, 16 * 10, 16 * 10, 16 * 10),
        (1, 2, 4, 4, 16 * 12, 16 * 12, 16 * 12),   # small drift
        (1, 4, 4, 4, 16 * 200, 16 * 200, 16 * 200),  # hard cut
        (2, 0, 4, 4, 16 * 5, 16 * 5, 16 * 5),       # single frame: no row
    ]
    df = spark.createDataFrame(
        rows,
        "id long, frame_idx int, width int, height int,"
        " sum_r long, sum_g long, sum_b long",
    )
    out = {
        (r.id, r.frame_idx): r
        for r in video_scene_changes(df, min_delta_ppm=100_000).collect()
    }
    assert set(out) == {(1, 2), (1, 4)}
    drift, cut = out[(1, 2)], out[(1, 4)]
    assert drift.prev_idx == 0 and drift.is_change == 0
    # delta = |200-12|*16 luma units over 255*16 full scale
    assert cut.delta_ppm == (188 * 16 * 1_000_000) // (255 * 16)
    assert cut.is_change == 1
    import pytest as _pytest

    with _pytest.raises(ValueError, match="min_delta_ppm"):
        video_scene_changes(df, min_delta_ppm=-1)


# --------------------------------------- preference_pairs / badword_filter


def test_preference_pairs_extremes_and_gap(spark):
    from dss_plugin_nlp_analysis_spark.operators.trainprep import (
        preference_pairs,
    )

    rows = [
        ("c1", 1, 10), ("c1", 2, 50), ("c1", 3, 50),  # tie at top: min id
        ("c2", 4, 7), ("c2", 5, 9),                   # gap 2 < min_gap 5
        ("c3", 6, 100),                               # single member
        (None, 7, 1), ("c4", 8, None),                # NULL key/score out
        ("c4", 9, 3), ("c4", 10, 30),
    ]
    df = spark.createDataFrame(rows, "cluster string, id long, score long")
    out = {
        r.cluster: r
        for r in preference_pairs(
            df, "cluster", "id", "score", min_gap=5
        ).collect()
    }
    assert set(out) == {"c1", "c4"}
    assert (out["c1"].chosen_id, out["c1"].rejected_id) == (2, 1)
    assert (out["c1"].chosen_score, out["c1"].rejected_score, out["c1"].gap) == (
        50,
        10,
        40,
    )
    assert (out["c4"].chosen_id, out["c4"].rejected_id) == (10, 9)
    with pytest.raises(ValueError, match="min_gap"):
        preference_pairs(df, "cluster", "id", "score", min_gap=0)


def test_badword_filter_exact_tokens_and_threshold(spark):
    from dss_plugin_nlp_analysis_spark.operators.webclean import (
        badword_filter,
    )

    df = spark.createDataFrame(
        [
            (1, "the scan was SLOW and slow again"),
            (2, "slowly is a different token"),   # substring never matches
            (3, None),
            (4, "ok text here"),
        ],
        "doc_id long, text string",
    )
    out = {
        r.id: r for r in badword_filter(df, "doc_id", "text", ["slow"]).collect()
    }
    assert (out[1].n_bad, out[1].keep) == (2, 0)  # case-folded, both hits
    assert (out[2].n_bad, out[2].keep) == (0, 1)
    assert (out[3].n_tokens, out[3].keep) == (0, 1)  # NULL text keeps
    # ppm threshold: 2 bad of 7 tokens = 285714 ppm
    assert out[1].bad_ppm == 285_714
    lax = {
        r.id: r.keep
        for r in badword_filter(
            df, "doc_id", "text", ["slow"], max_bad_ppm=300_000
        ).collect()
    }
    assert lax[1] == 1
    with pytest.raises(ValueError, match="non-empty"):
        badword_filter(df, "doc_id", "text", [])


# --------------------------------------------- phrase_search / event_paths


def test_phrase_search_adjacency_and_counts(spark):
    from dss_plugin_nlp_analysis_spark.operators.invindex import phrase_search

    df = spark.createDataFrame(
        [
            (1, "a table scan then a table scan again"),
            (2, "scan the table"),          # wrong order: no match
            (3, "table  SCAN"),             # case + whitespace normalize
            (4, "tablescan"),               # fused token: no match
            (5, None),
        ],
        "doc_id long, text string",
    )
    out = {
        r.id: r.n_matches
        for r in phrase_search(df, "doc_id", "text", "Table Scan").collect()
    }
    assert out == {1: 2, 3: 1}
    # single-token phrase = occurrence count
    one = {
        r.id: r.n_matches
        for r in phrase_search(df, "doc_id", "text", "table").collect()
    }
    assert one[1] == 2 and one[2] == 1
    with pytest.raises(ValueError, match="phrase"):
        phrase_search(df, "doc_id", "text", "   ")


def test_event_paths_order_and_topk(spark):
    import datetime as dt

    from dss_plugin_nlp_analysis_spark.operators.rollup import event_paths

    t0 = dt.datetime(2026, 1, 1)
    rows = [
        (1, "a", t0, 1), (1, "b", t0, 2), (1, "c", t0, 3), (1, "d", t0, 4),
        (2, "a", t0, 1), (2, "b", t0, 2), (2, "c", t0, 3),
    ]
    df = spark.createDataFrame(
        rows, "user_id long, event_type string, ts timestamp, event_id long"
    )
    out = {
        (r.step_1, r.step_2, r.step_3): r.n_paths
        for r in event_paths(df, steps=3).collect()
    }
    # user 1 contributes abc and bcd; user 2 abc — sequences never cross
    # users
    assert out == {("a", "b", "c"): 2, ("b", "c", "d"): 1}
    top1 = event_paths(df, steps=3, top_k=1).collect()
    assert [(r.step_1, r.step_2, r.step_3, r.n_paths) for r in top1] == [
        ("a", "b", "c", 2)
    ]
    with pytest.raises(ValueError, match="steps"):
        event_paths(df, steps=1)


# ------------------------------------------------------ score_candidate_pairs


def test_er_scoring_weights_nulls_and_thresholds(spark):
    from dss_plugin_nlp_analysis_spark.operators.er import (
        score_candidate_pairs,
    )

    df = spark.createDataFrame(
        [
            (1, 1, 1),     # both agree: 20 + 40 = 60 -> link
            (2, 1, None),  # NULL taxid contributes 0: 20 -> possible
            (3, 0, 0),     # both disagree: -15 - 35 = -50 -> nonlink
            (4, 0, 1),     # -15 + 40 = 25 -> possible
        ],
        "pair_id long, name_agree int, taxid_agree int",
    )
    out = {
        r.pair_id: (r.score, r.decision)
        for r in score_candidate_pairs(
            df, [("name_agree", 20, 15), ("taxid_agree", 40, 35)],
            upper=30, lower=0,
        ).collect()
    }
    assert out[1] == (60, "link")
    assert out[2] == (20, "possible")
    assert out[3] == (-50, "nonlink")
    assert out[4] == (25, "possible")
    with pytest.raises(ValueError, match="non-empty"):
        score_candidate_pairs(df, [], upper=1, lower=0)
    with pytest.raises(ValueError, match="lower"):
        score_candidate_pairs(
            df, [("name_agree", 1, 1)], upper=0, lower=1
        )
    with pytest.raises(ValueError, match="non-negative"):
        score_candidate_pairs(
            df, [("name_agree", -1, 1)], upper=1, lower=0
        )


# --------------------------------------------------------- textrank_sentences


def test_textrank_central_sentence_wins(spark):
    from dss_plugin_nlp_analysis_spark.operators.textstats import (
        textrank_sentences,
    )

    # s1 shares tokens with both s0 and s2; s0 and s2 share nothing —
    # s1 is the hub and must rank first
    df = spark.createDataFrame(
        [(1, ["alpha beta", "beta gamma", "gamma delta"]),
         (2, ["lonely sentence"])],
        "doc_id long, sents array<string>",
    )
    out = textrank_sentences(df, "doc_id", "sents", top_k=3).collect()
    doc1 = sorted((r for r in out if r.id == 1), key=lambda r: r.pos)
    assert doc1[0].sent_idx == 1 and doc1[0].sentence == "beta gamma"
    # single-sentence doc summarizes to itself at the damped base
    doc2 = [r for r in out if r.id == 2]
    assert len(doc2) == 1 and doc2[0].sentence == "lonely sentence"
    assert doc2[0].rank_micro == 150_000


def test_textrank_tie_breaks_to_earlier_sentence(spark):
    from dss_plugin_nlp_analysis_spark.operators.textstats import (
        textrank_sentences,
    )

    # two identical sentences: symmetric graph, equal ranks -> earlier
    # index wins
    df = spark.createDataFrame(
        [(1, ["same words here", "same words here"])],
        "doc_id long, sents array<string>",
    )
    r = textrank_sentences(df, "doc_id", "sents", top_k=1).collect()[0]
    assert r.sent_idx == 0 and r.pos == 1
    import pytest as _pytest

    with _pytest.raises(ValueError, match="top_k"):
        textrank_sentences(df, "doc_id", "sents", top_k=0)
