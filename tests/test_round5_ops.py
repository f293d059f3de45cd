"""Round-5 operator surface: structured-data extraction (JSON-LD /
OpenGraph), blocked fuzzy entity matching, label propagation, and
canonical-chain resolution — unit edge cases + executed-plan scale
assertions (the oracle gates live in test_entry.py)."""

import pytest
from pyspark.sql import functions as F

from dss_plugin_nlp_analysis_spark.operators.er import (
    blocked_name_matches,
    normalize_name,
)
from dss_plugin_nlp_analysis_spark.operators.graph import label_propagation
from dss_plugin_nlp_analysis_spark.operators.structured import (
    extract_jsonld,
    extract_og,
)
from dss_plugin_nlp_analysis_spark.operators.url import resolve_canonical


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def pages(spark):
    return spark.createDataFrame(
        [
            (
                1,
                '<html><script type="application/ld+json">'
                '{"@type":"Article","name":"A1","author":'
                '{"@type":"Person","name":"P1"},"n":7}</script>'
                '<meta property="og:title" content="T1">'
                '<meta property="og:type" content="article"></html>',
            ),
            (2, "<html>no structured data</html>"),
            (
                3,
                '<script type="application/ld+json">{bad json</script>'
                '<meta property="og:title" content="T3">',
            ),
            (4, None),
        ],
        ["id", "html"],
    ).withColumn("html", F.coalesce("html", F.lit("")))


class TestExtractJsonld:
    def test_facts_and_absent_paths(self, spark, pages):
        rows = {
            (r.id, r.pred): r.obj
            for r in extract_jsonld(
                pages,
                "id",
                "html",
                {"name": "$.name", "author": "$.author.name", "n": "$.n",
                 "missing": "$.nope"},
            ).collect()
        }
        # page 1 yields its three present facts; 'missing' never appears;
        # pages 2 (no island), 3 (malformed), 4 (empty) yield nothing
        assert rows == {(1, "name"): "A1", (1, "author"): "P1", (1, "n"): "7"}

    def test_empty_paths_rejected(self, pages):
        with pytest.raises(ValueError, match="non-empty"):
            extract_jsonld(pages, "id", "html", {})

    def test_zero_shuffle_pure_map(self, pages):
        plan = plan_of(extract_jsonld(pages, "id", "html", {"name": "$.name"}))
        assert "Exchange" not in plan, plan
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


class TestExtractOg:
    def test_rows_in_document_order(self, pages):
        rows = [
            (r.id, r.og_key, r.og_content)
            for r in extract_og(pages, "id", "html").orderBy("id", "og_key").collect()
        ]
        assert rows == [
            (1, "title", "T1"),
            (1, "type", "article"),
            (3, "title", "T3"),
        ]

    def test_zero_shuffle_pure_map(self, pages):
        plan = plan_of(extract_og(pages, "id", "html"))
        assert "Exchange" not in plan, plan


class TestBlockedNameMatches:
    def test_matches_within_block_and_cap(self, spark):
        names = spark.createDataFrame(
            [(1, "Acme Corp"), (2, "acme corp."), (3, "ACME c0rp"),
             (4, "Zenith"), (5, "zenitth"), (6, ""), (7, None), (8, "x")]
            # a hot block: 40 'qq...' names above the cap of 30
            + [(100 + i, f"qq{i}") for i in range(40)],
            ["id", "name"],
        )
        out = blocked_name_matches(names, "id", "name", max_dist=2, max_block_size=30)
        pairs = {(r.id_a, r.id_b): r.dist for r in out.collect()}
        # case/punct variants match inside the 'ac' block; 'qq' block dropped
        assert pairs == {(1, 2): 1, (1, 3): 1, (2, 3): 2, (4, 5): 1}

    def test_prefix_typo_escapes_block(self, spark):
        # documented recall trade: a typo INSIDE the 2-char key separates
        # the blocks, so no pair is produced
        names = spark.createDataFrame(
            [(1, "acme corp"), (2, "qcme corp")], ["id", "name"]
        )
        assert blocked_name_matches(names, "id", "name").count() == 0

    def test_validation(self, spark):
        names = spark.createDataFrame([(1, "ab")], ["id", "name"])
        with pytest.raises(ValueError, match="max_dist"):
            blocked_name_matches(names, "id", "name", max_dist=-1)
        with pytest.raises(ValueError, match="max_block_size"):
            blocked_name_matches(names, "id", "name", max_block_size=1)

    def test_normalize_name(self, spark):
        df = spark.range(1).select(
            normalize_name(F.lit("  Acme   CORP \t x ")).alias("n"),
            normalize_name(F.lit(None).cast("string")).alias("m"),
        )
        r = df.collect()[0]
        assert r.n == "acme corp x" and r.m == ""

    def test_no_cartesian_key_equi_join_only(self, spark):
        names = spark.createDataFrame([(1, "acme"), (2, "acmee")], ["id", "name"])
        plan = plan_of(blocked_name_matches(names, "id", "name"))
        assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan, plan


class TestLabelPropagation:
    def test_triangle_plus_tail_converges_to_min(self, spark):
        edges = spark.createDataFrame(
            [(1, 2), (2, 3), (3, 1), (3, 4)], ["src", "dst"]
        )
        out = {r.node: r.label for r in label_propagation(edges, rounds=3).collect()}
        # the triangle floods label 1; the tail node 4 hangs off node 3
        assert out[1] == 1 and out[2] == 1 and out[3] == 1 and out[4] in (1, 3)

    def test_deterministic_across_runs(self, spark):
        edges = spark.createDataFrame(
            [(i, (i * 7) % 23) for i in range(23)], ["src", "dst"]
        )
        a = sorted(map(tuple, label_propagation(edges, rounds=2).collect()))
        b = sorted(map(tuple, label_propagation(edges, rounds=2).collect()))
        assert a == b

    def test_validation(self, spark):
        edges = spark.createDataFrame([(1, 2)], ["src", "dst"])
        with pytest.raises(ValueError, match="rounds"):
            label_propagation(edges, rounds=0)


class TestResolveCanonical:
    @pytest.fixture(scope="class")
    def cdf(self, spark):
        return spark.createDataFrame(
            [("u1", "u2"), ("u2", "u3"), ("u3", None), ("c1", "c2"),
             ("c2", "c1"), ("t1", None), ("self", "self")],
            ["url", "canon"],
        )

    def test_chain_cycle_terminal(self, spark, cdf):
        out = {r.url: (r.resolved, r.is_terminal)
               for r in resolve_canonical(cdf, "url", "canon", rounds=3).collect()}
        assert out["u1"] == ("u3", True) and out["u2"] == ("u3", True)
        assert out["u3"] == ("u3", True) and out["t1"] == ("t1", True)
        assert out["self"] == ("self", True)
        # 2-cycle: 8 (even) saturating steps rotate back; flagged unresolved
        assert out["c1"] == ("c1", False) and out["c2"] == ("c2", False)

    def test_rounds_zero_is_one_step(self, spark, cdf):
        out = {r.url: r.resolved
               for r in resolve_canonical(cdf, "url", "canon", rounds=0).collect()}
        assert out["u1"] == "u2"  # f^(2^0) = one hop

    def test_validation(self, spark, cdf):
        with pytest.raises(ValueError, match="rounds"):
            resolve_canonical(cdf, "url", "canon", rounds=-1)


class TestParseSitemap:
    def test_entries_fields_and_invalid(self, spark):
        from dss_plugin_nlp_analysis_spark.sources.sitemap import parse_sitemap

        xml = (
            "<urlset>"
            "<url><loc>https://a.example/1</loc>"
            "<lastmod>2026-01-02</lastmod></url>"
            "<url><loc>https://a.example/2</loc></url>"  # no lastmod
            "<url><lastmod>2026-01-03</lastmod></url>"  # loc-less: dropped
            "</urlset>"
            "<sitemapindex><sitemap><loc>https://a.example/s.xml</loc>"
            "</sitemap></sitemapindex>"
        )
        df = spark.createDataFrame([(1, xml), (2, None), (3, "")], ["id", "xml"])
        rows = sorted(
            (r.id, r.loc, r.lastmod) for r in parse_sitemap(df, "id", "xml").collect()
        )
        assert rows == [
            (1, "https://a.example/1", "2026-01-02"),
            (1, "https://a.example/2", None),
        ]

    def test_zero_shuffle(self, spark):
        from dss_plugin_nlp_analysis_spark.sources.sitemap import parse_sitemap

        df = spark.createDataFrame([(1, "<url><loc>x</loc></url>")], ["id", "xml"])
        assert "Exchange" not in plan_of(parse_sitemap(df, "id", "xml"))


class TestExtractHreflang:
    def test_rows(self, spark):
        from dss_plugin_nlp_analysis_spark.operators.structured import (
            extract_hreflang,
        )

        df = spark.createDataFrame(
            [
                (1, '<link rel="alternate" hreflang="en" href="https://e/en">'
                    '<link rel="alternate" hreflang="zh-Hant" href="https://e/zh">'),
                (2, "<p>none</p>"),
                (3, None),
            ],
            ["id", "html"],
        )
        rows = sorted(
            (r.id, r.hreflang, r.href)
            for r in extract_hreflang(df, "id", "html").collect()
        )
        assert rows == [(1, "en", "https://e/en"), (1, "zh-Hant", "https://e/zh")]


class TestBoilerplateLines:
    def test_template_found_within_page_repeat_counts_once(self, spark):
        from dss_plugin_nlp_analysis_spark.operators.webclean import (
            boilerplate_lines,
        )

        df = spark.createDataFrame(
            [
                (1, "a.com", "cookie banner\nunique one\ncookie banner"),
                (2, "a.com", "cookie banner\nunique two"),
                (3, "a.com", "unique three"),
                (4, "b.com", "lonely page line"),  # 1-page domain: excluded
                (5, None, "cookie banner"),  # NULL domain: excluded
            ],
            ["id", "domain", "text"],
        )
        out = {
            (r.domain, r.line): (r.n_pages, r.domain_pages, r.ratio_ppm)
            for r in boilerplate_lines(
                df, "id", "domain", "text", min_ratio_ppm=600_000, min_pages=2
            ).collect()
        }
        # within-page repeat on page 1 counts once -> 2 of 3 pages = 666666
        assert out == {("a.com", "cookie banner"): (2, 3, 666_666)}

    def test_validation(self, spark):
        from dss_plugin_nlp_analysis_spark.operators.webclean import (
            boilerplate_lines,
        )

        df = spark.createDataFrame([(1, "d", "t")], ["id", "domain", "text"])
        with pytest.raises(ValueError, match="min_pages"):
            boilerplate_lines(df, "id", "domain", "text", min_pages=0)
        with pytest.raises(ValueError, match="min_ratio_ppm"):
            boilerplate_lines(df, "id", "domain", "text", min_ratio_ppm=0)


class TestDomainPolicy:
    def test_verdicts_and_null_exclusion(self, spark):
        from dss_plugin_nlp_analysis_spark.operators.webclean import domain_policy

        rows = (
            [("good.com", 100, True)] * 3
            + [("bad.com", 5, False), ("bad.com", 5, True), ("bad.com", 5, False)]
            + [("small.com", 100, True)]
            + [("good.com", None, True), (None, 100, True)]  # excluded votes
        )
        df = spark.createDataFrame(rows, ["domain", "score", "keep"])
        out = {
            r.domain: (r.n_pages, r.mean_score, r.keep_ppm, r.verdict)
            for r in domain_policy(
                df, "domain", "score", "keep",
                min_pages=2, min_mean_score=50, min_keep_ppm=500_000,
            ).collect()
        }
        assert out["good.com"] == (3, 100, 1_000_000, "keep")
        assert out["bad.com"] == (3, 5, 333_333, "drop")
        assert out["small.com"] == (1, 100, 1_000_000, "review")
        assert set(out) == {"good.com", "bad.com", "small.com"}

    def test_single_combinable_aggregate_no_window(self, spark):
        from dss_plugin_nlp_analysis_spark.operators.webclean import domain_policy

        df = spark.createDataFrame([("d", 1, True)], ["domain", "score", "keep"])
        plan = plan_of(domain_policy(df, "domain", "score", "keep"))
        assert "Window" not in plan
        assert plan.count("Exchange hashpartitioning") <= 1, plan


class TestHearstPatterns:
    def test_all_pattern_shapes(self, spark):
        from dss_plugin_nlp_analysis_spark.operators.kg import hearst_patterns

        df = spark.createDataFrame(
            [
                (1, "Languages such as Python are nice."),
                (2, "such metals as copper conduct."),
                (3, "fruits including mango are sweet."),
                (4, "pandas and other libraries help."),
                (5, "buses or other vehicles pass."),
                (6, "no pattern here."),
                (7, None),
            ],
            ["id", "text"],
        )
        rows = {
            (r.id, r.hypo, r.hyper, r.pattern)
            for r in hearst_patterns(df, "id", "text").collect()
        }
        assert (1, "python", "languages", "X_such_as") in rows
        assert (2, "copper", "metals", "such_X_as") in rows
        assert (3, "mango", "fruits", "X_including") in rows
        assert (4, "pandas", "libraries", "and_other") in rows
        assert (5, "buses", "vehicles", "or_other") in rows
        assert all(r[0] not in (6, 7) for r in rows)

    def test_zero_shuffle(self, spark):
        from dss_plugin_nlp_analysis_spark.operators.kg import hearst_patterns

        df = spark.createDataFrame([(1, "x such as y")], ["id", "text"])
        assert "Exchange" not in plan_of(hearst_patterns(df, "id", "text"))


def _mentions(spark, rows):
    return spark.createDataFrame(
        rows, ["subj", "sent_idx", "sentence", "obj", "keyword"]
    )


class TestRelationPatterns:
    def test_connector_mined_and_normalized(self, spark):
        from dss_plugin_nlp_analysis_spark.operators.kg import relation_patterns

        m = _mentions(
            spark,
            [
                ("d1", 0, "Acme was founded by  Bob.", "acme", "Acme"),
                ("d1", 0, "Acme was founded by  Bob.", "bob", "Bob"),
                ("d2", 0, "Zeta was founded by Ann.", "zeta", "Zeta"),
                ("d2", 0, "Zeta was founded by Ann.", "ann", "Ann"),
                # surface form not findable in the sentence -> skipped
                ("d3", 0, "totally unrelated.", "ghost", "Ghost"),
                ("d3", 0, "totally unrelated.", "spook", "Spook"),
            ],
        )
        out = {
            r.connector: (r.n_mentions, r.n_pairs)
            for r in relation_patterns(m, min_count=2).collect()
        }
        # double space collapsed; direction follows surface order
        assert out == {"was founded by": (2, 2)}

    def test_adjacent_mentions_empty_connector_dropped(self, spark):
        from dss_plugin_nlp_analysis_spark.operators.kg import relation_patterns

        m = _mentions(
            spark,
            [
                ("d1", 0, "alpha beta", "alpha", "alpha"),
                ("d1", 0, "alpha beta", "beta", "beta"),
            ],
        )
        assert relation_patterns(m, min_count=1).count() == 0

    def test_validation(self, spark):
        from dss_plugin_nlp_analysis_spark.operators.kg import relation_patterns

        m = _mentions(spark, [("d", 0, "s", "o", "k")])
        with pytest.raises(ValueError, match="max_connector_chars"):
            relation_patterns(m, max_connector_chars=0)


class TestFactSupport:
    def test_domain_diversity(self, spark):
        from dss_plugin_nlp_analysis_spark.operators.kg import fact_support

        rows = [
            # a-b supported by 3 docs on 2 domains
            ("https://x.com/1", 0, "s", "a", "a"),
            ("https://x.com/1", 0, "s", "b", "b"),
            ("https://x.com/2", 0, "s", "a", "a"),
            ("https://x.com/2", 0, "s", "b", "b"),
            ("https://y.org/9", 0, "s", "a", "a"),
            ("https://y.org/9", 0, "s", "b", "b"),
            # duplicate mention rows in one sentence count once (distinct)
            ("https://y.org/9", 0, "s", "a", "a"),
        ]
        m = _mentions(spark, rows)
        out = {(r.obj_a, r.obj_b): (r.n_mentions, r.n_docs, r.n_domains, r.diversity_ppm)
               for r in fact_support(m).collect()}
        assert out == {("a", "b"): (3, 3, 2, 666_666)}

    def test_bare_id_subjects_fall_back_to_id(self, spark):
        from dss_plugin_nlp_analysis_spark.operators.kg import fact_support

        m = _mentions(
            spark,
            [("doc-1", 0, "s", "a", "a"), ("doc-1", 0, "s", "b", "b")],
        )
        out = fact_support(m).collect()[0]
        assert out.n_domains == 1 and out.diversity_ppm == 1_000_000


class TestRelationExtract:
    def test_instances_in_surface_order(self, spark):
        from dss_plugin_nlp_analysis_spark.operators.kg import relation_extract

        m = _mentions(
            spark,
            [
                ("d1", 0, "Acme was founded by Bob.", "acme", "Acme"),
                ("d1", 0, "Acme was founded by Bob.", "bob", "Bob"),
                # reversed alphabetical order in surface: head follows surface
                ("d2", 0, "Zeta was founded by Ann.", "zeta", "Zeta"),
                ("d2", 0, "Zeta was founded by Ann.", "ann", "Ann"),
                # unknown connector -> no instance
                ("d3", 0, "Acme bought Bob.", "acme", "Acme"),
                ("d3", 0, "Acme bought Bob.", "bob", "Bob"),
            ],
        )
        dim = spark.createDataFrame([("was founded by",)], ["connector"])
        rows = {
            (r.subj, r.head, r.relation, r.tail)
            for r in relation_extract(m, dim).collect()
        }
        assert rows == {
            ("d1", "acme", "was founded by", "bob"),
            ("d2", "zeta", "was founded by", "ann"),
        }

    def test_dim_is_broadcast(self, spark):
        from dss_plugin_nlp_analysis_spark.operators.kg import relation_extract

        m = _mentions(spark, [("d", 0, "a x b", "a", "a"), ("d", 0, "a x b", "b", "b")])
        dim = spark.createDataFrame([("x",)], ["connector"])
        plan = plan_of(relation_extract(m, dim))
        assert "BroadcastHashJoin" in plan, plan

    def test_validation(self, spark):
        from dss_plugin_nlp_analysis_spark.operators.kg import relation_extract

        m = _mentions(spark, [("d", 0, "s", "o", "k")])
        dim = spark.createDataFrame([("x",)], ["connector"])
        with pytest.raises(ValueError, match="max_connector_chars"):
            relation_extract(m, dim, max_connector_chars=0)


class TestCooccurrenceLift:
    def test_lift_values(self, spark):
        from dss_plugin_nlp_analysis_spark.operators.kg import cooccurrence_lift

        # 4 docs mention entities: d1{a,b} d2{a,b} d3{a} d4{c}
        t = spark.createDataFrame(
            [("d1", "a"), ("d1", "b"), ("d2", "a"), ("d2", "b"),
             ("d3", "a"), ("d4", "c"), ("d1", "a")],  # dup mention collapses
            ["subj", "obj"],
        )
        out = {(r.obj_a, r.obj_b): r for r in cooccurrence_lift(t).collect()}
        r = out[("a", "b")]
        # n_a=3, n_b=2, n_ab=2, n_corpus=4 -> 2*4*1e6 div 6 = 1_333_333
        assert (r.n_a, r.n_b, r.n_ab, r.n_corpus) == (3, 2, 2, 4)
        assert r.lift_ppm == 1_333_333
        assert ("a", "c") not in out  # never co-mentioned

    def test_null_obj_dropped(self, spark):
        from dss_plugin_nlp_analysis_spark.operators.kg import cooccurrence_lift

        t = spark.createDataFrame(
            [("d1", "a"), ("d1", None), ("d1", "b")], ["subj", "obj"]
        )
        rows = cooccurrence_lift(t).collect()
        assert {(r.obj_a, r.obj_b) for r in rows} == {("a", "b")}
        # corpus universe counts only docs with a non-null entity
        assert rows[0].n_corpus == 1


class TestTruthDiscovery:
    def test_domain_vote_beats_page_spam(self, spark):
        from dss_plugin_nlp_analysis_spark.operators.kg import truth_discovery

        rows = [
            # value v1: 3 pages, all one domain (spam)
            ("e", "hq", "v1", "https://spam.example/1"),
            ("e", "hq", "v1", "https://spam.example/2"),
            ("e", "hq", "v1", "https://spam.example/3"),
            # value v2: 2 pages, 2 domains -> wins on domain diversity
            ("e", "hq", "v2", "https://a.example/x"),
            ("e", "hq", "v2", "https://b.example/y"),
            # NULL values excluded
            ("e", "hq", None, "https://c.example/z"),
        ]
        df = spark.createDataFrame(rows, ["entity", "attr", "value", "source"])
        out = truth_discovery(df).collect()
        assert len(out) == 1
        r = out[0]
        assert (r.value, r.n_domains, r.n_docs) == ("v2", 2, 2)
        assert (r.total_docs, r.n_values) == (5, 2)
        assert r.support_ppm == 400_000

    def test_lexicographic_tiebreak(self, spark):
        from dss_plugin_nlp_analysis_spark.operators.kg import truth_discovery

        rows = [
            ("e", "a", "zz", "https://x.example/1"),
            ("e", "a", "aa", "https://y.example/1"),
        ]
        df = spark.createDataFrame(rows, ["entity", "attr", "value", "source"])
        assert truth_discovery(df).collect()[0].value == "aa"

    def test_no_window_in_plan(self, spark):
        from dss_plugin_nlp_analysis_spark.operators.kg import truth_discovery

        df = spark.createDataFrame(
            [("e", "a", "v", "https://x.example/1")],
            ["entity", "attr", "value", "source"],
        )
        assert "Window" not in plan_of(truth_discovery(df))


class TestCrawlFrontier:
    def test_scores_and_anti_join(self, spark):
        from dss_plugin_nlp_analysis_spark.operators.url import crawl_frontier

        links = spark.createDataFrame(
            [
                ("https://a.example/1", "https://new.example/t"),
                ("https://a.example/2", "https://new.example/t"),
                ("https://b.example/1", "https://new.example/t"),
                # duplicate edge: n_inlinks counts it, n_src_pages doesn't
                ("https://b.example/1", "https://new.example/t"),
                ("https://a.example/1", "https://seen.example/x"),
                ("https://a.example/1", None),
            ],
            ["src", "dst"],
        )
        crawled = spark.createDataFrame(
            [("https://seen.example/x",), ("https://a.example/1",)], ["url"]
        )
        out = {r.url: r for r in crawl_frontier(links, crawled).collect()}
        assert set(out) == {"https://new.example/t"}
        r = out["https://new.example/t"]
        assert (r.n_inlinks, r.n_src_pages, r.n_src_domains) == (4, 3, 2)

    def test_min_inlinks_and_validation(self, spark):
        from dss_plugin_nlp_analysis_spark.operators.url import crawl_frontier

        links = spark.createDataFrame(
            [("https://a.example/1", "https://t.example/1")], ["src", "dst"]
        )
        crawled = spark.createDataFrame([("https://z.example/",)], ["url"])
        assert crawl_frontier(links, crawled, min_inlinks=2).count() == 0
        with pytest.raises(ValueError, match="min_inlinks"):
            crawl_frontier(links, crawled, min_inlinks=0)


class TestExtractTables:
    def test_cells_with_header_flag(self, spark):
        from dss_plugin_nlp_analysis_spark.operators.structured import extract_tables

        html = (
            "<p>x</p><table class=\"t\">"
            "<tr><th>name</th><th>hq</th></tr>"
            "<tr><td>Acme</td><td> Berlin </td></tr>"
            "</table><table><tr><td>solo</td></tr></table>"
        )
        df = spark.createDataFrame([(1, html), (2, "<p>no table</p>"), (3, None)], ["id", "html"])
        rows = {
            (r.id, r.table_idx, r.row_idx, r.col_idx, r.cell, r.is_header)
            for r in extract_tables(df, "id", "html").collect()
        }
        assert rows == {
            (1, 0, 0, 0, "name", True),
            (1, 0, 0, 1, "hq", True),
            (1, 0, 1, 0, "Acme", False),
            (1, 0, 1, 1, "Berlin", False),
            (1, 1, 0, 0, "solo", False),
        }

    def test_zero_shuffle(self, spark):
        from dss_plugin_nlp_analysis_spark.operators.structured import extract_tables

        df = spark.createDataFrame([(1, "<table><tr><td>a</td></tr></table>")], ["id", "html"])
        assert "Exchange" not in plan_of(extract_tables(df, "id", "html"))


class TestExtractDates:
    def test_all_four_shapes_normalize(self, spark):
        from dss_plugin_nlp_analysis_spark.operators.mentions import extract_dates

        df = spark.createDataFrame(
            [
                (1, "released 2021-03-05 then"),
                (2, "on 3/5/2021 it"),
                (3, "by 5 March 2021 the"),
                (4, "since March 5, 2021 we"),
                (5, "invalid 2021-13-05 and 13/32/2021 stay out"),
                (6, None),
            ],
            ["id", "text"],
        )
        rows = {(r.id, r.raw, r.iso, r.kind) for r in extract_dates(df, "id", "text").collect()}
        assert rows == {
            (1, "2021-03-05", "2021-03-05", "iso"),
            (2, "3/5/2021", "2021-03-05", "us_slash"),
            (3, "5 March 2021", "2021-03-05", "month_dmy"),
            (4, "March 5, 2021", "2021-03-05", "month_mdy"),
        }

    def test_december_and_padding(self, spark):
        from dss_plugin_nlp_analysis_spark.operators.mentions import extract_dates

        df = spark.createDataFrame([(1, "December 31, 1999 party")], ["id", "text"])
        assert extract_dates(df, "id", "text").collect()[0].iso == "1999-12-31"


class TestExtractQuotes:
    def test_both_attribution_shapes(self, spark):
        from dss_plugin_nlp_analysis_spark.operators.mentions import extract_quotes

        df = spark.createDataFrame(
            [
                (1, 'Alice said, "the graph is ready" yesterday.'),
                (2, '"we shipped it," said Bob.'),
                (3, 'nobody said anything quotable.'),
            ],
            ["id", "text"],
        )
        rows = {(r.id, r.speaker, r.quote, r.pattern) for r in extract_quotes(df, "id", "text").collect()}
        assert rows == {
            (1, "Alice", "the graph is ready", "speaker_first"),
            (2, "Bob", "we shipped it", "quote_first"),
        }


class TestTaxonomyEdges:
    def test_direction_conflict_majority(self, spark):
        from dss_plugin_nlp_analysis_spark.operators.kg import taxonomy_edges

        rows = [
            # fruit->apple asserted in 2 docs; apple->fruit in 1 -> majority
            (1, "apple", "fruit", "X_such_as"),
            (2, "apple", "fruit", "and_other"),
            (3, "fruit", "apple", "X_such_as"),
            # tie: kept direction is hypo < hyper
            (4, "bb", "aa", "X_such_as"),
            (5, "aa", "bb", "X_such_as"),
            # self loop dropped
            (6, "thing", "thing", "X_such_as"),
        ]
        df = spark.createDataFrame(rows, ["id", "hypo", "hyper", "pattern"])
        out = {(r.hypo, r.hyper): (r.n_docs, r.n_mentions, r.n_patterns)
               for r in taxonomy_edges(df).collect()}
        assert out == {("apple", "fruit"): (2, 2, 2), ("aa", "bb"): (1, 1, 1)}

    def test_validation(self, spark):
        from dss_plugin_nlp_analysis_spark.operators.kg import taxonomy_edges

        df = spark.createDataFrame([(1, "a", "b", "p")], ["id", "hypo", "hyper", "pattern"])
        with pytest.raises(ValueError, match="min_docs"):
            taxonomy_edges(df, min_docs=0)
