"""Physical-plan assertions: the scale claims (zero shuffle, column
pruning, broadcast-only joins) hold in the executed plan, not just in
docstrings."""

import pytest
from pyspark.sql import functions as F

from dss_plugin_nlp_analysis_spark.demo import demo_ontology_df, kg_oracle_ontology_df
from dss_plugin_nlp_analysis_spark.operators.kg import build_triples
from dss_plugin_nlp_analysis_spark.operators.tagger import tag_documents

SF = "/root/testdata/sf0.001"
LANGS = ["en", "de", "zh", "fr", "es"]


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet")


def test_per_match_format_zero_shuffle(spark, docs):
    out = tag_documents(docs, demo_ontology_df(spark), lang_col="lang", languages=LANGS)
    plan = plan_of(out)
    assert "Exchange" not in plan, plan
    assert "ArrowEvalPython" in plan  # vectorized, not BatchEvalPython


def test_per_doc_format_zero_shuffle(spark, docs):
    out = tag_documents(
        docs, demo_ontology_df(spark), lang_col="lang", languages=LANGS,
        output_format="one_row_per_doc",
    )
    assert "Exchange" not in plan_of(out)


def test_per_doc_json_zero_shuffle(spark, docs):
    out = tag_documents(
        docs, demo_ontology_df(spark), lang_col="lang", languages=LANGS,
        output_format="one_row_per_doc_json",
    )
    assert "Exchange" not in plan_of(out)


@pytest.mark.parametrize("with_category", [False, True])
@pytest.mark.parametrize(
    "fmt", ["one_row_per_match", "one_row_per_doc", "one_row_per_doc_json"]
)
def test_tagging_plans_one_kernel_udf_no_lambdas(spark, docs, fmt, with_category):
    # every format is one doc_udf pass plus a codegen'd JVM projection: no
    # interpreted higher-order function (per-doc's array dedup and sentence
    # join run in the emitter; the JVM keeps only size/to_json)
    out = tag_documents(
        docs, demo_ontology_df(spark, with_category=with_category), lang_col="lang",
        category_col="category" if with_category else None, languages=LANGS,
        output_format=fmt,
    )
    plan = plan_of(out)
    assert plan.count("lambdafunction(") == 0, plan
    assert plan.count("ArrowEvalPython") == 1, plan


def test_triples_zero_shuffle_zero_join(spark, docs):
    # r6: the tag→canonical map rides the extraction UDF's broadcast and
    # is applied inline, so the triples plan has NO join of any kind and
    # no exchange — strictly stronger than the former broadcast-join pin
    t = build_triples(
        docs, kg_oracle_ontology_df(spark), url_col="doc_id", lang_col="lang",
        ts_col=None, category_col=None, languages=LANGS,
    )
    plan = plan_of(t)
    assert "Join" not in plan, plan
    assert "Exchange" not in plan, plan


def test_scan_column_pruning(spark, docs):
    out = tag_documents(
        docs, demo_ontology_df(spark), lang_col="lang", languages=LANGS
    ).select("doc_id", "tag")
    plan = plan_of(out)
    # documents has 5 columns; only the 3 needed reach the parquet scan
    assert "ReadSchema: struct<doc_id:bigint,text:string,lang:string>" in plan, plan


def test_no_row_at_a_time_python_anywhere(spark, docs):
    out = tag_documents(docs, demo_ontology_df(spark), lang_col="lang", languages=LANGS)
    assert "BatchEvalPython" not in plan_of(out)


def test_checkpoint_fingerprint_constant_memory_plan(spark):
    # the lineage fingerprint must be a bounded-buffer aggregate (sum of
    # per-row hashes), never a collect_list that materializes every triple
    # of a bucket in one aggregation buffer
    from dss_plugin_nlp_analysis_spark.plans.checkpoint import _output_fingerprint

    df = spark.createDataFrame(
        [("a", "p", "x"), ("b", "p", "y")], "subj string, pred string, obj string"
    ).agg(_output_fingerprint().alias("fp"))
    plan = plan_of(df)
    assert "collect_list" not in plan and "sort_array" not in plan
    assert "partial_sum" in plan or "sum(" in plan  # map-side combinable


def test_checkpointed_triples_one_url_hash_exchange_below_kernel(spark, tmp_path):
    # the checkpointed build hash-distributes each group's docs exactly
    # once, and the Arrow kernel runs above that exchange (balanced tasks);
    # build_triples itself adds no exchange and no join
    from dss_plugin_nlp_analysis_spark.plans.checkpoint import run_checkpointed_build
    from dss_plugin_nlp_analysis_spark.sources.webpages import demo_kg_ontology, pages_df

    onto = demo_kg_ontology(spark)
    written = []

    def triple_fn(part):
        written.append(build_triples(part, onto, languages=["en", "fr", "es", "de"]))
        return written[-1]

    run_checkpointed_build(
        spark, pages_df(spark, 60, seed=3), triple_fn,
        str(tmp_path / "out"), str(tmp_path / "ckpt"), num_buckets=2, buckets_per_job=2,
    )
    plan = plan_of(written[0])
    assert plan.count("Exchange") == 1, plan
    assert plan.count("Exchange hashpartitioning(xxhash64(url") == 1, plan
    assert "Join" not in plan, plan
    assert plan.index("ArrowEvalPython") < plan.index("Exchange"), plan


def test_manifest_frames_are_local_arrow_relations(spark, tmp_path, monkeypatch):
    # manifest I/O crosses driver<->JVM as Arrow tables: a fresh manifest
    # and every appended group are LocalRelations with the manifest
    # schema, never a pickled-row RDD (LogicalRDD / Scan ExistingRDD)
    from dss_plugin_nlp_analysis_spark.plans.checkpoint import (
        MANIFEST_SCHEMA,
        read_manifest,
        run_checkpointed_build,
    )

    def plans(df):
        qe = df._jdf.queryExecution()
        return qe.analyzed().toString() + qe.executedPlan().toString()

    fresh = read_manifest(spark, str(tmp_path / "fresh"))
    assert fresh.schema == MANIFEST_SCHEMA
    assert "LocalRelation" in plans(fresh)
    created = []
    create = spark.createDataFrame

    def spy(*args, **kwargs):
        created.append(create(*args, **kwargs))
        return created[-1]

    monkeypatch.setattr(spark, "createDataFrame", spy)
    docs = create([(f"http://d{i}.com/x", f"text {i}") for i in range(20)],
                  "url string, text string")
    run_checkpointed_build(
        spark, docs,
        lambda part: part.select(F.col("url").alias("subj"), F.lit("p").alias("pred"),
                                 F.col("text").alias("obj")),
        str(tmp_path / "out"), str(tmp_path / "ckpt"), num_buckets=4, buckets_per_job=2,
    )
    # the empty read of the fresh checkpoint, then one append per group
    assert len(created) == 3
    for df in [fresh] + created:
        assert df.schema == MANIFEST_SCHEMA
        plan = plans(df)
        assert "LogicalRDD" not in plan and "ExistingRDD" not in plan, plan


def test_ngram_jaccard_caps_posting_lists_in_plan(spark):
    # candidate generation must be gated by the shingle document-frequency
    # aggregate (the f^2/2 boilerplate guard), visible as a count-per-
    # shingle aggregation feeding the self-join
    from dss_plugin_nlp_analysis_spark.operators.dedup import ngram_jaccard_pairs

    df = spark.createDataFrame([(1, "a b c d"), (2, "a b c e")], "id long, t string")
    out = ngram_jaccard_pairs(df, "id", "t", n=3, threshold=0.1, max_doc_freq=5)
    out.collect()
    plan = plan_of(out)
    assert plan.count("HashAggregate") >= 2  # df-count agg + pair distinct
    # shingle generation is the codegen'd regex pass, not interpreted HOFs
    assert "regexp_extract_all" in plan
    assert "transform(" not in plan and "array_join" not in plan


def test_salted_distinct_ships_counts_not_values(spark):
    # phase 2 must merge per-salt COUNTS; no flatten/array_distinct of
    # shipped value sets may appear in the executed plan
    from dss_plugin_nlp_analysis_spark.operators.skew import salted_distinct_stats

    ev = spark.createDataFrame(
        [(1, "a"), (1, "b"), (2, "a")], "user_id long, event_type string"
    )
    out = salted_distinct_stats(ev, "user_id", "event_type")
    out.collect()
    plan = plan_of(out)
    assert "flatten" not in plan and "array_distinct" not in plan


def test_exact_dedup_no_unbounded_window_buffer(spark):
    # the canonical-id computation must be a partial-aggregatable groupBy +
    # join, never an unordered window (one degenerate fingerprint group
    # would buffer in a single reducer at web scale)
    from dss_plugin_nlp_analysis_spark.operators.dedup import exact_dedup

    df = spark.createDataFrame([(1, "a"), (2, "a"), (3, "b")], "id long, t string")
    out = exact_dedup(df, "id", "t")
    out.collect()
    plan = plan_of(out)
    assert "Window" not in plan
    assert "partial_min" in plan or "HashAggregate" in plan


def test_tfidf_dfc_join_not_broadcast_by_default(spark):
    # the document-frequency table is vocabulary-sized (billions of rows on
    # a crawl) — the default plan must NOT hint it broadcast; the tf table
    # is already exchanged on token for the dfc groupBy, so the equi-join
    # shuffles on an existing key. broadcast_df=True re-enables the hint
    # for small closed vocabularies.
    from dss_plugin_nlp_analysis_spark.operators.textstats import tfidf_top_terms

    df = spark.createDataFrame(
        [(1, "alpha beta alpha"), (2, "beta gamma"), (3, "delta")],
        "id long, t string",
    )
    # assert on the optimized plan's HINT, not the executed plan: AQE may
    # still pick a broadcast join at runtime when the measured size is
    # tiny — that size-gated runtime decision is exactly what we want;
    # the bug was an unconditional compile-time broadcast of a table
    # whose size is unbounded in the corpus vocabulary
    def optimized(d):
        return d._jdf.queryExecution().optimizedPlan().toString()

    out = tfidf_top_terms(df, "id", "t", k=2)
    assert "ResolvedHint" not in optimized(out)
    assert out.count() > 0  # still executes

    out_b = tfidf_top_terms(df, "id", "t", k=2, broadcast_df=True)
    opt_b = optimized(out_b)
    assert "ResolvedHint" in opt_b or "broadcast" in opt_b.lower()


def test_decontam_broadcasts_gram_set_corpus_never_shuffled(spark, docs):
    # the benchmark gram set is eval-set-sized -> must broadcast; the
    # corpus side must reach the hit-count aggregate without a row
    # shuffle before it (the only hash exchange is the per-doc groupBy)
    from dss_plugin_nlp_analysis_spark.operators.decontam import decontaminate

    bench = docs.where(F.col("doc_id") % 37 == 0).select("text")
    out = decontaminate(docs.select("doc_id", "text"), bench, "doc_id", "text")
    out.collect()
    plan = plan_of(out)
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_top_ngrams_take_ordered_not_global_sort(spark, docs):
    # global top-k must run as per-partition k-row heaps
    # (TakeOrderedAndProject), never a full sort of the gram counts
    from dss_plugin_nlp_analysis_spark.operators.textstats import top_ngrams

    out = top_ngrams(docs, "doc_id", "text", n=2, k=10)
    out.collect()
    plan = plan_of(out)
    assert "TakeOrderedAndProject" in plan, plan
    assert "Sort " not in plan.replace("TakeOrderedAndProject", ""), plan


@pytest.mark.parametrize(
    "fn",
    ["pagerank", "personalized_pagerank", "katz_centrality", "weighted_pagerank"],
)
def test_pagerank_iteration_lineage_is_cut(spark, fn):
    # each iteration ends in localCheckpoint: the final plan must be a
    # scan of checkpointed rows, not a 3-round join tree (lineage growth
    # is THE driver-killer for iterative DataFrame algorithms)
    from dss_plugin_nlp_analysis_spark.operators import graph

    edges = spark.createDataFrame(
        [(i % 7, (i * 3) % 5, i % 4 + 1) for i in range(30)],
        "src long, dst long, weight long",
    )
    args = (edges,)
    if fn == "personalized_pagerank":
        args += (spark.createDataFrame([(0,), (3,)], "node long"),)
    out = getattr(graph, fn)(*args, iterations=3)
    plan = plan_of(out)
    assert "Scan ExistingRDD" in plan or "LocalTableScan" in plan, plan
    assert "Join" not in plan, plan


def test_negative_samples_broadcast_dim_no_cartesian(spark, docs):
    """The fact side of negative sampling is a pure map + broadcast join:
    the entity-index dimension ships as a broadcast, never a shuffled
    join, and no cartesian product appears anywhere."""
    from dss_plugin_nlp_analysis_spark.operators.kg import negative_samples

    t = build_triples(
        docs, demo_ontology_df(spark), url_col="doc_id", lang_col="lang",
        ts_col=None, category_col=None, languages=LANGS, canonicalize=False,
    )
    out = negative_samples(t, n_per=2, seed="neg")
    plan = plan_of(out)
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_neighbor_jaccard_equi_joins_only(spark):
    """Wedge generation must be hash equi-joins on the pivot — a
    cartesian/nested-loop plan means the join keys got lost."""
    from dss_plugin_nlp_analysis_spark.operators.graph import neighbor_jaccard

    ev = spark.read.parquet(f"{SF}/events.parquet")
    edges = ev.select(
        F.col("user_id").alias("src"), (F.col("event_id") % 150).alias("dst")
    )
    plan = plan_of(neighbor_jaccard(edges, min_shared=2, max_hub_degree=100))
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan or "BroadcastHashJoin" in plan


def test_anchor_text_index_no_window(spark, docs):
    """The hub cap is a count + semi-join, never a per-key window (an
    unordered window buffers whole hot targets on one reducer)."""
    from dss_plugin_nlp_analysis_spark.operators.url import (
        anchor_text_index,
        extract_links,
    )

    pages = docs.select(
        "doc_id",
        F.concat(
            F.lit('<a href="/p'), (F.col("doc_id") % 5).cast("string"),
            F.lit('">x</a>'),
        ).alias("html"),
    )
    links = extract_links(pages, "doc_id", "html")
    plan = plan_of(anchor_text_index(links))
    assert "Window" not in plan, plan


def test_duplicated_spans_no_window_no_cartesian(spark, docs):
    """The span merge must be an expression fold after groupBy — never a
    per-key Window — and window pairing is count+equi-join, never a
    cartesian."""
    from dss_plugin_nlp_analysis_spark.operators.dedup import duplicated_spans

    plan = plan_of(duplicated_spans(docs, "doc_id", "text", window=8))
    assert "Window" not in plan, plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_hits_lineage_cut_and_no_cartesian_of_data(spark):
    """Each HITS half-step ends in localCheckpoint, so the final plan is
    one node-keyed join of two checkpointed score tables — never the
    4-half-step join tree (lineage growth kills iterative drivers). The
    scalar-max crossJoin is allowed to appear only as a 1-row broadcast
    nested loop INSIDE a half-step, never in the returned plan."""
    from dss_plugin_nlp_analysis_spark.operators.graph import hits

    edges = spark.createDataFrame(
        [(i % 7, (i * 3) % 5) for i in range(30)], "src long, dst long"
    )
    plan = plan_of(hits(edges, iterations=2))
    assert "Scan ExistingRDD" in plan or "LocalTableScan" in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert plan.count("Join") <= plan.count("BroadcastHashJoin") + plan.count(
        "SortMergeJoin"
    ) + plan.count("ShuffledHashJoin"), plan


def test_transitive_closure_lineage_cut(spark):
    """The returned closure must scan checkpointed rows, not replay the
    per-round frontier joins."""
    from dss_plugin_nlp_analysis_spark.operators.graph import transitive_closure

    edges = spark.createDataFrame(
        [(c, (c - 1) // 3) for c in range(1, 30)], "child long, parent long"
    )
    plan = plan_of(transitive_closure(edges))
    assert "Scan ExistingRDD" in plan or "LocalTableScan" in plan, plan
    assert "Join" not in plan, plan


def test_predicate_profile_no_window_no_cartesian(spark, docs):
    """All cardinality stats come from map-side-combinable groupBys
    joined on the predicate key — no per-key windows, no cartesian."""
    from dss_plugin_nlp_analysis_spark.operators.kg import predicate_profile

    t = build_triples(
        docs, kg_oracle_ontology_df(spark), url_col="doc_id", lang_col="lang",
        ts_col=None, category_col=None, languages=LANGS,
    )
    plan = plan_of(predicate_profile(t))
    assert "Window" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "partial_count" in plan or "partial_sum" in plan, plan


def test_linearize_triples_no_window_sort_is_per_row(spark, docs):
    """The (pred, obj) ordering happens inside sort_array after the
    subject aggregation — the plan must contain no Window and no global
    Sort feeding the aggregate."""
    from dss_plugin_nlp_analysis_spark.operators.kg import linearize_triples

    t = build_triples(
        docs, kg_oracle_ontology_df(spark), url_col="doc_id", lang_col="lang",
        ts_col=None, category_col=None, languages=LANGS,
    )
    plan = plan_of(linearize_triples(t))
    assert "Window" not in plan, plan
    # collect_set runs as an object-hash aggregate (per-group buffers),
    # and the only Sort in the plan may be the aggregate's own fallback —
    # never a global Sort over the triple stream before aggregation
    assert "ObjectHashAggregate" in plan or "SortAggregate" in plan, plan


def test_infer_entity_types_no_window(spark, docs):
    """The per-entity argmax is a min-struct aggregation, never a
    row_number window over the mention stream."""
    from dss_plugin_nlp_analysis_spark.operators.kg import infer_entity_types

    m = tag_documents(
        docs, demo_ontology_df(spark, with_category=True), lang_col="lang",
        languages=LANGS, category_col="category",
    )
    plan = plan_of(infer_entity_types(m))
    assert "Window" not in plan, plan
    assert "partial_min" in plan or "min(" in plan, plan


def test_hashed_linear_score_pure_map(spark, docs):
    """The learned quality filter is expressions only: zero exchanges,
    no Python evaluation of any kind."""
    from dss_plugin_nlp_analysis_spark.operators.textstats import (
        hashed_linear_score,
    )

    out = hashed_linear_score(docs, "doc_id", "text", [100, -200, 300], bias=5)
    plan = plan_of(out)
    assert "Exchange" not in plan, plan
    assert "EvalPython" not in plan, plan


def test_char_pair_counts_take_ordered_not_global_sort(spark, docs):
    """Top-k pairs must run as TakeOrderedAndProject (per-partition
    heaps), with the count as the only shuffle."""
    from dss_plugin_nlp_analysis_spark.operators.textstats import (
        char_pair_counts,
    )

    plan = plan_of(char_pair_counts(docs, "text", k=10))
    assert "TakeOrderedAndProject" in plan, plan
    assert "Window" not in plan, plan


def test_transition_counts_single_user_window_no_cartesian(spark):
    """The only ordered window is per-user; downstream joins are
    equi-joins on from_type."""
    from dss_plugin_nlp_analysis_spark.operators.rollup import (
        transition_counts,
    )

    ev = spark.read.parquet(f"{SF}/events.parquet")
    plan = plan_of(transition_counts(ev))
    assert "CartesianProduct" not in plan, plan
    # the one logical window is user-partitioned (the subtree may print
    # twice because counts feeds both sides of the totals join)
    assert "Window" in plan, plan
    assert "windowspecdefinition(u#" in plan, plan


def test_current_facts_no_window(spark, docs):
    """Temporal resolution is two map-side-combinable groupBys (history
    collapse + max-struct argmax) — never a per-(subj,pred) window over
    the mention stream."""
    from dss_plugin_nlp_analysis_spark.operators.kg import current_facts

    t = build_triples(
        docs.withColumn("warc_ts", F.current_timestamp()),
        kg_oracle_ontology_df(spark), url_col="doc_id", lang_col="lang",
        ts_col="warc_ts", category_col=None, languages=LANGS,
    )
    plan = plan_of(current_facts(t))
    assert "Window" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_normalize_literals_pure_map(spark):
    """Literal typing is expressions only: zero exchanges, no Python."""
    from dss_plugin_nlp_analysis_spark.operators.kg import normalize_literals

    a = spark.createDataFrame(
        [(1, "k", "42")], "subj long, key string, value string"
    )
    plan = plan_of(normalize_literals(a))
    assert "Exchange" not in plan, plan
    assert "EvalPython" not in plan, plan


def test_rrf_fuse_no_cartesian(spark):
    """Fusion is a union + one groupBy over candidate lists."""
    from dss_plugin_nlp_analysis_spark.operators.similarity import rrf_fuse

    r1 = spark.createDataFrame([(1, 1), (2, 2)], "id long, rank int")
    r2 = spark.createDataFrame([(2, 1)], "id long, rank int")
    plan = plan_of(rrf_fuse([r1, r2]))
    assert "CartesianProduct" not in plan and "Join" not in plan, plan
    assert "HashAggregate" in plan, plan


def test_funnel_no_windows_frontier_joins_only(spark):
    """Each funnel step is a min-struct groupBy + user-keyed equi-join —
    no per-user ordered windows, no cartesian."""
    from dss_plugin_nlp_analysis_spark.operators.rollup import funnel_counts

    ev = spark.read.parquet(f"{SF}/events.parquet")
    plan = plan_of(funnel_counts(ev, ["view", "click"]))
    assert "Window" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_cohort_retention_no_window(spark):
    """Cohort matrix = distinct + two combinable groupBys + equi-join."""
    from dss_plugin_nlp_analysis_spark.operators.rollup import (
        cohort_retention,
    )

    ev = spark.read.parquet(f"{SF}/events.parquet")
    plan = plan_of(cohort_retention(ev))
    assert "Window" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_group_capped_sample_no_window_single_shuffle(spark, docs):
    """The per-group cap must run as the two-phase heap (mapInPandas x2)
    with the survivors' repartition as the only exchange — never a
    per-group sort window over the corpus."""
    from dss_plugin_nlp_analysis_spark.operators.sampling import (
        group_capped_sample,
    )

    plan = plan_of(group_capped_sample(docs, "doc_id", "lang", cap=5))
    assert "Window" not in plan, plan
    assert plan.count("Exchange") == 1, plan
    assert "MapInPandas" in plan, plan


def test_skipgram_zero_shuffle(spark, docs):
    """Skip-gram generation is a pure map + explode: the token array is
    materialized once and both HOF lambdas index into it — no exchange
    may appear at any corpus size."""
    from dss_plugin_nlp_analysis_spark.operators.trainprep import (
        skipgram_pairs,
    )

    plan = plan_of(skipgram_pairs(docs, "doc_id", "text", window=2))
    assert "Exchange" not in plan, plan


def test_pack_sequences_single_shard_shuffle(spark, docs):
    """Sequence packing shuffles exactly once (the shard key) and runs
    exactly one window — per-shard linear scans, never a global sort."""
    from dss_plugin_nlp_analysis_spark.operators.trainprep import (
        pack_sequences,
    )

    plan = plan_of(pack_sequences(docs, "doc_id", "text", budget=50, shards=8))
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert plan.count("Window") == 1, plan
    assert "Exchange SinglePartition" not in plan, plan


def test_dsir_broadcast_only_joins(spark, docs):
    """The DSIR score dim (<= buckets rows) must broadcast: the
    corpus-sized gram stream never sort-merge-joins on a hashed-bucket
    key (512 distinct values = guaranteed skew)."""
    from dss_plugin_nlp_analysis_spark.operators.trainprep import dsir_weights

    plan = plan_of(
        dsir_weights(
            docs, docs.where(F.col("lang") == "en"), "doc_id", "text",
            n=1, buckets=512,
        )
    )
    assert "SortMergeJoin" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_mojibake_profile_zero_shuffle(spark, docs):
    """Mojibake diagnosis/repair is one projection — literal replaces and
    length arithmetic, no exchange, no Python."""
    from dss_plugin_nlp_analysis_spark.operators.webclean import (
        mojibake_profile,
    )

    plan = plan_of(mojibake_profile(docs, "doc_id", "text"))
    assert "Exchange" not in plan, plan
    assert "EvalPython" not in plan, plan


def test_ict_pairs_zero_shuffle(spark, docs):
    """ICT pair mining is a pure map: sentence array and argmin struct
    are materialized projections, the context filter binds attributes —
    no exchange at any corpus size."""
    from dss_plugin_nlp_analysis_spark.operators.trainprep import ict_pairs

    plan = plan_of(ict_pairs(docs, "doc_id", "text"))
    assert "Exchange" not in plan, plan


def test_edit_verify_no_cartesian_no_python(spark, docs):
    """Levenshtein verification joins candidates to texts by id equi-joins
    only; the distance is a JVM built-in (no Python), and nothing may
    plan as a cartesian/nested-loop product."""
    from dss_plugin_nlp_analysis_spark.operators.dedup import (
        edit_verified_pairs,
    )

    small = docs.select(F.col("doc_id").alias("id"), "text")
    plan = plan_of(edit_verified_pairs(small, "id", "text"))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "EvalPython" not in plan, plan


def test_corpus_mixture_windows_only_on_group_dim(spark, docs):
    """The corpus-sized side sees exactly one hash aggregate; the window
    and the scalar crossJoins run on the group-cardinality dim (the plan
    may single-partition THAT dim, never the corpus): the corpus scan
    feeds an aggregate before any window appears."""
    from dss_plugin_nlp_analysis_spark.operators.sampling import (
        corpus_mixture,
    )

    plan = plan_of(corpus_mixture(docs, "lang", budget=100))
    # the window's required single-partition exchange consumes the
    # aggregated dim: assert the aggregate happens below the window
    assert plan.index("HashAggregate") > plan.index("Window"), plan
    assert "CartesianProduct" not in plan, plan


def test_microdata_zero_shuffle_no_python(spark, docs):
    """Microdata extraction is zipped regexp passes + one explode — no
    exchange, no Python, at any corpus size."""
    from dss_plugin_nlp_analysis_spark.operators.structured import (
        extract_microdata,
    )

    pages = docs.select("doc_id", F.col("text").alias("html"))
    plan = plan_of(extract_microdata(pages, "doc_id", "html"))
    assert "Exchange" not in plan, plan
    assert "EvalPython" not in plan, plan


def test_resolve_pronouns_zero_shuffle(spark, docs):
    """Pronoun resolution is a pure map: lexicon ships as an array
    literal (never a join), token + entity-index arrays are materialized
    projections — no exchange."""
    from dss_plugin_nlp_analysis_spark.operators.mentions import (
        resolve_pronouns,
    )

    plan = plan_of(resolve_pronouns(docs, "doc_id", "text", ["alpha"]))
    assert "Exchange" not in plan, plan
    assert "EvalPython" not in plan, plan


def test_amie_rules_equi_joins_only(spark, docs):
    """Rule mining must plan as equi-joins (mid composition, head match,
    body-size re-join) — no cartesian/nested-loop product anywhere."""
    from dss_plugin_nlp_analysis_spark.operators.rules import amie_rules

    # predicates must VARY: a literal pred constant-folds the (p1, p2)
    # equi-join keys and the body_size re-join legitimately degenerates
    # to a cartesian — real triple tables have predicate columns
    t = docs.select(
        F.concat(F.lit("e"), (F.col("doc_id") % 50).cast("string")).alias("subj"),
        F.concat(F.lit("p"), (F.col("doc_id") % 3).cast("string")).alias("pred"),
        F.concat(F.lit("e"), (F.col("doc_id") % 10).cast("string")).alias("obj"),
    )
    plan = plan_of(amie_rules(t))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_fim_and_span_corruption_zero_shuffle(spark, docs):
    """Both training transforms are pure maps over materialized token
    arrays — no exchange, no Python."""
    from dss_plugin_nlp_analysis_spark.operators.trainprep import (
        fim_transform,
        span_corruption,
    )

    for out in (
        fim_transform(docs, "doc_id", "text"),
        span_corruption(docs, "doc_id", "text"),
    ):
        plan = plan_of(out)
        assert "Exchange" not in plan, plan
        assert "EvalPython" not in plan, plan


def test_mirror_domains_capped_equi_join_only(spark, docs):
    """Mirror detection must pair via the fp equi-join (no cartesian),
    with the fanout cap applied BEFORE the self-join."""
    from dss_plugin_nlp_analysis_spark.operators.url import mirror_domains

    corpus = docs.select(
        (F.col("doc_id") % 20).cast("string").alias("domain"), "text"
    )
    plan = plan_of(mirror_domains(corpus, "domain", "text"))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_translation_pairs_equi_joins_no_python(spark, docs):
    from dss_plugin_nlp_analysis_spark.operators.url import translation_pairs

    pages = docs.select(
        F.col("doc_id").cast("string").alias("url"), "lang",
        F.lit(10).alias("n_tokens"),
    )
    alts = docs.select(
        F.col("doc_id").cast("string").alias("id"),
        F.lit("x").alias("hreflang"),
        (F.col("doc_id") + 1).cast("string").alias("href"),
    )
    plan = plan_of(translation_pairs(pages, alts))
    assert "CartesianProduct" not in plan, plan
    assert "EvalPython" not in plan, plan


# --- round-5 session-4 operators ---------------------------------------


def test_bigram_lm_no_window_no_cartesian_no_python(spark, docs):
    from dss_plugin_nlp_analysis_spark.operators.textstats import bigram_lm_scores

    out = bigram_lm_scores(docs, "doc_id", "text")
    plan = plan_of(out)
    # join-deployed LM: token equi-joins + one scalar cross (1-row stats)
    assert "Window" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # the only nested-loop join is the broadcast of the 1-row total
    assert plan.count("NestedLoopJoin") <= 1, plan


def test_retrieval_metrics_single_shuffle_agg_no_window(spark):
    from dss_plugin_nlp_analysis_spark.operators.evalmetrics import (
        retrieval_metrics,
    )

    runs = spark.createDataFrame(
        [("a", "d1", 1)], "query_id string, doc_id string, rank int"
    )
    qrels = spark.createDataFrame(
        [("a", "d1", 1)], "query_id string, doc_id string, rel int"
    )
    plan = plan_of(retrieval_metrics(runs, qrels, k=10))
    assert "Window" not in plan, plan
    assert "CartesianProduct" not in plan and "NestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan


def test_bpe_round_is_vocab_sized_aggregation(spark, docs):
    from dss_plugin_nlp_analysis_spark.operators.bpetrain import word_counts

    plan = plan_of(word_counts(docs, "text"))
    # one corpus pass: explode + partial/final count, no windows/python
    assert "Window" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "HashAggregate" in plan


def test_scc_and_node2vec_plans_are_join_only(spark):
    from dss_plugin_nlp_analysis_spark.operators.graph import (
        node2vec_walks,
        strongly_connected_components,
    )

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (2, 4)], "src long, dst long"
    )
    seeds = spark.createDataFrame([(1,)], "node long")
    w = node2vec_walks(edges, seeds, steps=2)
    s = strongly_connected_components(edges)
    for plan in (plan_of(w), plan_of(s)):
        assert "Window" not in plan, plan
        assert "CartesianProduct" not in plan
        assert "BatchEvalPython" not in plan


def test_transe_scores_broadcast_only_beyond_negative_sampling(spark):
    from dss_plugin_nlp_analysis_spark.operators.kg import transe_scores

    t = spark.createDataFrame(
        [("a", "p", "x"), ("b", "p", "y"), ("c", "q", "x")],
        "subj string, pred string, obj string",
    )
    plan = plan_of(transe_scores(t, dims=4, n_neg=2))
    # energy is pure column math fused onto the negative_samples
    # broadcast join: no window, no python, no cartesian
    assert "BroadcastHashJoin" in plan, plan
    assert "Window" not in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_transe_ranks_vocab_bounded_no_python(spark):
    from dss_plugin_nlp_analysis_spark.operators.kg import transe_ranks

    t = spark.createDataFrame(
        [("a", "p", "x"), ("a", "p", "y"), ("b", "q", "x")],
        "subj string, pred string, obj string",
    )
    plan = plan_of(transe_ranks(t, dims=2))
    # candidate blowup rides a broadcast (nested-loop on the vocab dim is
    # fine — the dim is ontology-sized by contract); the rank count is a
    # hash aggregate, never a window
    assert "Broadcast" in plan, plan
    assert "Window" not in plan
    assert "HashAggregate" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_recrawl_single_url_exchange(spark):
    import datetime as dt

    from dss_plugin_nlp_analysis_spark.operators.url import recrawl_priority

    snaps = spark.createDataFrame(
        [("u", dt.datetime(2026, 1, 1), "a"), ("u", dt.datetime(2026, 1, 2), "b")],
        "url string, warc_ts timestamp, text string",
    )
    plan = plan_of(recrawl_priority(snaps))
    # the lag window and the per-url aggregate both partition by url —
    # one key, and the scalar max-ts side joins back as a broadcast
    assert plan.count("Exchange hashpartitioning") <= 2, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_align_ontologies_equi_join_only(spark):
    from dss_plugin_nlp_analysis_spark.operators.ontology import (
        align_ontologies,
    )

    left = spark.createDataFrame(
        [("t1", "alpha"), ("t2", "beta")], "tag string, keyword string"
    )
    plan = plan_of(align_ontologies(left, left))
    # blocking is an equi-join on the keyword — never a tag x tag cross
    assert "CartesianProduct" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_crawl_schedule_single_domain_window(spark):
    from dss_plugin_nlp_analysis_spark.operators.url import crawl_schedule

    df = spark.createDataFrame(
        [("u1", "d", 3), ("u2", "d", 1)],
        "url string, domain string, priority long",
    )
    plan = plan_of(crawl_schedule(df))
    # exactly the one politeness-mandated per-domain window
    assert plan.count("Window") == 1, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "BatchEvalPython" not in plan


def test_preference_pairs_no_window(spark):
    from dss_plugin_nlp_analysis_spark.operators.trainprep import (
        preference_pairs,
    )

    df = spark.createDataFrame(
        [("c", 1, 5), ("c", 2, 9)], "cluster string, id long, score long"
    )
    plan = plan_of(preference_pairs(df, "cluster", "id", "score"))
    # extremes via min(struct) aggregates — the line_dedup pattern
    # (struct-min plans as SortAggregate, still map-side combinable)
    assert "Window" not in plan, plan
    assert "Aggregate" in plan
    assert "BatchEvalPython" not in plan


def test_badword_filter_broadcast_dim_join(spark, docs):
    from dss_plugin_nlp_analysis_spark.operators.webclean import (
        badword_filter,
    )

    plan = plan_of(badword_filter(docs, "doc_id", "text", ["slow", "error"]))
    # blocklist rides a broadcast hash join, not a giant regex; no python
    assert "BroadcastHashJoin" in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_incremental_minhash_no_cartesian(spark):
    from dss_plugin_nlp_analysis_spark.operators.dedup import (
        incremental_minhash_pairs,
    )

    base = spark.createDataFrame(
        [(1, "a b c d"), (2, "b c d e")], "id long, t string"
    )
    delta = spark.createDataFrame([(3, "a b c d")], "id long, t string")
    plan = plan_of(incremental_minhash_pairs(base, delta, "id", "t"))
    assert "CartesianProduct" not in plan, plan
    assert "Window" not in plan
    assert "BatchEvalPython" not in plan


def test_phrase_search_equi_joins_only(spark, docs):
    from dss_plugin_nlp_analysis_spark.operators.invindex import (
        phrase_search,
    )

    plan = plan_of(phrase_search(docs, "doc_id", "text", "table scan"))
    assert "CartesianProduct" not in plan and "NestedLoopJoin" not in plan
    assert "Window" not in plan
    assert "BatchEvalPython" not in plan


def test_event_paths_single_user_window(spark):
    import datetime as dt

    from dss_plugin_nlp_analysis_spark.operators.rollup import event_paths

    df = spark.createDataFrame(
        [(1, "a", dt.datetime(2026, 1, 1), 1)],
        "user_id long, event_type string, ts timestamp, event_id long",
    )
    plan = plan_of(event_paths(df, steps=3))
    # k-1 leads share ONE window pass
    assert plan.count("Window") == 1, plan
    assert "BatchEvalPython" not in plan
