"""Driver contract for the spark-graft builder (PySpark target).

Each ``queries()`` entry is an operator from SURVEY.md §2 (or a
training-data-pipeline op) run over the driver testdata; ``oracle_sql()``
holds the equivalent DuckDB SQL. Column names are aliased identically on
both sides (the driver hashes values after sorting columns by name).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dss_plugin_nlp_analysis_spark.demo import (
    DEMO_KEYWORD_REGEX,
    DEMO_ONTOLOGY_SQL,
    demo_ontology_df,
    kg_oracle_ontology_df,
    load_table,
)
from dss_plugin_nlp_analysis_spark.operators.dedup import (
    exact_dedup,
    minhash_candidate_pairs,
    ngram_jaccard_pairs,
    normalized_text,
    simhash_buckets,
)
from dss_plugin_nlp_analysis_spark.operators.kg import build_triples
from dss_plugin_nlp_analysis_spark.operators.multimodal import (
    decode_image_meta,
    fake_image_binary,
)
from dss_plugin_nlp_analysis_spark.operators.ontology import TagOptions, clean_ontology
from dss_plugin_nlp_analysis_spark.operators.similarity import cosine_topk, lsh_ann_topk
from dss_plugin_nlp_analysis_spark.operators.tagger import tag_documents
from dss_plugin_nlp_analysis_spark.operators.textprep import (
    chunk_documents,
    clean_linebreaks_col,
    extract_text_udf,
    split_sentences_udf,
)
from dss_plugin_nlp_analysis_spark.operators.webclean import (
    c4_line_filter,
    line_dedup,
)
from dss_plugin_nlp_analysis_spark.operators.pii import redact_pii
from dss_plugin_nlp_analysis_spark.operators.textstats import (
    gopher_filter,
    marker_langid,
    quality_features,
    regex_token_count,
    repetition_features,
    tfidf_top_terms,
    token_count,
    unigram_lm_scores,
    winnow_fingerprints,
    winnow_overlap_pairs,
)

SF0001 = "/root/testdata/sf0.001"
EMB_DIM = 64  # embeddings.parquet vector width (TESTDATA.md contract)


def _lsh_bucket_sql(
    vec_expr: str, num_planes: int, tables: int, seed: int = 42, probes: int = 0
) -> str:
    """DuckDB expression (list of per-table LSH sign-buckets) replicating
    the EXACT math of operators/similarity.hyperplane_buckets: the same
    md5-derived hyperplane literals, the same ``proj >= 0`` sign rule, the
    same table-offset bucket encoding. ``probes=1`` appends every
    Hamming-distance-1 flip of each table's bucket (xor of one plane bit)
    — the mirror of ``similarity.multiprobe_buckets``. Deterministic on
    both engines, so the approximate queries are value-checkable, not
    just row-countable."""
    from dss_plugin_nlp_analysis_spark.operators.similarity import _plane_vector

    bucket_exprs = []
    for t in range(tables):
        bits = []
        for p in range(num_planes):
            plane = _plane_vector(t * 10_000 + p, EMB_DIM, seed)
            lit = "[" + ", ".join(repr(x) for x in plane) + "]"
            bits.append(
                f"(CASE WHEN list_dot_product({vec_expr}::DOUBLE[], {lit}::DOUBLE[]) >= 0"
                f" THEN {1 << p} ELSE 0 END)"
            )
        base = "(" + " + ".join(bits) + f" + {t << num_planes})"
        bucket_exprs.append(base)
        if probes:
            bucket_exprs.extend(
                f"xor({base}, {1 << p})" for p in range(num_planes)
            )
    return "[" + ", ".join(bucket_exprs) + "]"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: ontology tagging, one row per match, over sf0.001 docs."""
    return _q_tag_match(spark, SF0001)


# --- tagging pipeline (SURVEY.md §2.6, M1/M2 + J1/J4 + S1) ---------------

def _q_tag_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    out = tag_documents(docs, demo_ontology_df(spark), text_col="text", lang_col="lang")
    return out.select("doc_id", "tag", "tag_keyword", "tag_sentence")


def _q_tag_match_category(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    out = tag_documents(
        docs,
        demo_ontology_df(spark, with_category=True),
        text_col="text",
        lang_col="lang",
        category_col="category",
    )
    return out.select("doc_id", "tag_category", "tag", "tag_keyword")


def _q_tag_doc_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    out = tag_documents(
        docs, demo_ontology_df(spark), text_col="text", lang_col="lang",
        output_format="one_row_per_doc",
    )
    return out.select("doc_id", "tag_list", "tag_keywords")


# --- ontology prep (P1, P2) ----------------------------------------------

def _q_ontology_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    raw = spark.createDataFrame(
        [
            ("tag1", "keyword1", ""),
            ("tag2", "keyword2", None),
            ("tag3", None, "cat"),
            ("", "keyword4", "cat"),
            ("tag5", "keyword5", "catX"),
        ],
        "tag string, keyword string, category string",
    )
    return clean_ontology(raw, "tag", "keyword", "category")


# --- matching options exercised through the driver gate -------------------
# (ignore_case / lemmatization / ignore_diacritics — recipe.json:348-383)

def _q_tag_match_lemma(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").withColumn(
        "text", F.replace(F.trim(F.col("text")), F.lit(" merge "), F.lit(" merged "))
    )
    out = tag_documents(
        docs, demo_ontology_df(spark), lang_col="lang",
        options=TagOptions(lemmatization=True),
    )
    return out.select("doc_id", "tag", "tag_keyword")


def _q_tag_match_ignorecase(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").withColumn(
        "text", F.replace(F.trim(F.col("text")), F.lit(" spark "), F.lit(" SPARK "))
    )
    out = tag_documents(
        docs, demo_ontology_df(spark), lang_col="lang",
        options=TagOptions(ignore_case=True),
    )
    return out.select("doc_id", "tag", "tag_keyword")


def _q_tag_match_diacritics(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").withColumn(
        "text", F.replace(F.trim(F.col("text")), F.lit(" slow "), F.lit(" slów "))
    )
    out = tag_documents(
        docs, demo_ontology_df(spark), lang_col="lang",
        options=TagOptions(ignore_diacritics=True),
    )
    return out.select("doc_id", "tag", "tag_keyword")


# --- events analytics (windows, sessionization, JSON props) ---------------

def _q_events_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.window("ts", "1 hour").getField("start").alias("hour_start"),
            "event_type",
        )
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
    )


def _q_events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    run = w.rowsBetween(W.unboundedPreceding, W.currentRow)
    with_breaks = ev.withColumn(
        "is_new", F.when(gap.isNull() | (gap > 1800), 1).otherwise(0)
    ).withColumn("session_seq", F.sum("is_new").over(run))
    return (
        with_breaks.groupBy("user_id", "session_seq")
        .agg(F.count("*").alias("n_events"), F.min("ts").alias("session_start"))
    )


def _q_events_props_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return ev.groupBy("event_type").agg(
        F.sum(k).alias("sum_k"), F.count(k).alias("n_k")
    )


# --- relational breadth: aggregation + broadcast join ----------------------

def _q_lineitem_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"),
            F.count("*").alias("n_rows"),
        )
    )


def _q_orders_by_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    return (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total_price"),
        )
    )


# --- stopwords (T5) + token classifiers (T4) -------------------------------

def _q_remove_stopwords(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dss_plugin_nlp_analysis_spark.operators.textstats import remove_stopwords

    docs = load_table(spark, sf_dir, "documents")
    kept = remove_stopwords(F.col("text"))
    return docs.select(
        "doc_id",
        F.size(kept).alias("n_kept"),
        F.array_join(kept, " ").alias("kept_text"),
    )


def _q_token_classes(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dss_plugin_nlp_analysis_spark.functions.tokclass import classify_token_col

    docs = load_table(spark, sf_dir, "documents").withColumn(
        "text", F.replace(F.trim(F.col("text")), F.lit(" spark "), F.lit(" #spark "))
    )
    toks = docs.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("tok")
    )
    return (
        toks.withColumn("cls", classify_token_col(F.col("tok")))
        .groupBy("cls")
        .agg(F.count("*").alias("n"))
    )


def _q_tag_doc_details(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4 decomposed: per (doc, tag) — count of ALL matches + distinct
    keywords in first-appearance order (the relational core of
    tag_json_full; the JSON byte format itself is pinned in pytest)."""
    docs = load_table(spark, sf_dir, "documents")
    # reference counts every occurrence: derive from the raw (un-deduped)
    # triples rather than the deduped per-match output
    from dss_plugin_nlp_analysis_spark.operators.kg import build_triples

    triples = build_triples(
        docs, demo_ontology_df(spark), url_col="doc_id", text_col="text",
        lang_col="lang", ts_col=None, category_col=None, canonicalize=False,
    )
    return (
        triples.groupBy(F.col("subj").alias("doc_id"), F.col("pred").alias("tag"))
        .agg(
            F.count("*").alias("match_count"),
            # lexicographic distinct keywords: collect_list order is not
            # deterministic post-shuffle (appearance order is pinned by the
            # JSON-format pytest instead)
            F.to_json(F.sort_array(F.array_distinct(F.collect_list("keyword")))).alias("keywords"),
        )
    )


def _q_corpus_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.round(F.avg("n_chars"), 4).alias("avg_chars"),
        F.round(F.expr("percentile(n_chars, 0.5)"), 6).alias("p50_chars"),
        F.round(F.expr("percentile(n_chars, 0.9)"), 6).alias("p90_chars"),
    )


def _q_salted_user_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dss_plugin_nlp_analysis_spark.operators.skew import salted_distinct_stats

    ev = load_table(spark, sf_dir, "events")
    return salted_distinct_stats(ev, "user_id", "event_type", buckets=8)


def _q_tag_doc_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    out = tag_documents(
        docs,
        demo_ontology_df(spark, with_category=True),
        text_col="text",
        lang_col="lang",
        category_col="category",
        output_format="one_row_per_doc",
    )
    return out.select("doc_id", "tag_list_operator", "tag_list_entity", "tag_keywords")


# --- KG materialization (SEMANTICS.md §8, north_star) ---------------------

def _q_kg_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    t = build_triples(
        docs,
        kg_oracle_ontology_df(spark),
        url_col="doc_id",
        text_col="text",
        lang_col="lang",
        ts_col=None,
        category_col=None,
    )
    return t.select("subj", "pred", "obj", "keyword", "sentence", "sent_idx", "category", "lang")


def _q_robots_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-permission gate: synthesized robots.txt bodies (comments,
    mixed-case keys, non-* groups, empty Disallow, a second * group on
    every third host) parsed by operators/robots.py, then the longest-
    match/Allow-ties decision over per-document URLs. The oracle derives
    the expected decisions independently from the same construction —
    the parser must reduce the noisy bodies to exactly the * rules for
    the decisions to hash-match."""
    from dss_plugin_nlp_analysis_spark.operators.robots import (
        parse_robots,
        robots_allowed,
    )

    docs = load_table(spark, sf_dir, "documents")
    h = (F.col("doc_id") % 7).cast("string")
    hosts = docs.select(F.concat(F.lit("h"), h, F.lit(".ex")).alias("host")).distinct()
    body = F.concat(
        F.lit("# synthetic robots\nUser-Agent: *\nDisallow: /d"),
        F.regexp_extract(F.col("host"), "h(\\d+)", 1),
        F.lit(" # private tree\nAllow: /d"),
        F.regexp_extract(F.col("host"), "h(\\d+)", 1),
        F.lit("/ok\nDisallow:\nUser-agent: bot\nDisallow: /\n"),
        F.when(
            F.regexp_extract(F.col("host"), "h(\\d+)", 1).cast("int") % 3 == 0,
            F.lit("\nUser-agent: *\nAllow: /x\n"),
        ).otherwise(F.lit("")),
    )
    robots = hosts.select("host", body.alias("body"))
    urls = docs.select(
        F.concat(
            F.lit("https://h"), h, F.lit(".ex"),
            F.element_at(
                F.array(
                    F.concat(F.lit("/d"), h, F.lit("/a")),
                    F.concat(F.lit("/d"), h, F.lit("/ok/b")),
                    F.lit("/x/c"),
                    F.lit("/plain"),
                ),
                (F.col("doc_id") % 4 + 1).cast("int"),
            ),
        ).alias("url")
    )
    out = robots_allowed(urls, parse_robots(robots))
    return out.select(
        "url", "host", "path", F.col("allowed").cast("int").alias("allowed"), "rule_path"
    )


def _q_rake_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE unsupervised keyword extraction over the documents table
    (integer degree/frequency scores — see operators/textstats.py)."""
    from dss_plugin_nlp_analysis_spark.operators.textstats import rake_keywords

    return rake_keywords(load_table(spark, sf_dir, "documents"))


def _q_kg_ntriples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RDF materialization gate: the kg_triples build serialized as
    canonical N-Triples lines (subject/predicate IRIs with percent
    escapes, sentence provenance as the quoted literal object with the
    spec's ECHAR escapes). Pure string expressions on both engines."""
    from dss_plugin_nlp_analysis_spark.operators.kg import ntriples_lines

    docs = load_table(spark, sf_dir, "documents")
    t = build_triples(
        docs,
        kg_oracle_ontology_df(spark),
        url_col="doc_id",
        text_col="text",
        lang_col="lang",
        ts_col=None,
        category_col=None,
    ).select(
        F.concat(F.lit("https://ex.org/doc/"), F.col("subj").cast("string")).alias("subj"),
        "pred",
        F.col("sentence").alias("obj"),
    )
    return ntriples_lines(t).select("subj", "pred", "line")


# --- text prep (P3/P4 native, T1 UDF, HTML extraction) --------------------

def _q_linebreak_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    derived = F.replace(
        F.replace(
            F.replace(F.trim(F.col("text")), F.lit(" agg "), F.lit("\n\n")),
            F.lit(" sort "), F.lit("\n"),
        ),
        F.lit(" key "), F.lit("\r"),
    )
    return docs.select("doc_id", clean_linebreaks_col(derived).alias("clean_text"))


def _q_sentence_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    derived = F.replace(F.trim(F.col("text")), F.lit(" merge "), F.lit(". "))
    split = split_sentences_udf()
    return docs.select(
        "doc_id", F.size(split(derived, F.col("lang"))).alias("n_sentences")
    )


def _q_html_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    html = F.concat(
        F.lit("<html><head><style>p{}</style></head><body><h1>Doc</h1><p>"),
        F.col("text"),
        F.lit("</p><script>var x=1;</script></body></html>"),
    )
    extract = extract_text_udf()
    return docs.select("doc_id", extract(html).alias("extracted"))


# --- training-data ops: dedup / similarity / text analysis ----------------

def _dup_corpus(spark: SparkSession, sf_dir: str, mutate: bool) -> DataFrame:
    """Derived corpus with planted (near-)duplicates: base docs ∪ copies at
    id+1e6 (exact copies, or truncated by 4 words when ``mutate``)."""
    docs = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("id"), normalized_text(F.col("text")).alias("t")
    )
    if mutate:
        words = F.split(F.col("t"), " ")
        t2 = F.array_join(
            F.slice(words, 1, F.greatest(F.size(words) - 4, F.lit(1))), " "
        )
    else:
        t2 = F.col("t")
    copies = docs.select((F.col("id") + 1000000).alias("id"), t2.alias("t"))
    return docs.union(copies)


def _q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return exact_dedup(_dup_corpus(spark, sf_dir, mutate=False), "id", "t")


def _q_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return minhash_candidate_pairs(
        _dup_corpus(spark, sf_dir, mutate=True), "id", "t", num_hashes=8, bands=4, n=3
    )


def _q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    # max_doc_freq mirrored in the oracle SQL (HAVING count <= cap) so the
    # gated semantics are the CAPPED algorithm, not a small-data accident
    return ngram_jaccard_pairs(
        _dup_corpus(spark, sf_dir, mutate=True), "id", "t", n=3, threshold=0.5,
        max_doc_freq=10_000,
    )


def _q_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    # duplicate CLUSTERING: near-dup candidate pairs -> distributed
    # connected components -> one cluster id per document (the cluster-level
    # dedup a training pipeline keeps one canonical doc from); oracle is a
    # DuckDB recursive CTE over the identical pair graph
    from dss_plugin_nlp_analysis_spark.operators.dedup import cluster_dedup

    corpus = _dup_corpus(spark, sf_dir, mutate=True)
    return cluster_dedup(corpus, "id", "t", num_hashes=8, bands=4, n=3).select(
        "id", "cluster_id"
    )


def _q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return simhash_buckets(
        _dup_corpus(spark, sf_dir, mutate=True), "id", "t", n=2, prefix_bits=8
    )


def _q_embedding_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return cosine_topk(emb, emb.where(F.col("vec_id") < 10), k=5)


def _q_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive-training hard negatives: top-5 most-similar vectors
    with a DIFFERENT label per query vector (label filter before the
    rank, so rank is the admissible-set position) — broadcast query
    side, float-robust id-only compare like embedding_topk."""
    from dss_plugin_nlp_analysis_spark.operators.similarity import hard_negatives

    emb = load_table(spark, sf_dir, "embeddings")
    return hard_negatives(emb, emb.where(F.col("vec_id") < 10), k=5)


def _q_embedding_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    # fully oracle-gated: the hyperplanes are md5-deterministic driver-side
    # literals, so the DuckDB oracle replicates the exact bucket math
    # (see _lsh_bucket_sql) and the candidate set matches value-for-value
    emb = load_table(spark, sf_dir, "embeddings")
    return lsh_ann_topk(
        emb, emb.where(F.col("vec_id") < 10), k=5, num_planes=6, dim=EMB_DIM
    )


def _q_embedding_ann_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    # multi-probe LSH: half the tables of embedding_ann, with every
    # Hamming-1 bucket probed on the (small) query side instead — recall
    # recovered without growing the corpus index; fully oracle-gated (the
    # probe expansion is deterministic xor on the same bucket math)
    emb = load_table(spark, sf_dir, "embeddings")
    return lsh_ann_topk(
        emb, emb.where(F.col("vec_id") < 10), k=5, num_planes=6, tables=2,
        probes=1, dim=EMB_DIM,
    )


def _q_embedding_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dss_plugin_nlp_analysis_spark.operators.similarity import ivf_topk

    emb = load_table(spark, sf_dir, "embeddings")
    return ivf_topk(
        emb, emb.where(F.col("vec_id") < 10), k=5, n_centroids=16, n_probe=4
    )


def _q_embedding_ivf_refined(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The data-adaptive IVF path under the value gate: one Lloyd's k-means
    pass over the corpus (seeded with the first 16 vectors in id order),
    centroids quantized to 1e-6 so FP summation order cannot flip an
    assignment, then the standard probe/re-rank. The oracle replicates the
    full pass in SQL: argmax-cosine assignment to the seeds, per-(cell,dim)
    mean, the same rounding, re-assignment, probe, exact re-rank."""
    from dss_plugin_nlp_analysis_spark.operators.similarity import ivf_topk

    emb = load_table(spark, sf_dir, "embeddings")
    return ivf_topk(
        emb, emb.where(F.col("vec_id") < 10), k=5, n_centroids=16, n_probe=4,
        refine_iters=1, centroid_rounding=6,
    )


def _planted_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus with planted near-dups: positively scaled copies at id+10000
    (cosine 1; scaling by 2 is exact in binary float, so the copy projects
    to the same LSH sign-bucket as its original in every table)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return emb.union(
        emb.select(
            (F.col("vec_id") + 10000).alias("vec_id"),
            F.transform(F.col("embedding"), lambda x: x * F.lit(2.0)).alias("embedding"),
            F.col("label"),
        )
    )


def _q_embedding_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dss_plugin_nlp_analysis_spark.operators.similarity import cosine_dup_pairs

    # exact all-pairs mode: the opt-in oracle baseline (quadratic crossJoin)
    return cosine_dup_pairs(
        _planted_embeddings(spark, sf_dir), threshold=0.95, use_lsh=False
    )


def _q_embedding_dups_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dss_plugin_nlp_analysis_spark.operators.similarity import cosine_dup_pairs

    # the scale path (default): LSH sign-bucket blocking before scoring;
    # oracle replicates the deterministic bucket math (see _lsh_bucket_sql)
    return cosine_dup_pairs(
        _planted_embeddings(spark, sf_dir), threshold=0.95, use_lsh=True, dim=EMB_DIM
    )


def _q_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    return quality_features(load_table(spark, sf_dir, "documents"), "doc_id", "text")


def _q_quality_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Gopher-style repetition filters as a pure map (sort+fold per row —
    # no shuffle); the oracle computes the same mode counts relationally
    return repetition_features(
        load_table(spark, sf_dir, "documents"), "doc_id", "text"
    )


def _q_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        token_count(F.col("text")).alias("n_ws_tokens"),
        regex_token_count(F.col("text")).alias("n_regex_tokens"),
    )


def _q_langid_markers(spark: SparkSession, sf_dir: str) -> DataFrame:
    return marker_langid(load_table(spark, sf_dir, "documents"), "doc_id", "text")


def _q_multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    img = fake_image_binary(
        ((F.col("n_chars") % 640) + 1).cast("int"), F.lit(480), F.col("text")
    )
    return decode_image_meta(docs.select("doc_id", img.alias("img")), "doc_id", "img")


def _q_multimodal_real_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL pixel-decode gate (round 5): synthesize a valid binary PPM
    (P6) per document — ASCII-hex pixels so the DuckDB oracle can rebuild
    byte-identical images in SQL — then run the actual codec
    (functions/imagecodec.decode_rgb inside decode_channel_sums) and emit
    integer per-channel pixel sums. Integer outputs value-hash across
    engines; the oracle sums ascii codes positionally over the same
    reconstructed pixel string."""
    from dss_plugin_nlp_analysis_spark.operators.multimodal import (
        decode_channel_sums,
    )

    docs = load_table(spark, sf_dir, "documents")
    img = F.encode(
        F.concat(
            F.lit("P6\n"),
            (F.col("doc_id") % 13 + 2).cast("string"),
            F.lit(" "),
            (F.col("doc_id") % 7 + 2).cast("string"),
            F.lit("\n255\n"),
            F.expr(
                "substring(repeat(md5(coalesce(text, '')), 11), 1, "
                "cast((doc_id % 13 + 2) * (doc_id % 7 + 2) * 3 as int))"
            ),
        ),
        "utf-8",
    )
    return decode_channel_sums(
        docs.select("doc_id", img.alias("img")), "doc_id", "img"
    )


def _q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    # decode→featurize path: deterministic md5 featurizer is replicated in
    # the DuckDB oracle; the float32 cast is mirrored via ::REAL so the
    # rounded values are bit-comparable
    from dss_plugin_nlp_analysis_spark.operators.multimodal import extract_features

    docs = load_table(spark, sf_dir, "documents")
    imgs = docs.select(
        F.col("doc_id").alias("id"),
        fake_image_binary(
            F.lit(64), F.lit(64), F.substring(normalized_text(F.col("text")), 1, 16)
        ).alias("image"),
    )
    feats = extract_features(imgs, "id", "image", dim=4)
    return feats.select(
        "id",
        *[
            F.round(F.col("embedding")[i].cast("double"), 6).alias(f"f{i}")
            for i in range(4)
        ],
    )


# --- language ops (A6, P8) -------------------------------------------------

def _q_tag_match_skiplang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P8 skip-and-continue semantics under the driver gate: every 7th doc
    gets an unsupported language code; with ``skip_unknown=True`` those
    rows pass through UNTAGGED (a NULL no-match row — they are skipped,
    not dropped and not raising), all other rows tag normally. The raise
    path of the same guard is pytest-covered (functions/langsupport.py)."""
    docs = load_table(spark, sf_dir, "documents").withColumn(
        "lang",
        F.when(F.col("doc_id") % 7 == 0, F.lit("xx")).otherwise(F.col("lang")),
    )
    out = tag_documents(
        docs, demo_ontology_df(spark), text_col="text", lang_col="lang",
        skip_unknown=True,
    )
    return out.select("doc_id", "tag", "tag_keyword")


# --- C4-style web cleaning (line filter + corpus-global line dedup) ------
# The corpus is single-line; both queries derive multi-line documents with
# deterministic literal replaces mirrored verbatim in the oracle SQL (the
# same pattern as _CORPUS_MUT).

_LINE_SEPARATORS = (" table ", " value ", " a ", " the ")


def _q_c4_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 heuristics: ' merge ' becomes '.\\n' (lines ending in terminal
    punctuation); every 97th doc gets a 'lorem ipsum' marker appended to
    exercise the boilerplate page drop."""
    docs = load_table(spark, sf_dir, "documents")
    # coalesce BEFORE mutating: the lorem-append branch must not turn a
    # NULL-text doc into a NULL page (concat(NULL, ...) is NULL in Spark
    # but '' || ... is ' lorem ipsum' in the oracle)
    t = F.replace(
        F.trim(F.coalesce(F.col("text"), F.lit(""))),
        F.lit(" merge "), F.lit(".\n"),
    )
    t = F.when(
        F.col("doc_id") % 97 == 0, F.concat(t, F.lit(" lorem ipsum"))
    ).otherwise(t)
    out = c4_line_filter(
        docs.withColumn("text", t), "doc_id", "text",
        min_words_per_line=5, min_sentences=2,
    )
    return out.select(
        F.col("id").alias("doc_id"), "clean_text", "n_lines", "n_kept",
        "n_sentences", F.col("page_kept").cast("int").alias("page_kept"),
    )


def _q_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-global exact line dedup, first (doc_id, pos) occurrence wins;
    four frequent separator words become newlines so ~18% of the derived
    lines repeat across documents."""
    docs = load_table(spark, sf_dir, "documents")
    t = F.trim(F.col("text"))
    for sep in _LINE_SEPARATORS:
        t = F.replace(t, F.lit(sep), F.lit("\n"))
    out = line_dedup(docs.withColumn("text", t), "doc_id", "text")
    return out.select(F.col("id").alias("doc_id"), "clean_text")


def _q_stream_dedup_ttl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value gate for the streaming TTL-dedup horizon semantics, in batch
    form (operators/dedup.ttl_first_seen over Spark's native
    session_window): key = first 8 normalized chars (planted collisions),
    event time = deterministic minute-of-day derived from doc_id, gap =
    30 min. One row per (key, activity session) with the first sighting
    and the count it suppressed — the same re-emit-after-horizon /
    suppress-within-horizon behavior the stateful stream implements, so
    the TTL retention state machine gets a DuckDB value oracle, not just
    unit tests."""
    from dss_plugin_nlp_analysis_spark.operators.dedup import ttl_first_seen

    docs = load_table(spark, sf_dir, "documents")
    rows = docs.select(
        F.col("doc_id").alias("id"),
        F.substring(normalized_text(F.col("text")), 1, 8).alias("key"),
        (F.col("doc_id") * 37 % 1440 * 60).alias("sec"),
    )
    out = ttl_first_seen(rows, "id", "sec", "key", gap="1800 seconds")
    return out.select(
        "key",
        "first_id",
        F.col("first_ts").cast("long").alias("first_sec"),
        "n_in_session",
    )


# unigram-LM vocabulary for the quality filter (counts arbitrary but
# fixed; every other corpus word is OOV under count-1 smoothing)
_LM_FREQS = {
    "the": 900, "a": 800, "join": 120, "table": 110, "scan": 100,
    "merge": 90, "window": 80, "customer": 70, "data": 60, "query": 50,
}


def _lm_cost_table() -> tuple[dict[str, int], int]:
    """The SAME integer micro-nat costs unigram_lm_scores uses — the one
    shared derivation (textstats.unigram_cost_table) embedded as literals
    on BOTH engine sides, so no cross-engine transcendental-function or
    copy-drift mismatch is possible."""
    from dss_plugin_nlp_analysis_spark.operators.textstats import (
        unigram_cost_table,
    )

    return unigram_cost_table(_LM_FREQS)


def _q_unigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    out = unigram_lm_scores(docs, "doc_id", "text", _LM_FREQS)
    return out.select(
        F.col("id").alias("doc_id"), "n_tokens", "n_oov", "nll_micro", "avg_nll"
    )


# entity-linking ontology: 'merge' is deliberately ambiguous (two tags own
# it); each tag also owns a disambiguating keyword whose tokens form its
# context profile (operators/ontology.py compile_ontology: profile(idx) =
# tokens of the same tag's OTHER keywords). Row order carries the
# first-added tie rule.
LINK_ONTOLOGY = [
    ("merge_op", "merge"),      # idx 0 — ambiguous, wins ties (first added)
    ("merge_ent", "merge"),     # idx 1 — ambiguous
    ("merge_op", "window"),     # profile(merge_op) = {'window'}
    ("merge_ent", "customer"),  # profile(merge_ent) = {'customer'}
]


def _q_tag_match_linked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window entity linking under the driver gate (north_star: 'entity-link
    each mention to its ontology node with context-window scoring').

    An ambiguous mention ('merge') is scored against each candidate tag's
    context profile: |sentence tokens outside the match span ∩ profile|,
    ties to the first-added candidate. The corpus is single-sentence, so
    the oracle can test profile-token presence on the whole text (the
    matched span 'merge' is in neither profile)."""
    docs = load_table(spark, sf_dir, "documents")
    onto = spark.createDataFrame(LINK_ONTOLOGY, "tag string, keyword string")
    out = tag_documents(
        docs, onto, text_col="text", lang_col="lang",
        options=TagOptions(link_entities=True),
    )
    return out.select("doc_id", "tag", "tag_keyword")


_SAMPLE_FRACTIONS = {"en": 0.2, "zh": 0.5}  # downsample the big strata


def _q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic corpus rebalancing: keep 20% of en, 50% of zh, all
    other languages whole — decided per row by md5(seed|id), so the
    oracle replicates the exact keep set (no RNG)."""
    from dss_plugin_nlp_analysis_spark.operators.sampling import stratified_sample

    docs = load_table(spark, sf_dir, "documents")
    out = stratified_sample(
        docs, "doc_id", "lang", _SAMPLE_FRACTIONS, default_fraction=1.0,
        seed="rebalance",
    )
    return out.select("doc_id", "lang")


def _q_chunk_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-token-window chunking (16-token chunks, 4-token overlap) —
    the embedding/training-sample prep stage."""
    docs = load_table(spark, sf_dir, "documents")
    return chunk_documents(docs, "doc_id", "text", chunk_tokens=16, overlap=4).select(
        F.col("id").alias("doc_id"), "chunk_idx", "chunk_text", "n_tokens"
    )


def _q_mixed_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixed-language page detection: 8-token chunks → per-chunk marker
    language-ID → per-doc majority language (ties to the smaller code,
    matching marker_langid's strict-> fold), chunk count, and language
    diversity (operators/textstats.mixed_language_profile — chunks keyed
    by struct(id, chunk_idx), no per-doc chunk-count limit); docs with no
    chunks emit nothing."""
    from dss_plugin_nlp_analysis_spark.operators.textstats import (
        mixed_language_profile,
    )

    docs = load_table(spark, sf_dir, "documents")
    out = mixed_language_profile(docs, "doc_id", "text", chunk_tokens=8)
    return out.select(
        F.col("id").alias("doc_id"), "majority_lang", "n_langs", "n_chunks"
    )


def _q_url_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization over deterministically synthesized crawl
    urls (mixed-case scheme/host, utm params in every position, fragments,
    trailing slashes, a NULL every 97th row) — the literal construction
    is mirrored in the oracle; every regex is Java∩RE2."""
    from dss_plugin_nlp_analysis_spark.operators.url import url_table

    docs = load_table(spark, sf_dir, "documents")
    d = F.col("doc_id")
    base = F.concat(
        F.lit("HTTPS://WWW.Example"), (d % 50).cast("string"),
        F.lit(".COM/Path/"), d.cast("string"),
    )
    tail = (
        F.when(d % 3 == 0, F.concat(F.lit("?utm_source=x&ref="), d.cast("string")))
        .when(d % 3 == 1, F.lit("/?a=1&utm_campaign=y#frag"))
        .otherwise(F.lit("#sec"))
    )
    url = F.when(d % 97 == 0, F.lit(None).cast("string")).otherwise(
        F.concat(base, tail)
    )
    out = url_table(docs.withColumn("url", url), "doc_id", "url")
    return out.select(
        F.col("id").alias("doc_id"), "url_norm", "host", "domain"
    )


def _q_doc_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document repeated-line removal: the separator-derived
    multi-line docs with every page's body doubled (template repeat),
    so kept = each distinct line at its first position."""
    from dss_plugin_nlp_analysis_spark.operators.webclean import (
        dedup_lines_in_doc,
    )

    docs = load_table(spark, sf_dir, "documents")
    t = F.trim(F.coalesce(F.col("text"), F.lit("")))
    for sep in _LINE_SEPARATORS:
        t = F.replace(t, F.lit(sep), F.lit("\n"))
    t = F.concat(t, F.lit("\n"), t)
    out = dedup_lines_in_doc(docs.withColumn("text", t), "doc_id", "text")
    return out.select(
        F.col("id").alias("doc_id"), "clean_text", "n_lines", "n_kept"
    )


def _q_script_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Writing-system profile over a corpus with planted CJK / Cyrillic /
    Arabic suffixes (every 4th doc each) — dominant-script routing."""
    from dss_plugin_nlp_analysis_spark.operators.textstats import script_profile

    docs = load_table(spark, sf_dir, "documents")
    d = F.col("doc_id")
    t = F.concat(
        F.coalesce(F.col("text"), F.lit("")),
        F.when(d % 4 == 1, F.lit(" 中文内容页面测试文本"))
        .when(d % 4 == 2, F.lit(" русский текст страницы"))
        .when(d % 4 == 3, F.lit(" نص عربي ١٢٣"))
        .otherwise(F.lit("")),
    )
    out = script_profile(docs.withColumn("text", t), "doc_id", "text")
    return out.select(
        F.col("id").alias("doc_id"), "n_arabic", "n_cjk", "n_cyrillic",
        "n_digit", "n_latin", "dominant_script", "dominant_share",
    )


def _q_events_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style continuous aggregate: the same measure at 5-min
    and 1-hour granularities in one union, keyed by event_type. Sums are
    carried as floor(value·10⁶) BIGINTs — integer sums are order-free,
    so partition order can't flip a float bit across engines."""
    from dss_plugin_nlp_analysis_spark.operators.rollup import rollup_time

    ev = load_table(spark, sf_dir, "events").select(
        F.col("ts").cast("timestamp").cast("long").alias("sec"),
        "event_type",
        F.floor(F.col("value") * 1e6).cast("long").alias("micros"),
    )
    out = rollup_time(
        ev, "sec", "micros", {"5m": 300, "1h": 3600}, key_col="event_type"
    )
    # DOUBLE cast on the sum: DuckDB sum(BIGINT) is HUGEINT -> pandas
    # float64 (same dtype-hash class as truth_discovery; never sampled yet)
    return out.select(
        "gran", "bucket_start", F.col("key").alias("event_type"),
        "n", F.col("sum_value").cast("double").alias("sum_micros"),
        F.col("min_value").alias("min_micros"),
        F.col("max_value").alias("max_micros"),
    )


def _q_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV cardinality sketch over document texts (k=64): deterministic
    given the data, so the k-th hash AND the estimate are value-gated —
    a sketch the oracle can check exactly, unlike HLL."""
    from dss_plugin_nlp_analysis_spark.operators.rollup import kmv_distinct

    docs = load_table(spark, sf_dir, "documents")
    return kmv_distinct(docs, "text", k=64)


def _q_events_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time join on the events table: odd events (queries) pick
    up the newest even event (quotes) at-or-before their timestamp per
    user. The DuckDB oracle uses the engine's NATIVE ASOF LEFT JOIN — an
    independent implementation of the same semantics."""
    from dss_plugin_nlp_analysis_spark.operators.asof import asof_join

    ev = load_table(spark, sf_dir, "events")
    left = ev.where(F.col("event_id") % 2 == 1)
    right = ev.where(F.col("event_id") % 2 == 0)
    out = asof_join(
        left, right, "user_id", "ts",
        left_cols=["event_id"], right_cols=["event_id", "value"],
        seq_col="event_id",
    )
    return out.select(
        F.col("key").alias("user_id"),
        # events.ts is TIMESTAMP_NTZ: route through TIMESTAMP (session tz
        # is pinned UTC) to reach epoch seconds
        F.col("ts").cast("timestamp").cast("long").alias("sec"),
        "event_id",
        "r_event_id",
        "r_value",
    )


def _q_events_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval containment: even events become per-user intervals
    [sec, sec + (event_id%7+1) minutes]; odd events are points; every
    (point, interval) pair with the point inside counts. The bucketed
    equi-join must equal DuckDB's plain inequality join."""
    from dss_plugin_nlp_analysis_spark.operators.asof import range_join

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id",
        F.col("ts").cast("timestamp").cast("long").alias("sec"),
    )
    points = ev.where(F.col("event_id") % 2 == 1).select(
        "user_id", "sec", F.col("event_id").alias("p_id")
    )
    intervals = ev.where(F.col("event_id") % 2 == 0).select(
        "user_id",
        F.col("sec").alias("start_sec"),
        (F.col("sec") + (F.col("event_id") % 7 + 1) * 60).alias("end_sec"),
        F.col("event_id").alias("i_id"),
    )
    out = range_join(
        points, intervals, "user_id", "sec", "start_sec", "end_sec",
        bucket_seconds=120,
    )
    return out.select(
        F.col("key").alias("user_id"),
        F.col("point")["p_id"].alias("p_id"),
        F.col("ts").alias("sec"),
        F.col("interval")["i_id"].alias("i_id"),
        "start", "end",
    )


def _q_warc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WARC source gate: serialize the documents table into multi-record
    WARC/1.0 blobs (25 archives, records ordered by doc_id, byte-exact
    Content-Length framing built natively), parse them back with
    sources/warc.warc_records (mapInPandas), and return the recovered
    rows — the oracle is the documents table itself, so any framing or
    header-parse defect breaks payload equality."""
    from dss_plugin_nlp_analysis_spark.sources.warc import warc_records

    docs = load_table(spark, sf_dir, "documents")
    payload = F.coalesce(F.col("text"), F.lit(""))
    url = F.concat(F.lit("https://example.org/doc/"), F.col("doc_id").cast("string"))
    record = F.concat(
        F.lit("WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: "), url,
        F.lit("\r\nWARC-Date: 2026-01-01T00:00:00Z\r\nContent-Length: "),
        F.octet_length(payload).cast("string"),
        F.lit("\r\n\r\n"), payload, F.lit("\r\n\r\n"),
    )
    blobs = (
        docs.select(
            (F.col("doc_id") % 25).alias("grp"),
            F.struct(F.col("doc_id").alias("did"), record.alias("rec")).alias("s"),
        )
        .groupBy("grp")
        .agg(
            F.array_join(
                F.transform(F.array_sort(F.collect_list("s")), lambda s: s["rec"]),
                "",
            ).alias("blob_str")
        )
        .select(F.col("blob_str").cast("binary").alias("blob"))
    )
    out = warc_records(blobs, "blob")
    return out.select("url", "warc_date", "warc_type", "payload", "n_skipped")


def _q_latest_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-snapshot dedup: urls synthesized as doc_id % 200 (≈
    corpus/200 fetches per url), fetch time = minute-of-day derived from
    doc_id; keep the newest (ts, id) per url."""
    from dss_plugin_nlp_analysis_spark.operators.dedup import latest_by_key

    docs = load_table(spark, sf_dir, "documents")
    rows = docs.select(
        F.col("doc_id").alias("id"),
        F.concat(
            F.lit("https://example"), (F.col("doc_id") % 200).cast("string"),
            F.lit(".com/page"),
        ).alias("url"),
        (F.col("doc_id") * 53 % 1440 * 60).alias("sec"),
    )
    out = latest_by_key(rows, "url", "sec", "id")
    return out.select(
        F.col("key").alias("url"),
        F.col("id").alias("doc_id"),
        F.col("ts").alias("fetch_sec"),
        "n_snapshots",
    )


def _q_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction over a corpus with deterministically planted emails
    (every 5th doc), IPv4 addresses (every 7th) and phone numbers (every
    11th) — the literal concat is mirrored verbatim in the oracle, and
    every pattern lives in the Java-regex ∩ RE2 subset so the redacted
    text is byte-identical across engines."""
    docs = load_table(spark, sf_dir, "documents")
    t = F.concat(
        F.coalesce(F.col("text"), F.lit("")),
        F.when(
            F.col("doc_id") % 5 == 0,
            F.concat(
                F.lit(" contact user"), F.col("doc_id").cast("string"),
                F.lit("@example.com now"),
            ),
        ).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 7 == 0,
            F.concat(
                F.lit(" host 10.0."), (F.col("doc_id") % 250).cast("string"),
                F.lit(".1 up"),
            ),
        ).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 11 == 0,
            F.concat(
                F.lit(" call +1 415-555-"),
                (F.col("doc_id") % 9000 + 1000).cast("string"), F.lit(" ok"),
            ),
        ).otherwise(F.lit("")),
    )
    out = redact_pii(docs.withColumn("text", t), "doc_id", "text")
    return out.select(
        F.col("id").alias("doc_id"), "clean_text", "n_emails", "n_ipv4", "n_phones"
    )


def _q_winnow_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Copied-passage candidate pairs via shared winnowing fingerprints
    (MOSS): the mutated dup corpus (base ∪ 4-word-truncated copies)
    guarantees each base/copy pair shares nearly every selected hash;
    min_shared=2, hot fingerprints capped at doc-freq 50 before the
    quadratic join."""
    out = winnow_overlap_pairs(
        _dup_corpus(spark, sf_dir, mutate=True), "id", "t",
        k=3, window=4, min_shared=2, max_doc_freq=50,
    )
    return out.select("id_a", "id_b", "n_shared")


def _q_gopher(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style composite keep/drop gate: thresholds chosen so the
    corpus actually splits on every signal (token floor 30, avg token
    length 3-9, stop-word floor 0.04, repetition caps)."""
    docs = load_table(spark, sf_dir, "documents")
    return gopher_filter(
        docs, "doc_id", "text",
        min_tokens=30, max_tokens=100_000,
        min_avg_len=3.0, max_avg_len=9.0,
        min_stopword_ratio=0.04,
        max_top_unigram_ratio=0.25, max_dup_word_ratio=0.60,
    ).select(
        F.col("id").alias("doc_id"), "n_tokens", "avg_token_len",
        "stopword_ratio", "top_unigram_ratio", "dup_word_ratio", "keep",
    )


def _q_tfidf_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per doc (integer micro-nat idf ranking)."""
    docs = load_table(spark, sf_dir, "documents")
    return tfidf_top_terms(docs, "doc_id", "text", k=3).select(
        F.col("id").alias("doc_id"), "rank", "token", "tf", "dfc", "score_micro"
    )


def _q_winnow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprints (k=3 token grams, window=4), exploded to
    (doc_id, fingerprint) rows; empty docs emit nothing."""
    docs = load_table(spark, sf_dir, "documents")
    out = winnow_fingerprints(docs, "doc_id", "text", k=3, window=4)
    return out.select(
        F.col("id").alias("doc_id"),
        # explode_outer + null-drop: a plain explode over the projected
        # attribute triggers InferFiltersFromGenerate, whose size(...)>0
        # filter pushes down and re-inlines the whole winnow expression
        # (textstats.winnow_overlap_pairs has the full story)
        F.explode_outer(F.col("fingerprints")).alias("fingerprint"),
    ).where(F.col("fingerprint").isNotNull())


def _q_dup_passages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document duplicated-passage detection: non-overlapping
    3-token chunks that appear in ≥2 places corpus-wide, with occurrence
    count and first containing doc — the span-level complement of
    line_dedup (map-side-combinable groupBy, no window)."""
    docs = load_table(spark, sf_dir, "documents")
    ch = chunk_documents(docs, "doc_id", "text", chunk_tokens=3, overlap=0)
    return (
        ch.groupBy("chunk_text")
        .agg(
            F.count("*").alias("n_occurrences"),
            F.min("id").alias("first_doc"),
        )
        .where(F.col("n_occurrences") >= 2)
    )


def _q_kg_triples_linked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full north-star chain in one gate: mention extraction →
    context-window entity linking (ambiguous 'merge') → alias-graph
    canonicalization. All four LINK_ONTOLOGY tags share one alias
    component (merge_op ↔ 'merge' ↔ merge_ent), so every pred
    canonicalizes to obj='merge_ent' (lexicographic min) while pred
    itself still carries the linking decision."""
    docs = load_table(spark, sf_dir, "documents")
    onto = spark.createDataFrame(LINK_ONTOLOGY, "tag string, keyword string")
    out = build_triples(
        docs, onto, url_col="doc_id", lang_col="lang", ts_col=None,
        category_col=None, options=TagOptions(link_entities=True),
        canonicalize=True,
    )
    return out.select(
        F.col("subj").alias("doc_id"), "pred", "obj", "keyword",
    )


def _q_distinct_langs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select("lang").where(F.col("lang").isNotNull()).distinct()


def _link_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic link graph derived from the events table: user u
    'links to' page (event_id mod 150) — a directed graph with hubs and
    dangling nodes, the shape PageRank exists for."""
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        F.col("user_id").alias("src"), (F.col("event_id") % 150).alias("dst")
    )


def _q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer PageRank (3 iterations, micro-unit ranks): every step is an
    int64 sum (order-free) or a floor-division both engines evaluate
    identically, so the iterative fixpoint is value-hash gated — the
    DuckDB oracle unrolls the same three iterations as CTEs."""
    from dss_plugin_nlp_analysis_spark.operators.graph import pagerank

    return pagerank(_link_edges(spark, sf_dir), iterations=3).select(
        "node", F.col("rank").alias("rank_micro")
    )


def _q_graph_degrees(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node in/out/total degree of the link graph (distinct non-loop
    edges) — the per-checkpoint graph metric surface."""
    from dss_plugin_nlp_analysis_spark.operators.graph import degree_stats

    return degree_stats(_link_edges(spark, sf_dir))


def _q_decontam(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: docs sharing any word 3-gram with the
    'benchmark' subset (doc_id % 37 == 0) are flagged; n_hits counts
    gram occurrences. The benchmark gram set is broadcast — the corpus
    side never shuffles rows (plan-asserted in test_plans.py)."""
    from dss_plugin_nlp_analysis_spark.operators.decontam import decontaminate

    docs = load_table(spark, sf_dir, "documents")
    bench = docs.where(F.col("doc_id") % 37 == 0).select("text")
    return decontaminate(docs, bench, "doc_id", "text", n=3)


def _q_cross_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-crawl dedup: the mutated snapshot corpus anti-joined
    against the previously-kept base documents on content fingerprint —
    only genuinely-new content survives."""
    from dss_plugin_nlp_analysis_spark.operators.dedup import cross_snapshot_dedup

    new = _dup_corpus(spark, sf_dir, mutate=True)
    seen = load_table(spark, sf_dir, "documents").select("text")
    return cross_snapshot_dedup(new, seen, "id", "t", seen_text_col="text")


def _q_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global triangle count of the undirected link graph via the
    degree-orientation wedge join (per-node work bounded O(sqrt(m)) even
    on power-law graphs); the oracle counts canonically-ordered a<b<c
    triangles with a plain 3-way self-join — two independent
    formulations of the same invariant."""
    from dss_plugin_nlp_analysis_spark.operators.graph import triangle_count

    return triangle_count(_link_edges(spark, sf_dir))


def _q_lm_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style quality split: integer per-token LM cost -> exact
    discrete quartiles from a value-space histogram (no float
    interpolation, no corpus sort) -> head/mid/tail buckets."""
    from dss_plugin_nlp_analysis_spark.operators.textstats import quantile_buckets

    docs = load_table(spark, sf_dir, "documents")
    scored = unigram_lm_scores(docs, "doc_id", "text", _LM_FREQS).select(
        "id", F.expr("nll_micro div greatest(n_tokens, 1)").alias("avg_micro")
    )
    out = quantile_buckets(
        scored, "id", "avg_micro", labels=("head", "mid_head", "mid_tail", "tail")
    )
    return out.select(F.col("id").alias("doc_id"), "avg_micro", "bucket")


def _q_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token -> sorted posting list with df in [5, 400]: the cap keeps
    stopword posting lists out of the collect stage (computed from the
    df count BEFORE any list is built)."""
    from dss_plugin_nlp_analysis_spark.operators.invindex import inverted_index

    docs = load_table(spark, sf_dir, "documents")
    return inverted_index(docs, "doc_id", "text", min_df=5, max_df=400)


def _q_collocs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-25 collocation bigrams by integer confidence (c_xy*1e6 div
    c_x) with min_count=3 — overflow-free at any corpus size, ties fully
    ordered."""
    from dss_plugin_nlp_analysis_spark.operators.textstats import collocations

    docs = load_table(spark, sf_dir, "documents")
    return collocations(docs, "doc_id", "text", k=25, min_count=3)


def _q_extract_links(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anchor extraction over deterministic synthesized page HTML (two
    links per doc, one with extra attributes) — the edge source for the
    link graph; pure map + explode, zero shuffle."""
    from dss_plugin_nlp_analysis_spark.operators.url import extract_links

    docs = load_table(spark, sf_dir, "documents")
    html = F.concat(
        F.lit('<a href="https://ex.com/p'),
        (F.col("doc_id") % 20).cast("string"),
        F.lit('">l'),
        (F.col("doc_id") % 7).cast("string"),
        F.lit('</a> mid <a class="x" href="/rel/'),
        (F.col("doc_id") % 5).cast("string"),
        F.lit('">go</a>'),
    )
    pages = docs.select("doc_id", html.alias("html"))
    return extract_links(pages, "doc_id", "html")


def _q_anchor_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anchor-text index over the synthesized link rows: per target, link
    count + distinct-text count + the sorted JSON text list, suppressed
    (NULL) for targets above the 5-distinct-text cap — both cap paths
    exercised (ex.com/p* has 7 distinct texts, /rel/* has 1)."""
    from dss_plugin_nlp_analysis_spark.operators.url import anchor_text_index

    links = _q_extract_links(spark, sf_dir)
    return anchor_text_index(links, max_distinct_texts=5)


def _q_entity_salience(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(doc, entity) mention-share salience in integer ppm + earliest
    mention sentence — two map-side-combinable groupBys and one
    subj-keyed equi-join over the kg_triples mention stream."""
    from dss_plugin_nlp_analysis_spark.operators.kg import entity_salience

    docs = load_table(spark, sf_dir, "documents")
    t = build_triples(
        docs,
        kg_oracle_ontology_df(spark),
        url_col="doc_id",
        text_col="text",
        lang_col="lang",
        ts_col=None,
        category_col=None,
    )
    return entity_salience(t)


def _q_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicated-substring spans (Lee et al. bounded-window
    variant, 8-token windows): maximal per-doc token spans whose every
    window repeats corpus-wide — md5-int window hashing, count+join,
    per-row interval-merge fold; oracle = identical hash math with a
    gaps-and-islands merge."""
    from dss_plugin_nlp_analysis_spark.operators.dedup import duplicated_spans

    docs = load_table(spark, sf_dir, "documents")
    return duplicated_spans(docs, "doc_id", "text", window=8).withColumnRenamed(
        "id", "doc_id"
    )


def _q_span_surgery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lee-et-al. span removal end-to-end: duplicated 8-token windows cut
    from the normalized text, every document returned (n_removed = 0
    when untouched) — oracle recomputes removed token indices directly
    from duplicated window positions (no merge-logic replication)."""
    from dss_plugin_nlp_analysis_spark.operators.dedup import (
        remove_duplicated_spans,
    )

    docs = load_table(spark, sf_dir, "documents")
    return remove_duplicated_spans(
        docs, "doc_id", "text", window=8
    ).withColumnRenamed("id", "doc_id")


def _q_attr_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Literal attribute triples from synthesized metadata blocks (two
    key: value lines + the prose body): pure map + explode, literal
    first-': '-split grammar identical on both engines."""
    from dss_plugin_nlp_analysis_spark.operators.kg import attribute_triples

    docs = load_table(spark, sf_dir, "documents")
    page = F.concat(
        F.lit("title: doc "), (F.col("doc_id") % 50).cast("string"),
        F.lit(chr(10) + "lang: "), F.col("lang"),
        F.lit(chr(10)), F.col("text"),
    )
    return attribute_triples(
        docs.select("doc_id", page.alias("page")), "doc_id", "page"
    )


def _q_pipeline_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full training-data flow as ONE gated pipeline: Gopher quality
    gate -> exact dedup (canonical survivors only) -> deterministic
    stratified rebalance (en 20%, zh 50%) — each stage is an
    already-gated operator; this gate pins their COMPOSITION (the
    surviving doc set), which is what a real corpus build ships."""
    from dss_plugin_nlp_analysis_spark.operators.sampling import stratified_sample
    from dss_plugin_nlp_analysis_spark.operators.textstats import gopher_filter

    docs = load_table(spark, sf_dir, "documents")
    keep_ids = gopher_filter(
        docs, "doc_id", "text",
        min_tokens=30, max_tokens=100_000,
        min_avg_len=3.0, max_avg_len=9.0,
        min_stopword_ratio=0.04,
        max_top_unigram_ratio=0.25, max_dup_word_ratio=0.60,
    ).where(F.col("keep") == 1).select(F.col("id").alias("doc_id"))
    kept = docs.join(keep_ids, "doc_id")
    canon = exact_dedup(kept, "doc_id", "text").where(
        ~F.col("is_duplicate")
    ).select(F.col("id").alias("doc_id"))
    surv = kept.join(canon, "doc_id")
    out = stratified_sample(
        surv, "doc_id", "lang", _SAMPLE_FRACTIONS, default_fraction=1.0,
        seed="pipeline",
    )
    return out.select("doc_id", "lang")


def _q_burst_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer burst detection per (event_type, day): the division-free
    variance inequality in decimal(38,0)/int128 — no doubles, no sqrt,
    flag identical on both engines."""
    from dss_plugin_nlp_analysis_spark.operators.rollup import burst_buckets

    # planted spike: 20% of events (event_id % 50 < 10) collapse onto one
    # day so BOTH flag outcomes are exercised by the gate
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.when(
            F.col("event_id") % 50 < 10, F.to_date(F.lit("2026-03-01"))
        ).otherwise(F.to_date("ts")).alias("day"),
    )
    # TIMESTAMP cast: the oracle's DATE bucket reaches the driver's pandas
    # as datetime64 (midnight), while a Spark DateType arrives as
    # datetime.date — same value, different string render (the
    # truth_discovery hash class; this query has never been driver-sampled,
    # so align the dtype before rotation reaches it)
    out = burst_buckets(ev, "event_type", "day")
    return out.withColumn("bucket", F.col("bucket").cast("timestamp"))


def _q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-to-crawl diff: new snapshot = base minus (id % 11 == 0)
    [removed], with ' updated' appended for id % 7 == 0 [changed], plus
    id+5000 copies of id % 13 == 0 [added]; everything else 'same'."""
    from dss_plugin_nlp_analysis_spark.operators.url import snapshot_diff

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    kept = docs.where(F.col("doc_id") % 11 != 0).select(
        "doc_id",
        F.when(
            F.col("doc_id") % 7 == 0, F.concat(F.col("text"), F.lit(" updated"))
        ).otherwise(F.col("text")).alias("text"),
    )
    added = docs.where(F.col("doc_id") % 13 == 0).select(
        (F.col("doc_id") + 5000).alias("doc_id"), "text"
    )
    new = kept.union(added)
    return snapshot_diff(docs, new, "doc_id", "text")


def _q_k_hop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded BFS: every node within 2 directed hops of seed users 0-4,
    with the shortest hop count — unrolled frontier joins with per-round
    lineage cuts; oracle = the same two frontier expansions as CTEs."""
    from dss_plugin_nlp_analysis_spark.operators.graph import k_hop

    ev = load_table(spark, sf_dir, "events")
    seeds = ev.select(F.col("user_id").alias("node")).where(F.col("node") < 5)
    return k_hop(_link_edges(spark, sf_dir), seeds, k=2)


def _snapshot_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-snapshot crawl view of the documents table: url collapses
    doc_id mod 500 (several docs = several crawls of one url), warc_ts =
    2026-01-01 + (doc_id mod 17) days — deterministic on both engines."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        F.concat(F.lit("u"), (F.col("doc_id") % 500).cast("string")).alias("url"),
        "text",
        "lang",
        F.expr(
            "timestamp '2026-01-01 00:00:00'"
            " + make_interval(0, 0, 0, cast(doc_id % 17 as int), 0, 0, 0)"
        ).alias("warc_ts"),
    )


def _q_triple_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal KG facts: triples from a multi-snapshot crawl collapsed
    to (subj,pred,obj) -> first_seen/last_seen/n_snapshots/n_mentions —
    one map-side-combinable groupBy on the triple key."""
    from dss_plugin_nlp_analysis_spark.operators.kg import triple_history

    t = build_triples(
        _snapshot_pages(spark, sf_dir),
        kg_oracle_ontology_df(spark),
        url_col="url",
        text_col="text",
        lang_col="lang",
        ts_col="warc_ts",
        category_col=None,
    )
    return triple_history(t)


def _q_tag_cooc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity co-mention edges at the tag (pred) level: unordered pairs
    of tags mentioned in the same document with co-mentioning doc count
    — distinct-then-self-equi-join, per-key blowup bounded by ontology
    size."""
    from dss_plugin_nlp_analysis_spark.operators.kg import tag_cooccurrence

    docs = load_table(spark, sf_dir, "documents")
    t = build_triples(
        docs,
        kg_oracle_ontology_df(spark),
        url_col="doc_id",
        text_col="text",
        lang_col="lang",
        ts_col=None,
        category_col=None,
    )
    return tag_cooccurrence(t, obj="pred")


def _q_kg_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic corrupt-tail negatives (2 per positive, md5-drawn
    from the 5-entity vocabulary, collisions dropped) over the demo-
    ontology triples — pure map + broadcast dim join, retry-stable."""
    from dss_plugin_nlp_analysis_spark.operators.kg import negative_samples

    docs = load_table(spark, sf_dir, "documents")
    t = build_triples(
        docs,
        demo_ontology_df(spark),
        url_col="doc_id",
        text_col="text",
        lang_col="lang",
        ts_col=None,
        category_col=None,
        canonicalize=False,
    )
    return negative_samples(t, n_per=2, seed="neg")


def _q_alias_canon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed alias-graph canonicalization (the north-rule CC step at
    scale): tag<->keyword alias edges blocked into per-decade keyword
    spaces (so components actually fragment), iterative distributed
    connected components, canonical = lexicographically smallest TAG node
    per component — the billion-node path the driver-side canonical_map
    documents as its scale-out door."""
    from dss_plugin_nlp_analysis_spark.operators.components import (
        connected_components,
    )

    ev = load_table(spark, sf_dir, "events")
    edges = ev.select(
        F.concat(F.lit("t:"), F.col("user_id").cast("string")).alias("src"),
        F.concat(
            F.lit("k:"),
            (
                F.expr("user_id div 10") * 10 + F.col("event_id") % 10
            ).cast("string"),
        ).alias("dst"),
    )
    cc = connected_components(edges)
    tags = cc.where(F.col("node").startswith("t:"))
    canon = tags.groupBy("component").agg(F.min("node").alias("canonical"))
    return tags.join(canon, "component").select(
        F.col("node").alias("tag"), "canonical"
    )


def _q_kg_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental KG update: triples of the base crawl vs a mutated
    re-crawl (docs %11 removed, ' stream' appended for %7, %13 re-added
    at +5000) classified added/removed/same — full outer join on the
    DISTINCT triple key only."""
    from dss_plugin_nlp_analysis_spark.operators.kg import triple_delta

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang"
    )
    kept = docs.where(F.col("doc_id") % 11 != 0).select(
        "doc_id",
        F.when(
            F.col("doc_id") % 7 == 0, F.concat(F.col("text"), F.lit(" stream"))
        ).otherwise(F.col("text")).alias("text"),
        "lang",
    )
    added = docs.where(F.col("doc_id") % 13 == 0).select(
        (F.col("doc_id") + 5000).alias("doc_id"), "text", "lang"
    )
    newdocs = kept.union(added)

    def triples(d):
        return build_triples(
            d,
            kg_oracle_ontology_df(spark),
            url_col="doc_id",
            text_col="text",
            lang_col="lang",
            ts_col=None,
            category_col=None,
        )

    return triple_delta(triples(docs), triples(newdocs))


def _q_node_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structural entity-resolution candidates: neighbor-set Jaccard (in
    integer ppm) for node pairs of the link graph sharing >= 30
    undirected neighbors, with hub pivots (degree > 100) excluded from
    wedge generation — the ngram_jaccard posting-cap trade restated on
    graph structure."""
    from dss_plugin_nlp_analysis_spark.operators.graph import neighbor_jaccard

    return neighbor_jaccard(
        _link_edges(spark, sf_dir), min_shared=30, max_hub_degree=100
    )


def _q_k_core(spark: SparkSession, sf_dir: str) -> DataFrame:
    """13-core of the sparsified link graph (every 5th event): three
    fixed peel rounds (>= the measured convergence depth) so the oracle
    can unroll the identical peels as CTEs; survivors report their
    in-core degree."""
    from dss_plugin_nlp_analysis_spark.operators.graph import k_core

    ev = load_table(spark, sf_dir, "events")
    edges = ev.where(F.col("event_id") % 5 == 0).select(
        F.col("user_id").alias("src"), (F.col("event_id") % 150).alias("dst")
    )
    return k_core(edges, k=13, fixed_rounds=3)


def _q_component_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster size histogram (cluster_size -> n_clusters) over
    the full minhash -> connected-components chain — the dedup report a
    pipeline logs per ingest (how much mass sits in big clusters)."""
    from dss_plugin_nlp_analysis_spark.operators.dedup import cluster_dedup

    corpus = _dup_corpus(spark, sf_dir, mutate=True)
    clusters = cluster_dedup(corpus, "id", "t", num_hashes=8, bands=4, n=3)
    return (
        clusters.groupBy("cluster_id")
        .agg(F.count(F.lit(1)).alias("cluster_size"))
        .groupBy("cluster_size")
        .agg(F.count(F.lit(1)).alias("n_clusters"))
    )


_BM25_TERMS = ["window", "stream", "merge", "scan", "sort"]


def _q_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer-quantized BM25 top-15 for a 5-term query: micro-int idf +
    scaled-int64 tf saturation (early floor divisions — see
    invindex.bm25_topk's determinism contract), ties broken by id."""
    from dss_plugin_nlp_analysis_spark.operators.invindex import bm25_topk

    docs = load_table(spark, sf_dir, "documents")
    out = bm25_topk(docs, "doc_id", "text", _BM25_TERMS, k=15)
    return out.select(F.col("id").alias("doc_id"), "score_micro")


def _q_top_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide top-20 word bigrams — executed as TakeOrderedAndProject
    (per-partition k-row heaps), never a full sort; ties broken by gram
    text so the top-k boundary is deterministic."""
    from dss_plugin_nlp_analysis_spark.operators.textstats import top_ngrams

    docs = load_table(spark, sf_dir, "documents")
    return top_ngrams(docs, "doc_id", "text", n=2, k=20)


# --- KG profiling / reasoning / verbalization + link-graph depth ----------

def _kg_triples_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The kg_triples build (same ontology/options as _q_kg_triples),
    shared by the profiling/linearization gates so every one of them
    exercises the full tagger -> canonicalize chain."""
    docs = load_table(spark, sf_dir, "documents")
    return build_triples(
        docs,
        kg_oracle_ontology_df(spark),
        url_col="doc_id",
        text_col="text",
        lang_col="lang",
        ts_col=None,
        category_col=None,
    )


def _q_predicate_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-predicate cardinality QA over the materialized triples:
    mention/fact/endpoint counts, worst fan-out, functional-violation
    subjects, mean objects-per-subject in integer ppm."""
    from dss_plugin_nlp_analysis_spark.operators.kg import predicate_profile

    return predicate_profile(_kg_triples_df(spark, sf_dir))


def _q_kg_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KELM-style KG verbalization: one deterministic training sentence
    per subject ('subj: pred obj; pred obj'), facts deduped and sorted by
    (pred, obj) so the corpus is bit-reproducible across builds."""
    from dss_plugin_nlp_analysis_spark.operators.kg import linearize_triples

    return linearize_triples(_kg_triples_df(spark, sf_dir))


def _q_entity_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-majority type inference per entity (argmax category with
    lexicographic tie-break) over the category-tagged match stream."""
    from dss_plugin_nlp_analysis_spark.operators.kg import infer_entity_types

    docs = load_table(spark, sf_dir, "documents")
    m = tag_documents(
        docs,
        demo_ontology_df(spark, with_category=True),
        text_col="text",
        lang_col="lang",
        category_col="category",
    )
    return infer_entity_types(m, entity_col="tag", category_col="tag_category")


def _link_seed_nodes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seed set (node % 10 == 0) over the SELF-LOOP-FILTERED distinct
    link-graph node universe — the ONE definition both seeded graph
    gates share, mirroring the oracles' `_LINK_EDGES`-derived nodes CTE
    exactly (the raw _link_edges still contains self-loop rows; a node
    appearing ONLY in self-loops exists in the raw edges but not in the
    filtered universe, and the two sides must agree on it)."""
    e = _link_edges(spark, sf_dir).where(F.col("src") != F.col("dst")).distinct()
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    return nodes.where(F.col("node") % 10 == 0)


def _q_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer HITS hubs/authorities (2 rounds, max-normalized to 1e6
    units) over the link graph — the oracle unrolls the identical four
    half-steps as CTEs with scalar-subquery maxima."""
    from dss_plugin_nlp_analysis_spark.operators.graph import hits

    return hits(_link_edges(spark, sf_dir), iterations=2)


def _q_taxonomy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ancestor closure of the derived category tree (child c >= 1,
    parent (c-1) div 3 over the 150 link-graph page ids): subClassOf
    reasoning as a bounded frontier fixpoint; fixed_depth=5 >= the
    tree's depth so the recursive-CTE oracle converges identically."""
    from dss_plugin_nlp_analysis_spark.operators.graph import transitive_closure

    ev = load_table(spark, sf_dir, "events")
    child = (F.col("event_id") % 150).alias("child")
    edges = (
        ev.select(child)
        .where(F.col("child") >= 1)
        .distinct()
        .withColumn("parent", F.expr("(child - 1) div 3"))
    )
    return transitive_closure(edges, fixed_depth=5)


def _q_random_walks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic DeepWalk corpus: 3-step walks from every node
    divisible by 10, next hop = md5-argmin over out-neighbors — the
    hash replaces the RNG so the embedding corpus value-hashes across
    engines and retries."""
    from dss_plugin_nlp_analysis_spark.operators.graph import random_walks

    return random_walks(
        _link_edges(spark, sf_dir), _link_seed_nodes(spark, sf_dir), steps=3
    )


def _typed_kv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed metadata pages -> attribute_triples: six key lines per doc
    spanning every literal kind (text, int, decimal, percent, US date,
    ISO date) plus the prose body — the shared input of the schema-
    induction and literal-normalization gates; the oracle builds the
    identical page string with || and chr(10)."""
    from dss_plugin_nlp_analysis_spark.operators.kg import attribute_triples

    docs = load_table(spark, sf_dir, "documents")
    d = F.col("doc_id")
    page = F.concat(
        F.lit("title: doc "), (d % 50).cast("string"),
        F.lit(chr(10) + "n_items: "), (d % 1000).cast("string"),
        F.lit(chr(10) + "score: "), (d % 97).cast("string"),
        F.lit("."), (d % 10).cast("string"),
        F.lit(chr(10) + "share: "), (d % 100).cast("string"), F.lit("%"),
        F.lit(chr(10) + "updated: "), (1 + d % 12).cast("string"),
        F.lit("/"), (1 + d % 28).cast("string"), F.lit("/2026"),
        F.lit(chr(10) + "born: 2026-01-"),
        F.lpad((1 + d % 28).cast("string"), 2, "0"),
        F.lit(chr(10)), F.col("text"),
    )
    return attribute_triples(
        docs.select("doc_id", page.alias("page")), "doc_id", "page"
    )


def _q_attr_schema(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema induction over the typed attribute table: per-key
    cardinalities, fan-out, and numeric/date-like value shares in
    integer ppm — how a pipeline discovers the infobox schema."""
    from dss_plugin_nlp_analysis_spark.operators.kg import attribute_schema

    return attribute_schema(_typed_kv(spark, sf_dir))


def _q_literal_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Literal typing/normalization: every attribute value classified
    (int/decimal/percent/date/text) and normalized to exact micro-units
    or ISO dates — integer/string ops only, byte-identical in SQL."""
    from dss_plugin_nlp_analysis_spark.operators.kg import normalize_literals

    return normalize_literals(_typed_kv(spark, sf_dir))


def _q_current_facts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal conflict resolution over the multi-snapshot triple view:
    one believed object per (subj, pred) — latest last_seen, ties by
    mentions then greatest obj — plus the competing-candidate count."""
    from dss_plugin_nlp_analysis_spark.operators.kg import current_facts

    t = build_triples(
        _snapshot_pages(spark, sf_dir),
        kg_oracle_ontology_df(spark),
        url_col="url",
        text_col="text",
        lang_col="lang",
        ts_col="warc_ts",
        category_col=None,
    )
    return current_facts(t)


def _q_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: BM25 top-15 (5-term query) fused with dense
    cosine top-15 (query vector 0) by integer reciprocal-rank fusion —
    the sparse+dense merge every retrieval-augmented pipeline runs."""
    from pyspark.sql import Window

    from dss_plugin_nlp_analysis_spark.operators.invindex import bm25_topk
    from dss_plugin_nlp_analysis_spark.operators.similarity import (
        cosine_topk,
        rrf_fuse,
    )

    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    sparse = bm25_topk(docs, "doc_id", "text", _BM25_TERMS, k=15)
    # rank over the 15-row candidate list (k-sized single partition —
    # bounded by k, not the corpus)
    sparse_r = sparse.select(
        "id",
        F.row_number()
        .over(Window.orderBy(F.col("score_micro").desc(), F.col("id")))
        .alias("rank"),
    )
    dense = cosine_topk(emb, emb.where(F.col("vec_id") == 0), k=15).select(
        F.col("neighbor_id").alias("id"), "rank"
    )
    return rrf_fuse([sparse_r, dense], k=60).select(
        F.col("id").alias("doc_id"), "rrf_micro", "n_systems"
    )


def _q_group_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language cap: the 50 md5-smallest doc ids per language —
    RefinedWeb-style absolute volume caps, computed as a two-phase
    distributed min-k (bounded heaps, never a per-group sort window)."""
    from dss_plugin_nlp_analysis_spark.operators.sampling import (
        group_capped_sample,
    )

    docs = load_table(spark, sf_dir, "documents")
    return group_capped_sample(docs, "doc_id", "lang", cap=50, seed="cap")


_FUNNEL_STEPS = ["view", "click", "purchase"]


def _q_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel view -> click -> purchase over per-user
    event streams, strictly-after semantics on the (ts, event_id) total
    order."""
    from dss_plugin_nlp_analysis_spark.operators.rollup import funnel_counts

    return funnel_counts(load_table(spark, sf_dir, "events"), _FUNNEL_STEPS)


def _q_cohort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention matrix (integer epoch-day // 7 buckets —
    no calendar week-truncation semantics)."""
    from dss_plugin_nlp_analysis_spark.operators.rollup import (
        cohort_retention,
    )

    return cohort_retention(load_table(spark, sf_dir, "events"))


# hashed-linear quality model: the ONE weight/bias definition, injected
# into both the Spark query and the DuckDB oracle (pseudo-trained
# deterministic weights — the gate certifies the deployment math)
_LIN_B = 32
_LIN_WEIGHTS = [((b * 37 + 11) % 21 - 10) * 1000 for b in range(_LIN_B)]
_LIN_BIAS = 2500
_LIN_THRESHOLD = 0


def _q_pagerank_topic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Topic-sensitive PageRank: teleport mass returns only to seed
    nodes (node % 10 == 0) — proximity-to-seeds salience, same integer
    fixpoint contract as `pagerank`."""
    from dss_plugin_nlp_analysis_spark.operators.graph import (
        personalized_pagerank,
    )

    return personalized_pagerank(
        _link_edges(spark, sf_dir), _link_seed_nodes(spark, sf_dir),
        iterations=3,
    ).select("node", F.col("rank").alias("rank_micro"))


def _q_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition counts + integer-ppm conditional
    probabilities over per-user event sequences — next-action training
    data with a deterministic (ts, event_id) ordering contract."""
    from dss_plugin_nlp_analysis_spark.operators.rollup import (
        transition_counts,
    )

    return transition_counts(load_table(spark, sf_dir, "events"))


def _q_quality_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashing-trick linear quality classifier (CCNet/fastText-style
    learned filter, inference side): md5-bucketed bag-of-words dotted
    with an integer weight vector, keep = score >= threshold."""
    from dss_plugin_nlp_analysis_spark.operators.textstats import (
        hashed_linear_score,
    )

    docs = load_table(spark, sf_dir, "documents")
    out = hashed_linear_score(
        docs, "doc_id", "text", _LIN_WEIGHTS,
        bias=_LIN_BIAS, threshold=_LIN_THRESHOLD,
    )
    return out.select(F.col("id").alias("doc_id"), "score_micro", "keep")


def _q_bpe_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First BPE merge statistics: corpus-wide top-20 adjacent
    character pairs inside words — iteration one of tokenizer training
    over the pretraining corpus itself."""
    from dss_plugin_nlp_analysis_spark.operators.textstats import (
        char_pair_counts,
    )

    docs = load_table(spark, sf_dir, "documents")
    return char_pair_counts(docs, "text", k=20)


def _structured_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthesized page HTML with structured data: a schema.org JSON-LD
    Article island (absent for doc_id%11==0 pages, malformed JSON for
    doc_id%13==5 — both engines must yield no facts) plus OpenGraph meta
    tags (og:image:width only on doc_id%7==0)."""
    docs = load_table(spark, sf_dir, "documents")
    d = F.col("doc_id")
    body = F.concat(
        F.lit('{"@type":"Article","name":"N'), (d % 100).cast("string"),
        F.lit('","author":{"@type":"Person","name":"P'), (d % 13).cast("string"),
        F.lit('"},"wordCount":'), (d % 500).cast("string"), F.lit("}"),
    )
    body = F.when(d % 13 == 5, F.lit('{"broken":')).otherwise(body)
    og = F.concat(
        F.lit('<meta property="og:title" content="T'), (d % 50).cast("string"),
        F.lit('"><meta property="og:type" content="'),
        F.when(d % 3 == 0, F.lit("article"))
        .when(d % 3 == 1, F.lit("video"))
        .otherwise(F.lit("website")),
        F.lit('">'),
        F.when(
            d % 7 == 0, F.lit('<meta property="og:image:width" content="1200">')
        ).otherwise(F.lit("")),
    )
    island = F.when(d % 11 == 0, F.lit("")).otherwise(
        F.concat(
            F.lit('<script type="application/ld+json">'), body, F.lit("</script>")
        )
    )
    html = F.concat(F.lit("<html><head>"), og, F.lit("</head>"), island, F.lit("<p>x</p></html>"))
    return docs.select("doc_id", html.alias("html"))


def _q_jsonld_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """schema.org JSON-LD mining: the first ld+json island per page
    flattened to (id, pred, obj) facts via JVM-side JSON paths — the
    publisher-stated fact source of a web KG. Pages without an island,
    with malformed JSON, or missing a path emit no row ('headline' is
    requested but never present — the absent-path case is always
    exercised). Pure map + explode, zero shuffle (test_plans.py)."""
    from dss_plugin_nlp_analysis_spark.operators.structured import extract_jsonld

    pages = _structured_pages(spark, sf_dir)
    return extract_jsonld(
        pages,
        "doc_id",
        "html",
        {
            "type": "$['@type']",
            "name": "$.name",
            "author": "$.author.name",
            "words": "$.wordCount",
            "headline": "$.headline",
        },
    )


def _q_og_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OpenGraph tag extraction: (id, og_key, og_content) rows from two
    positionally-zipped regexp_extract_all passes — same structural
    formulation as the DuckDB oracle. Pure map, zero shuffle."""
    from dss_plugin_nlp_analysis_spark.operators.structured import extract_og

    return extract_og(_structured_pages(spark, sf_dir), "doc_id", "html")


def _q_label_prop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic synchronous label propagation (2 rounds) over the
    link graph: per round a dst-keyed equi-join, a map-side-combinable
    (node,label) count, and an order-free min-struct argmax — the DuckDB
    oracle unrolls the same two rounds with a row_number tie-break."""
    from dss_plugin_nlp_analysis_spark.operators.graph import label_propagation

    return label_propagation(_link_edges(spark, sf_dir), rounds=2)


def _q_canonical_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rel=canonical chain resolution by pointer doubling (3 rounds =
    2^3 saturating hops): urls chain toward doc_id - doc_id%4 one hop at
    a time, plus a planted 2-cycle (canonical-spam shape) that must
    resolve deterministically with is_terminal=false. The oracle applies
    the same 8 saturating steps via a counted recursive CTE."""
    from dss_plugin_nlp_analysis_spark.operators.url import resolve_canonical

    docs = load_table(spark, sf_dir, "documents")
    d = F.col("doc_id")
    url = F.concat(F.lit("https://s.example/"), d.cast("string"))
    canon = F.when(
        d % 4 != 0,
        F.concat(F.lit("https://s.example/"), (d - 1).cast("string")),
    )
    pages = docs.select(url.alias("url"), canon.alias("canon")).union(
        spark.createDataFrame(
            [
                ("https://s.example/cycA", "https://s.example/cycB"),
                ("https://s.example/cycB", "https://s.example/cycA"),
            ],
            ["url", "canon"],
        )
    )
    return resolve_canonical(pages, "url", "canon", rounds=3)


def _q_entity_blocking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked fuzzy entity-name matching: candidate pairs share a
    2-char blocking key (never a cartesian — plan-asserted) and match at
    Levenshtein <= 2; the 'zz…' names form one hot block above the
    max_block_size=30 cap and are dropped entirely (the skew guard's
    recall trade, exercised)."""
    from dss_plugin_nlp_analysis_spark.operators.er import blocked_name_matches

    docs = load_table(spark, sf_dir, "documents")
    d = F.col("doc_id")
    suffix = (
        F.when(d % 6 == 1, F.lit("x"))
        .when(d % 6 == 2, F.lit("xy"))
        .when(d % 6 == 3, F.lit("!"))
        .when(d % 6 == 4, F.lit("q"))
        .otherwise(F.lit(""))
    )
    name = F.when(d % 97 == 0, F.concat(F.lit("zz hotbrand"), (d % 3).cast("string"))).otherwise(
        F.concat(
            F.char(97 + (d % 20)),
            F.char(97 + (F.expr("doc_id div 20") % 20)),
            F.lit("brand"),
            (d % 10).cast("string"),
            suffix,
        )
    )
    names = docs.select(d.alias("eid"), name.alias("name"))
    return blocked_name_matches(names, "eid", "name", max_dist=2, max_block_size=30)


def _q_sitemap_urls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sitemap parsing (crawl-frontier source): synthesized urlset XML
    with optional lastmod (doc_id%3==0), a second url entry (doc_id%5==0)
    and a spec-invalid loc-less entry (doc_id%17==0, dropped) — entries
    extracted whole THEN fields per entry, so optional fields can't
    positionally desynchronize. Pure map + explode."""
    from dss_plugin_nlp_analysis_spark.sources.sitemap import parse_sitemap

    docs = load_table(spark, sf_dir, "documents")
    d = F.col("doc_id")
    entry1 = F.concat(
        F.lit("<url><loc>https://d"), (d % 30).cast("string"),
        F.lit(".example/p"), d.cast("string"), F.lit("</loc>"),
        F.when(
            d % 3 == 0,
            F.concat(F.lit("<lastmod>2026-0"), (d % 9 + 1).cast("string"), F.lit("-01</lastmod>")),
        ).otherwise(F.lit("")),
        F.lit("</url>"),
    )
    extra = F.when(
        d % 5 == 0,
        F.concat(
            F.lit("<url><loc>https://d"), (d % 30).cast("string"),
            F.lit(".example/extra"), d.cast("string"), F.lit("</loc></url>"),
        ),
    ).otherwise(F.lit(""))
    bad = F.when(
        d % 17 == 0, F.lit("<url><lastmod>2026-01-01</lastmod></url>")
    ).otherwise(F.lit(""))
    xml = F.concat(
        F.lit('<?xml version="1.0"?><urlset>'), entry1, extra, bad, F.lit("</urlset>")
    )
    return parse_sitemap(docs.select("doc_id", xml.alias("xml")), "doc_id", "xml")


def _q_hreflang_links(spark: SparkSession, sf_dir: str) -> DataFrame:
    """hreflang alternate-language link extraction (translation-variant
    clusters): en + de-AT alternates per page, x-default on doc_id%4==0.
    Pure map + explode, zero shuffle."""
    from dss_plugin_nlp_analysis_spark.operators.structured import extract_hreflang

    docs = load_table(spark, sf_dir, "documents")
    d = F.col("doc_id")
    group = (d % 40).cast("string")
    html = F.concat(
        F.lit('<link rel="alternate" hreflang="en" href="https://ex.org/'),
        group, F.lit('?lang=en">'),
        F.lit('<link rel="alternate" hreflang="de-AT" href="https://ex.org/'),
        group, F.lit('?lang=de">'),
        F.when(
            d % 4 == 0,
            F.concat(
                F.lit('<link rel="alternate" hreflang="x-default" href="https://ex.org/'),
                group, F.lit('">'),
            ),
        ).otherwise(F.lit("")),
    )
    return extract_hreflang(docs.select("doc_id", html.alias("html")), "doc_id", "html")


def _q_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-scoped boilerplate-line detection: every page in a domain
    shares a planted 'nav menu' header line (ratio 100%), natural text
    lines derived from word splits mostly stay under the 30% threshold.
    Distinct (domain,line,id) → combinable count → one domain-sized
    equi-join; never a window."""
    from dss_plugin_nlp_analysis_spark.operators.webclean import boilerplate_lines

    docs = load_table(spark, sf_dir, "documents")
    d = F.col("doc_id")
    text = F.concat(
        F.lit("nav menu\n"),
        F.replace(F.trim(F.col("text")), F.lit(" the "), F.lit("\n")),
    )
    pages = docs.select(
        "doc_id",
        F.concat(F.lit("d"), (d % 25).cast("string")).alias("domain"),
        text.alias("text"),
    )
    return boilerplate_lines(
        pages, "doc_id", "domain", "text", min_ratio_ppm=300_000, min_pages=2
    )


def _q_domain_policy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain curation verdicts over page-level quality signals:
    deterministic integer scores/keep flags vary by domain so all three
    verdicts (keep / drop / review-too-small) are exercised; one
    map-side-combinable groupBy(domain)."""
    from dss_plugin_nlp_analysis_spark.operators.webclean import domain_policy

    docs = load_table(spark, sf_dir, "documents")
    d = F.col("doc_id")
    pages = docs.select(
        F.when(d % 997 == 0, F.lit("tiny"))
        .otherwise(F.concat(F.lit("d"), (d % 25).cast("string")))
        .alias("domain"),
        ((d % 25) * 37_000 + (d % 13)).alias("score"),
        ((d % 13) < (d % 25)).alias("keep"),
    )
    return domain_policy(
        pages, "domain", "score", "keep",
        min_pages=100, min_mean_score=400_000, min_keep_ppm=500_000,
    )


def _hearst_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus text augmented with a deterministic taxonomy sentence so
    all three planted Hearst patterns fire per doc (such-as / and-other /
    including) on doc-varying terms — shared by hearst/taxonomy_edges."""
    docs = load_table(spark, sf_dir, "documents")
    d = F.col("doc_id")
    derived = F.concat(
        F.trim(F.col("text")),
        F.lit(" engines such as "),
        F.char(97 + (d % 20)), F.char(97 + (F.expr("doc_id div 20") % 20)),
        F.lit("base and other platforms including "),
        F.char(97 + (d % 7)),
        F.lit("store."),
    )
    return docs.select("doc_id", derived.alias("text"))


def _q_hearst(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hearst-pattern hyponymy mining over the planted taxonomy
    sentences plus whatever the natural text yields — both engines
    extract identically. Pure map + explode, zero shuffle."""
    from dss_plugin_nlp_analysis_spark.operators.kg import hearst_patterns

    return hearst_patterns(_hearst_docs(spark, sf_dir), "doc_id", "text")


def _q_taxonomy_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hearst matches aggregated into supported taxonomy edges with
    direction-conflict majority resolution and a 2-doc support floor —
    one combinable groupBy + one reversed-key self-join."""
    from dss_plugin_nlp_analysis_spark.operators.kg import (
        hearst_patterns,
        taxonomy_edges,
    )

    pairs = hearst_patterns(_hearst_docs(spark, sf_dir), "doc_id", "text")
    return taxonomy_edges(pairs, min_docs=2)


def _q_html_tables(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WebTables harvest: a per-doc synthesized table (header row +
    lang/mod data rows) wrapped around the corpus text, decomposed to
    addressable cells with header flags — three nested posexplodes,
    still a pure projection chain."""
    from dss_plugin_nlp_analysis_spark.operators.structured import extract_tables

    docs = load_table(spark, sf_dir, "documents")
    d = F.col("doc_id")
    html = F.concat(
        F.lit("<p>"), F.col("text"),
        F.lit('</p><table class="meta"><tr><th>k</th><th>v</th></tr>'),
        F.lit("<tr><td>lang</td><td>"), F.col("lang"),
        F.lit("</td></tr><tr><td>mod</td><td>m"), (d % 9).cast("string"),
        F.lit("</td></tr></table>"),
    )
    return extract_tables(
        docs.select("doc_id", html.alias("html")), "doc_id", "html"
    )


def _q_date_mentions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date-mention normalization: four planted date shapes per doc
    (ISO / US slash / day-month-year / month-day-year, digits varying
    by doc) extracted and normalized to ISO-8601 — aligned
    regexp_extract_all passes, one explode, zero shuffle."""
    from dss_plugin_nlp_analysis_spark.operators.mentions import (
        MONTHS,
        extract_dates,
    )

    docs = load_table(spark, sf_dir, "documents")
    d = F.col("doc_id")
    mm = (d % 12 + 1).cast("int")
    dd = (d % 28 + 1).cast("int")
    month_name = F.element_at(
        F.array(*[F.lit(m) for m in MONTHS]), (d % 7 + 1).cast("int")
    )
    derived = F.concat(
        F.trim(F.col("text")),
        F.lit(" on 2020-"), F.lpad(mm.cast("string"), 2, "0"),
        F.lit("-"), F.lpad(dd.cast("string"), 2, "0"),
        F.lit(" and "), mm.cast("string"), F.lit("/"), dd.cast("string"),
        F.lit("/2019 by "), dd.cast("string"), F.lit(" "), month_name,
        F.lit(" 2018 since "), month_name, F.lit(" "), dd.cast("string"),
        F.lit(", 2017."),
    )
    return extract_dates(
        docs.select("doc_id", derived.alias("text")), "doc_id", "text"
    )


def _q_quotes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Attributed-quote extraction: both newswire attribution shapes
    planted per doc with doc-varying speakers and quote bodies —
    aligned group extraction, one explode, zero shuffle."""
    from dss_plugin_nlp_analysis_spark.operators.mentions import extract_quotes

    docs = load_table(spark, sf_dir, "documents")
    d = F.col("doc_id")
    derived = F.concat(
        F.trim(F.col("text")),
        F.lit(" Mar"), F.char(97 + d % 26),
        F.lit(' said, "fact '), (d % 10).cast("string"),
        F.lit(' holds". "it scales to '), (d % 7).cast("string"),
        F.lit(' nodes," wrote Ben'), F.char(97 + d % 5), F.lit("."),
    )
    return extract_quotes(
        docs.select("doc_id", derived.alias("text")), "doc_id", "text"
    )


def _mention_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthesized mention stream (subj, sent_idx, sentence, obj,
    keyword) shared by relation_patterns / fact_support: the _KG_M
    keyword regex over single-sentence docs, url subjects carrying a
    30-way domain split."""
    docs = load_table(spark, sf_dir, "documents")
    d = F.col("doc_id")
    sent = F.trim(F.col("text"))
    kws = F.regexp_extract_all(
        sent, F.lit(r"\b(window|stream|table scan)\b"), 1
    )
    subj = F.concat(
        F.lit("https://d"), (d % 30).cast("string"),
        F.lit(".example/p"), d.cast("string"),
    )
    return (
        docs.select(
            subj.alias("subj"),
            F.lit(0).cast("int").alias("sent_idx"),
            sent.alias("sentence"),
            F.explode(kws).alias("keyword"),
        )
        .withColumn("obj", F.col("keyword"))
        .select("subj", "sent_idx", "sentence", "obj", "keyword")
    )


def _q_relation_patterns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distant-supervision connector mining: normalized between-entity
    text per co-mention pair, aggregated to (connector, n_mentions,
    n_pairs) — one sentence-keyed self-equi-join plus one combinable
    groupBy, no windows."""
    from dss_plugin_nlp_analysis_spark.operators.kg import relation_patterns

    return relation_patterns(
        _mention_stream(spark, sf_dir), max_connector_chars=60, min_count=2
    )


def _q_fact_support(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-diversity fact support: per co-mentioned entity pair,
    mention/doc/domain counts and diversity_ppm (domains per doc) —
    the spam-resistance confidence signal; domain derived from the url
    subject inside the operator."""
    from dss_plugin_nlp_analysis_spark.operators.kg import fact_support

    return fact_support(_mention_stream(spark, sf_dir))


def _q_relation_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Closed distant-supervision loop: connectors mined by
    relation_patterns (support >= 3) are applied back over the SAME
    mention stream to emit typed relation instances (head, relation,
    tail) in surface order — pair join + broadcast connector dim."""
    from dss_plugin_nlp_analysis_spark.operators.kg import (
        relation_extract,
        relation_patterns,
    )

    stream = _mention_stream(spark, sf_dir)
    dim = relation_patterns(
        stream, max_connector_chars=60, min_count=3
    ).select("connector")
    return relation_extract(stream, dim, max_connector_chars=60)


def _q_cooc_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lift-normalized tag co-mention strength over the KG-ontology
    triples: observed co-mention docs over the independence expectation,
    exact integer ppm (n_ab * n_corpus * 1e6 div (n_a * n_b)) — the
    association measure raw counts can't give."""
    from dss_plugin_nlp_analysis_spark.operators.kg import cooccurrence_lift

    docs = load_table(spark, sf_dir, "documents")
    t = build_triples(
        docs,
        kg_oracle_ontology_df(spark),
        url_col="doc_id",
        text_col="text",
        lang_col="lang",
        ts_col=None,
        category_col=None,
    )
    return cooccurrence_lift(t, obj="pred")


def _q_truth_discovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Knowledge fusion by source-diversity vote: synthesized
    conflicting attribute assertions (7-domain url space, value cycling
    per slot, NULL assertions dropped) resolved to one value per
    (entity, attr) with deterministic tie-breaks — two stacked
    combinable groupBys, winner via min_by, no window."""
    from dss_plugin_nlp_analysis_spark.operators.kg import truth_discovery

    docs = load_table(spark, sf_dir, "documents")
    d = F.col("doc_id")
    facts = docs.select(
        F.concat(F.lit("e"), (d % 40).cast("string")).alias("entity"),
        F.concat(F.lit("a"), (d % 3).cast("string")).alias("attr"),
        F.when(
            d % 11 != 0,
            F.concat(F.lit("v"), (F.expr("doc_id div 120") % 3).cast("string")),
        ).alias("value"),
        F.concat(
            F.lit("https://d"), (d % 7).cast("string"),
            F.lit(".example/p"), d.cast("string"),
        ).alias("source"),
    )
    # DOUBLE casts: the DuckDB oracle's window sum() yields HUGEINT, which
    # reaches pandas as float64 — match that dtype on the Spark side so the
    # driver's value hash compares 666666.0 against 666666.0, not 666666
    # (values are identical either way; CORRECTNESS_r05 diagnosed the
    # int64-vs-float64 hash mismatch)
    return truth_discovery(facts).withColumn(
        "total_docs", F.col("total_docs").cast("double")
    ).withColumn("support_ppm", F.col("support_ppm").cast("double"))


def _q_crawl_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-frontier prioritization: synthesized link graph (each
    crawled page links to its successor page and to an external target
    grid) anti-joined against the fetched set, scored by inlinks /
    distinct source pages / distinct source domains."""
    from dss_plugin_nlp_analysis_spark.operators.url import crawl_frontier

    docs = load_table(spark, sf_dir, "documents")
    d = F.col("doc_id")
    page = F.concat(
        F.lit("https://d"), (d % 30).cast("string"),
        F.lit(".example/p"), d.cast("string"),
    )
    crawled = docs.select(page.alias("url"))
    succ = F.concat(
        F.lit("https://d"), ((d + 1) % 30).cast("string"),
        F.lit(".example/p"), (d + 1).cast("string"),
    )
    # ext keys cycle with period lcm(5, 50) = 50, so even the 500-doc
    # sf0.01 table yields ~10 inlinks per frontier target; the doubled
    # ext edge exercises n_inlinks (counts it) vs n_src_pages (doesn't)
    ext = F.concat(
        F.lit("https://e"), (d % 5).cast("string"),
        F.lit(".example/t"), (d % 50).cast("string"),
    )
    links = docs.select(
        page.alias("src"), F.explode(F.array(succ, ext, ext)).alias("dst")
    )
    return crawl_frontier(links, crawled, min_inlinks=2)


def _q_skipgram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word2vec skip-gram pair generation (window=2) over the first 12
    normalized tokens of each document — token array materialized once,
    one flatten+explode, zero shuffle."""
    from dss_plugin_nlp_analysis_spark.operators.trainprep import skipgram_pairs

    docs = load_table(spark, sf_dir, "documents")
    words = F.split(normalized_text(F.col("text")), " ")
    head = F.array_join(F.slice(words, 1, 12), " ")
    return skipgram_pairs(
        docs.select("doc_id", head.alias("text")), "doc_id", "text", window=2
    )


def _q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-style sequence packing: id-ordered token stream cut into
    50-token context windows across 8 independent shards — one window
    scan per shard, no global sort."""
    from dss_plugin_nlp_analysis_spark.operators.trainprep import pack_sequences

    docs = load_table(spark, sf_dir, "documents")
    return pack_sequences(docs, "doc_id", "text", budget=50, shards=8)


def _q_dsir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style importance weights: hashed-unigram frequency-ratio
    scores (integer-ppm surrogate) of every document against the
    English-subset target distribution — two bounded-dim groupBys, one
    broadcast join back to the gram stream."""
    from dss_plugin_nlp_analysis_spark.operators.trainprep import dsir_weights

    docs = load_table(spark, sf_dir, "documents")
    return dsir_weights(
        docs,
        docs.where(F.col("lang") == "en"),
        "doc_id",
        "text",
        n=1,
        buckets=512,
    )


def _q_ngram_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric n-gram containment join over the mutated duplicate
    corpus: truncated copies are shingle-subsets of their originals, so
    containment flags them at ~1e6 ppm where Jaccard dilutes — df-capped
    inverted index, exact integer score."""
    from dss_plugin_nlp_analysis_spark.operators.dedup import (
        ngram_containment_pairs,
    )

    return ngram_containment_pairs(
        _dup_corpus(spark, sf_dir, mutate=True),
        "id",
        "t",
        n=3,
        threshold_ppm=600_000,
        max_doc_freq=10_000,
    )


def _q_edit_verify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Levenshtein VERIFICATION of MinHash candidates over the mutated
    duplicate corpus (the precision stage after LSH recall): truncated
    copies differ from their originals by a ~4-word suffix, so they
    verify at high sim_ppm; distance runs over the documented ASCII
    projection that makes Spark's code-point and DuckDB's byte
    Levenshtein coincide."""
    from dss_plugin_nlp_analysis_spark.operators.dedup import (
        edit_verified_pairs,
    )

    return edit_verified_pairs(
        _dup_corpus(spark, sf_dir, mutate=True),
        "id",
        "t",
        max_chars=400,
        min_sim_ppm=500_000,
    )


def _q_ict_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverse-Cloze-Task retriever pairs: md5-argmin sentence held out
    as the query, remaining sentences re-joined as the positive context
    — zero-shuffle pure map with the argmin struct materialized before
    the context filter (HOF re-eval trap)."""
    from dss_plugin_nlp_analysis_spark.operators.trainprep import ict_pairs

    docs = load_table(spark, sf_dir, "documents")
    derived = F.replace(F.col("text"), F.lit(" merge "), F.lit(". "))
    return ict_pairs(
        docs.select("doc_id", derived.alias("text")), "doc_id", "text"
    )


# planted mojibake: caf + (Ã©) + " said " + (â€™) / " quote " + (â€œ) +
# "fin 12" + (Â°) — explicit escapes so the query and the oracle SQL
# interpolate byte-identical strings
_MOJI_PREFIX = "cafÃ© said â€™ "
_MOJI_SUFFIX = " quote â€œfin 12Â°"


def _moji_fixed_sql(col: str) -> str:
    """The MOJIBAKE_TABLE replace chain as nested DuckDB ``replace`` calls
    — generated from the ONE table definition (operators/webclean.py), so
    the oracle can never drift from the operator."""
    from dss_plugin_nlp_analysis_spark.operators.webclean import MOJIBAKE_TABLE

    out = col
    for bad, good in MOJIBAKE_TABLE:
        out = f"replace({out}, '{bad}', '{good}')"
    return out


def _moji_count_sql(col: str) -> str:
    """Σ per-marker occurrence counts, each via the portable
    ``(len(t) - len(replace(t, m, ''))) / len(m)`` identity."""
    from dss_plugin_nlp_analysis_spark.operators.webclean import MOJIBAKE_TABLE

    terms = [
        f"(length({col}) - length(replace({col}, '{bad}', ''))) / {len(bad)}"
        for bad, _ in MOJIBAKE_TABLE
    ]
    return "(" + " + ".join(terms) + ")"


def _q_mojibake(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mojibake diagnosis/repair: documents contaminated with the classic
    UTF-8-read-as-cp1252 sequences (planted deterministically per doc_id
    residue) are counted and repaired via the fixed replace-chain table
    — pure map, zero shuffle."""
    from dss_plugin_nlp_analysis_spark.operators.webclean import (
        mojibake_profile,
    )

    docs = load_table(spark, sf_dir, "documents")
    d = F.col("doc_id")
    # plant garbled sequences on 2 of every 5 docs: explicit escapes (the
    # exact MOJIBAKE_TABLE forms — caf+Ã© and â€™, then â€œ and Â°); the
    # oracle interpolates the same Python literals
    dirty = F.when(
        d % 5 == 0,
        F.concat(F.lit(_MOJI_PREFIX), F.col("text")),
    ).when(
        d % 5 == 3,
        F.concat(F.col("text"), F.lit(_MOJI_SUFFIX)),
    ).otherwise(F.col("text"))
    return mojibake_profile(
        docs.select("doc_id", dirty.alias("text")), "doc_id", "text"
    )


def _q_corpus_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multilingual mixture allocation over the documents table's lang
    groups: sqrt-temperature weights + UniMax integer water-filling at a
    budget below the corpus size — one bounded-dim groupBy, windows only
    over the language dim."""
    from dss_plugin_nlp_analysis_spark.operators.sampling import (
        corpus_mixture,
    )

    docs = load_table(spark, sf_dir, "documents")
    # budget = 60% of the corpus so the big strata hit the water level
    # and the small strata fit whole (both branches exercised)
    n = docs.count()
    # DOUBLE cast: the oracle's sum(sq) is HUGEINT -> pandas float64 (same
    # dtype-hash fix as truth_discovery)
    return corpus_mixture(docs, "lang", budget=(n * 3) // 5).withColumn(
        "temp_weight_ppm", F.col("temp_weight_ppm").cast("double")
    )


def _synth_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic KG for rule mining: born_in(person, city),
    located_in(city, country), works_in(person, city), and nationality
    head facts asserted for half the persons — so born_in ∘ located_in
    ⇒ nationality mines at measurable sub-1.0 confidence."""
    docs = load_table(spark, sf_dir, "documents")
    d = F.col("doc_id")
    person = F.concat(F.lit("person"), (d % 50).cast("string"))
    city = F.concat(F.lit("city"), (d % 10).cast("string"))
    country = F.concat(F.lit("country"), ((d % 10) % 3).cast("string"))
    work_city = F.concat(F.lit("city"), ((d + 5) % 10).cast("string"))
    born = docs.select(
        person.alias("subj"), F.lit("born_in").alias("pred"), city.alias("obj")
    )
    loc = docs.select(
        city.alias("subj"), F.lit("located_in").alias("pred"), country.alias("obj")
    )
    nat = docs.where(d % 2 == 0).select(
        person.alias("subj"), F.lit("nationality").alias("pred"), country.alias("obj")
    )
    work = docs.select(
        person.alias("subj"), F.lit("works_in").alias("pred"), work_city.alias("obj")
    )
    return born.union(loc).union(nat).union(work)


def _q_relation_compose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-hop relation composition over the synthesized KG: one mid-entity
    self-equi-join + combinable groupBy, reflexive compositions dropped,
    n_mids = distinct witnesses."""
    from dss_plugin_nlp_analysis_spark.operators.rules import compose_relations

    return compose_relations(_synth_triples(spark, sf_dir))


def _q_amie_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AMIE-style horn-rule mining (p1 ∧ p2 ⇒ p3): body bindings from the
    composition join, std-confidence in exact integer ppm; the planted
    nationality facts make born_in ∘ located_in ⇒ nationality surface at
    ~50% confidence."""
    from dss_plugin_nlp_analysis_spark.operators.rules import amie_rules

    return amie_rules(
        _synth_triples(spark, sf_dir), min_support=2, min_conf_ppm=50_000
    )


def _q_microdata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """schema.org microdata extraction (the third syntax next to JSON-LD
    and OpenGraph): itemscope types + meta/content + inline-text
    itemprops from synthesized product/person pages — zipped
    regexp_extract_all passes, pure map."""
    from dss_plugin_nlp_analysis_spark.operators.structured import (
        extract_microdata,
    )

    docs = load_table(spark, sf_dir, "documents")
    d = F.col("doc_id")
    html = F.concat(
        F.lit('<div itemscope itemtype="https://schema.org/'),
        F.when(d % 2 == 0, F.lit("Product")).otherwise(F.lit("Person")),
        F.lit('"><meta itemprop="sku" content="S'),
        (d % 30).cast("string"),
        F.lit('">'),
        F.when(
            d % 4 == 0,
            F.concat(
                F.lit('<span itemprop="name">Item '),
                (d % 20).cast("string"),
                F.lit("</span>"),
            ),
        ).otherwise(F.lit("")),
        F.lit('<time itemprop="datePublished">2025-0'),
        (d % 9 + 1).cast("string"),
        F.lit("</time></div>"),
    )
    return extract_microdata(
        docs.select("doc_id", html.alias("html")), "doc_id", "html"
    )


def _q_pronoun_coref(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-antecedent pronoun resolution: entity lexicon tokens
    planted before and after the document body; short documents resolve
    the trailing 'he' to the lead entity inside the 200-token window,
    long documents exercise the NULL (out-of-window) path."""
    from dss_plugin_nlp_analysis_spark.operators.mentions import (
        resolve_pronouns,
    )

    docs = load_table(spark, sf_dir, "documents")
    derived = F.concat(
        F.lit("alpha arrived . "),
        F.col("text"),
        F.lit(" later he met beta and she left with them"),
    )
    return resolve_pronouns(
        docs.select("doc_id", derived.alias("text")),
        "doc_id",
        "text",
        ["alpha", "beta", "gamma"],
        max_distance=200,
    )


def _q_fim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fill-In-the-Middle transform: md5-derived double cut into
    (prefix, middle, suffix) + the PSM training string — pure map,
    reproducible on any engine."""
    from dss_plugin_nlp_analysis_spark.operators.trainprep import fim_transform

    docs = load_table(spark, sf_dir, "documents")
    return fim_transform(docs, "doc_id", "text")


def _q_span_corruption(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5-style span corruption: one md5-placed 3-token mask per 10-token
    block, numbered sentinels, (input, target) pair — zero shuffle."""
    from dss_plugin_nlp_analysis_spark.operators.trainprep import (
        span_corruption,
    )

    docs = load_table(spark, sf_dir, "documents")
    return span_corruption(docs, "doc_id", "text", block=10, span=3)


def _q_mirror_domains(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mirror-site detection over a synthesized multi-domain corpus: every
    even doc is mirrored on a sibling m-domain, and a 'template page'
    served by ALL domains exercises the fingerprint-fanout cap (dropped
    before pairing AND excluded from the per-domain sizes)."""
    from dss_plugin_nlp_analysis_spark.operators.url import mirror_domains

    docs = load_table(spark, sf_dir, "documents")
    d = F.col("doc_id")
    dom_d = F.concat(F.lit("d"), (d % 20).cast("string"))
    dom_m = F.concat(F.lit("m"), (d % 20).cast("string"))
    base = docs.select(dom_d.alias("domain"), F.col("text"))
    mirror = docs.where(d % 2 == 0).select(dom_m.alias("domain"), F.col("text"))
    template = docs.select(dom_d.alias("domain"), F.lit("template page").alias("text"))
    corpus = base.union(mirror).union(template)
    return mirror_domains(
        corpus, "domain", "text", min_shared=5, max_fp_domains=3
    )


def _q_translation_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitext candidates from declared alternates: every third page
    declares its successor as a translation (some same-language — dropped;
    some length-asymmetric — dropped by the ratio filter); reverse
    declarations on every sixth page collapse via the least/greatest
    pair key."""
    from dss_plugin_nlp_analysis_spark.operators.url import translation_pairs

    docs = load_table(spark, sf_dir, "documents")
    d = F.col("doc_id")
    url = F.concat(F.lit("https://ex.org/p"), d.cast("string"))
    succ = F.concat(F.lit("https://ex.org/p"), (d + 1).cast("string"))
    pages = docs.select(
        url.alias("url"),
        F.col("lang"),
        F.size(F.split(normalized_text(F.col("text")), " ")).alias("n_tokens"),
    )
    fwd = docs.where(d % 3 == 0).select(
        url.alias("id"), F.lit("x").alias("hreflang"), succ.alias("href")
    )
    rev = docs.where(d % 6 == 0).select(
        succ.alias("id"), F.lit("x").alias("hreflang"), url.alias("href")
    )
    return translation_pairs(pages, fwd.union(rev))


def _q_multimodal_png_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL PNG gate (round 5): per document, a deterministic gradient
    image pixel[y,x,c] = (id·7 + y·31 + x·13 + c·97) mod 256 is encoded
    to an actual PNG (filter-0 scanlines + stdlib-zlib IDAT) inside a
    mapInPandas stage, then decoded back by the full PNG decoder
    (imagecodec._decode_png via decode_channel_sums). The DuckDB oracle
    needs no zlib: channel sums have a closed form it evaluates over
    generate_series — any defect in either the encoder or the decoder
    breaks the value hash."""
    from dss_plugin_nlp_analysis_spark.operators.multimodal import (
        decode_channel_sums,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id")

    def gen(batches):
        import numpy as np
        import pandas as pd

        from dss_plugin_nlp_analysis_spark.functions.imagecodec import (
            encode_png,
        )

        for pdf in batches:
            ids = pdf["doc_id"].tolist()
            imgs = []
            for d in ids:
                w, h = int(d % 5 + 2), int(d % 3 + 2)
                y, x, c = np.meshgrid(
                    np.arange(h), np.arange(w), np.arange(3), indexing="ij"
                )
                arr = ((int(d) * 7 + y * 31 + x * 13 + c * 97) % 256).astype(
                    np.uint8
                )
                imgs.append(encode_png(arr))
            yield pd.DataFrame({"doc_id": ids, "img": imgs})

    imgs_df = docs.mapInPandas(gen, "doc_id long, img binary")
    return decode_channel_sums(imgs_df, "doc_id", "img")


def _q_multimodal_jpeg_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL JPEG gate (round 5): per document, a solid-color image
    (value doc_id%256) is entropy-encoded through the pure-Python
    ITU-T.81 baseline encoder — cycling 4:4:4 / 4:2:0 / grayscale by
    doc_id%3, with non-multiple-of-8 dimensions so MCU padding and
    cropping are both on the path — then Huffman-decoded back by the
    full JPEG decoder (imagecodec._decode_jpeg via decode_channel_sums).
    Solid blocks make the lossy pipeline exact: the only surviving
    coefficient is DC = 8·(v−128), quantized by Annex K Q00=16 with
    round-half-away, reconstructed as clip(2·DCq+128) — a closed form
    the DuckDB oracle evaluates in integer arithmetic. Any defect in
    marker writing, canonical Huffman codes, byte stuffing, DC
    prediction, dequantization, IDCT or subsampling breaks the hash."""
    from dss_plugin_nlp_analysis_spark.operators.multimodal import (
        decode_channel_sums,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id")

    def gen(batches):
        import numpy as np
        import pandas as pd

        from dss_plugin_nlp_analysis_spark.functions.imagecodec import (
            encode_jpeg,
        )

        for pdf in batches:
            ids = pdf["doc_id"].tolist()
            imgs = []
            for d in ids:
                v = int(d % 256)
                w, h = int(d % 13 + 4), int(d % 11 + 4)
                arr = np.full((h, w, 3), v, np.uint8)
                mode = d % 3
                if mode == 0:
                    buf = encode_jpeg(arr, quality=50, subsampling="444")
                elif mode == 1:
                    buf = encode_jpeg(arr, quality=50, subsampling="420")
                else:
                    buf = encode_jpeg(arr, quality=50, gray=True)
                imgs.append(buf)
            yield pd.DataFrame({"doc_id": ids, "img": imgs})

    imgs_df = docs.mapInPandas(gen, "doc_id long, img binary")
    return decode_channel_sums(imgs_df, "doc_id", "img")


def _audio_fixture_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document deterministic mono 16-bit PCM WAV: n = doc_id%50+10
    samples with s_i = ((doc_id·31 + i·17) mod 4096) − 2048 at 16 kHz —
    integer construction both engines can rebuild exactly."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id")

    def gen(batches):
        import numpy as np
        import pandas as pd

        from dss_plugin_nlp_analysis_spark.functions.audiocodec import encode_wav

        for pdf in batches:
            ids = pdf["doc_id"].tolist()
            wavs = []
            for d in ids:
                n = int(d % 50 + 10)
                i = np.arange(n, dtype=np.int64)
                s = ((int(d) * 31 + i * 17) % 4096) - 2048
                wavs.append(encode_wav(s.astype(np.int32), 16000, 16))
            yield pd.DataFrame({"doc_id": ids, "audio": wavs})

    return docs.mapInPandas(gen, "doc_id long, audio binary")


def _q_audio_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio-metadata gate: RIFF PCM WAV headers written by the
    fixture encoder, parsed back by functions/audiocodec.sniff_wav
    inside decode_audio_meta; integer duration_ms = n·1000 // rate."""
    from dss_plugin_nlp_analysis_spark.operators.multimodal import (
        decode_audio_meta,
    )

    return decode_audio_meta(_audio_fixture_df(spark, sf_dir), "doc_id", "audio")


def _q_audio_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL PCM sample-decode gate: the full 16-bit LE sample payload is
    decoded back (functions/audiocodec.decode_pcm) and reduced to
    integer amplitude features — sum|s|, max|s|, and sign-change count —
    which the DuckDB oracle rebuilds over generate_series. Any defect in
    chunk walking, sample width, endianness or channel deinterleave
    breaks the value hash."""
    from dss_plugin_nlp_analysis_spark.operators.multimodal import audio_features

    return audio_features(_audio_fixture_df(spark, sf_dir), "doc_id", "audio")


def _q_video_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL video-metadata gate: per document a spec-shaped ISO-BMFF box
    tree (ftyp + moov/mvhd + trak/tkhd) with deterministic timescale /
    duration / track dimensions, walked back by
    functions/audiocodec.sniff_mp4 inside decode_video_meta. Frame
    pixel decode is the explicit GPU-stage seam; the box metadata is
    what a trillion-document pipeline filters and partitions on."""
    from dss_plugin_nlp_analysis_spark.operators.multimodal import (
        decode_video_meta,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id")

    def gen(batches):
        import pandas as pd

        from dss_plugin_nlp_analysis_spark.functions.audiocodec import (
            encode_mp4_stub,
        )

        for pdf in batches:
            ids = pdf["doc_id"].tolist()
            vids = [
                encode_mp4_stub(
                    brand="mp42" if d % 2 else "isom",
                    timescale=int(600 + d % 100),
                    duration=int((d * 37) % 100000),
                    width=int(d % 640 + 16),
                    height=int(d % 360 + 16),
                )
                for d in ids
            ]
            yield pd.DataFrame({"doc_id": ids, "video": vids})

    vids_df = docs.mapInPandas(gen, "doc_id long, video binary")
    return decode_video_meta(vids_df, "doc_id", "video")


def _q_video_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL video-frame-decode gate: per document an AVI/MJPEG stream of
    nf = doc_id%7+2 solid-color baseline-JPEG frames (value
    (doc_id·11 + f·29) mod 256); sample_video_frames walks the RIFF
    container, keeps every 2nd frame and entropy-decodes it with the
    pure-Python JPEG decoder, emitting per-frame integer channel sums.
    The DuckDB oracle evaluates the same solid-block DC closed form per
    sampled frame index — container walk, frame selection AND pixel
    decode all gate the hash."""
    from dss_plugin_nlp_analysis_spark.operators.multimodal import (
        sample_video_frames,
    )

    return sample_video_frames(
        _video_fixture_df(spark, sf_dir), "doc_id", "video", every=2
    )


def _video_fixture_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document AVI/MJPEG stream: nf = doc_id%7+2 solid baseline-JPEG
    frames of value (doc_id*11 + f*29) mod 256 at (doc_id%9+4) x
    (doc_id%5+4) — shared by the video_frames and video_scenes gates."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id")

    def gen(batches):
        import numpy as np
        import pandas as pd

        from dss_plugin_nlp_analysis_spark.functions.audiocodec import (
            encode_avi_mjpeg,
        )
        from dss_plugin_nlp_analysis_spark.functions.imagecodec import (
            encode_jpeg,
        )

        for pdf in batches:
            ids = pdf["doc_id"].tolist()
            avis = []
            for d in ids:
                w, h = int(d % 9 + 4), int(d % 5 + 4)
                frames = [
                    encode_jpeg(
                        np.full((h, w, 3), (int(d) * 11 + f * 29) % 256, np.uint8),
                        quality=50,
                    )
                    for f in range(int(d % 7 + 2))
                ]
                avis.append(encode_avi_mjpeg(frames, w, h))
            yield pd.DataFrame({"doc_id": ids, "video": avis})

    return docs.mapInPandas(gen, "doc_id long, video binary")


def _q_video_scenes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scene-cut detection over the REAL-decoded sampled frames: lag of
    integer frame intensity per video, delta as ppm of full scale —
    container walk, JPEG decode, AND the cut logic all gate the hash."""
    from dss_plugin_nlp_analysis_spark.operators.multimodal import (
        sample_video_frames,
        video_scene_changes,
    )

    frames = sample_video_frames(
        _video_fixture_df(spark, sf_dir), "doc_id", "video", every=2
    )
    return video_scene_changes(frames, min_delta_ppm=50_000)


def _q_retrieval_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MRR / nDCG@10 / recall@10 of a deterministic synthetic run
    against graded qrels, both derived from the events table: queries
    are user_id%20, candidate docs event_id%50, the run ranks each
    query's docs by the arithmetic score (d*13+q)%97 (top 10 kept), and
    judgments grade rel 2/1 by (d+q)%5. The rank is synthesized WITHOUT
    a window: per-query candidates are collected (bounded: <=50/query),
    sort_array'd, posexploded — the oracle mirrors with row_number."""
    from dss_plugin_nlp_analysis_spark.operators.evalmetrics import (
        retrieval_metrics,
    )

    ev = load_table(spark, sf_dir, "events")
    pairs = ev.select(
        (F.col("user_id") % 20).alias("query_id"),
        (F.col("event_id") % 50).alias("doc_id"),
    ).distinct()
    ranked = (
        pairs.withColumn("srt", F.expr("(doc_id * 13 + query_id) % 97"))
        .groupBy("query_id")
        .agg(F.sort_array(F.collect_list(F.struct("srt", "doc_id"))).alias("a"))
        .select("query_id", F.posexplode("a").alias("pos", "s"))
        .select(
            "query_id",
            F.col("s.doc_id").alias("doc_id"),
            (F.col("pos") + 1).alias("rank"),
        )
        .where(F.col("rank") <= 10)
    )
    qrels = pairs.withColumn(
        "rel",
        F.when((F.col("doc_id") + F.col("query_id")) % 5 == 0, 2)
        .when((F.col("doc_id") + F.col("query_id")) % 5 == 1, 1)
        .otherwise(0),
    ).where(F.col("rel") > 0)
    return retrieval_metrics(ranked, qrels, k=10)


def _q_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stupid-backoff bigram LM: counts trained on the even-doc_id half
    of the corpus, every doc scored against them — odd docs exercise the
    unigram-backoff path (bigrams unseen in the training half), even
    docs the main path. Integer ppm scores; join-deployed count tables
    (the web-scale-vocabulary LM shape, never a literal map)."""
    from dss_plugin_nlp_analysis_spark.operators.textstats import bigram_lm_scores

    docs = load_table(spark, sf_dir, "documents")
    train = docs.where(F.col("doc_id") % 2 == 0)
    return bigram_lm_scores(
        docs.select(F.col("doc_id"), F.col("text")), "doc_id", "text",
        train_df=train.select("doc_id", "text"),
    )


def _q_redirects(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Redirect-chain resolution by pointer doubling over a derived
    collapse-tree (u<i> -> u<i div 2>, chains up to 7 hops) plus a
    planted 2-cycle; the oracle walks the same chains with a recursive
    CTE (hop cap 64 = 2^6, the operator's doubling budget)."""
    from dss_plugin_nlp_analysis_spark.operators.url import resolve_redirects

    docs = load_table(spark, sf_dir, "documents")
    base = (
        docs.select((F.col("doc_id") % 97).alias("i"))
        .where(F.col("i") >= 1)
        .distinct()
    )
    edges = base.select(
        F.concat(F.lit("u"), F.col("i").cast("string")).alias("src"),
        F.concat(F.lit("u"), F.expr("i div 2").cast("string")).alias("dst"),
    )
    cyc = spark.createDataFrame(
        [("c1", "c2"), ("c2", "c1")], "src string, dst string"
    )
    return resolve_redirects(edges.union(cyc))


def _q_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch-Kincaid readability in integer micro-units over the
    document corpus — sentence runs, whitespace words, vowel-group
    syllables (floored at 1/word), all counted by regexes shared
    verbatim with the oracle."""
    from dss_plugin_nlp_analysis_spark.operators.textstats import (
        readability_scores,
    )

    return readability_scores(load_table(spark, sf_dir, "documents"), "doc_id", "text")


def _q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup over the planted-duplicate embedding corpus: cluster to
    the first-16-by-id centroids (the ivf_topk convention the oracle
    replicates), then first-occurrence-wins pruning of cosine >= 0.95
    pairs WITHIN clusters — every planted copy (vec_id + 10000, scaled
    2x: cosine exactly 1) lands in its original's cluster and drops."""
    from dss_plugin_nlp_analysis_spark.operators.similarity import semantic_dedup

    return semantic_dedup(
        _planted_embeddings(spark, sf_dir), n_centroids=16, threshold=0.95
    )


def _q_scc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strongly connected components of a compact directed graph
    (user_id%30 -> event_id%30): FW-BW-Trim peeling vs a recursive-CTE
    mutual-reachability oracle (scc_id(v) = min u with v->u and u->v,
    self included). connected_components is the undirected clustering;
    this certifies the directed one."""
    from dss_plugin_nlp_analysis_spark.operators.graph import (
        strongly_connected_components,
    )

    ev = load_table(spark, sf_dir, "events")
    edges = ev.select(
        (F.col("user_id") % 30).alias("src"), (F.col("event_id") % 30).alias("dst")
    )
    return strongly_connected_components(edges)


def _q_node2vec(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second-order node2vec walks (3 steps, p=2 q=3 — all three weight
    classes distinct: return 3, adjacent 6, far 2) from the link-graph
    seed set. Exact integer weighted sampling: next hop = the candidate
    whose cumulative-weight range contains md5(walk|step) mod W; the
    oracle replays each step with window cumsums."""
    from dss_plugin_nlp_analysis_spark.operators.graph import node2vec_walks

    return node2vec_walks(
        _link_edges(spark, sf_dir),
        _link_seed_nodes(spark, sf_dir),
        steps=3,
        p=2,
        q=3,
    )


def _q_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three BPE merges learned from the document corpus — the iterative
    tokenizer-training loop (bpe_pairs is merge #1's statistics only).
    The oracle unrolls the identical three rounds as CTEs, replaying the
    greedy leftmost merge application with the run-parity window trick
    (adjacent candidate starts only occur for self-pairs, where greedy
    keeps even offsets within each run)."""
    from dss_plugin_nlp_analysis_spark.operators.bpetrain import bpe_train

    docs = load_table(spark, sf_dir, "documents")
    return bpe_train(docs, "text", n_merges=3)


def _q_transe_margin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TransE integer L1 energies + ranking margin for the demo-ontology
    triples vs their md5-drawn corrupt-tail negatives (4 dims, scale 100)
    — pure per-row column math fused onto the negative_samples broadcast
    join; the oracle expands the identical md5 component arithmetic over
    the kg_negatives SQL as a subquery."""
    from dss_plugin_nlp_analysis_spark.operators.kg import transe_scores

    docs = load_table(spark, sf_dir, "documents")
    t = build_triples(
        docs,
        demo_ontology_df(spark),
        url_col="doc_id",
        text_col="text",
        lang_col="lang",
        ts_col=None,
        category_col=None,
        canonicalize=False,
    )
    return transe_scores(t, dims=4, n_neg=2, seed="neg")


def _q_recrawl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Freshness-driven recrawl priorities over the multi-snapshot crawl
    view: per-url change rate (lag-window fingerprint transitions, ppm) x
    staleness vs the corpus max ts — url-partitioned window + one
    map-side-combinable groupBy."""
    from dss_plugin_nlp_analysis_spark.operators.url import recrawl_priority

    return recrawl_priority(_snapshot_pages(spark, sf_dir))


def _q_ontology_align(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ontology-release alignment: demo ontology vs its 'next release'
    (tags renamed *_v2, the 'slow' alias dropped, a 'fast merge' alias
    added) — shared-keyword equi-join blocking + integer-ppm Jaccard."""
    from dss_plugin_nlp_analysis_spark.operators.ontology import (
        align_ontologies,
    )

    left = demo_ontology_df(spark)
    right = (
        left.where(F.col("keyword") != "slow")
        .unionByName(
            spark.createDataFrame(
                [("merge_op", "fast merge")], "tag string, keyword string"
            )
        )
        .withColumn("tag", F.concat(F.col("tag"), F.lit("_v2")))
    )
    return align_ontologies(left, right, min_jaccard_ppm=1)


def _transe_eval_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 50-entity / 3-predicate KG derived from doc ids —
    rich enough that the filtered link-prediction protocol actually
    removes candidates (several true tails per (subj, pred))."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        F.concat(F.lit("e"), (F.col("doc_id") % 50).cast("string")).alias(
            "subj"
        ),
        F.concat(F.lit("p"), (F.col("doc_id") % 3).cast("string")).alias(
            "pred"
        ),
        F.concat(
            F.lit("e"), ((F.col("doc_id") * 7) % 50).cast("string")
        ).alias("obj"),
    )


def _q_transe_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filtered link-prediction ranks (Bordes et al. protocol): rank of
    each true tail among the 50-entity vocabulary by TransE integer
    energy, other true tails removed — broadcast candidate dim + one
    anti equi-join + combinable count."""
    from dss_plugin_nlp_analysis_spark.operators.kg import transe_ranks

    return transe_ranks(_transe_eval_triples(spark, sf_dir), dims=2)


def _q_crawl_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Politeness-aware fetch waves over the recrawl priorities: per-
    domain rank by (priority desc, url) split into budget-5 waves — the
    one per-host window the politeness semantics themselves require."""
    from dss_plugin_nlp_analysis_spark.operators.url import (
        crawl_schedule,
        recrawl_priority,
    )

    pr = recrawl_priority(_snapshot_pages(spark, sf_dir)).withColumn(
        "domain",
        F.concat(
            F.lit("d"),
            (F.substring("url", 2, 10).cast("int") % 10).cast("string"),
        ),
    )
    return crawl_schedule(pr, per_domain_budget=5)


def _q_cluster_reps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-survivor selection inside each near-dup cluster (keep
    the longest text, ties to smallest id) — min(struct) argmax per
    cluster, never a window; composed over the dup_clusters components."""
    from dss_plugin_nlp_analysis_spark.operators.dedup import (
        cluster_dedup,
        cluster_representatives,
    )

    corpus = _dup_corpus(spark, sf_dir, mutate=True)
    clusters = cluster_dedup(
        corpus, "id", "t", num_hashes=8, bands=4, n=3
    ).select("id", "cluster_id")
    scored = corpus.select("id", F.length("t").alias("score"))
    return cluster_representatives(scored, clusters)


def _q_co_citation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-citation relatedness over the link graph (pairs cited by the
    same sources, hub pivots capped at out-degree 40) — wedge
    self-equi-join on the citing page, never an all-pairs cross."""
    from dss_plugin_nlp_analysis_spark.operators.graph import co_citation

    return co_citation(
        _link_edges(spark, sf_dir), max_hub_degree=40, min_shared=2
    )


def _q_kg_constraints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KG integrity gate: shape (anchored-regex) + functional-property
    violations over a doc-derived attribute KG with planted corruption
    ('purple' birth years, .org homepages, conflicting years per subject)
    — broadcast rules join + distinct + combinable count, no windows."""
    from dss_plugin_nlp_analysis_spark.operators.kg import (
        constraint_violations,
    )

    docs = load_table(spark, sf_dir, "documents")
    did = F.col("doc_id")
    t = docs.select(
        F.concat(F.lit("e"), (did % 100).cast("string")).alias("subj"),
        F.when(did % 3 == 0, F.lit("born_year"))
        .when(did % 3 == 1, F.lit("homepage"))
        .otherwise(F.lit("related"))
        .alias("pred"),
        F.when(
            did % 3 == 0,
            F.when(did % 7 == 0, F.lit("purple")).otherwise(
                (F.lit(1900) + did % 120).cast("string")
            ),
        )
        .when(
            did % 3 == 1,
            F.concat(
                F.lit("https://h"),
                (did % 40).cast("string"),
                F.when(did % 11 == 0, F.lit(".org")).otherwise(F.lit(".com")),
            ),
        )
        .otherwise(F.concat(F.lit("e"), ((did * 3) % 100).cast("string")))
        .alias("obj"),
    )
    rules = spark.createDataFrame(
        [
            ("born_year", "[0-9]{4}", 1),
            ("homepage", r"https://[a-z0-9]+\.com", 0),
        ],
        "pred string, obj_pattern string, functional int",
    )
    return constraint_violations(t, rules)


def _q_local_clustering(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle counts + Watts-Strogatz clustering coefficient
    (floor-ppm) over the link graph — the degree-orientation wedge join
    with corners kept; the oracle replays the identical orientation via
    tuple comparisons."""
    from dss_plugin_nlp_analysis_spark.operators.graph import (
        local_clustering,
    )

    return local_clustering(_link_edges(spark, sf_dir))


def _q_reciprocity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node edge reciprocity over the directed link graph (link-farm
    signal) — one distinct, one reversed-key self-equi-join, one
    combinable aggregate."""
    from dss_plugin_nlp_analysis_spark.operators.graph import reciprocity

    return reciprocity(_link_edges(spark, sf_dir))


def _q_resource_alloc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resource-Allocation link-prediction scores over the link graph
    (hub pivots capped at 40; min score 10000 ppm) — exactly-rational
    per-witness weights keep the score in pure integer arithmetic."""
    from dss_plugin_nlp_analysis_spark.operators.graph import (
        resource_allocation,
    )

    return resource_allocation(
        _link_edges(spark, sf_dir), max_hub_degree=40, min_score_ppm=10_000
    )


def _q_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 98/1/1 train/val/test assignment by md5 hash range —
    a pure map appending the split label; same id → same split on any
    engine, any partitioning, any run."""
    from dss_plugin_nlp_analysis_spark.operators.sampling import (
        assign_splits,
    )

    docs = load_table(spark, sf_dir, "documents")
    return assign_splits(docs, "doc_id", seed="sp").select("doc_id", "split")


def _q_katz(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer Katz centrality (3 iterations, alpha = 1/4, micro-units)
    over the link graph — the PageRank loop without the out-degree
    split; the oracle unrolls the same three iterations as CTEs."""
    from dss_plugin_nlp_analysis_spark.operators.graph import (
        katz_centrality,
    )

    return katz_centrality(_link_edges(spark, sf_dir), iterations=3)


def _structured_outline_html(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthesized heading/meta-robots page per document (deterministic
    on both engines): h1 + h2, a nested-markup h2 that must NOT match
    the inline-free contract, an h3 on every third page, and a rotating
    robots meta tag (noindex,nofollow / index,follow / none / absent)."""
    docs = load_table(spark, sf_dir, "documents")
    did = F.col("doc_id")
    html = F.concat(
        F.lit('<h1 class="t">Title '),
        (did % 50).cast("string"),
        F.lit("</h1><p>x</p><h2>Sec "),
        (did % 7).cast("string"),
        F.lit("</h2>"),
        F.when(did % 5 == 0, F.lit("<h2><b>rich</b></h2>")).otherwise(
            F.lit("")
        ),
        F.when(
            did % 3 == 0,
            F.concat(F.lit("<h3>Deep "), (did % 11).cast("string"), F.lit("</h3>")),
        ).otherwise(F.lit("")),
        F.when(
            did % 4 == 0, F.lit('<meta name="robots" content="noindex, nofollow">')
        )
        .when(did % 4 == 1, F.lit('<meta name="robots" content="index, follow">'))
        .when(did % 4 == 2, F.lit('<meta name="robots" content="none">'))
        .otherwise(F.lit("")),
    )
    return docs.select("doc_id", html.alias("html"))


def _q_headings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document outline rows (id, pos, level, text) — two zipped regex
    passes, pure map + posexplode; the nested-markup heading is absent
    by the inline-free contract."""
    from dss_plugin_nlp_analysis_spark.operators.structured import (
        extract_headings,
    )

    return extract_headings(
        _structured_outline_html(spark, sf_dir), "doc_id", "html"
    )


def _q_meta_robots(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Page-level robots directives with word-boundary token parsing
    ('none' implies both flags; absent tag -> indexable NULL row)."""
    from dss_plugin_nlp_analysis_spark.operators.structured import (
        extract_meta_robots,
    )

    return extract_meta_robots(
        _structured_outline_html(spark, sf_dir), "doc_id", "html"
    )


def _q_feed_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RSS <item> + Atom <entry> extraction from a synthesized feed per
    document (rss items first, then atom entries; every third page
    atom-only, every eleventh empty) — zipped regex passes, pure map."""
    from dss_plugin_nlp_analysis_spark.operators.structured import (
        extract_feed_items,
    )

    docs = load_table(spark, sf_dir, "documents")
    did = F.col("doc_id")
    rss = F.concat(
        F.lit("<item><title>R"),
        (did % 30).cast("string"),
        F.lit("</title><link>https://f.ex/r/"),
        (did % 9).cast("string"),
        F.lit("</link></item><item><title>R2</title>"
              "<link>https://f.ex/r2</link></item>"),
    )
    atom = F.concat(
        F.lit("<entry><title>A"),
        (did % 13).cast("string"),
        F.lit('</title><link href="https://f.ex/a/'),
        (did % 5).cast("string"),
        F.lit('"/></entry>'),
    )
    xml = F.when(did % 11 == 0, F.lit("<p>not a feed</p>")).otherwise(
        F.concat(
            F.when(did % 3 == 0, F.lit("")).otherwise(rss),
            atom,
        )
    )
    return extract_feed_items(
        docs.select("doc_id", xml.alias("xml")), "doc_id", "xml"
    )


def _q_incr_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental LSH candidates for a crawl update: the base corpus
    plus a delta of re-crawled (4-words-truncated) versions at id+1e6 —
    exactly the full-run pairs touching >=1 delta doc, with the pair
    step delta-sided instead of corpus-wide."""
    from dss_plugin_nlp_analysis_spark.operators.dedup import (
        incremental_minhash_pairs,
        normalized_text,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("id"),
        normalized_text(F.col("text")).alias("t"),
    )
    words = F.split(F.col("t"), " ")
    t2 = F.array_join(
        F.slice(words, 1, F.greatest(F.size(words) - 4, F.lit(1))), " "
    )
    delta = docs.select((F.col("id") + 1000000).alias("id"), t2.alias("t"))
    return incremental_minhash_pairs(docs, delta, "id", "t")


def _q_weighted_pr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anchor-weighted integer PageRank (3 iterations, weights
    (src+event)%5+1 summed over parallel edges) — rank split
    proportionally to edge weight; the oracle unrolls the same
    weighted-share iterations."""
    from dss_plugin_nlp_analysis_spark.operators.graph import (
        weighted_pagerank,
    )

    ev = load_table(spark, sf_dir, "events")
    edges = ev.select(
        F.col("user_id").alias("src"),
        (F.col("event_id") % 150).alias("dst"),
        ((F.col("user_id") + F.col("event_id")) % 5 + 1).alias("weight"),
    )
    return weighted_pagerank(edges, iterations=3).select(
        "node", F.col("rank").alias("wrank")
    )


def _q_decayed_facts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recency-weighted fact scores over the multi-snapshot triples —
    one right-shift per elapsed half-life (7 days), exact integer decay
    summed per triple key."""
    from dss_plugin_nlp_analysis_spark.operators.kg import (
        decayed_fact_scores,
    )

    t = build_triples(
        _snapshot_pages(spark, sf_dir),
        kg_oracle_ontology_df(spark),
        url_col="url",
        text_col="text",
        lang_col="lang",
        ts_col="warc_ts",
        category_col=None,
    )
    return decayed_fact_scores(t, half_life_days=7)


def _q_events_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full CUBE over (event_type, user segment) with an integer
    measure — one Expand into one combinable hash aggregate, gid
    disambiguating rolled-up cells from NULL values."""
    from dss_plugin_nlp_analysis_spark.operators.rollup import (
        cube_aggregate,
    )

    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        (F.col("user_id") % 4).alias("seg"),
        (F.col("event_id") % 100).alias("m"),
    )
    return cube_aggregate(ev, ["event_type", "seg"], measure_col="m")


def _q_url_templates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL template discovery over a synthesized shop/CDN url mix:
    /product/{d}(/review/{d}) per shard domain plus md5 object urls
    collapsing to /obj/{h} — pure maps into one combinable groupBy."""
    from dss_plugin_nlp_analysis_spark.operators.url import url_templates

    docs = load_table(spark, sf_dir, "documents")
    did = F.col("doc_id")
    shop = F.concat(
        F.lit("https://s"),
        (did % 8).cast("string"),
        F.lit(".shop.example/product/"),
        did.cast("string"),
        F.when(
            did % 3 == 0,
            F.concat(F.lit("/review/"), (did % 7).cast("string")),
        ).otherwise(F.lit("")),
    )
    url = F.when(
        did % 5 == 0,
        F.concat(F.lit("https://cdn.example/obj/"), F.md5(did.cast("string"))),
    ).otherwise(shop)
    return url_templates(docs.select(url.alias("url")), "url")


def _q_event_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact p50/p90/p99 of an integer measure per event type
    (percentile_disc over a per-group value-space histogram — the
    corpus is never sorted)."""
    from dss_plugin_nlp_analysis_spark.operators.rollup import (
        group_percentiles,
    )

    ev = load_table(spark, sf_dir, "events").select(
        "event_type", (F.col("event_id") % 100).alias("m")
    )
    return group_percentiles(ev, "event_type", "m")


def _q_inverse_preds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """owl:inverseOf discovery over a planted KG: 'likes' facts with
    reversed 'liked_by' facts for the even half — reversed-key
    self-equi-join + combinable counts, directional confidences."""
    from dss_plugin_nlp_analysis_spark.operators.kg import (
        inverse_predicates,
    )

    docs = load_table(spark, sf_dir, "documents")
    did = F.col("doc_id")
    fwd = docs.select(
        F.concat(F.lit("e"), (did % 20).cast("string")).alias("subj"),
        F.lit("likes").alias("pred"),
        F.concat(F.lit("e"), ((did * 3 + 1) % 20).cast("string")).alias(
            "obj"
        ),
    )
    rev = (
        docs.where(did % 2 == 0)
        .select(
            F.concat(F.lit("e"), ((did * 3 + 1) % 20).cast("string")).alias(
                "subj"
            ),
            F.lit("liked_by").alias("pred"),
            F.concat(F.lit("e"), (did % 20).cast("string")).alias("obj"),
        )
    )
    return inverse_predicates(fwd.unionByName(rev))


def _q_acronyms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Acronym alias mining over synthesized definition sites: valid
    initial-matched pairs survive ('knowledge graph (KG)'), non-matching
    parentheticals ('the big company (IBM)') are dropped — zipped regex
    passes + native initials check, zero shuffle."""
    from dss_plugin_nlp_analysis_spark.operators.mentions import (
        mine_acronyms,
    )

    docs = load_table(spark, sf_dir, "documents")
    did = F.col("doc_id")
    text = F.concat(
        F.lit("knowledge graph (KG) rank "),
        (did % 7).cast("string"),
        F.when(did % 4 == 0, F.lit(" united nations (UN) met"))
        .when(did % 4 == 1, F.lit(" the big company (IBM) said"))
        .when(did % 4 == 2, F.lit(" world health organization (WHO) warns"))
        .otherwise(F.lit("")),
    )
    return mine_acronyms(
        docs.select("doc_id", text.alias("t")), "doc_id", "t"
    )


def _q_image_dhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual dHash over REAL decoded P6 pixels (the
    multimodal_real_decode image set): resize 9x8 → integer luma → 64
    left-vs-right comparison bits packed as signed int64 — the oracle
    replays resize index math, luma, and bit packing from the same
    reconstructed pixel string."""
    from dss_plugin_nlp_analysis_spark.operators.multimodal import (
        image_dhash,
    )

    docs = load_table(spark, sf_dir, "documents")
    img = F.encode(
        F.concat(
            F.lit("P6\n"),
            (F.col("doc_id") % 13 + 2).cast("string"),
            F.lit(" "),
            (F.col("doc_id") % 7 + 2).cast("string"),
            F.lit("\n255\n"),
            F.expr(
                "substring(repeat(md5(coalesce(text, '')), 11), 1, "
                "cast((doc_id % 13 + 2) * (doc_id % 7 + 2) * 3 as int))"
            ),
        ),
        "utf-8",
    )
    return image_dhash(docs.select("doc_id", img.alias("img")), "doc_id", "img")


def _q_image_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image near-dup candidates end to end: planted even/odd duplicate
    P6 images (pixel seed and dims keyed by doc_id - doc_id%2) through
    the REAL decoder into dHash, then 4x16-bit band LSH — the full
    multimodal dedup pipeline in one gate."""
    from dss_plugin_nlp_analysis_spark.operators.multimodal import (
        dhash_candidate_pairs,
        image_dhash,
    )

    docs = load_table(spark, sf_dir, "documents")
    img = F.encode(
        F.concat(
            F.lit("P6\n"),
            ((F.col("doc_id") - F.col("doc_id") % 2) % 13 + 2).cast("string"),
            F.lit(" "),
            ((F.col("doc_id") - F.col("doc_id") % 2) % 7 + 2).cast("string"),
            F.lit("\n255\n"),
            F.expr(
                "substring(repeat(md5(cast(doc_id - doc_id % 2 as string)),"
                " 11), 1, cast(((doc_id - doc_id % 2) % 13 + 2)"
                " * ((doc_id - doc_id % 2) % 7 + 2) * 3 as int))"
            ),
        ),
        "utf-8",
    )
    hashes = image_dhash(
        docs.select("doc_id", img.alias("img")), "doc_id", "img"
    )
    return dhash_candidate_pairs(hashes)


def _q_audio_fp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio energy-contour fingerprints over the REAL-decoded WAV
    fixture (16 chunks, adjacent-energy comparison bits) — the audio
    member of the perceptual-dedup family; the oracle replays chunk
    partition, int64 energies, and bit packing over generate_series."""
    from dss_plugin_nlp_analysis_spark.operators.multimodal import (
        audio_fingerprint,
    )

    return audio_fingerprint(
        _audio_fixture_df(spark, sf_dir), "doc_id", "audio"
    )


def _q_preference_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DPO-style preference pairs per topic bucket: cluster = doc_id%40,
    score = text length — best-vs-worst extreme pair via min(struct),
    one combinable groupBy, min_gap 5."""
    from dss_plugin_nlp_analysis_spark.operators.trainprep import (
        preference_pairs,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        (F.col("doc_id") % 40).alias("cluster"),
        F.col("doc_id").alias("id"),
        F.length(F.coalesce("text", F.lit(""))).alias("score"),
    )
    return preference_pairs(docs, "cluster", "id", "score", min_gap=5)


def _q_badwords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style blocklist pass: broadcast token dim joined on the
    exploded lowercased tokens (never a giant alternation regex);
    any-hit drop (max_bad_ppm=0)."""
    from dss_plugin_nlp_analysis_spark.operators.webclean import (
        badword_filter,
    )

    docs = load_table(spark, sf_dir, "documents")
    return badword_filter(
        docs, "doc_id", "text", ["slow", "error", "crash"], max_bad_ppm=0
    )


def _q_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional phrase search for 'table scan' over the documents
    table — per-token postings self-joined on pos+1 adjacency, never a
    corpus regex; count per matching doc."""
    from dss_plugin_nlp_analysis_spark.operators.invindex import (
        phrase_search,
    )

    docs = load_table(spark, sf_dir, "documents")
    return phrase_search(docs, "doc_id", "text", "table scan")


def _q_event_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top 3-step user journeys ((ts, event_id)-ordered consecutive
    event types) — one per-user window pass with two leads, combinable
    count, TakeOrdered top-20."""
    from dss_plugin_nlp_analysis_spark.operators.rollup import event_paths

    ev = load_table(spark, sf_dir, "events")
    return event_paths(ev, steps=3, top_k=20)


def _q_tpch_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3-shaped shipping-priority query: 3-way
    customer⋈orders⋈lineitem with segment + date filters, revenue per
    order, top 10 — the classic multi-join OLAP plan (broadcast dim,
    shuffled fact join, TakeOrdered) over the TPC-H-ish tables."""
    cust = (
        load_table(spark, sf_dir, "customer")
        .where(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
    )
    orders = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderdate") < F.lit("1995-03-15")
    )
    li = load_table(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") > F.lit("1995-03-15")
    )
    j = li.join(
        orders, li.l_orderkey == orders.o_orderkey
    ).join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
    g = j.groupBy("l_orderkey", "o_orderdate", "o_orderpriority").agg(
        F.round(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
        ).alias("revenue")
    )
    return g.orderBy(
        F.col("revenue").desc(), F.col("l_orderkey")
    ).limit(10)


def _q_lang_mismatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-confusion report: declared lang vs marker-langid
    prediction per doc — the QA pass that catches mislabeled crawl
    metadata before per-language routing trusts it."""
    from dss_plugin_nlp_analysis_spark.operators.textstats import (
        marker_langid,
    )

    docs = load_table(spark, sf_dir, "documents")
    pred = marker_langid(docs, "doc_id", "text")
    return pred.join(
        docs.select(F.col("doc_id").alias("id"), F.col("lang").alias("declared")),
        "id",
    ).select(
        "id",
        "declared",
        F.col("pred_lang").alias("detected"),
        "marker_hits",
        (F.col("declared") == F.col("pred_lang")).cast("int").alias("agree"),
    )


def _q_er_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fellegi-Sunter linkage scoring over synthetic candidate pairs
    with three agreement fields (taxid heavy, name medium, city light;
    NULL city = missing comparison) — pure per-row weight arithmetic
    plus the two-threshold link/possible/nonlink rule."""
    from dss_plugin_nlp_analysis_spark.operators.er import (
        score_candidate_pairs,
    )

    docs = load_table(spark, sf_dir, "documents")
    did = F.col("doc_id")
    pairs = docs.select(
        did.alias("pair_id"),
        (did % 2).cast("int").alias("name_agree"),
        F.when(did % 3 == 0, F.lit(1))
        .when(did % 3 == 1, F.lit(0))
        .otherwise(F.lit(None).cast("int"))
        .alias("city_agree"),
        (did % 5 == 0).cast("int").alias("taxid_agree"),
    )
    return score_candidate_pairs(
        pairs,
        [("name_agree", 20, 15), ("city_agree", 5, 3), ("taxid_agree", 40, 35)],
        upper=30,
        lower=0,
    )


def _q_textrank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extractive TextRank over the derived-sentence view (' merge ' →
    '. ' boundaries, the sentence_split trick): shared-token sentence
    graph, 2 integer weighted-PageRank iterations, top-1 per doc — the
    oracle unrolls the identical iterations per (doc, sentence) key."""
    from dss_plugin_nlp_analysis_spark.operators.textstats import (
        textrank_sentences,
    )

    docs = load_table(spark, sf_dir, "documents")
    sents = F.split(
        F.replace(F.trim(F.col("text")), F.lit(" merge "), F.lit(". ")),
        r"\. ",
    )
    return textrank_sentences(
        docs.select("doc_id", sents.alias("sents")),
        "doc_id",
        "sents",
        iterations=2,
        top_k=1,
    )


def _q_homoglyphs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Homoglyph spoof detection: planted Cyrillic-е variants of every
    fifth site domain collide with their Latin originals post-skeleton
    — one translate call + a combinable variant count."""
    from dss_plugin_nlp_analysis_spark.operators.url import (
        homoglyph_domains,
    )

    docs = load_table(spark, sf_dir, "documents")
    did = F.col("doc_id")
    base = F.concat(
        F.lit("site"), (did % 25).cast("string"), F.lit(".example")
    )
    spoof = F.concat(
        F.lit("sit\u0435"), (did % 25).cast("string"), F.lit(".example")
    )
    dom = F.when(did % 5 == 0, spoof).otherwise(base)
    return homoglyph_domains(docs.select(dom.alias("domain")), "domain")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "tag_match": _q_tag_match,
        "tag_match_category": _q_tag_match_category,
        "tag_doc_list": _q_tag_doc_list,
        "ontology_clean": _q_ontology_clean,
        "distinct_langs": _q_distinct_langs,
        "kg_triples": _q_kg_triples,
        "kg_ntriples": _q_kg_ntriples,
        "rake_keywords": _q_rake_keywords,
        "robots_filter": _q_robots_filter,
        "jsonld_triples": _q_jsonld_triples,
        "og_meta": _q_og_meta,
        "label_prop": _q_label_prop,
        "canonical_chain": _q_canonical_chain,
        "entity_blocking": _q_entity_blocking,
        "sitemap_urls": _q_sitemap_urls,
        "hreflang_links": _q_hreflang_links,
        "boilerplate": _q_boilerplate,
        "domain_policy": _q_domain_policy,
        "hearst": _q_hearst,
        "relation_patterns": _q_relation_patterns,
        "fact_support": _q_fact_support,
        "relation_extract": _q_relation_extract,
        "cooc_lift": _q_cooc_lift,
        "truth_discovery": _q_truth_discovery,
        "crawl_frontier": _q_crawl_frontier,
        "skipgram_pairs": _q_skipgram,
        "pack_sequences": _q_pack_sequences,
        "dsir_weights": _q_dsir,
        "ngram_containment": _q_ngram_containment,
        "edit_verify": _q_edit_verify,
        "ict_pairs": _q_ict_pairs,
        "mojibake": _q_mojibake,
        "corpus_mixture": _q_corpus_mixture,
        "relation_compose": _q_relation_compose,
        "amie_rules": _q_amie_rules,
        "microdata": _q_microdata,
        "pronoun_coref": _q_pronoun_coref,
        "fim": _q_fim,
        "span_corruption": _q_span_corruption,
        "mirror_domains": _q_mirror_domains,
        "translation_pairs": _q_translation_pairs,
        "multimodal_png_decode": _q_multimodal_png_decode,
        "multimodal_jpeg_decode": _q_multimodal_jpeg_decode,
        "audio_meta": _q_audio_meta,
        "audio_decode": _q_audio_decode,
        "video_meta": _q_video_meta,
        "video_frames": _q_video_frames,
        "taxonomy_edges": _q_taxonomy_edges,
        "html_tables": _q_html_tables,
        "date_mentions": _q_date_mentions,
        "quotes": _q_quotes,
        "linebreak_norm": _q_linebreak_norm,
        "sentence_split": _q_sentence_split,
        "html_extract": _q_html_extract,
        "dedup_exact": _q_dedup_exact,
        "dedup_minhash": _q_dedup_minhash,
        "ngram_jaccard": _q_ngram_jaccard,
        "dup_clusters": _q_dup_clusters,
        "simhash": _q_simhash,
        "embedding_topk": _q_embedding_topk,
        "hard_negatives": _q_hard_negatives,
        "embedding_ann": _q_embedding_ann,
        "embedding_ann_multiprobe": _q_embedding_ann_multiprobe,
        "embedding_ivf": _q_embedding_ivf,
        "embedding_ivf_refined": _q_embedding_ivf_refined,
        "embedding_dups": _q_embedding_dups,
        "embedding_dups_lsh": _q_embedding_dups_lsh,
        "quality": _q_quality,
        "quality_repetition": _q_quality_repetition,
        "token_stats": _q_token_stats,
        "langid_markers": _q_langid_markers,
        "multimodal_meta": _q_multimodal_meta,
        "multimodal_features": _q_multimodal_features,
        "multimodal_real_decode": _q_multimodal_real_decode,
        "tag_match_lemma": _q_tag_match_lemma,
        "tag_match_skiplang": _q_tag_match_skiplang,
        "tag_match_linked": _q_tag_match_linked,
        "c4_filters": _q_c4_filters,
        "line_dedup": _q_line_dedup,
        "stream_dedup_ttl": _q_stream_dedup_ttl,
        "unigram_lm": _q_unigram_lm,
        "kg_triples_linked": _q_kg_triples_linked,
        "chunk_docs": _q_chunk_docs,
        "stratified_sample": _q_stratified_sample,
        "dup_passages": _q_dup_passages,
        "winnow": _q_winnow,
        "winnow_pairs": _q_winnow_pairs,
        "pii_redact": _q_pii_redact,
        "gopher": _q_gopher,
        "url_norm": _q_url_norm,
        "doc_line_dedup": _q_doc_line_dedup,
        "script_profile": _q_script_profile,
        "latest_snapshot": _q_latest_snapshot,
        "warc_roundtrip": _q_warc_roundtrip,
        "events_asof": _q_events_asof,
        "events_range_join": _q_events_range_join,
        "events_rollup": _q_events_rollup,
        "kmv_distinct": _q_kmv_distinct,
        "tfidf_top": _q_tfidf_top,
        "mixed_lang": _q_mixed_lang,
        "tag_match_ignorecase": _q_tag_match_ignorecase,
        "tag_match_diacritics": _q_tag_match_diacritics,
        "events_window": _q_events_window,
        "events_sessionize": _q_events_sessionize,
        "events_props_json": _q_events_props_json,
        "lineitem_pricing": _q_lineitem_pricing,
        "orders_by_segment": _q_orders_by_segment,
        "remove_stopwords": _q_remove_stopwords,
        "token_classes": _q_token_classes,
        "salted_user_stats": _q_salted_user_stats,
        "pagerank": _q_pagerank,
        "graph_degrees": _q_graph_degrees,
        "decontam": _q_decontam,
        "cross_dedup": _q_cross_dedup,
        "top_bigrams": _q_top_bigrams,
        "triangles": _q_triangles,
        "lm_buckets": _q_lm_buckets,
        "inverted_index": _q_inverted_index,
        "collocs": _q_collocs,
        "extract_links": _q_extract_links,
        "snapshot_diff": _q_snapshot_diff,
        "dup_spans": _q_dup_spans,
        "span_surgery": _q_span_surgery,
        "k_hop": _q_k_hop,
        "node_jaccard": _q_node_jaccard,
        "k_core": _q_k_core,
        "triple_history": _q_triple_history,
        "anchor_index": _q_anchor_index,
        "entity_salience": _q_entity_salience,
        "tag_cooc": _q_tag_cooc,
        "kg_negatives": _q_kg_negatives,
        "alias_canon": _q_alias_canon,
        "kg_delta": _q_kg_delta,
        "attr_triples": _q_attr_triples,
        "burst_days": _q_burst_days,
        "pipeline_e2e": _q_pipeline_e2e,
        "component_sizes": _q_component_sizes,
        "bm25": _q_bm25,
        "tag_doc_pivot": _q_tag_doc_pivot,
        "corpus_profile": _q_corpus_profile,
        "tag_doc_details": _q_tag_doc_details,
        "predicate_stats": _q_predicate_stats,
        "kg_text": _q_kg_text,
        "entity_types": _q_entity_types,
        "hits": _q_hits,
        "taxonomy_closure": _q_taxonomy,
        "random_walks": _q_random_walks,
        "pagerank_topic": _q_pagerank_topic,
        "event_transitions": _q_event_transitions,
        "quality_linear": _q_quality_linear,
        "bpe_pairs": _q_bpe_pairs,
        "attr_schema": _q_attr_schema,
        "literal_norm": _q_literal_norm,
        "current_facts": _q_current_facts,
        "hybrid_rrf": _q_hybrid_rrf,
        "funnel": _q_funnel,
        "cohort": _q_cohort,
        "group_cap": _q_group_cap,
        "retrieval_metrics": _q_retrieval_metrics,
        "bigram_lm": _q_bigram_lm,
        "bpe_train": _q_bpe_train,
        "transe_margin": _q_transe_margin,
        "recrawl": _q_recrawl,
        "ontology_align": _q_ontology_align,
        "transe_hits": _q_transe_hits,
        "crawl_schedule": _q_crawl_schedule,
        "cluster_reps": _q_cluster_reps,
        "co_citation": _q_co_citation,
        "kg_constraints": _q_kg_constraints,
        "local_clustering": _q_local_clustering,
        "reciprocity": _q_reciprocity,
        "resource_alloc": _q_resource_alloc,
        "split_assign": _q_split_assign,
        "katz": _q_katz,
        "headings": _q_headings,
        "meta_robots": _q_meta_robots,
        "feed_items": _q_feed_items,
        "incr_minhash": _q_incr_minhash,
        "weighted_pr": _q_weighted_pr,
        "decayed_facts": _q_decayed_facts,
        "events_cube": _q_events_cube,
        "url_templates": _q_url_templates,
        "event_percentiles": _q_event_percentiles,
        "inverse_preds": _q_inverse_preds,
        "acronyms": _q_acronyms,
        "image_dhash": _q_image_dhash,
        "image_dups": _q_image_dups,
        "audio_fp": _q_audio_fp,
        "video_scenes": _q_video_scenes,
        "preference_pairs": _q_preference_pairs,
        "badwords": _q_badwords,
        "phrase_search": _q_phrase_search,
        "event_paths": _q_event_paths,
        "tpch_q3": _q_tpch_q3,
        "lang_mismatch": _q_lang_mismatch,
        "er_scores": _q_er_scores,
        "textrank": _q_textrank,
        "homoglyphs": _q_homoglyphs,
        "node2vec_walks": _q_node2vec,
        "scc": _q_scc,
        "semantic_dedup": _q_semantic_dedup,
        "readability": _q_readability,
        "resolve_redirects": _q_redirects,
    }


# shared oracle fragments: normalized text, derived dup corpora, shingles
# NULL-safe like dedup.normalized_text (NULL text -> ''), so every
# _NORM-paired query stays aligned with the Spark side even on NULL rows
_NORM = r"trim(regexp_replace(lower(coalesce(text, '')), '\s+', ' ', 'g'))"

# PII patterns shared with operators/pii.py — the ONE definition, inserted
# into the oracle SQL verbatim (Java-regex ∩ RE2 subset by construction)
from dss_plugin_nlp_analysis_spark.operators.pii import (  # noqa: E402
    EMAIL_PATTERN as _PII_EMAIL,
    IPV4_PATTERN as _PII_IPV4,
    PHONE_PATTERN as _PII_PHONE,
)
from dss_plugin_nlp_analysis_spark.operators.url import (  # noqa: E402
    _FRAGMENT as _URL_FRAG,
    _SCHEME_HOST as _URL_PREFIX,
    _UTM_END as _URL_UTM_END,
    _UTM_MID as _URL_UTM_MID,
)
from dss_plugin_nlp_analysis_spark.operators.textstats import (  # noqa: E402
    SCRIPT_RANGES as _SCRIPTS,
)
from dss_plugin_nlp_analysis_spark.functions.tokclass import (  # noqa: E402
    EMOJI_PATTERN as _TOK_EMOJI,
)
from dss_plugin_nlp_analysis_spark.operators.kg import (  # noqa: E402
    DATELIKE_PATTERN as _KG_DATELIKE,
    DECIMAL_PATTERN as _KG_DEC,
    INT_PATTERN as _KG_INT,
    ISO_DATE_PATTERN as _KG_ISO,
    NUMERIC_PATTERN as _KG_NUM,
    PERCENT_PATTERN as _KG_PCT,
    US_DATE_PATTERN as _KG_US,
)

_CORPUS_EXACT = f"""
    corpus AS (
      SELECT doc_id AS id, {_NORM} AS t FROM documents
      UNION ALL
      SELECT doc_id + 1000000, {_NORM} FROM documents
    )
"""

_CORPUS_MUT = f"""
    base AS (SELECT doc_id AS id, {_NORM} AS t FROM documents),
    corpus AS (
      SELECT id, t FROM base
      UNION ALL
      SELECT id + 1000000,
             array_to_string(
               list_slice(string_split(t, ' '), 1,
                          greatest(len(string_split(t, ' ')) - 4, 1)), ' ')
      FROM base
    )
"""

# word shingles (n=3 'tri' / n=2 'bi') with whole-text fallback for short docs
_SHINGLES = """
    words AS (SELECT id, t, string_split(t, ' ') AS w FROM corpus),
    tok AS (SELECT id, unnest(w) AS wd, generate_subscripts(w, 1) AS pos FROM words),
    tri AS (
      SELECT a.id, a.wd || ' ' || b.wd || ' ' || c.wd AS g
      FROM tok a
      JOIN tok b ON b.id = a.id AND b.pos = a.pos + 1
      JOIN tok c ON c.id = a.id AND c.pos = a.pos + 2
    ),
    sh3 AS (SELECT id, g FROM tri UNION ALL SELECT id, t FROM words WHERE len(w) < 3)
"""

# the deterministic link graph of _link_edges, as a CTE (distinct non-loop
# directed edges user_id -> event_id mod 150)
_LINK_EDGES = """
    e AS (SELECT DISTINCT user_id AS src, event_id % 150 AS dst
          FROM events WHERE user_id != event_id % 150)
"""

# the kg_triples mention stream + (subj, pred, obj) projection — the ONE
# SQL replication of build_triples over the kg oracle ontology, shared by
# kg_triples / predicate_stats / kg_text
_KG_M = r"""
    m AS (
      SELECT doc_id, lang, trim(text) AS sentence,
             unnest(regexp_extract_all(trim(text), '\b(window|stream|table scan)\b')) AS kw
      FROM documents
    )
"""
_KG_T = """
    t AS (
      SELECT doc_id AS subj,
             CASE kw WHEN 'window' THEN 'alpha_op'
                     WHEN 'stream' THEN 'zeta_op'
                     ELSE 'scan_op' END AS pred,
             CASE kw WHEN 'table scan' THEN 'scan_op'
                     ELSE 'alpha_op' END AS obj
      FROM m
    )
"""


def _hits_oracle(iterations: int = 2, scale: int = 10**6) -> str:
    """Unrolled integer-HITS CTE chain mirroring operators/graph.hits
    half-step for half-step: int64 sums and maxima are order-free and
    ``//`` floors exactly like Spark's ``div`` on non-negative values,
    so both engines reach the identical fixpoint."""
    parts = [
        f"WITH {_LINK_EDGES},",
        """
    nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
""",
        f"    h0 AS (SELECT node, {scale}::BIGINT AS hub FROM nodes)",
    ]
    for i in range(1, iterations + 1):
        parts.append(f""",
    a{i}r AS (SELECT n.node, coalesce(s.raw, 0)::BIGINT AS raw
              FROM nodes n LEFT JOIN
                   (SELECT e.dst AS node, sum(h.hub)::BIGINT AS raw
                    FROM e JOIN h{i - 1} h ON h.node = e.src
                    GROUP BY e.dst) s ON s.node = n.node),
    a{i} AS (SELECT node,
                    (raw * {scale}::BIGINT)
                      // greatest((SELECT max(raw) FROM a{i}r), 1) AS auth
             FROM a{i}r),
    h{i}r AS (SELECT n.node, coalesce(s.raw, 0)::BIGINT AS raw
              FROM nodes n LEFT JOIN
                   (SELECT e.src AS node, sum(a.auth)::BIGINT AS raw
                    FROM e JOIN a{i} a ON a.node = e.dst
                    GROUP BY e.src) s ON s.node = n.node),
    h{i} AS (SELECT node,
                    (raw * {scale}::BIGINT)
                      // greatest((SELECT max(raw) FROM h{i}r), 1) AS hub
             FROM h{i}r)""")
    parts.append(
        f"\n    SELECT a.node, a.auth, h.hub"
        f" FROM a{iterations} a JOIN h{iterations} h ON h.node = a.node"
    )
    return "".join(parts)


def _pagerank_oracle(iterations: int = 3, init: int = 10**12,
                     dnum: int = 85, dden: int = 100) -> str:
    """Unrolled integer-PageRank CTE chain mirroring operators/graph.pagerank
    iteration for iteration: int64 sums are order-free and ``//`` floors
    exactly like Spark's ``div`` on non-negative values, so the iterative
    fixpoint value-hashes identically across engines."""
    base = (dden - dnum) * init // dden
    parts = [
        f"WITH {_LINK_EDGES},",
        """
    nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
    deg AS (SELECT src, count(*) AS outdeg FROM e GROUP BY src),
""",
        f"    r0 AS (SELECT node, {init}::BIGINT AS rank FROM nodes)",
    ]
    for i in range(1, iterations + 1):
        parts.append(f""",
    i{i} AS (SELECT e.dst AS node, sum(r.rank // d.outdeg)::BIGINT AS incoming
             FROM e JOIN r{i - 1} r ON r.node = e.src
                    JOIN deg d ON d.src = e.src
             GROUP BY e.dst),
    r{i} AS (SELECT n.node,
                    ({base}::BIGINT
                     + ({dnum} * coalesce(i{i}.incoming, 0)) // {dden})::BIGINT
                      AS rank
             FROM nodes n LEFT JOIN i{i} ON i{i}.node = n.node)""")
    parts.append(f"\n    SELECT node, rank AS rank_micro FROM r{iterations}")
    return "".join(parts)


# multi-snapshot triple view (mirrors _snapshot_pages ∘ build_triples):
# url = doc_id%500, ts = 2026-01-01 + doc_id%17 days, same keyword->
# pred/obj mapping as the kg_triples oracle — shared by triple_history
# and current_facts
_SNAP_T = r"""
    m AS (
      SELECT 'u' || (doc_id % 500)::VARCHAR AS subj,
             TIMESTAMP '2026-01-01'
               + (doc_id % 17) * INTERVAL 1 DAY AS ts,
             unnest(regexp_extract_all(trim(text),
               '\b(window|stream|table scan)\b')) AS kw
      FROM documents
    ),
    t AS (
      SELECT subj,
             CASE kw WHEN 'window' THEN 'alpha_op'
                     WHEN 'stream' THEN 'zeta_op'
                     ELSE 'scan_op' END AS pred,
             CASE kw WHEN 'table scan' THEN 'scan_op'
                     ELSE 'alpha_op' END AS obj,
             ts
      FROM m
    )
"""

# BM25 integer scoring chain (mirrors invindex.bm25_topk) as reusable
# CTEs: `bmtop` = the top-15 (id, score_micro) — shared by the bm25 gate
# and the hybrid-RRF fusion gate
_BM25_CORE = f"""
    corpus AS (SELECT doc_id AS id, {_NORM} AS t FROM documents),
    dlt AS (SELECT id, CASE WHEN t = '' THEN 0
                            ELSE len(string_split(t, ' ')) END AS dl
            FROM corpus),
    stats AS (SELECT count(*) AS n,
                     (sum(dl) // count(*))::BIGINT AS avgdl FROM dlt),
    tf AS (
      SELECT id, w AS token, count(*) AS tf FROM (
        SELECT id, unnest(string_split(t, ' ')) AS w
        FROM corpus WHERE t != ''
      ) WHERE w IN ({", ".join("'" + t + "'" for t in _BM25_TERMS)})
      GROUP BY id, w
    ),
    dfc AS (SELECT token, count(*) AS dfc FROM tf GROUP BY token),
    idf AS (
      SELECT token,
             round(ln(1.0 + (n - dfc + 0.5) / (dfc + 0.5))
                   * 1e6)::BIGINT AS idf_micro
      FROM dfc, stats
    ),
    contrib AS (
      SELECT tf.id,
             (idf_micro * ((22 * tf * 1000000)
                // (10 * tf + 3 + (9 * dl) // avgdl))) // 1000000 AS c
      FROM tf JOIN dlt ON dlt.id = tf.id
              JOIN idf USING (token), stats
    ),
    bmscore AS (SELECT id, sum(c)::BIGINT AS score_micro
                FROM contrib GROUP BY id),
    bmtop AS (SELECT id, score_micro FROM bmscore
              ORDER BY score_micro DESC, id LIMIT 15)
"""

# typed metadata pages -> trimmed key/value rows (mirrors _typed_kv):
# six typed lines per doc + prose body, the shared input of the
# attr_schema and literal_norm gates
_TYPED_KV = """
    pg AS (
      SELECT doc_id AS subj,
             'title: doc ' || (doc_id % 50)::VARCHAR || chr(10) ||
             'n_items: ' || (doc_id % 1000)::VARCHAR || chr(10) ||
             'score: ' || (doc_id % 97)::VARCHAR || '.'
               || (doc_id % 10)::VARCHAR || chr(10) ||
             'share: ' || (doc_id % 100)::VARCHAR || '%' || chr(10) ||
             'updated: ' || (1 + doc_id % 12)::VARCHAR || '/'
               || (1 + doc_id % 28)::VARCHAR || '/2026' || chr(10) ||
             'born: 2026-01-' || lpad((1 + doc_id % 28)::VARCHAR, 2, '0')
               || chr(10) || text AS page
      FROM documents
    ),
    ln AS (SELECT subj, unnest(string_split_regex(page, '\r?\n')) AS line FROM pg),
    kv AS (
      SELECT subj,
             trim(substr(line, 1, strpos(line, ': ') - 1)) AS key,
             trim(substr(line, strpos(line, ': ') + 2)) AS value
      FROM ln WHERE strpos(line, ': ') > 0
    ),
    kvf AS (SELECT * FROM kv WHERE key != '' AND value != '')
"""


def _ppr_oracle(iterations: int = 3, init: int = 10**12,
                dnum: int = 85, dden: int = 100) -> str:
    """Unrolled personalized-PageRank CTE chain mirroring
    operators/graph.personalized_pagerank: identical to _pagerank_oracle
    except the base/teleport term applies only to seed nodes
    (node % 10 == 0) and non-seeds start at rank 0."""
    base = (dden - dnum) * init // dden
    parts = [
        f"WITH {_LINK_EDGES},",
        """
    nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
    deg AS (SELECT src, count(*) AS outdeg FROM e GROUP BY src),
    b AS (SELECT n.node,
""",
        f"""                 (CASE WHEN n.node % 10 = 0 THEN {base} ELSE 0 END)::BIGINT AS base,
                 (CASE WHEN n.node % 10 = 0 THEN {init} ELSE 0 END)::BIGINT AS rank
          FROM nodes n),
    r0 AS (SELECT node, rank FROM b)""",
    ]
    for i in range(1, iterations + 1):
        parts.append(f""",
    i{i} AS (SELECT e.dst AS node, sum(r.rank // d.outdeg)::BIGINT AS incoming
             FROM e JOIN r{i - 1} r ON r.node = e.src
                    JOIN deg d ON d.src = e.src
             GROUP BY e.dst),
    r{i} AS (SELECT bb.node,
                    (bb.base
                     + ({dnum} * coalesce(i{i}.incoming, 0)) // {dden})::BIGINT
                      AS rank
             FROM b bb LEFT JOIN i{i} ON i{i}.node = bb.node)""")
    parts.append(f"\n    SELECT node, rank AS rank_micro FROM r{iterations}")
    return "".join(parts)


def oracle_sql() -> dict[str, str]:
    pat = DEMO_KEYWORD_REGEX
    onto = DEMO_ONTOLOGY_SQL
    lm_cost, lm_oov = _lm_cost_table()
    lm_values = ", ".join(f"('{w}', {c})" for w, c in sorted(lm_cost.items()))
    from dss_plugin_nlp_analysis_spark.operators.sampling import _threshold

    # same integer thresholds the operator derives (one shared helper)
    thr_case = "CASE " + " ".join(
        f"WHEN lang = '{v}' THEN {_threshold(f)}"
        for v, f in sorted(_SAMPLE_FRACTIONS.items())
    ) + f" ELSE {_threshold(1.0)} END"
    d = _oracle_dict(pat, onto, lm_values, lm_oov, thr_case)
    # component_sizes = the dup_clusters result folded twice (cluster ->
    # size -> histogram); reuse the recursive-CTE oracle as a subquery so
    # the two gates can never drift apart
    d["component_sizes"] = f"""
        SELECT cluster_size, count(*)::BIGINT AS n_clusters FROM (
          SELECT cluster_id, count(*)::BIGINT AS cluster_size FROM (
            {d['dup_clusters']}
          ) GROUP BY cluster_id
        ) GROUP BY cluster_size
    """
    # structured-data pages shared by jsonld_triples / og_meta — one CTE
    # body so the two gates can never drift from the Spark synthesis
    structured_html = r"""
        h AS (
          SELECT doc_id AS id,
            '<html><head>'
            || '<meta property="og:title" content="T' || (doc_id % 50) || '">'
            || '<meta property="og:type" content="'
            || CASE WHEN doc_id % 3 = 0 THEN 'article'
                    WHEN doc_id % 3 = 1 THEN 'video' ELSE 'website' END || '">'
            || CASE WHEN doc_id % 7 = 0
                    THEN '<meta property="og:image:width" content="1200">'
                    ELSE '' END
            || '</head>'
            || CASE WHEN doc_id % 11 = 0 THEN ''
                    ELSE '<script type="application/ld+json">'
                      || CASE WHEN doc_id % 13 = 5 THEN '{"broken":'
                              ELSE '{"@type":"Article","name":"N' || (doc_id % 100)
                                || '","author":{"@type":"Person","name":"P'
                                || (doc_id % 13) || '"},"wordCount":'
                                || (doc_id % 500) || '}'
                         END
                      || '</script>' END
            || '<p>x</p></html>' AS html
          FROM documents
        )
    """
    d["jsonld_triples"] = rf"""
        WITH {structured_html},
        b AS (SELECT id,
                     regexp_extract(html,
                       '(?s)<script type="application/ld\+json">(.*?)</script>',
                       1) AS blk
              FROM h),
        v AS (SELECT id, CASE WHEN json_valid(blk) THEN blk END AS blk FROM b),
        kv AS (
          SELECT id, 'author' AS pred,
                 json_extract_string(blk, '$.author.name') AS obj FROM v
          UNION ALL SELECT id, 'headline',
                 json_extract_string(blk, '$.headline') FROM v
          UNION ALL SELECT id, 'name', json_extract_string(blk, '$.name') FROM v
          UNION ALL SELECT id, 'type',
                 json_extract_string(blk, '$."@type"') FROM v
          UNION ALL SELECT id, 'words',
                 json_extract_string(blk, '$.wordCount') FROM v
        )
        SELECT id, pred, obj FROM kv WHERE obj IS NOT NULL
    """
    d["og_meta"] = rf"""
        WITH {structured_html},
        ex AS (SELECT id,
                 regexp_extract_all(html,
                   '<meta property="og:([a-z:]+)" content="([^"]*)"', 1) AS ks,
                 regexp_extract_all(html,
                   '<meta property="og:([a-z:]+)" content="([^"]*)"', 2) AS vs
               FROM h)
        SELECT id, unnest(ks) AS og_key, unnest(vs) AS og_content FROM ex
    """
    # label propagation: 2 unrolled synchronous rounds over the
    # symmetrized link graph, argmax = (count DESC, label ASC)
    d["label_prop"] = f"""
        WITH {_LINK_EDGES},
        ue AS (SELECT src, dst FROM e UNION
               SELECT dst AS src, src AS dst FROM e),
        l0 AS (SELECT DISTINCT src AS node FROM ue),
        i0 AS (SELECT node, node AS label FROM l0),
        c1 AS (SELECT ue.src AS node, l.label, count(*) AS c
               FROM ue JOIN i0 l ON l.node = ue.dst GROUP BY 1, 2),
        b1 AS (SELECT node, label FROM (
                 SELECT node, label,
                        row_number() OVER (PARTITION BY node
                                           ORDER BY c DESC, label) AS rn
                 FROM c1) WHERE rn = 1),
        i1 AS (SELECT i0.node, coalesce(b1.label, i0.label) AS label
               FROM i0 LEFT JOIN b1 USING (node)),
        c2 AS (SELECT ue.src AS node, l.label, count(*) AS c
               FROM ue JOIN i1 l ON l.node = ue.dst GROUP BY 1, 2),
        b2 AS (SELECT node, label FROM (
                 SELECT node, label,
                        row_number() OVER (PARTITION BY node
                                           ORDER BY c DESC, label) AS rn
                 FROM c2) WHERE rn = 1)
        SELECT i1.node, coalesce(b2.label, i1.label) AS label
        FROM i1 LEFT JOIN b2 USING (node)
    """
    # canonical chains: exactly 2^3 = 8 saturating pointer steps (the
    # doubling count of the Spark query), counted recursive CTE; the
    # planted 2-cycle rotates back to itself (even step count) with
    # is_terminal = false
    d["canonical_chain"] = """
        WITH RECURSIVE pages AS (
          SELECT 'https://s.example/' || doc_id AS url,
                 CASE WHEN doc_id % 4 != 0
                      THEN 'https://s.example/' || (doc_id - 1) END AS canon
          FROM documents
          UNION ALL SELECT 'https://s.example/cycA', 'https://s.example/cycB'
          UNION ALL SELECT 'https://s.example/cycB', 'https://s.example/cycA'
        ),
        m AS (SELECT url, canon FROM pages
              WHERE canon IS NOT NULL AND canon != url),
        r AS (
          SELECT url, url AS cur, 0 AS i FROM pages
          UNION ALL
          SELECT r.url, coalesce(m.canon, r.cur) AS cur, i + 1
          FROM r LEFT JOIN m ON m.url = r.cur WHERE i < 8
        )
        SELECT r.url, r.cur AS resolved, m.url IS NULL AS is_terminal
        FROM r LEFT JOIN m ON m.url = r.cur WHERE i = 8
    """
    # blocked fuzzy ER: same synthesis, blocking, cap, and Levenshtein
    d["entity_blocking"] = """
        WITH names AS (
          SELECT doc_id AS eid,
            CASE WHEN doc_id % 97 = 0 THEN 'zz hotbrand' || (doc_id % 3)
                 ELSE chr((97 + doc_id % 20)::INT)
                   || chr((97 + (doc_id // 20) % 20)::INT)
                   || 'brand' || (doc_id % 10)
                   || CASE doc_id % 6 WHEN 1 THEN 'x' WHEN 2 THEN 'xy'
                        WHEN 3 THEN '!' WHEN 4 THEN 'q' ELSE '' END
            END AS name
          FROM documents
        ),
        k AS (SELECT eid, name, substr(name, 1, 2) AS bkey
              FROM names WHERE length(name) >= 2),
        ok AS (SELECT bkey FROM k GROUP BY bkey HAVING count(*) <= 30),
        kk AS (SELECT k.* FROM k JOIN ok USING (bkey))
        SELECT a.eid AS id_a, b.eid AS id_b,
               a.name AS name_a, b.name AS name_b,
               levenshtein(a.name, b.name)::INT AS dist
        FROM kk a JOIN kk b ON a.bkey = b.bkey AND a.eid < b.eid
        WHERE levenshtein(a.name, b.name) <= 2
    """
    # Hearst patterns: generated from the SAME operator pattern table so
    # the oracle can never drift from HEARST_PATTERNS
    from dss_plugin_nlp_analysis_spark.operators.kg import HEARST_PATTERNS

    hearst_branches = "\n        UNION ALL".join(
        f"""
        SELECT id,
               unnest(regexp_extract_all(low, '{rex}', {hypo_g})) AS hypo,
               unnest(regexp_extract_all(low, '{rex}', {hyper_g})) AS hyper,
               '{name}' AS pattern
        FROM t"""
        for name, rex, hypo_g, hyper_g in HEARST_PATTERNS
    )
    d["hearst"] = f"""
        WITH t AS (
          SELECT doc_id AS id,
                 lower(trim(text) || ' engines such as '
                   || chr((97 + doc_id % 20)::INT)
                   || chr((97 + (doc_id // 20) % 20)::INT)
                   || 'base and other platforms including '
                   || chr((97 + doc_id % 7)::INT) || 'store.') AS low
          FROM documents
        )
        {hearst_branches}
    """
    # shared synthesized mention stream for relation_patterns/fact_support
    mention_cte = r"""
        docs0 AS (SELECT doc_id, trim(text) AS sent FROM documents),
        mm AS (
          SELECT 'https://d' || (doc_id % 30) || '.example/p' || doc_id AS s,
                 sent,
                 unnest(regexp_extract_all(sent,
                   '\b(window|stream|table scan)\b', 1)) AS kw
          FROM docs0
        ),
        m AS (SELECT DISTINCT s, sent, kw FROM mm)
    """
    d["relation_patterns"] = f"""
        WITH {mention_cte},
        p AS (
          SELECT a.s, a.sent, a.kw AS kw_a, b.kw AS kw_b,
                 strpos(lower(a.sent), lower(a.kw)) AS pa,
                 strpos(lower(a.sent), lower(b.kw)) AS pb
          FROM m a JOIN m b ON a.s = b.s AND a.kw < b.kw
        ),
        c AS (
          SELECT kw_a, kw_b,
                 regexp_replace(trim(substr(lower(sent),
                   CASE WHEN pa <= pb THEN pa + length(kw_a)
                        ELSE pb + length(kw_b) END,
                   greatest(greatest(pa, pb)
                     - CASE WHEN pa <= pb THEN pa + length(kw_a)
                            ELSE pb + length(kw_b) END, 0))),
                   '\\s+', ' ', 'g') AS connector
          FROM p WHERE pa > 0 AND pb > 0
        )
        SELECT connector, count(*)::BIGINT AS n_mentions,
               count(DISTINCT (kw_a, kw_b))::BIGINT AS n_pairs
        FROM c
        WHERE connector != '' AND length(connector) <= 60
        GROUP BY connector HAVING count(*) >= 2
    """
    d["fact_support"] = f"""
        WITH {mention_cte},
        md AS (SELECT s, kw,
                      regexp_extract(lower(s),
                        '^[a-z][a-z0-9+.-]*://([^/:?#@]*@)?([^/:?#]+)', 2)
                        AS dom
               FROM m)
        SELECT a.kw AS obj_a, b.kw AS obj_b,
               count(*)::BIGINT AS n_mentions,
               count(DISTINCT a.s)::BIGINT AS n_docs,
               count(DISTINCT a.dom)::BIGINT AS n_domains,
               (count(DISTINCT a.dom) * 1000000) // count(DISTINCT a.s)
                 AS diversity_ppm
        FROM md a JOIN md b ON a.s = b.s AND a.kw < b.kw
        GROUP BY 1, 2
    """
    # distant-supervision loop closed: the connector dim is re-mined in a
    # CTE (support >= 3) and joined back; head/tail follow surface order
    d["relation_extract"] = f"""
        WITH {mention_cte},
        p AS (
          SELECT a.s, a.sent, a.kw AS kw_a, b.kw AS kw_b,
                 strpos(lower(a.sent), lower(a.kw)) AS pa,
                 strpos(lower(a.sent), lower(b.kw)) AS pb
          FROM m a JOIN m b ON a.s = b.s AND a.kw < b.kw
        ),
        c AS (
          SELECT s, kw_a, kw_b, pa, pb,
                 regexp_replace(trim(substr(lower(sent),
                   CASE WHEN pa <= pb THEN pa + length(kw_a)
                        ELSE pb + length(kw_b) END,
                   greatest(greatest(pa, pb)
                     - CASE WHEN pa <= pb THEN pa + length(kw_a)
                            ELSE pb + length(kw_b) END, 0))),
                   '\\s+', ' ', 'g') AS connector
          FROM p WHERE pa > 0 AND pb > 0
        ),
        cf AS (
          SELECT * FROM c
          WHERE connector != '' AND length(connector) <= 60
        ),
        dim AS (
          SELECT connector FROM cf GROUP BY connector HAVING count(*) >= 3
        )
        SELECT DISTINCT s AS subj, 0::INT AS sent_idx,
               CASE WHEN pa <= pb THEN kw_a ELSE kw_b END AS head,
               connector AS relation,
               CASE WHEN pa <= pb THEN kw_b ELSE kw_a END AS tail
        FROM cf JOIN dim USING (connector)
    """
    # lift in exact integer ppm over the tag_cooc mention model:
    # same last-wins keyword->tag CASE as the tag_cooc oracle
    d["cooc_lift"] = r"""
        WITH mm AS (
          SELECT doc_id, unnest(regexp_extract_all(trim(text),
                   '\b(window|stream|table scan)\b')) AS kw
          FROM documents
        ),
        dd AS (SELECT DISTINCT doc_id AS s,
                 CASE kw WHEN 'window' THEN 'alpha_op'
                         WHEN 'stream' THEN 'zeta_op'
                         ELSE 'scan_op' END AS o
               FROM mm),
        ent AS (SELECT o, count(*) AS n FROM dd GROUP BY 1),
        corpus AS (SELECT count(DISTINCT s) AS n_corpus FROM dd),
        pairs AS (
          SELECT a.o AS obj_a, b.o AS obj_b, count(*) AS n_ab
          FROM dd a JOIN dd b ON a.s = b.s AND a.o < b.o
          GROUP BY 1, 2
        )
        SELECT obj_a, obj_b, ea.n AS n_a, eb.n AS n_b, n_ab, n_corpus,
               (n_ab * n_corpus * 1000000) // (ea.n * eb.n) AS lift_ppm
        FROM pairs
        JOIN ent ea ON ea.o = obj_a
        JOIN ent eb ON eb.o = obj_b
        CROSS JOIN corpus
    """
    # truth discovery: domain-diversity vote with (n_domains desc,
    # n_docs desc, value asc) ordering — window rank in SQL mirrors the
    # windowless min_by on the Spark side
    d["truth_discovery"] = r"""
        WITH f AS (
          SELECT 'e' || (doc_id % 40) AS entity,
                 'a' || (doc_id % 3) AS attr,
                 CASE WHEN doc_id % 11 != 0
                      THEN 'v' || ((doc_id // 120) % 3) END AS value,
                 'https://d' || (doc_id % 7) || '.example/p' || doc_id
                   AS source
          FROM documents
        ),
        v AS (
          SELECT entity, attr, value,
                 count(DISTINCT regexp_extract(lower(source),
                   '^[a-z][a-z0-9+.-]*://([^/:?#@]*@)?([^/:?#]+)', 2))
                   AS n_domains,
                 count(DISTINCT source) AS n_docs
          FROM f WHERE value IS NOT NULL
          GROUP BY 1, 2, 3
        ),
        ranked AS (
          SELECT *,
                 row_number() OVER (PARTITION BY entity, attr
                   ORDER BY n_domains DESC, n_docs DESC, value ASC) AS rn,
                 sum(n_docs) OVER (PARTITION BY entity, attr)
                   AS total_docs,
                 count(*) OVER (PARTITION BY entity, attr) AS n_values
          FROM v
        )
        SELECT entity, attr, value, n_domains, n_docs, total_docs,
               n_values, (n_docs * 1000000) // total_docs AS support_ppm
        FROM ranked WHERE rn = 1
    """
    # crawl frontier: successor+external synthesized link graph, LEFT
    # JOIN IS NULL anti-join against the fetched set, indegree scoring
    d["crawl_frontier"] = r"""
        WITH pages AS (
          SELECT doc_id,
                 'https://d' || (doc_id % 30) || '.example/p' || doc_id
                   AS url
          FROM documents
        ),
        links AS (
          SELECT url AS src,
                 'https://d' || ((doc_id + 1) % 30) || '.example/p'
                   || (doc_id + 1) AS dst
          FROM pages
          UNION ALL
          SELECT url AS src,
                 'https://e' || (doc_id % 5) || '.example/t'
                   || (doc_id % 50) AS dst
          FROM pages, (VALUES (1), (2)) rep(i)
        ),
        frontier AS (
          SELECT l.src, l.dst
          FROM links l
          LEFT JOIN (SELECT DISTINCT url FROM pages) c ON l.dst = c.url
          WHERE c.url IS NULL
        )
        SELECT dst AS url, count(*) AS n_inlinks,
               count(DISTINCT src) AS n_src_pages,
               count(DISTINCT regexp_extract(lower(src),
                 '^[a-z][a-z0-9+.-]*://([^/:?#@]*@)?([^/:?#]+)', 2))
                 AS n_src_domains
        FROM frontier GROUP BY 1 HAVING count(*) >= 2
    """
    # taxonomy edges: the hearst branches aggregated with direction-
    # conflict majority (reversed-key self-join) and a 2-doc floor
    d["taxonomy_edges"] = f"""
        WITH t AS (
          SELECT doc_id AS id,
                 lower(trim(text) || ' engines such as '
                   || chr((97 + doc_id % 20)::INT)
                   || chr((97 + (doc_id // 20) % 20)::INT)
                   || 'base and other platforms including '
                   || chr((97 + doc_id % 7)::INT) || 'store.') AS low
          FROM documents
        ),
        h AS ({hearst_branches}
        ),
        agg AS (
          SELECT hypo, hyper, count(DISTINCT id) AS n_docs,
                 count(*) AS n_mentions,
                 count(DISTINCT pattern) AS n_patterns
          FROM h WHERE hypo != hyper GROUP BY 1, 2
        )
        SELECT a.hypo, a.hyper, a.n_docs, a.n_mentions, a.n_patterns
        FROM agg a
        LEFT JOIN agg r ON a.hypo = r.hyper AND a.hyper = r.hypo
        WHERE (r.n_docs IS NULL OR a.n_docs > r.n_docs
               OR (a.n_docs = r.n_docs AND a.hypo < a.hyper))
          AND a.n_docs >= 2
    """
    # web-table cells: three nested unnest levels; parallel unnests in
    # one SELECT zip positionally (the arrays_zip mirror)
    d["html_tables"] = r"""
        WITH t AS (
          SELECT doc_id AS id,
                 '<p>' || text
                   || '</p><table class="meta"><tr><th>k</th><th>v</th></tr>'
                   || '<tr><td>lang</td><td>' || lang
                   || '</td></tr><tr><td>mod</td><td>m' || (doc_id % 9)
                   || '</td></tr></table>' AS html
          FROM documents
        ),
        tb AS (
          SELECT id,
                 unnest(regexp_extract_all(html,
                   '(?s)<table[^>]*>(.*?)</table>', 1)) AS tbl,
                 generate_subscripts(regexp_extract_all(html,
                   '(?s)<table[^>]*>(.*?)</table>', 1), 1) - 1 AS table_idx
          FROM t
        ),
        tr AS (
          SELECT id, table_idx,
                 unnest(regexp_extract_all(tbl,
                   '(?s)<tr[^>]*>(.*?)</tr>', 1)) AS trow,
                 generate_subscripts(regexp_extract_all(tbl,
                   '(?s)<tr[^>]*>(.*?)</tr>', 1), 1) - 1 AS row_idx
          FROM tb
        ),
        c AS (
          SELECT id, table_idx, row_idx,
                 unnest(regexp_extract_all(trow,
                   '<(t[dh])[^>]*>[^<]*</t[dh]>', 1)) AS tag,
                 unnest(regexp_extract_all(trow,
                   '<t[dh][^>]*>([^<]*)</t[dh]>', 1)) AS txt,
                 generate_subscripts(regexp_extract_all(trow,
                   '<(t[dh])[^>]*>[^<]*</t[dh]>', 1), 1) - 1 AS col_idx
          FROM tr
        )
        SELECT id, table_idx::INT AS table_idx, row_idx::INT AS row_idx,
               col_idx::INT AS col_idx, trim(txt) AS cell,
               (tag = 'th') AS is_header
        FROM c
    """
    # date mentions: branches + month-name CASE generated from the SAME
    # operator tables (DATE_PATTERNS / MONTHS) so the oracle can't drift
    from dss_plugin_nlp_analysis_spark.operators.mentions import (
        DATE_PATTERNS,
        MONTHS,
    )

    month_list = "[" + ", ".join(f"'{m}'" for m in MONTHS) + "]"
    month_case = (
        "CASE m "
        + " ".join(f"WHEN '{name}' THEN {i}" for i, name in enumerate(MONTHS, 1))
        + " ELSE m::INT END"
    )
    date_branches = "\n        UNION ALL".join(
        """
        SELECT id,
               unnest(regexp_extract_all(txt, '{rex}', 0)) AS raw,
               unnest(regexp_extract_all(txt, '{rex}', {yg})) AS y,
               unnest(regexp_extract_all(txt, '{rex}', {mg})) AS m,
               unnest(regexp_extract_all(txt, '{rex}', {dg})) AS dd,
               '{kind}' AS kind
        FROM t""".format(rex=rex, yg=yg, mg=mg, dg=dg, kind=kind)
        for kind, rex, yg, mg, dg, _is_name in DATE_PATTERNS
    )
    d["date_mentions"] = f"""
        WITH base AS (
          SELECT doc_id AS id,
                 list_extract({month_list}, (doc_id % 7 + 1)::INT) AS mname,
                 doc_id % 12 + 1 AS mm, doc_id % 28 + 1 AS dd0,
                 trim(text) AS tx
          FROM documents
        ),
        t AS (
          SELECT id,
                 tx || ' on 2020-' || lpad(mm::VARCHAR, 2, '0') || '-'
                    || lpad(dd0::VARCHAR, 2, '0')
                    || ' and ' || mm || '/' || dd0 || '/2019 by '
                    || dd0 || ' ' || mname || ' 2018 since '
                    || mname || ' ' || dd0 || ', 2017.' AS txt
          FROM base
        ),
        x AS ({date_branches}
        )
        SELECT id, raw,
               y || '-' || lpad(({month_case})::VARCHAR, 2, '0') || '-'
                 || lpad(dd::INT::VARCHAR, 2, '0') AS iso,
               kind
        FROM x
    """
    # attributed quotes: branches generated from QUOTE_PATTERNS
    from dss_plugin_nlp_analysis_spark.operators.mentions import QUOTE_PATTERNS

    quote_branches = "\n        UNION ALL".join(
        """
        SELECT id,
               unnest(regexp_extract_all(txt, '{rex}', {sg})) AS speaker,
               unnest(regexp_extract_all(txt, '{rex}', {qg})) AS quote,
               '{name}' AS pattern
        FROM t""".format(rex=rex, sg=sg, qg=qg, name=name)
        for name, rex, sg, qg in QUOTE_PATTERNS
    )
    d["quotes"] = f"""
        WITH t AS (
          SELECT doc_id AS id,
                 trim(text) || ' Mar' || chr((97 + doc_id % 26)::INT)
                   || ' said, "fact ' || (doc_id % 10)
                   || ' holds". "it scales to ' || (doc_id % 7)
                   || ' nodes," wrote Ben' || chr((97 + doc_id % 5)::INT)
                   || '.' AS txt
          FROM documents
        ),
        x AS ({quote_branches}
        )
        SELECT id, speaker, quote, pattern FROM x
    """
    # skip-gram pairs: positions via generate_subscripts, contexts via a
    # bounded position self-join — docs with < 2 tokens (incl. empty)
    # find no partner and emit nothing, matching the operator
    d["skipgram_pairs"] = f"""
        WITH t AS (
          SELECT doc_id AS id,
                 list_slice(string_split({_NORM}, ' '), 1, 12) AS w
          FROM documents
        ),
        pos AS (SELECT id, unnest(w) AS tok,
                       generate_subscripts(w, 1) AS p
                FROM t)
        SELECT a.id, a.p::INT AS pos, a.tok AS center, b.tok AS context,
               (b.p - a.p)::INT AS "offset"
        FROM pos a
        JOIN pos b ON b.id = a.id AND b.p != a.p
                   AND b.p BETWEEN a.p - 2 AND a.p + 2
    """
    # sequence packing: per-shard running token offset (empty docs count
    # 0 tokens and land zero-width at their stream offset)
    d["pack_sequences"] = f"""
        WITH b AS (
          SELECT doc_id AS id, (doc_id % 8)::INT AS shard,
                 (CASE WHEN {_NORM} = '' THEN 0
                       ELSE len(string_split({_NORM}, ' ')) END)::INT
                   AS n_tokens
          FROM documents
        ),
        c AS (
          SELECT *, coalesce(sum(n_tokens) OVER (
                   PARTITION BY shard ORDER BY id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                 0)::BIGINT AS start_off
          FROM b
        )
        SELECT id, shard, n_tokens, start_off,
               (start_off // 50)::BIGINT AS first_bin,
               (CASE WHEN n_tokens > 0
                     THEN (start_off + n_tokens - 1) // 50
                     ELSE start_off // 50 END)::BIGINT AS last_bin,
               (last_bin - first_bin + 1)::BIGINT AS n_bins
        FROM c
    """
    # DSIR importance weights: hashed-unigram bucket dim (512 rows) with
    # the exact integer frequency-ratio surrogate; string_split('') = ['']
    # reproduces the whole-text shingle of empty docs on both engines
    d["dsir_weights"] = f"""
        WITH rawg AS (
          SELECT id,
                 ((('0x' || substr(md5(g), 1, 15))::BIGINT) % 512)::INT AS b
          FROM (SELECT doc_id AS id,
                       unnest(string_split({_NORM}, ' ')) AS g
                FROM documents)
        ),
        tgtg AS (
          SELECT ((('0x' || substr(md5(g), 1, 15))::BIGINT) % 512)::INT AS b
          FROM (SELECT unnest(string_split({_NORM}, ' ')) AS g
                FROM documents WHERE lang = 'en')
        ),
        rc AS (SELECT b, count(*)::BIGINT AS rc FROM rawg GROUP BY 1),
        tc AS (SELECT b, count(*)::BIGINT AS tc FROM tgtg GROUP BY 1),
        tot AS (SELECT (SELECT sum(rc) FROM rc)::BIGINT AS rtot,
                       (SELECT sum(tc) FROM tc)::BIGINT AS ttot),
        dim AS (
          SELECT rc.b,
                 ((1000000 * ((1000000 * coalesce(tc.tc, 0)) // tot.ttot + 1))
                   // ((1000000 * rc.rc) // tot.rtot + 1))::BIGINT
                   AS score_micro
          FROM rc LEFT JOIN tc USING (b) CROSS JOIN tot
        )
        SELECT id, count(*)::BIGINT AS n_grams,
               sum(score_micro)::BIGINT AS weight_sum,
               (sum(score_micro) // count(*))::BIGINT AS weight_avg_micro
        FROM rawg JOIN dim USING (b)
        GROUP BY id
    """
    # asymmetric containment: same df-capped candidate scheme as
    # ngram_jaccard, integer-ppm score over least(|A|,|B|)
    d["ngram_containment"] = f"""
        WITH {_CORPUS_MUT},
        {_SHINGLES},
        inv AS (SELECT DISTINCT id, g FROM sh3),
        rare AS (SELECT g FROM inv GROUP BY g HAVING count(*) <= 10000),
        idx AS (SELECT inv.id, inv.g FROM inv JOIN rare USING (g)),
        cand AS (
          SELECT DISTINCT x.id AS id_a, y.id AS id_b
          FROM idx x JOIN idx y ON x.g = y.g AND x.id < y.id
        ),
        sz AS (SELECT id, count(*)::BIGINT AS s FROM inv GROUP BY 1),
        it AS (
          SELECT c.id_a, c.id_b, count(*)::BIGINT AS i
          FROM cand c
          JOIN inv a ON a.id = c.id_a
          JOIN inv b ON b.id = c.id_b AND b.g = a.g
          GROUP BY 1, 2
        )
        SELECT id_a, id_b, i AS inter, sa.s AS sz_a, sb.s AS sz_b,
               ((1000000 * i) // least(sa.s, sb.s))::BIGINT
                 AS containment_ppm
        FROM it
        JOIN sz sa ON sa.id = it.id_a
        JOIN sz sb ON sb.id = it.id_b
        WHERE (1000000 * i) // least(sa.s, sb.s) >= 600000
    """
    # edit-distance verification of the minhash candidates: the identical
    # band chain as dedup_minhash, then byte-Levenshtein over the ASCII
    # projection (op contract: every non-ASCII code point -> one '?', where
    # DuckDB's byte and Spark's code-point distances coincide)
    d["edit_verify"] = f"""
        WITH {_CORPUS_MUT},
        {_SHINGLES},
        hx AS (SELECT id, md5(g) AS h FROM sh3),
        sig AS (
          SELECT id,
                 min(substr(h,  1, 4)) AS s0, min(substr(h,  5, 4)) AS s1,
                 min(substr(h,  9, 4)) AS s2, min(substr(h, 13, 4)) AS s3,
                 min(substr(h, 17, 4)) AS s4, min(substr(h, 21, 4)) AS s5,
                 min(substr(h, 25, 4)) AS s6, min(substr(h, 29, 4)) AS s7
          FROM hx GROUP BY id
        ),
        bk AS (
          SELECT id, unnest([
            md5(0 || '|' || s0 || '|' || s1),
            md5(1 || '|' || s2 || '|' || s3),
            md5(2 || '|' || s4 || '|' || s5),
            md5(3 || '|' || s6 || '|' || s7)]) AS band_key
          FROM sig
        ),
        small AS (SELECT band_key FROM bk GROUP BY band_key
                  HAVING count(*) <= 1000),
        bks AS (SELECT bk.id, bk.band_key FROM bk JOIN small USING (band_key)),
        pairs AS (
          SELECT DISTINCT x.id AS id_a, y.id AS id_b
          FROM bks x JOIN bks y ON x.band_key = y.band_key AND x.id < y.id
        ),
        txt AS (
          SELECT id,
                 substr(regexp_replace(t, '[^\\x00-\\x7F]', '?', 'g'), 1, 400) AS a
          FROM corpus
        ),
        dd AS (
          SELECT id_a, id_b, levenshtein(ta.a, tb.a)::INT AS dist,
                 length(ta.a)::INT AS len_a, length(tb.a)::INT AS len_b
          FROM pairs
          JOIN txt ta ON ta.id = pairs.id_a
          JOIN txt tb ON tb.id = pairs.id_b
        ),
        sc AS (
          SELECT id_a, id_b, dist, len_a, len_b,
                 CASE WHEN greatest(len_a, len_b) = 0 THEN 1000000
                      ELSE (1000000 * (greatest(len_a, len_b) - dist))
                           // greatest(len_a, len_b) END AS sim_ppm
          FROM dd
        )
        SELECT * FROM sc WHERE sim_ppm >= 500000
    """
    # inverse-cloze-task pairs: md5-argmin held-out sentence (DuckDB's
    # indexed lambdas are 1-based, Spark's 0-based -> i-1), struct-min
    # comparing (h, i, s) field-by-field exactly as Spark's array_min
    d["ict_pairs"] = r"""
        WITH s AS (
          SELECT doc_id AS id,
                 string_split(
                   trim(regexp_replace(lower(coalesce(
                     replace(text, ' merge ', '. '), '')), '\s+', ' ', 'g')),
                   '. ') AS sents
          FROM documents
        ),
        b AS (
          SELECT id, sents, len(sents)::INT AS n_sentences,
                 list_aggregate(
                   list_transform(sents, (x, i) ->
                     {'h': md5(id || '|' || (i - 1) || '|' || x),
                      'i': i - 1, 's': x}), 'min') AS best
          FROM s WHERE len(sents) >= 2
        )
        SELECT id, n_sentences, best.i AS query_idx, best.s AS "query",
               array_to_string(
                 list_filter(sents, (x, j) -> (j - 1) != best.i), '. ')
                 AS context
        FROM b
    """
    d["mojibake"] = f"""
        WITH dirty AS (
          SELECT doc_id AS id,
                 CASE WHEN doc_id % 5 = 0 THEN '{_MOJI_PREFIX}' || coalesce(text, '')
                      WHEN doc_id % 5 = 3 THEN coalesce(text, '') || '{_MOJI_SUFFIX}'
                      ELSE coalesce(text, '') END AS t
          FROM documents
        )
        SELECT id, CAST({_moji_count_sql("t")} AS INT) AS n_mojibake,
               {_moji_fixed_sql("t")} AS fixed,
               {_moji_fixed_sql("t")} != t AS changed
        FROM dirty
    """
    # UniMax water-filling + sqrt-temperature weights over the lang dim;
    # budget = 60% of the corpus, same integer rule as the Spark query
    d["corpus_mixture"] = """
        WITH bud AS (SELECT (count(*) * 3) // 5 AS b FROM documents),
        c AS (
          SELECT lang AS "group", count(*)::BIGINT AS n_docs,
                 CAST(floor(sqrt(count(*))) AS BIGINT) AS sq
          FROM documents WHERE lang IS NOT NULL GROUP BY lang
        ),
        r AS (
          SELECT *, row_number() OVER (ORDER BY n_docs, "group") AS rk,
                 sum(n_docs) OVER (ORDER BY n_docs, "group"
                   ROWS UNBOUNDED PRECEDING) AS cum
          FROM c
        ),
        t AS (SELECT count(*) AS g, sum(sq) AS sqsum FROM r),
        st AS (
          SELECT r.*, t.g, t.sqsum, bud.b,
                 (cum + (g - rk) * n_docs) <= bud.b AS fits
          FROM r, t, bud
        ),
        l AS (SELECT coalesce(max(CASE WHEN fits THEN rk END), 0) AS k,
                     coalesce(max(CASE WHEN fits THEN cum END), 0) AS ck
              FROM st)
        SELECT "group", n_docs,
               (1000000 * sq) // sqsum AS temp_weight_ppm,
               CAST(CASE WHEN rk <= l.k THEN n_docs
                         ELSE least(n_docs, (b - l.ck) // (g - l.k))
                    END AS BIGINT) AS unimax_budget
        FROM st, l
    """
    # the synthesized rule-mining KG, shared by relation_compose /
    # amie_rules — mirrors _synth_triples exactly
    synth_triples = """
        tr AS (
          SELECT 'person' || (doc_id % 50) AS s, 'born_in' AS p,
                 'city' || (doc_id % 10) AS o FROM documents
          UNION ALL
          SELECT 'city' || (doc_id % 10), 'located_in',
                 'country' || ((doc_id % 10) % 3) FROM documents
          UNION ALL
          SELECT 'person' || (doc_id % 50), 'nationality',
                 'country' || ((doc_id % 10) % 3) FROM documents
          WHERE doc_id % 2 = 0
          UNION ALL
          SELECT 'person' || (doc_id % 50), 'works_in',
                 'city' || ((doc_id + 5) % 10) FROM documents
        ),
        t AS (SELECT DISTINCT s, p, o FROM tr
              WHERE s IS NOT NULL AND p IS NOT NULL AND o IS NOT NULL),
        body AS (
          SELECT a.s AS x, a.p AS p1, b.p AS p2, b.o AS z,
                 count(DISTINCT a.o) AS n_mids
          FROM t a JOIN t b ON a.o = b.s
          WHERE a.s != b.o
          GROUP BY 1, 2, 3, 4
        )
    """
    d["relation_compose"] = f"""
        WITH {synth_triples}
        SELECT x, p1, p2, z, n_mids FROM body
    """
    d["amie_rules"] = f"""
        WITH {synth_triples},
        bs AS (SELECT p1, p2, count(*) AS body_size FROM body GROUP BY 1, 2),
        sup AS (
          SELECT body.p1, body.p2, t.p AS p3, count(*) AS support
          FROM body JOIN t ON t.s = body.x AND t.o = body.z
          GROUP BY 1, 2, 3
        )
        SELECT sup.p1, sup.p2, p3, body_size, support,
               (1000000 * support) // body_size AS conf_ppm
        FROM sup JOIN bs USING (p1, p2)
        WHERE support >= 2
          AND (1000000 * support) // body_size >= 50000
    """
    # microdata: same per-form zipped extraction; multiset compare makes
    # the three UNION ALL branches order-free
    d["microdata"] = r"""
        WITH h AS (
          SELECT doc_id AS id,
                 '<div itemscope itemtype="https://schema.org/'
                 || CASE WHEN doc_id % 2 = 0 THEN 'Product' ELSE 'Person' END
                 || '"><meta itemprop="sku" content="S' || (doc_id % 30) || '">'
                 || CASE WHEN doc_id % 4 = 0
                    THEN '<span itemprop="name">Item ' || (doc_id % 20) || '</span>'
                    ELSE '' END
                 || '<time itemprop="datePublished">2025-0' || (doc_id % 9 + 1)
                 || '</time></div>' AS html
          FROM documents
        )
        SELECT id, '@type' AS itemprop,
               unnest(regexp_extract_all(html,
                 'itemtype="https?://schema\.org/([A-Za-z]+)"', 1)) AS value,
               'type' AS src
        FROM h
        UNION ALL
        SELECT id, unnest(regexp_extract_all(html,
                 '<meta itemprop="([A-Za-z]+)" content="([^"]*)"', 1)),
               unnest(regexp_extract_all(html,
                 '<meta itemprop="([A-Za-z]+)" content="([^"]*)"', 2)),
               'attr'
        FROM h
        UNION ALL
        SELECT id, unnest(regexp_extract_all(html,
                 '<(?:span|div|h1|time) itemprop="([A-Za-z]+)"[^>]*>([^<]*)<', 1)),
               unnest(regexp_extract_all(html,
                 '<(?:span|div|h1|time) itemprop="([A-Za-z]+)"[^>]*>([^<]*)<', 2)),
               'text'
        FROM h
    """
    # pronoun coreference: nearest preceding lexicon token within the
    # window; DuckDB's 1-based list indexing matches the operator's
    # 1-based token positions directly
    d["pronoun_coref"] = r"""
        WITH t AS (
          SELECT doc_id AS id,
                 string_split(trim(regexp_replace(lower(coalesce(
                   'alpha arrived . ' || text ||
                   ' later he met beta and she left with them', '')),
                   '\s+', ' ', 'g')), ' ') AS toks
          FROM documents
        ),
        e AS (
          SELECT id, toks,
                 list_filter(generate_series(1, len(toks)),
                   i -> list_contains(['alpha', 'beta', 'gamma'], toks[i]))
                   AS ents
          FROM t
        ),
        p AS (
          SELECT id, toks,
                 unnest(list_transform(
                   list_filter(generate_series(1, len(toks)),
                     i -> list_contains(['he', 'she', 'it', 'they',
                                         'him', 'her', 'them'], toks[i])),
                   i -> {'pi': i, 'pr': toks[i],
                         'ai': list_max(list_filter(ents,
                                 x -> x < i AND i - x <= 200))})) AS r
          FROM e
        )
        SELECT id, r.pi AS pronoun_idx, r.pr AS pronoun,
               r.ai AS antecedent_idx, toks[r.ai] AS antecedent
        FROM p
    """
    # FIM: the '0x'||hex-prefix cast is the verified bit-exact mirror of
    # Spark's conv(substr(md5,1,15),16,10); DuckDB list slices are 1-based
    # INCLUSIVE, matching slice(arr, start, length) re-expressed as [a:b]
    d["fim"] = rf"""
        WITH t AS (
          SELECT doc_id AS id, string_split({_NORM}, ' ') AS toks
          FROM documents
        ),
        f AS (SELECT id, toks, len(toks) AS n FROM t WHERE len(toks) >= 4),
        c AS (
          SELECT id, toks, n,
            (('0x' || substr(md5(id || '|fim1'), 1, 15))::BIGINT % (n - 1)) + 1 AS u,
            (('0x' || substr(md5(id || '|fim2'), 1, 15))::BIGINT % (n - 1)) + 1 AS v
          FROM f
        ),
        s AS (SELECT id, toks, n, least(u, v)::INT AS split_a,
                     greatest(u, v)::INT AS split_b FROM c),
        parts AS (
          SELECT id, n, split_a, split_b,
                 array_to_string(toks[1:split_a], ' ') AS prefix,
                 -- u = v makes the middle slice empty; DuckDB's
                 -- array_to_string([]) is NULL where Spark's array_join
                 -- is '' — coalesce to the Spark contract
                 coalesce(array_to_string(toks[split_a+1:split_b], ' '), '')
                   AS middle,
                 array_to_string(toks[split_b+1:n], ' ') AS suffix
          FROM s
        )
        SELECT id, n AS n_tokens, split_a, split_b, prefix, middle, suffix,
               '<PRE> ' || prefix || ' <SUF> ' || suffix || ' <MID> ' || middle
                 AS psm
        FROM parts
    """
    d["span_corruption"] = rf"""
        WITH t AS (
          SELECT doc_id AS id, string_split({_NORM}, ' ') AS toks
          FROM documents
        ),
        f AS (SELECT id, toks, len(toks) AS n FROM t WHERE len(toks) >= 10),
        b AS (
          SELECT id, toks, n, (n // 10)::INT AS nb,
                 list_transform(generate_series(0, (n // 10)::INT - 1),
                   k -> {{'k': k,
                         'start': (k * 10 + (('0x' || substr(
                             md5(id || '|' || k), 1, 15))::BIGINT % 8) + 1)::INT}})
                   AS blocks
          FROM f
        )
        SELECT id, n AS n_tokens, nb AS n_spans,
               array_to_string(
                 flatten(list_transform(blocks, s ->
                   toks[s.k * 10 + 1 : s.start - 1]
                   || ['<extra_id_' || s.k || '>']
                   || toks[s.start + 3 : (s.k + 1) * 10]))
                 || toks[nb * 10 + 1 : n], ' ') AS input,
               array_to_string(list_transform(blocks, s ->
                 '<extra_id_' || s.k || '> '
                 || array_to_string(toks[s.start : s.start + 2], ' ')), ' ')
                 AS target
        FROM b
    """
    # PNG decode gate: closed-form channel sums over the deterministic
    # gradient — no zlib needed oracle-side; the Spark side round-trips
    # the SAME pixels through a real PNG container
    d["multimodal_png_decode"] = """
        WITH dims AS (
          SELECT doc_id AS id, (doc_id % 5 + 2)::INT AS w,
                 (doc_id % 3 + 2)::INT AS h
          FROM documents
        ),
        cells AS (
          SELECT id, w, h, y.v AS y, x.v AS x
          FROM dims,
               LATERAL (SELECT unnest(generate_series(0, h - 1)) AS v) y,
               LATERAL (SELECT unnest(generate_series(0, w - 1)) AS v) x
        )
        SELECT id, w AS width, h AS height,
               sum((id * 7 + y * 31 + x * 13) % 256)::BIGINT AS sum_r,
               sum((id * 7 + y * 31 + x * 13 + 97) % 256)::BIGINT AS sum_g,
               sum((id * 7 + y * 31 + x * 13 + 194) % 256)::BIGINT AS sum_b
        FROM cells GROUP BY 1, 2, 3
    """
    # JPEG decode gate: solid-color images survive the lossy pipeline in
    # closed form — DC = 8·(v−128) quantized by Annex K Q00=16 with
    # round-half-away-from-zero, reconstructed as clip(2·DCq + 128); the
    # Spark side round-trips the SAME pixels through a real baseline
    # JPEG bitstream (Huffman + byte stuffing + subsampling + IDCT)
    d["multimodal_jpeg_decode"] = """
        WITH base AS (
          SELECT doc_id AS id,
                 (doc_id % 13 + 4)::INT AS w,
                 (doc_id % 11 + 4)::INT AS h,
                 (doc_id % 256) - 128 AS s
          FROM documents
        ),
        dec AS (
          SELECT id, w, h,
                 least(255, greatest(0,
                   2 * (CASE WHEN s > 0 THEN (s + 1) // 2
                             WHEN s < 0 THEN -((-s + 1) // 2)
                             ELSE 0 END) + 128))::BIGINT AS d
          FROM base
        )
        SELECT id, w AS width, h AS height,
               (w * h * d)::BIGINT AS sum_r,
               (w * h * d)::BIGINT AS sum_g,
               (w * h * d)::BIGINT AS sum_b
        FROM dec
    """
    # WAV header gate: the fixture writes mono 16-bit 16 kHz PCM with
    # n = doc_id%50+10 samples; duration_ms is integer floor division
    d["audio_meta"] = """
        SELECT doc_id AS id, 1 AS channels, 16000 AS sample_rate,
               16 AS bits, (doc_id % 50 + 10)::BIGINT AS n_samples,
               ((doc_id % 50 + 10) * 1000 // 16000)::BIGINT AS duration_ms
        FROM documents
    """
    # PCM sample gate: closed form over the deterministic sample series
    # s_i = ((id*31 + i*17) % 4096) - 2048; zero crossing counted at i>0
    # iff sign(s_{i-1}) != sign(s_i) under the (s < 0) predicate
    d["audio_decode"] = """
        WITH base AS (
          SELECT doc_id AS id, (doc_id % 50 + 10)::BIGINT AS n FROM documents
        ),
        samples AS (
          SELECT id, n, i.v AS i,
                 ((id * 31 + i.v * 17) % 4096) - 2048 AS s
          FROM base, LATERAL (SELECT unnest(generate_series(0, n - 1)) AS v) i
        ),
        feats AS (
          SELECT id, n, sum(abs(s))::BIGINT AS sum_abs,
                 max(abs(s))::BIGINT AS max_abs
          FROM samples GROUP BY 1, 2
        ),
        zx AS (
          SELECT a.id, count(*)::BIGINT AS zc
          FROM samples a JOIN samples b ON a.id = b.id AND b.i = a.i + 1
          WHERE (a.s < 0) != (b.s < 0)
          GROUP BY 1
        )
        SELECT f.id, f.n AS n_samples, f.sum_abs, f.max_abs,
               coalesce(zx.zc, 0)::BIGINT AS zero_crossings
        FROM feats f LEFT JOIN zx ON f.id = zx.id
    """
    # audio_fp: chunk partition (i*16)//n, int64 energies, adjacent
    # comparison bits — same sample synthesis as audio_decode
    d["audio_fp"] = """
        WITH base AS (
          SELECT doc_id AS id, (doc_id % 50 + 10)::BIGINT AS n FROM documents
        ),
        samples AS (
          SELECT id, n, i.v AS i,
                 ((id * 31 + i.v * 17) % 4096) - 2048 AS s
          FROM base, LATERAL (SELECT unnest(generate_series(0, n - 1)) AS v) i
        ),
        chunks AS (
          SELECT id, (i * 16) // n AS c, sum(s * s)::BIGINT AS e
          FROM samples GROUP BY 1, 2
        ),
        allc AS (
          SELECT b.id, c.v AS c FROM base b,
                 (SELECT unnest(generate_series(0, 15)) AS v) c
        ),
        en AS (
          SELECT a.id, a.c, coalesce(ch.e, 0)::BIGINT AS e
          FROM allc a LEFT JOIN chunks ch ON ch.id = a.id AND ch.c = a.c
        ),
        fp AS (
          SELECT a.id,
                 sum(CASE WHEN b.e > a.e THEN (1::BIGINT << a.c)
                     ELSE 0 END)::BIGINT AS fingerprint
          FROM en a JOIN en b ON b.id = a.id AND b.c = a.c + 1
          GROUP BY a.id
        )
        SELECT b.id, b.n AS n_samples,
               coalesce(fp.fingerprint, 0)::BIGINT AS fingerprint
        FROM base b LEFT JOIN fp ON fp.id = b.id
    """
    # AVI/MJPEG frame gate: every-2nd-frame sampling over nf=id%7+2
    # frames; per-frame solid value (id*11 + f*29) % 256 decodes by the
    # same DC closed form as the JPEG gate
    d["video_frames"] = """
        WITH base AS (
          SELECT doc_id AS id, (doc_id % 9 + 4)::INT AS w,
                 (doc_id % 5 + 4)::INT AS h,
                 (doc_id % 7 + 2)::BIGINT AS nf
          FROM documents
        ),
        frames AS (
          SELECT id, w, h, f.v AS frame_idx,
                 ((id * 11 + f.v * 29) % 256) - 128 AS s
          FROM base, LATERAL (SELECT unnest(generate_series(0, nf - 1)) AS v) f
          WHERE f.v % 2 = 0
        ),
        dec AS (
          SELECT id, frame_idx, w, h,
                 least(255, greatest(0,
                   2 * (CASE WHEN s > 0 THEN (s + 1) // 2
                             WHEN s < 0 THEN -((-s + 1) // 2)
                             ELSE 0 END) + 128))::BIGINT AS d
          FROM frames
        )
        SELECT id, frame_idx::INT AS frame_idx, w AS width, h AS height,
               (w * h * d)::BIGINT AS sum_r,
               (w * h * d)::BIGINT AS sum_g,
               (w * h * d)::BIGINT AS sum_b
        FROM dec
    """
    # homoglyphs: the ONE translate table interpolated from the
    # operator's constants (cannot drift); spoof char = U+0435
    from dss_plugin_nlp_analysis_spark.operators.url import (
        HOMOGLYPH_FROM as _HG_FROM,
        HOMOGLYPH_TO as _HG_TO,
    )

    d["homoglyphs"] = f"""
        WITH doms AS (
          SELECT DISTINCT
            CASE WHEN doc_id % 5 = 0
                 THEN 'sit' || chr(1077) || (doc_id % 25) || '.example'
                 ELSE 'site' || (doc_id % 25) || '.example' END AS domain
          FROM documents
        ),
        s AS (SELECT domain,
                     translate(domain, '{_HG_FROM}', '{_HG_TO}') AS skeleton
              FROM doms),
        c AS (SELECT skeleton, count(*)::BIGINT AS n_variants
              FROM s GROUP BY skeleton)
        SELECT s.domain, s.skeleton,
               (s.domain != s.skeleton)::INT AS is_spoof, c.n_variants
        FROM s JOIN c USING (skeleton)
    """
    # textrank: the sentence graph + two unrolled weighted-PageRank
    # iterations per (doc, sentence) key; base = 15*1e6//100
    d["textrank"] = """
        WITH sents AS (
          SELECT doc_id AS id, generate_subscripts(l, 1) - 1 AS sidx,
                 unnest(l) AS sent
          FROM (SELECT doc_id,
                       string_split(replace(trim(text), ' merge ', '. '),
                                    '. ') AS l
                FROM documents)
        ),
        t2 AS (SELECT DISTINCT id, sidx, tok FROM (
                 SELECT id, sidx, unnest(string_split(sent, ' ')) AS tok
                 FROM sents) WHERE tok != ''),
        e AS (SELECT a.id, a.sidx AS sa, b.sidx AS sb, count(*) AS w
              FROM t2 a JOIN t2 b ON b.id = a.id AND b.tok = a.tok
                                  AND a.sidx != b.sidx
              GROUP BY 1, 2, 3),
        tw AS (SELECT id, sa, sum(w) AS totw FROM e GROUP BY 1, 2),
        r0 AS (SELECT id, sidx, 1000000::BIGINT AS rank FROM sents),
        i1 AS (SELECT e.id, e.sb AS sidx,
                      sum((r.rank * e.w) // t.totw)::BIGINT AS inc
               FROM e JOIN r0 r ON r.id = e.id AND r.sidx = e.sa
                      JOIN tw t ON t.id = e.id AND t.sa = e.sa
               GROUP BY 1, 2),
        r1 AS (SELECT s.id, s.sidx,
                      (150000::BIGINT
                       + (85 * coalesce(i1.inc, 0)) // 100)::BIGINT AS rank
               FROM sents s LEFT JOIN i1
                 ON i1.id = s.id AND i1.sidx = s.sidx),
        i2 AS (SELECT e.id, e.sb AS sidx,
                      sum((r.rank * e.w) // t.totw)::BIGINT AS inc
               FROM e JOIN r1 r ON r.id = e.id AND r.sidx = e.sa
                      JOIN tw t ON t.id = e.id AND t.sa = e.sa
               GROUP BY 1, 2),
        r2 AS (SELECT s.id, s.sidx,
                      (150000::BIGINT
                       + (85 * coalesce(i2.inc, 0)) // 100)::BIGINT AS rank
               FROM sents s LEFT JOIN i2
                 ON i2.id = s.id AND i2.sidx = s.sidx),
        rk AS (SELECT r2.id, r2.sidx, r2.rank, s.sent,
                      row_number() OVER (
                        PARTITION BY r2.id
                        ORDER BY r2.rank DESC, r2.sidx) AS pos
               FROM r2 JOIN sents s
                 ON s.id = r2.id AND s.sidx = r2.sidx)
        SELECT id, pos::INT AS pos, sidx::INT AS sent_idx,
               sent AS sentence, rank AS rank_micro
        FROM rk WHERE pos <= 1
    """
    # er_scores: the same per-field weight CASE chain + two-threshold
    # decision rule
    d["er_scores"] = """
        WITH p AS (
          SELECT doc_id AS pair_id,
                 (doc_id % 2)::INT AS name_agree,
                 CASE WHEN doc_id % 3 = 0 THEN 1
                      WHEN doc_id % 3 = 1 THEN 0 END::INT AS city_agree,
                 (doc_id % 5 = 0)::INT AS taxid_agree
          FROM documents
        ),
        s AS (
          SELECT *,
                 (CASE WHEN name_agree = 1 THEN 20
                       WHEN name_agree = 0 THEN -15 ELSE 0 END
                  + CASE WHEN city_agree = 1 THEN 5
                         WHEN city_agree = 0 THEN -3 ELSE 0 END
                  + CASE WHEN taxid_agree = 1 THEN 40
                         WHEN taxid_agree = 0 THEN -35 ELSE 0 END
                 )::BIGINT AS score
          FROM p
        )
        SELECT pair_id, name_agree, city_agree, taxid_agree, score,
               CASE WHEN score >= 30 THEN 'link'
                    WHEN score >= 0 THEN 'possible'
                    ELSE 'nonlink' END AS decision
        FROM s
    """
    # tpch_q3: the classic shipping-priority join; revenue rounded to
    # cents like lineitem_pricing, top-10 tie-broken by orderkey
    d["tpch_q3"] = """
        SELECT l.l_orderkey, o.o_orderdate, o.o_orderpriority,
               round(sum(l.l_extendedprice * (1 - l.l_discount)), 2)
                 AS revenue
        FROM lineitem l
        JOIN orders o ON o.o_orderkey = l.l_orderkey
        JOIN customer c ON c.c_custkey = o.o_custkey
        WHERE c.c_mktsegment = 'BUILDING'
          AND o.o_orderdate < TIMESTAMP '1995-03-15'
          AND l.l_shipdate > TIMESTAMP '1995-03-15'
        GROUP BY 1, 2, 3
        ORDER BY revenue DESC, l.l_orderkey
        LIMIT 10
    """
    # lang_mismatch: the langid_markers oracle as a subquery joined back
    # to the declared lang column
    d["lang_mismatch"] = f"""
        SELECT l.id, d.lang AS declared, l.pred_lang AS detected,
               l.marker_hits,
               (d.lang = l.pred_lang)::INT AS agree
        FROM ({d['langid_markers']}) l
        JOIN documents d ON d.doc_id = l.id
    """
    # phrase_search: positional postings + pos+1 adjacency join (bases
    # differ — Spark 0-, DuckDB 1-indexed — but only differences matter)
    d["phrase_search"] = f"""
        WITH tk AS (
          SELECT doc_id AS id,
                 unnest(string_split({_NORM}, ' ')) AS tok,
                 generate_subscripts(string_split({_NORM}, ' '), 1) AS pos
          FROM documents
        ),
        a AS (SELECT id, pos FROM tk WHERE tok = 'table'),
        b AS (SELECT id, pos FROM tk WHERE tok = 'scan')
        SELECT a.id, count(*)::BIGINT AS n_matches
        FROM a JOIN b ON b.id = a.id AND b.pos = a.pos + 1
        GROUP BY a.id
    """
    # event_paths: two leads per user in (ts, event_id) order, top-20
    # with the same lexicographic tie-break
    d["event_paths"] = """
        WITH e AS (SELECT user_id AS u, event_type AS t, ts, event_id
                   FROM events
                   WHERE user_id IS NOT NULL AND event_type IS NOT NULL),
        s AS (SELECT u, t AS step_1,
                     lead(t, 1) OVER (PARTITION BY u ORDER BY ts, event_id)
                       AS step_2,
                     lead(t, 2) OVER (PARTITION BY u ORDER BY ts, event_id)
                       AS step_3
              FROM e)
        SELECT step_1, step_2, step_3, count(*)::BIGINT AS n_paths
        FROM s WHERE step_3 IS NOT NULL
        GROUP BY 1, 2, 3
        ORDER BY n_paths DESC, step_1, step_2, step_3
        LIMIT 20
    """
    # preference_pairs: best/worst extremes per cluster via min/max with
    # id tie-breaks (argmin windows replayed as row_number = 1)
    d["preference_pairs"] = """
        WITH v AS (
          SELECT doc_id % 40 AS cluster, doc_id AS id,
                 length(coalesce(text, ''))::BIGINT AS score
          FROM documents
        ),
        best AS (SELECT cluster, id AS chosen_id, score AS chosen_score
                 FROM (SELECT *, row_number() OVER (
                         PARTITION BY cluster ORDER BY score DESC, id) AS rn
                       FROM v) WHERE rn = 1),
        worst AS (SELECT cluster, id AS rejected_id, score AS rejected_score
                  FROM (SELECT *, row_number() OVER (
                          PARTITION BY cluster ORDER BY score, id) AS rn
                        FROM v) WHERE rn = 1),
        n AS (SELECT cluster, count(*) AS n FROM v GROUP BY cluster)
        SELECT b.cluster, chosen_id, rejected_id, chosen_score,
               rejected_score,
               (chosen_score - rejected_score)::BIGINT AS gap
        FROM best b JOIN worst w ON w.cluster = b.cluster
             JOIN n ON n.cluster = b.cluster
        WHERE n.n >= 2 AND chosen_score - rejected_score >= 5
    """
    # badwords: broadcast token-dim join over exploded lowercased tokens
    d["badwords"] = r"""
        WITH toks AS (
          SELECT doc_id AS id,
                 unnest(string_split(trim(regexp_replace(
                   lower(coalesce(text, '')), '\s+', ' ', 'g')), ' ')) AS tok
          FROM documents
        ),
        tk AS (SELECT id, tok FROM toks WHERE tok != ''),
        per_doc AS (SELECT id, count(*)::BIGINT AS n_tokens
                    FROM tk GROUP BY id),
        bad AS (SELECT id, count(*)::BIGINT AS n_bad FROM tk
                WHERE tok IN ('slow', 'error', 'crash') GROUP BY id),
        j AS (
          SELECT d.doc_id AS id,
                 coalesce(p.n_tokens, 0) AS n_tokens,
                 coalesce(b.n_bad, 0) AS n_bad
          FROM documents d
          LEFT JOIN per_doc p ON p.id = d.doc_id
          LEFT JOIN bad b ON b.id = d.doc_id
        )
        SELECT id, n_tokens, n_bad,
               ((1000000 * n_bad) // greatest(n_tokens, 1))::BIGINT AS bad_ppm,
               ((1000000 * n_bad) // greatest(n_tokens, 1) <= 0)::INT AS keep
        FROM j
    """
    # video_scenes: the video_frames closed form + per-video lag; with
    # solid frames I = w*h*d exactly ((299+587+114)//1000 folds away)
    d["video_scenes"] = f"""
        WITH vf AS ({d['video_frames']}),
        i AS (SELECT id, frame_idx, width, height,
                     (299 * sum_r + 587 * sum_g + 114 * sum_b) // 1000 AS iv
              FROM vf),
        lagd AS (
          SELECT id, frame_idx, width, height, iv,
                 lag(iv) OVER (PARTITION BY id ORDER BY frame_idx) AS piv,
                 lag(frame_idx) OVER (PARTITION BY id ORDER BY frame_idx)
                   AS prev_idx
          FROM i
        )
        SELECT id, frame_idx::INT AS frame_idx, prev_idx::INT AS prev_idx,
               (abs(iv - piv) * 1000000 // (255 * width * height))::BIGINT
                 AS delta_ppm,
               (abs(iv - piv) * 1000000 // (255 * width * height)
                 >= 50000)::INT AS is_change
        FROM lagd WHERE piv IS NOT NULL
    """
    # MP4 box gate: the fixture's deterministic mvhd/tkhd fields
    d["video_meta"] = """
        SELECT doc_id AS id,
               CASE WHEN doc_id % 2 = 1 THEN 'mp42' ELSE 'isom' END AS brand,
               (600 + doc_id % 100)::BIGINT AS timescale,
               ((doc_id * 37) % 100000)::BIGINT AS duration,
               (doc_id % 640 + 16)::INT AS width,
               (doc_id % 360 + 16)::INT AS height,
               (((doc_id * 37) % 100000) * 1000 // (600 + doc_id % 100))::BIGINT
                 AS duration_ms
        FROM documents
    """
    d["mirror_domains"] = rf"""
        WITH corpus AS (
          SELECT 'd' || (doc_id % 20) AS domain, text FROM documents
          UNION ALL
          SELECT 'm' || (doc_id % 20), text FROM documents WHERE doc_id % 2 = 0
          UNION ALL
          SELECT 'd' || (doc_id % 20), 'template page' FROM documents
        ),
        pages AS (
          SELECT DISTINCT domain, md5({_NORM}) AS fp
          FROM corpus WHERE domain IS NOT NULL
        ),
        rare AS (SELECT fp FROM pages GROUP BY fp HAVING count(*) <= 3),
        kept AS (SELECT pages.domain, pages.fp FROM pages JOIN rare USING (fp)),
        sizes AS (SELECT domain, count(*)::BIGINT AS n FROM kept GROUP BY 1),
        prs AS (
          SELECT a.domain AS domain_a, b.domain AS domain_b,
                 count(*)::BIGINT AS shared
          FROM kept a JOIN kept b
            ON a.fp = b.fp AND a.domain < b.domain
          GROUP BY 1, 2 HAVING count(*) >= 5
        )
        SELECT domain_a, domain_b, shared, sa.n AS n_a, sb.n AS n_b,
               (1000000 * shared) // least(sa.n, sb.n) AS overlap_ppm
        FROM prs
        JOIN sizes sa ON sa.domain = prs.domain_a
        JOIN sizes sb ON sb.domain = prs.domain_b
    """
    d["translation_pairs"] = rf"""
        WITH pages AS (
          SELECT 'https://ex.org/p' || doc_id AS u, lang AS l,
                 len(string_split({_NORM}, ' '))::BIGINT AS n
          FROM documents
        ),
        alt AS (
          SELECT 'https://ex.org/p' || doc_id AS src,
                 'https://ex.org/p' || (doc_id + 1) AS dst
          FROM documents WHERE doc_id % 3 = 0
          UNION ALL
          SELECT 'https://ex.org/p' || (doc_id + 1),
                 'https://ex.org/p' || doc_id
          FROM documents WHERE doc_id % 6 = 0
        ),
        edges AS (
          SELECT DISTINCT least(src, dst) AS url_a, greatest(src, dst) AS url_b
          FROM alt WHERE src != dst
        ),
        j AS (
          SELECT url_a, url_b, pa.l AS lang_a, pb.l AS lang_b,
                 pa.n AS len_a, pb.n AS len_b
          FROM edges
          JOIN pages pa ON pa.u = url_a AND pa.n > 0
          JOIN pages pb ON pb.u = url_b AND pb.n > 0
          WHERE pa.l != pb.l
        )
        SELECT url_a, url_b, lang_a, lang_b, len_a, len_b,
               (100 * greatest(len_a, len_b)) // least(len_a, len_b)
                 AS len_ratio_pct
        FROM j
        WHERE (100 * greatest(len_a, len_b)) // least(len_a, len_b) <= 300
    """
    # sitemap parsing: islands first, fields per island (an entry with a
    # missing optional lastmod cannot desynchronize)
    d["sitemap_urls"] = r"""
        WITH x AS (
          SELECT doc_id AS id,
            '<?xml version="1.0"?><urlset>'
            || '<url><loc>https://d' || (doc_id % 30) || '.example/p'
            || doc_id || '</loc>'
            || CASE WHEN doc_id % 3 = 0
                 THEN '<lastmod>2026-0' || (doc_id % 9 + 1) || '-01</lastmod>'
                 ELSE '' END
            || '</url>'
            || CASE WHEN doc_id % 5 = 0
                 THEN '<url><loc>https://d' || (doc_id % 30) || '.example/extra'
                      || doc_id || '</loc></url>' ELSE '' END
            || CASE WHEN doc_id % 17 = 0
                 THEN '<url><lastmod>2026-01-01</lastmod></url>' ELSE '' END
            || '</urlset>' AS xml
          FROM documents
        ),
        e AS (SELECT id,
                     unnest(regexp_extract_all(xml, '(?s)<url>(.*?)</url>', 1))
                       AS entry
              FROM x),
        f AS (SELECT id,
                     regexp_extract(entry, '(?s)<loc>(.*?)</loc>', 1) AS loc,
                     regexp_extract(entry, '(?s)<lastmod>(.*?)</lastmod>', 1)
                       AS lm
              FROM e)
        SELECT id, loc, CASE WHEN lm != '' THEN lm END AS lastmod
        FROM f WHERE loc != ''
    """
    d["hreflang_links"] = """
        WITH h AS (
          SELECT doc_id AS id,
            '<link rel="alternate" hreflang="en" href="https://ex.org/'
            || (doc_id % 40) || '?lang=en">'
            || '<link rel="alternate" hreflang="de-AT" href="https://ex.org/'
            || (doc_id % 40) || '?lang=de">'
            || CASE WHEN doc_id % 4 = 0
                 THEN '<link rel="alternate" hreflang="x-default" href="https://ex.org/'
                      || (doc_id % 40) || '">' ELSE '' END AS html
          FROM documents
        ),
        ex AS (SELECT id,
                 regexp_extract_all(html,
                   '<link rel="alternate" hreflang="([A-Za-z0-9-]+)" href="([^"]*)"',
                   1) AS hls,
                 regexp_extract_all(html,
                   '<link rel="alternate" hreflang="([A-Za-z0-9-]+)" href="([^"]*)"',
                   2) AS hrefs
               FROM h)
        SELECT id, unnest(hls) AS hreflang, unnest(hrefs) AS href FROM ex
    """
    # boilerplate: distinct (domain, line, page) then per-domain page-share
    d["boilerplate"] = """
        WITH pages AS (
          SELECT doc_id AS id, 'd' || (doc_id % 25) AS domain,
                 'nav menu' || chr(10)
                 || replace(trim(text), ' the ', chr(10)) AS text
          FROM documents
        ),
        arrs AS (
          SELECT id, domain,
                 list_filter(list_transform(string_split(text, chr(10)),
                                            x -> trim(x)),
                             x -> x != '') AS lines
          FROM pages
        ),
        ln AS (SELECT DISTINCT id, domain, unnest(lines) AS line FROM arrs),
        dp AS (SELECT domain, count(DISTINCT id)::BIGINT AS domain_pages
               FROM pages GROUP BY domain
               HAVING count(DISTINCT id) >= 2),
        c AS (SELECT domain, line, count(*)::BIGINT AS n_pages
              FROM ln GROUP BY domain, line)
        SELECT c.domain, c.line, c.n_pages, dp.domain_pages,
               (c.n_pages * 1000000) // dp.domain_pages AS ratio_ppm
        FROM c JOIN dp USING (domain)
        WHERE (c.n_pages * 1000000) // dp.domain_pages >= 300000
    """
    d["domain_policy"] = """
        WITH pages AS (
          SELECT CASE WHEN doc_id % 997 = 0 THEN 'tiny'
                      ELSE 'd' || (doc_id % 25) END AS domain,
                 ((doc_id % 25) * 37000 + (doc_id % 13))::BIGINT AS score,
                 (doc_id % 13) < (doc_id % 25) AS keep
          FROM documents
        ),
        a AS (SELECT domain, count(*)::BIGINT AS n_pages,
                     sum(score)::BIGINT AS s,
                     sum(CASE WHEN keep THEN 1 ELSE 0 END)::BIGINT AS kept
              FROM pages
              WHERE domain IS NOT NULL AND score IS NOT NULL
              GROUP BY domain)
        SELECT domain, n_pages,
               s // n_pages AS mean_score,
               (kept * 1000000) // n_pages AS keep_ppm,
               CASE WHEN n_pages < 100 THEN 'review'
                    WHEN s // n_pages >= 400000
                         AND (kept * 1000000) // n_pages >= 500000 THEN 'keep'
                    ELSE 'drop' END AS verdict
        FROM a
    """
    # retrieval_metrics: the SAME driver-computed integer discount table
    # the operator embeds (evalmetrics.discount_table), as CASE literals
    from dss_plugin_nlp_analysis_spark.operators.evalmetrics import discount_table

    _disc = discount_table(10)
    _disc_rank = (
        "CASE rank "
        + " ".join(f"WHEN {i + 1} THEN {v}" for i, v in enumerate(_disc))
        + " ELSE 0 END"
    )
    _disc_pos = (
        "CASE rr "
        + " ".join(f"WHEN {i + 1} THEN {v}" for i, v in enumerate(_disc))
        + " ELSE 0 END"
    )
    d["retrieval_metrics"] = f"""
        WITH pairs AS (
          SELECT DISTINCT user_id % 20 AS query_id, event_id % 50 AS doc_id
          FROM events
        ),
        ranked AS (
          SELECT query_id, doc_id,
                 row_number() OVER (
                   PARTITION BY query_id
                   ORDER BY (doc_id * 13 + query_id) % 97, doc_id
                 ) AS rank
          FROM pairs
        ),
        runs AS (SELECT query_id, doc_id, rank FROM ranked WHERE rank <= 10),
        qr AS (
          SELECT * FROM (
            SELECT query_id, doc_id,
                   CASE (doc_id + query_id) % 5
                        WHEN 0 THEN 2 WHEN 1 THEN 1 ELSE 0 END AS rel
            FROM pairs
          ) WHERE rel > 0
        ),
        j AS (
          SELECT qr.query_id, qr.rel, r.rank
          FROM qr LEFT JOIN runs r
            ON r.query_id = qr.query_id AND r.doc_id = qr.doc_id
        ),
        agg AS (
          SELECT query_id,
                 count(*)::BIGINT AS n_rel,
                 sum(CASE WHEN rank IS NOT NULL AND rank <= 10
                          THEN 1 ELSE 0 END)::BIGINT AS hits_at_k,
                 min(rank) AS first_rank,
                 sum(CASE WHEN rank IS NOT NULL AND rank <= 10
                          THEN rel * ({_disc_rank})
                          ELSE 0 END)::BIGINT AS dcg_micro
          FROM j GROUP BY query_id
        ),
        ideal AS (
          SELECT query_id, rel,
                 row_number() OVER (
                   PARTITION BY query_id ORDER BY rel DESC
                 ) AS rr
          FROM qr
        ),
        idcg AS (
          SELECT query_id, sum(rel * ({_disc_pos}))::BIGINT AS idcg_micro
          FROM ideal WHERE rr <= 10 GROUP BY query_id
        )
        SELECT a.query_id, a.n_rel, a.hits_at_k,
               (1000000 * a.hits_at_k) // a.n_rel AS recall_at_k_ppm,
               (CASE WHEN a.first_rank IS NULL THEN 0
                     ELSE 1000000 // a.first_rank END)::BIGINT AS mrr_ppm,
               a.dcg_micro,
               i.idcg_micro,
               (CASE WHEN i.idcg_micro > 0
                     THEN (1000000 * a.dcg_micro) // i.idcg_micro
                     ELSE 0 END)::BIGINT AS ndcg_ppm
        FROM agg a JOIN idcg i USING (query_id)
    """
    # bigram_lm: stupid-backoff counts trained on the even-doc_id half
    d["bigram_lm"] = f"""
        WITH corpus AS (SELECT doc_id AS id, {_NORM} AS t FROM documents),
        words AS (
          SELECT id, list_filter(string_split(t, ' '), x -> x != '') AS w
          FROM corpus
        ),
        tokt AS (
          SELECT id, unnest(w) AS wd, generate_subscripts(w, 1) AS pos
          FROM words WHERE id % 2 = 0
        ),
        uni AS (SELECT wd AS u, count(*)::BIGINT AS c FROM tokt GROUP BY 1),
        tot AS (SELECT sum(c)::BIGINT AS n_total FROM uni),
        bgt AS (
          SELECT a.wd AS w1, b.wd AS w2
          FROM tokt a JOIN tokt b ON b.id = a.id AND b.pos = a.pos + 1
        ),
        bc AS (SELECT w1, w2, count(*)::BIGINT AS c12 FROM bgt GROUP BY 1, 2),
        tok AS (
          SELECT id, unnest(w) AS wd, generate_subscripts(w, 1) AS pos
          FROM words
        ),
        bg AS (
          SELECT a.id, a.wd AS w1, b.wd AS w2
          FROM tok a JOIN tok b ON b.id = a.id AND b.pos = a.pos + 1
        ),
        sc AS (
          SELECT bg.id,
                 CASE WHEN bc.c12 IS NOT NULL
                      THEN (1000000 * bc.c12) // u1.c
                      ELSE (400000 * coalesce(u2.c, 0)) // t.n_total
                 END AS score_ppm,
                 CASE WHEN bc.c12 IS NULL THEN 1 ELSE 0 END AS backoff
          FROM bg
          LEFT JOIN bc ON bc.w1 = bg.w1 AND bc.w2 = bg.w2
          LEFT JOIN uni u1 ON u1.u = bg.w1
          LEFT JOIN uni u2 ON u2.u = bg.w2
          CROSS JOIN tot t
        ),
        agg AS (
          SELECT id, count(*)::BIGINT AS n_bigrams,
                 sum(backoff)::BIGINT AS n_backoff,
                 sum(score_ppm)::BIGINT AS score_sum_ppm
          FROM sc GROUP BY 1
        )
        SELECT w.id,
               coalesce(a.n_bigrams, 0)::BIGINT AS n_bigrams,
               coalesce(a.n_backoff, 0)::BIGINT AS n_backoff,
               coalesce(a.score_sum_ppm, 0)::BIGINT AS score_sum_ppm,
               (CASE WHEN coalesce(a.n_bigrams, 0) > 0
                     THEN a.score_sum_ppm // a.n_bigrams
                     ELSE 0 END)::BIGINT AS avg_score_ppm
        FROM words w LEFT JOIN agg a USING (id)
    """
    d["bpe_train"] = _bpe_oracle(3)
    d["node2vec_walks"] = _node2vec_oracle(steps=3, p=2, q=3)
    # resolve_redirects: recursive-CTE walk of the same functional graph,
    # hop cap 64 = the operator's 2^6 doubling budget
    d["resolve_redirects"] = """
        WITH RECURSIVE m0 AS (
          SELECT DISTINCT 'u' || (doc_id % 97) AS u,
                          'u' || ((doc_id % 97) // 2) AS v
          FROM documents WHERE doc_id % 97 >= 1
          UNION
          SELECT * FROM (VALUES ('c1', 'c2'), ('c2', 'c1')) t(u, v)
        ),
        mm AS (SELECT u, min(v) AS v FROM m0 WHERE u != v GROUP BY u),
        walk(u, cur, hops) AS (
          SELECT u, v, 1::BIGINT FROM mm
          UNION ALL
          SELECT w.u, m2.v, w.hops + 1
          FROM walk w JOIN mm m2 ON m2.u = w.cur
          WHERE w.hops < 64
        ),
        fin AS (
          SELECT w.u, w.cur, w.hops
          FROM walk w LEFT JOIN mm t ON t.u = w.cur
          WHERE t.u IS NULL
        )
        SELECT u AS url, cur AS final_url, hops, 1::INT AS resolved FROM fin
        UNION ALL
        SELECT w.u, w.cur, 64::BIGINT, 0::INT
        FROM walk w
        WHERE w.hops = 64
          AND NOT EXISTS (SELECT 1 FROM fin f WHERE f.u = w.u)
    """
    # readability: identical regex counts + integer FK formula
    d["readability"] = f"""
        WITH base AS (
          SELECT doc_id AS id,
                 list_filter(string_split({_NORM}, ' '), x -> x != '') AS w,
                 len(regexp_extract_all({_NORM}, '[.!?]+')) AS raw_sents
          FROM documents
        ),
        c AS (
          SELECT id,
                 len(w)::BIGINT AS n_words,
                 (CASE WHEN len(w) > 0 THEN greatest(raw_sents, 1)
                       ELSE 0 END)::BIGINT AS n_sentences,
                 (CASE WHEN len(w) > 0 THEN
                    list_sum(list_transform(w, x ->
                      greatest(len(regexp_extract_all(x, '[aeiouy]+')), 1)))
                  ELSE 0 END)::BIGINT AS n_syllables
          FROM base
        )
        SELECT id, n_words, n_sentences, n_syllables,
               (CASE WHEN n_words > 0 THEN
                  390000 * n_words // n_sentences
                  + 11800000 * n_syllables // n_words - 15590000
                ELSE 0 END)::BIGINT AS fk_grade_micro
        FROM c
    """
    # semantic_dedup: assign to first-16-by-id centroids (argmax cosine,
    # tie -> lowest cid), within-cluster pairs, drop ids dominated by a
    # smaller near-identical one
    d["semantic_dedup"] = """
        WITH planted AS (
          SELECT vec_id, embedding FROM embeddings
          UNION ALL
          SELECT vec_id + 10000,
                 list_transform(embedding, x -> x * 2.0)::FLOAT[]
          FROM embeddings
        ),
        cent AS (
          SELECT vec_id AS ccid, embedding AS cemb
          FROM planted ORDER BY vec_id LIMIT 16
        ),
        asgn AS (
          SELECT vec_id, cid FROM (
            SELECT p.vec_id, c.ccid AS cid,
                   row_number() OVER (PARTITION BY p.vec_id
                     ORDER BY list_cosine_similarity(p.embedding::DOUBLE[],
                                                     c.cemb::DOUBLE[]) DESC,
                              c.ccid) AS r
            FROM planted p CROSS JOIN cent c
          ) WHERE r = 1
        ),
        dom AS (
          SELECT DISTINCT b.vec_id AS id
          FROM asgn a JOIN asgn b ON a.cid = b.cid AND a.vec_id < b.vec_id
          JOIN planted pa ON pa.vec_id = a.vec_id
          JOIN planted pb ON pb.vec_id = b.vec_id
          WHERE list_cosine_similarity(pa.embedding::DOUBLE[],
                                       pb.embedding::DOUBLE[]) >= 0.95
        )
        SELECT a.vec_id, a.cid,
               (CASE WHEN d.id IS NULL THEN 1 ELSE 0 END)::INT AS keep
        FROM asgn a LEFT JOIN dom d ON d.id = a.vec_id
    """
    # scc: mutual reachability closure (recursive CTE); scc_id(v) = the
    # minimum u with v->u AND u->v, v itself included
    d["scc"] = """
        WITH RECURSIVE g AS (
          SELECT DISTINCT user_id % 30 AS src, event_id % 30 AS dst
          FROM events WHERE user_id % 30 != event_id % 30
        ),
        nodes AS (SELECT src AS node FROM g UNION SELECT dst FROM g),
        reach(a, b) AS (
          SELECT src, dst FROM g
          UNION
          SELECT r.a, g.dst FROM reach r JOIN g ON g.src = r.b
        ),
        mutual AS (
          SELECT node AS v, node AS u FROM nodes
          UNION
          SELECT r1.a, r1.b FROM reach r1
          WHERE EXISTS (SELECT 1 FROM reach r2
                        WHERE r2.a = r1.b AND r2.b = r1.a)
        )
        SELECT v AS node, min(u)::BIGINT AS scc_id FROM mutual GROUP BY v
    """
    # transe_margin: the kg_negatives oracle as a subquery (the two gates
    # share one negative-sampling truth), plus the identical md5 integer
    # embedding arithmetic expanded per dimension

    def _transe_energy(tail: str, dims: int = 4, scale: int = 100) -> str:
        m = 2 * scale + 1

        def comp(kind: str, col: str, dd: int) -> str:
            return (
                f"(('0x' || substr(md5('{kind}|{dd}|' || {col}::VARCHAR),"
                f" 1, 15))::BIGINT % {m} - {scale})"
            )

        terms = [
            f"abs({comp('ent', 'subj', dd)} + {comp('rel', 'pred', dd)}"
            f" - {comp('ent', tail, dd)})"
            for dd in range(dims)
        ]
        return "(" + " + ".join(terms) + ")"

    _e_pos, _e_neg = _transe_energy("obj"), _transe_energy("neg_obj")
    d["transe_margin"] = f"""
        SELECT subj, pred, obj, neg_obj, neg_rank,
               {_e_pos}::BIGINT AS pos_energy,
               {_e_neg}::BIGINT AS neg_energy,
               ({_e_neg} - {_e_pos})::BIGINT AS margin
        FROM ({d['kg_negatives']})
    """
    # recrawl: per-url change rate over the multi-snapshot view (lag in
    # (ts, fingerprint) order) x whole-day staleness vs the corpus max ts
    d["recrawl"] = """
        WITH snap AS (
          SELECT 'u' || (doc_id % 500)::VARCHAR AS url,
                 TIMESTAMP '2026-01-01'
                   + (doc_id % 17) * INTERVAL 1 DAY AS ts,
                 md5(coalesce(text, '')) AS fingerprint
          FROM documents
        ),
        lagd AS (
          SELECT url, ts, fingerprint,
                 lag(fingerprint) OVER (
                   PARTITION BY url ORDER BY ts, fingerprint) AS prev_fp
          FROM snap
        ),
        per_url AS (
          SELECT url,
                 count(*)::BIGINT AS n_snapshots,
                 sum(CASE WHEN prev_fp IS NOT NULL
                           AND prev_fp != fingerprint
                          THEN 1 ELSE 0 END)::BIGINT AS n_changes,
                 max(ts) AS last_ts
          FROM lagd GROUP BY url
        ),
        mx AS (SELECT max(ts) AS corpus_max_ts FROM snap),
        j AS (
          SELECT url, n_snapshots, n_changes,
                 CASE WHEN n_snapshots > 1
                      THEN (1000000 * n_changes) // (n_snapshots - 1)
                      ELSE 0 END AS change_rate_ppm,
                 (epoch(corpus_max_ts)::BIGINT - epoch(last_ts)::BIGINT)
                   // 86400 AS staleness_days
          FROM per_url CROSS JOIN mx
        )
        SELECT url, n_snapshots, n_changes,
               change_rate_ppm::BIGINT AS change_rate_ppm,
               staleness_days::BIGINT AS staleness_days,
               (change_rate_ppm * (1 + staleness_days))::BIGINT AS priority
        FROM j
    """
    # ontology_align: demo ontology vs its '_v2 release' (drop 'slow',
    # add 'fast merge') — shared-keyword blocking + integer-ppm Jaccard
    d["ontology_align"] = f"""
        WITH {onto},
        lhs AS (SELECT DISTINCT tag AS tag_left,
                       lower(trim(keyword)) AS kw FROM onto),
        rhs AS (SELECT DISTINCT tag || '_v2' AS tag_right,
                       lower(trim(keyword)) AS kw
                FROM (SELECT tag, keyword FROM onto WHERE keyword != 'slow'
                      UNION ALL SELECT 'merge_op', 'fast merge')),
        sl AS (SELECT tag_left, count(*)::BIGINT AS size_left
               FROM lhs GROUP BY 1),
        sr AS (SELECT tag_right, count(*)::BIGINT AS size_right
               FROM rhs GROUP BY 1),
        sh AS (SELECT tag_left, tag_right, count(*)::BIGINT AS shared
               FROM lhs JOIN rhs USING (kw) GROUP BY 1, 2)
        SELECT tag_left, tag_right, shared, size_left, size_right,
               ((1000000 * shared)
                 // (size_left + size_right - shared))::BIGINT AS jaccard_ppm
        FROM sh JOIN sl USING (tag_left) JOIN sr USING (tag_right)
        WHERE (1000000 * shared) // (size_left + size_right - shared) >= 1
    """
    # transe_hits: filtered link-prediction ranks over the 50-entity
    # doc-id-derived KG — same per-dim md5 arithmetic, candidates that
    # are other true tails removed via NOT EXISTS
    _eh_c = _transe_energy("cand", dims=2)
    _eh_p = _transe_energy("obj", dims=2)
    d["transe_hits"] = f"""
        WITH tr AS (
          SELECT DISTINCT 'e' || (doc_id % 50)::VARCHAR AS subj,
                 'p' || (doc_id % 3)::VARCHAR AS pred,
                 'e' || ((doc_id * 7) % 50)::VARCHAR AS obj
          FROM documents
        ),
        ents AS (SELECT DISTINCT obj AS cand FROM tr),
        c AS (
          SELECT t.subj, t.pred, t.obj, e.cand
          FROM tr t CROSS JOIN ents e
          WHERE NOT EXISTS (
            SELECT 1 FROM tr f
            WHERE f.subj = t.subj AND f.pred = t.pred
              AND f.obj = e.cand AND e.cand != t.obj)
        ),
        s AS (SELECT subj, pred, obj, cand,
                     {_eh_c} AS ce, {_eh_p} AS pe FROM c),
        r AS (
          SELECT subj, pred, obj,
                 (1 + sum(CASE WHEN cand != obj
                                AND (ce < pe OR (ce = pe AND cand < obj))
                               THEN 1 ELSE 0 END))::BIGINT AS rank
          FROM s GROUP BY 1, 2, 3
        )
        SELECT subj, pred, obj, rank,
               (rank <= 1)::INT AS hits1,
               (rank <= 3)::INT AS hits3,
               (rank <= 10)::INT AS hits10
        FROM r
    """
    # crawl_schedule: the recrawl oracle as a subquery, bucketed into
    # 10 synthetic domains, per-domain row_number into budget-5 waves
    d["crawl_schedule"] = f"""
        WITH pr AS (
          SELECT url,
                 'd' || (substr(url, 2)::INT % 10)::VARCHAR AS domain,
                 priority
          FROM ({d['recrawl']})
        ),
        rk AS (
          SELECT url, domain, priority,
                 row_number() OVER (
                   PARTITION BY domain
                   ORDER BY priority DESC NULLS LAST, url
                 )::BIGINT AS rank_in_domain
          FROM pr
        )
        SELECT url, domain, priority, rank_in_domain,
               ((rank_in_domain - 1) // 5)::BIGINT AS wave
        FROM rk
    """
    # cluster_reps: the dup_clusters recursive-CTE components as a
    # subquery (one clustering truth for both gates) + per-cluster
    # argmax(score desc, id asc) survivor
    d["cluster_reps"] = f"""
        WITH {_CORPUS_MUT},
        rows_ AS (
          SELECT cl.id, cl.cluster_id, length(c.t)::BIGINT AS score
          FROM ({d['dup_clusters']}) cl JOIN corpus c ON c.id = cl.id
        ),
        w AS (
          SELECT cluster_id, id AS rep FROM (
            SELECT cluster_id, id,
                   row_number() OVER (PARTITION BY cluster_id
                     ORDER BY score DESC, id) AS rn
            FROM rows_)
          WHERE rn = 1
        )
        SELECT r.id, r.cluster_id, r.score,
               (CASE WHEN r.id = w.rep THEN 1 ELSE 0 END)::INT AS keep
        FROM rows_ r JOIN w USING (cluster_id)
    """
    # co_citation: wedge self-join on the citing page over the events
    # link graph, out-degree cap 40, unordered pairs once
    d["co_citation"] = """
        WITH e AS (
          SELECT DISTINCT user_id AS p, event_id % 150 AS n
          FROM events
          WHERE user_id IS NOT NULL AND event_id IS NOT NULL
            AND user_id != event_id % 150
        ),
        deg AS (SELECT p, count(*) AS d FROM e GROUP BY p),
        ec AS (SELECT e.p, e.n FROM e JOIN deg USING (p) WHERE d <= 40),
        pr AS (SELECT a.n AS node_a, b.n AS node_b
               FROM ec a JOIN ec b ON a.p = b.p AND a.n < b.n)
        SELECT node_a, node_b, count(*)::BIGINT AS shared
        FROM pr GROUP BY 1, 2 HAVING count(*) >= 2
    """
    # kg_constraints: shape check via regexp_full_match (same anchored
    # semantics as Spark's ^(?:pat)$), functional check via distinct +
    # count > 1; NOT an f-string (the regex braces stay literal)
    d["kg_constraints"] = (
        r"""
        WITH t AS (
          SELECT 'e' || (doc_id % 100)::VARCHAR AS subj,
                 CASE doc_id % 3 WHEN 0 THEN 'born_year'
                                 WHEN 1 THEN 'homepage'
                                 ELSE 'related' END AS pred,
                 CASE doc_id % 3
                   WHEN 0 THEN CASE WHEN doc_id % 7 = 0 THEN 'purple'
                                    ELSE (1900 + doc_id % 120)::VARCHAR END
                   WHEN 1 THEN 'https://h' || (doc_id % 40)::VARCHAR
                             || CASE WHEN doc_id % 11 = 0
                                     THEN '.org' ELSE '.com' END
                   ELSE 'e' || ((doc_id * 3) % 100)::VARCHAR
                 END AS obj
          FROM documents
        ),
        r(pred, pat, fn) AS (VALUES
          ('born_year', '[0-9]{4}', 1),
          ('homepage', 'https://[a-z0-9]+\.com', 0)),
        c AS (SELECT t.subj, t.pred, t.obj, r.pat, r.fn
              FROM t JOIN r USING (pred)),
        shape AS (
          SELECT subj, pred, obj, 'shape' AS violation FROM c
          WHERE pat IS NOT NULL AND NOT regexp_full_match(obj, pat)
        ),
        fp AS (SELECT DISTINCT subj, pred, obj FROM c WHERE fn = 1),
        fc AS (SELECT subj, pred, count(*) AS n FROM fp GROUP BY 1, 2),
        fv AS (SELECT fp.subj, fp.pred, fp.obj, 'functional' AS violation
               FROM fp JOIN fc USING (subj, pred) WHERE n > 1)
        SELECT * FROM shape UNION ALL SELECT * FROM fv
    """
    )
    # local_clustering: the degree-orientation triangle enumeration of
    # graph.triangle_count with corners kept — orientation and wedge
    # order are (deg, id) tuple comparisons on both engines
    d["local_clustering"] = """
        WITH e0 AS (
          SELECT DISTINCT least(user_id, event_id % 150) AS a,
                 greatest(user_id, event_id % 150) AS b
          FROM events WHERE user_id != event_id % 150
        ),
        deg AS (SELECT node, count(*) AS deg FROM (
                  SELECT a AS node FROM e0
                  UNION ALL SELECT b FROM e0) GROUP BY 1),
        r AS (
          SELECT CASE WHEN (da.deg, e0.a) < (db.deg, e0.b)
                      THEN e0.a ELSE e0.b END AS u,
                 CASE WHEN (da.deg, e0.a) < (db.deg, e0.b)
                      THEN e0.b ELSE e0.a END AS v,
                 CASE WHEN (da.deg, e0.a) < (db.deg, e0.b)
                      THEN db.deg ELSE da.deg END AS dv
          FROM e0 JOIN deg da ON da.node = e0.a
                  JOIN deg db ON db.node = e0.b
        ),
        w AS (SELECT r1.u, r1.v AS v1, r2.v AS v2
              FROM r r1 JOIN r r2
                ON r1.u = r2.u AND (r1.dv, r1.v) < (r2.dv, r2.v)),
        tri AS (SELECT w.u, w.v1, w.v2
                FROM w JOIN r c ON c.u = w.v1 AND c.v = w.v2),
        tc AS (SELECT node, count(*)::BIGINT AS n_triangles FROM (
                 SELECT u AS node FROM tri
                 UNION ALL SELECT v1 FROM tri
                 UNION ALL SELECT v2 FROM tri) GROUP BY 1)
        SELECT d.node, d.deg::BIGINT AS deg,
               coalesce(tc.n_triangles, 0)::BIGINT AS n_triangles,
               (CASE WHEN d.deg >= 2
                     THEN (2000000 * coalesce(tc.n_triangles, 0))
                          // (d.deg * (d.deg - 1))
                     ELSE 0 END)::BIGINT AS cc_ppm
        FROM deg d LEFT JOIN tc USING (node)
    """
    # reciprocity: reversed-key self-join over the distinct directed
    # simple graph
    d["reciprocity"] = """
        WITH e AS (
          SELECT DISTINCT user_id AS s, event_id % 150 AS d
          FROM events
          WHERE user_id IS NOT NULL AND event_id IS NOT NULL
            AND user_id != event_id % 150
        )
        SELECT e.s AS node, count(*)::BIGINT AS out_deg,
               sum(CASE WHEN r.s IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
                 AS n_reciprocal,
               ((1000000 * sum(CASE WHEN r.s IS NOT NULL THEN 1 ELSE 0 END))
                 // count(*))::BIGINT AS reciprocity_ppm
        FROM e LEFT JOIN e r ON r.s = e.d AND r.d = e.s
        GROUP BY 1
    """
    # resource_alloc: per-pivot floor-ppm contribution (10^6 // deg)
    # summed over shared neighbors — wedge join with pivot-degree cap
    d["resource_alloc"] = """
        WITH e0 AS (
          SELECT DISTINCT least(user_id, event_id % 150) AS a,
                 greatest(user_id, event_id % 150) AS b
          FROM events WHERE user_id != event_id % 150
        ),
        adj AS (SELECT a AS z, b AS n FROM e0
                UNION ALL SELECT b, a FROM e0),
        deg AS (SELECT z, count(*) AS deg FROM adj GROUP BY 1),
        p AS (SELECT z, deg FROM deg WHERE deg <= 40),
        w AS (
          SELECT a1.n AS node_a, a2.n AS node_b, p.deg
          FROM adj a1 JOIN p USING (z) JOIN adj a2 USING (z)
          WHERE a1.n < a2.n
        )
        SELECT node_a, node_b,
               sum(1000000 // deg)::BIGINT AS ra_ppm
        FROM w GROUP BY 1, 2
        HAVING sum(1000000 // deg) >= 10000
    """
    # katz: the pagerank unroll without the out-degree split — same
    # int64 sum/floor-division portability argument
    _kz = [f"WITH {_LINK_EDGES},",
           "\n    nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),",
           "\n    r0 AS (SELECT node, 1000000::BIGINT AS rank FROM nodes)"]
    for _i in range(1, 4):
        _kz.append(f""",
    i{_i} AS (SELECT e.dst AS node, sum(r.rank)::BIGINT AS incoming
             FROM e JOIN r{_i - 1} r ON r.node = e.src GROUP BY e.dst),
    r{_i} AS (SELECT n.node,
                    (1000000::BIGINT
                     + (1 * coalesce(i{_i}.incoming, 0)) // 4)::BIGINT AS rank
             FROM nodes n LEFT JOIN i{_i} ON i{_i}.node = n.node)""")
    _kz.append("\n    SELECT node, rank AS katz_micro FROM r3")
    d["katz"] = "".join(_kz)
    # headings / meta_robots: shared synthesized page (see
    # _structured_outline_html), identical patterns on both engines
    _outline_html = """
        h AS (
          SELECT doc_id AS id,
            '<h1 class="t">Title ' || (doc_id % 50) || '</h1><p>x</p><h2>Sec '
            || (doc_id % 7) || '</h2>'
            || CASE WHEN doc_id % 5 = 0 THEN '<h2><b>rich</b></h2>' ELSE '' END
            || CASE WHEN doc_id % 3 = 0
                    THEN '<h3>Deep ' || (doc_id % 11) || '</h3>' ELSE '' END
            || CASE WHEN doc_id % 4 = 0
                    THEN '<meta name="robots" content="noindex, nofollow">'
                    WHEN doc_id % 4 = 1
                    THEN '<meta name="robots" content="index, follow">'
                    WHEN doc_id % 4 = 2
                    THEN '<meta name="robots" content="none">'
                    ELSE '' END AS html
          FROM documents
        )
    """
    d["headings"] = f"""
        WITH {_outline_html},
        ex AS (SELECT id,
                 regexp_extract_all(html, '<h([1-6])[^>]*>[^<]*</h[1-6]>', 1) AS lv,
                 regexp_extract_all(html, '<h[1-6][^>]*>([^<]*)</h[1-6]>', 1) AS tx
               FROM h),
        u AS (SELECT id, unnest(lv) AS lvl, unnest(tx) AS txt,
                     generate_subscripts(lv, 1) AS pos
              FROM ex)
        SELECT id, pos::BIGINT AS pos, lvl::BIGINT AS level, txt AS text
        FROM u
    """
    d["meta_robots"] = f"""
        WITH {_outline_html},
        m AS (SELECT id,
                nullif(regexp_extract(html,
                  '<meta name="robots" content="([^"]*)"', 1), '') AS raw
              FROM h),
        t AS (SELECT id, raw, lower(coalesce(raw, '')) AS toks FROM m)
        SELECT id,
          (regexp_matches(toks, '(^|[,\\s])(?:noindex)([,\\s]|$)')
             OR regexp_matches(toks, '(^|[,\\s])(?:none)([,\\s]|$)'))::INT
            AS noindex,
          (regexp_matches(toks, '(^|[,\\s])(?:nofollow)([,\\s]|$)')
             OR regexp_matches(toks, '(^|[,\\s])(?:none)([,\\s]|$)'))::INT
            AS nofollow,
          raw AS directives
        FROM t
    """
    # image_dhash / image_dups: replay the resize index map
    # (min(((2t+1)*src)//(2*size), src-1)), integer luma, and
    # two's-complement bit packing over reconstructed P6 pixel strings;
    # one chain builder so the two gates share the hash truth

    def _dhash_chain(base: str, seed: str) -> str:
        return f"""
        img AS (
          SELECT doc_id AS id,
                 (({base}) % 13 + 2)::BIGINT AS w,
                 (({base}) % 7 + 2)::BIGINT AS h,
                 substring(repeat(md5({seed}), 11), 1,
                   ((({base}) % 13 + 2) * (({base}) % 7 + 2) * 3)::INT) AS px
          FROM documents
        ),
        g AS (SELECT a.x, b.y
              FROM (SELECT unnest(generate_series(0, 7)) AS x) a,
                   (SELECT unnest(generate_series(0, 7)) AS y) b),
        p AS (
          SELECT id, w, px, x, y,
                 least(((2 * x + 1) * w) // 18, w - 1) AS sx1,
                 least(((2 * (x + 1) + 1) * w) // 18, w - 1) AS sx2,
                 least(((2 * y + 1) * h) // 16, h - 1) AS sy
          FROM img CROSS JOIN g
        ),
        l AS (
          SELECT id, x, y,
            (299 * ascii(substr(px, ((sy * w + sx1) * 3 + 1)::INT, 1))
             + 587 * ascii(substr(px, ((sy * w + sx1) * 3 + 2)::INT, 1))
             + 114 * ascii(substr(px, ((sy * w + sx1) * 3 + 3)::INT, 1)))
              // 1000 AS l1,
            (299 * ascii(substr(px, ((sy * w + sx2) * 3 + 1)::INT, 1))
             + 587 * ascii(substr(px, ((sy * w + sx2) * 3 + 2)::INT, 1))
             + 114 * ascii(substr(px, ((sy * w + sx2) * 3 + 3)::INT, 1)))
              // 1000 AS l2
          FROM p
        ),
        hsh AS (SELECT id,
                  sum(CASE WHEN l1 > l2 THEN
                        CASE WHEN y * 8 + x = 63
                             THEN (-9223372036854775807 - 1)::BIGINT
                             ELSE (1::BIGINT << (y * 8 + x)) END
                      ELSE 0 END)::BIGINT AS dhash
                FROM l GROUP BY id)"""

    d["image_dhash"] = f"""
        WITH {_dhash_chain("doc_id", "coalesce(text, '')")}
        SELECT i.id, i.w::INT AS width, (i.h)::INT AS height,
               coalesce(hsh.dhash, 0)::BIGINT AS dhash
        FROM img i JOIN hsh USING (id)
    """
    _pid = "doc_id - doc_id % 2"
    d["image_dups"] = f"""
        WITH {_dhash_chain(_pid, f"cast({_pid} as varchar)")},
        bk AS (
          SELECT id, b || '|' || (((dhash >> (b * 16)) & 65535))::VARCHAR
                   AS band_key
          FROM hsh, (SELECT unnest(generate_series(0, 3)) AS b)
        ),
        small AS (SELECT band_key FROM bk GROUP BY band_key
                  HAVING count(*) <= 1000),
        bks AS (SELECT bk.id, bk.band_key
                FROM bk JOIN small USING (band_key))
        SELECT DISTINCT x.id AS id_a, y.id AS id_b
        FROM bks x JOIN bks y
          ON x.band_key = y.band_key AND x.id < y.id
    """
    # acronyms: same candidate regex; the initials check replays as a
    # per-position unnest + bool_and, site-keyed so duplicate definition
    # sites within one page stay distinct rows (plain string: regex
    # braces)
    d["acronyms"] = r"""
        WITH s AS (
          SELECT doc_id AS id,
            'knowledge graph (KG) rank ' || (doc_id % 7)
            || CASE WHEN doc_id % 4 = 0 THEN ' united nations (UN) met'
                    WHEN doc_id % 4 = 1 THEN ' the big company (IBM) said'
                    WHEN doc_id % 4 = 2
                    THEN ' world health organization (WHO) warns'
                    ELSE '' END AS t
          FROM documents
        ),
        c AS (SELECT id,
                regexp_extract_all(t,
                  '((?:[A-Za-z]+ ){1,5})\(([A-Z]{2,5})\)', 1) AS ph,
                regexp_extract_all(t,
                  '((?:[A-Za-z]+ ){1,5})\(([A-Z]{2,5})\)', 2) AS ac
              FROM s),
        u AS (SELECT id, generate_subscripts(ph, 1) AS site,
                     trim(unnest(ph)) AS phrase, unnest(ac) AS acr
              FROM c),
        w AS (SELECT id, site, acr, string_split(phrase, ' ') AS words
              FROM u),
        t2 AS (SELECT id, site, acr,
                      list_slice(words, len(words) - length(acr) + 1,
                                 len(words)) AS tail,
                      len(words) AS nw
               FROM w),
        chk AS (
          SELECT id, site, acr, tail,
                 bool_and(upper(substr(tail[i], 1, 1))
                          = substr(acr, i, 1)) AS ok
          FROM t2, (SELECT unnest(generate_series(1, 5)) AS i) g
          WHERE i <= length(acr) AND nw >= length(acr)
          GROUP BY id, site, acr, tail
        )
        SELECT id, acr AS acronym,
               lower(array_to_string(tail, ' ')) AS expansion
        FROM chk WHERE ok
    """
    # event_percentiles: percentile_disc via per-group value histogram +
    # cumulative window; threshold index = ceil(p*n/100) in integers
    d["event_percentiles"] = """
        WITH v AS (SELECT event_type AS g, (event_id % 100)::BIGINT AS m
                   FROM events
                   WHERE event_type IS NOT NULL AND event_id IS NOT NULL),
        h AS (SELECT g, m, count(*) AS c FROM v GROUP BY 1, 2),
        cum AS (SELECT g, m, sum(c) OVER (
                  PARTITION BY g ORDER BY m
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
                FROM h),
        n AS (SELECT g, count(*) AS n FROM v GROUP BY g),
        th AS (SELECT cum.g,
                 min(CASE WHEN cum >= (50 * n + 99) // 100 THEN m END) AS p50,
                 min(CASE WHEN cum >= (90 * n + 99) // 100 THEN m END) AS p90,
                 min(CASE WHEN cum >= (99 * n + 99) // 100 THEN m END) AS p99
               FROM cum JOIN n USING (g) GROUP BY cum.g)
        SELECT g AS event_type, 50::BIGINT AS pct, p50::BIGINT AS value FROM th
        UNION ALL
        SELECT g, 90::BIGINT, p90::BIGINT FROM th
        UNION ALL
        SELECT g, 99::BIGINT, p99::BIGINT FROM th
    """
    # inverse_preds: reversed-pair self-join over the planted likes /
    # liked_by KG; directional confidence in floor-ppm
    d["inverse_preds"] = """
        WITH fwd AS (
          SELECT DISTINCT 'e' || (doc_id % 20)::VARCHAR AS s,
                 'likes' AS p,
                 'e' || ((doc_id * 3 + 1) % 20)::VARCHAR AS o
          FROM documents
        ),
        rv AS (
          SELECT DISTINCT 'e' || ((doc_id * 3 + 1) % 20)::VARCHAR AS s,
                 'liked_by' AS p,
                 'e' || (doc_id % 20)::VARCHAR AS o
          FROM documents WHERE doc_id % 2 = 0
        ),
        t AS (SELECT * FROM (SELECT * FROM fwd UNION SELECT * FROM rv)
              WHERE s != o),
        j AS (SELECT a.p AS pred, b.p AS inv_pred,
                     count(*)::BIGINT AS support
              FROM t a JOIN t b ON b.s = a.o AND b.o = a.s
              GROUP BY 1, 2),
        np AS (SELECT p AS pred, count(*)::BIGINT AS n_facts
               FROM t GROUP BY p)
        SELECT pred, inv_pred, support, n_facts,
               ((1000000 * support) // n_facts)::BIGINT AS confidence_ppm
        FROM j JOIN np USING (pred)
        WHERE support >= 1
    """
    # url_templates: same synthesis; template = path with long-hex runs
    # -> {h} first, then digit runs -> {d} (plain string: regex braces)
    d["url_templates"] = r"""
        WITH u AS (
          SELECT CASE WHEN doc_id % 5 = 0
                      THEN 'https://cdn.example/obj/' || md5(doc_id::VARCHAR)
                      ELSE 'https://s' || (doc_id % 8)
                           || '.shop.example/product/' || doc_id
                           || CASE WHEN doc_id % 3 = 0
                                   THEN '/review/' || (doc_id % 7)
                                   ELSE '' END
                 END AS url
          FROM documents
        ),
        t AS (SELECT
                regexp_extract(url,
                  '^[a-z][a-z0-9+.-]*://([^/:?#@]*@)?([^/:?#]+)', 2) AS host,
                url,
                regexp_replace(regexp_replace(
                  regexp_replace(url, '^[a-z][a-z0-9+.-]*://[^/?#]*', ''),
                  '[0-9a-f]{8,}', '{h}', 'g'), '[0-9]+', '{d}', 'g') AS template
              FROM u),
        d2 AS (SELECT regexp_extract(host, '([^.]+\.[^.]+)$', 1) AS domain,
                      template, url
               FROM t)
        SELECT domain, template, count(*)::BIGINT AS n_urls,
               min(url) AS sample_url
        FROM d2 WHERE domain != ''
        GROUP BY 1, 2 HAVING count(*) >= 2
    """
    # events_cube: GROUP BY CUBE with the GROUPING bitmask (same
    # leftmost-dim-most-significant encoding as Spark's grouping_id)
    d["events_cube"] = """
        SELECT event_type, seg,
               GROUPING(event_type, seg)::BIGINT AS gid,
               count(*)::BIGINT AS n_rows,
               sum(m)::BIGINT AS measure_sum
        FROM (SELECT event_type, user_id % 4 AS seg, event_id % 100 AS m
              FROM events)
        GROUP BY CUBE (event_type, seg)
    """
    # weighted_pr: weighted-share pagerank unroll (rank*w // totw);
    # base = (100-85)*1e9//100
    _wp = ["""
        WITH ev AS (
          SELECT user_id AS src, event_id % 150 AS dst,
                 (user_id + event_id) % 5 + 1 AS w
          FROM events WHERE user_id != event_id % 150
        ),
        e AS (SELECT src, dst, sum(w)::BIGINT AS w FROM ev GROUP BY 1, 2),
        nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
        tot AS (SELECT src, sum(w)::BIGINT AS totw FROM e GROUP BY src),
        r0 AS (SELECT node, 1000000000::BIGINT AS rank FROM nodes)"""]
    for _i in range(1, 4):
        _wp.append(f""",
        i{_i} AS (SELECT e.dst AS node,
                        sum((r.rank * e.w) // t.totw)::BIGINT AS incoming
                 FROM e JOIN r{_i - 1} r ON r.node = e.src
                        JOIN tot t ON t.src = e.src
                 GROUP BY e.dst),
        r{_i} AS (SELECT n.node,
                        (150000000::BIGINT
                         + (85 * coalesce(i{_i}.incoming, 0)) // 100)::BIGINT
                          AS rank
                 FROM nodes n LEFT JOIN i{_i} ON i{_i}.node = n.node)""")
    _wp.append("\n        SELECT node, rank AS wrank FROM r3")
    d["weighted_pr"] = "".join(_wp)
    # decayed_facts: one right-shift per elapsed 7-day half-life vs the
    # newest mention, capped at 20 halvings
    d["decayed_facts"] = f"""
        WITH {_SNAP_T},
        mx AS (SELECT max(ts) AS mt FROM t),
        aged AS (SELECT subj, pred, obj,
                   least(((epoch(mt)::BIGINT - epoch(ts)::BIGINT)
                          // (86400 * 7))::INT, 20) AS age
                 FROM t CROSS JOIN mx)
        SELECT subj, pred, obj, count(*)::BIGINT AS n_mentions,
               sum(1000000 >> age)::BIGINT AS score
        FROM aged GROUP BY 1, 2, 3
    """
    # incr_minhash: the dedup_minhash banding chain, pair join filtered
    # to pairs touching the delta side (ids >= 1e6 — the re-crawled
    # copies of _CORPUS_MUT)
    d["incr_minhash"] = f"""
        WITH {_CORPUS_MUT},
        {_SHINGLES},
        hx AS (SELECT id, md5(g) AS h FROM sh3),
        sig AS (
          SELECT id,
                 min(substr(h,  1, 4)) AS s0, min(substr(h,  5, 4)) AS s1,
                 min(substr(h,  9, 4)) AS s2, min(substr(h, 13, 4)) AS s3,
                 min(substr(h, 17, 4)) AS s4, min(substr(h, 21, 4)) AS s5,
                 min(substr(h, 25, 4)) AS s6, min(substr(h, 29, 4)) AS s7
          FROM hx GROUP BY id
        ),
        bk AS (
          SELECT id, unnest([
            md5(0 || '|' || s0 || '|' || s1),
            md5(1 || '|' || s2 || '|' || s3),
            md5(2 || '|' || s4 || '|' || s5),
            md5(3 || '|' || s6 || '|' || s7)]) AS band_key
          FROM sig
        ),
        small AS (SELECT band_key FROM bk GROUP BY band_key
                  HAVING count(*) <= 1000),
        bks AS (SELECT bk.id, bk.band_key FROM bk JOIN small USING (band_key))
        SELECT DISTINCT x.id AS id_a, y.id AS id_b
        FROM bks x JOIN bks y ON x.band_key = y.band_key AND x.id < y.id
        WHERE x.id >= 1000000 OR y.id >= 1000000
    """
    # feed_items: same synthesized feed; rss positions first, atom
    # positions offset by the rss item count (the concat order)
    d["feed_items"] = r"""
        WITH x AS (
          SELECT doc_id AS id,
            CASE WHEN doc_id % 11 = 0 THEN '<p>not a feed</p>'
                 ELSE (CASE WHEN doc_id % 3 = 0 THEN '' ELSE
                    '<item><title>R' || (doc_id % 30)
                    || '</title><link>https://f.ex/r/' || (doc_id % 9)
                    || '</link></item><item><title>R2</title>'
                    || '<link>https://f.ex/r2</link></item>' END)
                   || '<entry><title>A' || (doc_id % 13)
                   || '</title><link href="https://f.ex/a/' || (doc_id % 5)
                   || '"/></entry>'
            END AS xml
          FROM documents
        ),
        ex AS (SELECT id,
                regexp_extract_all(xml,
                  '(?s)<item><title>([^<]*)</title><link>[^<]*</link></item>', 1) AS rt,
                regexp_extract_all(xml,
                  '(?s)<item><title>[^<]*</title><link>([^<]*)</link></item>', 1) AS rl,
                regexp_extract_all(xml,
                  '(?s)<entry><title>([^<]*)</title><link href="[^"]*"/></entry>', 1) AS ae,
                regexp_extract_all(xml,
                  '(?s)<entry><title>[^<]*</title><link href="([^"]*)"/></entry>', 1) AS al
               FROM x),
        r AS (SELECT id, generate_subscripts(rt, 1)::BIGINT AS pos,
                     'rss' AS fmt, unnest(rt) AS title, unnest(rl) AS link
              FROM ex),
        a AS (SELECT id, (len(rt) + generate_subscripts(ae, 1))::BIGINT AS pos,
                     'atom' AS fmt, unnest(ae) AS title, unnest(al) AS link
              FROM ex)
        SELECT * FROM r UNION ALL SELECT * FROM a
    """
    # split_assign: sorted-label cumulative hash thresholds from the SAME
    # _threshold helper the operator uses (test 0.01, train cum 0.99,
    # val = the forced 2^60 remainder)
    _t_test, _t_train = _threshold(0.01), _threshold(0.99)
    d["split_assign"] = f"""
        SELECT doc_id,
               CASE WHEN h < {_t_test} THEN 'test'
                    WHEN h < {_t_train} THEN 'train'
                    ELSE 'val' END AS split
        FROM (SELECT doc_id,
                     ('0x' || substr(md5('sp|' || doc_id::VARCHAR),
                                     1, 15))::BIGINT AS h
              FROM documents)
    """
    return d


def _node2vec_oracle(*, steps: int, p: int, q: int) -> str:
    """Unrolled node2vec oracle: per step, candidate weights by the
    (return=q, adjacent=p*q, far=p) CASE, window cumsum in dst order,
    pick = min dst with cum > md5(walk|step) mod total."""
    w_ret, w_adj, w_far = q, p * q, p
    ctes = [
        _LINK_EDGES.strip(),
        "nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e)",
        """w0 AS (SELECT node AS walk_id, node, NULL::BIGINT AS prev
                  FROM nodes WHERE node % 10 = 0)""",
    ]
    for t in range(1, steps + 1):
        ctes.append(f"""c{t} AS (
          SELECT w.walk_id, e.dst, w.node AS cur,
                 (CASE WHEN e.dst = w.prev THEN {w_ret}
                       WHEN a.src IS NOT NULL THEN {w_adj}
                       ELSE {w_far} END)::BIGINT AS wt
          FROM w{t - 1} w
          JOIN e ON e.src = w.node
          LEFT JOIN e a ON a.src = w.prev AND a.dst = e.dst
        )""")
        ctes.append(f"""s{t} AS (
          SELECT walk_id, dst, cur,
                 sum(wt) OVER (PARTITION BY walk_id ORDER BY dst
                               ROWS UNBOUNDED PRECEDING) AS cum,
                 sum(wt) OVER (PARTITION BY walk_id) AS tot,
                 ('0x' || substr(md5(walk_id::VARCHAR || '|' || '{t}'),
                                 1, 15))::BIGINT AS h
          FROM c{t}
        )""")
        ctes.append(f"""w{t} AS (
          SELECT walk_id, min(dst) AS node, min(cur) AS prev
          FROM s{t} WHERE cum > h % tot GROUP BY walk_id
        )""")
    finals = "\n        UNION ALL ".join(
        f"SELECT walk_id, {t} AS step, node FROM w{t}"
        for t in range(0, steps + 1)
    )
    return "WITH " + ",\n        ".join(ctes) + "\n        " + finals


def _bpe_oracle(n_merges: int) -> str:
    """Unrolled BPE-training oracle: round k counts adjacent symbol
    pairs over position rows s{k}, picks the (count desc, l, r) winner,
    and applies it with the run-parity rule — candidate merge starts are
    only ever adjacent for self-pairs (l = r runs), where greedy
    left-to-right keeps the even offsets of each run; positions are
    renumbered per round so 'adjacent' stays pos + 1."""
    ctes = [
        f"corpus AS (SELECT {_NORM} AS t FROM documents)",
        """words AS (
          SELECT w, count(*)::BIGINT AS cnt FROM (
            SELECT unnest(list_filter(string_split(t, ' '), x -> x != '')) AS w
            FROM corpus
          ) GROUP BY w
        )""",
        """s1p AS (
          SELECT w, cnt, unnest(range(1, length(w) + 1))::INT AS pos
          FROM words
        )""",
        "s1 AS (SELECT w, cnt, pos, substr(w, pos, 1) AS sym FROM s1p)",
    ]
    for k in range(1, n_merges + 1):
        ctes.append(f"""pc{k} AS (
          SELECT a.sym AS l, b.sym AS r, sum(a.cnt)::BIGINT AS c
          FROM s{k} a JOIN s{k} b ON b.w = a.w AND b.pos = a.pos + 1
          GROUP BY 1, 2
        )""")
        ctes.append(
            f"best{k} AS (SELECT l, r, c FROM pc{k} ORDER BY c DESC, l, r LIMIT 1)"
        )
        if k == n_merges:
            break
        ctes.append(f"""cand{k} AS (
          SELECT a.w, a.pos
          FROM s{k} a
          JOIN s{k} b ON b.w = a.w AND b.pos = a.pos + 1
          CROSS JOIN best{k} m
          WHERE a.sym = m.l AND b.sym = m.r
        )""")
        ctes.append(f"""keep{k} AS (
          SELECT w, pos FROM (
            SELECT w, pos, pos - min(pos) OVER (PARTITION BY w, grp) AS off
            FROM (
              SELECT w, pos,
                     pos - row_number() OVER (PARTITION BY w ORDER BY pos) AS grp
              FROM cand{k}
            )
          ) WHERE off % 2 = 0
        )""")
        ctes.append(f"""app{k} AS (
          SELECT s.w, s.cnt, s.pos,
                 CASE WHEN kk.pos IS NOT NULL THEN m.l || m.r
                      ELSE s.sym END AS sym
          FROM s{k} s
          LEFT JOIN keep{k} kk ON kk.w = s.w AND kk.pos = s.pos
          CROSS JOIN best{k} m
          WHERE NOT EXISTS (
            SELECT 1 FROM keep{k} k2
            WHERE k2.w = s.w AND k2.pos = s.pos - 1
          )
        )""")
        ctes.append(f"""s{k + 1} AS (
          SELECT w, cnt,
                 row_number() OVER (PARTITION BY w ORDER BY pos)::INT AS pos,
                 sym
          FROM app{k}
        )""")
    finals = "\n        UNION ALL ".join(
        f'SELECT {k}::INT AS merge_rank, l AS "left", r AS "right", '
        f"c AS pair_count FROM best{k}"
        for k in range(1, n_merges + 1)
    )
    return "WITH " + ",\n        ".join(ctes) + "\n        " + finals


def _oracle_dict(pat, onto, lm_values, lm_oov, thr_case) -> dict[str, str]:
    return {
        "stratified_sample": f"""
            -- md5(seed|id) first 15 hex as int (matches Spark conv(...,16,10)
            -- bit-exactly, verified); keep iff below the stratum threshold
            SELECT doc_id, lang
            FROM documents
            WHERE ('0x' || substr(md5('rebalance|' || doc_id::VARCHAR), 1, 15))::BIGINT
                  < {thr_case}
        """,
        "unigram_lm": f"""
            -- integer micro-nat costs, identical literals to the Spark
            -- side (_lm_cost_table): integer summation is order-free, so
            -- the fold and this GROUP BY agree bit-exactly
            WITH lm(w, cost) AS (VALUES {lm_values}),
            t AS (
              -- empty/NULL/whitespace-only text must contribute NO tokens
              -- (string_split('') is [''] in DuckDB; Spark's token_count
              -- maps empty norm to 0) — filter before splitting
              SELECT doc_id, unnest(string_split({_NORM}, ' ')) AS w
              FROM documents WHERE {_NORM} != ''
            ),
            j AS (
              SELECT t.doc_id,
                     coalesce(lm.cost, {lm_oov}) AS cost,
                     CASE WHEN lm.w IS NULL THEN 1 ELSE 0 END AS oov
              FROM t LEFT JOIN lm ON t.w = lm.w
            ),
            agg AS (
              -- DuckDB integer sum() is HUGEINT (pandas-floats): cast back
              SELECT doc_id, count(*) AS n_tokens, sum(oov)::INT AS n_oov,
                     sum(cost)::BIGINT AS nll_micro
              FROM j GROUP BY 1
            )
            SELECT d.doc_id,
                   coalesce(a.n_tokens, 0) AS n_tokens,
                   coalesce(a.n_oov, 0) AS n_oov,
                   coalesce(a.nll_micro, 0) AS nll_micro,
                   coalesce(round(a.nll_micro / a.n_tokens / 1e6, 6), 0.0) AS avg_nll
            FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id
        """,
        "tag_match": f"""
            WITH {onto},
            m AS (
              SELECT doc_id, unnest(regexp_extract_all(trim(text), '{pat}')) AS kw
              FROM documents
            ),
            md AS (SELECT DISTINCT doc_id, kw FROM m)
            SELECT d.doc_id,
                   o.tag AS tag,
                   md.kw AS tag_keyword,
                   CASE WHEN md.kw IS NOT NULL THEN trim(d.text) END AS tag_sentence
            FROM documents d
            LEFT JOIN md ON d.doc_id = md.doc_id
            LEFT JOIN onto o ON o.keyword = md.kw
        """,
        "tag_match_category": f"""
            WITH {onto},
            m AS (
              SELECT doc_id, unnest(regexp_extract_all(trim(text), '{pat}')) AS kw
              FROM documents
            ),
            md AS (SELECT DISTINCT doc_id, kw FROM m)
            SELECT d.doc_id,
                   o.category AS tag_category,
                   o.tag AS tag,
                   md.kw AS tag_keyword
            FROM documents d
            LEFT JOIN md ON d.doc_id = md.doc_id
            LEFT JOIN onto o ON o.keyword = md.kw
        """,
        "tag_doc_list": f"""
            WITH {onto},
            m AS (
              SELECT doc_id,
                     unnest(regexp_extract_all(trim(text), '{pat}')) AS kw,
                     generate_subscripts(regexp_extract_all(trim(text), '{pat}'), 1) AS pos
              FROM documents
            ),
            mt AS (
              SELECT m.doc_id, o.tag, min(m.pos) AS fp
              FROM m JOIN onto o ON o.keyword = m.kw
              GROUP BY 1, 2
            ),
            mk AS (
              SELECT doc_id, kw, min(pos) AS fp FROM m GROUP BY 1, 2
            ),
            agg AS (
              SELECT doc_id, to_json(list(tag ORDER BY fp))::VARCHAR AS tag_list
              FROM mt GROUP BY 1
            ),
            aggk AS (
              SELECT doc_id, to_json(list(kw ORDER BY fp))::VARCHAR AS tag_keywords
              FROM mk GROUP BY 1
            )
            SELECT d.doc_id, agg.tag_list, aggk.tag_keywords
            FROM documents d
            LEFT JOIN agg ON d.doc_id = agg.doc_id
            LEFT JOIN aggk ON d.doc_id = aggk.doc_id
        """,
        "ontology_clean": """
            WITH raw(tag, keyword, category) AS (VALUES
              ('tag1', 'keyword1', ''),
              ('tag2', 'keyword2', NULL),
              ('tag3', NULL, 'cat'),
              ('', 'keyword4', 'cat'),
              ('tag5', 'keyword5', 'catX'))
            SELECT nullif(tag, '') AS tag,
                   nullif(keyword, '') AS keyword,
                   coalesce(nullif(category, ''), 'uncategorized') AS category
            FROM raw
            WHERE nullif(tag, '') IS NOT NULL AND nullif(keyword, '') IS NOT NULL
        """,
        "tag_match_skiplang": f"""
            WITH {onto},
            m AS (
              SELECT doc_id, unnest(regexp_extract_all(trim(text), '{pat}')) AS kw
              FROM documents
              WHERE doc_id % 7 != 0  -- unsupported-lang rows are skipped, not dropped
            ),
            md AS (SELECT DISTINCT doc_id, kw FROM m)
            SELECT d.doc_id,
                   o.tag AS tag,
                   md.kw AS tag_keyword
            FROM documents d
            LEFT JOIN md ON d.doc_id = md.doc_id
            LEFT JOIN onto o ON o.keyword = md.kw
        """,
        "tag_match_linked": r"""
            -- context-window entity linking (LINK_ONTOLOGY): 'merge' is
            -- owned by merge_op (profile {'window'}) and merge_ent
            -- (profile {'customer'}); score = profile-token presence in the
            -- single-sentence doc outside the match span ('merge' is in
            -- neither profile, so whole-text presence is exact); ties go to
            -- the first-added candidate (merge_op).
            WITH m AS (
              SELECT doc_id,
                     unnest(regexp_extract_all(trim(text), '\b(merge|window|customer)\b')) AS kw
              FROM documents
            ),
            md AS (SELECT DISTINCT doc_id, kw FROM m),
            ctx AS (
              SELECT doc_id,
                     CASE WHEN regexp_matches(trim(text), '\bwindow\b') THEN 1 ELSE 0 END AS s_op,
                     CASE WHEN regexp_matches(trim(text), '\bcustomer\b') THEN 1 ELSE 0 END AS s_ent
              FROM documents
            ),
            linked AS (
              SELECT md.doc_id, md.kw,
                     CASE md.kw
                       WHEN 'merge' THEN
                         CASE WHEN c.s_op >= c.s_ent THEN 'merge_op' ELSE 'merge_ent' END
                       WHEN 'window' THEN 'merge_op'
                       ELSE 'merge_ent'
                     END AS tag
              FROM md JOIN ctx c ON md.doc_id = c.doc_id
            )
            SELECT d.doc_id, l.tag AS tag, l.kw AS tag_keyword
            FROM documents d LEFT JOIN linked l ON d.doc_id = l.doc_id
        """,
        "mixed_lang": f"""
            -- 8-token chunks, per-chunk marker langid (same strict-> fold
            -- as langid_markers: ties keep the earlier language code),
            -- then per-doc majority (cnt DESC, lang ASC) + diversity
            WITH nt AS (SELECT doc_id, {_NORM} AS t FROM documents),
            w0 AS (
              SELECT doc_id, string_split(t, ' ') AS toks,
                     len(string_split(t, ' ')) AS n
              FROM nt WHERE t != ''
            ),
            s AS (SELECT doc_id, toks, n, unnest(range(0, n, 8)) AS start FROM w0),
            c AS (
              SELECT doc_id, (start / 8)::INT AS chunk_idx,
                     list_slice(toks, start + 1, start + 8) AS ctoks
              FROM s
            ),
            h AS (
              SELECT doc_id, chunk_idx,
                     len(list_filter(ctoks, x -> x IN ('der','die','und','das','mit'))) AS de_h,
                     len(list_filter(ctoks, x -> x IN ('the','and','of','is','with'))) AS en_h,
                     len(list_filter(ctoks, x -> x IN ('el','los','las','y','una'))) AS es_h,
                     len(list_filter(ctoks, x -> x IN ('le','la','les','et','des'))) AS fr_h
              FROM c
            ),
            m1 AS (SELECT doc_id, chunk_idx, es_h, fr_h,
                          CASE WHEN en_h > de_h THEN en_h ELSE de_h END AS b,
                          CASE WHEN en_h > de_h THEN 'en' ELSE 'de' END AS l FROM h),
            m2 AS (SELECT doc_id, chunk_idx, fr_h,
                          CASE WHEN es_h > b THEN es_h ELSE b END AS b,
                          CASE WHEN es_h > b THEN 'es' ELSE l END AS l FROM m1),
            m3 AS (SELECT doc_id, chunk_idx,
                          CASE WHEN fr_h > b THEN fr_h ELSE b END AS b,
                          CASE WHEN fr_h > b THEN 'fr' ELSE l END AS l FROM m2),
            lid AS (
              SELECT doc_id, CASE WHEN b > 0 THEN l ELSE 'xx' END AS pred
              FROM m3
            ),
            per AS (SELECT doc_id, pred, count(*) AS cnt FROM lid GROUP BY 1, 2),
            maj AS (
              SELECT doc_id, pred,
                     row_number() OVER (
                       PARTITION BY doc_id ORDER BY cnt DESC, pred ASC
                     ) AS rn
              FROM per
            ),
            div AS (
              SELECT doc_id, count(*)::INT AS n_langs, sum(cnt)::INT AS n_chunks
              FROM per GROUP BY 1
            )
            SELECT div.doc_id, maj.pred AS majority_lang, div.n_langs, div.n_chunks
            FROM div JOIN maj ON div.doc_id = maj.doc_id AND maj.rn = 1
        """,
        "tfidf_top": f"""
            -- integer micro-nat idf: round(ln(N/df)*1e6) then tf-multiply,
            -- so ranking is pure integer comparison on both engines
            -- (ties: token ascending); N = total documents
            WITH nt AS (SELECT doc_id, {_NORM} AS t FROM documents),
            tok AS (
              SELECT doc_id, unnest(string_split(t, ' ')) AS token
              FROM nt WHERE t != ''
            ),
            tf AS (
              SELECT doc_id, token, count(*)::BIGINT AS tf
              FROM tok GROUP BY 1, 2
            ),
            dfc AS (SELECT token, count(*)::BIGINT AS dfc FROM tf GROUP BY 1),
            n AS (SELECT count(*)::DOUBLE AS n FROM documents),
            sc AS (
              SELECT tf.doc_id, tf.token, tf.tf, dfc.dfc,
                     tf.tf * round(ln(n.n / dfc.dfc) * 1e6)::BIGINT AS score_micro
              FROM tf JOIN dfc USING (token), n
            ),
            rk AS (
              SELECT *, row_number() OVER (
                PARTITION BY doc_id ORDER BY score_micro DESC, token ASC
              ) AS rank
              FROM sc
            )
            SELECT doc_id, rank::INT AS rank, token, tf, dfc, score_micro
            FROM rk WHERE rank <= 3
        """,
        "winnow": f"""
            -- winnowing k=3 / window=4: per-window min over md5 gram
            -- hashes (same '0x'||hex::BIGINT ≡ Spark conv construction);
            -- docs with 1..3 grams keep the single global min; the
            -- output is the DISTINCT fingerprint set so the window-min
            -- frame (vs Spark's slice fold) cannot disagree on ties
            WITH nt AS (SELECT doc_id, {_NORM} AS t FROM documents),
            w AS (
              SELECT doc_id, string_split(t, ' ') AS toks,
                     len(string_split(t, ' ')) AS n
              FROM nt WHERE t != ''
            ),
            g AS (
              SELECT doc_id, i,
                     array_to_string(list_slice(toks, i, i + 2), ' ') AS gram
              FROM w, unnest(range(1, n - 1)) AS u(i)
              WHERE n >= 3
            ),
            h AS (
              SELECT doc_id, i,
                     ('0x' || substr(md5(gram), 1, 15))::BIGINT AS hv,
                     count(*) OVER (PARTITION BY doc_id) AS ng
              FROM g
            ),
            sel AS (
              SELECT doc_id, i, ng,
                     min(hv) OVER (
                       PARTITION BY doc_id ORDER BY i
                       ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING
                     ) AS mn
              FROM h
            ),
            fp AS (
              SELECT DISTINCT doc_id, mn AS fingerprint
              FROM sel WHERE i <= ng - 3 AND ng >= 4
              UNION
              SELECT doc_id, min(hv) AS fingerprint
              FROM h GROUP BY doc_id HAVING count(*) < 4
            )
            SELECT doc_id, fingerprint FROM fp
        """,
        "winnow_pairs": f"""
            -- winnow fingerprints over the mutated dup corpus (t already
            -- normalized in _CORPUS_MUT), doc-freq cap 50, then the
            -- shared-count self-join (id_a < id_b, >= 2 shared)
            WITH {_CORPUS_MUT},
            w AS (
              SELECT id, string_split(t, ' ') AS toks,
                     len(string_split(t, ' ')) AS n
              FROM corpus WHERE t != ''
            ),
            g AS (
              SELECT id, i,
                     array_to_string(list_slice(toks, i, i + 2), ' ') AS gram
              FROM w, unnest(range(1, n - 1)) AS u(i)
              WHERE n >= 3
            ),
            h AS (
              SELECT id, i,
                     ('0x' || substr(md5(gram), 1, 15))::BIGINT AS hv,
                     count(*) OVER (PARTITION BY id) AS ng
              FROM g
            ),
            sel AS (
              SELECT id, i, ng,
                     min(hv) OVER (
                       PARTITION BY id ORDER BY i
                       ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING
                     ) AS mn
              FROM h
            ),
            fp AS (
              SELECT DISTINCT id, mn AS fingerprint
              FROM sel WHERE i <= ng - 3 AND ng >= 4
              UNION
              SELECT id, min(hv) AS fingerprint
              FROM h GROUP BY id HAVING count(*) < 4
            ),
            freq AS (SELECT fingerprint, count(*) AS f FROM fp GROUP BY 1),
            kept AS (
              SELECT fp.id, fp.fingerprint
              FROM fp JOIN freq USING (fingerprint) WHERE f <= 50
            )
            SELECT a.id AS id_a, b.id AS id_b, count(*) AS n_shared
            FROM kept a JOIN kept b
              ON a.fingerprint = b.fingerprint AND a.id < b.id
            GROUP BY 1, 2 HAVING count(*) >= 2
        """,
        "events_rollup": """
            WITH ev AS (
              SELECT floor(epoch(ts))::BIGINT AS sec, event_type,
                     floor(value * 1000000)::BIGINT AS micros
              FROM events
            ),
            g1 AS (
              SELECT '1h' AS gran, sec - sec % 3600 AS bucket_start,
                     event_type, count(*) AS n, sum(micros) AS sum_micros,
                     min(micros) AS min_micros, max(micros) AS max_micros
              FROM ev GROUP BY 2, 3
            ),
            g2 AS (
              SELECT '5m' AS gran, sec - sec % 300 AS bucket_start,
                     event_type, count(*) AS n, sum(micros) AS sum_micros,
                     min(micros) AS min_micros, max(micros) AS max_micros
              FROM ev GROUP BY 2, 3
            )
            SELECT * FROM g1 UNION ALL SELECT * FROM g2
        """,
        "kmv_distinct": """
            -- same 60-bit md5-prefix hash space as the engine
            WITH h AS (
              SELECT DISTINCT ('0x' || substr(md5(text), 1, 15))::BIGINT AS h
              FROM documents WHERE text IS NOT NULL
            ),
            k AS (SELECT h FROM h ORDER BY h LIMIT 64),
            a AS (SELECT count(*) AS k_used, max(h) AS kth_hash FROM k)
            SELECT k_used, kth_hash,
                   CASE WHEN k_used < 64 THEN k_used::DOUBLE
                        ELSE (k_used - 1) * 1152921504606846976.0 / kth_hash
                   END AS estimate
            FROM a
        """,
        "events_range_join": """
            -- plain inequality join as the oracle for the bucketed
            -- equi-join + containment-filter plan
            WITH ev AS (
              SELECT event_id, user_id, floor(epoch(ts))::BIGINT AS sec
              FROM events
            ),
            p AS (SELECT user_id, sec, event_id AS p_id FROM ev
                  WHERE event_id % 2 = 1),
            i AS (SELECT user_id, sec AS start_sec,
                         sec + (event_id % 7 + 1) * 60 AS end_sec,
                         event_id AS i_id
                  FROM ev WHERE event_id % 2 = 0)
            SELECT p.user_id, p.p_id, p.sec, i.i_id,
                   i.start_sec AS start, i.end_sec AS "end"
            FROM p JOIN i
              ON p.user_id = i.user_id
             AND i.start_sec <= p.sec AND p.sec <= i.end_sec
        """,
        "events_asof": """
            -- DuckDB's native ASOF LEFT JOIN as an independent oracle;
            -- right-side (user_id, ts) ties pre-collapsed to the max
            -- event_id on both engines so the winner is unique
            WITH r0 AS (
              SELECT user_id, ts, event_id, value FROM events
              WHERE event_id % 2 = 0
            ),
            r1 AS (
              SELECT user_id, ts, max(event_id) AS event_id
              FROM r0 GROUP BY 1, 2
            ),
            r AS (
              SELECT r0.user_id, r0.ts, r0.event_id, r0.value
              FROM r1 JOIN r0 USING (user_id, ts, event_id)
            ),
            l AS (
              SELECT user_id, ts, event_id FROM events WHERE event_id % 2 = 1
            )
            -- floor(epoch): Spark's timestamp->long cast truncates the
            -- sub-second part; a plain ::BIGINT would ROUND it
            SELECT l.user_id, floor(epoch(l.ts))::BIGINT AS sec, l.event_id,
                   r.event_id AS r_event_id, r.value AS r_value
            FROM l ASOF LEFT JOIN r
              ON l.user_id = r.user_id AND l.ts >= r.ts
        """,
        "warc_roundtrip": """
            -- identity oracle: the WARC blobs are synthesized FROM the
            -- documents table, so a correct parser returns exactly it
            SELECT 'https://example.org/doc/' || doc_id AS url,
                   '2026-01-01T00:00:00Z' AS warc_date,
                   'response' AS warc_type,
                   coalesce(text, '') AS payload,
                   0 AS n_skipped
            FROM documents
        """,
        "latest_snapshot": f"""
            -- newest (sec, id) per url: two-level max = the pure-ANSI
            -- replication of Spark's max(struct(ts, id))
            WITH rows AS (
              SELECT doc_id AS id,
                     'https://example' || (doc_id % 200) || '.com/page' AS url,
                     (doc_id * 53 % 1440) * 60 AS sec
              FROM documents
            ),
            m1 AS (SELECT url, max(sec) AS msec, count(*) AS n_snapshots
                   FROM rows GROUP BY 1),
            m2 AS (
              SELECT r.url, max(r.id) AS mid
              FROM rows r JOIN m1 ON r.url = m1.url AND r.sec = m1.msec
              GROUP BY 1
            )
            SELECT m1.url, m2.mid AS doc_id, m1.msec AS fetch_sec,
                   m1.n_snapshots
            FROM m1 JOIN m2 ON m1.url = m2.url
        """,
        "url_norm": f"""
            WITH m AS (
              SELECT doc_id,
                     CASE WHEN doc_id % 97 = 0 THEN NULL
                          ELSE 'HTTPS://WWW.Example' || (doc_id % 50)
                               || '.COM/Path/' || doc_id
                               || CASE WHEN doc_id % 3 = 0
                                       THEN '?utm_source=x&ref=' || doc_id
                                       WHEN doc_id % 3 = 1
                                       THEN '/?a=1&utm_campaign=y#frag'
                                       ELSE '#sec' END
                     END AS url
              FROM documents
            ),
            s1 AS (SELECT doc_id,
                          regexp_replace(coalesce(url, ''), '{_URL_FRAG}', '', 'g') AS u
                   FROM m),
            s2 AS (SELECT doc_id,
                          -- RE2 replacement syntax: \\1 where Java uses $1
                          regexp_replace(u, '{_URL_UTM_MID}', '\\1', 'g') AS u FROM s1),
            s3 AS (SELECT doc_id,
                          regexp_replace(u, '{_URL_UTM_END}', '', 'g') AS u FROM s2),
            s4 AS (SELECT doc_id,
                          lower(regexp_extract(u, '{_URL_PREFIX}'))
                          || substr(u, length(regexp_extract(u, '{_URL_PREFIX}')) + 1)
                            AS u
                   FROM s3),
            s5 AS (SELECT doc_id, regexp_replace(u, '/$', '') AS url_norm FROM s4),
            h AS (SELECT doc_id, url_norm,
                         regexp_extract(url_norm,
                           '^[a-z][a-z0-9+.-]*://([^/:?#@]*@)?([^/:?#]+)', 2) AS host
                  FROM s5)
            SELECT doc_id, url_norm, host,
                   regexp_extract(host, '([^.]+\\.[^.]+)$', 1) AS domain
            FROM h
        """,
        "doc_line_dedup": f"""
            WITH m AS (
              SELECT doc_id,
                     replace(replace(replace(replace(trim(coalesce(text, '')),
                       ' table ', chr(10)), ' value ', chr(10)),
                       ' a ', chr(10)), ' the ', chr(10)) AS t
              FROM documents
            ),
            d AS (SELECT doc_id, t || chr(10) || t AS t2 FROM m),
            arrs AS (
              SELECT doc_id,
                     list_filter(list_transform(string_split(t2, chr(10)), x -> trim(x)),
                                 x -> x != '') AS ls
              FROM d
            ),
            k AS (
              SELECT doc_id, ls,
                     list_filter(ls, (x, i) -> NOT list_contains(ls[1:i-1], x)) AS kept
              FROM arrs
            )
            SELECT doc_id,
                   coalesce(array_to_string(kept, chr(10)), '') AS clean_text,
                   len(ls)::INT AS n_lines, len(kept)::INT AS n_kept
            FROM k
        """,
        "script_profile": f"""
            WITH m AS (
              SELECT doc_id,
                     coalesce(text, '')
                     || CASE WHEN doc_id % 4 = 1 THEN ' 中文内容页面测试文本'
                             WHEN doc_id % 4 = 2 THEN ' русский текст страницы'
                             WHEN doc_id % 4 = 3 THEN ' نص عربي ١٢٣'
                             ELSE '' END AS t
              FROM documents
            ),
            c AS (
              SELECT doc_id,
                     len(regexp_extract_all(t, '{_SCRIPTS['arabic']}')) AS na,
                     len(regexp_extract_all(t, '{_SCRIPTS['cjk']}')) AS nj,
                     len(regexp_extract_all(t, '{_SCRIPTS['cyrillic']}')) AS ny,
                     len(regexp_extract_all(t, '{_SCRIPTS['digit']}')) AS nd,
                     len(regexp_extract_all(t, '{_SCRIPTS['latin']}')) AS nl
              FROM m
            ),
            -- strict-> fold in sorted name order (arabic, cjk, cyrillic,
            -- digit, latin): ties keep the earlier (smaller) name —
            -- the exact replication of script_profile's when-chain
            -- (distinct alias names per step: DuckDB lateral aliases
            -- would otherwise bind to the NEW column)
            f1 AS (SELECT doc_id, na, nj, ny, nd, nl,
                          na AS b1, 'arabic' AS s1 FROM c),
            f2 AS (SELECT doc_id, na, nj, ny, nd, nl,
                          CASE WHEN nj > b1 THEN nj ELSE b1 END AS b2,
                          CASE WHEN nj > b1 THEN 'cjk' ELSE s1 END AS s2 FROM f1),
            f3 AS (SELECT doc_id, na, nj, ny, nd, nl,
                          CASE WHEN ny > b2 THEN ny ELSE b2 END AS b3,
                          CASE WHEN ny > b2 THEN 'cyrillic' ELSE s2 END AS s3 FROM f2),
            f4 AS (SELECT doc_id, na, nj, ny, nd, nl,
                          CASE WHEN nd > b3 THEN nd ELSE b3 END AS b4,
                          CASE WHEN nd > b3 THEN 'digit' ELSE s3 END AS s4 FROM f3),
            f5 AS (SELECT doc_id, na, nj, ny, nd, nl,
                          CASE WHEN nl > b4 THEN nl ELSE b4 END AS b5,
                          CASE WHEN nl > b4 THEN 'latin' ELSE s4 END AS s5 FROM f4)
            SELECT doc_id,
                   na::INT AS n_arabic, nj::INT AS n_cjk, ny::INT AS n_cyrillic,
                   nd::INT AS n_digit, nl::INT AS n_latin,
                   CASE WHEN b5 > 0 THEN s5 ELSE 'none' END AS dominant_script,
                   round(CASE WHEN (na + nj + ny + nd + nl) > 0
                              THEN b5::DOUBLE / (na + nj + ny + nd + nl)
                              ELSE 0.0 END, 6) AS dominant_share
            FROM f5
        """,
        "pii_redact": f"""
            WITH m AS (
              SELECT doc_id,
                     coalesce(text, '')
                     || CASE WHEN doc_id % 5 = 0
                        THEN ' contact user' || doc_id || '@example.com now'
                        ELSE '' END
                     || CASE WHEN doc_id % 7 = 0
                        THEN ' host 10.0.' || (doc_id % 250) || '.1 up'
                        ELSE '' END
                     || CASE WHEN doc_id % 11 = 0
                        THEN ' call +1 415-555-' || (doc_id % 9000 + 1000) || ' ok'
                        ELSE '' END AS t
              FROM documents
            ),
            e AS (
              SELECT doc_id,
                     len(regexp_extract_all(t, '{_PII_EMAIL}')) AS n_emails,
                     regexp_replace(t, '{_PII_EMAIL}', '<EMAIL>', 'g') AS t1
              FROM m
            ),
            i AS (
              SELECT doc_id, n_emails,
                     len(regexp_extract_all(t1, '{_PII_IPV4}')) AS n_ipv4,
                     regexp_replace(t1, '{_PII_IPV4}', '<IP>', 'g') AS t2
              FROM e
            ),
            p AS (
              SELECT doc_id, n_emails, n_ipv4,
                     len(regexp_extract_all(t2, '{_PII_PHONE}')) AS n_phones,
                     regexp_replace(t2, '{_PII_PHONE}', '<PHONE>', 'g') AS t3
              FROM i
            )
            SELECT doc_id, t3 AS clean_text,
                   n_emails::INT AS n_emails, n_ipv4::INT AS n_ipv4,
                   n_phones::INT AS n_phones
            FROM p
        """,
        "gopher": f"""
            WITH n AS (SELECT doc_id, {_NORM} AS norm FROM documents),
            w AS (
              SELECT doc_id,
                     CASE WHEN norm = '' THEN [] ELSE string_split(norm, ' ') END AS toks
              FROM n
            ),
            uni AS (
              SELECT doc_id, max(c) AS topu FROM (
                SELECT doc_id, wd, count(*) AS c
                FROM (SELECT doc_id, unnest(toks) AS wd FROM w)
                GROUP BY 1, 2
              ) GROUP BY 1
            ),
            f AS (
              SELECT w.doc_id, len(toks) AS nt,
                     length(array_to_string(toks, '')) AS charsum,
                     len(list_filter(toks, x -> x IN
                         ('the','a','an','of','and','to','in','is','it','that'))) AS nstop,
                     len(list_distinct(toks)) AS ndistinct,
                     coalesce(uni.topu, 0) AS topu
              FROM w LEFT JOIN uni USING (doc_id)
            ),
            r AS (
              SELECT doc_id, nt,
                     CASE WHEN nt > 0 THEN charsum::DOUBLE / nt ELSE 0.0 END AS avg_len,
                     CASE WHEN nt > 0 THEN nstop::DOUBLE / nt ELSE 0.0 END AS stop_r,
                     CASE WHEN nt > 0 THEN topu::DOUBLE / nt ELSE 0.0 END AS topu_r,
                     CASE WHEN nt > 0 THEN 1.0 - ndistinct::DOUBLE / nt ELSE 0.0 END AS dup_r
              FROM f
            )
            SELECT doc_id, nt::INT AS n_tokens,
                   round(avg_len, 6) AS avg_token_len,
                   round(stop_r, 6) AS stopword_ratio,
                   round(topu_r, 6) AS top_unigram_ratio,
                   round(dup_r, 6) AS dup_word_ratio,
                   (nt >= 30 AND nt <= 100000
                    AND avg_len >= 3.0 AND avg_len <= 9.0
                    AND stop_r >= 0.04
                    AND topu_r <= 0.25 AND dup_r <= 0.60)::INT AS keep
            FROM r
        """,
        # the composed corpus build: gopher keep -> md5-fingerprint
        # canonical dedup -> md5 stratified sample (seed 'pipeline')
        "pipeline_e2e": f"""
            WITH n AS (SELECT doc_id, {_NORM} AS norm FROM documents),
            w AS (
              SELECT doc_id,
                     CASE WHEN norm = '' THEN [] ELSE string_split(norm, ' ') END AS toks
              FROM n
            ),
            uni AS (
              SELECT doc_id, max(c) AS topu FROM (
                SELECT doc_id, wd, count(*) AS c
                FROM (SELECT doc_id, unnest(toks) AS wd FROM w)
                GROUP BY 1, 2
              ) GROUP BY 1
            ),
            f AS (
              SELECT w.doc_id, len(toks) AS nt,
                     length(array_to_string(toks, '')) AS charsum,
                     len(list_filter(toks, x -> x IN
                         ('the','a','an','of','and','to','in','is','it','that'))) AS nstop,
                     len(list_distinct(toks)) AS ndistinct,
                     coalesce(uni.topu, 0) AS topu
              FROM w LEFT JOIN uni USING (doc_id)
            ),
            keep AS (
              SELECT doc_id FROM f
              WHERE nt >= 30 AND nt <= 100000
                AND (charsum::DOUBLE / nt) >= 3.0
                AND (charsum::DOUBLE / nt) <= 9.0
                AND (nstop::DOUBLE / nt) >= 0.04
                AND (topu::DOUBLE / nt) <= 0.25
                AND (1.0 - ndistinct::DOUBLE / nt) <= 0.60
            ),
            kd AS (
              SELECT d.doc_id, d.lang, md5(n.norm) AS fp
              FROM documents d
              JOIN keep USING (doc_id) JOIN n USING (doc_id)
            ),
            canon AS (SELECT fp, min(doc_id) AS cid FROM kd GROUP BY fp)
            SELECT kd.doc_id, kd.lang
            FROM kd JOIN canon ON canon.fp = kd.fp AND canon.cid = kd.doc_id
            WHERE ('0x' || substr(md5('pipeline|' || kd.doc_id::VARCHAR),
                     1, 15))::BIGINT
                  < CASE kd.lang WHEN 'en' THEN 230584300921369408
                                 WHEN 'zh' THEN 576460752303423488
                                 ELSE 1152921504606846976 END
        """,
        "dup_passages": f"""
            -- 3-token non-overlapping chunks repeated >= 2x corpus-wide
            WITH nt AS (SELECT doc_id, {_NORM} AS t FROM documents),
            w AS (
              SELECT doc_id, string_split(t, ' ') AS toks,
                     len(string_split(t, ' ')) AS n
              FROM nt WHERE t != ''
            ),
            s AS (
              SELECT doc_id, toks, n, unnest(range(0, n, 3)) AS start
              FROM w
            ),
            ch AS (
              SELECT doc_id,
                     array_to_string(list_slice(toks, start + 1, start + 3), ' ') AS chunk_text
              FROM s
            )
            SELECT chunk_text, count(*)::BIGINT AS n_occurrences,
                   min(doc_id) AS first_doc
            FROM ch GROUP BY 1 HAVING count(*) >= 2
        """,
        "chunk_docs": f"""
            -- 16-token chunks, step 12 (overlap 4): starts at 0,12,24,...
            -- while start < n; last chunk may be short; empty docs emit
            -- no rows (range(0, n, step) is end-exclusive like the Spark
            -- sequence bound)
            WITH nt AS (SELECT doc_id, {_NORM} AS t FROM documents),
            w AS (
              SELECT doc_id, string_split(t, ' ') AS toks,
                     len(string_split(t, ' ')) AS n
              FROM nt WHERE t != ''
            ),
            s AS (
              SELECT doc_id, toks, n, unnest(range(0, n, 12)) AS start
              FROM w
            )
            SELECT doc_id,
                   (start / 12)::INT AS chunk_idx,
                   array_to_string(list_slice(toks, start + 1, start + 16), ' ') AS chunk_text,
                   least(16, n - start)::INT AS n_tokens
            FROM s
        """,
        "kg_triples_linked": r"""
            -- full chain: per-occurrence mentions, context-scored pred
            -- (same rules as tag_match_linked), canonical obj =
            -- lexicographic min of the single alias component that
            -- 'merge' fuses ({merge_ent, merge_op} -> 'merge_ent')
            WITH m AS (
              SELECT doc_id,
                     unnest(regexp_extract_all(trim(text), '\b(merge|window|customer)\b')) AS kw
              FROM documents
            ),
            ctx AS (
              SELECT doc_id,
                     CASE WHEN regexp_matches(trim(text), '\bwindow\b') THEN 1 ELSE 0 END AS s_op,
                     CASE WHEN regexp_matches(trim(text), '\bcustomer\b') THEN 1 ELSE 0 END AS s_ent
              FROM documents
            )
            SELECT m.doc_id,
                   CASE m.kw
                     WHEN 'merge' THEN
                       CASE WHEN c.s_op >= c.s_ent THEN 'merge_op' ELSE 'merge_ent' END
                     WHEN 'window' THEN 'merge_op'
                     ELSE 'merge_ent'
                   END AS pred,
                   'merge_ent' AS obj,
                   m.kw AS keyword
            FROM m JOIN ctx c ON m.doc_id = c.doc_id
        """,
        "c4_filters": r"""
            WITH m AS (
              -- coalesce: NULL text must behave as '' (operator contract)
              SELECT doc_id,
                     CASE WHEN doc_id % 97 = 0
                          THEN replace(trim(coalesce(text, '')), ' merge ', '.' || chr(10)) || ' lorem ipsum'
                          ELSE replace(trim(coalesce(text, '')), ' merge ', '.' || chr(10)) END AS t
              FROM documents
            ),
            l AS (
              SELECT doc_id, t,
                     list_filter(list_transform(string_split(t, chr(10)), x -> trim(x)),
                                 x -> x != '') AS lines
              FROM m
            ),
            k AS (
              SELECT doc_id, t, lines,
                     list_filter(lines, x -> x[-1] IN ('.', '!', '?', '"')
                                            AND len(list_filter(string_split(x, ' '),
                                                                y -> y != '')) >= 5) AS kept
              FROM l
            ),
            c AS (
              -- array_to_string([]) is NULL in DuckDB, '' in Spark's
              -- array_join: coalesce to align the no-kept-lines rows
              SELECT doc_id, t, lines, kept,
                     coalesce(array_to_string(kept, chr(10)), '') AS clean_text,
                     (length(coalesce(array_to_string(kept, chr(10)), ''))
                      - length(replace(replace(replace(coalesce(array_to_string(kept, chr(10)), ''),
                                                       '.', ''), '!', ''), '?', ''))) AS n_sentences
              FROM k
            )
            SELECT doc_id, clean_text,
                   len(lines) AS n_lines, len(kept) AS n_kept, n_sentences,
                   (n_sentences >= 2
                    AND NOT contains(lower(t), 'lorem ipsum')
                    AND NOT contains(lower(t), '{'))::INT AS page_kept
            FROM c
        """,
        "line_dedup": r"""
            WITH m AS (
              SELECT doc_id,
                     replace(replace(replace(replace(trim(text),
                       ' table ', chr(10)), ' value ', chr(10)),
                       ' a ', chr(10)), ' the ', chr(10)) AS t
              FROM documents
            ),
            arrs AS (
              SELECT doc_id,
                     list_filter(list_transform(string_split(t, chr(10)), x -> trim(x)),
                                 x -> x != '') AS lines
              FROM m
            ),
            l AS (
              SELECT doc_id, unnest(lines) AS line,
                     generate_subscripts(lines, 1) - 1 AS pos
              FROM arrs
            ),
            -- first occurrence = min(id) per line, then min(pos) within
            -- that id: the pure-ANSI replication of Spark's
            -- min(struct(id, pos)) lexicographic struct minimum
            f1 AS (SELECT line AS fl, min(doc_id) AS fid FROM l GROUP BY 1),
            f AS (
              SELECT l.line AS fl, l.doc_id AS fid, min(l.pos) AS fpos
              FROM l JOIN f1 ON l.line = f1.fl AND l.doc_id = f1.fid
              GROUP BY 1, 2
            ),
            kept AS (
              SELECT l.doc_id, l.pos, l.line
              FROM l JOIN f ON l.line = f.fl AND l.doc_id = f.fid AND l.pos = f.fpos
            ),
            agg AS (
              SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS clean_text
              FROM kept GROUP BY 1
            )
            SELECT d.doc_id, coalesce(a.clean_text, '') AS clean_text
            FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id
        """,
        "stream_dedup_ttl": f"""
            -- gaps-and-islands replication of Spark's session_window
            -- semantics: an event EXTENDS the session when its gap from
            -- the previous same-key event is <= 1800 s (sessions merge at
            -- the exact boundary — asserted in tests/test_round4_fixes),
            -- a strictly larger gap starts a new session
            WITH rows AS (
              SELECT doc_id AS id,
                     substring({_NORM}, 1, 8) AS key,
                     (doc_id * 37 % 1440) * 60 AS sec
              FROM documents
            ),
            o AS (
              SELECT *, lag(sec) OVER (PARTITION BY key ORDER BY sec, id) AS prev_sec
              FROM rows
            ),
            s AS (
              SELECT *,
                     sum(CASE WHEN prev_sec IS NULL OR sec - prev_sec > 1800
                              THEN 1 ELSE 0 END)
                       OVER (PARTITION BY key ORDER BY sec, id
                             ROWS UNBOUNDED PRECEDING) AS sid
              FROM o
            ),
            r AS (
              SELECT key, sid, sec, id,
                     row_number() OVER (PARTITION BY key, sid ORDER BY sec, id) AS rn,
                     count(*) OVER (PARTITION BY key, sid) AS n_in_session
              FROM s
            )
            SELECT key, id AS first_id, sec AS first_sec, n_in_session
            FROM r WHERE rn = 1
        """,
        "distinct_langs": "SELECT DISTINCT lang FROM documents WHERE lang IS NOT NULL",
        "kg_triples": f"""
            WITH {_KG_M}
            SELECT doc_id AS subj,
                   CASE kw WHEN 'window' THEN 'alpha_op'
                           WHEN 'stream' THEN 'zeta_op'
                           ELSE 'scan_op' END AS pred,
                   CASE kw WHEN 'table scan' THEN 'scan_op'
                           ELSE 'alpha_op' END AS obj,
                   kw AS keyword,
                   sentence,
                   0 AS sent_idx,
                   NULL::VARCHAR AS category,
                   lang
            FROM m
        """,
        # robots: the oracle derives the expected decision per (host,
        # path-case) directly from the synthetic construction — an
        # INDEPENDENT expectation the parser+decision chain must reproduce
        "robots_filter": """
            WITH d AS (
              SELECT doc_id % 7 AS h, doc_id % 4 AS m FROM documents
            ),
            rows_ AS (
              SELECT 'h' || h::VARCHAR || '.ex' AS host,
                     CASE m WHEN 0 THEN '/d' || h::VARCHAR || '/a'
                            WHEN 1 THEN '/d' || h::VARCHAR || '/ok/b'
                            WHEN 2 THEN '/x/c'
                            ELSE '/plain' END AS path,
                     CASE WHEN m = 0 THEN 0 ELSE 1 END AS allowed,
                     CASE WHEN m = 0 THEN '/d' || h::VARCHAR
                          WHEN m = 1 THEN '/d' || h::VARCHAR || '/ok'
                          WHEN m = 2 AND h % 3 = 0 THEN '/x'
                          ELSE NULL END AS rule_path
              FROM d
            )
            SELECT 'https://' || host || path AS url, host, path,
                   allowed::INT AS allowed, rule_path
            FROM rows_
        """,
        # RAKE: identical boundary regex (RAKE_BOUNDARY_PATTERN, shared
        # constant), chr(1) marker, per-doc window phrase numbering,
        # integer deg*1e6 // freq word scores
        "rake_keywords": f"""
            WITH tk AS (
              SELECT doc_id AS id,
                     string_split(trim(regexp_replace(
                       regexp_replace(lower(coalesce(text, '')), '[^a-z0-9 ]+',
                                      ' ' || chr(1) || ' ', 'g'),
                       ' +', ' ', 'g')), ' ') AS toks
              FROM documents
            ),
            pos AS (SELECT id, toks, unnest(range(1, len(toks) + 1)) AS pos FROM tk),
            tok AS (SELECT id, pos, toks[pos::INT] AS w FROM pos),
            seq AS (SELECT id, pos, w,
                           (w = chr(1) OR w = '' OR w IN ('the','a','an','of','and','to','in','is','it','that')) AS b,
                           sum(CASE WHEN (w = chr(1) OR w = '' OR w IN ('the','a','an','of','and','to','in','is','it','that')) THEN 1 ELSE 0 END)
                             OVER (PARTITION BY id ORDER BY pos ROWS UNBOUNDED PRECEDING) AS phrase_id
                    FROM tok),
            ph AS (SELECT id, phrase_id, list(w ORDER BY pos) AS ws
                   FROM seq WHERE NOT b GROUP BY id, phrase_id),
            ph2 AS (SELECT id, phrase_id, ws, array_to_string(ws, ' ') AS phrase, len(ws) AS n_words
                    FROM ph WHERE len(ws) <= 4),
            mem AS (SELECT id, phrase_id, phrase, n_words, unnest(ws) AS w FROM ph2),
            wst AS (SELECT id, w, count(*) AS freq, sum(n_words) AS deg FROM mem GROUP BY id, w),
            wsc AS (SELECT id, w, ((deg * 1000000) // freq)::BIGINT AS w_score_ppm FROM wst),
            sc AS (SELECT m.id, m.phrase_id, m.phrase, m.n_words, sum(w_score_ppm) AS score_ppm
                   FROM mem m JOIN wsc ON wsc.id = m.id AND wsc.w = m.w
                   GROUP BY m.id, m.phrase_id, m.phrase, m.n_words)
            SELECT id, phrase,
                   max(n_words)::INT AS n_words,
                   count(*)::BIGINT AS n_occurrences,
                   max(score_ppm)::BIGINT AS score_ppm
            FROM sc GROUP BY id, phrase
        """,
        # N-Triples serialization: IRI percent-escapes (backslash first)
        # then the literal ECHAR escapes over the sentence object; DuckDB
        # replace() is literal+global, same as Spark's F.replace chain
        "kg_ntriples": f"""
            WITH {_KG_M},
            t AS (
              SELECT 'https://ex.org/doc/' || doc_id::VARCHAR AS subj,
                     CASE kw WHEN 'window' THEN 'alpha_op'
                             WHEN 'stream' THEN 'zeta_op'
                             ELSE 'scan_op' END AS pred,
                     sentence AS obj
              FROM m
            ),
            esc AS (
              SELECT subj, pred,
                     replace(replace(replace(replace(replace(replace(replace(replace(replace(replace(
                       subj, '\\', '%5C'), ' ', '%20'), '<', '%3C'), '>', '%3E'), '"', '%22'),
                       '{{', '%7B'), '}}', '%7D'), '|', '%7C'), '^', '%5E'), chr(96), '%60') AS s_esc,
                     replace(replace(replace(replace(replace(replace(replace(replace(replace(replace(
                       pred, '\\', '%5C'), ' ', '%20'), '<', '%3C'), '>', '%3E'), '"', '%22'),
                       '{{', '%7B'), '}}', '%7D'), '|', '%7C'), '^', '%5E'), chr(96), '%60') AS p_esc,
                     replace(replace(replace(replace(replace(
                       obj, '\\', '\\\\'), '"', '\\"'), chr(10), '\\n'), chr(13), '\\r'), chr(9), '\\t') AS o_esc
              FROM t
            )
            SELECT subj, pred,
                   '<' || s_esc || '> <http://example.org/pred/' || p_esc || '> "' || o_esc || '" .' AS line
            FROM esc
        """,
        "linebreak_norm": r"""
            SELECT doc_id,
                   array_to_string(
                     list_transform(
                       list_filter(
                         string_split_regex(
                           replace(replace(replace(trim(text), ' agg ', chr(10) || chr(10)),
                                           ' sort ', chr(10)),
                                   ' key ', chr(13)),
                           '\r\n|\r|\n'),
                         x -> x <> ''),
                       x -> trim(x)),
                     chr(10)) AS clean_text
            FROM documents
        """,
        "sentence_split": """
            SELECT doc_id,
                   len(string_split(replace(trim(text), ' merge ', '. '), '. '))::INT AS n_sentences
            FROM documents
        """,
        "html_extract": """
            SELECT doc_id, 'Doc' || chr(10) || trim(text) AS extracted
            FROM documents
        """,
        "dedup_exact": f"""
            WITH {_CORPUS_EXACT},
            f AS (SELECT id, md5(t) AS fingerprint FROM corpus)
            SELECT id, fingerprint,
                   min(id) OVER (PARTITION BY fingerprint) AS canonical_id,
                   id != min(id) OVER (PARTITION BY fingerprint) AS is_duplicate
            FROM f
        """,
        "dedup_minhash": f"""
            WITH {_CORPUS_MUT},
            {_SHINGLES},
            hx AS (SELECT id, md5(g) AS h FROM sh3),
            sig AS (
              SELECT id,
                     min(substr(h,  1, 4)) AS s0, min(substr(h,  5, 4)) AS s1,
                     min(substr(h,  9, 4)) AS s2, min(substr(h, 13, 4)) AS s3,
                     min(substr(h, 17, 4)) AS s4, min(substr(h, 21, 4)) AS s5,
                     min(substr(h, 25, 4)) AS s6, min(substr(h, 29, 4)) AS s7
              FROM hx GROUP BY id
            ),
            bk AS (
              SELECT id, unnest([
                md5(0 || '|' || s0 || '|' || s1),
                md5(1 || '|' || s2 || '|' || s3),
                md5(2 || '|' || s4 || '|' || s5),
                md5(3 || '|' || s6 || '|' || s7)]) AS band_key
              FROM sig
            ),
            -- max_bucket_size=1000 mirrored (degenerate band buckets are
            -- dropped before pairing, exactly as minhash_candidate_pairs)
            small AS (SELECT band_key FROM bk GROUP BY band_key
                      HAVING count(*) <= 1000),
            bks AS (SELECT bk.id, bk.band_key FROM bk JOIN small USING (band_key))
            SELECT DISTINCT x.id AS id_a, y.id AS id_b
            FROM bks x JOIN bks y ON x.band_key = y.band_key AND x.id < y.id
        """,
        # duplicate clusters = connected components over the minhash pair
        # graph; recursive reachability-min in DuckDB == min-label
        # propagation in Spark (component id = min node id)
        "dup_clusters": f"""
            WITH RECURSIVE {_CORPUS_MUT},
            {_SHINGLES},
            hx AS (SELECT id, md5(g) AS h FROM sh3),
            sig AS (
              SELECT id,
                     min(substr(h,  1, 4)) AS s0, min(substr(h,  5, 4)) AS s1,
                     min(substr(h,  9, 4)) AS s2, min(substr(h, 13, 4)) AS s3,
                     min(substr(h, 17, 4)) AS s4, min(substr(h, 21, 4)) AS s5,
                     min(substr(h, 25, 4)) AS s6, min(substr(h, 29, 4)) AS s7
              FROM hx GROUP BY id
            ),
            bk AS (
              SELECT id, unnest([
                md5(0 || '|' || s0 || '|' || s1),
                md5(1 || '|' || s2 || '|' || s3),
                md5(2 || '|' || s4 || '|' || s5),
                md5(3 || '|' || s6 || '|' || s7)]) AS band_key
              FROM sig
            ),
            -- max_bucket_size=1000 mirrored (degenerate band buckets are
            -- dropped before pairing, exactly as minhash_candidate_pairs)
            small AS (SELECT band_key FROM bk GROUP BY band_key
                      HAVING count(*) <= 1000),
            bks AS (SELECT bk.id, bk.band_key FROM bk JOIN small USING (band_key)),
            pairs AS (
              SELECT DISTINCT x.id AS id_a, y.id AS id_b
              FROM bks x JOIN bks y ON x.band_key = y.band_key AND x.id < y.id
            ),
            und AS (
              SELECT id_a AS u, id_b AS v FROM pairs
              UNION
              SELECT id_b, id_a FROM pairs
            ),
            reach(node, r) AS (
              SELECT u, u FROM und
              UNION
              SELECT und.u, reach.r FROM und JOIN reach ON reach.node = und.v
            ),
            comp AS (SELECT node, min(r) AS component FROM reach GROUP BY node)
            SELECT c.id, coalesce(comp.component, c.id) AS cluster_id
            FROM corpus c LEFT JOIN comp ON comp.node = c.id
        """,
        "ngram_jaccard": f"""
            WITH {_CORPUS_MUT},
            {_SHINGLES},
            inv AS (SELECT DISTINCT id, g FROM sh3),
            -- df cap mirrors ngram_jaccard_pairs(max_doc_freq=10000):
            -- candidates come from the capped index, Jaccard is exact
            -- over the FULL shingle sets of each candidate pair
            rare AS (SELECT g FROM inv GROUP BY g HAVING count(*) <= 10000),
            idx AS (SELECT inv.id, inv.g FROM inv JOIN rare USING (g)),
            cand AS (
              SELECT DISTINCT x.id AS id_a, y.id AS id_b
              FROM idx x JOIN idx y ON x.g = y.g AND x.id < y.id
            ),
            sz AS (SELECT id, count(*) AS s FROM inv GROUP BY 1),
            it AS (
              SELECT c.id_a, c.id_b, count(*) AS i
              FROM cand c
              JOIN inv a ON a.id = c.id_a
              JOIN inv b ON b.id = c.id_b AND b.g = a.g
              GROUP BY 1, 2
            )
            SELECT id_a, id_b,
                   round(i::DOUBLE / (sa.s + sb.s - i), 6) AS jaccard
            FROM it
            JOIN sz sa ON sa.id = it.id_a
            JOIN sz sb ON sb.id = it.id_b
            WHERE i::DOUBLE / (sa.s + sb.s - i) >= 0.5
        """,
        "simhash": f"""
            WITH {_CORPUS_MUT},
            words AS (SELECT id, t, string_split(t, ' ') AS w FROM corpus),
            tok AS (SELECT id, unnest(w) AS wd, generate_subscripts(w, 1) AS pos FROM words),
            bi AS (
              SELECT a.id, a.wd || ' ' || b.wd AS g
              FROM tok a JOIN tok b ON b.id = a.id AND b.pos = a.pos + 1
            ),
            sh2 AS (SELECT id, g FROM bi UNION ALL SELECT id, t FROM words WHERE len(w) < 2),
            hv AS (SELECT id, ('0x' || substr(md5(g), 1, 15))::UBIGINT AS h FROM sh2),
            votes AS (
              SELECT id, bits.j,
                     sum(CASE WHEN (h >> bits.j) & 1 = 1 THEN 1 ELSE -1 END) AS v
              FROM hv CROSS JOIN (SELECT unnest(range(60)) AS j) bits
              GROUP BY 1, 2
            ),
            sim AS (
              SELECT id,
                     sum(CASE WHEN v > 0 THEN (1::UBIGINT << j) ELSE 0 END)::BIGINT AS simhash
              FROM votes GROUP BY 1
            )
            SELECT id, simhash, (simhash >> 52)::BIGINT AS bucket FROM sim
        """,
        "embedding_topk": """
            SELECT query_id, neighbor_id, rank::INT AS rank FROM (
              SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                     row_number() OVER (
                       PARTITION BY q.vec_id
                       ORDER BY list_cosine_similarity(q.embedding::DOUBLE[],
                                                       c.embedding::DOUBLE[]) DESC,
                                c.vec_id
                     ) AS rank
              FROM embeddings q
              JOIN embeddings c ON c.vec_id != q.vec_id
              WHERE q.vec_id < 10
            ) WHERE rank <= 5
        """,
        "hard_negatives": """
            SELECT query_id, neighbor_id, neighbor_label,
                   rank::INT AS rank FROM (
              SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                     c.label AS neighbor_label,
                     row_number() OVER (
                       PARTITION BY q.vec_id
                       ORDER BY list_cosine_similarity(q.embedding::DOUBLE[],
                                                       c.embedding::DOUBLE[]) DESC,
                                c.vec_id
                     ) AS rank
              FROM embeddings q
              JOIN embeddings c ON c.label != q.label
              WHERE q.vec_id < 10
            ) WHERE rank <= 5
        """,
        "embedding_dups": """
            WITH planted AS (
              SELECT vec_id, embedding FROM embeddings
              UNION ALL
              SELECT vec_id + 10000,
                     list_transform(embedding, x -> x * 2.0)::FLOAT[]
              FROM embeddings
            )
            SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                   round(list_cosine_similarity(a.embedding::DOUBLE[],
                                                b.embedding::DOUBLE[]), 6) AS cos_sim
            FROM planted a JOIN planted b ON a.vec_id < b.vec_id
            WHERE list_cosine_similarity(a.embedding::DOUBLE[],
                                         b.embedding::DOUBLE[]) >= 0.95
        """,
        # LSH ANN: bucket math replicated exactly (md5-deterministic planes,
        # verified bit-identical across engines), then the same candidate
        # dedup + exact cosine re-rank as the Spark plan
        "embedding_ann": f"""
            WITH b AS (
              SELECT vec_id, {_lsh_bucket_sql("embedding", 6, 4)} AS bks
              FROM embeddings
            ),
            e AS (SELECT vec_id, unnest(bks) AS bucket FROM b),
            cand AS (
              SELECT DISTINCT q.vec_id AS qid, c.vec_id AS nid
              FROM e c JOIN e q USING (bucket)
              WHERE q.vec_id < 10 AND c.vec_id != q.vec_id
            )
            SELECT query_id, neighbor_id, rank::INT AS rank FROM (
              SELECT cand.qid AS query_id, cand.nid AS neighbor_id,
                     row_number() OVER (PARTITION BY cand.qid
                       ORDER BY list_cosine_similarity(eq.embedding::DOUBLE[],
                                                       en.embedding::DOUBLE[]) DESC,
                                cand.nid) AS rank
              FROM cand
              JOIN embeddings eq ON eq.vec_id = cand.qid
              JOIN embeddings en ON en.vec_id = cand.nid
            ) WHERE rank <= 5
        """,
        "embedding_ann_multiprobe": f"""
            WITH bc AS (
              SELECT vec_id, {_lsh_bucket_sql("embedding", 6, 2)} AS bks
              FROM embeddings
            ),
            c AS (SELECT vec_id, unnest(bks) AS bucket FROM bc),
            bq AS (
              SELECT vec_id, {_lsh_bucket_sql("embedding", 6, 2, probes=1)} AS bks
              FROM embeddings WHERE vec_id < 10
            ),
            q AS (SELECT vec_id, unnest(bks) AS bucket FROM bq),
            cand AS (
              SELECT DISTINCT q.vec_id AS qid, c.vec_id AS nid
              FROM c JOIN q USING (bucket)
              WHERE c.vec_id != q.vec_id
            )
            SELECT query_id, neighbor_id, rank::INT AS rank FROM (
              SELECT cand.qid AS query_id, cand.nid AS neighbor_id,
                     row_number() OVER (PARTITION BY cand.qid
                       ORDER BY list_cosine_similarity(eq.embedding::DOUBLE[],
                                                       en.embedding::DOUBLE[]) DESC,
                                cand.nid) AS rank
              FROM cand
              JOIN embeddings eq ON eq.vec_id = cand.qid
              JOIN embeddings en ON en.vec_id = cand.nid
            ) WHERE rank <= 5
        """,
        "embedding_dups_lsh": f"""
            WITH planted AS (
              SELECT vec_id, embedding FROM embeddings
              UNION ALL
              SELECT vec_id + 10000,
                     list_transform(embedding, x -> x * 2.0)::FLOAT[]
              FROM embeddings
            ),
            b AS (SELECT vec_id, {_lsh_bucket_sql("embedding", 8, 4)} AS bks
                  FROM planted),
            e AS (SELECT vec_id, unnest(bks) AS bucket FROM b),
            cand AS (
              SELECT DISTINCT x.vec_id AS id_a, y.vec_id AS id_b
              FROM e x JOIN e y USING (bucket) WHERE x.vec_id < y.vec_id
            )
            SELECT id_a, id_b,
                   round(list_cosine_similarity(pa.embedding::DOUBLE[],
                                                pb.embedding::DOUBLE[]), 6) AS cos_sim
            FROM cand
            JOIN planted pa ON pa.vec_id = cand.id_a
            JOIN planted pb ON pb.vec_id = cand.id_b
            WHERE list_cosine_similarity(pa.embedding::DOUBLE[],
                                         pb.embedding::DOUBLE[]) >= 0.95
        """,
        "embedding_ivf": """
            WITH cent AS (SELECT vec_id AS cid, embedding FROM embeddings WHERE vec_id < 16),
            asgn AS (
              SELECT nid, cid FROM (
                SELECT e.vec_id AS nid, c.cid,
                       row_number() OVER (PARTITION BY e.vec_id
                         ORDER BY list_cosine_similarity(e.embedding::DOUBLE[],
                                                         c.embedding::DOUBLE[]) DESC,
                                  c.cid) AS r
                FROM embeddings e CROSS JOIN cent c
              ) WHERE r = 1
            ),
            probe AS (
              SELECT qid, cid FROM (
                SELECT q.vec_id AS qid, c.cid,
                       row_number() OVER (PARTITION BY q.vec_id
                         ORDER BY list_cosine_similarity(q.embedding::DOUBLE[],
                                                         c.embedding::DOUBLE[]) DESC,
                                  c.cid) AS r
                FROM embeddings q CROSS JOIN cent c WHERE q.vec_id < 10
              ) WHERE r <= 4
            ),
            cand AS (
              SELECT p.qid, a.nid FROM probe p JOIN asgn a ON a.cid = p.cid
              WHERE a.nid != p.qid
            )
            SELECT query_id, neighbor_id, rank::INT AS rank FROM (
              SELECT c.qid AS query_id, c.nid AS neighbor_id,
                     row_number() OVER (PARTITION BY c.qid
                       ORDER BY list_cosine_similarity(eq.embedding::DOUBLE[],
                                                       en.embedding::DOUBLE[]) DESC,
                                c.nid) AS rank
              FROM cand c
              JOIN embeddings eq ON eq.vec_id = c.qid
              JOIN embeddings en ON en.vec_id = c.nid
            ) WHERE rank <= 5
        """,
        # one full Lloyd's pass replicated in SQL: assign to raw seeds,
        # per-(cell,dim) mean, round to 1e-6 (same quantization as the
        # Spark side — FP summation order can't flip an assignment),
        # re-assign, probe, exact re-rank. Empty seed cells keep their
        # (rounded) seed vector, mirroring kmeans_centroids' fallback.
        "embedding_ivf_refined": """
            WITH seeds AS (SELECT vec_id AS cid, embedding FROM embeddings WHERE vec_id < 16),
            asgn0 AS (
              SELECT nid, cid FROM (
                SELECT e.vec_id AS nid, c.cid,
                       row_number() OVER (PARTITION BY e.vec_id
                         ORDER BY list_cosine_similarity(e.embedding::DOUBLE[],
                                                         c.embedding::DOUBLE[]) DESC,
                                  c.cid) AS r
                FROM embeddings e CROSS JOIN seeds c
              ) WHERE r = 1
            ),
            comp AS (
              SELECT a.cid, generate_subscripts(e.embedding, 1) AS pos,
                     unnest(e.embedding::DOUBLE[]) AS x
              FROM asgn0 a JOIN embeddings e ON e.vec_id = a.nid
            ),
            mn AS (
              SELECT cid, pos, round(sum(x) / count(*), 6) AS m
              FROM comp GROUP BY cid, pos
            ),
            sc AS (
              SELECT vec_id AS cid, generate_subscripts(embedding, 1) AS pos,
                     unnest(embedding::DOUBLE[]) AS x
              FROM embeddings WHERE vec_id < 16
            ),
            cent AS (
              SELECT sc.cid, list(coalesce(mn.m, round(sc.x, 6)) ORDER BY sc.pos) AS c
              FROM sc LEFT JOIN mn ON mn.cid = sc.cid AND mn.pos = sc.pos
              GROUP BY sc.cid
            ),
            asgn AS (
              SELECT nid, cid FROM (
                SELECT e.vec_id AS nid, c.cid,
                       row_number() OVER (PARTITION BY e.vec_id
                         ORDER BY list_cosine_similarity(e.embedding::DOUBLE[], c.c) DESC,
                                  c.cid) AS r
                FROM embeddings e CROSS JOIN cent c
              ) WHERE r = 1
            ),
            probe AS (
              SELECT qid, cid FROM (
                SELECT q.vec_id AS qid, c.cid,
                       row_number() OVER (PARTITION BY q.vec_id
                         ORDER BY list_cosine_similarity(q.embedding::DOUBLE[], c.c) DESC,
                                  c.cid) AS r
                FROM embeddings q CROSS JOIN cent c WHERE q.vec_id < 10
              ) WHERE r <= 4
            ),
            cand AS (
              SELECT p.qid, a.nid FROM probe p JOIN asgn a ON a.cid = p.cid
              WHERE a.nid != p.qid
            )
            SELECT query_id, neighbor_id, rank::INT AS rank FROM (
              SELECT c.qid AS query_id, c.nid AS neighbor_id,
                     row_number() OVER (PARTITION BY c.qid
                       ORDER BY list_cosine_similarity(eq.embedding::DOUBLE[],
                                                       en.embedding::DOUBLE[]) DESC,
                                c.nid) AS rank
              FROM cand c
              JOIN embeddings eq ON eq.vec_id = c.qid
              JOIN embeddings en ON en.vec_id = c.nid
            ) WHERE rank <= 5
        """,
        "quality_repetition": f"""
            WITH n AS (SELECT doc_id, {_NORM} AS norm FROM documents),
            w AS (
              SELECT doc_id,
                     CASE WHEN norm = '' THEN [] ELSE string_split(norm, ' ') END AS toks
              FROM n
            ),
            tok AS (SELECT doc_id, unnest(toks) AS wd FROM w),
            uni AS (
              SELECT doc_id, max(c) AS topu FROM (
                SELECT doc_id, wd, count(*) AS c FROM tok GROUP BY 1, 2
              ) GROUP BY 1
            ),
            pos AS (
              SELECT doc_id, unnest(toks) AS wd, generate_subscripts(toks, 1) AS p
              FROM w
            ),
            big AS (
              SELECT a.doc_id, a.wd || ' ' || b.wd AS bg
              FROM pos a JOIN pos b ON b.doc_id = a.doc_id AND b.p = a.p + 1
            ),
            bigc AS (
              SELECT doc_id, max(c) AS topb FROM (
                SELECT doc_id, bg, count(*) AS c FROM big GROUP BY 1, 2
              ) GROUP BY 1
            )
            SELECT w.doc_id AS id,
                   round(CASE WHEN len(toks) > 0
                         THEN coalesce(uni.topu, 0)::DOUBLE / len(toks)
                         ELSE 0.0 END, 6) AS top_unigram_ratio,
                   round(CASE WHEN len(toks) > 0
                         THEN 1.0 - len(list_distinct(toks))::DOUBLE / len(toks)
                         ELSE 0.0 END, 6) AS dup_word_ratio,
                   round(CASE WHEN len(toks) > 1
                         THEN coalesce(bigc.topb, 0)::DOUBLE / (len(toks) - 1)
                         ELSE 0.0 END, 6) AS top_bigram_ratio
            FROM w
            LEFT JOIN uni USING (doc_id)
            LEFT JOIN bigc USING (doc_id)
        """,
        "quality": f"""
            WITH n AS (SELECT doc_id, {_NORM} AS norm FROM documents),
            w AS (
              SELECT doc_id, norm,
                     CASE WHEN norm = '' THEN [] ELSE string_split(norm, ' ') END AS toks,
                     length(norm) AS nc
              FROM n
            ),
            f AS (
              SELECT doc_id, norm, nc,
                     CASE WHEN norm = '' THEN 0 ELSE len(toks) END AS nt,
                     length(array_to_string(toks, '')) AS charsum,
                     len(list_filter(toks, x -> x IN
                         ('the','a','an','of','and','to','in','is','it','that'))) AS nstop,
                     len(regexp_extract_all(norm, '[^\\w\\s]')) AS npunct
              FROM w
            ),
            r AS (
              SELECT doc_id, nc, nt,
                     CASE WHEN nt > 0 THEN charsum::DOUBLE / nt ELSE 0.0 END AS avg_len,
                     CASE WHEN nt > 0 THEN nstop::DOUBLE / nt ELSE 0.0 END AS stop_r,
                     CASE WHEN nc > 0 THEN npunct::DOUBLE / nc ELSE 0.0 END AS punct_r,
                     md5(norm) AS fingerprint
              FROM f
            )
            SELECT doc_id AS id, nc::INT AS n_chars, nt::INT AS n_tokens,
                   round(avg_len, 6) AS avg_token_len,
                   round(stop_r, 6) AS stopword_ratio,
                   round(punct_r, 6) AS punct_ratio,
                   round(least(1.0, greatest(0.0,
                         (0.5 + stop_r) * least(1.0, nt / 20.0) - punct_r)), 6)
                     AS quality_score,
                   fingerprint
            FROM r
        """,
        "token_stats": f"""
            WITH n AS (SELECT doc_id, {_NORM} AS norm FROM documents)
            SELECT doc_id,
                   (CASE WHEN norm = '' THEN 0
                         ELSE len(string_split(norm, ' ')) END)::INT AS n_ws_tokens,
                   len(regexp_extract_all(norm, '[a-z0-9]+|[^a-z0-9\\s]'))::INT AS n_regex_tokens
            FROM n
        """,
        "langid_markers": f"""
            WITH w AS (SELECT doc_id, string_split({_NORM}, ' ') AS toks FROM documents),
            h AS (
              SELECT doc_id,
                     len(list_filter(toks, x -> x IN ('der','die','und','das','mit'))) AS de_h,
                     len(list_filter(toks, x -> x IN ('the','and','of','is','with'))) AS en_h,
                     len(list_filter(toks, x -> x IN ('el','los','las','y','una'))) AS es_h,
                     len(list_filter(toks, x -> x IN ('le','la','les','et','des'))) AS fr_h
              FROM w
            ),
            m1 AS (SELECT doc_id, es_h, fr_h,
                          CASE WHEN en_h > de_h THEN en_h ELSE de_h END AS b,
                          CASE WHEN en_h > de_h THEN 'en' ELSE 'de' END AS l FROM h),
            m2 AS (SELECT doc_id, fr_h,
                          CASE WHEN es_h > b THEN es_h ELSE b END AS b,
                          CASE WHEN es_h > b THEN 'es' ELSE l END AS l FROM m1),
            m3 AS (SELECT doc_id,
                          CASE WHEN fr_h > b THEN fr_h ELSE b END AS b,
                          CASE WHEN fr_h > b THEN 'fr' ELSE l END AS l FROM m2)
            SELECT doc_id AS id,
                   CASE WHEN b > 0 THEN l ELSE 'xx' END AS pred_lang,
                   b::INT AS marker_hits
            FROM m3
        """,
        "multimodal_meta": """
            SELECT doc_id AS id,
                   ((n_chars % 640) + 1)::INT AS width,
                   480::INT AS height,
                   'raw' AS fmt,
                   length(text)::INT AS payload_bytes
            FROM documents
        """,
        # real pixel decode: the oracle reconstructs the identical P6
        # bytes (ASCII-hex pixels) and sums ascii codes positionally —
        # byte i (1-based) belongs to channel (i-1) % 3 in row-major RGB
        "multimodal_real_decode": """
            WITH base AS (
              SELECT doc_id,
                     (doc_id % 13 + 2) AS w,
                     (doc_id % 7 + 2) AS h,
                     substr(repeat(md5(coalesce(text, '')), 11), 1,
                            ((doc_id % 13 + 2) * (doc_id % 7 + 2) * 3)::INT) AS px
              FROM documents
            )
            SELECT doc_id AS id, w::INT AS width, h::INT AS height,
                   list_sum(list_transform(range(1, (w*h*3 + 1)::BIGINT), i ->
                     CASE WHEN (i-1) % 3 = 0 THEN ascii(substr(px, i::INT, 1)) ELSE 0 END))::BIGINT AS sum_r,
                   list_sum(list_transform(range(1, (w*h*3 + 1)::BIGINT), i ->
                     CASE WHEN (i-1) % 3 = 1 THEN ascii(substr(px, i::INT, 1)) ELSE 0 END))::BIGINT AS sum_g,
                   list_sum(list_transform(range(1, (w*h*3 + 1)::BIGINT), i ->
                     CASE WHEN (i-1) % 3 = 2 THEN ascii(substr(px, i::INT, 1)) ELSE 0 END))::BIGINT AS sum_b
            FROM base
        """,
        # md5 featurizer replicated exactly: h = first 15 hex of
        # md5(buf || '|d'); feature = (h / 2^60) * 2 - 1, computed in
        # float64 then narrowed to float32 (::REAL) exactly as the Spark
        # array<float> schema does, then widened and rounded on both sides
        "multimodal_features": f"""
            WITH n AS (SELECT doc_id AS id,
                              substr({_NORM}, 1, 16) AS p
                       FROM documents),
            b AS (SELECT id, 'IMG|64|64|raw|' || p AS buf FROM n)
            SELECT id,
              {", ".join(
                "round(((('0x' || substr(md5(buf || '|" + str(d) + "'), 1, 15))::UBIGINT"
                " / 1152921504606846976.0 * 2.0 - 1.0)::REAL)::DOUBLE, 6) AS f" + str(d)
                for d in range(4)
              )}
            FROM b
        """,
        # lemmatization: 'merged' lemmatizes to 'merge' only under the en
        # lookup table (non-en tables have no entry → identity), so the
        # derived-token match is lang-dependent
        "tag_match_lemma": r"""
            WITH d AS (SELECT doc_id, lang,
                              replace(trim(text), ' merge ', ' merged ') AS t
                       FROM documents),
            m AS (
              SELECT doc_id, lang,
                     unnest(regexp_extract_all(t, '\b(table scan|merged|merge|slow|window|customer|spark)\b')) AS kw
              FROM d
            ),
            mf AS (
              SELECT DISTINCT doc_id, kw FROM m
              WHERE kw != 'merged' OR lang = 'en'
            )
            SELECT d.doc_id,
                   CASE mf.kw WHEN 'table scan' THEN 'scan_op'
                              WHEN 'merged' THEN 'merge_op'
                              WHEN 'merge' THEN 'merge_op'
                              WHEN 'slow' THEN 'merge_op'
                              WHEN 'window' THEN 'window_op'
                              WHEN 'customer' THEN 'customer_ent'
                              WHEN 'spark' THEN 'spark_ent' END AS tag,
                   mf.kw AS tag_keyword
            FROM d LEFT JOIN mf ON d.doc_id = mf.doc_id
        """,
        # ignore_case: lowering the derived text restores the original, so
        # the match set equals the base query's; surfaces are lowercase
        "tag_match_ignorecase": f"""
            WITH {onto},
            m AS (
              SELECT doc_id, unnest(regexp_extract_all(trim(text), '{pat}')) AS kw
              FROM documents
            ),
            md AS (SELECT DISTINCT doc_id, kw FROM m)
            SELECT d.doc_id, o.tag AS tag, md.kw AS tag_keyword
            FROM documents d
            LEFT JOIN md ON d.doc_id = md.doc_id
            LEFT JOIN onto o ON o.keyword = md.kw
        """,
        # ignore_diacritics: stripping combining marks restores 'slow'
        "tag_match_diacritics": f"""
            WITH {onto},
            m AS (
              SELECT doc_id, unnest(regexp_extract_all(trim(text), '{pat}')) AS kw
              FROM documents
            ),
            md AS (SELECT DISTINCT doc_id, kw FROM m)
            SELECT d.doc_id, o.tag AS tag, md.kw AS tag_keyword
            FROM documents d
            LEFT JOIN md ON d.doc_id = md.doc_id
            LEFT JOIN onto o ON o.keyword = md.kw
        """,
        "events_window": """
            SELECT date_trunc('hour', ts) AS hour_start, event_type,
                   count(*) AS n_events, round(sum(value), 2) AS sum_value
            FROM events GROUP BY 1, 2
        """,
        "events_sessionize": """
            WITH e AS (SELECT user_id, event_id, ts, floor(epoch(ts)) AS sec FROM events),
            g AS (
              SELECT user_id, ts,
                     CASE WHEN lag(sec) OVER w IS NULL OR sec - lag(sec) OVER w > 1800
                          THEN 1 ELSE 0 END AS is_new
              FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
            ),
            s AS (
              SELECT user_id, ts,
                     sum(is_new) OVER (PARTITION BY user_id ORDER BY ts
                                       ROWS UNBOUNDED PRECEDING) AS session_seq
              FROM g
            )
            SELECT user_id, session_seq::BIGINT AS session_seq,
                   count(*) AS n_events, min(ts) AS session_start
            FROM s GROUP BY 1, 2
        """,
        "events_props_json": r"""
            SELECT event_type,
                   sum(regexp_extract(props, '"k": (\d+)', 1)::BIGINT)::BIGINT AS sum_k,
                   count(regexp_extract(props, '"k": (\d+)', 1)) AS n_k
            FROM events GROUP BY 1
        """,
        "lineitem_pricing": """
            SELECT l_returnflag, l_linestatus,
                   round(sum(l_quantity), 2) AS sum_qty,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
                   count(*) AS n_rows
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '1998-09-02'
            GROUP BY 1, 2
        """,
        "orders_by_segment": """
            SELECT c_mktsegment, count(*) AS n_orders,
                   round(sum(o_totalprice), 2) AS total_price
            FROM orders JOIN customer ON o_custkey = c_custkey
            GROUP BY 1
        """,
        "remove_stopwords": f"""
            WITH w AS (SELECT doc_id, string_split({_NORM}, ' ') AS toks FROM documents),
            k AS (
              SELECT doc_id,
                     list_filter(toks, x -> x NOT IN
                       ('the','a','an','of','and','to','in','is','it','that')) AS kept
              FROM w
            )
            SELECT doc_id, len(kept)::INT AS n_kept,
                   array_to_string(kept, ' ') AS kept_text
            FROM k
        """,
        "tag_doc_details": f"""
            WITH {onto},
            m AS (
              SELECT doc_id, unnest(regexp_extract_all(trim(text), '{pat}')) AS kw
              FROM documents
            ),
            mt AS (SELECT m.doc_id, o.tag, m.kw FROM m JOIN onto o ON o.keyword = m.kw)
            SELECT doc_id, tag, count(*) AS match_count,
                   to_json(list(DISTINCT kw ORDER BY kw))::VARCHAR AS keywords
            FROM mt GROUP BY 1, 2
        """,
        "corpus_profile": """
            SELECT lang, count(*) AS n_docs,
                   round(avg(n_chars), 4) AS avg_chars,
                   round(quantile_cont(n_chars, 0.5), 6) AS p50_chars,
                   round(quantile_cont(n_chars, 0.9), 6) AS p90_chars
            FROM documents GROUP BY 1
        """,
        "salted_user_stats": """
            SELECT user_id, count(*) AS n_rows,
                   count(DISTINCT event_type)::INT AS n_distinct
            FROM events GROUP BY 1
        """,
        "pagerank": _pagerank_oracle(iterations=3),
        "graph_degrees": f"""
            WITH {_LINK_EDGES},
            o AS (SELECT src AS node, count(*) AS out_degree FROM e GROUP BY src),
            i AS (SELECT dst AS node, count(*) AS in_degree FROM e GROUP BY dst)
            SELECT coalesce(o.node, i.node) AS node,
                   coalesce(out_degree, 0) AS out_degree,
                   coalesce(in_degree, 0) AS in_degree,
                   coalesce(out_degree, 0) + coalesce(in_degree, 0)
                     AS total_degree
            FROM o FULL JOIN i ON o.node = i.node
        """,
        # integer-quantized BM25 (k1=1.2 b=0.75): micro-int Robertson idf
        # (round absorbs libm ULPs — tfidf precedent) + all-int64 tf
        # saturation with the same early floor divisions as the engine
        "bm25": f"""
            WITH {_BM25_CORE}
            SELECT id AS doc_id, score_micro FROM bmtop
        """,
        # bounded BFS from seed users 0-4: two unrolled frontier
        # expansions, each minus the already-visited set
        "k_hop": f"""
            WITH {_LINK_EDGES},
            seeds AS (SELECT DISTINCT user_id AS node FROM events
                      WHERE user_id < 5),
            v0 AS (SELECT node, 0 AS hops FROM seeds),
            f1 AS (SELECT DISTINCT e.dst AS node
                   FROM e JOIN v0 ON v0.node = e.src
                   WHERE e.dst NOT IN (SELECT node FROM v0)),
            v1 AS (SELECT node, hops FROM v0
                   UNION ALL SELECT node, 1 FROM f1),
            f2 AS (SELECT DISTINCT e.dst AS node
                   FROM e JOIN f1 ON f1.node = e.src
                   WHERE e.dst NOT IN (SELECT node FROM v1))
            SELECT node, hops FROM v1
            UNION ALL SELECT node, 2 FROM f2
        """,
        # structural Jaccard: same wedge formulation — symmetric adjacency,
        # pivot rows capped at degree 100 BEFORE the self-join, int-ppm
        # similarity ((1e6*|∩|) // |∪| — floor division on both engines)
        "node_jaccard": f"""
            WITH {_LINK_EDGES},
            und AS (SELECT least(src, dst) AS a, greatest(src, dst) AS b
                    FROM e GROUP BY 1, 2),
            adj AS (SELECT a AS node, b AS nbr FROM und
                    UNION ALL SELECT b, a FROM und),
            deg AS (SELECT node, count(*) AS deg FROM adj GROUP BY node),
            piv AS (SELECT adj.nbr AS via, adj.node FROM adj
                    JOIN deg ON deg.node = adj.nbr WHERE deg.deg <= 100),
            inter AS (
              SELECT w1.node AS node_a, w2.node AS node_b,
                     count(*) AS shared
              FROM piv w1 JOIN piv w2
                ON w1.via = w2.via AND w1.node < w2.node
              GROUP BY 1, 2 HAVING count(*) >= 30
            )
            SELECT node_a, node_b, shared, da.deg AS deg_a, db.deg AS deg_b,
                   (1000000 * shared) // (da.deg + db.deg - shared)
                     AS jaccard_ppm
            FROM inter
            JOIN deg da ON da.node = inter.node_a
            JOIN deg db ON db.node = inter.node_b
        """,
        # 13-core, three unrolled peel rounds over the sparsified (every
        # 5th event) link graph — identical fixed_rounds semantics
        "k_core": """
            WITH es AS (SELECT DISTINCT user_id AS src,
                               event_id % 150 AS dst
                        FROM events
                        WHERE user_id != event_id % 150
                          AND event_id % 5 = 0),
            e0 AS (SELECT least(src, dst) AS a, greatest(src, dst) AS b
                   FROM es GROUP BY 1, 2),
            d0 AS (SELECT node, count(*) AS deg FROM (
                     SELECT a AS node FROM e0
                     UNION ALL SELECT b FROM e0) GROUP BY node),
            k0 AS (SELECT node FROM d0 WHERE deg >= 13),
            e1 AS (SELECT a, b FROM e0
                   WHERE a IN (SELECT node FROM k0)
                     AND b IN (SELECT node FROM k0)),
            d1 AS (SELECT node, count(*) AS deg FROM (
                     SELECT a AS node FROM e1
                     UNION ALL SELECT b FROM e1) GROUP BY node),
            k1 AS (SELECT node FROM d1 WHERE deg >= 13),
            e2 AS (SELECT a, b FROM e1
                   WHERE a IN (SELECT node FROM k1)
                     AND b IN (SELECT node FROM k1)),
            d2 AS (SELECT node, count(*) AS deg FROM (
                     SELECT a AS node FROM e2
                     UNION ALL SELECT b FROM e2) GROUP BY node),
            k2 AS (SELECT node FROM d2 WHERE deg >= 13),
            e3 AS (SELECT a, b FROM e2
                   WHERE a IN (SELECT node FROM k2)
                     AND b IN (SELECT node FROM k2)),
            d3 AS (SELECT node, count(*) AS deg FROM (
                     SELECT a AS node FROM e3
                     UNION ALL SELECT b FROM e3) GROUP BY node)
            SELECT node, deg AS core_degree FROM d3 WHERE deg >= 13
        """,
        # distributed alias canonicalization: same blocked alias edges,
        # reachability closure as a recursive CTE, min-TAG-node canonical
        "alias_canon": """
            WITH RECURSIVE e AS (
              SELECT DISTINCT 't:' || user_id::VARCHAR AS a,
                     'k:' || ((user_id // 10) * 10 + event_id % 10)::VARCHAR
                       AS b
              FROM events
            ),
            und AS (SELECT a AS u, b AS v FROM e
                    UNION SELECT b, a FROM e),
            reach(node, r) AS (
              SELECT u, u FROM und
              UNION
              SELECT und.u, reach.r FROM und JOIN reach ON reach.node = und.v
            ),
            comp AS (SELECT node, min(r) AS component FROM reach
                     GROUP BY node),
            tags AS (SELECT node, component FROM comp
                     WHERE node LIKE 't:%'),
            canon AS (SELECT component, min(node) AS canonical FROM tags
                      GROUP BY component)
            SELECT t.node AS tag, canon.canonical
            FROM tags t JOIN canon USING (component)
        """,
        # incremental KG delta: both crawls' triples via the same
        # keyword->pred/obj mapping, full outer on the distinct key
        "kg_delta": r"""
            WITH mo AS (
              SELECT doc_id AS subj, unnest(regexp_extract_all(trim(text),
                       '\b(window|stream|table scan)\b')) AS kw
              FROM documents
            ),
            newdocs AS (
              SELECT doc_id,
                     CASE WHEN doc_id % 7 = 0 THEN text || ' stream'
                          ELSE text END AS text
              FROM documents WHERE doc_id % 11 != 0
              UNION ALL
              SELECT doc_id + 5000, text FROM documents WHERE doc_id % 13 = 0
            ),
            mn AS (
              SELECT doc_id AS subj, unnest(regexp_extract_all(trim(text),
                       '\b(window|stream|table scan)\b')) AS kw
              FROM newdocs
            ),
            to_ AS (SELECT DISTINCT subj,
                      CASE kw WHEN 'window' THEN 'alpha_op'
                              WHEN 'stream' THEN 'zeta_op'
                              ELSE 'scan_op' END AS pred,
                      CASE kw WHEN 'table scan' THEN 'scan_op'
                              ELSE 'alpha_op' END AS obj
                    FROM mo),
            tn AS (SELECT DISTINCT subj,
                      CASE kw WHEN 'window' THEN 'alpha_op'
                              WHEN 'stream' THEN 'zeta_op'
                              ELSE 'scan_op' END AS pred,
                      CASE kw WHEN 'table scan' THEN 'scan_op'
                              ELSE 'alpha_op' END AS obj
                    FROM mn)
            SELECT coalesce(to_.subj, tn.subj) AS subj,
                   coalesce(to_.pred, tn.pred) AS pred,
                   coalesce(to_.obj, tn.obj) AS obj,
                   CASE WHEN to_.subj IS NULL THEN 'added'
                        WHEN tn.subj IS NULL THEN 'removed'
                        ELSE 'same' END AS status
            FROM to_ FULL JOIN tn
              ON to_.subj = tn.subj AND to_.pred = tn.pred
                 AND to_.obj = tn.obj
        """,
        # literal attribute triples: same synthesized page, lines split
        # on newline, first-': ' literal split, trimmed, empties dropped
        "attr_triples": """
            WITH pg AS (
              SELECT doc_id AS subj,
                     'title: doc ' || (doc_id % 50)::VARCHAR || chr(10) ||
                     'lang: ' || lang || chr(10) || text AS page
              FROM documents
            ),
            ln AS (
              SELECT subj,
                     unnest(string_split_regex(page, '\r?\n')) AS line,
                     generate_subscripts(string_split_regex(page, '\r?\n'),
                                         1) - 1 AS line_idx
              FROM pg
            ),
            kv AS (
              SELECT subj, line_idx::INT AS line_idx,
                     trim(substr(line, 1, strpos(line, ': ') - 1)) AS key,
                     trim(substr(line, strpos(line, ': ') + 2)) AS value
              FROM ln WHERE strpos(line, ': ') > 0
            )
            SELECT subj, line_idx, key, value FROM kv
            WHERE key != '' AND value != ''
        """,
        # integer burst flag: (n*x-s)^2 > 9*(n*ssq-s^2) and n*x > s, all
        # in HUGEINT (decimal(38,0) on the Spark side)
        "burst_days": """
            WITH counts AS (
              SELECT event_type AS key,
                     CASE WHEN event_id % 50 < 10 THEN DATE '2026-03-01'
                          ELSE ts::DATE END AS bucket,
                     count(*) AS cnt
              FROM events GROUP BY 1, 2
            ),
            stats AS (
              SELECT key, count(*) AS n, sum(cnt::HUGEINT) AS s,
                     sum(cnt::HUGEINT * cnt::HUGEINT) AS ssq
              FROM counts GROUP BY 1
            )
            SELECT key, bucket, cnt,
                   ((n::HUGEINT * cnt - s) * (n::HUGEINT * cnt - s)
                      > 9 * (n::HUGEINT * ssq - s * s)
                    AND n::HUGEINT * cnt > s)::INT AS is_burst
            FROM counts JOIN stats USING (key)
        """,
        # temporal KG facts over the multi-snapshot view: min/max/
        # count-distinct per triple over the shared _SNAP_T fragment
        "triple_history": f"""
            WITH {_SNAP_T}
            SELECT subj, pred, obj,
                   min(ts) AS first_seen, max(ts) AS last_seen,
                   count(DISTINCT ts) AS n_snapshots,
                   count(*) AS n_mentions
            FROM t GROUP BY 1, 2, 3
        """,
        # tag co-mention edges: distinct (doc, tag) pairs self-joined on
        # the doc — same last-wins keyword->tag mapping as kg_triples
        "tag_cooc": r"""
            WITH m AS (
              SELECT doc_id, unnest(regexp_extract_all(trim(text),
                       '\b(window|stream|table scan)\b')) AS kw
              FROM documents
            ),
            d AS (SELECT DISTINCT doc_id AS s,
                    CASE kw WHEN 'window' THEN 'alpha_op'
                            WHEN 'stream' THEN 'zeta_op'
                            ELSE 'scan_op' END AS o
                  FROM m)
            SELECT a.o AS obj_a, b.o AS obj_b, count(*) AS n_docs
            FROM d a JOIN d b ON a.s = b.s AND a.o < b.o
            GROUP BY 1, 2
        """,
        # corrupt-tail negatives: md5('neg|rank|s|p|o') first-15-hex mod
        # |entities| indexes a row_number'd entity vocabulary — identical
        # integer math to sampling.sample_hash; collisions dropped
        "kg_negatives": f"""
            WITH {onto},
            m AS (
              SELECT doc_id, unnest(regexp_extract_all(trim(text), '{pat}')) AS kw
              FROM documents
            ),
            tr AS (SELECT DISTINCT m.doc_id AS subj, o.tag AS pred,
                          o.tag AS obj
                   FROM m JOIN onto o ON o.keyword = m.kw),
            ents AS (SELECT obj AS neg_obj,
                            row_number() OVER (ORDER BY obj) - 1 AS _idx
                     FROM (SELECT DISTINCT obj FROM tr)),
            nn AS (SELECT count(*) AS c FROM ents),
            k AS (
              SELECT subj, pred, obj, r.neg_rank,
                     ('0x' || substr(md5('neg|' || r.neg_rank::VARCHAR
                        || '|' || subj::VARCHAR || '|' || pred || '|'
                        || obj), 1, 15))::BIGINT % c AS _idx
              FROM tr CROSS JOIN (VALUES (0), (1)) r(neg_rank), nn
            )
            SELECT subj, pred, obj, neg_obj, neg_rank
            FROM k JOIN ents USING (_idx)
            WHERE neg_obj != obj
        """,
        # decontamination: benchmark = docs with doc_id % 37 == 0; a doc's
        # n_hits counts its 3-gram OCCURRENCES present in the benchmark's
        # DISTINCT gram set (short docs contribute their whole text — the
        # same fallback as exploded_shingles)
        "decontam": f"""
            WITH corpus AS (SELECT doc_id AS id, {_NORM} AS t FROM documents),
            {_SHINGLES},
            bg AS (SELECT DISTINCT g FROM sh3 WHERE id % 37 = 0),
            hits AS (
              SELECT id, count(*)::BIGINT AS n_hits
              FROM sh3 JOIN bg USING (g) GROUP BY id
            )
            SELECT d.doc_id AS id,
                   coalesce(h.n_hits, 0)::BIGINT AS n_hits,
                   CASE WHEN h.id IS NOT NULL THEN 1 ELSE 0 END AS contaminated
            FROM documents d LEFT JOIN hits h ON h.id = d.doc_id
        """,
        # incremental-crawl dedup: snapshot rows whose content fingerprint
        # was never seen in the base corpus
        "cross_dedup": f"""
            WITH {_CORPUS_MUT},
            newfp AS (SELECT id, md5(t) AS fingerprint FROM corpus),
            seenfp AS (SELECT DISTINCT md5({_NORM}) AS fingerprint FROM documents)
            SELECT id, fingerprint FROM newfp
            WHERE fingerprint NOT IN (SELECT fingerprint FROM seenfp)
        """,
        # anchor extraction: same Java∩RE2 pattern, one capture group per
        # regexp_extract_all call on both engines; parallel unnest zips
        # the href/text captures positionally (identical match sites)
        "extract_links": r"""
            WITH h AS (
              SELECT doc_id AS id,
                     '<a href="https://ex.com/p' || (doc_id % 20) || '">l'
                     || (doc_id % 7)
                     || '</a> mid <a class="x" href="/rel/' || (doc_id % 5)
                     || '">go</a>' AS html
              FROM documents
            ),
            ex AS (
              SELECT id,
                regexp_extract_all(html,
                  '<a [^>]*href="([^"]*)"[^>]*>[^<]*</a>', 1) AS hrefs,
                regexp_extract_all(html,
                  '<a [^>]*href="[^"]*"[^>]*>([^<]*)</a>', 1) AS texts
              FROM h
            )
            SELECT id, unnest(hrefs) AS href, unnest(texts) AS anchor_text
            FROM ex
        """,
        # duplicated spans: same 60-bit md5 window hash, df>=2, then a
        # gaps-and-islands merge (break when pos > lag(pos) + window)
        "dup_spans": f"""
            WITH t AS (SELECT doc_id AS id, string_split({_NORM}, ' ') AS toks
                       FROM documents WHERE {_NORM} != ''),
            w AS (SELECT id, toks,
                         unnest(range(0, greatest(len(toks) - 7, 0))) AS pos
                  FROM t),
            g AS (SELECT id, pos::INT AS pos,
                         ('0x' || substr(md5(array_to_string(
                            list_slice(toks, pos + 1, pos + 8), ' ')),
                            1, 15))::BIGINT AS h
                  FROM w),
            c AS (SELECT h FROM g GROUP BY h HAVING count(*) >= 2),
            d AS (SELECT g.id, g.pos FROM g JOIN c USING (h)),
            i AS (SELECT id, pos,
                         CASE WHEN lag(pos) OVER
                                (PARTITION BY id ORDER BY pos) IS NULL
                              OR pos > lag(pos) OVER
                                (PARTITION BY id ORDER BY pos) + 8
                              THEN 1 ELSE 0 END AS brk
                  FROM d),
            gr AS (SELECT id, pos,
                          sum(brk) OVER (PARTITION BY id ORDER BY pos
                            ROWS UNBOUNDED PRECEDING) AS grp
                   FROM i)
            SELECT id AS doc_id, min(pos) AS span_start,
                   max(pos) + 7 AS span_end,
                   max(pos) + 7 - min(pos) + 1 AS span_tokens
            FROM gr GROUP BY id, grp
        """,
        # span surgery: removed token = any index covered by a duplicated
        # window (range-unnest from dup positions — independent of the
        # engine's interval-merge formulation)
        "span_surgery": f"""
            WITH t AS (SELECT doc_id AS id, string_split({_NORM}, ' ') AS toks
                       FROM documents),
            w AS (SELECT id, toks,
                         unnest(range(0, greatest(len(toks) - 7, 0))) AS pos
                  FROM t WHERE len(toks) >= 8),
            g AS (SELECT id, pos::INT AS pos,
                         ('0x' || substr(md5(array_to_string(
                            list_slice(toks, pos + 1, pos + 8), ' ')),
                            1, 15))::BIGINT AS h
                  FROM w),
            c AS (SELECT h FROM g GROUP BY h HAVING count(*) >= 2),
            d AS (SELECT DISTINCT g.id, g.pos FROM g JOIN c USING (h)),
            rem AS (SELECT DISTINCT id, unnest(range(pos, pos + 8)) AS i
                    FROM d),
            tok AS (SELECT id, unnest(toks) AS wd,
                           generate_subscripts(toks, 1) - 1 AS i
                    FROM t),
            kept AS (SELECT tok.id, tok.i, tok.wd
                     FROM tok LEFT JOIN rem
                       ON rem.id = tok.id AND rem.i = tok.i
                     WHERE rem.i IS NULL),
            k2 AS (SELECT id, array_to_string(list(wd ORDER BY i), ' ')
                            AS clean_text,
                          count(*) AS n_kept
                   FROM kept GROUP BY id)
            SELECT t.id AS doc_id,
                   coalesce(k2.clean_text, '') AS clean_text,
                   len(t.toks) - coalesce(k2.n_kept, 0) AS n_removed
            FROM t LEFT JOIN k2 ON k2.id = t.id
        """,
        "anchor_index": r"""
            WITH h AS (
              SELECT doc_id AS id,
                     '<a href="https://ex.com/p' || (doc_id % 20) || '">l'
                     || (doc_id % 7)
                     || '</a> mid <a class="x" href="/rel/' || (doc_id % 5)
                     || '">go</a>' AS html
              FROM documents
            ),
            ex AS (
              SELECT id,
                regexp_extract_all(html,
                  '<a [^>]*href="([^"]*)"[^>]*>[^<]*</a>', 1) AS hrefs,
                regexp_extract_all(html,
                  '<a [^>]*href="[^"]*"[^>]*>([^<]*)</a>', 1) AS texts
              FROM h
            ),
            links AS (
              SELECT id, unnest(hrefs) AS target, unnest(texts) AS t
              FROM ex
            ),
            nl AS (SELECT target, count(*) AS n_links FROM links GROUP BY 1),
            p AS (SELECT DISTINCT target, t FROM links),
            nt AS (SELECT target, count(*) AS n_texts FROM p GROUP BY 1),
            tx AS (
              SELECT target,
                     to_json(list(t ORDER BY t))::VARCHAR AS anchor_texts
              FROM p
              WHERE target IN (SELECT target FROM nt WHERE n_texts <= 5)
              GROUP BY 1
            )
            SELECT nl.target, n_links, n_texts, anchor_texts
            FROM nl JOIN nt USING (target) LEFT JOIN tx USING (target)
        """,
        # mention-share salience: same mention stream as kg_triples, two
        # GROUP BYs + a doc-keyed join, integer-ppm floor division
        "entity_salience": r"""
            WITH m0 AS (
              SELECT doc_id AS subj,
                     unnest(regexp_extract_all(trim(text),
                       '\b(window|stream|table scan)\b')) AS kw
              FROM documents
            ),
            m AS (
              SELECT subj,
                     CASE kw WHEN 'table scan' THEN 'scan_op'
                             ELSE 'alpha_op' END AS obj
              FROM m0
            ),
            pe AS (SELECT subj, obj, count(*) AS n_mentions
                   FROM m GROUP BY 1, 2),
            pd AS (SELECT subj, count(*) AS total FROM m GROUP BY 1)
            SELECT pe.subj, pe.obj, pe.n_mentions,
                   0 AS first_sent_idx,
                   (1000000 * pe.n_mentions) // pd.total AS salience_micro
            FROM pe JOIN pd USING (subj)
        """,
        "snapshot_diff": f"""
            WITH o AS (
              SELECT doc_id AS key, md5({_NORM}) AS old_fingerprint
              FROM documents
            ),
            newraw AS (
              SELECT doc_id, CASE WHEN doc_id % 7 = 0
                                  THEN text || ' updated' ELSE text END AS text
              FROM documents WHERE doc_id % 11 != 0
              UNION ALL
              SELECT doc_id + 5000, text FROM documents WHERE doc_id % 13 = 0
            ),
            n AS (SELECT doc_id AS key, md5({_NORM}) AS new_fingerprint
                  FROM newraw)
            SELECT coalesce(o.key, n.key) AS key,
                   CASE WHEN o.key IS NULL THEN 'added'
                        WHEN n.key IS NULL THEN 'removed'
                        WHEN old_fingerprint = new_fingerprint THEN 'same'
                        ELSE 'changed' END AS status,
                   old_fingerprint, new_fingerprint
            FROM o FULL JOIN n ON o.key = n.key
        """,
        "inverted_index": f"""
            WITH corpus AS (SELECT doc_id AS id, {_NORM} AS t FROM documents),
            pairs AS (
              SELECT DISTINCT id, unnest(string_split(t, ' ')) AS token
              FROM corpus WHERE t != ''
            ),
            dfc AS (SELECT token, count(*) AS df FROM pairs GROUP BY token),
            keep AS (SELECT token, df FROM dfc WHERE df BETWEEN 5 AND 400)
            SELECT k.token, k.df, list_sort(list(p.id)) AS doc_ids
            FROM pairs p JOIN keep k USING (token)
            GROUP BY k.token, k.df
        """,
        "collocs": f"""
            WITH corpus AS (SELECT doc_id AS id, {_NORM} AS t FROM documents),
            words AS (SELECT id, t, string_split(t, ' ') AS w
                      FROM corpus WHERE t != ''),
            tok AS (SELECT id, unnest(w) AS wd,
                           generate_subscripts(w, 1) AS pos FROM words),
            uni AS (SELECT wd AS x, count(*) AS c_x FROM tok GROUP BY wd),
            bi AS (
              SELECT a.wd || ' ' || b.wd AS gram, a.wd AS x,
                     count(*) AS c_xy
              FROM tok a JOIN tok b ON b.id = a.id AND b.pos = a.pos + 1
              GROUP BY 1, 2 HAVING count(*) >= 3
            )
            SELECT gram, c_xy::BIGINT AS c_xy, c_x::BIGINT AS c_x,
                   ((c_xy * 1000000) // c_x)::BIGINT AS conf_micro
            FROM bi JOIN uni USING (x)
            ORDER BY conf_micro DESC, c_xy DESC, gram LIMIT 25
        """,
        # triangle count: oracle enumerates canonically-ordered a<b<c
        # triangles directly — independent of the engine's
        # degree-orientation formulation, same invariant
        "triangles": f"""
            WITH {_LINK_EDGES},
            und AS (SELECT DISTINCT least(src, dst) AS a,
                                    greatest(src, dst) AS b FROM e)
            SELECT count(*)::BIGINT AS n_triangles
            FROM und e1
            JOIN und e2 ON e2.a = e1.b
            JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b
        """,
        # CCNet-style quartile buckets over the integer per-token LM cost:
        # thresholds = percentile_disc positions ceil(p*N) from a
        # value-space histogram — all-integer, bit-identical cross-engine
        "lm_buckets": f"""
            WITH lm(w, cost) AS (VALUES {lm_values}),
            t AS (
              SELECT doc_id, unnest(string_split({_NORM}, ' ')) AS w
              FROM documents WHERE {_NORM} != ''
            ),
            j AS (
              SELECT t.doc_id, coalesce(lm.cost, {lm_oov}) AS cost
              FROM t LEFT JOIN lm ON t.w = lm.w
            ),
            agg AS (
              SELECT doc_id, count(*) AS n_tokens,
                     sum(cost)::BIGINT AS nll_micro
              FROM j GROUP BY 1
            ),
            scored AS (
              SELECT d.doc_id AS id,
                     (coalesce(a.nll_micro, 0)
                      // greatest(coalesce(a.n_tokens, 0), 1))::BIGINT
                       AS avg_micro
              FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id
            ),
            tot AS (SELECT count(*) AS n FROM scored),
            hist AS (SELECT avg_micro, count(*) AS c FROM scored GROUP BY 1),
            cum AS (SELECT avg_micro,
                           sum(c) OVER (ORDER BY avg_micro) AS cum FROM hist),
            th AS (
              SELECT
                min(CASE WHEN cum >= (n * 25 + 99) // 100
                         THEN avg_micro END) AS t1,
                min(CASE WHEN cum >= (n * 50 + 99) // 100
                         THEN avg_micro END) AS t2,
                min(CASE WHEN cum >= (n * 75 + 99) // 100
                         THEN avg_micro END) AS t3
              FROM cum, tot
            )
            SELECT s.id AS doc_id, s.avg_micro,
                   CASE WHEN s.avg_micro <= th.t1 THEN 'head'
                        WHEN s.avg_micro <= th.t2 THEN 'mid_head'
                        WHEN s.avg_micro <= th.t3 THEN 'mid_tail'
                        ELSE 'tail' END AS bucket
            FROM scored s, th
        """,
        "top_bigrams": f"""
            WITH corpus AS (SELECT doc_id AS id, {_NORM} AS t FROM documents),
            words AS (SELECT id, t, string_split(t, ' ') AS w FROM corpus),
            tok AS (SELECT id, unnest(w) AS wd,
                           generate_subscripts(w, 1) AS pos FROM words),
            bi AS (
              SELECT a.id, a.wd || ' ' || b.wd AS g
              FROM tok a JOIN tok b ON b.id = a.id AND b.pos = a.pos + 1
            ),
            sh2 AS (SELECT id, g FROM bi
                    UNION ALL SELECT id, t FROM words WHERE len(w) < 2)
            SELECT g AS gram, count(*)::BIGINT AS n_occurrences
            FROM sh2 WHERE g != '' GROUP BY g
            ORDER BY n_occurrences DESC, gram LIMIT 20
        """,
        # per-category pivot columns: first-appearance-ordered distinct tags
        # per (doc, category), JSON arrays, NULL when the doc has none
        "tag_doc_pivot": f"""
            WITH {onto},
            m AS (
              SELECT doc_id,
                     unnest(regexp_extract_all(trim(text), '{pat}')) AS kw,
                     generate_subscripts(regexp_extract_all(trim(text), '{pat}'), 1) AS pos
              FROM documents
            ),
            mt AS (
              SELECT m.doc_id, o.category, o.tag, min(m.pos) AS fp
              FROM m JOIN onto o ON o.keyword = m.kw
              GROUP BY 1, 2, 3
            ),
            mk AS (SELECT doc_id, kw, min(pos) AS fp FROM m GROUP BY 1, 2),
            op AS (
              SELECT doc_id, to_json(list(tag ORDER BY fp))::VARCHAR AS tag_list_operator
              FROM mt WHERE category = 'operator' GROUP BY 1
            ),
            en AS (
              SELECT doc_id, to_json(list(tag ORDER BY fp))::VARCHAR AS tag_list_entity
              FROM mt WHERE category = 'entity' GROUP BY 1
            ),
            kws AS (
              SELECT doc_id, to_json(list(kw ORDER BY fp))::VARCHAR AS tag_keywords
              FROM mk GROUP BY 1
            )
            SELECT d.doc_id, op.tag_list_operator, en.tag_list_entity, kws.tag_keywords
            FROM documents d
            LEFT JOIN op ON d.doc_id = op.doc_id
            LEFT JOIN en ON d.doc_id = en.doc_id
            LEFT JOIN kws ON d.doc_id = kws.doc_id
        """,
        "token_classes": r"""
            WITH toks AS (
              SELECT unnest(string_split(replace(trim(text), ' spark ', ' #spark '), ' ')) AS tok
              FROM documents
            )
            SELECT CASE
                     WHEN regexp_matches(tok, '^#\w+$') THEN 'hashtag'
                     WHEN regexp_matches(tok, '^@\w+$') THEN 'username'
                     WHEN regexp_matches(tok, '^\d{1,4}[-/.]\d{1,2}[-/.]\d{1,4}$')
                       OR regexp_matches(tok, '^\d{1,2}:\d{2}(:\d{2})?$') THEN 'datetime'
                     WHEN regexp_matches(lower(tok), '^\d+(\.\d+)?(km|m|cm|mm|kg|g|mg|lb|oz|mi|ft|in|%|°c|°f|°)$') THEN 'measure'
                     WHEN regexp_matches(tok, '^[$€£¥%©®™§±×÷=+<>^~|]+$') THEN 'symbol'
                     WHEN regexp_matches(tok, '""" + _TOK_EMOJI + r"""') THEN 'emoji'
                     WHEN regexp_matches(tok, '^\s+$') THEN 'space'
                     ELSE 'word'
                   END AS cls,
                   count(*) AS n
            FROM toks GROUP BY 1
        """,
        "predicate_stats": f"""
            WITH {_KG_M},
            {_KG_T},
            d AS (SELECT DISTINCT subj, pred, obj FROM t),
            ps AS (SELECT pred, subj, count(*)::BIGINT AS n_obj
                   FROM d GROUP BY 1, 2),
            mn AS (SELECT pred, count(*)::BIGINT AS n_mentions
                   FROM t GROUP BY 1),
            ob AS (SELECT pred, count(DISTINCT obj)::BIGINT AS n_objects
                   FROM d GROUP BY 1),
            a AS (SELECT pred,
                         count(*)::BIGINT AS n_subjects,
                         sum(n_obj)::BIGINT AS n_triples,
                         max(n_obj)::BIGINT AS max_obj_per_subj,
                         sum(CASE WHEN n_obj > 1 THEN 1 ELSE 0 END)::BIGINT
                           AS n_multivalued_subjects
                  FROM ps GROUP BY 1)
            SELECT a.pred, mn.n_mentions, a.n_triples, a.n_subjects,
                   ob.n_objects, a.max_obj_per_subj, a.n_multivalued_subjects,
                   (1000000::BIGINT * a.n_triples) // a.n_subjects AS avg_obj_ppm
            FROM a JOIN ob USING (pred) JOIN mn USING (pred)
        """,
        "kg_text": f"""
            WITH {_KG_M},
            {_KG_T},
            d AS (SELECT DISTINCT subj, pred, obj FROM t)
            SELECT subj,
                   subj::VARCHAR || ': '
                     || string_agg(pred || ' ' || obj, '; ' ORDER BY pred, obj)
                     AS kg_text,
                   count(*)::INT AS n_facts
            FROM d GROUP BY subj
        """,
        "entity_types": f"""
            WITH {onto},
            m AS (
              SELECT doc_id, unnest(regexp_extract_all(trim(text), '{pat}')) AS kw
              FROM documents
            ),
            md AS (SELECT DISTINCT doc_id, kw FROM m),
            j AS (SELECT o.tag AS entity, o.category
                  FROM md JOIN onto o ON o.keyword = md.kw
                  WHERE o.tag IS NOT NULL AND o.category IS NOT NULL),
            cnt AS (SELECT entity, category, count(*)::BIGINT AS n
                    FROM j GROUP BY 1, 2),
            r AS (SELECT entity, category, n,
                         row_number() OVER (PARTITION BY entity
                                            ORDER BY n DESC, category ASC) AS rk,
                         sum(n) OVER (PARTITION BY entity)::BIGINT AS tot,
                         count(*) OVER (PARTITION BY entity)::BIGINT AS ncat
                  FROM cnt)
            SELECT entity, category AS inferred_type,
                   n AS n_type_mentions, tot AS n_mentions, ncat AS n_categories
            FROM r WHERE rk = 1
        """,
        "hits": _hits_oracle(iterations=2),
        "taxonomy_closure": """
            WITH RECURSIVE
            tax AS (SELECT DISTINCT (event_id % 150) AS child,
                           ((event_id % 150) - 1) // 3 AS parent
                    FROM events WHERE (event_id % 150) >= 1),
            c AS (
              SELECT child AS node, parent AS ancestor, 1 AS depth FROM tax
              UNION
              SELECT c.node, t.parent, c.depth + 1
              FROM c JOIN tax t ON t.child = c.ancestor
            )
            SELECT node, ancestor, min(depth)::INT AS depth
            FROM c GROUP BY node, ancestor
        """,
        "random_walks": f"""
            WITH {_LINK_EDGES},
            nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
            w0 AS (SELECT node AS walk_id, node FROM nodes WHERE node % 10 = 0),
            c1 AS (SELECT w.walk_id, e.dst,
                          md5(concat_ws('|', w.walk_id, 1, e.dst)) AS h
                   FROM w0 w JOIN e ON e.src = w.node),
            w1 AS (SELECT walk_id, arg_min(dst, h) AS node FROM c1 GROUP BY 1),
            c2 AS (SELECT w.walk_id, e.dst,
                          md5(concat_ws('|', w.walk_id, 2, e.dst)) AS h
                   FROM w1 w JOIN e ON e.src = w.node),
            w2 AS (SELECT walk_id, arg_min(dst, h) AS node FROM c2 GROUP BY 1),
            c3 AS (SELECT w.walk_id, e.dst,
                          md5(concat_ws('|', w.walk_id, 3, e.dst)) AS h
                   FROM w2 w JOIN e ON e.src = w.node),
            w3 AS (SELECT walk_id, arg_min(dst, h) AS node FROM c3 GROUP BY 1)
            SELECT walk_id, 0 AS step, node FROM w0
            UNION ALL SELECT walk_id, 1, node FROM w1
            UNION ALL SELECT walk_id, 2, node FROM w2
            UNION ALL SELECT walk_id, 3, node FROM w3
        """,
        "pagerank_topic": _ppr_oracle(iterations=3),
        "event_transitions": """
            WITH base AS (
              SELECT user_id, event_type, ts, event_id FROM events
              WHERE event_type IS NOT NULL AND ts IS NOT NULL
            ),
            p AS (
              SELECT event_type AS from_type,
                     lead(event_type) OVER (PARTITION BY user_id
                                            ORDER BY ts, event_id) AS to_type
              FROM base
            ),
            c AS (SELECT from_type, to_type, count(*)::BIGINT AS n_transitions
                  FROM p WHERE to_type IS NOT NULL GROUP BY 1, 2),
            t AS (SELECT from_type, sum(n_transitions)::BIGINT AS tot
                  FROM c GROUP BY 1)
            SELECT c.from_type, c.to_type, c.n_transitions,
                   (1000000::BIGINT * c.n_transitions) // t.tot AS prob_ppm
            FROM c JOIN t USING (from_type)
        """,
        "quality_linear": f"""
            WITH w(b, wt) AS (VALUES {", ".join(f"({b}, {wt})" for b, wt in enumerate(_LIN_WEIGHTS))}),
            tok AS (
              SELECT doc_id,
                     unnest(list_filter(string_split({_NORM}, ' '),
                                        x -> x != '')) AS tk
              FROM documents
            ),
            h AS (SELECT doc_id,
                         ('0x' || substr(md5(tk), 1, 15))::BIGINT % {_LIN_B} AS b
                  FROM tok),
            s AS (SELECT h.doc_id, sum(w.wt)::BIGINT AS ssum
                  FROM h JOIN w ON w.b = h.b GROUP BY 1)
            SELECT d.doc_id,
                   ({_LIN_BIAS} + coalesce(s.ssum, 0))::BIGINT AS score_micro,
                   (CASE WHEN {_LIN_BIAS} + coalesce(s.ssum, 0)
                              >= {_LIN_THRESHOLD}
                         THEN 1 ELSE 0 END)::INT AS keep
            FROM documents d LEFT JOIN s ON s.doc_id = d.doc_id
        """,
        "bpe_pairs": f"""
            WITH words AS (
              SELECT unnest(list_filter(string_split({_NORM}, ' '),
                                        x -> x != '')) AS w
              FROM documents
            ),
            ex AS (SELECT w, unnest(range(1, length(w))) AS i
                   FROM words WHERE length(w) >= 2)
            SELECT substr(w, i::INT, 2) AS pair,
                   count(*)::BIGINT AS n_occurrences
            FROM ex GROUP BY 1
            ORDER BY n_occurrences DESC, pair LIMIT 20
        """,
        "attr_schema": f"""
            WITH {_TYPED_KV},
            d AS (SELECT key, subj, value,
                         regexp_matches(value, '{_KG_NUM}')::INT AS isnum,
                         regexp_matches(value, '{_KG_DATELIKE}')::INT AS isdate
                  FROM kvf),
            main AS (SELECT key, count(*)::BIGINT AS n_rows,
                            count(DISTINCT subj)::BIGINT AS n_subjects,
                            count(DISTINCT value)::BIGINT AS n_values,
                            sum(isnum)::BIGINT AS n_numeric,
                            sum(isdate)::BIGINT AS n_datelike
                     FROM d GROUP BY 1),
            fo AS (SELECT key, max(cnt)::BIGINT AS max_per_subject FROM
                     (SELECT key, subj, count(*)::BIGINT AS cnt
                      FROM kvf GROUP BY 1, 2)
                   GROUP BY 1)
            SELECT m.key, n_rows, n_subjects, n_values, max_per_subject,
                   (1000000::BIGINT * n_numeric) // n_rows AS numeric_ppm,
                   (1000000::BIGINT * n_datelike) // n_rows AS datelike_ppm
            FROM main m JOIN fo USING (key)
        """,
        "literal_norm": f"""
            WITH {_TYPED_KV},
            n AS (SELECT subj, key, value,
                         CASE WHEN regexp_matches(value, '{_KG_INT}')
                                THEN 'int'
                              WHEN regexp_matches(value, '{_KG_DEC}')
                                THEN 'decimal'
                              WHEN regexp_matches(value, '{_KG_PCT}')
                                THEN 'percent'
                              WHEN regexp_matches(value, '{_KG_ISO}')
                                THEN 'date'
                              WHEN regexp_matches(value, '{_KG_US}')
                                THEN 'date'
                              ELSE 'text' END AS value_kind,
                         regexp_replace(value, '^-|%$', '', 'g') AS mag
                  FROM kvf)
            SELECT subj, key, value, value_kind,
                   CASE WHEN value_kind IN ('int', 'decimal', 'percent') THEN
                     (CASE WHEN value LIKE '-%' THEN -1 ELSE 1 END)::BIGINT
                     * (string_split(mag, '.')[1]::BIGINT * 1000000
                        + rpad(coalesce(string_split(mag, '.')[2], ''),
                               6, '0')::BIGINT)
                   END AS value_micro,
                   CASE WHEN regexp_matches(value, '{_KG_ISO}') THEN value
                        WHEN regexp_matches(value, '{_KG_US}') THEN
                          string_split(value, '/')[3] || '-'
                          || lpad(string_split(value, '/')[1], 2, '0') || '-'
                          || lpad(string_split(value, '/')[2], 2, '0')
                   END AS value_iso
            FROM n
        """,
        "current_facts": f"""
            WITH {_SNAP_T},
            h AS (SELECT subj, pred, obj, max(ts) AS last_seen,
                         count(*)::BIGINT AS n_mentions
                  FROM t GROUP BY 1, 2, 3),
            r AS (SELECT *,
                         row_number() OVER (PARTITION BY subj, pred
                                            ORDER BY last_seen DESC,
                                                     n_mentions DESC,
                                                     obj DESC) AS rk,
                         count(*) OVER (PARTITION BY subj, pred)::BIGINT
                           AS n_candidates
                  FROM h)
            SELECT subj, pred, obj, last_seen, n_mentions, n_candidates
            FROM r WHERE rk = 1
        """,
        "hybrid_rrf": f"""
            WITH {_BM25_CORE},
            bmrank AS (SELECT id,
                              row_number() OVER (ORDER BY score_micro DESC,
                                                 id) AS rank
                       FROM bmtop),
            dense AS (
              SELECT neighbor_id AS id, rank FROM (
                SELECT c.vec_id AS neighbor_id,
                       row_number() OVER (
                         ORDER BY list_cosine_similarity(
                                    q.embedding::DOUBLE[],
                                    c.embedding::DOUBLE[]) DESC,
                                  c.vec_id
                       ) AS rank
                FROM embeddings q JOIN embeddings c ON c.vec_id != q.vec_id
                WHERE q.vec_id = 0
              ) WHERE rank <= 15
            ),
            u AS (SELECT id, 1000000 // (60 + rank) AS term FROM bmrank
                  UNION ALL
                  SELECT id, 1000000 // (60 + rank) FROM dense)
            SELECT id AS doc_id, sum(term)::BIGINT AS rrf_micro,
                   count(*)::BIGINT AS n_systems
            FROM u GROUP BY 1
        """,
        # greedy earliest-completion funnel: exact for existence (if any
        # ordered chain exists, the earliest one does); strictly-after on
        # the (ts, event_id) total order
        "funnel": f"""
            WITH ev AS (SELECT user_id AS u, event_type AS t, ts,
                               event_id AS seq
                        FROM events
                        WHERE user_id IS NOT NULL
                          AND event_type IS NOT NULL
                          AND ts IS NOT NULL
                          AND event_id IS NOT NULL),
            f1 AS (SELECT u, ts, seq FROM
                     (SELECT u, ts, seq, row_number() OVER
                        (PARTITION BY u ORDER BY ts, seq) AS rn
                      FROM ev WHERE t = '{_FUNNEL_STEPS[0]}')
                   WHERE rn = 1),
            c2 AS (SELECT e.u, e.ts, e.seq
                   FROM ev e JOIN f1 ON f1.u = e.u
                   WHERE e.t = '{_FUNNEL_STEPS[1]}'
                     AND (e.ts > f1.ts OR (e.ts = f1.ts AND e.seq > f1.seq))),
            f2 AS (SELECT u, ts, seq FROM
                     (SELECT u, ts, seq, row_number() OVER
                        (PARTITION BY u ORDER BY ts, seq) AS rn FROM c2)
                   WHERE rn = 1),
            c3 AS (SELECT e.u, e.ts, e.seq
                   FROM ev e JOIN f2 ON f2.u = e.u
                   WHERE e.t = '{_FUNNEL_STEPS[2]}'
                     AND (e.ts > f2.ts OR (e.ts = f2.ts AND e.seq > f2.seq))),
            f3 AS (SELECT u, ts, seq FROM
                     (SELECT u, ts, seq, row_number() OVER
                        (PARTITION BY u ORDER BY ts, seq) AS rn FROM c3)
                   WHERE rn = 1)
            SELECT 0 AS step_idx, '{_FUNNEL_STEPS[0]}' AS step,
                   (SELECT count(*) FROM f1)::BIGINT AS n_users
            UNION ALL SELECT 1, '{_FUNNEL_STEPS[1]}',
                   (SELECT count(*) FROM f2)::BIGINT
            UNION ALL SELECT 2, '{_FUNNEL_STEPS[2]}',
                   (SELECT count(*) FROM f3)::BIGINT
        """,
        # per-language cap: row_number over the same md5('cap|id') hash
        # (engine-identical 60-bit integer) — the window formulation the
        # Spark side deliberately avoids at scale but which is exact at
        # oracle size
        "group_cap": """
            WITH k AS (
              SELECT lang, doc_id,
                     ('0x' || substr(md5('cap' || '|' || doc_id::VARCHAR),
                                     1, 15))::BIGINT AS h
              FROM documents
            ),
            r AS (SELECT *, row_number() OVER (PARTITION BY lang
                                               ORDER BY h, doc_id) AS rn
                  FROM k)
            SELECT lang, doc_id, h FROM r WHERE rn <= 50
        """,
        "cohort": """
            WITH w AS (SELECT DISTINCT user_id AS u,
                              date_diff('day', DATE '1970-01-01', ts::DATE)
                                // 7 AS week
                       FROM events WHERE ts IS NOT NULL),
            f AS (SELECT u, min(week) AS cohort_week FROM w GROUP BY u)
            SELECT cohort_week, (week - cohort_week) AS week_offset,
                   count(*)::BIGINT AS n_users
            FROM w JOIN f USING (u) GROUP BY 1, 2
        """,
    }
