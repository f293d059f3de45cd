#!/usr/bin/env python
"""spark-submit entry point for the KG build (north rule: launched via
``spark-submit --py-files dist/kg_engine.zip scripts/run_kg_build.py ...``).

Reads a web-pages table (url, warc_ts, html, text, lang), extracts
mentions against an ontology, materializes (subj, pred, obj) triples with
provenance, checkpointing per url-hash bucket for resumability.
"""

from __future__ import annotations

import argparse
import json
import sys
import time

from pyspark.sql import SparkSession


def main(argv: list[str]) -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True, help="web-pages table location")
    ap.add_argument("--ontology", default=None, help="ontology table (tag, keyword, category); demo ontology when omitted")
    ap.add_argument("--output", required=True)
    ap.add_argument("--checkpoint", required=True)
    ap.add_argument("--format", default="parquet", choices=["parquet", "iceberg"])
    ap.add_argument("--num-buckets", type=int, default=16)
    ap.add_argument("--buckets-per-job", type=int, default=8)
    ap.add_argument("--languages", default=None, help="comma-separated; skips the distinct-lang pre-scan")
    ap.add_argument("--ignore-case", action="store_true")
    ap.add_argument("--lemmatization", action="store_true")
    ap.add_argument("--ignore-diacritics", action="store_true")
    ap.add_argument("--link-entities", action="store_true")
    args = ap.parse_args(argv)

    spark = SparkSession.builder.appName("kg-build").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    from dss_plugin_nlp_analysis_spark.operators.kg import build_triples
    from dss_plugin_nlp_analysis_spark.operators.ontology import TagOptions, document_languages
    from dss_plugin_nlp_analysis_spark.plans.checkpoint import run_checkpointed_build
    from dss_plugin_nlp_analysis_spark.sources.catalog import read_table

    docs = read_table(spark, args.input, args.format)
    if args.ontology:
        onto = read_table(spark, args.ontology, args.format)
    else:
        from dss_plugin_nlp_analysis_spark.sources.webpages import demo_kg_ontology
        onto = demo_kg_ontology(spark)

    # documents table (doc_id) vs web-pages table (url): subject column
    url_col = "url" if "url" in docs.columns else docs.columns[0]
    lang_col = "lang" if "lang" in docs.columns else None
    ts_col = "warc_ts" if "warc_ts" in docs.columns else None
    opts = TagOptions(
        ignore_case=args.ignore_case,
        lemmatization=args.lemmatization,
        ignore_diacritics=args.ignore_diacritics,
        link_entities=args.link_entities,
    )
    if args.languages:
        langs = args.languages.split(",")
    elif lang_col:
        # one pre-scan for the whole build: left to build_triples, it would
        # run per job group, on docs already shuffled for the kernel
        langs = document_languages(docs, lang_col)
    else:
        langs = None

    def triple_fn(part):
        return build_triples(
            part, onto, url_col=url_col, lang_col=lang_col, ts_col=ts_col,
            options=opts, languages=langs,
        )

    t0 = time.perf_counter()
    result = run_checkpointed_build(
        spark, docs, triple_fn, args.output, args.checkpoint,
        url_col=url_col, num_buckets=args.num_buckets,
        buckets_per_job=args.buckets_per_job,
    )
    print(
        json.dumps(
            {
                "processed_buckets": result.processed_buckets,
                "skipped_buckets": result.skipped_buckets,
                "triples": result.total_triples,
                "wall_s": round(time.perf_counter() - t0, 2),
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main(sys.argv[1:])
