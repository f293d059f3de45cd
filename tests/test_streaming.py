"""Structured Streaming: file-source pages → the batch ``build_triples``
path → exactly-once parquet sink (SURVEY.md §2.9 new surface)."""

import pytest
from pyspark.sql import functions as F

from dss_plugin_nlp_analysis_spark.operators.kg import TRIPLE_COLUMNS, build_triples
from dss_plugin_nlp_analysis_spark.sources.webpages import WEB_PAGE_SCHEMA, pages_df
from dss_plugin_nlp_analysis_spark.streaming.stream_tagger import run_stream_to_parquet

LANGS = ["en", "fr", "es", "de"]


def _stream_pages(spark, src):
    """File-source stream of web pages, one file per micro-batch."""
    return (
        spark.readStream.schema(WEB_PAGE_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )


def _run_to_parquet(triples, out, ckpt) -> str:
    """Drain the stream into ``out``; return the last micro-batch's
    physical plan."""
    q = run_stream_to_parquet(triples, out, ckpt)
    try:
        q.processAllAvailable()
        return q._jsq.explainInternal(False)
    finally:
        q.stop()


def test_stream_triples_end_to_end(spark, tmp_path):
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    pages_df(spark, 60, seed=42).coalesce(2).write.parquet(src)

    onto = spark.createDataFrame(
        [("spark_engine", "spark engine"), ("nyc", "New York")], "tag string, keyword string"
    )
    pages = _stream_pages(spark, src)
    assert pages.isStreaming
    triples = build_triples(pages, onto, category_col=None, languages=LANGS)
    assert triples.isStreaming
    _run_to_parquet(triples, out, ckpt)

    got = spark.read.parquet(out)
    assert got.count() > 0
    preds = {r["pred"] for r in got.select("pred").distinct().collect()}
    assert preds <= {"spark_engine", "nyc"}
    # epoch lineage recorded per batch
    assert got.select("epoch_id").distinct().count() >= 1


def test_stream_triples_equal_batch_triples(spark, tmp_path):
    """Streaming and batch run one triples path: on an ontology whose tags
    share a normalized keyword ('engine' exactly, 'New York'/'new york' up
    to case), the streamed rows equal the batch rows on all 9 columns —
    canonical ``obj`` included — over 2 micro-batches, and the streaming
    plan is the batch one (one Arrow UDF, no higher-order function)."""
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    pages_df(spark, 60, seed=42).repartition(2).write.parquet(src)
    onto = spark.createDataFrame(
        [
            ("spark_engine", "spark engine", "tech"),
            ("spark_engine", "engine", "tech"),
            ("analytics_engine", "engine", "tech"),
            ("nyc", "New York", "place"),
            ("NYC", "new york", "place"),
            ("merge_sort", "merge sort", "tech"),
        ],
        "tag string, keyword string, category string",
    )
    streamed = build_triples(
        _stream_pages(spark, src), onto, languages=LANGS
    )
    plan = _run_to_parquet(streamed, out, str(tmp_path / "ckpt"))
    assert plan.count("lambdafunction(") == 0, plan
    assert plan.count("ArrowEvalPython") == 1, plan

    got = spark.read.parquet(out)
    assert got.select("epoch_id").distinct().count() >= 2
    got = got.select(*TRIPLE_COLUMNS)
    want = build_triples(spark.read.parquet(src), onto, languages=LANGS)
    assert want.count() > 0
    assert want.where(F.col("obj") != F.col("pred")).count() > 0  # aliases hit
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


def test_stream_triples_without_languages_names_the_parameter(spark, tmp_path):
    src = str(tmp_path / "src")
    pages_df(spark, 4, seed=1).write.parquet(src)
    onto = spark.createDataFrame([("nyc", "New York")], "tag string, keyword string")
    pages = _stream_pages(spark, src)
    sc = spark.sparkContext
    sc.setLocalProperty("spark.jobGroup.id", "stream_no_languages")
    try:
        with pytest.raises(ValueError, match="languages"):
            build_triples(pages, onto, category_col=None)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # refused before any query ran (the ontology collect included)
    assert list(sc.statusTracker().getJobIdsForGroup("stream_no_languages")) == []
