"""Structured Streaming: file-source pages → the batch ``build_triples``
path → exactly-once parquet sink (SURVEY.md §2.9 new surface)."""

import pytest
from pyspark.sql import functions as F

from dss_plugin_nlp_analysis_spark.operators.kg import TRIPLE_COLUMNS, build_triples
from dss_plugin_nlp_analysis_spark.operators.ontology import TagOptions, compile_ontology
from dss_plugin_nlp_analysis_spark.sources.webpages import WEB_PAGE_SCHEMA, pages_df
from dss_plugin_nlp_analysis_spark.streaming.stream_tagger import (
    run_stream_to_parquet,
    stream_pages,
)

LANGS = ["en", "fr", "es", "de"]


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
    pages = stream_pages(spark, src, WEB_PAGE_SCHEMA)
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
        stream_pages(spark, src, WEB_PAGE_SCHEMA), onto, languages=LANGS
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
    pages = stream_pages(spark, src, WEB_PAGE_SCHEMA)
    sc = spark.sparkContext
    sc.setLocalProperty("spark.jobGroup.id", "stream_no_languages")
    try:
        with pytest.raises(ValueError, match="languages"):
            build_triples(pages, onto, category_col=None)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # refused before any query ran (the ontology collect included)
    assert list(sc.statusTracker().getJobIdsForGroup("stream_no_languages")) == []


def test_stream_mention_rate_windowed_watermark(spark, tmp_path):
    import pyspark.sql.functions as F

    from dss_plugin_nlp_analysis_spark.streaming.stream_tagger import (
        stream_mention_rate,
    )

    src = str(tmp_path / "src_rate")
    pages_df(spark, 60, seed=7).coalesce(2).write.parquet(src)

    rows = [("spark_engine", "spark engine", None), ("nyc", "New York", None)]
    compiled = compile_ontology(rows, ["en", "fr", "es", "de"], TagOptions(), False)

    pages = stream_pages(spark, src, WEB_PAGE_SCHEMA)
    rate = stream_mention_rate(pages, compiled, window="1 hour", watermark="2 hours")
    assert rate.isStreaming
    q = (
        rate.writeStream.outputMode("complete")
        .format("memory")
        .queryName("mention_rate")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = spark.sql("SELECT * FROM mention_rate")
    assert got.count() > 0
    r = got.agg(F.sum("n_pages").alias("p"), F.sum("n_mentions").alias("m")).collect()[0]
    assert r["p"] == 60  # every page lands in exactly one window
    assert r["m"] >= 0
    # window struct carries event-time bounds
    assert {f.name for f in got.schema["window"].dataType.fields} == {"start", "end"}


def test_stream_mention_rate_append_finalizes_and_drops_late(spark, tmp_path):
    """Append mode is where the watermark contract is observable: a window
    is emitted exactly once after the watermark passes its end, and rows
    arriving later than the watermark are dropped from it."""
    import pyspark.sql.functions as F

    from dss_plugin_nlp_analysis_spark.streaming.stream_tagger import (
        stream_mention_rate,
    )

    src = str(tmp_path / "src_wm")

    def write_pages(rows):
        df = spark.createDataFrame(
            [(f"http://a.com/{i}", ts, None, "spark engine runs", "en") for i, ts in rows],
            "url string, warc_ts string, html binary, text string, lang string",
        ).withColumn("warc_ts", F.col("warc_ts").cast("timestamp"))
        df.coalesce(1).write.mode("append").parquet(src)

    write_pages([(i, f"2024-01-01 00:0{i}:00") for i in range(3)])  # on-time, hour 00

    rows = [("spark_engine", "spark engine", None)]
    compiled = compile_ontology(rows, ["en"], TagOptions(), False)
    st = stream_pages(spark, src, WEB_PAGE_SCHEMA)
    rate = stream_mention_rate(st, compiled, window="1 hour", watermark="30 minutes")
    q = (
        rate.writeStream.outputMode("append")
        .format("memory")
        .queryName("rate_append")
        .start()
    )
    try:
        q.processAllAvailable()
        # hour-00 window not finalized yet (watermark hasn't passed 01:00)
        assert spark.sql("SELECT * FROM rate_append").count() == 0
        write_pages([(9, "2024-01-01 03:00:00")])  # advances the watermark
        q.processAllAvailable()
        write_pages([(7, "2024-01-01 00:05:00")])  # LATE for hour 00
        q.processAllAvailable()
    finally:
        q.stop()
    got = spark.sql("SELECT * FROM rate_append").collect()
    hour0 = [r for r in got if r["window"]["start"].hour == 0]
    # finalized exactly once, counting ONLY the on-time pages (late dropped)
    assert len(hour0) == 1
    assert hour0[0]["n_pages"] == 3 and hour0[0]["n_mentions"] == 3
    # the 03:00 window never finalizes (no later event) -> not emitted
    assert not [r for r in got if r["window"]["start"].hour == 3]
