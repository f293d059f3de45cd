"""Structured Streaming ingestion for the tagging/KG pipeline.

The reference is strictly batch (SURVEY.md §2.9); this is new surface for
continuous crawl ingestion: a stream of web pages → ``kg.build_triples``
(the batch triples path, unchanged: pass ``languages``, since a stream
cannot be pre-scanned) → an exactly-once parquet sink via foreachBatch.
The kernel UDF (``tagger.doc_udf``) is stateless per document, so it drops
into a streaming plan unchanged, its broadcast included — watermarks and
windows only matter for the optional rate aggregation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..operators.ontology import CompiledOntology
from ..operators.tagger import doc_udf

__all__ = [
    "stream_pages", "stream_mention_rate", "write_epoch", "run_stream_to_parquet",
]


def stream_pages(spark: SparkSession, source_dir: str, schema) -> DataFrame:
    """File-source stream of web pages (one file batch per trigger)."""
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(source_dir)
    )


def _match_count(sentences: list[str], matches: list[dict]) -> int:
    return len(matches)


def stream_mention_rate(
    pages: DataFrame,
    compiled: CompiledOntology,
    ts_col: str = "warc_ts",
    lang_col: str = "lang",
    text_col: str = "text",
    window: str = "5 minutes",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Watermarked windowed crawl-rate aggregation: per (event-time window,
    lang), the number of pages and extracted mentions.

    The watermark bounds state for late data: events later than
    ``watermark`` behind the max seen event time are dropped and their
    window finalized — the standard Structured Streaming pattern for
    continuous ingestion monitoring (emit to an append sink once windows
    close, or a memory/update sink for live dashboards)."""
    ref = pages.sparkSession.sparkContext.broadcast(compiled)
    n_matches = doc_udf(ref, T.IntegerType(), _match_count, "en", True)
    return (
        pages.withColumn("_n", n_matches(F.col(text_col), F.col(lang_col)))
        .withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window), F.col(lang_col).alias("lang"))
        .agg(F.count("*").alias("n_pages"), F.sum("_n").alias("n_mentions"))
    )


def run_stream_to_parquet(
    triples: DataFrame,
    output_dir: str,
    checkpoint_dir: str,
):
    """Start the stream with an exactly-once parquet sink. Caller
    awaits/stops.

    foreachBatch alone is at-least-once (a micro-batch retried after a
    failure would re-run its writer); the sink is made IDEMPOTENT per epoch
    by partitioning the output on ``epoch_id`` and writing with dynamic
    partition overwrite — a retried epoch replaces exactly its own
    partition instead of appending a second copy, which upgrades the
    end-to-end guarantee to exactly-once (checkpointed offsets + an
    idempotent sink)."""

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        write_epoch(batch_df, epoch_id, output_dir)

    return (
        triples.writeStream.outputMode("append")
        .foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )


def write_epoch(batch_df: DataFrame, epoch_id: int, output_dir: str) -> None:
    """Idempotent per-epoch parquet write: a retried epoch replaces its own
    ``epoch_id=<n>`` partition (dynamic overwrite) instead of appending."""
    (
        batch_df.withColumn("epoch_id", F.lit(epoch_id))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("epoch_id")
        .parquet(output_dir)
    )
