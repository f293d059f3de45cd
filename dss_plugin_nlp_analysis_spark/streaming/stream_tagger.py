"""Structured Streaming sink for the KG pipeline.

The reference is strictly batch (SURVEY.md §2.9); this is new surface for
continuous crawl ingestion: a stream of web pages (any ``readStream``
source) → ``kg.build_triples`` (the batch triples path, unchanged: pass
``languages``, since a stream cannot be pre-scanned) → an exactly-once
parquet sink via foreachBatch. The kernel UDF (``tagger.doc_udf``) is
stateless per document, so it drops into a streaming plan unchanged, its
memoized ontology broadcast included.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["write_epoch", "run_stream_to_parquet"]


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
