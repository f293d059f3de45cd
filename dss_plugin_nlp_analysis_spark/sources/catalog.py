"""Table IO: Iceberg when available, parquet fallback (SURVEY.md §2.1 S1/S4).

The v1 image has no Iceberg jars (pyspark guide: "Delta/Iceberg/Hudi need
their jars on the classpath"), so the Iceberg path is config-gated, not
import-gated: pass ``format='iceberg'`` only on a cluster whose session has
``spark.sql.catalog.*`` configured. Everything else in the engine talks to
this module, so swapping the storage layer is a one-line change.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

__all__ = ["read_table", "write_table"]


def read_table(spark: SparkSession, location: str, fmt: str = "parquet") -> DataFrame:
    if fmt == "iceberg":
        return spark.table(location)
    return spark.read.format(fmt).load(location)


def write_table(
    df: DataFrame,
    location: str,
    fmt: str = "parquet",
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
) -> None:
    if fmt == "iceberg":
        writer = df.writeTo(location)
        if partition_by:
            writer = writer.partitionedBy(*[F.col(c) for c in partition_by])
        writer.createOrReplace()
        return
    w = df.write.mode(mode).format(fmt)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.save(location)
