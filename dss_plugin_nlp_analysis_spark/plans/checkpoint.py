"""Per-partition checkpoint manifest: resumable KG builds with lineage.

North rule: "resumable from checkpoint with per-partition lineage +
metrics". The reference has no fault tolerance at all (SURVEY.md §4.2);
this module adds it at the partition level:

- input is bucketed by ``xxhash64(url) % num_buckets``; a job group
  filters its buckets, then hash-distributes them with
  ``repartition(n, xxhash64(url))`` before ``triple_fn`` sees them, so the
  kernel stage runs on ``n`` balanced tasks whatever the crawl's file
  layout (urls are distinct per page: a hot domain spreads over all
  tasks). ``n = max(input partition count, defaultParallelism)``, fixed
  once per build: at least one task per core, and at scale as many tasks
  as the scan already planned. The explicit count also keeps AQE from
  coalescing this small-in-bytes, CPU-heavy stage into one partition.
  (The input's count is free for a file scan; an input that ends in a
  shuffle runs that shuffle once to learn it.)
- each completed bucket writes its triples under ``output/bucket=<b>/``
  (no ``_`` prefix: ``pyarrow.parquet.read_table`` skips such paths) and
  appends a manifest row (bucket, input_rows, triples, group_wall_s,
  output_fingerprint, completed_at, num_buckets) to
  ``<checkpoint_dir>/manifest/``
- a restart reads the manifest and processes only missing buckets. The
  bucket ids only mean something for the bucket count that made them: a
  manifest row whose ``num_buckets`` differs from the current one raises
  ValueError (skipping "done" bucket ids of another layout would leave
  stale triples beside rewritten ones). Rows of older manifests, written
  before the column existed, read it as NULL and resume as before. An
  output in the old ``output/_bucket=<b>/`` layout raises ValueError:
  the two layouts are never mixed.

Manifest I/O is Arrow on the driver side: a missing manifest reads as a
frame over an empty ``pyarrow.Table`` and each group's rows are appended
from one, so both are a ``LocalRelation`` in the plan rather than a
pickled-row RDD (``sc.parallelize``), which costs a round trip of Python
object serialization per call.

Atomicity: a bucket's output directory is written with dynamic partition
overwrite and its manifest row is appended only after the write commits,
so a crash mid-bucket re-runs just that bucket. (On a real lakehouse this
manifest becomes an Iceberg snapshot/metadata table; parquet keeps the
sandbox dependency-free — sources/catalog.py gates the Iceberg path.)

Lineage: each group runs one data job, the write, and observes its
manifest rows in that job's result stage (whose metrics merge once per
partition, unlike a retried shuffle-map task's), one
``when(_bucket == b, …)`` aggregate per bucket: ``input_rows`` on the
repartitioned docs, ``triples`` and ``output_fingerprint`` on the rows
written. The output is never read back. The fingerprint is a COMMUTATIVE
sum of per-row xxhash64(subj|pred|obj) in decimal(38,0): insensitive to
row order, sensitive to duplicates (unlike XOR, a re-appended row changes
the sum), and constant-memory — a sort_array(collect_list(...))
fingerprint would hold every triple string of a bucket in one buffer.

Bucket-partition safety: ``triple_fn`` may keep the input ``_bucket``
column on its output — then the write partitions by the *input* bucket
with zero extra cost. If it drops the column, the bucket is re-derived
from ``xxhash64(subj)``, which silently corrupts resume state when subj
differs from the input url (a later job group would overwrite partitions
owned by earlier groups), so a guard is fused into the bucket expression:
the write job aborts before commit on the first stray row (zero extra scan
when all rows are valid) and the violation surfaces as ValueError.
"""

from __future__ import annotations

import time
import uuid
from dataclasses import dataclass

import pyarrow as pa
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

__all__ = ["KGBuildResult", "run_checkpointed_build", "read_manifest"]

_BUCKET_CONTRACT_MARKER = "KG_BUCKET_CONTRACT_VIOLATION:"

MANIFEST_SCHEMA = T.StructType(
    [
        T.StructField("bucket", T.IntegerType(), False),
        T.StructField("input_rows", T.LongType()),
        T.StructField("triples", T.LongType()),
        # wall time of the JOB GROUP that produced this bucket (buckets in a
        # group share one Spark job; a per-bucket wall time does not exist)
        T.StructField("group_wall_s", T.DoubleType()),
        # commutative hash of this bucket's OUTPUT triples (see module doc)
        T.StructField("output_fingerprint", T.StringType()),
        T.StructField("completed_at", T.DoubleType()),
        # the build's bucket count; NULL in manifests written before it
        T.StructField("num_buckets", T.IntegerType()),
    ]
)
_MANIFEST_ARROW = to_arrow_schema(MANIFEST_SCHEMA)


@dataclass
class KGBuildResult:
    processed_buckets: list[int]
    skipped_buckets: list[int]
    total_triples: int


def read_manifest(spark: SparkSession, checkpoint_dir: str) -> DataFrame:
    """The manifest rows written so far; empty when no manifest exists yet.
    Any other failure (a corrupt or unreadable manifest) raises: reading it
    as "nothing done" would silently rebuild every bucket."""
    path = f"{checkpoint_dir}/manifest"
    # test for the path rather than catch the failed read: once a session
    # has used an Observation, Spark's observation listener also logs every
    # failed query as an ERROR with its stack trace
    hpath = spark.sparkContext._jvm.org.apache.hadoop.fs.Path(path)
    if not hpath.getFileSystem(spark._jsc.hadoopConfiguration()).exists(hpath):
        return spark.createDataFrame(_MANIFEST_ARROW.empty_table())
    return spark.read.schema(MANIFEST_SCHEMA).parquet(path)


def _output_fingerprint(where: F.Column | None = None) -> F.Column:
    """Commutative, duplicate-sensitive, constant-memory bucket fingerprint:
    sum of per-row xxhash64 in decimal(38,0) (no overflow below ~10^19 rows
    per bucket, far past any real partition) over the rows ``where`` holds
    (all rows when omitted); NULL over no rows."""
    row_hash = F.xxhash64(F.concat_ws("|", "subj", "pred", "obj"))
    if where is not None:
        row_hash = F.when(where, row_hash)
    return F.sum(row_hash.cast("decimal(38,0)")).cast("string")


def run_checkpointed_build(
    spark: SparkSession,
    docs_df: DataFrame,
    triple_fn,
    output_dir: str,
    checkpoint_dir: str,
    url_col: str = "url",
    num_buckets: int = 16,
    buckets_per_job: int = 8,
) -> KGBuildResult:
    """Run ``triple_fn(bucket_docs) -> DataFrame`` over url-hash buckets,
    skipping buckets already recorded in the manifest.

    ``bucket_docs`` is the group's docs after
    ``repartition(n, xxhash64(url_col))`` with
    ``n = max(docs_df partitions, defaultParallelism)``: the one exchange
    of the write job, below ``triple_fn``'s kernel (see module doc). It
    carries a ``_bucket`` column (the url-hash bucket); ``triple_fn`` may
    preserve it on its output to pin each triple to its input bucket for
    free. Outputs without ``_bucket`` must satisfy the subj == url
    contract: the bucket is re-derived from subj, and a subj outside the
    group raises ValueError before the write commits. The bucket is
    written as the partition column ``bucket``, so an output with a
    ``bucket`` column of its own raises ValueError.

    ``triple_fn`` should build its output lazily from ``bucket_docs``: the
    write is the group's one data job and observes its manifest rows (see
    module doc). An action on ``bucket_docs`` would run the exchange once
    more, and the first action is the one whose rows become ``input_rows``.

    ``buckets_per_job`` groups buckets into jobs: at 100 TB you want few
    large jobs (amortized scans); the manifest granularity stays per-bucket
    because the output is partitioned by bucket and recorded per-bucket.

    A manifest recorded with another ``num_buckets``, or an output in the
    old ``_bucket=<b>`` layout, raises ValueError before any work.
    """
    old = spark.sparkContext._jvm.org.apache.hadoop.fs.Path(f"{output_dir}/_bucket=*")
    if old.getFileSystem(spark._jsc.hadoopConfiguration()).globStatus(old):
        raise ValueError(
            f"{output_dir} holds triples in the old _bucket=<b> layout, and this "
            "build writes bucket=<b>: mixing the two would duplicate triples. "
            "Start a fresh output and checkpoint."
        )
    manifest = read_manifest(spark, checkpoint_dir).select("bucket", "num_buckets").collect()
    other = sorted({r["num_buckets"] for r in manifest} - {None, num_buckets})
    if other:
        raise ValueError(
            f"the checkpoint at {checkpoint_dir} was built with num_buckets="
            f"{', '.join(map(str, other))}, but this build uses num_buckets="
            f"{num_buckets}: its bucket ids name other url sets, so resuming "
            "would duplicate triples. Resume with the same num_buckets or "
            "start a fresh output and checkpoint."
        )
    done = {r["bucket"] for r in manifest}
    todo = [b for b in range(num_buckets) if b not in done]
    docs_b = docs_df.withColumn(
        "_bucket", (F.pmod(F.xxhash64(F.col(url_col)), F.lit(num_buckets))).cast("int")
    )
    n_tasks = max(docs_df.rdd.getNumPartitions(), spark.sparkContext.defaultParallelism)
    total_triples = 0
    processed: list[int] = []
    for i in range(0, len(todo), buckets_per_job):
        group = todo[i:i + buckets_per_job]
        t0 = time.perf_counter()
        # rows per bucket: the docs read and the triples written
        counts = [F.count(F.when(F.col("_bucket") == b, 1)).alias(str(b)) for b in group]
        obs_name = f"kg_input_rows_{uuid.uuid4().hex}"
        obs, out_obs = Observation(obs_name), Observation()
        part = (
            docs_b.where(F.col("_bucket").isin(group))
            .repartition(n_tasks, F.xxhash64(F.col(url_col)))
            .observe(obs, *counts)
        )
        triples = triple_fn(part)
        if any(c.lower() == "bucket" for c in triples.columns):
            raise ValueError("triple_fn's output has a column named bucket, the "
                             "partition column of the url-hash bucket. Rename it.")
        derived = "_bucket" not in triples.columns
        if derived:
            bucket = (F.pmod(F.xxhash64(F.col("subj")), F.lit(num_buckets))).cast("int")
            # fused guard: a stray bucket aborts the write job BEFORE
            # commit (dynamic overwrite commits at job end) — zero extra
            # scan in the common all-valid case
            bucket = F.when(bucket.isin(group), bucket).otherwise(
                F.raise_error(
                    F.concat(
                        F.lit(_BUCKET_CONTRACT_MARKER + " derived bucket "),
                        bucket.cast("string"),
                        F.lit(f" outside current group {group}"),
                    )
                )
            )
            triples = triples.withColumn("_bucket", bucket)
        # an output that no longer reads the observed docs (triple_fn
        # ignored them, or the optimizer dropped them as empty) never
        # reports the observation: count those inputs with their own query
        observed = obs_name in triples._jdf.queryExecution().optimizedPlan().toString()
        fingerprints = [_output_fingerprint(F.col("_bucket") == b).alias(f"fp{b}") for b in group]
        # dynamic partition overwrite (writer-scoped, not session config):
        # re-running a bucket replaces exactly that bucket's directory —
        # idempotent resume, no duplicate appends
        writer = (
            triples.observe(out_obs, *counts, *fingerprints)
            .withColumnRenamed("_bucket", "bucket")
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("bucket")
        )
        try:
            writer.parquet(output_dir)
        except Exception as exc:  # surface the contract violation as ValueError
            if derived and _BUCKET_CONTRACT_MARKER in str(exc):
                raise ValueError(
                    "triple_fn dropped _bucket and emitted subj values outside "
                    f"the current bucket group {group}: writing would overwrite "
                    "partitions owned by other groups. Preserve the input "
                    "_bucket column or keep subj equal to the input url column."
                ) from exc
            raise
        wall = time.perf_counter() - t0
        in_rows = obs.get if observed else part.agg(*counts).first().asDict()
        out, now = out_obs.get, time.time()
        appended = pa.Table.from_pylist([
            {"bucket": b, "input_rows": in_rows[str(b)], "triples": out[str(b)],
             "group_wall_s": wall, "output_fingerprint": out[f"fp{b}"],
             "completed_at": now, "num_buckets": num_buckets}
            for b in group
        ], schema=_MANIFEST_ARROW)
        spark.createDataFrame(appended).write.mode("append").parquet(
            f"{checkpoint_dir}/manifest"
        )
        total_triples += sum(out[str(b)] for b in group)
        processed.extend(group)
    return KGBuildResult(
        processed_buckets=processed,
        skipped_buckets=sorted(done),
        total_triples=total_triples,
    )
