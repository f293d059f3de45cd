"""KG materialization tests: triples, canonicalization, entity linking,
checkpoint resumability (SEMANTICS.md §8, north rule)."""

import pyspark.sql.functions as F
import pytest

from dss_plugin_nlp_analysis_spark.functions.html_text import extract_text
from dss_plugin_nlp_analysis_spark.operators.kg import build_triples, canonical_map
from dss_plugin_nlp_analysis_spark.operators.ontology import TagOptions
from dss_plugin_nlp_analysis_spark.sources.webpages import (
    demo_kg_ontology,
    generate_pages,
    pages_df,
)


def read_back(spark, out):
    """Per-bucket ``(triples, fingerprint)`` of the committed output: the
    query the build no longer runs, kept as the manifest's reference."""
    import pathlib

    from dss_plugin_nlp_analysis_spark.plans.checkpoint import _output_fingerprint

    if not any(pathlib.Path(out).rglob("*.parquet")):  # no rows, no footer to read
        return {}
    return {
        r["bucket"]: (r["n"], r["fp"])
        for r in spark.read.parquet(out).groupBy("bucket")
        .agg(F.count("*").alias("n"), _output_fingerprint().alias("fp")).collect()
    }


def assert_manifest_matches_output(spark, out, ckpt):
    from dss_plugin_nlp_analysis_spark.plans.checkpoint import read_manifest

    manifest = {
        r["bucket"]: (r["triples"], r["output_fingerprint"])
        for r in read_manifest(spark, ckpt).collect()
    }
    back = read_back(spark, out)
    assert set(back) <= set(manifest)
    assert manifest == {b: back.get(b, (0, None)) for b in manifest}


def test_canonical_map_unions_by_shared_keyword():
    rows = [
        ("nyc", "new york", None),
        ("new_york_city", "new york", None),
        ("paris", "paris", None),
    ]
    cmap = canonical_map(rows)
    assert cmap["nyc"] == cmap["new_york_city"] == "new_york_city"  # min tag
    assert cmap["paris"] == "paris"


def test_canonical_map_case_insensitive_aliases():
    rows = [("a_tag", "Engine", None), ("b_tag", "engine", None)]
    cmap = canonical_map(rows)
    assert cmap["a_tag"] == cmap["b_tag"] == "a_tag"


def test_pages_corpus_text_invariant():
    # FIXTURES.md §1: text == extract_text(html) byte-for-byte per url
    for url, _ts, html, text, _lang in generate_pages(200, seed=42):
        if html is None:
            assert text is None
        else:
            assert extract_text(html) == text, url


def test_pages_corpus_deterministic():
    assert generate_pages(50, seed=42) == generate_pages(50, seed=42)


def test_build_triples_end_to_end(spark):
    docs = pages_df(spark, 120, seed=42)
    onto = demo_kg_ontology(spark)
    triples = build_triples(docs, onto).collect()
    assert len(triples) > 0
    preds = {t["pred"] for t in triples}
    assert "spark_engine" in preds
    t0 = triples[0]
    assert t0["subj"].startswith("https://")
    assert t0["sentence"] is not None and t0["keyword"] is not None
    # canonicalization: spark_engine and analytics_engine share keyword
    # 'engine' → both map to the min tag
    for t in triples:
        if t["pred"] in ("spark_engine", "analytics_engine"):
            assert t["obj"] == "analytics_engine"


def test_build_triples_unsupported_lang_skipped(spark):
    docs = pages_df(spark, 200, seed=42)
    onto = demo_kg_ontology(spark)
    langs = {t["lang"] for t in build_triples(docs, onto).collect()}
    assert "xx" not in langs  # skip_unknown default for KG builds


def test_entity_linking_context_scoring(spark):
    # ambiguous keyword 'bank': river_bank's other keyword 'river' appears
    # in context → linking resolves to river_bank; default resolves to the
    # last ontology row (dict-overwrite reference rule)
    onto_rows = [
        ("river_bank", "bank", None),
        ("river_bank", "river", None),
        ("money_bank", "bank", None),
        ("money_bank", "money", None),
    ]
    onto = spark.createDataFrame(onto_rows, "tag string, keyword string, category string")
    docs = spark.createDataFrame(
        [("u1", "the river flows past the bank", "en")],
        "url string, text string, lang string",
    )
    linked = build_triples(
        docs, onto, ts_col=None, category_col=None,
        options=TagOptions(link_entities=True), canonicalize=False,
    ).collect()
    by_kw = {t["keyword"]: t["pred"] for t in linked}
    assert by_kw["bank"] == "river_bank"
    # default (no linking): no-category path → last ontology row wins
    unlinked = build_triples(
        docs, onto, ts_col=None, category_col=None, canonicalize=False
    ).collect()
    assert {t["pred"] for t in unlinked if t["keyword"] == "bank"} == {"money_bank"}
    # category path (EntityRuler): first ontology row wins
    with_cat = build_triples(docs, onto, ts_col=None, canonicalize=False).collect()
    assert {t["pred"] for t in with_cat if t["keyword"] == "bank"} == {"river_bank"}


def test_entity_linking_tie_and_sentence_scope(spark):
    # driver-gate semantics (tag_match_linked): ties go to the FIRST-added
    # candidate, and the context window is the containing SENTENCE — a
    # profile token in a different sentence does not count
    from dss_plugin_nlp_analysis_spark.operators.tagger import tag_documents

    onto = spark.createDataFrame(
        [
            ("river_bank", "bank"),
            ("money_bank", "bank"),
            ("river_bank", "river"),
            ("money_bank", "money"),
        ],
        "tag string, keyword string",
    )
    docs = spark.createDataFrame(
        [
            (1, "the bank is steep", "en"),          # no profile token: tie → first added
            (2, "the bank is steep. money talks.", "en"),  # 'money' in OTHER sentence → still tie
            (3, "money sits in the bank", "en"),      # same-sentence 'money' → money_bank
        ],
        "doc_id int, text string, lang string",
    )
    out = tag_documents(
        docs, onto, text_col="text", lang_col="lang",
        options=TagOptions(link_entities=True),
    )
    got = {
        r["doc_id"]: r["tag"]
        for r in out.collect()
        if r["tag_keyword"] == "bank"
    }
    assert got == {1: "river_bank", 2: "river_bank", 3: "money_bank"}


def test_checkpointed_build_resumes(spark, tmp_path):
    from dss_plugin_nlp_analysis_spark.plans.checkpoint import (
        read_manifest,
        run_checkpointed_build,
    )

    docs = pages_df(spark, 100, seed=42)
    onto = demo_kg_ontology(spark)

    def triple_fn(part):
        return build_triples(part, onto, languages=["en", "fr", "es", "de"])

    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    r1 = run_checkpointed_build(
        spark, docs, triple_fn, out, ckpt, num_buckets=4, buckets_per_job=2
    )
    assert sorted(r1.processed_buckets) == [0, 1, 2, 3]
    m = read_manifest(spark, ckpt).collect()
    assert len(m) == 4
    assert sum(r["input_rows"] for r in m) == 100
    # second run: everything skipped
    r2 = run_checkpointed_build(
        spark, docs, triple_fn, out, ckpt, num_buckets=4, buckets_per_job=2
    )
    assert r2.processed_buckets == []
    assert r2.skipped_buckets == [0, 1, 2, 3]
    # output is complete, readable outside Spark, and equals its manifest
    import pyarrow.parquet as pq

    total = spark.read.parquet(out).count()
    assert total == r1.total_triples > 0
    assert pq.read_table(out).num_rows == r1.total_triples
    assert_manifest_matches_output(spark, out, ckpt)


def test_checkpointed_build_manifest_input_rows_per_bucket(spark, tmp_path):
    # every bucket's input_rows (observed inside the write job) equals an
    # independent count of the input by url-hash bucket, empty ones as 0
    from dss_plugin_nlp_analysis_spark.plans.checkpoint import (
        read_manifest,
        run_checkpointed_build,
    )

    docs = pages_df(spark, 100, seed=42)
    onto = demo_kg_ontology(spark)

    def triple_fn(part):
        return build_triples(part, onto, languages=["en", "fr", "es", "de"])

    ckpt = str(tmp_path / "ckpt")
    run_checkpointed_build(
        spark, docs, triple_fn, str(tmp_path / "out"), ckpt,
        num_buckets=8, buckets_per_job=3,
    )
    expected = dict.fromkeys(range(8), 0)
    for r in docs.groupBy(F.pmod(F.xxhash64("url"), F.lit(8)).alias("b")).count().collect():
        expected[r["b"]] = r["count"]
    got = {r["bucket"]: r["input_rows"] for r in read_manifest(spark, ckpt).collect()}
    assert got == expected


def test_checkpointed_build_spreads_hot_host_over_cores(spark, tmp_path):
    # a one-partition input from one hot host reaches triple_fn as
    # max(1, defaultParallelism) url-hash partitions, every one non-empty
    from dss_plugin_nlp_analysis_spark.plans.checkpoint import run_checkpointed_build

    docs = spark.createDataFrame(
        [(f"https://hot.example.com/page/{i}", f"text {i}") for i in range(200)],
        "url string, text string",
    ).coalesce(1)
    assert docs.rdd.getNumPartitions() == 1
    seen = []

    def triple_fn(part):
        seen.append(part)
        return part.select(
            "_bucket", F.col("url").alias("subj"), F.lit("p").alias("pred"),
            F.col("text").alias("obj"),
        )

    res = run_checkpointed_build(
        spark, docs, triple_fn, str(tmp_path / "out"), str(tmp_path / "ckpt"),
        num_buckets=4, buckets_per_job=4,
    )
    assert res.total_triples == 200
    n = max(1, spark.sparkContext.defaultParallelism)
    assert [p.rdd.getNumPartitions() for p in seen] == [n]
    sizes = [
        r["count"]
        for r in seen[0].groupBy(F.spark_partition_id().alias("pid")).count().collect()
    ]
    assert len(sizes) == n and sum(sizes) == 200
    assert max(sizes) < 2 * 200 / n


def test_checkpointed_build_counts_inputs_the_output_drops(spark, tmp_path):
    # an output the optimizer folds to empty no longer reads the observed
    # docs: input_rows still comes out right, and the build does not hang
    from dss_plugin_nlp_analysis_spark.plans.checkpoint import (
        read_manifest,
        run_checkpointed_build,
    )

    docs = spark.createDataFrame(
        [(f"http://d{i}.com/x", f"text {i}") for i in range(20)],
        "url string, text string",
    )

    def empty_triple_fn(part):
        return part.where(F.lit(False)).select(
            F.col("url").alias("subj"), F.lit("p").alias("pred"), F.col("text").alias("obj"),
        )

    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    res = run_checkpointed_build(spark, docs, empty_triple_fn, out, ckpt, num_buckets=2)
    assert res.total_triples == 0
    m = read_manifest(spark, ckpt).collect()
    assert sorted(r["bucket"] for r in m) == [0, 1]
    assert sum(r["input_rows"] for r in m) == 20
    # the folded output still reports its observation: 0 triples, NULL fingerprints
    assert {(r["triples"], r["output_fingerprint"]) for r in m} == {(0, None)}
    assert_manifest_matches_output(spark, out, ckpt)


def test_checkpointed_build_refuses_corrupt_manifest(spark, tmp_path):
    # a corrupt manifest must fail the build, never read as "nothing done"
    # (which would silently rebuild and overwrite every bucket)
    import os

    from dss_plugin_nlp_analysis_spark.plans.checkpoint import run_checkpointed_build

    docs = spark.createDataFrame(
        [(f"http://d{i}.com/x", f"text {i}") for i in range(20)],
        "url string, text string",
    )

    def triple_fn(part):
        return part.select(
            F.col("url").alias("subj"), F.lit("p").alias("pred"), F.col("text").alias("obj"),
        )

    out = tmp_path / "out"
    ckpt = tmp_path / "ckpt"
    run_checkpointed_build(spark, docs, triple_fn, str(out), str(ckpt), num_buckets=2)
    (ckpt / "manifest" / "part-99999-corrupt.parquet").write_bytes(b"not a parquet file")
    written = {p: os.path.getmtime(p) for p in out.rglob("*.parquet")}
    with pytest.raises(Exception, match="part-99999-corrupt.parquet"):
        run_checkpointed_build(spark, docs, triple_fn, str(out), str(ckpt), num_buckets=2)
    assert {p: os.path.getmtime(p) for p in out.rglob("*.parquet")} == written


def test_read_manifest_raises_unless_manifest_is_missing(spark, tmp_path):
    from dss_plugin_nlp_analysis_spark.plans.checkpoint import read_manifest

    # absent manifest: a fresh build, nothing done
    assert read_manifest(spark, str(tmp_path / "fresh")).collect() == []
    # an unreadable location is an error, not an empty manifest
    with pytest.raises(Exception, match="nosuchfs"):
        read_manifest(spark, "nosuchfs://bucket/ckpt")


def test_checkpointed_build_empty_bucket_has_null_fingerprint(spark, tmp_path):
    # a bucket with no triples records 0 triples and a NULL fingerprint;
    # buckets with triples in the same append keep theirs
    from dss_plugin_nlp_analysis_spark.plans.checkpoint import (
        read_manifest,
        run_checkpointed_build,
    )

    docs = spark.createDataFrame(
        [(f"http://d{i}.com/x", f"text {i}") for i in range(40)],
        "url string, text string",
    )

    def triple_fn(part):
        return part.where(F.col("_bucket") != 0).select(
            "_bucket", F.col("url").alias("subj"), F.lit("p").alias("pred"),
            F.col("text").alias("obj"),
        )

    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    run_checkpointed_build(
        spark, docs, triple_fn, out, ckpt, num_buckets=3, buckets_per_job=3,
    )
    assert_manifest_matches_output(spark, out, ckpt)
    m = {r["bucket"]: r for r in read_manifest(spark, ckpt).collect()}
    assert sorted(m) == [0, 1, 2]
    assert m[0]["triples"] == 0 and m[0]["output_fingerprint"] is None
    for b in (1, 2):
        assert m[b]["triples"] == m[b]["input_rows"] > 0
        assert int(m[b]["output_fingerprint"]) != 0
    assert {r["num_buckets"] for r in m.values()} == {3}


def _copy_triple_fn(part):
    return part.select(
        F.col("url").alias("subj"), F.lit("p").alias("pred"), F.col("text").alias("obj"),
    )


def test_checkpointed_build_refuses_other_bucket_count(spark, tmp_path):
    # bucket ids of a 4-bucket manifest name other urls under 8 buckets:
    # resuming would skip 0-3 and duplicate their triples under 4-7
    import os

    from dss_plugin_nlp_analysis_spark.plans.checkpoint import run_checkpointed_build

    docs = pages_df(spark, 100, seed=42)
    out, ckpt = tmp_path / "out", tmp_path / "ckpt"
    first = run_checkpointed_build(spark, docs, _copy_triple_fn, str(out), str(ckpt),
                                   num_buckets=4, buckets_per_job=2)
    written = {p: os.path.getmtime(p) for p in out.rglob("*.parquet")}
    with pytest.raises(ValueError, match=r"num_buckets=4\b.*num_buckets=8\b"):
        run_checkpointed_build(spark, docs, _copy_triple_fn, str(out), str(ckpt),
                               num_buckets=8, buckets_per_job=2)
    assert {p: os.path.getmtime(p) for p in out.rglob("*.parquet")} == written
    assert spark.read.parquet(str(out)).count() == first.total_triples == 100


def test_checkpointed_build_resumes_manifest_without_bucket_count(spark, tmp_path):
    # a manifest written before the num_buckets column reads it as NULL
    # and resumes as before: done buckets are skipped, missing ones built
    import shutil

    from dss_plugin_nlp_analysis_spark.plans.checkpoint import (
        read_manifest,
        run_checkpointed_build,
    )

    docs = pages_df(spark, 100, seed=42)
    out, ckpt = str(tmp_path / "out"), tmp_path / "ckpt"
    run_checkpointed_build(spark, docs, _copy_triple_fn, out, str(ckpt),
                           num_buckets=4, buckets_per_job=4)
    old = spark.read.parquet(str(ckpt / "manifest")).drop("num_buckets").where("bucket < 2")
    old.write.parquet(str(tmp_path / "old_manifest"))
    shutil.rmtree(ckpt / "manifest")
    shutil.move(str(tmp_path / "old_manifest"), str(ckpt / "manifest"))
    assert {r["num_buckets"] for r in read_manifest(spark, str(ckpt)).collect()} == {None}

    res = run_checkpointed_build(spark, docs, _copy_triple_fn, out, str(ckpt),
                                 num_buckets=4, buckets_per_job=4)
    assert res.skipped_buckets == [0, 1] and res.processed_buckets == [2, 3]
    m = read_manifest(spark, str(ckpt)).collect()
    assert sorted((r["bucket"], r["num_buckets"]) for r in m) == [
        (0, None), (1, None), (2, 4), (3, 4),
    ]
    assert sum(r["input_rows"] for r in m) == 100
    assert spark.read.parquet(out).count() == 100
    # a manifest mixing NULL and matching rows is complete
    again = run_checkpointed_build(spark, docs, _copy_triple_fn, out, str(ckpt),
                                   num_buckets=4, buckets_per_job=4)
    assert again.processed_buckets == [] and again.skipped_buckets == [0, 1, 2, 3]


def test_checkpointed_build_never_reads_its_output(spark, tmp_path, monkeypatch):
    # one data job per group: the manifest comes from the write itself, so
    # neither a build nor its resume reads output_dir back
    from pyspark.sql import DataFrameReader

    from dss_plugin_nlp_analysis_spark.plans.checkpoint import run_checkpointed_build

    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")

    def refusing(read):
        def guarded(self, *args, **kwargs):
            paths = [a for a in (*args, *kwargs.values()) if isinstance(a, str)]
            if any(p.startswith(out) for p in paths):
                raise AssertionError(f"the build read its output: {paths}")
            return read(self, *args, **kwargs)
        return guarded

    for name in ("parquet", "load"):
        monkeypatch.setattr(DataFrameReader, name, refusing(getattr(DataFrameReader, name)))
    docs = pages_df(spark, 100, seed=42)
    onto = demo_kg_ontology(spark)

    def triple_fn(part):
        return build_triples(part, onto, languages=["en", "fr", "es", "de"])

    first = run_checkpointed_build(spark, docs, triple_fn, out, ckpt,
                                   num_buckets=4, buckets_per_job=2)
    again = run_checkpointed_build(spark, docs, triple_fn, out, ckpt,
                                   num_buckets=4, buckets_per_job=2)
    assert first.total_triples > 0 and again.processed_buckets == []
    monkeypatch.undo()
    assert_manifest_matches_output(spark, out, ckpt)


def test_checkpointed_build_refuses_old_bucket_layout(spark, tmp_path):
    # an output written as _bucket=<b>/ raises before any work: resuming
    # into it would put bucket=<b>/ copies of the same triples beside it
    from dss_plugin_nlp_analysis_spark.plans.checkpoint import run_checkpointed_build

    out, ckpt = tmp_path / "out", tmp_path / "ckpt"
    spark.createDataFrame(
        [("http://d0.com/x", "p", "o", 0)], "subj string, pred string, obj string, _bucket int"
    ).write.partitionBy("_bucket").parquet(str(out))
    before = sorted(p.relative_to(out) for p in out.rglob("*"))
    docs = pages_df(spark, 20, seed=42)
    with pytest.raises(ValueError, match="old _bucket=<b> layout"):
        run_checkpointed_build(spark, docs, _copy_triple_fn, str(out), str(ckpt), num_buckets=2)
    assert sorted(p.relative_to(out) for p in out.rglob("*")) == before
    assert not ckpt.exists()


def test_checkpointed_build_bucket_column_names(spark, tmp_path):
    # input docs may carry their own bucket column (the in-flight column is
    # _bucket); an OUTPUT bucket column would clash with the partition column
    import pyarrow.parquet as pq

    from dss_plugin_nlp_analysis_spark.plans.checkpoint import run_checkpointed_build

    docs = spark.createDataFrame(
        [(f"http://d{i}.com/x", f"text {i}", "shelf-9") for i in range(30)],
        "url string, text string, bucket string",
    )
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    res = run_checkpointed_build(spark, docs, _copy_triple_fn, out, ckpt, num_buckets=3)
    assert res.total_triples == pq.read_table(out).num_rows == 30
    assert_manifest_matches_output(spark, out, ckpt)

    def clashing(part):
        return _copy_triple_fn(part).withColumn("Bucket", F.lit(1))

    with pytest.raises(ValueError, match="column named bucket"):
        run_checkpointed_build(spark, docs, clashing, str(tmp_path / "out2"),
                               str(tmp_path / "ckpt2"), num_buckets=3)
    assert not (tmp_path / "out2").exists()


_RETRY_SCRIPT = """
import os
import sys

from pyspark import TaskContext
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from dss_plugin_nlp_analysis_spark.plans.checkpoint import read_manifest, run_checkpointed_build
from test_kg import assert_manifest_matches_output

out, ckpt, marker = sys.argv[1:]
# 4-row Arrow batches: the failing attempt has already passed rows on to
# the observation and the writer when it fails
spark = (SparkSession.builder.master("local[4,2]")
         .config("spark.ui.enabled", "false")
         .config("spark.sql.execution.arrow.maxRecordsPerBatch", "4")
         .config("spark.sql.shuffle.partitions", "4").getOrCreate())
batches = {}


@F.pandas_udf("string")
def fail_first_attempt(text):
    ctx = TaskContext.get()
    task = (ctx.stageId(), ctx.partitionId(), ctx.attemptNumber())
    batches[task] = batches.get(task, 0) + 1
    if ctx.partitionId() == 1 and ctx.attemptNumber() == 0 and batches[task] == 3:
        open(marker, "a").close()
        raise RuntimeError("injected failure of attempt 0")
    return text.str.upper()


def triple_fn(part):
    return part.select("_bucket", F.col("url").alias("subj"), F.lit("p").alias("pred"),
                       fail_first_attempt("text").alias("obj"))


docs = spark.createDataFrame([(f"http://d{i}.com/x", f"text {i}") for i in range(200)],
                             "url string, text string")
res = run_checkpointed_build(spark, docs, triple_fn, out, ckpt, num_buckets=4, buckets_per_job=2)
assert os.path.exists(marker), "no task attempt failed"
assert res.total_triples == 200, res
assert sum(r["input_rows"] for r in read_manifest(spark, ckpt).collect()) == 200
assert_manifest_matches_output(spark, out, ckpt)
spark.stop()
print("ok")
"""


def test_checkpointed_build_manifest_survives_task_retry(tmp_path):
    # local[4,2] allows one retry per task: attempt 0 of one partition
    # fails mid-write, and the observed counts and fingerprints still
    # equal the read-back (the failed attempt's metrics do not merge)
    import os
    import pathlib
    import subprocess
    import sys

    here = pathlib.Path(__file__).resolve().parent
    env = dict(os.environ, PYTHONPATH=os.pathsep.join(
        p for p in (str(here.parent), str(here), os.environ.get("PYTHONPATH")) if p))
    proc = subprocess.run(
        [sys.executable, "-c", _RETRY_SCRIPT,
         str(tmp_path / "out"), str(tmp_path / "ckpt"), str(tmp_path / "failed")],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert proc.stdout.strip().endswith("ok")


def test_canonical_map_transitive_chain():
    # A—kw1—B, B—kw2—C: union-find must merge the whole chain
    rows = [
        ("a_tag", "kw1", None),
        ("b_tag", "kw1", None),
        ("b_tag", "kw2", None),
        ("c_tag", "kw2", None),
        ("d_tag", "kw9", None),
    ]
    cmap = canonical_map(rows)
    assert cmap["a_tag"] == cmap["b_tag"] == cmap["c_tag"] == "a_tag"
    assert cmap["d_tag"] == "d_tag"


def test_connected_components_matches_union_find(spark):
    import random

    import pyspark.sql.functions as F

    from dss_plugin_nlp_analysis_spark.operators.components import (
        connected_components,
    )

    random.seed(5)
    edges = [(random.randint(0, 60), random.randint(0, 60)) for _ in range(80)]
    edges += [(100 + i, 100 + i + 1) for i in range(12)]  # a 13-node chain
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r["node"]: r["component"] for r in connected_components(df, max_iter=30).collect()}

    # reference: driver-side union-find over the same edges
    parent: dict[int, int] = {}
    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x
    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    comp: dict[int, list[int]] = {}
    for n in parent:
        comp.setdefault(find(n), []).append(n)
    expected = {n: min(ns) for r, ns in comp.items() for n in ns}
    assert got == expected
    # the chain collapses to one component labeled by its minimum node
    assert all(got[100 + i] == 100 for i in range(13))


# --- triple_history / tag_cooccurrence / negative_samples -----------------


def _triples_fixture(spark):
    import datetime as dt

    def ts(d):
        return dt.datetime(2026, 1, d)

    rows = [
        # (subj, pred, obj, warc_ts) — u1's (p, X) fact seen in 3 crawls
        ("u1", "p", "X", ts(1)),
        ("u1", "p", "X", ts(2)),
        ("u1", "p", "X", ts(2)),   # second mention in the same crawl
        ("u1", "q", "Y", ts(2)),
        ("u2", "p", "X", ts(3)),
        ("u2", "q", "Z", ts(3)),
    ]
    return spark.createDataFrame(
        rows, "subj string, pred string, obj string, warc_ts timestamp"
    )


def test_triple_history(spark):
    import datetime as dt

    from dss_plugin_nlp_analysis_spark.operators.kg import triple_history

    got = {
        (r["subj"], r["pred"], r["obj"]): (
            r["first_seen"], r["last_seen"], r["n_snapshots"], r["n_mentions"]
        )
        for r in triple_history(_triples_fixture(spark)).collect()
    }
    d = lambda x: dt.datetime(2026, 1, x)
    assert got[("u1", "p", "X")] == (d(1), d(2), 2, 3)
    assert got[("u1", "q", "Y")] == (d(2), d(2), 1, 1)
    assert got[("u2", "p", "X")] == (d(3), d(3), 1, 1)
    assert len(got) == 4


def test_tag_cooccurrence(spark):
    from dss_plugin_nlp_analysis_spark.operators.kg import tag_cooccurrence

    got = {
        (r["obj_a"], r["obj_b"]): r["n_docs"]
        for r in tag_cooccurrence(_triples_fixture(spark)).collect()
    }
    # u1 mentions {X, Y}; u2 mentions {X, Z} — repeat mentions collapse
    assert got == {("X", "Y"): 1, ("X", "Z"): 1}
    from dss_plugin_nlp_analysis_spark.operators.kg import tag_cooccurrence as tc
    assert tc(_triples_fixture(spark), min_count=2).count() == 0


def test_negative_samples_deterministic_and_valid(spark):
    import hashlib

    from dss_plugin_nlp_analysis_spark.operators.kg import negative_samples

    t = _triples_fixture(spark)
    out1 = sorted(tuple(r) for r in negative_samples(t, n_per=3, seed="s").collect())
    out2 = sorted(tuple(r) for r in negative_samples(t, n_per=3, seed="s").collect())
    assert out1 == out2  # pure function of the triple — retry-stable

    ents = sorted({"X", "Y", "Z"})
    positives = {("u1", "p", "X"), ("u1", "q", "Y"), ("u2", "p", "X"),
                 ("u2", "q", "Z")}
    expected = []
    for s, p, o in sorted(positives):
        for i in range(3):
            key = f"s|{i}|{s}|{p}|{o}"
            idx = int(hashlib.md5(key.encode()).hexdigest()[:15], 16) % len(ents)
            neg = ents[idx]
            if neg != o:
                expected.append((s, p, o, neg, i))
    assert out1 == sorted(expected)
    assert all(r[3] != r[2] for r in out1)


def test_negative_samples_rejects_degenerate(spark):
    from dss_plugin_nlp_analysis_spark.operators.kg import negative_samples

    t = _triples_fixture(spark)
    with pytest.raises(ValueError):
        negative_samples(t, n_per=0)
    one = spark.createDataFrame(
        [("u", "p", "X", None)],
        "subj string, pred string, obj string, warc_ts timestamp",
    )
    with pytest.raises(ValueError):
        negative_samples(one)


def test_entity_salience(spark):
    from dss_plugin_nlp_analysis_spark.operators.kg import entity_salience

    rows = [
        ("u1", "X", 0), ("u1", "X", 1), ("u1", "X", 1), ("u1", "Y", 2),
        ("u2", "Z", 5),
    ]
    t = spark.createDataFrame(rows, "subj string, obj string, sent_idx int")
    got = {
        (r["subj"], r["obj"]): (
            r["n_mentions"], r["first_sent_idx"], r["salience_micro"]
        )
        for r in entity_salience(t).collect()
    }
    assert got[("u1", "X")] == (3, 0, 750000)
    assert got[("u1", "Y")] == (1, 2, 250000)
    assert got[("u2", "Z")] == (1, 5, 1000000)


def test_negative_samples_excludes_null_component_triples(spark):
    from dss_plugin_nlp_analysis_spark.operators.kg import negative_samples

    rows = [
        ("u1", "p", "X", None), ("u1", "p", "Y", None),
        ("u2", None, "X", None),          # NULL pred: excluded
        (None, "p", "Y", None),           # NULL subj: excluded
        ("u3", "p", None, None),          # NULL obj: excluded + not in vocab
    ]
    t = spark.createDataFrame(
        rows, "subj string, pred string, obj string, warc_ts timestamp"
    )
    out = negative_samples(t, n_per=1, seed="s").collect()
    assert all(r["subj"] in ("u1",) for r in out)
    assert all(r["neg_obj"] in ("X", "Y") for r in out)


def test_triple_delta(spark):
    from dss_plugin_nlp_analysis_spark.operators.kg import triple_delta

    old = spark.createDataFrame(
        [("u1", "p", "X"), ("u1", "p", "X"), ("u2", "q", "Y")],
        "subj string, pred string, obj string",
    )
    new = spark.createDataFrame(
        [("u1", "p", "X"), ("u3", "p", "Z")],
        "subj string, pred string, obj string",
    )
    got = {
        (r["subj"], r["pred"], r["obj"]): r["status"]
        for r in triple_delta(old, new).collect()
    }
    assert got == {
        ("u1", "p", "X"): "same",     # dup mentions collapse first
        ("u2", "q", "Y"): "removed",
        ("u3", "p", "Z"): "added",
    }


def test_attribute_triples(spark):
    from dss_plugin_nlp_analysis_spark.operators.kg import attribute_triples

    docs = [
        (1, "title: Example Page\nprose line without marker\nlang: en"),
        (2, "x: a: b\n: missing key\nkey only:\nok: v"),
        (3, None),
        (4, "no colons at all"),
    ]
    df = spark.createDataFrame(docs, "id long, text string")
    got = sorted(
        (r["subj"], r["line_idx"], r["key"], r["value"])
        for r in attribute_triples(df, "id", "text").collect()
    )
    assert got == [
        (1, 0, "title", "Example Page"),
        (1, 2, "lang", "en"),
        # first ': ' splits — value keeps the rest verbatim
        (2, 0, "x", "a: b"),
        (2, 3, "ok", "v"),
    ]


def test_triple_delta_null_components_excluded(spark):
    from dss_plugin_nlp_analysis_spark.operators.kg import triple_delta

    old = spark.createDataFrame(
        [(None, "p", "X"), ("u1", "p", "X")],
        "subj string, pred string, obj string",
    )
    new = spark.createDataFrame(
        [(None, "p", "X"), ("u1", "p", "X")],
        "subj string, pred string, obj string",
    )
    rows = triple_delta(old, new).collect()
    # the NULL-keyed fact must not surface as a contradictory
    # added+removed pair — it is excluded by contract
    assert [(r["subj"], r["status"]) for r in rows] == [("u1", "same")]


def test_ntriples_escaping_and_null_exclusion(spark):
    """RDF 1.1 N-Triples: ECHAR escapes in literals, percent-encoding of
    forbidden IRIREF chars, NULL-component exclusion, IRI-object mode."""
    from dss_plugin_nlp_analysis_spark.operators.kg import ntriples_lines

    rows = [
        ("http://a.org/x y", "is a", 'quote " back \\ nl \n tab \t cr \r end'),
        ("http://a.org/<b>", "p|q", "plain"),
        (None, "p", "o"),
        ("s", None, "o"),
        ("s", "p", None),
    ]
    df = spark.createDataFrame(rows, "subj string, pred string, obj string")
    out = {r["subj"]: r["line"] for r in ntriples_lines(df).collect()}
    assert len(out) == 2  # NULL-component rows dropped
    assert out["http://a.org/x y"] == (
        '<http://a.org/x%20y> <http://example.org/pred/is%20a> '
        '"quote \\" back \\\\ nl \\n tab \\t cr \\r end" .'
    )
    assert out["http://a.org/<b>"] == (
        '<http://a.org/%3Cb%3E> <http://example.org/pred/p%7Cq> "plain" .'
    )
    # IRI-object mode wraps the object under the namespace
    iri = ntriples_lines(
        spark.createDataFrame([("s", "p", "node 1")], "subj string, pred string, obj string"),
        obj_namespace="http://ex.org/node/",
    ).collect()[0]["line"]
    assert iri == '<s> <http://example.org/pred/p> <http://ex.org/node/node%201> .'


def test_checkpointed_build_compiles_and_broadcasts_once(spark, tmp_path, ontology_calls):
    from dss_plugin_nlp_analysis_spark.plans.checkpoint import run_checkpointed_build

    docs = pages_df(spark, 100, seed=42)
    onto = demo_kg_ontology(spark)
    langs = ["en", "fr", "es", "de"]
    groups = []

    def triple_fn(part):
        groups.append(part)
        return build_triples(part, onto, languages=langs)

    out = str(tmp_path / "out")
    r = run_checkpointed_build(
        spark, docs, triple_fn, out, str(tmp_path / "ckpt"), num_buckets=4, buckets_per_job=2
    )
    assert len(groups) == 2 and sorted(r.processed_buckets) == [0, 1, 2, 3]
    assert ontology_calls == {"compile": 1, "canonical_map": 1, "broadcast": 1}
    # a second build in the session: no compile, canonical map or broadcast
    direct = build_triples(docs, demo_kg_ontology(spark), languages=langs)
    cols = direct.columns
    want = sorted(tuple(r) for r in direct.collect())
    assert ontology_calls == {"compile": 1, "canonical_map": 1, "broadcast": 1}
    got = sorted(tuple(r) for r in spark.read.parquet(out).select(*cols).collect())
    assert got == want and len(got) == r.total_triples > 0


_NEW_SESSION_SCRIPT = """
import sys
from pyspark.sql import SparkSession
from dss_plugin_nlp_analysis_spark.operators import ontology
from dss_plugin_nlp_analysis_spark.operators.kg import build_triples
from dss_plugin_nlp_analysis_spark.sources.webpages import demo_kg_ontology, pages_df

compiles = []
compile_ontology = ontology.compile_ontology
ontology.compile_ontology = lambda *a: compiles.append(1) or compile_ontology(*a)


def triples():
    spark = (SparkSession.builder.master("local[1]")
             .config("spark.ui.enabled", "false")
             .config("spark.sql.shuffle.partitions", "1").getOrCreate())
    out = build_triples(pages_df(spark, 60, seed=7), demo_kg_ontology(spark))
    return spark, sorted(map(tuple, out.collect()))


spark, first = triples()
[(old_sc, old_ref)] = ontology._BROADCASTS.values()
spark.stop()
spark, second = triples()
[(sc, ref)] = ontology._BROADCASTS.values()
assert sc is spark.sparkContext and sc is not old_sc, "memo kept the old context"
assert ref is not old_ref, "new context received the old broadcast"
assert len(compiles) == 2, compiles
assert second == first and first, "triples differ across sessions"
spark.stop()
print("ok")
"""


def test_new_session_never_receives_the_old_broadcast(tmp_path):
    # stopping the shared test session would break every later test, so
    # the stop/restart runs in its own process
    import os
    import pathlib
    import subprocess
    import sys

    root = pathlib.Path(__file__).resolve().parent.parent
    env = dict(os.environ, PYTHONPATH=os.pathsep.join(
        p for p in (str(root), os.environ.get("PYTHONPATH")) if p))
    proc = subprocess.run(
        [sys.executable, "-c", _NEW_SESSION_SCRIPT], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert proc.stdout.strip().endswith("ok")


def _ts(day):
    import datetime

    return datetime.datetime(2024, 1, day)


# (subj, pred, obj, ts): clean facts (a repeated mention, an inverse pair,
# a self-loop), then one row with each component NULL; the NULL-ts row
# is a clean fact for the callers that take no timestamp
_FACT_ROWS = [
    ("https://a.example/1", "p", "x", _ts(1)),
    ("https://a.example/1", "p", "y", _ts(3)),
    ("https://a.example/1", "q", "x", _ts(2)),
    ("x", "q", "https://a.example/1", _ts(20)),
    ("https://b.example/2", "p", "x", _ts(1)),
    ("https://b.example/2", "p", "x", _ts(10)),
    ("y", "p", "https://b.example/2", _ts(5)),
    ("y", "q", "y", _ts(6)),
    (None, "p", "x", _ts(1)),
    ("https://a.example/1", None, "y", _ts(2)),
    ("https://a.example/1", "p", None, _ts(3)),
    ("https://b.example/2", "q", "y", None),
]


def _fact_callers():
    from dss_plugin_nlp_analysis_spark.operators import kg

    def rules(t):
        return t.sparkSession.createDataFrame(
            [("p", "[xy]", 1), ("q", "x", 0)], "pred string, obj_pattern string, functional int"
        )

    return {
        "negative_samples": (False, lambda t, **k: kg.negative_samples(t, **k, n_per=2)),
        "transe_ranks": (False, kg.transe_ranks),
        "triple_delta": (False, lambda t, **k: kg.triple_delta(
            t.where(F.col(k.get("pred", "pred")) != "q"), t, **k
        )),
        "predicate_profile": (False, kg.predicate_profile),
        "linearize_triples": (False, kg.linearize_triples),
        "current_facts": (True, kg.current_facts),
        "ntriples_lines": (False, kg.ntriples_lines),
        "constraint_violations": (False, lambda t, **k: kg.constraint_violations(t, rules(t), **k)),
        "decayed_fact_scores": (True, kg.decayed_fact_scores),
        "inverse_predicates": (False, kg.inverse_predicates),
    }


@pytest.mark.parametrize("caller", sorted(_fact_callers()))
def test_fact_callers_ignore_names_and_null_rows(spark, caller):
    """Every caller of the shared fact prep gives the same rows on input
    with other column names (and decoy columns under the default names)
    that carries NULL subj, pred, obj and ts rows, as on the same rows
    cleaned beforehand under the default names."""
    uses_ts, fn = _fact_callers()[caller]
    raw = spark.createDataFrame(
        [(*r, "decoy", "decoy") for r in _FACT_ROWS],
        "u string, rel string, val string, t timestamp, subj string, pred string",
    )
    width = 4 if uses_ts else 3
    clean = spark.createDataFrame(
        [r for r in _FACT_ROWS if None not in r[:width]],
        "subj string, pred string, obj string, warc_ts timestamp",
    )
    names = dict(subj="u", pred="rel", obj="val") | ({"ts_col": "t"} if uses_ts else {})

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    want = rows(fn(clean))
    assert want
    assert rows(fn(raw, **names)) == want
