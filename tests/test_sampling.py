"""Deterministic sampling operators (operators/sampling.py)."""

import pytest
from pyspark.sql import functions as F

from dss_plugin_nlp_analysis_spark.operators.sampling import stratified_sample


def _sample(df, fraction, seed=""):
    """One stratum: every row is kept with ``default_fraction``."""
    one = df.withColumn("stratum", F.lit("all"))
    return stratified_sample(one, "doc_id", "stratum", {}, default_fraction=fraction, seed=seed)


def test_deterministic_sample_reproducible_and_partition_stable(spark):
    df = spark.range(2000).withColumnRenamed("id", "doc_id")
    a = {r["doc_id"] for r in _sample(df, 0.3, seed="s").collect()}
    b = {r["doc_id"] for r in _sample(df.repartition(7), 0.3, seed="s").collect()}
    assert a == b                      # stable under repartitioning
    assert 0.2 < len(a) / 2000 < 0.4   # ~fraction
    # different seeds give (near-)independent samples
    c = {r["doc_id"] for r in _sample(df, 0.3, seed="t").collect()}
    assert a != c
    # nested property: a 0.1 sample is a subset of the 0.3 sample (same seed)
    d = {r["doc_id"] for r in _sample(df, 0.1, seed="s").collect()}
    assert d <= a


def test_deterministic_sample_fraction_bounds(spark):
    df = spark.range(10).withColumnRenamed("id", "doc_id")
    with pytest.raises(ValueError):
        _sample(df, 1.5)
    assert _sample(df, 0.0).count() == 0
    assert _sample(df, 1.0).count() == 10


def test_stratified_sample_per_stratum_and_null(spark):
    rows = [(i, "en" if i % 3 == 0 else ("de" if i % 3 == 1 else None))
            for i in range(3000)]
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    out = stratified_sample(df, "doc_id", "lang", {"en": 0.1}, default_fraction=1.0)
    got = out.groupBy("lang").count().collect()
    by = {r["lang"]: r["count"] for r in got}
    assert by[None] == 1000 and by["de"] == 1000      # default keeps all, incl. NULL
    assert 50 < by.get("en", 0) < 200                  # ~10% of 1000
    # pure map: no shuffle
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_group_capped_sample_exact_min_k(spark):
    from dss_plugin_nlp_analysis_spark.operators.sampling import (
        group_capped_sample,
        sample_hash,
    )
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(i, "g%d" % (i % 3)) for i in range(90)], "id long, lang string"
    ).repartition(7)
    out = group_capped_sample(df, "id", "lang", cap=5, seed="t")
    rows = [(r["lang"], r["id"], r["h"]) for r in out.collect()]
    assert len(rows) == 15  # 3 groups x cap
    # exact global min-k per group, verified against a full sort
    ref = df.select(
        "lang", "id", sample_hash(F.col("id"), "t").alias("h")
    ).collect()
    by_group = {}
    for r in ref:
        by_group.setdefault(r["lang"], []).append((r["h"], r["id"]))
    expected = {
        (g, i, h)
        for g, pairs in by_group.items()
        for h, i in sorted(pairs)[:5]
    }
    assert set(rows) == expected
    # deterministic across runs and repartitionings
    again = set(
        (r["lang"], r["id"], r["h"])
        for r in group_capped_sample(
            df.repartition(3), "id", "lang", cap=5, seed="t"
        ).collect()
    )
    assert again == expected


def test_group_capped_sample_small_groups_kept_whole(spark):
    from dss_plugin_nlp_analysis_spark.operators.sampling import (
        group_capped_sample,
    )

    df = spark.createDataFrame(
        [(1, "a"), (2, "a"), (3, "b")], "id long, lang string"
    )
    out = group_capped_sample(df, "id", "lang", cap=10)
    assert out.count() == 3  # groups under the cap pass through whole


def test_group_capped_sample_rejects_bad_cap(spark):
    import pytest

    from dss_plugin_nlp_analysis_spark.operators.sampling import (
        group_capped_sample,
    )

    df = spark.createDataFrame([(1, "a")], "id long, lang string")
    with pytest.raises(ValueError):
        group_capped_sample(df, "id", "lang", cap=0)
