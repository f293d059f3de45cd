"""Salted two-phase aggregation."""

from pyspark.sql import functions as F

from dss_plugin_nlp_analysis_spark.operators.skew import salted_distinct_stats


def test_salted_stats_match_plain_aggregation(spark):
    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    got = {
        r["user_id"]: (r["n_rows"], r["n_distinct"])
        for r in salted_distinct_stats(ev, "user_id", "event_type").collect()
    }
    plain = {
        r["user_id"]: (r["n"], r["d"])
        for r in ev.groupBy("user_id")
        .agg(F.count("*").alias("n"), F.countDistinct("event_type").alias("d"))
        .collect()
    }
    assert got == plain


def test_salted_plan_has_two_aggregations(spark):
    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    plan = salted_distinct_stats(ev, "user_id", "event_type")._jdf.queryExecution().executedPlan().toString()
    # the salt column must appear in the first grouping
    assert "_salt" in plan
