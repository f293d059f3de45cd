"""Native Catalyst clean_linebreaks_col vs the Python kernel: equivalence
on the web-text linebreak classes (\\r\\n, \\r, \\n)."""

import pytest

from dss_plugin_nlp_analysis_spark.functions.textnorm import clean_linebreaks
from dss_plugin_nlp_analysis_spark.operators.textprep import clean_linebreaks_col

CASES = [
    "plain text",
    "a\nb",
    "a\r\nb\rc",
    "  padded  \n\n  lines  ",
    "a\n  \nb",          # space-only line wart
    "\n\nleading",
    "trailing\n\n",
    "",
    None,
]


@pytest.mark.parametrize("case", CASES)
def test_native_equals_kernel(spark, case):
    df = spark.createDataFrame([(case,)], "text string")
    from pyspark.sql import functions as F

    got = df.select(clean_linebreaks_col(F.col("text")).alias("c")).collect()[0]["c"]
    assert got == clean_linebreaks(case)


def test_native_is_codegen_not_udf(spark):
    from pyspark.sql import functions as F

    df = spark.createDataFrame([("a\nb",)], "text string")
    plan = df.select(clean_linebreaks_col(F.col("text"))).queryExecution if False else None
    explained = df.select(clean_linebreaks_col(F.col("text")))._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in explained and "ArrowEvalPython" not in explained


def test_native_equals_kernel_random_batch(spark):
    # randomized equivalence over the \r\n/\r/\n classes, one Spark job
    import random

    rng = random.Random(7)
    pieces = ["a", "bb", " ", "  ", "\r", "\n", "\r\n", "\t", "x y", ""]
    cases = [
        "".join(rng.choice(pieces) for _ in range(rng.randrange(0, 12)))
        for _ in range(60)
    ]
    from pyspark.sql import functions as F

    df = spark.createDataFrame([(c,) for c in cases], "text string")
    got = [r["c"] for r in df.select(clean_linebreaks_col(F.col("text")).alias("c")).collect()]
    expected = [clean_linebreaks(c) for c in cases]
    assert got == expected


def test_chunk_documents_contract(spark):
    from dss_plugin_nlp_analysis_spark.operators.textprep import chunk_documents

    df = spark.createDataFrame(
        [(1, "a b c d e f g"), (2, "x"), (3, ""), (4, None)],
        "doc_id long, text string",
    )
    rows = [
        tuple(r)
        for r in chunk_documents(df, "doc_id", "text", chunk_tokens=3, overlap=1)
        .orderBy("id", "chunk_idx").collect()
    ]
    # starts 0,2,4,6 over 7 tokens; last chunk short; empty/NULL: no rows
    assert rows == [
        (1, 0, "a b c", 3), (1, 1, "c d e", 3), (1, 2, "e f g", 3),
        (1, 3, "g", 1), (2, 0, "x", 1),
    ]
    import pytest as _pytest
    with _pytest.raises(ValueError):
        chunk_documents(df, "doc_id", "text", chunk_tokens=3, overlap=3)
    # chunking is a map: no shuffle at any corpus size
    plan = (
        chunk_documents(df, "doc_id", "text")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan
