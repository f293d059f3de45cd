"""Token classifier (T4; reference spacy_tokenizer.py:30-98)."""


def test_classify_column(spark):
    from pyspark.sql import functions as F

    from dss_plugin_nlp_analysis_spark.functions.tokclass import classify_token_col

    want = {
        "#tag": "hashtag", "OMG": "word", "@bob": "username", "bob": "word",
        "2024-01-01": "datetime", "12:30": "datetime", "12345": "word",
        "10km": "measure", "3.5kg": "measure", "10x": "word",
        "$": "symbol", "©": "symbol", "a$": "word", "\n": "space",
        "word": "word",
    }
    df = spark.createDataFrame([(t,) for t in want], "tok string")
    got = {r["tok"]: r["cls"] for r in df.select("tok", classify_token_col(F.col("tok")).alias("cls")).collect()}
    assert got == want
