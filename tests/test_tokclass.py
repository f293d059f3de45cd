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


EMOJI_CASES = {
    "👍": "emoji", "🇫🇷": "emoji", "👍🏽": "emoji", "👨‍👩‍👧": "emoji",
    "☕": "emoji", "a👍": "word", "#tag": "hashtag", "©": "symbol",
}


def test_emoji_class_spark_and_oracle_agree(spark):
    """The Spark column and the token_classes oracle CASE classify the
    same tokens alike, emoji sequences (flags, skin tones, ZWJ) included."""
    import duckdb
    from pyspark.sql import functions as F

    import __spark_entry__ as entry_mod
    from dss_plugin_nlp_analysis_spark.functions.tokclass import classify_token_col

    df = spark.createDataFrame([(t,) for t in EMOJI_CASES], "tok string")
    got = {r["tok"]: r["cls"] for r in df.select("tok", classify_token_col(F.col("tok")).alias("cls")).collect()}
    assert got == EMOJI_CASES

    sql = entry_mod.oracle_sql()["token_classes"]
    con = duckdb.connect()
    oracle = {}
    for tok in EMOJI_CASES:
        con.execute("CREATE OR REPLACE TABLE documents AS SELECT ? AS text", [tok])
        ((cls, n),) = con.sql(sql).fetchall()
        assert n == 1
        oracle[tok] = cls
    assert oracle == EMOJI_CASES
