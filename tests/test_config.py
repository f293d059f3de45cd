"""Job parameter checks of ``tag_documents`` (S6) + table IO (S1/S4) +
tagging column metadata (S5) + lemmatization golden pairs (reference
test_lemmatization.py)."""

import pytest

from dss_plugin_nlp_analysis_spark.operators.ontology import TagOptions


@pytest.fixture()
def frames(spark):
    docs = spark.createDataFrame(
        [(0, "the keyword here", "en")], "doc_id long, text string, lang string"
    )
    onto = spark.createDataFrame([("t", "keyword")], "tag string, keyword string")
    return docs, onto


def test_unsupported_language(frames):
    from dss_plugin_nlp_analysis_spark.operators.tagger import tag_documents

    docs, onto = frames
    with pytest.raises(ValueError, match="Unsupported language"):
        tag_documents(docs, onto, lang_col=None, language="xx")


def test_bad_output_format(frames):
    from dss_plugin_nlp_analysis_spark.operators.tagger import tag_documents

    docs, onto = frames
    with pytest.raises(ValueError, match="output_format 'three_rows'"):
        tag_documents(docs, onto, output_format="three_rows")


def test_catalog_roundtrip(spark, tmp_path):
    from dss_plugin_nlp_analysis_spark.sources.catalog import read_table, write_table

    df = spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string")
    loc = str(tmp_path / "tbl")
    write_table(df, loc, partition_by=["v"])
    got = read_table(spark, loc)
    assert got.count() == 2 and set(got.columns) == {"id", "v"}


# reference golden lemma pairs (test_lemmatization.py:10-41) through our
# keyword compilation path; identity-languages included
GOLDEN = [
    ("worked", "en", "work"),
    ("trabajó", "es", "trabajar"),
    ("travaillé", "fr", "travailler"),
    ("hat funktioniert", "de", "haben funktionieren"),
    ("работал", "ru", "работать"),
    ("zadziałało", "pl", "zadziałać"),
    ("treballat", "ca", "treballar"),
    ("pracoval", "cs", "pracovat"),
    ("arbejdede", "da", "arbejde"),
    ("radio", "hr", "raditi"),
    ("dolgozott", "hu", "dolgozik"),
    ("bekerja", "id", "kerja"),
    ("lavorato", "it", "lavorare"),
    ("geschafft", "lb", "schaffen"),
    ("dirbo", "lt", "dirbti"),
    ("trabalhado", "pt", "trabalhar"),
    ("a lucrat", "ro", "avea lucra"),
    ("радио", "sr", "радити"),
    ("çalıştı", "tr", "çalış"),
    ("работел", "mk", "работел"),
    ("werkte", "nl", "werkte"),
    ("arbetade", "sv", "arbeta"),
    ("jobbet", "nb", "jobbet"),
    ("nagtrabaho", "tl", "nagtrabaho"),
    # remaining reference goldens (test_lemmatization.py:32-35): ur is a
    # real non-identity diacritization; bn/el/fa are identity
    ("کام کیا", "ur", "کام کَیا"),
    ("কাজ করছে", "bn", "কাজ করছে"),
    ("δούλεψε", "el", "δούλεψε"),
    ("کار کرد", "fa", "کار کرد"),
]


@pytest.mark.parametrize("keyword,language,lemma", GOLDEN)
def test_lemma_goldens(keyword, language, lemma):
    from dss_plugin_nlp_analysis_spark.functions.lemmas import lemma_table
    from dss_plugin_nlp_analysis_spark.operators.ontology import keyword_match_tokens

    toks = keyword_match_tokens(
        keyword, language, TagOptions(lemmatization=True), lemma_table(language)
    )
    assert " ".join(toks) == lemma


def test_tagging_output_column_descriptions(spark):
    # S5: new columns carry their human description as metadata
    from dss_plugin_nlp_analysis_spark.operators.tagger import tag_documents

    docs = spark.createDataFrame(
        [(0, "the keyword here", "en")], "doc_id long, text string, lang string"
    )
    onto = spark.createDataFrame([("t", "keyword")], "tag string, keyword string")
    out = tag_documents(docs, onto)
    meta = {f.name: f.metadata for f in out.schema.fields}
    assert meta["tag"]["comment"] == "Assigned tag"
    assert meta["tag_keyword"]["comment"] == "Matched keyword"
    assert meta["tag_sentence"]["comment"] == "Sentence containing the matched keyword"
