"""End-to-end Spark parity tests mirroring the reference unit suite
(tests/python/unit/test_ontology_tagger.py) plus format semantics
(SEMANTICS.md §7). These are the P/R-bearing tests."""

import json

import pytest

from dss_plugin_nlp_analysis_spark.operators.ontology import TagOptions
from dss_plugin_nlp_analysis_spark.operators.tagger import tag_documents


def make_docs(spark, texts, langs=None):
    langs = langs or ["en"] * len(texts)
    return spark.createDataFrame(
        [(i, t, l) for i, (t, l) in enumerate(zip(texts, langs))],
        "doc_id long, text string, lang string",
    )


def make_ontology(spark, rows, with_category=False):
    schema = (
        "tag string, keyword string, category string"
        if with_category
        else "tag string, keyword string"
    )
    return spark.createDataFrame(rows, schema)


def run(spark, texts, onto_rows, with_category=False, fmt="one_row_per_match", **opts):
    docs = make_docs(spark, texts)
    onto = make_ontology(spark, onto_rows, with_category)
    return tag_documents(
        docs,
        onto,
        category_col="category" if with_category else None,
        output_format=fmt,
        options=TagOptions(**opts),
    ).orderBy("doc_id").collect()


def test_missing_keywords_dropped(spark):
    # test_ontology_tagger.py:12-28 — NaN/"" keyword rows never match
    rows = run(
        spark,
        ["this text contains keyword2 and nothing else"],
        [("tag1", None), ("tag2", "keyword2"), ("tag3", "")],
    )
    assert [r["tag"] for r in rows] == ["tag2"]


def test_empty_ontology_raises(spark):
    with pytest.raises(ValueError, match="No valid tags"):
        run(spark, ["text"], [("tag1", None), ("tag3", "")])


def test_missing_categories_become_uncategorized(spark):
    # test_ontology_tagger.py:30-41
    rows = run(
        spark,
        ["keyword1 and keyword2 appear"],
        [("tag1", "keyword1", ""), ("tag2", "keyword2", None)],
        with_category=True,
    )
    assert [r["tag_category"] for r in rows] == ["uncategorized", "uncategorized"]


def test_ignore_case_two_matches(spark):
    # test_ontology_tagger.py:83-109 — exactly 2 match rows
    rows = run(
        spark,
        ["I have my keyword in this sentence. I have an oTHer keyWord in the second sentence."],
        [("tag1", "My KeYword"), ("tag2", "other keyword")],
        ignore_case=True,
    )
    assert len(rows) == 2
    assert {r["tag"] for r in rows} == {"tag1", "tag2"}
    assert rows[0]["tag_keyword"] == "my keyword"  # surface from normalized sentence
    assert rows[0]["tag_sentence"] == "I have my keyword in this sentence."


def test_ignore_diacritics(spark):
    # test_ontology_tagger.py:112-130
    rows = run(
        spark,
        ["The keyword is AaeEuuoceiIian."],
        [("tag1", "ÄâêËùûôçèîÏìàñ")],
        ignore_diacritics=True,
    )
    assert len(rows) == 1
    assert rows[0]["tag"] == "tag1"
    assert rows[0]["tag_keyword"] == "AaeEuuoceiIian"


def test_emoji_matching(spark):
    # test_ontology_tagger.py:133-158
    rows = run(
        spark,
        ["I have an emoji 👍 in this sentence. I have an face emoji 👩🏾 in the second sentence."],
        [("👍", "👍"), ("👩", "👩🏾")],
    )
    assert len(rows) == 2
    assert [r["tag"] for r in rows] == ["👍", "👩"]


def test_no_match_yields_null_row(spark):
    # formatter_by_match.py:94-98 — docs without matches keep one NULL row
    rows = run(spark, ["nothing here", "the keyword appears"], [("t", "keyword")])
    assert len(rows) == 2
    assert rows[0]["tag"] is None and rows[0]["tag_keyword"] is None
    assert rows[1]["tag"] == "t"


def test_duplicate_rows_dedup_within_doc(spark):
    # base.py:107 drop_duplicates: same keyword twice in one sentence → 1 row
    rows = run(spark, ["keyword and keyword again"], [("t", "keyword")])
    assert len(rows) == 1


def test_duplicate_keyword_last_tag_wins_no_category(spark):
    # ontology_tagger.py:225-231 dict overwrite
    rows = run(spark, ["the keyword here"], [("first", "keyword"), ("second", "keyword")])
    assert [r["tag"] for r in rows] == ["second"]


def test_all_overlapping_matches_no_category(spark):
    # PhraseMatcher emits nested/overlapping matches (SEMANTICS §6)
    rows = run(
        spark,
        ["i love new york city"],
        [("NY", "new york"), ("NYC", "new york city"), ("Y", "york")],
    )
    assert sorted(r["tag"] for r in rows) == ["NY", "NYC", "Y"]


def test_leftmost_longest_with_category(spark):
    # EntityRuler keeps only the leftmost-longest span (SEMANTICS §6)
    rows = run(
        spark,
        ["i love new york city"],
        [("NY", "new york", "place"), ("NYC", "new york city", "place"), ("Y", "york", "place")],
        with_category=True,
    )
    assert [r["tag"] for r in rows] == ["NYC"]
    assert rows[0]["tag_category"] == "place"


def test_multi_sentence_provenance(spark):
    rows = run(
        spark,
        ["First has keyword one. Second has keyword two."],
        [("t1", "keyword one"), ("t2", "keyword two")],
    )
    assert rows[0]["tag_sentence"] == "First has keyword one."
    assert rows[1]["tag_sentence"] == "Second has keyword two."


def test_one_row_per_doc_format(spark):
    rows = run(
        spark,
        ["alpha here. beta there. alpha again.", "no match"],
        [("A", "alpha"), ("B", "beta")],
        fmt="one_row_per_doc",
    )
    r = rows[0]
    assert json.loads(r["tag_list"]) == ["A", "B"]
    assert json.loads(r["tag_keywords"]) == ["alpha", "beta"]
    assert r["tag_sentences"] == "alpha here.\nbeta there.\nalpha again.\n"
    assert rows[1]["tag_list"] is None and rows[1]["tag_sentences"] is None


def test_one_row_per_doc_category_format(spark):
    rows = run(
        spark,
        ["alpha here. beta there.", "no match"],
        [("A", "alpha", "catA"), ("B", "beta", "catB")],
        with_category=True,
        fmt="one_row_per_doc",
    )
    r = rows[0]
    assert json.loads(r["tag_list_catA"]) == ["A"]
    assert json.loads(r["tag_list_catB"]) == ["B"]
    assert json.loads(r["tag_keywords"]) == ["alpha", "beta"]
    # sentences: " ".join of (sentence + "\n") — SEMANTICS §7
    assert r["tag_sentences"] == "alpha here.\n beta there.\n"
    # no-match doc: per-category lists NULL, sentences empty string (wart)
    assert rows[1]["tag_list_catA"] is None
    assert rows[1]["tag_sentences"] == ""


def test_one_row_per_doc_json_format(spark):
    rows = run(
        spark,
        ["alpha here. alpha there.", "no match"],
        [("A", "alpha")],
        fmt="one_row_per_doc_json",
    )
    full = json.loads(rows[0]["tag_json_full"])
    assert full == {
        "A": {
            "count": 2,
            "sentences": ["alpha here.", "alpha there."],
            "keywords": ["alpha"],
        }
    }
    assert rows[1]["tag_json_full"] is None


def test_one_row_per_doc_json_category_format(spark):
    rows = run(
        spark,
        ["alpha here. beta there."],
        [("A", "alpha", "c1"), ("B", "beta", "c2")],
        with_category=True,
        fmt="one_row_per_doc_json",
    )
    cats = json.loads(rows[0]["tag_json_categories"])
    assert cats == {"c1": ["A"], "c2": ["B"]}
    full = json.loads(rows[0]["tag_json_full"])
    assert full["c1"]["A"]["count"] == 1
    assert full["c2"]["B"]["sentences"] == ["beta there."]


def test_lemmatization_en(spark):
    # matching on lemmas: 'worked' ~ 'work' (test_lemmatization.py golden)
    rows = run(
        spark,
        ["she worked hard"],
        [("W", "work")],
        lemmatization=True,
    )
    assert len(rows) == 1
    assert rows[0]["tag"] == "W"
    assert rows[0]["tag_keyword"] == "worked"  # surface form reported


def test_column_collision_suffix(spark):
    # cleaning_utils.py:60-92 — existing 'tag' column forces tag_1
    docs = spark.createDataFrame(
        [(0, "the keyword", "en", "preexisting")], "doc_id long, text string, lang string, tag string"
    )
    onto = make_ontology(spark, [("t", "keyword")])
    out = tag_documents(docs, onto)
    assert "tag_1" in out.columns and out.columns.count("tag") == 1
    # new columns placed right after the text column (cleaning_utils.py:95-117)
    assert out.columns[:3] == ["doc_id", "text", "tag_1"]


# Spark resolves names case-insensitively: an input `_TAGGED` against the
# temporary column, `TAG` against the output `tag`, and the categories
# `Place`/`place` against each other (`tag_list_Place`, `tag_list_place`)
@pytest.mark.parametrize(
    "name, categories",
    [("_tagged", None), ("_TAGGED", None), ("TAG", None), ("_tagged", ["Place", "place"])],
    ids=["_tagged", "_TAGGED", "TAG", "Place-place"],
)
@pytest.mark.parametrize("fmt", ["one_row_per_match", "one_row_per_doc", "one_row_per_doc_json"])
def test_input_column_named_like_the_temporary_column_survives(spark, fmt, name, categories):
    docs = spark.createDataFrame(
        [(0, "the keyword and another", "en", "kept"), (1, "nothing", "en", None)],
        f"doc_id long, text string, lang string, {name} string",
    )
    if categories:
        onto = make_ontology(
            spark, [("t", "keyword", categories[0]), ("u", "another", categories[1])], True
        )
    else:
        onto = make_ontology(spark, [("t", "keyword")])
    out = tag_documents(
        docs, onto, output_format=fmt, category_col="category" if categories else None
    )
    assert out.columns.count(name) == 1
    assert len({c.lower() for c in out.columns}) == len(out.columns), out.columns
    rows = out.collect()
    assert {r["doc_id"]: r[name] for r in rows} == {0: "kept", 1: None}
    assert sum(v is not None for r in rows for v in r[4:]) > 0


def test_multilingual_dispatch(spark):
    docs = make_docs(
        spark,
        ["the merge keyword", "d'automne feuilles"],
        langs=["en", "fr"],
    )
    onto = make_ontology(spark, [("M", "merge"), ("AUT", "automne")])
    rows = tag_documents(docs, onto).orderBy("doc_id").collect()
    assert rows[0]["tag"] == "M"
    assert rows[1]["tag"] == "AUT"  # matched via fr elision d' + automne


def test_one_row_per_doc_repeated_sentence_text(spark):
    # two sentences with identical text, both matching: without categories
    # sentences dedup by position (the text repeats), with categories by
    # text (it appears once) — formatter_by_document.py:54-86 vs 143-222
    text = ["alpha here. alpha here."]
    plain = run(spark, text, [("A", "alpha")], fmt="one_row_per_doc")
    assert plain[0]["tag_sentences"] == "alpha here.\nalpha here.\n"
    cat = run(spark, text, [("A", "alpha", "c")], with_category=True, fmt="one_row_per_doc")
    assert cat[0]["tag_sentences"] == "alpha here.\n"


# tags, keywords and categories carrying a quote, a backslash, a control
# character, U+2028 and CJK; the expected cells are the bytes the former
# higher-order-function formatter produced for these documents
_NASTY_TEXTS = [
    'He said a"b here. Then c\\d there.',
    "x\x01y and 東京 station. 東京 again.",
    'plain a"b and x\x01y.',
    "nothing matches",
]
_NASTY_ONTOLOGY = [
    ('q"uote', 'a"b', 'c"at'),
    ("back\\slash", "c\\d", "c\\at"),
    ("ctl\x01tag", "x\x01y", 'c"at'),
    ("東京\u2028tag", "東京", "分類"),
]


def test_one_row_per_doc_escapes_byte_exact(spark):
    rows = run(spark, _NASTY_TEXTS, [r[:2] for r in _NASTY_ONTOLOGY], fmt="one_row_per_doc")
    got = [(r["tag_list"], r["tag_keywords"], r["tag_sentences"]) for r in rows]
    assert got == [
        ('["q\\"uote","back\\\\slash"]', '["a\\"b","c\\\\d"]',
         'He said a"b here.\nThen c\\d there.\n'),
        ('["ctl\\u0001tag","東京\u2028tag"]', '["x\\u0001y","東京"]',
         "x\x01y and 東京 station.\n東京 again.\n"),
        ('["q\\"uote","ctl\\u0001tag"]', '["a\\"b","x\\u0001y"]',
         'plain a"b and x\x01y.\n'),
        (None, None, None),
    ]


def test_one_row_per_doc_category_escapes_byte_exact(spark):
    rows = run(spark, _NASTY_TEXTS, _NASTY_ONTOLOGY, with_category=True, fmt="one_row_per_doc")
    cols = ['tag_list_c"at', "tag_list_c\\at", "tag_list_分類",
            "tag_keywords", "tag_sentences"]
    got = [tuple(r[c] for c in cols) for r in rows]
    assert got == [
        ('["q\\"uote"]', '["back\\\\slash"]', None, '["a\\"b","c\\\\d"]',
         'He said a"b here.\n Then c\\d there.\n'),
        ('["ctl\\u0001tag"]', None, '["東京\u2028tag"]', '["x\\u0001y","東京"]',
         "x\x01y and 東京 station.\n 東京 again.\n"),
        ('["q\\"uote","ctl\\u0001tag"]', None, None, '["a\\"b","x\\u0001y"]',
         'plain a"b and x\x01y.\n'),
        (None, None, None, None, ""),
    ]
