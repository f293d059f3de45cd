"""Tokenizer parity tests (SEMANTICS.md §3).

Pinned cases from reference tests: test_ontology_tagger.py:43-65 (N.Y,
1.1.1.1), :133-158 (emoji), test_spacy_tokenizer.py:15-21 (counts incl.
hashtag/emoji), spacy_tokenizer.py:316-327 (hashtag token).
"""

from dss_plugin_nlp_analysis_spark.functions.tokenizer import tokenize_raw


def texts(s, lang="en"):
    return [t[0] for t in tokenize_raw(s, lang)]


def test_simple_sentence_tokens():
    assert texts("I hope nothing. I fear nothing. I am free.") == [
        "I", "hope", "nothing", ".", "I", "fear", "nothing", ".", "I", "am", "free", ".",
    ]


def test_emoji_and_hashtag_counts():
    # reference golden: 15 tokens (test_spacy_tokenizer.py:15-20)
    toks = texts("I hope nothing. I fear nothing. I am free. 💩 😂 #OMG")
    assert toks[-3:] == ["💩", "😂", "#OMG"]
    assert len(toks) == 15


def test_punctuated_units_stay_whole():
    assert texts("N.Y") == ["N.Y"]
    assert texts("1.1.1.1") == ["1.1.1.1"]
    assert texts("The N.Y subway.") == ["The", "N.Y", "subway", "."]


def test_emoji_with_modifier_single_token():
    assert texts("emoji 👩🏾 here") == ["emoji", "👩🏾", "here"]


def test_emoji_adjacent_to_word_splits():
    assert texts("nice👍job") == ["nice", "👍", "job"]


def test_offsets_roundtrip():
    s = "Hello, world! (test)"
    for t in tokenize_raw(s):
        assert s[t[1]:t[2]] == t[0]


def test_newline_is_space_token():
    toks = tokenize_raw("a\nb")
    assert [t[0] for t in toks] == ["a", "\n", "b"]
    assert toks[1][3]


def test_single_space_absorbed_double_space_token():
    assert [t[0] for t in tokenize_raw("a b")] == ["a", "b"]
    assert [t[0] for t in tokenize_raw("a  b")] == ["a", "  ", "b"]


def test_english_clitics():
    assert texts("don't") == ["do", "n't"]
    assert texts("it's") == ["it", "'s"]


def test_french_elision():
    assert texts("d'automne", lang="fr") == ["d'", "automne"]
    # English keeps it whole-ish (clitic rule only)
    assert texts("d'automne", lang="en") == ["d'automne"]


def test_chinese_char_level():
    toks = texts("子曰：“學而不思則罔，思而不學則殆。”", lang="zh")
    assert len(toks) == 19
    assert toks[0] == "子"


def test_hyphen_infix():
    assert texts("well-known") == ["well", "-", "known"]


def test_brackets_and_quotes():
    assert texts('("quoted")') == ["(", '"', "quoted", '"', ")"]


def test_url_and_email_whole():
    assert texts("see https://example.com/x?y=1 now") == ["see", "https://example.com/x?y=1", "now"]
    assert texts("mail a@b.com today") == ["mail", "a@b.com", "today"]
