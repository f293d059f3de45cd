"""Hypothesis fuzz: kernel invariants on arbitrary unicode (web corpora
contain garbage; the extraction kernel must never crash and must keep its
offset/coverage invariants)."""

from hypothesis import given, settings, strategies as st

from dss_plugin_nlp_analysis_spark.functions.sentencizer import (
    sentence_token_spans,
    split_sentences,
)
from dss_plugin_nlp_analysis_spark.functions.textnorm import clean_linebreaks, normalize_text
from dss_plugin_nlp_analysis_spark.functions.langsupport import SUPPORTED_LANGUAGES
from dss_plugin_nlp_analysis_spark.functions.tokenizer import tokenize_raw
from dss_plugin_nlp_analysis_spark.operators import tagger
from dss_plugin_nlp_analysis_spark.operators.ontology import TagOptions, compile_ontology
from dss_plugin_nlp_analysis_spark.operators.tagger import process_document

TEXT = st.text(max_size=300)
LANG = st.sampled_from(["en", "fr", "zh", "de", "ja", "th"])


@given(TEXT, LANG)
@settings(max_examples=300, deadline=None)
def test_tokenize_offsets_and_coverage(text, lang):
    toks = tokenize_raw(text, lang)
    prev_end = 0
    for t in toks:
        assert text[t[1]:t[2]] == t[0]
        assert t[1] >= prev_end  # ordered, non-overlapping
        prev_end = t[2]
    # every non-space char is covered by some token
    covered = [False] * len(text)
    for t in toks:
        for i in range(t[1], t[2]):
            covered[i] = True
    for i, ch in enumerate(text):
        if not ch.isspace():
            assert covered[i], (i, ch, text)


@given(TEXT, LANG)
@settings(max_examples=200, deadline=None)
def test_sentences_are_substrings(text, lang):
    clean = clean_linebreaks(text)
    for s in split_sentences(clean, lang):
        assert s in clean
        assert s == s.rstrip() or s.strip() == ""  # no trailing whitespace


@given(TEXT, st.booleans(), st.booleans(), st.booleans())
@settings(max_examples=200, deadline=None)
def test_normalize_never_crashes(text, ic, lem, dia):
    out = normalize_text(text, ignore_case=ic, lemmatization=lem, ignore_diacritics=dia)
    assert isinstance(out, str)


_COMPILED = compile_ontology(
    [("t1", "alpha beta", None), ("t2", "γάμμα", None), ("t3", "1.1.1.1", None)],
    ["en", "zh"],
    TagOptions(ignore_case=True, ignore_diacritics=True),
    False,
)


@given(st.one_of(st.none(), TEXT), st.sampled_from(["en", "zh"]))
@settings(max_examples=300, deadline=None)
def test_process_document_total(text, lang):
    sentences, matches = process_document(_COMPILED, text, lang)
    for m in matches:
        assert 0 <= m["sent_idx"] < len(sentences)
        assert m["tag"] in ("t1", "t2", "t3")
        assert m["keyword"]


_ALNUM = "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789"
PLAIN_WORDS = st.lists(
    st.text(alphabet=_ALNUM, min_size=1, max_size=12), min_size=1, max_size=30
).map(" ".join)


@given(PLAIN_WORDS)
@settings(max_examples=300, deadline=None)
def test_screened_document_word_tokens_equal_tokenizer(text):
    # a document that passes the plain-words screen skips the tokenizer and
    # the sentencizer: its space split must be what they would produce
    assert tagger._FAST_WORDS_RE.fullmatch(text)
    assert tagger._FAST_WORDS_LOWER_RE.fullmatch(text.lower())
    words = tagger._word_tokens(text)
    for lang in sorted(SUPPORTED_LANGUAGES):
        toks = tokenize_raw(text, lang)
        assert words == toks, lang
        assert sentence_token_spans(toks) == [(0, len(toks))], lang
