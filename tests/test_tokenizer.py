"""Tokenizer parity tests (SEMANTICS.md §3).

Pinned cases from reference tests: test_ontology_tagger.py:43-65 (N.Y,
1.1.1.1), :133-158 (emoji), test_spacy_tokenizer.py:15-21 (counts incl.
hashtag/emoji), spacy_tokenizer.py:316-327 (hashtag token).

The chunk scan (one compiled regex for CJK, emoji and word runs; affix
stripping by index) is pinned token for token against its former
per-character implementation, kept here as the reference.
"""

import re
import time

from hypothesis import example, given, settings, strategies as st

import dss_plugin_nlp_analysis_spark.functions.tokenizer as tok
from dss_plugin_nlp_analysis_spark.functions.tokenizer import tokenize_raw
from tests.pr_corpus import SCENARIOS


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


# --- the former per-character chunk scan, kept as the reference ---------

_REF_CJK_RANGES = (
    (0x1100, 0x11FF), (0x2E80, 0x2EFF), (0x3000, 0x303F), (0x3040, 0x30FF),
    (0x3130, 0x318F), (0x3400, 0x4DBF), (0x4E00, 0x9FFF), (0xAC00, 0xD7AF),
    (0xF900, 0xFAFF), (0xFF00, 0xFFEF), (0x0E00, 0x0E7F),
)
_REF_EMOJI_RANGES = (
    (0x1F000, 0x1FAFF), (0x2600, 0x27BF), (0x2B00, 0x2BFF), (0x1F900, 0x1F9FF),
    (0xFE00, 0xFE0F),
)
_REF_MODIFIERS = frozenset(list(range(0x1F3FB, 0x1F400)) + [0xFE0F, 0xFE0E, 0x20E3])
_REF_ZWJ = 0x200D
_REF_REGIONAL = (0x1F1E6, 0x1F1FF)
_REF_ELLIPSIS_RE = re.compile(r"\.{2,}$")


def _ref_in(ch, ranges):
    cp = ord(ch)
    return any(lo <= cp <= hi for lo, hi in ranges)


def reference_split_core(core, base, lang, out):
    i, n = 0, len(core)
    run_start = -1
    while i < n:
        ch = core[i]
        if _ref_in(ch, _REF_CJK_RANGES):
            if run_start >= 0:
                tok._split_word_run(core[run_start:i], base + run_start, lang, out)
                run_start = -1
            j = i + 1
            while j < n and _ref_in(core[j], _REF_CJK_RANGES):
                j += 1
            tok._emit_cjk_run(core[i:j], base + i, lang, out)
            i = j
        elif _ref_in(ch, _REF_EMOJI_RANGES):
            if run_start >= 0:
                tok._split_word_run(core[run_start:i], base + run_start, lang, out)
                run_start = -1
            j = i + 1
            while j < n:
                cp = ord(core[j])
                if cp in _REF_MODIFIERS or (
                    _REF_REGIONAL[0] <= cp <= _REF_REGIONAL[1] and i == j - 1
                ):
                    j += 1
                elif cp == _REF_ZWJ and j + 1 < n and _ref_in(core[j + 1], _REF_EMOJI_RANGES):
                    j += 2
                else:
                    break
            out.append((core[i:j], base + i, base + j, False))
            i = j
        else:
            if run_start < 0:
                run_start = i
            i += 1
    if run_start >= 0:
        tok._split_word_run(core[run_start:], base + run_start, lang, out)


def reference_refine_chunk(chunk, base, lang, out):
    if tok._TOKEN_MATCH_RE.match(chunk):
        out.append((chunk, base, base + len(chunk), False))
        return
    start, end = 0, len(chunk)
    prefix_tokens = []
    while end - start > 1 and chunk[start] in tok._OPEN_PUNCT:
        if chunk[start] in "#@" and tok._TOKEN_MATCH_RE.match(chunk[start:end]):
            break
        prefix_tokens.append((chunk[start], base + start, base + start + 1, False))
        start += 1
    suffix_tokens = []
    while end - start > 1:
        seg = chunk[start:end]
        m = _REF_ELLIPSIS_RE.search(seg)
        if m and m.start() > 0:
            s = start + m.start()
            suffix_tokens.append((seg[m.start():], base + s, base + end, False))
            end = s
        elif chunk[end - 1] in tok._CLOSE_PUNCT:
            suffix_tokens.append((chunk[end - 1], base + end - 1, base + end, False))
            end -= 1
        elif chunk[end - 1] == "." and "." not in chunk[start:end - 1]:
            suffix_tokens.append((".", base + end - 1, base + end, False))
            end -= 1
        else:
            break
    core = chunk[start:end]
    out.extend(prefix_tokens)
    if tok._TOKEN_MATCH_RE.match(core):
        out.append((core, base + start, base + end, False))
    elif core:
        reference_split_core(core, base + start, lang, out)
    out.extend(reversed(suffix_tokens))


def reference_tokens(text, lang):
    """The reference's non-space tokens of ``text``."""
    out = []
    for m in re.finditer(r"\S+", text):
        reference_refine_chunk(m[0], m.start(), lang, out)
    return out


def word_tokens(text, lang):
    return [t for t in tokenize_raw(text, lang) if not t[3]]


# Each class range's endpoints +-1, the joiners and modifiers, and the
# chars the word and affix rules key on.
_BOUNDARY_RANGES = _REF_CJK_RANGES + _REF_EMOJI_RANGES + (
    (0x1F3FB, 0x1F3FF), _REF_REGIONAL,
)
_BOUNDARY_CHARS = sorted({
    chr(cp) for lo, hi in _BOUNDARY_RANGES for cp in (lo - 1, lo, lo + 1, hi - 1, hi, hi + 1)
})
_EMOJI_PARTS = [
    chr(cp) for cp in (
        0x200D, 0x20E3, 0xFE0E, 0xFE0F, 0x1F1E6, 0x1F1E7, 0x1F1FE, 0x1F1FF,
        0x1F3FB, 0x1F3FF, 0x1F44D, 0x1F469, 0x1F4BB, 0x2764,
    )
]
_WORD_CHARS = (
    list("abzXY09") + ["\u00e9", "\u0301", "\u0130", "\u00df"]
    + list("'\u2019-\u2013\u2014.#@ \n")
    + sorted(tok._OPEN_PUNCT | tok._CLOSE_PUNCT)
    + list("\u6211\u4eec\u7814\u7a76\u751f\u547d\u0e1c\u0e21\u305d\u3046")
)
_CHUNK_TEXT = st.text(
    alphabet=st.one_of(
        st.sampled_from(_BOUNDARY_CHARS), st.sampled_from(_EMOJI_PARTS),
        st.sampled_from(_WORD_CHARS),
    ),
    max_size=24,
)
_LANGS = ("en", "fr", "zh", "ja", "th")


@settings(max_examples=600, deadline=None)
@given(_CHUNK_TEXT)
@example("\U0001F1EB\U0001F1F7\U0001F1E9\U0001F1EA")       # two flags in a row
@example("\U0001F44D\U0001F3FD\U0001F1EB")                   # regional after a modifier
@example("\U0001F469\u200d\U0001F4BB\U0001F1EB")            # regional after ZWJ+emoji
@example("1\ufe0f\u20e3a..b.)...!")
def test_chunk_scan_equals_reference(text):
    for lang in _LANGS:
        assert word_tokens(text, lang) == reference_tokens(text, lang), lang


def test_pr_corpus_equals_reference():
    for sc in SCENARIOS:
        for _url, text, doc_lang in sc.docs:
            for lang in {doc_lang, *_LANGS}:
                assert word_tokens(text, lang) == reference_tokens(text, lang), (sc.name, lang)


def test_flags_and_modifiers():
    assert texts("\U0001F1EB\U0001F1F7\U0001F1E9\U0001F1EA") == [
        "\U0001F1EB\U0001F1F7", "\U0001F1E9\U0001F1EA",
    ]
    assert texts("\U0001F469\u200d\U0001F4BB!") == ["\U0001F469\u200d\U0001F4BB", "!"]


# --- affix stripping is linear in the chunk -----------------------------

def _timed_count(text):
    t0 = time.perf_counter()
    n = len(tokenize_raw(text))
    return n, time.perf_counter() - t0


def test_long_close_punct_run_is_linear():
    n, wall = _timed_count("a" + ")" * 200_000)
    assert wall < 5.0
    assert n == 200_001


def test_long_dot_runs_are_linear():
    n, wall = _timed_count("a" + "." * 200_000 + "b.")
    assert wall < 5.0
    assert n == 1  # a lone final dot stays when the core has another dot
    n, wall = _timed_count("a" + "." * 200_000)
    assert wall < 5.0
    assert n == 2  # the dot run is one ellipsis token


def test_long_open_punct_runs_are_linear():
    n, wall = _timed_count("@" * 200_000)
    assert wall < 5.0
    assert n == 200_000
    n, wall = _timed_count("#" * 200_000 + "tag")
    assert wall < 5.0
    assert n == 200_000  # the last # starts the hashtag token
    n, wall = _timed_count("(" * 200_000 + "a" + "!" * 200_000)
    assert wall < 5.0
    assert n == 400_001
