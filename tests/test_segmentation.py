"""Dictionary segmentation for no-space scripts (zh/ja/th) — parity with
the reference's spaCy-extras segmenters on its own goldens
(tests/python/unit/test_spacy_tokenizer.py), plus the end-to-end payoff:
multi-character CJK ontology keywords now match as token sequences."""

import pytest

from dss_plugin_nlp_analysis_spark.functions.tokenizer import tokenize_raw


def texts(s, lang):
    return [t[0] for t in tokenize_raw(s, lang)]


def test_japanese_reference_golden_token_count():
    # reference: sudachipy via spaCy ja gives 9 tokens
    # (test_spacy_tokenizer.py:24-29)
    toks = texts("期一会。 異体同心。 そうです。", "ja")
    assert toks == ["期", "一会", "。", "異体", "同心", "。", "そう", "です", "。"]
    assert len(toks) == 9


def test_classical_chinese_stays_char_level():
    # reference: jieba gives 19 tokens on the classical-zh golden
    # (test_spacy_tokenizer.py:33-47) — all single chars + punctuation
    toks = texts("子曰：“學而不思則罔，思而不學則殆。”", "zh")
    assert len(toks) == 19


def test_modern_chinese_dictionary_words():
    toks = texts("我们在北京研究人工智能和互联网技术。", "zh")
    assert toks == ["我们", "在", "北京", "研究", "人工智能", "和", "互联网", "技术", "。"]


def test_thai_dictionary_words():
    toks = texts("ผมชอบกินข้าว", "th")
    assert toks == ["ผม", "ชอบ", "กิน", "ข้าว"]


def test_lattice_beats_greedy_fmm_on_ambiguous_boundary():
    # the classic zh garden path: greedy forward-maximum-matching commits
    # to 研究生 (graduate student) and strands 命; the unigram lattice
    # picks 研究|生命 (research | life) because f(研究)·f(生命) ≫
    # f(研究生)·f(命) — the case jieba resolves with exactly this model
    assert texts("研究生命的起源", "zh") == ["研究", "生命", "的", "起源"]
    # the greedy word is still produced when it IS the right reading
    assert texts("他是研究生", "zh")[-1] == "研究生"
    # same family, opposite resolution: here the two-word reading
    # 大学生|命名 beats 大学|生命|名 (three units, one an OOV char) —
    # the lattice's fewer-words preference, which FMM gets right only by
    # luck of the greedy first match
    assert texts("大学生命名", "zh") == ["大学生", "命名"]


def test_user_dictionary_frequencies_reweight_the_lattice(tmp_path, monkeypatch):
    # jieba "word freq" format: a user dict with inverted counts flips the
    # ambiguous split — proof the lattice consumes real counts, not just
    # word presence
    import dss_plugin_nlp_analysis_spark.functions.tokenizer as tok

    (tmp_path / "zh_words.txt").write_text(
        "研究生 900000\n命的 800000\n", encoding="utf-8"
    )
    monkeypatch.setenv("KG_SEGMENT_DICT_DIR", str(tmp_path))
    # swap in a fresh cache for the test; monkeypatch restores the
    # original (built without the user dict) afterwards
    monkeypatch.setattr(tok, "_SEG_DICT_CACHE", {})
    assert texts("研究生命的起源", "zh") == ["研究生", "命的", "起源"]


def test_offsets_cover_run_exactly():
    s = "期一会。異体同心"
    toks = tokenize_raw(s, "ja")
    assert toks[0][1] == 0
    assert all(a[2] == b[1] for a, b in zip(toks, toks[1:]))
    assert toks[-1][2] == len(s)
    assert "".join(t[0] for t in toks) == s


def test_langs_without_dict_keep_char_fallback():
    # ko has no vendored dictionary: Hangul stays char-level (round-1
    # behavior preserved; a user dict via KG_SEGMENT_DICT_DIR upgrades it)
    toks = texts("안녕하세요", "ko")
    assert toks == list("안녕하세요")


def test_user_dictionary_loads_from_env(tmp_path, monkeypatch):
    import dss_plugin_nlp_analysis_spark.functions.tokenizer as tok

    (tmp_path / "ko_words.txt").write_text("안녕하세요\n안녕\n", encoding="utf-8")
    monkeypatch.setenv("KG_SEGMENT_DICT_DIR", str(tmp_path))
    monkeypatch.setattr(tok, "_SEG_DICT_CACHE", {})
    assert texts("안녕하세요", "ko") == ["안녕하세요"]  # longest match wins


def test_multichar_cjk_keyword_tagging_end_to_end(spark):
    from dss_plugin_nlp_analysis_spark.operators.tagger import tag_documents

    docs = spark.createDataFrame(
        [
            (0, "我们在北京研究人工智能。", "zh"),
            (1, "そうです、一会です。", "ja"),
            (2, "人工 智能 unrelated", "zh"),  # spaced-out chars: no match
        ],
        "doc_id long, text string, lang string",
    )
    onto = spark.createDataFrame(
        [("ai_tag", "人工智能"), ("aikai", "一会")], "tag string, keyword string"
    )
    out = tag_documents(docs, onto, languages=["zh", "ja"]).collect()
    by_doc = {r["doc_id"]: r["tag"] for r in out}
    assert by_doc[0] == "ai_tag"       # multi-char keyword = one token seq
    assert by_doc[1] == "aikai"
    assert by_doc[2] is None           # split tokens don't false-positive


def test_korean_keyword_matches_inside_inflected_eojeol():
    # ko is NOT a supported tagging language (parity: the reference's
    # language_support.py has no "ko" entry), but the kernel's char-level
    # Hangul tokens mean a keyword like 서울 (Seoul) would match INSIDE the
    # inflected eojeol 서울에서 ("in Seoul") as a char subsequence — the
    # same match mecab's morpheme split (서울/에서) produces, where
    # eojeol-level tokens would miss it
    from dss_plugin_nlp_analysis_spark.functions.tokenizer import tokenize_raw
    from dss_plugin_nlp_analysis_spark.operators.automaton import TokenAutomaton

    auto = TokenAutomaton()
    auto.add([t[0] for t in tokenize_raw("서울", "ko")], payload=0)
    doc_keys = [t[0] for t in tokenize_raw("우리는 서울에서 일해요", "ko")]
    hits = auto.find_all(doc_keys)
    assert len(hits) == 1
    ts, te, payloads = hits[0]
    assert "".join(doc_keys[ts:te]) == "서울"


def test_oov_span_stays_char_level():
    # 网民 ("netizen") is not a dictionary word: the OOV span falls to
    # char-level (reference-golden behavior; jieba's OOV HMM is not
    # replicated, SEMANTICS.md §3)
    assert texts("网民", "zh") == ["网", "民"]
