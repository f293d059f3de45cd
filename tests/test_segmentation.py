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


# --- dictionary-derived BMES HMM for OOV spans (KG_SEGMENT_OOV_HMM) ------

def test_oov_hmm_off_by_default():
    # 网民 ("netizen") is not a dictionary word: without the HMM the OOV
    # span falls to char-level (reference-golden behavior)
    assert texts("网民", "zh") == ["网", "民"]


def test_oov_hmm_groups_dict_supported_compound(monkeypatch):
    # with the crawl-mode flag, the BMES Viterbi groups 网民 because 网 is
    # a strong word-BEGIN char (网络) and 民 a strong word-END char (人民)
    # in the dictionary's positional statistics
    monkeypatch.setenv("KG_SEGMENT_OOV_HMM", "1")
    assert texts("网民", "zh") == ["网民"]
    # embedded in a sentence: dictionary words still win around the OOV span
    toks = texts("网民都喜欢人工智能", "zh")
    assert "网民" in toks and "人工智能" in toks


def test_oov_hmm_leaves_unknown_chars_single(monkeypatch):
    # chars the dictionary has never seen smooth BELOW the single-state
    # floor: the classical-zh golden (traditional script, 19 tokens) is
    # preserved even with the HMM enabled
    monkeypatch.setenv("KG_SEGMENT_OOV_HMM", "1")
    assert len(texts("子曰：“學而不思則罔，思而不學則殆。”", "zh")) == 19


def test_oov_hmm_offsets_stay_contiguous(monkeypatch):
    monkeypatch.setenv("KG_SEGMENT_OOV_HMM", "1")
    s = "网民热议人工智能。期一会"
    toks = tokenize_raw(s, "zh")
    assert toks[0][1] == 0 and toks[-1][2] == len(s)
    assert all(a[2] == b[1] for a, b in zip(toks, toks[1:]))
    assert "".join(t[0] for t in toks) == s


def test_oov_hmm_dict_words_unchanged(monkeypatch):
    # the HMM only touches spans the lattice left as single-char runs:
    # dictionary segmentations are identical with the flag on
    monkeypatch.setenv("KG_SEGMENT_OOV_HMM", "1")
    assert texts("我们在北京研究人工智能和互联网技术。", "zh") == [
        "我们", "在", "北京", "研究", "人工智能", "和", "互联网", "技术", "。"
    ]
    assert texts("研究生命的起源", "zh") == ["研究", "生命", "的", "起源"]


def test_oov_hmm_ja_th_runs_stay_wellformed(monkeypatch):
    # the HMM is language-generic: ja/th OOV spans regroup from their own
    # dicts' positional stats; offsets stay contiguous and dictionary
    # segmentations are untouched
    monkeypatch.setenv("KG_SEGMENT_OOV_HMM", "1")
    for s, lang in (("期一会。異体同心そうです", "ja"), ("ผมชอบกินข้าว", "th")):
        toks = tokenize_raw(s, lang)
        assert toks[0][1] == 0 and toks[-1][2] == len(s)
        assert all(a[2] == b[1] for a, b in zip(toks, toks[1:]))
        assert "".join(t[0] for t in toks) == s
    assert texts("ผมชอบกินข้าว", "th") == ["ผม", "ชอบ", "กิน", "ข้าว"]


# --- corpus-trained BMES parameter hook (KG_SEGMENT_DICT_DIR/<lang>_hmm.tsv)

def test_trained_hmm_params_beat_derived(tmp_path, monkeypatch):
    """The loadable-trained-params hook: 小红书 (a product name jieba's
    corpus-trained HMM groups as one word) stays CHAR-LEVEL under the
    dictionary-derived parameters (none of its chars carry positional
    dictionary evidence), and groups once a trained emission table marks
    小 as word-begin, 红 as middle, 书 as end — real corpus-trained
    tables slot in where the derived fallback stops."""
    import dss_plugin_nlp_analysis_spark.functions.tokenizer as tok

    monkeypatch.setenv("KG_SEGMENT_OOV_HMM", "1")

    # derived parameters: char-level (the 'beat' baseline)
    monkeypatch.setattr(tok, "_SEG_DICT_CACHE", {})
    assert texts("小红书", "zh") == ["小", "红", "书"]

    (tmp_path / "zh_hmm.tsv").write_text(
        "# corpus-trained BMES table (fixture)\n"
        "emit B 小 -1.0\n"
        "emit M 红 -1.0\n"
        "emit E 书 -1.0\n"
        "emit B * -12.0\n"
        "emit M * -12.0\n"
        "emit E * -12.0\n"
        "emit S * -12.0\n"
        "trans B M -0.2\n"
        "trans M E -0.2\n",
        encoding="utf-8",
    )
    monkeypatch.setenv("KG_SEGMENT_DICT_DIR", str(tmp_path))
    monkeypatch.setattr(tok, "_SEG_DICT_CACHE", {})
    assert texts("小红书", "zh") == ["小红书"]
    # dictionary words are untouched: the lattice still wins where the
    # dictionary has coverage; only OOV spans consult the trained table
    assert texts("我们研究人工智能。", "zh") == ["我们", "研究", "人工智能", "。"]


def test_trained_hmm_malformed_lines_ignored(tmp_path, monkeypatch):
    # junk lines, illegal transitions and unknown states must not crash
    # the loader or corrupt legal entries
    import dss_plugin_nlp_analysis_spark.functions.tokenizer as tok

    (tmp_path / "zh_hmm.tsv").write_text(
        "emit B 网 -1.0\n"
        "trans E M -0.1\n"        # illegal edge: ignored
        "trans B M\n"             # too few fields: ignored
        "emit X 网 -1.0\n"        # unknown state: ignored
        "bogus line here\n"
        "start B -0.5\n",
        encoding="utf-8",
    )
    monkeypatch.setenv("KG_SEGMENT_DICT_DIR", str(tmp_path))
    monkeypatch.setenv("KG_SEGMENT_OOV_HMM", "1")
    monkeypatch.setattr(tok, "_SEG_DICT_CACHE", {})
    toks = tokenize_raw("网民热议。", "zh")
    assert "".join(t[0] for t in toks) == "网民热议。"
    emit, trans, start = tok._load_trained_hmm(str(tmp_path / "zh_hmm.tsv"))
    assert emit["B"]["网"] == -1.0 and ("E", "M") not in trans
    assert start["B"] == -0.5
