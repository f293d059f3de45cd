"""Driver-side ontology preparation: the Arrow collect of the cleaned
ontology (row order carries the dup-keyword tie rules, SEMANTICS.md §5),
the once-per-distinct-keyword pattern compile, the tie rules applied
when the automaton is built, and the per-session broadcast memo."""

import json

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from dss_plugin_nlp_analysis_spark.functions.lemmas import lemma_table
from dss_plugin_nlp_analysis_spark.operators.ontology import (
    TagOptions,
    clean_ontology,
    collect_ontology,
    compile_ontology,
    keyword_match_tokens,
)
from dss_plugin_nlp_analysis_spark.operators.tagger import process_document, tag_documents

# "bank" is a keyword of one tag per file; rows of other shapes are dropped
# or defaulted by the cleaning step
_PARTS = [
    [("river_bank", "bank", "geo"), ("money", "cash", ""), ("", "dropped", "x")],
    [("money_bank", "bank", "finance"), ("Noël", "Noël", None), ("t", None, "x")],
    [("bank_3", "bank", "misc"), ("money", "Cash", "finance"), ("zh", "银行", "geo")],
]


@pytest.fixture(scope="module")
def ontology_dir(tmp_path_factory):
    # one parquet file per part, of different sizes (Spark packs and
    # orders file splits by size, not by name)
    root = tmp_path_factory.mktemp("ontology")
    for i, rows in enumerate(_PARTS):
        rows = rows + [(f"pad{i}_{j}", f"pad{i} {j}", "pad") for j in range(10 * i)]
        table = pa.table({
            "tag": [r[0] for r in rows],
            "keyword": [r[1] for r in rows],
            "category": [r[2] for r in rows],
        })
        pq.write_table(table, root / f"part-{i:03d}.parquet")
    return str(root)


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(
        [(1, "the bank here", "en"), (2, "a bank", "fr"), (3, "none", None)],
        "doc_id int, text string, lang string",
    )


@pytest.mark.parametrize("category_col", ["category", None])
def test_collect_ontology_rows_in_collect_order(spark, ontology_dir, docs, category_col):
    onto = spark.read.parquet(ontology_dir)
    clean = clean_ontology(onto, category_col=category_col)
    expected = [tuple(r) + (() if category_col else (None,)) for r in clean.collect()]
    rows, languages = collect_ontology(onto, docs, category_col=category_col)
    assert rows == expected
    assert len(rows) == 3 * 3 + 30 - 2
    assert sorted(languages) == ["en", "fr"]


def test_collect_ontology_languages(spark, ontology_dir, docs):
    onto = spark.read.parquet(ontology_dir)
    assert collect_ontology(onto, docs, languages=["zh"])[1] == ["zh"]
    assert collect_ontology(onto, docs, lang_col=None, language="de")[1] == ["de"]
    with pytest.raises(ValueError, match="Unsupported language"):
        collect_ontology(onto, docs, languages=["en", "ko"])
    assert collect_ontology(onto, docs, languages=["en", "ko"], skip_unknown=True)[1] == ["en"]


@pytest.mark.parametrize("category_col", ["category", None])
def test_duplicate_keyword_tie_rules_follow_collect_order(spark, ontology_dir, docs, category_col):
    # first-added "bank" tag wins with categories, last-added without
    onto = spark.read.parquet(ontology_dir)
    bank_tags = [r["tag"] for r in clean_ontology(onto).collect() if r["keyword"] == "bank"]
    assert len(bank_tags) == 3
    out = tag_documents(docs, onto, category_col=category_col, languages=["en", "fr"])
    got = {r["doc_id"]: r["tag"] for r in out.collect() if r["tag_keyword"] == "bank"}
    want = bank_tags[0] if category_col else bank_tags[-1]
    assert got == {1: want, 2: want}


@pytest.mark.parametrize(
    "options",
    [
        TagOptions(),
        TagOptions(ignore_case=True, ignore_diacritics=True, lemmatization=True),
        TagOptions(lemmatization=True),
    ],
)
def test_compile_patterns_equal_per_row_match_tokens(options):
    keywords = ["bank", "Banks", "new york", "New York", "Noël", "noël", "银行",
                "bank", "running dogs", "北京大学", "café", "bank"]
    rows = [(f"t{i}", kw, None) for i, kw in enumerate(keywords)]
    langs = ["en", "fr", "zh"]
    compiled = compile_ontology(rows, langs, options, False)
    for lang in langs:
        table = lemma_table(lang) if options.lemmatization else {}
        assert compiled.patterns[lang] == [
            keyword_match_tokens(kw, lang, options, table) for _t, kw, _c in rows
        ]


# "engine" under three tags and a case-variant pair over two categories
_TIE_ROWS = [
    ("engine_a", "engine", "tech"),
    ("new_york", "New York", "place"),
    ("engine_b", "engine", "place"),
    ("ny_lower", "new york", "tech"),
    ("engine_c", "engine", "tech"),
]


@pytest.mark.parametrize("link_entities", [False, True])
@pytest.mark.parametrize("has_category", [True, False])
def test_automaton_resolves_duplicate_keyword_ties(has_category, link_entities):
    rows = _TIE_ROWS if has_category else [(t, k, None) for t, k, _c in _TIE_ROWS]
    options = TagOptions(ignore_case=True, link_entities=link_entities)
    compiled = compile_ontology(rows, ["en"], options, has_category)
    hits = compiled.automaton_for("en").find_all(["engine", "in", "new", "york"])
    payloads = {(s, e): p for s, e, p in hits}
    if link_entities:
        assert payloads == {(0, 1): (0, 2, 4), (2, 4): (1, 3)}
        return
    want = (0, 1) if has_category else (4, 3)
    assert payloads == {(0, 1): (want[0],), (2, 4): (want[1],)}
    tags = ["engine_a", "new_york"] if has_category else ["engine_c", "ny_lower"]
    # a screened (plain words) and a tokenized document resolve alike
    for text in ["engine in new york", "Engine, in New York."]:
        _sentences, matches = process_document(compiled, text, "en")
        assert [(m["tag"], m["keyword"]) for m in matches] == [
            (tags[0], "engine"), (tags[1], "new york")
        ]
        assert all(set(m) == {"sent_idx", "tag", "category", "keyword"} for m in matches)


# --- the per-session broadcast memo (broadcast_ontology) -------------------

# "bank" under two tags (its winner follows row order), a case-sensitive
# keyword, a keyword whose lemma matches a doc token, and a zh keyword
_MEMO_ROWS = [
    ("river_bank", "bank", "geo"),
    ("money_bank", "bank", "finance"),
    ("nyc", "New York", "place"),
    ("runner", "ran", "sport"),
    ("zh_bank", "银行", "finance"),
]
_MEMO_DOCS = [
    ("u1", "the bank by the river", "en"),
    ("u2", "I was running in new york", "en"),
    ("u3", "New York bank", "fr"),
    ("u4", "银行", "zh"),
]
_BASE = {"options": TagOptions(), "languages": ["en", "fr", "zh"], "category_col": "category"}


def _memo_triples(spark, rows=_MEMO_ROWS, **kwargs):
    from dss_plugin_nlp_analysis_spark.operators.kg import build_triples

    onto = spark.createDataFrame(rows, "tag string, keyword string, category string")
    docs = spark.createDataFrame(_MEMO_DOCS, "url string, text string, lang string")
    out = build_triples(docs, onto, ts_col=None, **{**_BASE, **kwargs})
    return sorted(tuple(r) for r in out.collect())


def _swapped(rows, i, j):
    rows = list(rows)
    rows[i], rows[j] = rows[j], rows[i]
    return rows


@pytest.mark.parametrize(
    "base, variant",
    [
        ({}, {"rows": [r if r[0] != "nyc" else ("new_york_city",) + r[1:] for r in _MEMO_ROWS]}),
        ({}, {"rows": _swapped(_MEMO_ROWS, 0, 1)}),  # the tie winner changes
        ({}, {"options": TagOptions(ignore_case=True)}),
        ({}, {"languages": ["en", "fr"]}),
        ({}, {"category_col": None}),
        ({}, {"canonicalize": False}),
        ({"options": TagOptions(lemmatization=True)},
         {"options": TagOptions(lemmatization=True), "lemma_dir": {"ran": "ran"}}),
    ],
    ids=["tag", "tie_order", "options", "languages", "category", "canonicalize",
         "lemma_lookup_dir"],
)
def test_broadcast_memo_misses_on_any_content_change(
    spark, ontology_calls, monkeypatch, tmp_path, base, variant
):
    from collections import OrderedDict

    from dss_plugin_nlp_analysis_spark.operators import ontology

    variant = dict(variant)
    lemma_dir = variant.pop("lemma_dir", None)
    before = _memo_triples(spark, **base)
    assert _memo_triples(spark, **base) == before
    assert ontology_calls["compile"] == ontology_calls["broadcast"] == 1
    if lemma_dir is not None:
        (tmp_path / "en_lemma_lookup.json").write_text(json.dumps(lemma_dir))
        monkeypatch.setenv("KG_LEMMA_LOOKUP_DIR", str(tmp_path))
    after = _memo_triples(spark, **variant)
    assert ontology_calls["compile"] == ontology_calls["broadcast"] == 2
    assert after != before
    # a cold memo (what a fresh session starts with) gives the same triples
    monkeypatch.setattr(ontology, "_BROADCASTS", OrderedDict())
    assert _memo_triples(spark, **variant) == after
    assert ontology_calls["compile"] == 3


def test_repeat_tag_documents_reuses_the_broadcast(spark, ontology_calls, ontology_dir, docs):
    first = tag_documents(docs, spark.read.parquet(ontology_dir), languages=["en", "fr"])
    first = sorted(map(tuple, first.collect()))
    # a new DataFrame over the same content is a hit
    again = tag_documents(docs, spark.read.parquet(ontology_dir), languages=["en", "fr"])
    assert sorted(map(tuple, again.collect())) == first
    assert ontology_calls["compile"] == ontology_calls["broadcast"] == 1
    # the same ontology with categories is other content
    tag_documents(docs, spark.read.parquet(ontology_dir), category_col="category",
                  languages=["en", "fr"]).collect()
    assert ontology_calls["compile"] == 2


def test_broadcast_memo_is_bounded(spark, ontology_calls):
    from dss_plugin_nlp_analysis_spark.operators import ontology

    sc = spark.sparkContext
    refs = [
        ontology.broadcast_ontology(sc, [(f"t{i}", "kw", None)], ["en"], TagOptions(), False)
        for i in range(ontology._BROADCASTS_MAX + 1)
    ]
    assert len(ontology._BROADCASTS) == ontology._BROADCASTS_MAX
    # the newest entries hit; the oldest was evicted and compiles again
    last = ontology.broadcast_ontology(sc, [(f"t{len(refs) - 1}", "kw", None)], ["en"],
                                       TagOptions(), False)
    assert last is refs[-1]
    assert ontology_calls["compile"] == len(refs)
    first = ontology.broadcast_ontology(sc, [("t0", "kw", None)], ["en"], TagOptions(), False)
    assert first is not refs[0]
    assert first.value.payloads == refs[0].value.payloads
    assert ontology_calls["compile"] == len(refs) + 1


def test_broadcast_memo_concurrent_callers_share_one_broadcast(spark, ontology_calls):
    import sys
    import threading

    from dss_plugin_nlp_analysis_spark.operators import ontology

    sc = spark.sparkContext
    refs, errors = [], []

    def call():
        try:
            refs.append(ontology.broadcast_ontology(
                sc, _MEMO_ROWS, ["en", "fr"], TagOptions(), True))
        except Exception as exc:  # surfaced by the assertion below
            errors.append(exc)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=call) for _ in range(16)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads) and not errors
    assert len(refs) == 16 and all(r is refs[0] for r in refs)
    assert ontology_calls["compile"] == ontology_calls["broadcast"] == 1
