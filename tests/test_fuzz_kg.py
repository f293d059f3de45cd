"""Hypothesis fuzz of the KG co-mention family (tag_cooccurrence,
cooccurrence_lift, fact_support, relation_patterns, relation_extract)
against brute-force pure-Python references on random small mention
streams: NULL objects and sentence indexes, repeated mentions,
case-variant and overlapping keywords, keywords the sentence does not
contain, url and bare-id subjects."""

import re
from itertools import product

from hypothesis import HealthCheck, example, given, settings, strategies as st

from dss_plugin_nlp_analysis_spark.operators.kg import (
    cooccurrence_lift,
    fact_support,
    relation_extract,
    relation_patterns,
    tag_cooccurrence,
)

FUZZ = settings(
    max_examples=12, deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)

SUBJECTS = [
    "https://A.example/p1", "https://a.example/p2",
    "http://u@b.example:80/x", "doc-7", "DOC-7", "doc-8",
]
WORDS = ["Acme", "acme", "corp", "was", "founded", "by", "Bob", "bob", "ann", "of  the"]
KEYWORDS = ["Acme", "acme", "ACME", "Acme corp", "corp", "Bob", "bob", "ann", "ghost"]
OBJECTS = st.one_of(st.none(), st.sampled_from(["acme", "bob", "ann", "corp"]))
SCHEMA = "subj string, sent_idx int, sentence string, obj string, keyword string"


@st.composite
def mention_streams(draw):
    """Rows (subj, sent_idx, sentence, obj, keyword): a few sentences, one
    text per (subj, sent_idx), each with a few mentions whose keyword is
    mostly a word of the sentence; some rows are repeated verbatim."""
    keys = draw(st.lists(
        st.tuples(st.sampled_from(SUBJECTS), st.sampled_from([None, 0, 0, 1])),
        min_size=1, max_size=4, unique=True,
    ))
    rows = []
    for key in keys:
        sentence = " ".join(draw(st.lists(st.sampled_from(WORDS), min_size=1, max_size=6)))
        keywords = st.sampled_from(sentence.split(" ") * 2 + KEYWORDS)
        for _ in range(draw(st.integers(1, 4))):
            rows.append((*key, sentence, draw(OBJECTS), draw(keywords)))
    rows += draw(st.lists(st.sampled_from(rows), max_size=3))
    return rows


# One stream that reaches every branch of the sentence pairing: a
# keyword nested in another (Acme / Acme corp), case variants, a
# whitespace run to collapse, an absent keyword, surface order against
# object order, a NULL object and a NULL sentence index.
SENTENCE_CASE = [
    ("d", 0, "Acme corp was founded by  Bob", "acme", "Acme"),
    ("d", 0, "Acme corp was founded by  Bob", "corp", "Acme corp"),
    ("d", 0, "Acme corp was founded by  Bob", "bob", "bob"),
    ("d", 0, "Acme corp was founded by  Bob", "ann", "ghost"),
    ("d", None, "Bob was Acme", "bob", "Bob"),
    ("d", None, "Bob was Acme", "acme", "acme"),
    ("doc-8", 0, "bob was ACME", "bob", "Bob"),
    ("doc-8", 0, "bob was ACME", "acme", "acme"),
    ("doc-8", 0, "bob was ACME", None, "acme"),
    ("doc-8", 0, "bob was ACME", "bob", "Bob"),
]


def _groups(items, key):
    out = {}
    for it in items:
        out.setdefault(key(it), []).append(it)
    return out


def _doc_pairs(rows):
    """{(obj_a, obj_b): set of docs} over distinct (subj, obj) mentions."""
    docs = _groups({(s, o) for s, _, _, o, _ in rows if o is not None}, lambda m: m[0])
    pairs = {}
    for s, ms in docs.items():
        for (_, a), (_, b) in product(ms, ms):
            if a < b:
                pairs.setdefault((a, b), set()).add(s)
    return pairs


def _py_host(url):
    low = url.lower()
    m = re.match(r"[a-z][a-z0-9+.-]*://([^/:?#@]*@)?([^/:?#]+)", low)
    return m.group(2) if m else low


def _py_sentence_relations(rows, max_chars):
    """(subj, sent_idx, connector, obj_a, obj_b, head, tail) rows, with
    multiplicity, per relation_patterns' contract."""
    m = {r for r in rows if r[1] is not None and r[3] is not None}
    out = []
    for (s, si), ms in _groups(m, lambda r: r[:2]).items():
        for (_, _, sent, oa, kwa), (_, _, _, ob, kwb) in product(ms, ms):
            if not oa < ob:
                continue
            low = sent.lower()
            pa, pb = low.find(kwa.lower()) + 1, low.find(kwb.lower()) + 1
            if pa == 0 or pb == 0:
                continue
            first_end = pa + len(kwa) if pa <= pb else pb + len(kwb)
            gap = max(max(pa, pb) - first_end, 0)
            conn = re.sub(r"\s+", " ", low[first_end - 1:first_end - 1 + gap].strip(" "))
            if conn and len(conn) <= max_chars:
                head, tail = (oa, ob) if pa <= pb else (ob, oa)
                out.append((s, si, conn, oa, ob, head, tail))
    return out


@given(mention_streams(), st.integers(1, 3))
@FUZZ
def test_tag_cooccurrence_fuzz_vs_python(spark, rows, min_count):
    df = spark.createDataFrame(rows, SCHEMA)
    got = {(r.obj_a, r.obj_b): r.n_docs for r in tag_cooccurrence(df, min_count=min_count).collect()}
    want = {p: len(d) for p, d in _doc_pairs(rows).items() if len(d) >= min_count}
    assert got == want


@given(mention_streams(), st.integers(1, 2))
@FUZZ
def test_cooccurrence_lift_fuzz_vs_python(spark, rows, min_pair_docs):
    df = spark.createDataFrame(rows, SCHEMA)
    got = {
        (r.obj_a, r.obj_b): (r.n_a, r.n_b, r.n_ab, r.n_corpus, r.lift_ppm)
        for r in cooccurrence_lift(df, min_pair_docs=min_pair_docs).collect()
    }
    d = {(s, o) for s, _, _, o, _ in rows if o is not None}
    n = {}
    for _, o in d:
        n[o] = n.get(o, 0) + 1
    corpus = len({s for s, _ in d})
    want = {
        (a, b): (n[a], n[b], len(docs), corpus, len(docs) * corpus * 10**6 // (n[a] * n[b]))
        for (a, b), docs in _doc_pairs(rows).items()
        if len(docs) >= min_pair_docs
    }
    assert got == want


@given(mention_streams())
@example(SENTENCE_CASE)
@FUZZ
def test_fact_support_fuzz_vs_python(spark, rows):
    df = spark.createDataFrame(rows, SCHEMA)
    got = {
        (r.obj_a, r.obj_b): (r.n_mentions, r.n_docs, r.n_domains, r.diversity_ppm)
        for r in fact_support(df).collect()
    }
    m = {(s, si, o) for s, si, _, o, _ in rows if si is not None and o is not None}
    pairs = {}
    for (s, si), ms in _groups(m, lambda r: r[:2]).items():
        for (_, _, a), (_, _, b) in product(ms, ms):
            if a < b:
                pairs.setdefault((a, b), []).append(s)
    want = {}
    for p, subjects in pairs.items():
        n_docs, n_domains = len(set(subjects)), len({_py_host(s) for s in subjects})
        want[p] = (len(subjects), n_docs, n_domains, n_domains * 10**6 // n_docs)
    assert got == want


@given(mention_streams(), st.integers(1, 20), st.integers(1, 2))
@example(SENTENCE_CASE, 20, 1)
@FUZZ
def test_relation_patterns_fuzz_vs_python(spark, rows, max_chars, min_count):
    df = spark.createDataFrame(rows, SCHEMA)
    got = {
        r.connector: (r.n_mentions, r.n_pairs)
        for r in relation_patterns(df, max_connector_chars=max_chars, min_count=min_count).collect()
    }
    by_conn = _groups(_py_sentence_relations(rows, max_chars), lambda r: r[2])
    want = {
        c: (len(rs), len({(r[3], r[4]) for r in rs}))
        for c, rs in by_conn.items()
        if len(rs) >= min_count
    }
    assert got == want


@given(mention_streams(), st.integers(1, 20), st.sets(st.sampled_from(["was", "founded by", "was founded", "corp", "of the", "bob", "acme"])))
@example(SENTENCE_CASE, 20, {"was", "founded by"})
@FUZZ
def test_relation_extract_fuzz_vs_python(spark, rows, max_chars, lexicon):
    df = spark.createDataFrame(rows, SCHEMA)
    dim = spark.createDataFrame([(c,) for c in lexicon] + [("by",)], "connector string")
    got = sorted(tuple(r) for r in relation_extract(df, dim, max_connector_chars=max_chars).collect())
    want = sorted({
        (s, si, head, conn, tail)
        for s, si, conn, _, _, head, tail in _py_sentence_relations(rows, max_chars)
        if conn in lexicon | {"by"}
    })
    assert got == want
