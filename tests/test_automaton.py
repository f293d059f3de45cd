"""Prefix-trie kernel tests: all-overlaps vs leftmost-longest duality
(SEMANTICS.md §6; SURVEY.md §7.3 'hard parts' fuzz). ``find_all`` is
pinned hit for hit — (start, end, payloads), in order — against a naive
scan, and ``filter_leftmost_longest`` against its former quadratic
implementation, kept here as the reference."""

import time

from hypothesis import given, strategies as st

from dss_plugin_nlp_analysis_spark.operators.automaton import (
    TokenAutomaton,
    filter_leftmost_longest,
)


def build(patterns):
    auto = TokenAutomaton()
    for i, p in enumerate(patterns):
        auto.add(tuple(p.split()), i)
    return auto


def spans(hits):
    return [(s, e) for s, e, _p in hits]


def test_all_overlaps_nested():
    auto = build(["new york", "new york city", "york"])
    hits = auto.find_all("i love new york city".split())
    assert spans(hits) == [(2, 4), (2, 5), (3, 4)]


def test_leftmost_longest():
    auto = build(["new york", "new york city", "york"])
    hits = filter_leftmost_longest(auto.find_all("i love new york city".split()))
    assert spans(hits) == [(2, 5)]


def test_duplicate_pattern_payloads_in_add_order():
    auto = build(["merge", "merge"])
    hits = auto.find_all(["merge"])
    assert hits == [(0, 1, (0, 1))]  # all payloads, add order


def test_unknown_tokens_reset_state():
    auto = build(["a b"])
    assert auto.find_all(["a", "x", "b"]) == []
    assert spans(auto.find_all(["a", "b"])) == [(0, 2)]


def test_overlapping_not_nested():
    auto = build(["a b", "b c"])
    assert spans(auto.find_all("a b c".split())) == [(0, 2), (1, 3)]
    assert spans(filter_leftmost_longest(auto.find_all("a b c".split()))) == [(0, 2)]


def test_repeated_occurrences():
    auto = build(["x"])
    assert spans(auto.find_all("x y x x".split())) == [(0, 1), (2, 3), (3, 4)]


def test_suffix_pattern_via_fail_links():
    # the suffix match Aho-Corasick finds through a failure link; the trie
    # walk finds it from its own start
    auto = build(["a b c", "b c"])
    assert spans(auto.find_all("a b c".split())) == [(0, 3), (1, 3)]


def naive_scan(patterns, text):
    """Every (start, end, payloads) in (start, end) order, payloads in add
    order; empty patterns never match."""
    return [
        (s, e, payloads)
        for s in range(len(text))
        for e in range(s + 1, len(text) + 1)
        if (payloads := tuple(i for i, p in enumerate(patterns) if p == tuple(text[s:e])))
    ]


@given(
    st.lists(
        st.lists(st.sampled_from("abc"), min_size=0, max_size=3).map(tuple),
        min_size=1,
        max_size=6,
    ),
    st.lists(st.sampled_from("abc"), max_size=20),
)
def test_matches_equal_naive_scan(patterns, text):
    """The trie walk must agree with the naive O(n·m) scan on every input:
    the same hits in the same order, duplicate patterns' payloads in add
    order, empty patterns never matching."""
    auto = TokenAutomaton()
    for i, p in enumerate(patterns):
        auto.add(p, i)
    hits = auto.find_all(text)
    assert hits == naive_scan(patterns, text)
    got = {(s, e) for s, e, _p in hits}
    expected = set()
    uniq = set(patterns) - {()}
    for p in uniq:
        for s in range(len(text) - len(p) + 1):
            if tuple(text[s:s + len(p)]) == p:
                expected.add((s, s + len(p)))
    assert got == expected


def test_leftmost_longest_non_overlap_invariant():
    auto = build(["a", "a b", "b c", "c"])
    kept = filter_leftmost_longest(auto.find_all("a b c a".split()))
    assert spans(kept) == [(0, 2), (2, 3), (3, 4)]
    for (s1, e1), (s2, e2) in zip(spans(kept), spans(kept)[1:]):
        assert e1 <= s2


def test_repetitive_input_matches_naive_scan():
    """A run of one token walks the longest prefix from every start."""
    patterns = [("a",), ("a", "a"), ("a", "a", "a", "a", "a", "b")]
    auto = TokenAutomaton()
    for i, p in enumerate(patterns):
        auto.add(p, i)
    for text in (["a"] * 40, ["a"] * 40 + ["b"], ["a"] * 5 + ["b"] + ["a"] * 7):
        assert auto.find_all(text) == naive_scan(patterns, text)
    hits = auto.find_all(["a"] * 40 + ["b"])
    assert (35, 41, (2,)) in hits


def reference_filter_leftmost_longest(hits: list) -> list:
    """The former quadratic implementation: every candidate is checked
    against every kept span."""
    ordered = sorted(hits, key=lambda h: (-(h[1] - h[0]), h[0]))
    taken: list = []
    occupied: list[tuple[int, int]] = []
    for h in ordered:
        s, e = h[0], h[1]
        if any(s < oe and e > os_ for os_, oe in occupied):
            continue
        taken.append(h)
        occupied.append((s, e))
    taken.sort(key=lambda h: (h[0], h[1]))
    return taken


@given(
    st.lists(
        st.tuples(st.integers(0, 30), st.integers(1, 6), st.integers(0, 3)).map(
            lambda t: (t[0], t[0] + t[1], (t[2],))
        ),
        max_size=40,
    )
)
def test_filter_leftmost_longest_equals_reference(hits):
    """Any non-empty spans, duplicates and arbitrary order included."""
    assert filter_leftmost_longest(hits) == reference_filter_leftmost_longest(hits)


def test_filter_leftmost_longest_many_hits():
    """100k single-token hits plus 50k overlapping pairs in one sentence:
    linear in the hits (the quadratic form took 12.7 s at 20k)."""
    n = 100_000
    hits = sorted(
        [(i, i + 1, (0,)) for i in range(n)] + [(i, i + 2, (1,)) for i in range(0, n - 1, 2)]
    )
    t0 = time.perf_counter()
    kept = filter_leftmost_longest(hits)
    assert time.perf_counter() - t0 < 5.0
    assert kept == [(i, i + 2, (1,)) for i in range(0, n - 1, 2)]
