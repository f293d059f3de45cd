"""Token-level prefix-trie multi-pattern matcher (broadcast kernel).

This is the engine's custom match kernel (SURVEY.md §2.6): Spark has no
primitive for multi-pattern token-sequence matching, so a trie over the
ontology's token tuples is built from the (small, broadcastable) pattern
list and probed inside Arrow-batched UDFs.

``find_all`` walks the trie from each token position, the same
start-by-start walk as spaCy's PhraseMatcher (``phrasematcher.pyx``,
``find_matches``). Two probe semantics, matching the reference's two
physical strategies:
- ``find_all``  — ALL matches incl. overlapping/nested (spaCy PhraseMatcher
  behavior; reference python-lib/nlp/ontology_tagging/ontology_tagger.py:288-302).
- ``filter_leftmost_longest`` over ``find_all``'s hits — leftmost-longest
  non-overlapping (spaCy EntityRuler / filter_spans behavior;
  ontology_tagger.py:251-266).

Duplicate keywords (one token sequence, several ontology rows) resolve to
the FIRST-added row with categories (EntityRuler) and to the LAST-added
without (dict overwrite, ontology_tagger.py:225-231). Both rules are
applied when the trie is filled: ``CompiledOntology.automaton_for`` adds
only the winning row of each sequence unless entity linking scores them
all.

Cost: a probe is O(tokens × longest prefix walked), the bound of spaCy's
matcher, where Aho-Corasick is O(tokens + hits). A token that starts no
pattern costs one dict lookup, so the common case (miss) stays O(tokens);
only text that repeats a long pattern prefix many times pays the walk
(100k tokens of ``a`` against ``a``×100 + ``b`` walks 100 tokens from
each start). Filling the trie is one dict insert per pattern token, with
no second pass. The trie is built per Python worker from the broadcast
pattern list and memoized on that worker's copy of the broadcast
(``CompiledOntology.automaton_for``). ``ontology.broadcast_ontology``
reuses one broadcast per SparkContext for identical ontology content, so
repeat builds and the bucket groups of a checkpointed build find the
tries already built in every reused worker.
"""

from __future__ import annotations

from operator import itemgetter
from typing import Hashable, Sequence

__all__ = ["TokenAutomaton", "filter_leftmost_longest"]


class TokenAutomaton:
    """Prefix trie over token sequences.

    Patterns are sequences of hashable tokens; ``payload`` is the pattern's
    ontology row index (or any id). Each node is ``[children, payloads]``;
    a node ends a pattern when its payload tuple is non-empty. Duplicate
    token sequences accumulate all payloads in add order (the tie rules
    above add only one of them). Empty patterns never match.
    """

    __slots__ = ("_root",)

    def __init__(self) -> None:
        self._root: dict[Hashable, list] = {}

    def add(self, tokens: Sequence[Hashable], payload: int) -> None:
        children = self._root
        node = None
        for tok in tokens:
            node = children.get(tok)
            if node is None:
                node = children[tok] = [{}, ()]
            children = node[0]
        if node is not None:
            node[1] += (payload,)

    def find_all(
        self, tokens: Sequence[Hashable]
    ) -> list[tuple[int, int, tuple[int, ...]]]:
        """All matches: list of (start, end_exclusive, payload_ids) in
        (start, end) order. ``payload_ids`` is in pattern-add order."""
        get = self._root.get
        n = len(tokens)
        hits: list[tuple[int, int, tuple[int, ...]]] = []
        for start, tok in enumerate(tokens):
            node = get(tok)
            end = start
            while node is not None:
                end += 1
                children, payloads = node
                if payloads:
                    hits.append((start, end, payloads))
                node = children.get(tokens[end]) if end < n else None
        return hits


def filter_leftmost_longest(hits: list) -> list:
    """spaCy ``filter_spans`` semantics: prefer longer spans, then earlier
    start; keep non-overlapping; return in positional order. Spans come
    longest first, so one overlaps a kept span exactly when its first or
    last token is already taken."""
    taken: list = []
    seen: set[int] = set()
    for h in sorted(hits, key=lambda h: (h[0] - h[1], h[0])):
        s, e = h[0], h[1]
        if s in seen or e - 1 in seen:
            continue
        taken.append(h)
        seen.update(range(s, e))
    taken.sort(key=itemgetter(0))
    return taken
