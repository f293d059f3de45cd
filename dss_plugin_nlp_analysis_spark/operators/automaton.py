"""Token-level Aho-Corasick multi-pattern matcher (broadcast kernel).

This is the engine's custom match kernel (SURVEY.md §2.6): Spark has no
primitive for multi-pattern token-sequence matching, so a token-level AC
automaton is built once from the (small, broadcastable) ontology and probed
inside Arrow-batched UDFs.

Two probe semantics, matching the reference's two physical strategies:
- ``find_all``  — ALL matches incl. overlapping/nested (spaCy PhraseMatcher
  behavior; reference python-lib/nlp/ontology_tagging/ontology_tagger.py:288-302).
- ``filter_leftmost_longest`` over ``find_all``'s hits — leftmost-longest
  non-overlapping (spaCy EntityRuler / filter_spans behavior;
  ontology_tagger.py:251-266).

Duplicate keywords (one token sequence, several ontology rows) resolve to
the FIRST-added row with categories (EntityRuler) and to the LAST-added
without (dict overwrite, ontology_tagger.py:225-231). Both rules are
applied at build time: ``CompiledOntology.automaton_for`` adds only the
winning row of each sequence unless entity linking scores them all.

Scale notes: tokens absent from every pattern get no vocab id and reset the
probe state to root in O(1), so the common case (miss) is a single dict
lookup per token. The automaton is built per Python worker from the
broadcast pattern list and memoized on that worker's copy of the broadcast
(``CompiledOntology.automaton_for``). ``ontology.broadcast_ontology``
reuses one broadcast per SparkContext for identical ontology content, so
repeat builds and the bucket groups of a checkpointed build find the
automata already built in every reused worker.
"""

from __future__ import annotations

from collections import deque
from typing import Hashable, Sequence

__all__ = ["TokenAutomaton", "filter_leftmost_longest"]


class TokenAutomaton:
    """Aho-Corasick over token sequences.

    Patterns are sequences of hashable tokens; ``payload`` is the pattern's
    ontology row index (or any id). Duplicate token sequences accumulate all
    payloads in add order (the tie rules above add only one of them).
    """

    __slots__ = ("_vocab", "_goto", "_fail", "_out", "_built")

    def __init__(self) -> None:
        self._vocab: dict[Hashable, int] = {}
        self._goto: list[dict[int, int]] = [{}]
        # node -> list of (pattern_len, payload_ids_in_add_order)
        self._out: list[list[tuple[int, tuple[int, ...]]]] = [[]]
        self._fail: list[int] = [0]
        self._built = False

    def add(self, tokens: Sequence[Hashable], payload: int) -> None:
        if self._built:
            raise RuntimeError("automaton already finalized")
        if not tokens:
            return
        node = 0
        for tok in tokens:
            tid = self._vocab.setdefault(tok, len(self._vocab))
            nxt = self._goto[node].get(tid)
            if nxt is None:
                nxt = len(self._goto)
                self._goto[node][tid] = nxt
                self._goto.append({})
                self._out.append([])
                self._fail.append(0)
            node = nxt
        n = len(tokens)
        for i, (ln, payloads) in enumerate(self._out[node]):
            if ln == n:
                self._out[node][i] = (ln, payloads + (payload,))
                return
        self._out[node].append((n, (payload,)))

    def build(self) -> "TokenAutomaton":
        """Compute failure links + output merging (classic BFS)."""
        q: deque[int] = deque()
        for tid, nxt in self._goto[0].items():
            self._fail[nxt] = 0
            q.append(nxt)
        while q:
            node = q.popleft()
            for tid, nxt in self._goto[node].items():
                q.append(nxt)
                f = self._fail[node]
                while f and tid not in self._goto[f]:
                    f = self._fail[f]
                self._fail[nxt] = self._goto[f].get(tid, 0)
                if self._fail[nxt] == nxt:
                    self._fail[nxt] = 0
                # merge outputs reachable via the fail link
                self._out[nxt] = self._out[nxt] + self._out[self._fail[nxt]]
        self._built = True
        return self

    def find_all(
        self, tokens: Sequence[Hashable]
    ) -> list[tuple[int, int, tuple[int, ...]]]:
        """All matches: list of (start, end_exclusive, payload_ids) in
        (start, end) order. ``payload_ids`` is in pattern-add order."""
        vget = self._vocab.get
        goto = self._goto
        fail = self._fail
        out = self._out
        hits: list[tuple[int, int, tuple[int, ...]]] = []
        node = 0
        for i, tok in enumerate(tokens):
            tid = vget(tok)
            if tid is None:
                node = 0
                continue
            while node and tid not in goto[node]:
                node = fail[node]
            node = goto[node].get(tid, 0)
            if out[node]:
                for ln, payloads in out[node]:
                    hits.append((i - ln + 1, i + 1, payloads))
        hits.sort(key=lambda h: (h[0], h[1]))
        return hits


def filter_leftmost_longest(hits: list) -> list:
    """spaCy ``filter_spans`` semantics: prefer longer spans, then earlier
    start; keep non-overlapping; return in positional order."""
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
