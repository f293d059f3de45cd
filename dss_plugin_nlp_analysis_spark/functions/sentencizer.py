"""Sentence splitting over the token stream (pure Python, UDF-side).

Re-implements the rule sentencizer the reference configures at
python-lib/nlp/ontology_tagging/ontology_tagger.py:71-74: spaCy
``Sentencizer`` default sentence-final punctuation set ∪ ``{"\\n"}``.
State machine per spaCy's public ``Sentencizer.predict`` semantics: after a
punct-set token, the next token that is neither unicode punctuation nor in
the punct set opens a new sentence (SEMANTICS.md §4).

Divergence (documented): sentence text excludes trailing whitespace tokens.
"""

from __future__ import annotations

from .tokenizer import is_punct_token, tokenize_raw

__all__ = ["DEFAULT_PUNCT_CHARS", "SENTENCE_PUNCT_CHARS", "split_sentences", "sentence_token_spans"]

# spaCy Sentencizer.default_punct_chars (public constant in spaCy source);
# exotic-script members kept for parity where they matter in web text.
DEFAULT_PUNCT_CHARS = [
    "!", ".", "?", "։", "؟", "۔", "܀", "܁", "܂", "߹",
    "࠷", "࠹", "࠽", "࠾", "।", "॥", "၊", "။",
    "።", "፧", "፨", "᙮", "᜵", "᜶", "᠃", "᠉", "᥄", "᥅", "᪨", "᪩", "᪪", "᪫",
    "᭚", "᭛", "᭞", "᭟", "᰻", "᰼", "᱾", "᱿", "‼", "‽", "⁇", "⁈", "⁉",
    "⸮", "⸼", "꓿", "꘎", "꘏", "꛳", "꛷", "꡶", "꡷", "꣎", "꣏", "꤯", "꧈",
    "꧉", "꩝", "꩞", "꩟", "꫰", "꫱", "꯫", "﹒", "﹖", "﹗", "！", "．", "？",
    "𐩖", "𐩗", "𑁇", "𑁈", "𑂾", "𑂿", "𑃀", "𑃁", "𑅁", "𑅂", "𑅃", "𑇅",
    "𑇆", "𑇍", "𑇞", "𑇟", "𑈸", "𑈹", "𑈻", "𑈼", "𑊩", "𑑋", "𑑌", "𑗂",
    "𑗃", "𑗉", "𑗊", "𑗋", "𑗌", "𑗍", "𑗎", "𑗏", "𑗐", "𑗑", "𑗒", "𑗓",
    "𑗔", "𑗕", "𑗖", "𑗗", "𑙁", "𑙂", "𑜼", "𑜽", "𑜾", "𑩂", "𑩃", "𑪛",
    "𑪜", "𑱁", "𑱂", "𖩮", "𖩯", "𖫵", "𖬷", "𖬸", "𖭄", "𛲟", "𝪈", "。", "｡",
]

# the recipe adds "\n" (ontology_tagger.py:73)
SENTENCE_PUNCT_CHARS = frozenset(DEFAULT_PUNCT_CHARS) | {"\n"}


def sentence_token_spans(tokens: list) -> list[tuple[int, int]]:
    """Return [start_token, end_token) spans of sentences, trailing
    whitespace tokens trimmed from each span, over the
    (text, start, end, is_space) tuples of ``tokenize_raw``."""
    if not tokens:
        return []
    starts = [0]
    seen_punct = False
    for i, tok in enumerate(tokens):
        text = tok[0]
        in_punct = text in SENTENCE_PUNCT_CHARS
        if seen_punct and not in_punct and not is_punct_token(text):
            starts.append(i)
            seen_punct = False
        elif in_punct:
            seen_punct = True
    spans: list[tuple[int, int]] = []
    bounds = starts + [len(tokens)]
    for a, b in zip(bounds, bounds[1:]):
        while b > a and tokens[b - 1][3]:  # is_space
            b -= 1
        if b > a:
            spans.append((a, b))
    return spans


def split_sentences(text: str | None, lang: str = "en") -> list[str]:
    """Split *already linebreak-cleaned* text into sentence strings.

    Empty/None text yields ``[]``
    (tests/python/unit/test_sentence_splitter.py:5-18).
    """
    if not text:
        return []
    tokens = tokenize_raw(text, lang)
    return [
        text[tokens[a][1]:tokens[b - 1][2]]
        for a, b in sentence_token_spans(tokens)
    ]
