"""Rule-based multilingual tokenizer with char offsets (pure Python, UDF-side).

Re-implements, natively, the token-boundary behaviors the reference gets
from spaCy's rule tokenizer (spaCy is not installed in this environment —
SURVEY.md preamble). Pinned behaviors and their reference evidence:

- ``N.Y`` / ``1.1.1.1`` stay single tokens
  (tests/python/unit/test_ontology_tagger.py:43-65)
- hashtags are one token (python-lib/nlp/spacy_tokenizer.py:316-327)
- emoji (incl. skin-tone modifiers, ZWJ sequences) are single tokens
  (test_ontology_tagger.py:133-158, test_spacy_tokenizer.py:15-21)
- whitespace runs other than a single space become *space tokens* so the
  sentencizer can key on ``"\\n"`` (ontology_tagger.py:71-74)
- zh/ja/th runs are segmented by a unigram-cost lattice (Viterbi over the
  segmentation DAG — jieba's core model) over a word-frequency dictionary
  (vendored common vocabulary in ``segdata.py``; full public dictionaries
  with real counts load via ``KG_SEGMENT_DICT_DIR/<lang>_words.txt``) —
  the native stand-in for the reference's jieba/sudachipy/pythainlp
  extras (code-env/python/spec/requirements.txt:1-13). Out-of-dictionary
  CJK and other no-space scripts fall back to char-level tokens, which
  matches the reference's classical-zh golden exactly
  (test_spacy_tokenizer.py:33-47) and is absorbed by the P/R bar
  elsewhere (SEMANTICS.md §3). ``KG_SEGMENT_OOV_HMM=1`` additionally
  groups OOV spans with a dictionary-derived BMES Viterbi (jieba's
  ``HMM=True`` analog — see ``_derive_hmm``); off by default to keep
  golden parity.

Design: regex pre-segmentation (C speed) + cheap per-chunk refinement.
All tables are module-level so executor processes compile them once.
"""

from __future__ import annotations

import re

__all__ = ["tokenize_raw", "is_punct_token"]


# A token is a PLAIN tuple (text, start, end, is_space) — 12x cheaper to
# construct than a NamedTuple; ``start``/``end`` are char offsets in the
# input string. Callers read the fields by index, so their order is frozen.
def _tok(text, start, end, is_space):
    return (text, start, end, is_space)


# --- character classes -------------------------------------------------

_NONWS_RE = re.compile(r"\S+")

# full-chunk token patterns (checked before any splitting)
_TOKEN_MATCH_RE = re.compile(
    r"""(?:
        \#\w+                                  # hashtag kept whole
      | @\w+                                   # @username kept whole
      | (?:https?://|www\.)[^\s]+              # URL
      | [\w.+-]+@[\w-]+\.[\w.-]+               # email
      | \d+(?:[.,:/\-]\d+)+                    # 1.1.1.1, 12:30, 1,000
    )$""",
    re.VERBOSE | re.UNICODE,
)

_OPEN_PUNCT = set("([{<\"'`«‹„“‘¿¡$€£¥§#@*")
_CLOSE_PUNCT = set(")]}>\"'`»›”’!?,;:%…&*")
_ELLIPSIS_RE = re.compile(r"\.{2,}$")

# CJK + fullwidth punctuation → char-level tokens
_CJK_RANGES = (
    (0x1100, 0x11FF),   # Hangul Jamo
    (0x2E80, 0x2EFF),   # CJK radicals
    (0x3000, 0x303F),   # CJK symbols & punctuation
    (0x3040, 0x30FF),   # Hiragana + Katakana
    (0x3130, 0x318F),   # Hangul compat Jamo
    (0x3400, 0x4DBF),   # CJK ext A
    (0x4E00, 0x9FFF),   # CJK unified
    (0xAC00, 0xD7AF),   # Hangul syllables
    (0xF900, 0xFAFF),   # CJK compat
    (0xFF00, 0xFFEF),   # full/half-width forms
    (0x0E00, 0x0E7F),   # Thai (no-space script; char fallback)
)

_EMOJI_RANGES = (
    (0x1F000, 0x1FAFF),
    (0x2600, 0x27BF),
    (0x2B00, 0x2BFF),
    (0x1F900, 0x1F9FF),
    (0xFE00, 0xFE0F),
)
_EMOJI_MODIFIERS = frozenset(
    list(range(0x1F3FB, 0x1F400))  # skin tones
    + [0xFE0F, 0xFE0E, 0x20E3]     # variation selectors, keycap
)
_ZWJ = 0x200D
_REGIONAL = (0x1F1E6, 0x1F1FF)


def _is_cjk(ch: str) -> bool:
    cp = ord(ch)
    for lo, hi in _CJK_RANGES:
        if lo <= cp <= hi:
            return True
    return False


# --- dictionary segmentation for no-space scripts (zh/ja/th) -----------
#
# Unigram-cost lattice (Viterbi over the segmentation DAG) — jieba's core
# model: a segmentation's score is the product of unigram word
# probabilities; dynamic programming picks the global maximum, so
# boundary-ambiguous spans (研究生命 → 研究|生命, not the greedy 研究生|命)
# resolve correctly where forward-maximum-matching commits to the longest
# first word and strands the remainder. Out-of-dictionary characters get
# the smoothed count 1, exactly like jieba's treatment of unseen unigrams
# (its HMM extension for multi-char OOV words is not replicated — OOV
# spans fall to char-level tokens, SEMANTICS.md §3).

import math as _math
import os as _os

_MISSING = object()

# lang -> (word -> logprob, max word length, single-char OOV logprob,
#          derived BMES HMM params — see _derive_hmm) | None (no dict)
_SEG_DICT_CACHE: dict[str, tuple[dict, int, float, tuple] | None] = {}


def _seg_dict(lang: str):
    """Segmentation dictionary for ``lang``: vendored word frequencies
    (segdata.py) plus an optional user dictionary
    ``$KG_SEGMENT_DICT_DIR/<lang>_words.txt`` — one word per line, with an
    optional count (jieba's public ``word freq [pos]`` format; bare words
    get the default count). Frequencies are folded to log-probabilities
    once here; cached per process, so executors build it once."""
    cached = _SEG_DICT_CACHE.get(lang, _MISSING)
    if cached is not _MISSING:
        return cached
    from .segdata import DEFAULT_FREQ, builtin_freqs

    freqs = builtin_freqs(lang)
    user_dir = _os.environ.get("KG_SEGMENT_DICT_DIR")
    if user_dir:
        path = _os.path.join(user_dir, f"{lang}_words.txt")
        if _os.path.exists(path):
            with open(path, encoding="utf-8") as f:
                for line in f:
                    parts = line.split()
                    if not parts:
                        continue
                    freq = DEFAULT_FREQ
                    if len(parts) > 1 and parts[1].isdigit():
                        freq = max(int(parts[1]), 1)
                    freqs[parts[0]] = freq
    freqs = {w: f for w, f in freqs.items() if len(w) >= 2}
    if not freqs:
        _SEG_DICT_CACHE[lang] = None
        return None
    log_total = _math.log(sum(freqs.values()))
    logp = {w: _math.log(f) - log_total for w, f in freqs.items()}
    # BMES OOV parameters: corpus-trained table when provided
    # ($KG_SEGMENT_DICT_DIR/<lang>_hmm.tsv — see _load_trained_hmm),
    # else derived from the dictionary's positional char statistics
    hmm = None
    if user_dir:
        hmm_path = _os.path.join(user_dir, f"{lang}_hmm.tsv")
        if _os.path.exists(hmm_path):
            hmm = _load_trained_hmm(hmm_path)
    if hmm is None:
        hmm = _derive_hmm(freqs)
    entry = (logp, max(len(w) for w in logp), -log_total, hmm)
    _SEG_DICT_CACHE[lang] = entry
    return entry


# --- dictionary-derived BMES HMM for out-of-dictionary spans -----------
#
# jieba extends its lattice with a corpus-trained BMES HMM that groups
# spans no dictionary word covers (multi-char OOV words — names, new
# compounds). No training corpus ships here, so the parameters are
# derived FROM THE DICTIONARY itself: emission stats from each char's
# positions inside dictionary words (begin/middle/end, frequency-
# weighted), the B→M/M→M continuation probability from the dictionary's
# word-length mass. Chars the dictionary has never seen smooth to a
# count below the single-state floor, so fully-unknown text (e.g. the
# classical-zh golden's traditional characters) stays char-level.
#
# OFF by default — the reference goldens pin char-level OOV behavior —
# and enabled with ``KG_SEGMENT_OOV_HMM=1`` (the crawl mode), mirroring
# jieba's public ``cut(..., HMM=True)`` switch.

_HMM_STATES = ("B", "M", "E", "S")  # begin / middle / end / single


def _load_trained_hmm(path: str):
    """Corpus-trained BMES parameters from a plain-text table — the hook
    for real training data (jieba ships corpus-trained ``prob_emit``/
    ``prob_trans`` tables; this accepts the same information re-serialized
    line-per-entry so no Python import of third-party data files is
    needed). Lines (``#`` comments and blanks ignored)::

        emit  <B|M|E|S> <char|*> <logprob>   # '*' = unseen-char floor
        trans <src> <dst> <logprob>          # only legal BMES edges kept
        start <B|S> <logprob>

    Legal transitions are B→{M,E}, M→{M,E}, E→{B,S}, S→{B,S} (word-
    structural constraints); others are ignored. Missing floors default
    to -20 (effectively never emitted), missing transitions/starts to the
    dictionary-derived defaults' shape with log(0.5). Returns the same
    ``(emit, trans, start)`` triple ``_derive_hmm`` produces, so the two
    sources are interchangeable in ``_hmm_group``."""
    legal = {
        ("B", "M"), ("B", "E"), ("M", "M"), ("M", "E"),
        ("E", "B"), ("E", "S"), ("S", "B"), ("S", "S"),
    }
    emit: dict[str, dict] = {s: {} for s in _HMM_STATES}
    trans = {edge: _math.log(0.5) for edge in legal}
    start = {"B": _math.log(0.5), "S": _math.log(0.5)}
    with open(path, encoding="utf-8") as f:
        for line in f:
            line = line.strip()
            if not line or line.startswith("#"):
                continue
            parts = line.split()
            if len(parts) != 4 and not (parts[0] == "start" and len(parts) == 3):
                continue
            kind = parts[0]
            if kind == "emit" and parts[1] in _HMM_STATES:
                ch = None if parts[2] == "*" else parts[2]
                emit[parts[1]][ch] = float(parts[3])
            elif kind == "trans" and (parts[1], parts[2]) in legal:
                trans[(parts[1], parts[2])] = float(parts[3])
            elif kind == "start" and parts[1] in ("B", "S"):
                start[parts[1]] = float(parts[2])
    for s in _HMM_STATES:
        emit[s].setdefault(None, -20.0)
    return emit, trans, start


def _derive_hmm(freqs: dict[str, int]):
    """(emit, trans, start) from dictionary stats.

    ``emit[state][char]`` is a smoothed log-probability; lookups for
    unseen chars use the add-one floor ``emit[state][None]``. ``trans``
    maps the 8 legal BMES edges to log-probabilities, ``start`` the B/S
    sentence-initial states — the same shape ``_load_trained_hmm``
    produces for corpus-trained tables."""
    counts = {s: {} for s in ("B", "M", "E")}
    len_mass_3plus = 0
    total_mass = 0
    for w, f in freqs.items():
        counts["B"][w[0]] = counts["B"].get(w[0], 0) + f
        counts["E"][w[-1]] = counts["E"].get(w[-1], 0) + f
        for ch in w[1:-1]:
            counts["M"][ch] = counts["M"].get(ch, 0) + f
        total_mass += f
        if len(w) >= 3:
            len_mass_3plus += f
    vocab = set()
    for c in counts.values():
        vocab.update(c)
    v = max(len(vocab), 1)
    emit: dict[str, dict] = {}
    for state, c in counts.items():
        total = sum(c.values()) + v + 1  # add-one over vocab (+1 floor)
        emit[state] = {ch: _math.log(n + 1) - _math.log(total) for ch, n in c.items()}
        emit[state][None] = -_math.log(total)
    # S has no dictionary evidence (single chars are filtered out): uniform
    # over the char vocab — ABOVE the unseen-char floor of B/M/E, so chars
    # the dictionary never saw prefer staying single
    emit["S"] = {None: -_math.log(v)}
    # inside a word: continue (→M) with the dictionary's len≥3 mass
    p_cont = min(max(len_mass_3plus / total_mass, 1e-6), 1 - 1e-6)
    log_cont = _math.log(p_cont)
    log_end = _math.log(1.0 - p_cont)
    log_half = _math.log(0.5)  # E/S → B vs S: no inter-word evidence
    trans = {
        ("B", "M"): log_cont, ("M", "M"): log_cont,
        ("B", "E"): log_end, ("M", "E"): log_end,
        ("E", "B"): log_half, ("E", "S"): log_half,
        ("S", "B"): log_half, ("S", "S"): log_half,
    }
    return emit, trans, {"B": log_half, "S": log_half}


def _hmm_group(run: str, hmm) -> list[int]:
    """Viterbi over BMES; returns word-end indices (exclusive) covering
    ``run``. Transitions: B→{M,E}, M→{M,E}, E→{B,S}, S→{B,S}. ``hmm``
    is the (emit, trans, start) triple from ``_derive_hmm``
    (dictionary-derived) or ``_load_trained_hmm`` (corpus-trained)."""
    emit, trans, start = hmm
    n = len(run)

    def e(state: str, ch: str) -> float:
        table = emit[state]
        return table.get(ch, table[None])

    NEG = float("-inf")
    # scores[state] for position i; backpointers per position
    prev = {
        "B": start["B"] + e("B", run[0]),
        "S": start["S"] + e("S", run[0]),
        "M": NEG,
        "E": NEG,
    }
    back: list[dict[str, str]] = [{}]
    for i in range(1, n):
        ch = run[i]
        cur: dict[str, float] = {}
        bp: dict[str, str] = {}
        for state, sources in (
            ("B", (("E", trans[("E", "B")]), ("S", trans[("S", "B")]))),
            ("M", (("B", trans[("B", "M")]), ("M", trans[("M", "M")]))),
            ("E", (("B", trans[("B", "E")]), ("M", trans[("M", "E")]))),
            ("S", (("E", trans[("E", "S")]), ("S", trans[("S", "S")]))),
        ):
            best, best_src = NEG, None
            for src, t in sources:
                score = prev[src] + t
                if score > best:
                    best, best_src = score, src
            cur[state] = best + e(state, ch)
            bp[state] = best_src
        prev = cur
        back.append(bp)
    # path must end a word: final state E or S
    state = "E" if prev["E"] >= prev["S"] else "S"
    if prev[state] == NEG:
        return list(range(1, n + 1))
    states = [state]
    for i in range(n - 1, 0, -1):
        state = back[i][state]
        states.append(state)
    states.reverse()
    return [i + 1 for i, s in enumerate(states) if s in ("E", "S")]


def _emit_cjk_run(run: str, base: int, lang: str, out: list) -> None:
    """Tokenize a contiguous no-space-script run via the unigram lattice:
    right-to-left Viterbi over all dictionary words (+ single-char
    fallback) starting at each position, then a left-to-right emit along
    the best path. Ties prefer the longer word (FMM's rule), so uniform
    frequencies degrade gracefully to greedy-longest behavior.
    Punctuation never appears in dictionary words, so it always falls out
    as single chars."""
    d = _seg_dict(lang)
    if d is None:
        for k, ch in enumerate(run):
            out.append(_tok(ch, base + k, base + k + 1, False))
        return
    logp, max_len, oov_logp, hmm = d
    n = len(run)
    route = [0.0] * (n + 1)   # route[i] = best log-prob of run[i:]
    ends = [0] * n            # ends[i] = end of the first word on that path
    for i in range(n - 1, -1, -1):
        best = oov_logp + route[i + 1]   # single-char fallback
        bestj = i + 1
        for j in range(i + 2, min(i + max_len, n) + 1):
            lp = logp.get(run[i:j])
            if lp is None:
                continue
            score = lp + route[j]
            if score > best or (score == best and j > bestj):
                best, bestj = score, j
        route[i] = best
        ends[i] = bestj
    use_hmm = _os.environ.get("KG_SEGMENT_OOV_HMM") == "1"
    i = 0
    while i < n:
        j = ends[i]
        if use_hmm and j == i + 1 and not _ud.category(run[i]).startswith("P"):
            # maximal span of single-char fallbacks (an OOV span no
            # dictionary word covers): regroup with the BMES Viterbi
            k = i
            while (
                k < n and ends[k] == k + 1
                and not _ud.category(run[k]).startswith("P")
            ):
                k += 1
            if k - i >= 2:
                s = i
                for rel_end in _hmm_group(run[i:k], hmm):
                    e = i + rel_end
                    out.append(_tok(run[s:e], base + s, base + e, False))
                    s = e
                i = k
                continue
        out.append(_tok(run[i:j], base + i, base + j, False))
        i = j


def _is_emoji(ch: str) -> bool:
    cp = ord(ch)
    for lo, hi in _EMOJI_RANGES:
        if lo <= cp <= hi:
            return True
    return False


# English clitic suffixes (spaCy-style exceptions, lowercased compare)
_EN_CLITICS = ("n't", "n’t", "'s", "’s", "'re", "’re", "'ve", "’ve",
               "'ll", "’ll", "'d", "’d", "'m", "’m")
_ELISION_RE = re.compile(r"^([djlmnstc]['’]|qu['’])(?=\w)", re.IGNORECASE)
_ELISION_LANGS = frozenset({"fr", "it", "ca", "lb"})
_HYPHEN_SPLIT_RE = re.compile(r"(?<=[^\W\d_])(-|–|—)(?=[^\W\d_])")

import unicodedata as _ud


def is_punct_token(text: str) -> bool:
    """True when every char is unicode punctuation (spaCy Token.is_punct)."""
    return bool(text) and all(_ud.category(c).startswith("P") for c in text)


def _split_word_run(run: str, base: int, lang: str, out: list[tuple]) -> None:
    """Split a letters/digits run on elision, English clitics, and hyphens."""
    # hyphen infixes first: well-known → well | - | known
    if "-" in run or "–" in run or "—" in run:
        pieces: list[tuple[str, int]] = []
        pos = 0
        for m in _HYPHEN_SPLIT_RE.finditer(run):
            pieces.append((run[pos:m.start(1)], pos))
            pieces.append((m.group(1), m.start(1)))
            pos = m.end(1)
        pieces.append((run[pos:], pos))
    else:
        pieces = [(run, 0)]
    has_apos = "'" in run or "’" in run
    for piece, off in pieces:
        if not piece:
            continue
        start = base + off
        if has_apos:
            if lang in _ELISION_LANGS:
                m = _ELISION_RE.match(piece)
                if m:
                    cut = m.end(1)
                    out.append(_tok(piece[:cut], start, start + cut, False))
                    out.append(_tok(piece[cut:], start + cut, start + len(piece), False))
                    continue
            if lang == "en":
                low = piece.lower()
                clit = next(
                    (c for c in _EN_CLITICS if low.endswith(c) and len(piece) > len(c)),
                    None,
                )
                if clit:
                    cut = len(piece) - len(clit)
                    out.append(_tok(piece[:cut], start, start + cut, False))
                    out.append(_tok(piece[cut:], start + cut, start + len(piece), False))
                    continue
        out.append(_tok(piece, start, start + len(piece), False))


def _split_core(core: str, base: int, lang: str, out: list[tuple]) -> None:
    """Emit tokens for a chunk core: CJK chars and emoji sequences become
    their own tokens; remaining runs go through word-level rules."""
    if core.isascii():  # fast path: ASCII has no CJK/emoji codepoints
        _split_word_run(core, base, lang, out)
        return
    i, n = 0, len(core)
    run_start = -1
    while i < n:
        ch = core[i]
        if _is_cjk(ch):
            if run_start >= 0:
                _split_word_run(core[run_start:i], base + run_start, lang, out)
                run_start = -1
            j = i + 1
            while j < n and _is_cjk(core[j]):
                j += 1
            _emit_cjk_run(core[i:j], base + i, lang, out)
            i = j
        elif _is_emoji(ch):
            if run_start >= 0:
                _split_word_run(core[run_start:i], base + run_start, lang, out)
                run_start = -1
            j = i + 1
            # absorb modifiers / ZWJ-joined continuation
            while j < n:
                cp = ord(core[j])
                if cp in _EMOJI_MODIFIERS or (_REGIONAL[0] <= cp <= _REGIONAL[1] and i == j - 1):
                    j += 1
                elif cp == _ZWJ and j + 1 < n and _is_emoji(core[j + 1]):
                    j += 2
                else:
                    break
            out.append(_tok(core[i:j], base + i, base + j, False))
            i = j
        else:
            if run_start < 0:
                run_start = i
            i += 1
    if run_start >= 0:
        _split_word_run(core[run_start:], base + run_start, lang, out)


def _refine_chunk(chunk: str, base: int, lang: str, out: list[tuple]) -> None:
    if _TOKEN_MATCH_RE.match(chunk):
        out.append(_tok(chunk, base, base + len(chunk), False))
        return
    start, end = 0, len(chunk)
    prefix_tokens: list[tuple] = []
    while end - start > 1 and chunk[start] in _OPEN_PUNCT:
        if chunk[start] in "#@" and _TOKEN_MATCH_RE.match(chunk[start:end]):
            break
        prefix_tokens.append(_tok(chunk[start], base + start, base + start + 1, False))
        start += 1
    suffix_tokens: list[tuple] = []
    while end - start > 1:
        seg = chunk[start:end]
        m = _ELLIPSIS_RE.search(seg)
        if m and m.start() > 0:
            s = start + m.start()
            suffix_tokens.append(_tok(seg[m.start():], base + s, base + end, False))
            end = s
        elif chunk[end - 1] in _CLOSE_PUNCT:
            suffix_tokens.append(_tok(chunk[end - 1], base + end - 1, base + end, False))
            end -= 1
        elif chunk[end - 1] == "." and "." not in chunk[start:end - 1]:
            suffix_tokens.append(_tok(".", base + end - 1, base + end, False))
            end -= 1
        else:
            break
    core = chunk[start:end]
    out.extend(prefix_tokens)
    if _TOKEN_MATCH_RE.match(core):
        out.append(_tok(core, base + start, base + end, False))
    elif core:
        _split_core(core, base + start, lang, out)
    out.extend(reversed(suffix_tokens))


def tokenize_raw(text: str, lang: str = "en") -> list[tuple]:
    """Tokenize ``text`` with char offsets (SEMANTICS.md §3), as plain
    ``(text, start, end, is_space)`` tuples.

    Whitespace runs other than a single ``" "`` are emitted as space
    tokens (``is_space=True``); a single space is a silent separator.

    The scan iterates ``\\S+`` matches only (half the regex events of a
    ``\\s+|\\S+`` alternation) and derives whitespace runs from the gaps
    between consecutive matches — measured ~25% kernel speedup.
    """
    out: list[tuple] = []
    if not text:
        return out
    prev = 0
    for m in _NONWS_RE.finditer(text):
        s, e = m.span()
        gap = s - prev
        if gap and (gap > 1 or text[prev] != " "):  # whitespace gap
            out.append((text[prev:s], prev, s, True))
        seg = m[0]
        # fast path: bare ASCII-alnum word (the common web-text case);
        # isascii+isalnum is exactly the [A-Za-z0-9]+ class, at C speed
        if seg.isascii() and seg.isalnum():
            out.append((seg, s, e, False))
        else:
            _refine_chunk(seg, s, lang, out)
        prev = e
    n = len(text)
    gap = n - prev
    if gap and (gap > 1 or text[prev] != " "):  # trailing whitespace
        out.append((text[prev:n], prev, n, True))
    return out
