"""The tagging dataflow: one per-document kernel UDF, one emitter per format.

Physical plan (SURVEY.md §3, stage boundaries):

    scan → [Arrow UDF: clean → sentencize → normalize → tokenize → trie probe → emit]
         → codegen'd explode_outer / struct-field projection / to_json → sink

``doc_udf`` holds the only batch loop. It does ALL per-document text work
in a single pass (the reference tokenizes every sentence twice —
SURVEY.md §4.3 pathology not ported) and hands each document's
``(sentences, matches)`` to an *emitter* that builds that output format's
row in the same Python pass. The reference's per-document "aggregations"
(A1-A4) group by the document itself, so an emitter needs no
groupBy/pivot and the plan no shuffle (the A3 pivot's category universe is
ontology-known and becomes one tag array per category). The JVM side is an
explode or a struct-field projection — no interpreted higher-order
functions. ``kg.build_triples`` runs its own emitter through the same
``doc_udf``, for batch and streaming input alike.

Reference parity map:
- extraction      → ontology_tagger.py:94-137, sentence_splitter.py:46-118,
                    formatting/base.py:85-99 (normalize-per-sentence)
- one_row_per_match → formatter_by_match.py:42-151 (+ base.py:107 dedup)
- one_row_per_doc   → formatter_by_document.py:30-222
- one_row_per_doc_json → formatter_by_document.py:225-384
"""

from __future__ import annotations

import json
import re
from collections.abc import Iterator
from functools import partial

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import arrow_udf
from pyspark.sql.pandas.types import to_arrow_type

from ..functions.lemmas import lemmatize_tokens
from ..functions.naming import ordered_with_new_after, unique_names
from ..functions.sentencizer import sentence_token_spans
from ..functions.textnorm import clean_linebreaks, normalize_text
from ..functions.tokenizer import tokenize_raw
from .automaton import filter_leftmost_longest
from .ontology import CompiledOntology, TagOptions, broadcast_ontology, collect_ontology

__all__ = [
    "OUTPUT_FORMATS",
    "doc_udf",
    "tag_documents",
    "process_document",
]

OUTPUT_FORMATS = ("one_row_per_match", "one_row_per_doc", "one_row_per_doc_json")

# human descriptions attached as column metadata (reference
# formatting/base.py:18-28 COLUMN_DESCRIPTION, written via the S5 sink)
COLUMN_DESCRIPTIONS = {
    "tag_keywords": "List of matched keywords",
    "tag_sentences": "Sentences containing matched keywords",
    "tag_json_full": "Detailed tag column: list of matched keywords per tag "
                     "and category, count of occurrences, sentences containing matched keywords",
    "tag_json_categories": "List of tags per category",
    "tag_list": "List of all assigned tags",
    "tag": "Assigned tag",
    "tag_keyword": "Matched keyword",
    "tag_sentence": "Sentence containing the matched keyword",
    "tag_category": "Category of tag",
}


# "plain words" screen: a cleaned document of ASCII-alnum words joined by
# single spaces tokenizes to exactly its space-split words (no space tokens,
# no punctuation), is one sentence (alnum is never in SENTENCE_PUNCT_CHARS
# and never punct), and is normalization-identity for every option lattice
# point except lowercasing (handled by the lowercase-only variant). Such a
# document skips the tokenizer and the sentencizer only: ``_word_tokens``
# stands in for both, and the one sentence loop of ``process_document``
# runs as for any other document. Equivalence with the generic path is
# pinned by tests/test_round6_fastpath.py (monkeypatched never-matching
# screen) and tests/test_fuzz.py (``_word_tokens`` vs ``tokenize_raw``).
_FAST_WORDS_RE = re.compile(r"[A-Za-z0-9]+(?: [A-Za-z0-9]+)*")
_FAST_WORDS_LOWER_RE = re.compile(r"[a-z0-9]+(?: [a-z0-9]+)*")


def _word_tokens(clean: str) -> list[tuple]:
    """``tokenize_raw`` of a screened document: its space-split words as
    ``(word, start, end, False)``."""
    tokens = []
    pos = 0
    for word in clean.split(" "):
        end = pos + len(word)
        tokens.append((word, pos, end, False))
        pos = end + 1
    return tokens


def _link_entity(keys: list, ts: int, te: int, payloads: tuple, lang_profiles: dict) -> int:
    """Entity linking (SEMANTICS.md §8) among the rows of one keyword:
    the most overlap between the sentence's other tokens and each
    candidate tag's other keywords; ties keep add order."""
    context = set(keys[:ts]) | set(keys[te:])
    return max(
        payloads,
        key=lambda p: (len(context & lang_profiles.get(p, frozenset())), -p),
    )


def process_document(
    compiled: CompiledOntology, text: str | None, lang: str
) -> tuple[list[str], list[dict]]:
    """Pure-Python per-document kernel (unit-testable without Spark).

    Linebreak clean → tokenize once and split into sentences (one split
    and one sentence for a document that passes the plain-words screen) →
    per sentence: normalize (token reuse when normalization is identity) →
    lemmatize → trie probe (all-overlaps, or leftmost-longest when categories
    exist). Duplicate-keyword ties are resolved when the trie is filled
    (``CompiledOntology.automaton_for``); only entity linking scores
    several rows here. Each match is ``{sent_idx, tag, category,
    keyword}``, the keyword as it appears in the normalized sentence.
    """
    clean = clean_linebreaks(text)
    if not clean:
        return [], []
    opts = compiled.options
    fast_re = _FAST_WORDS_LOWER_RE if opts.ignore_case else _FAST_WORDS_RE
    if fast_re.fullmatch(clean):
        doc_tokens = _word_tokens(clean)
        spans = [(0, len(doc_tokens))]
    else:
        doc_tokens = tokenize_raw(clean, lang)  # plain (text, start, end, is_space)
        spans = sentence_token_spans(doc_tokens)
    auto = compiled.automaton_for(lang)
    table = compiled.lemma_tables.get(lang, {})
    lang_profiles = compiled.profiles.get(lang, {})
    sentences: list[str] = []
    matches: list[dict] = []
    for s_idx, (a, b) in enumerate(spans):
        off = doc_tokens[a][1]
        sent_text = clean[off:doc_tokens[b - 1][2]]
        sentences.append(sent_text)
        norm = normalize_text(
            sent_text,
            ignore_case=opts.ignore_case,
            lemmatization=opts.lemmatization,
            ignore_diacritics=opts.ignore_diacritics,
        )
        reused = norm == sent_text  # reuse the doc-level tokens
        toks = doc_tokens[a:b] if reused else tokenize_raw(norm, lang)
        keys = [t[0] for t in toks]
        if opts.lemmatization:
            keys = lemmatize_tokens(keys, table)
        hits = auto.find_all(keys)
        if not hits:
            continue
        if compiled.has_category:
            hits = filter_leftmost_longest(hits)
        shift = off if reused else 0
        for ts, te, payloads in hits:
            idx = (
                payloads[0] if len(payloads) == 1
                else _link_entity(keys, ts, te, payloads, lang_profiles)
            )
            tag, category = compiled.payloads[idx]
            matches.append({
                "sent_idx": s_idx,
                "tag": tag,
                "category": category,
                "keyword": norm[toks[ts][1] - shift:toks[te - 1][2] - shift],
            })
    return sentences, matches


def doc_udf(ref, schema: T.DataType, emit, default_lang: str, skip_unknown: bool):
    """The one per-document Arrow UDF: ``udf(text, lang)`` runs
    ``process_document`` on each row and returns ``emit(sentences,
    matches)`` as that row's ``schema`` value.

    ``ref`` is a Broadcast of a ``CompiledOntology``, or of a
    ``(CompiledOntology, *state)`` tuple whose state is passed to ``emit``
    ahead of ``(sentences, matches)`` — ontology-sized emitter state (the
    triples' canonical map) ships in the ontology's broadcast, not in the
    UDF closure. A NULL or empty language is ``default_lang``; a language
    the ontology was not compiled for raises, or emits ``([], [])`` under
    ``skip_unknown``.
    """
    arrow_type = to_arrow_type(schema)

    @arrow_udf(schema)
    def apply(it: Iterator[tuple[pa.Array, pa.Array]]) -> Iterator[pa.Array]:
        payload = ref.value
        compiled, *state = payload if isinstance(payload, tuple) else (payload,)
        emit_doc = partial(emit, *state) if state else emit
        known = set(compiled.patterns)
        for text_a, lang_a in it:
            rows = []
            for text, lang in zip(text_a.to_pylist(), lang_a.to_pylist()):
                lang = lang if isinstance(lang, str) and lang else default_lang
                if lang in known:
                    rows.append(emit_doc(*process_document(compiled, text, lang)))
                elif skip_unknown:
                    rows.append(emit_doc([], []))
                else:
                    raise ValueError(f"Unsupported language code: '{lang}'")
            yield pa.array(rows, type=arrow_type)

    return apply


# --- emitters: one output format's row from (sentences, matches) ----------

def _match_rows(sentences: list[str], matches: list[dict]) -> list[tuple]:
    """one_row_per_match: the (tag, keyword, sentence) rows, deduped
    keep-first within the document — the reference's whole-row
    drop_duplicates (formatting/base.py:107) without a shuffle, since input
    rows are unique by key (SEMANTICS.md §7 DIV)."""
    return list(dict.fromkeys(
        [(m["tag"], m["keyword"], sentences[m["sent_idx"]]) for m in matches]
    ))


def _match_rows_cat(sentences: list[str], matches: list[dict]) -> list[tuple]:
    """``_match_rows`` with the category in front."""
    return list(dict.fromkeys(
        [(m["category"], m["tag"], m["keyword"], sentences[m["sent_idx"]])
         for m in matches]
    ))


def _doc_lists(sentences: list[str], matches: list[dict]) -> tuple:
    """one_row_per_doc without categories (formatter_by_document.py:54-86):
    first-appearance distinct tags and keywords, and each sentence with a
    match (deduped by index, doc order) followed by "\\n"; NULL without a
    match."""
    if not matches:
        return [], [], None
    return (
        list(dict.fromkeys([m["tag"] for m in matches])),
        list(dict.fromkeys([m["keyword"] for m in matches])),
        "".join(sentences[i] + "\n" for i in dict.fromkeys([m["sent_idx"] for m in matches])),
    )


def _doc_lists_emitter(categories: list[str]):
    """one_row_per_doc with categories (formatter_by_document.py:143-222):
    one first-appearance distinct tag list per ontology category, the
    distinct keywords, and the sentences deduped by text, each followed by
    "\\n" and joined with " " — the empty string without a match
    (reference wart preserved)."""
    slot = {c: i for i, c in enumerate(categories)}

    def emit(sentences: list[str], matches: list[dict]) -> tuple:
        tags: list[dict] = [{} for _ in categories]
        for m in matches:
            tags[slot[m["category"]]][m["tag"]] = None
        return (
            *map(list, tags),
            list(dict.fromkeys([m["keyword"] for m in matches])),
            " ".join(dict.fromkeys([sentences[m["sent_idx"]] + "\n" for m in matches])),
        )

    return emit


def _slots_json(full: dict) -> str:
    """Serialize {tag: {"count": int, "sentences": [str], "keywords":
    [str]}} exactly as ``json.dumps(full, ensure_ascii=False)`` would
    (insertion order, ", "/": " separators) but ~3x faster: the value
    shape is static, so only the C string escaper is invoked per string —
    byte-for-byte equality is fuzz-pinned in tests/test_round6_fastpath.py.
    """
    parts = []
    for tag, slot in full.items():
        s = ", ".join(map(_esc_json, slot["sentences"]))
        k = ", ".join(map(_esc_json, slot["keywords"]))
        parts.append(
            f'{_esc_json(tag)}: {{"count": {slot["count"]},'
            f' "sentences": [{s}], "keywords": [{k}]}}'
        )
    return "{" + ", ".join(parts) + "}"


_esc_json = json.encoder.encode_basestring  # dumps' own ensure_ascii=False escaper


def _doc_json_builders():
    """Per-doc JSON assembly of ``one_row_per_doc_json`` — byte format
    mirrors the reference (ensure_ascii=False, ", " separators)."""

    def slots(matches, sentences, by_category: bool) -> dict[str | None, dict]:
        """``{category: {tag: slot}}`` in first-seen order; every category
        is ``None`` without categories."""
        full: dict[str | None, dict] = {}
        for mt in matches:
            tag, kw = mt["tag"], mt["keyword"]
            sent = sentences[mt["sent_idx"]]
            by_tag = full.setdefault(mt["category"] if by_category else None, {})
            slot = by_tag.get(tag)
            if slot is None:
                by_tag[tag] = {"count": 1, "sentences": [sent], "keywords": [kw]}
            else:
                slot["count"] += 1
                if sent not in slot["sentences"]:
                    slot["sentences"].append(sent)
                if kw not in slot["keywords"]:
                    slot["keywords"].append(kw)
        return full

    def build_no_cat(matches, sentences) -> str | None:
        full = slots(matches, sentences, False)
        return _slots_json(full[None]) if full else None

    def build_cat(matches, sentences) -> tuple[str | None, str | None]:
        full = slots(matches, sentences, True)
        if not full:
            return None, None
        cats_parts = ", ".join(
            f'{_esc_json(c)}: [{", ".join(map(_esc_json, by_tag))}]'
            for c, by_tag in full.items()
        )
        full_parts = ", ".join(
            f"{_esc_json(c)}: {_slots_json(by_tag)}" for c, by_tag in full.items()
        )
        return "{" + cats_parts + "}", "{" + full_parts + "}"

    return build_no_cat, build_cat


def _doc_json_emitter(has_category: bool):
    """one_row_per_doc_json (formatter_by_document.py:225-384): the
    ``(tag_json_categories?, tag_json_full)`` strings."""
    build_no_cat, build_cat = _doc_json_builders()
    if has_category:
        return lambda sentences, matches: build_cat(matches, sentences)
    return lambda sentences, matches: (build_no_cat(matches, sentences),)


# --- end-to-end entry -----------------------------------------------------

def tag_documents(
    docs_df: DataFrame,
    ontology_df: DataFrame,
    text_col: str = "text",
    lang_col: str | None = "lang",
    language: str = "en",
    tag_col: str = "tag",
    keyword_col: str = "keyword",
    category_col: str | None = None,
    output_format: str = "one_row_per_match",
    options: TagOptions = TagOptions(),
    languages: list[str] | None = None,
    skip_unknown: bool = False,
) -> DataFrame:
    """Full reference-recipe equivalent (recipe.py:1-42 semantics).

    ``languages``: pass explicitly at scale to avoid the distinct-languages
    pre-scan (the reference derives it from the data, recipe.py:14-18).
    The ontology is collected on every call but compiled and broadcast
    once per SparkContext for each distinct content
    (``ontology.broadcast_ontology``), so a repeat call reuses the
    broadcast and the automata Python workers built for it.
    """
    if output_format not in OUTPUT_FORMATS:
        raise ValueError(f"unknown output_format '{output_format}'")
    rows, languages = collect_ontology(
        ontology_df, docs_df, tag_col, keyword_col, category_col,
        lang_col, language, languages, skip_unknown,
    )
    has_category = category_col is not None
    ref = broadcast_ontology(
        docs_df.sparkSession.sparkContext, rows, languages, options, has_category
    )

    string, strings = T.StringType(), T.ArrayType(T.StringType())
    comments = {}
    if output_format == "one_row_per_match":
        base_names = (["tag_category"] if has_category else []) + [
            "tag", "tag_keyword", "tag_sentence",
        ]
        types = [string] * len(base_names)
        emit = _match_rows_cat if has_category else _match_rows
    elif output_format == "one_row_per_doc" and has_category:
        categories = list(dict.fromkeys(c for _t, _kw, c in rows))
        # NFD-normalized category in the column name (the reference calls
        # unicode_normalize_text with its default form —
        # formatter_by_document.py:198-205); two raw categories can
        # normalize to the same name, so columns map to categories by
        # position, never by name
        base_names = [f"tag_list_{normalize_text(c)}" for c in categories] + [
            "tag_keywords", "tag_sentences",
        ]
        comments = {i: f"List of '{c}' tags" for i, c in enumerate(categories)}
        types = [strings] * (len(categories) + 1) + [string]
        emit = _doc_lists_emitter(categories)
    elif output_format == "one_row_per_doc":
        base_names = ["tag_list", "tag_keywords", "tag_sentences"]
        types = [strings, strings, string]
        emit = _doc_lists
    else:
        base_names = (["tag_json_categories"] if has_category else []) + ["tag_json_full"]
        types = [string] * len(base_names)
        emit = _doc_json_emitter(has_category)

    # one kernel pass emits this format's final values (struct fields named
    # by the output columns); the JVM side is a codegen'd projection —
    # explode_outer for per-match rows, to_json of the per-doc arrays —
    # with no interpreted higher-order function and no shuffle
    finals = unique_names(base_names, docs_df.columns)
    # the kernel's temporary column
    (tmp,) = unique_names(["_tagged"], docs_df.columns + finals)
    schema = T.StructType([T.StructField(n, t) for n, t in zip(finals, types)])
    per_match = output_format == "one_row_per_match"
    udf = doc_udf(ref, T.ArrayType(schema) if per_match else schema, emit,
                  language, skip_unknown)
    tagged = udf(F.col(text_col), F.col(lang_col) if lang_col else F.lit(language))
    new_cols = []
    for i, (base, final, typ) in enumerate(zip(base_names, finals, types)):
        col = F.col(tmp)[final]
        if typ == strings:
            col = F.when(F.size(col) > 0, F.to_json(col))
        # human descriptions as column metadata (S5; base.py:72-77)
        comment = comments.get(i, COLUMN_DESCRIPTIONS.get(base))
        new_cols.append(col.alias(final, metadata={"comment": comment}))
    out = docs_df.withColumn(
        tmp, F.explode_outer(tagged) if per_match else tagged
    ).select("*", *new_cols).drop(tmp)
    return out.select(*ordered_with_new_after(out.columns, finals, text_col))
