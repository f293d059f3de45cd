"""The tagging dataflow: mention extraction + output formatting, Spark-first.

Physical plan (SURVEY.md §3, stage boundaries):

    scan → [Arrow UDF: clean → sentencize → normalize → tokenize → AC probe]
         → native Catalyst array ops / explode / to_json → sink

One vectorized pandas UDF does ALL per-document text work in a single pass
(the reference tokenizes every sentence twice — SURVEY.md §4.3 pathology not
ported) and returns ``struct<sentences, matches>``. Every output format is
then a **per-row native transform of the matches array — zero shuffle**:
the reference's per-document "aggregations" (A1-A4) group by the document
itself, so keeping matches as an array column makes groupBy/pivot
unnecessary (the A3 pivot's category universe is ontology-known and becomes
direct column synthesis).

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
from dataclasses import dataclass

import pandas as pd
import pyarrow as pa
from pyspark.sql import Column, DataFrame, SparkSession
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
from .ontology import CompiledOntology, TagOptions, collect_ontology, compile_ontology

__all__ = [
    "MATCH_SCHEMA",
    "TAGGING_SCHEMA",
    "OUTPUT_FORMATS",
    "extract_mentions",
    "tag_documents",
    "process_document",
    "TaggerResult",
    "format_per_doc",
    "format_per_doc_json",
    "format_per_match",
    "sentence_of",
]

MATCH_SCHEMA = T.StructType(
    [
        T.StructField("sent_idx", T.IntegerType()),
        T.StructField("tok_start", T.IntegerType()),
        T.StructField("tok_end", T.IntegerType()),
        T.StructField("char_start", T.IntegerType()),
        T.StructField("char_end", T.IntegerType()),
        T.StructField("tag", T.StringType()),
        T.StructField("category", T.StringType()),
        T.StructField("keyword", T.StringType()),
    ]
)

TAGGING_SCHEMA = T.StructType(
    [
        T.StructField("sentences", T.ArrayType(T.StringType())),
        T.StructField("matches", T.ArrayType(MATCH_SCHEMA)),
    ]
)

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


# "plain words" screen for the kernel fast path: a cleaned document of
# ASCII-alnum words joined by single spaces tokenizes to exactly
# ``clean.split(" ")`` (no space tokens, no punctuation), contains no
# sentence-break token (alnum is never in SENTENCE_PUNCT_CHARS and never
# punct), and is normalization-identity for every option lattice point
# except lowercasing (handled by the lowercase-only variant) — so the whole
# tokenize -> sentencize -> normalize pipeline collapses to one split and
# one automaton probe. Equivalence with the generic path is pinned by
# tests/test_round6_fastpath.py (monkeypatched never-matching screen).
_FAST_WORDS_RE = re.compile(r"[A-Za-z0-9]+(?: [A-Za-z0-9]+)*")
_FAST_WORDS_LOWER_RE = re.compile(r"[a-z0-9]+(?: [a-z0-9]+)*")


def _resolve_payload(
    compiled: CompiledOntology, keys: list, ts: int, te: int,
    payloads: tuple, lang_profiles: dict
) -> int:
    """Duplicate-keyword tie rule shared by both kernel paths."""
    if compiled.options.link_entities and len(payloads) > 1:
        # context-window scoring (SEMANTICS.md §8): overlap between the
        # sentence's other tokens and each candidate tag's other keywords;
        # ties keep add order
        context = set(keys[:ts]) | set(keys[te:])
        return max(
            payloads,
            key=lambda p: (len(context & lang_profiles.get(p, frozenset())), -p),
        )
    # dup-keyword resolution: EntityRuler keeps the first-added pattern,
    # the no-category dict keeps the last (SEMANTICS.md §5)
    return payloads[0] if compiled.has_category else payloads[-1]


def _process_simple_doc(
    compiled: CompiledOntology, clean: str, lang: str
) -> tuple[list[str], list[dict]]:
    """Fast path for documents that pass the plain-words screen: the doc is
    one sentence, its tokens are ``clean.split(" ")`` verbatim, offsets are
    prefix sums — no tokenizer, no sentencizer, no per-sentence re-scan."""
    opts = compiled.options
    parts = clean.split(" ")
    keys = (
        lemmatize_tokens(parts, compiled.lemma_tables.get(lang, {}))
        if opts.lemmatization
        else parts
    )
    hits = compiled.automaton_for(lang).find_all(keys)
    sentences = [clean]
    if not hits:
        return sentences, []
    if compiled.has_category:
        hits = filter_leftmost_longest(hits)
    starts: list[int] = []
    ends: list[int] = []
    pos = 0
    for p in parts:
        starts.append(pos)
        pos += len(p)
        ends.append(pos)
        pos += 1
    lang_profiles = compiled.profiles.get(lang, {})
    matches: list[dict] = []
    for ts, te, payloads in hits:
        idx = (
            _resolve_payload(compiled, keys, ts, te, payloads, lang_profiles)
            if len(payloads) > 1
            else payloads[0]
        )
        tag, category = compiled.payloads[idx]
        cs, ce = starts[ts], ends[te - 1]
        matches.append(
            {
                "sent_idx": 0,
                "tok_start": ts,
                "tok_end": te,
                "char_start": cs,
                "char_end": ce,
                "tag": tag,
                "category": category,
                "keyword": clean[cs:ce],
            }
        )
    return sentences, matches


def process_document(
    compiled: CompiledOntology, text: str | None, lang: str
) -> tuple[list[str], list[dict]]:
    """Pure-Python per-document kernel (unit-testable without Spark).

    Single pass: linebreak clean → tokenize once → sentence spans →
    per-sentence normalize (token reuse when normalization is identity) →
    AC probe (all-overlaps, or leftmost-longest when categories exist).
    """
    clean = clean_linebreaks(text)
    if not clean:
        return [], []
    opts = compiled.options
    fast_re = _FAST_WORDS_LOWER_RE if opts.ignore_case else _FAST_WORDS_RE
    if fast_re.fullmatch(clean):
        return _process_simple_doc(compiled, clean, lang)
    doc_tokens = tokenize_raw(clean, lang)  # plain (text, start, end, is_space)
    spans = sentence_token_spans(doc_tokens)
    auto = compiled.automaton_for(lang)
    table = compiled.lemma_tables.get(lang, {})
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
        reused = norm == sent_text  # fast path: reuse the doc-level tokens
        toks = doc_tokens[a:b] if reused else tokenize_raw(norm, lang)
        keys = [t[0] for t in toks]
        if opts.lemmatization:
            keys = lemmatize_tokens(keys, table)
        hits = auto.find_all(keys)
        if not hits:
            continue
        # char offsets are only needed once something matched
        shift = off if reused else 0
        starts = [t[1] - shift for t in toks]
        ends = [t[2] - shift for t in toks]
        if compiled.has_category:
            hits = filter_leftmost_longest(hits)
        lang_profiles = compiled.profiles.get(lang, {})
        for ts, te, payloads in hits:
            idx = (
                _resolve_payload(compiled, keys, ts, te, payloads, lang_profiles)
                if len(payloads) > 1
                else payloads[0]
            )
            tag, category = compiled.payloads[idx]
            cs, ce = starts[ts], ends[te - 1]
            matches.append(
                {
                    "sent_idx": s_idx,
                    "tok_start": ts,
                    "tok_end": te,
                    "char_start": cs,
                    "char_end": ce,
                    "tag": tag,
                    "category": category,
                    "keyword": norm[cs:ce],
                }
            )
    return sentences, matches


def _tagging_udf(compiled_ref, default_lang: str, skip_unknown: bool):
    """Arrow-batched extraction UDF. ``compiled_ref`` is a Broadcast or a
    plain CompiledOntology (duck-typed via ``.value``)."""

    out_type = to_arrow_type(TAGGING_SCHEMA)
    sents_type = out_type.field("sentences").type
    matches_type = out_type.field("matches").type

    @arrow_udf(TAGGING_SCHEMA)
    def extract(it: Iterator[tuple[pa.Array, pa.Array]]) -> Iterator[pa.Array]:
        compiled: CompiledOntology = getattr(compiled_ref, "value", compiled_ref)
        known = set(compiled.patterns)
        for text_a, lang_a in it:
            sents_out, matches_out = [], []
            for text, lang in zip(text_a.to_pylist(), lang_a.to_pylist()):
                lang = lang if isinstance(lang, str) and lang else default_lang
                if lang not in known:
                    if skip_unknown:
                        sents_out.append([])
                        matches_out.append([])
                        continue
                    raise ValueError(f"Unsupported language code: '{lang}'")
                sentences, matches = process_document(compiled, text, lang)
                sents_out.append(sentences)
                matches_out.append(matches)
            yield pa.StructArray.from_arrays(
                [
                    pa.array(sents_out, type=sents_type),
                    pa.array(matches_out, type=matches_type),
                ],
                fields=list(out_type),
            )

    return extract


def _per_match_rows_udf(compiled_ref, default_lang: str, skip_unknown: bool,
                        has_category: bool):
    """Fused extract+format UDF for ``one_row_per_match``: emits the final
    deduped (category?, tag, keyword, sentence) rows per document so the
    JVM side is a single codegen'd ``explode_outer`` — no interpreted
    ``transform``/``array_distinct``/``element_at`` higher-order chain over
    the matches array (measured ~0.8 s of the 3 s flagship wall at 500k
    docs on local[32]). Dedup mirrors ``format_per_match`` exactly:
    ordered keep-first over the whole projected row (SEMANTICS.md §7 DIV).
    """
    fields = (["category"] if has_category else []) + ["tag", "keyword", "sentence"]
    schema = T.ArrayType(
        T.StructType([T.StructField(f, T.StringType()) for f in fields])
    )
    arrow_type = to_arrow_type(schema)

    @arrow_udf(schema)
    def fmt(it: Iterator[tuple[pa.Array, pa.Array]]) -> Iterator[pa.Array]:
        compiled: CompiledOntology = getattr(compiled_ref, "value", compiled_ref)
        known = set(compiled.patterns)
        for text_a, lang_a in it:
            rows_out: list[list[tuple]] = []
            for text, lang in zip(text_a.to_pylist(), lang_a.to_pylist()):
                lang = lang if isinstance(lang, str) and lang else default_lang
                if lang not in known:
                    if skip_unknown:
                        rows_out.append([])
                        continue
                    raise ValueError(f"Unsupported language code: '{lang}'")
                sentences, matches = process_document(compiled, text, lang)
                if not matches:
                    rows_out.append([])
                    continue
                rows: list[tuple] = []
                seen: set[tuple] = set()
                if has_category:
                    for mt in matches:
                        row = (mt["category"], mt["tag"], mt["keyword"],
                               sentences[mt["sent_idx"]])
                        if row not in seen:
                            seen.add(row)
                            rows.append(row)
                else:
                    for mt in matches:
                        row = (mt["tag"], mt["keyword"], sentences[mt["sent_idx"]])
                        if row not in seen:
                            seen.add(row)
                            rows.append(row)
                rows_out.append(rows)
            yield pa.array(rows_out, type=arrow_type)

    return fmt


def _doc_json_direct_udf(compiled_ref, default_lang: str, skip_unknown: bool,
                         has_category: bool):
    """Fused extract+format UDF for ``one_row_per_doc_json``: builds the
    JSON strings in the same Python pass as extraction (one JVM↔Python
    crossing instead of two, and the sentences/matches struct never ships
    back). Byte format identical to ``_doc_json_udf``."""
    build_no_cat, build_cat = _doc_json_builders()
    if not has_category:
        schema = T.StructType([T.StructField("tag_json_full", T.StringType())])
    else:
        schema = T.StructType(
            [
                T.StructField("tag_json_categories", T.StringType()),
                T.StructField("tag_json_full", T.StringType()),
            ]
        )

    arrow_type = to_arrow_type(schema)

    @arrow_udf(schema)
    def fmt(it: Iterator[tuple[pa.Array, pa.Array]]) -> Iterator[pa.Array]:
        compiled: CompiledOntology = getattr(compiled_ref, "value", compiled_ref)
        known = set(compiled.patterns)
        for text_a, lang_a in it:
            cats_out: list[str | None] = []
            full_out: list[str | None] = []
            for text, lang in zip(text_a.to_pylist(), lang_a.to_pylist()):
                lang = lang if isinstance(lang, str) and lang else default_lang
                if lang not in known:
                    if skip_unknown:
                        matches, sentences = [], []
                    else:
                        raise ValueError(f"Unsupported language code: '{lang}'")
                else:
                    sentences, matches = process_document(compiled, text, lang)
                if has_category:
                    cats, full = build_cat(matches, sentences)
                    cats_out.append(cats)
                    full_out.append(full)
                else:
                    full_out.append(build_no_cat(matches, sentences))
            cols = ([cats_out] if has_category else []) + [full_out]
            yield pa.StructArray.from_arrays(
                [pa.array(c, type=pa.string()) for c in cols],
                fields=list(arrow_type),
            )

    return fmt


@dataclass
class TaggerResult:
    df: DataFrame
    column_descriptions: dict[str, str]


def extract_mentions(
    docs_df: DataFrame,
    compiled: CompiledOntology,
    text_col: str = "text",
    lang_col: str | None = "lang",
    language: str = "en",
    result_col: str = "_tagging",
    skip_unknown: bool = False,
    broadcast: bool = True,
) -> DataFrame:
    """Add ``result_col: struct<sentences, matches>`` to ``docs_df``."""
    spark = docs_df.sparkSession
    ref = spark.sparkContext.broadcast(compiled) if broadcast else compiled
    udf = _tagging_udf(ref, language, skip_unknown)
    lang_expr = F.col(lang_col) if lang_col else F.lit(language)
    return docs_df.withColumn(result_col, udf(F.col(text_col), lang_expr))


# --- formatters (native Catalyst ops over the matches array) -------------

def _m(res: str) -> Column:
    return F.col(res)["matches"]


def sentence_of(res: str, m: Column) -> Column:
    """Resolve a match's sentence from the result struct's sentences array
    (shared by the per-match formatter, kg.build_triples, and the
    streaming triples path — one definition of the 1-based indexing)."""
    return F.element_at(F.col(res)["sentences"], m["sent_idx"] + 1)


_sentence_of = sentence_of


def _json_or_null(arr: Column) -> Column:
    return F.when(F.size(arr) > 0, F.to_json(arr))


def format_per_match(
    df: DataFrame, res: str, has_category: bool, names: dict[str, str]
) -> DataFrame:
    """one_row_per_match: project → dedup within doc → explode_outer.

    The reference's whole-row drop_duplicates (formatting/base.py:107)
    becomes an array_distinct *within* each document — same visible rows
    (input rows are unique by key), no shuffle (SEMANTICS.md §7 DIV).
    No-match docs yield one all-NULL row (formatter_by_match.py:94-98).
    """
    fields = []
    if has_category:
        fields.append(("tag_category", lambda m: m["category"]))
    fields += [
        ("tag", lambda m: m["tag"]),
        ("tag_keyword", lambda m: m["keyword"]),
        ("tag_sentence", None),  # resolved against sentences array
    ]
    proj = F.transform(
        _m(res),
        lambda m: F.struct(
            *[
                (f(m) if f is not None else _sentence_of(res, m)).alias(names[name])
                for name, f in fields
            ]
        ),
    )
    out = df.withColumn("_match", F.explode_outer(F.array_distinct(proj)))
    for name, _ in fields:
        out = out.withColumn(names[name], F.col("_match")[names[name]])
    return out.drop("_match", res)


def format_per_doc(
    df: DataFrame,
    res: str,
    has_category: bool,
    names: dict[str, str],
    categories: list[str] | None = None,
) -> DataFrame:
    """one_row_per_doc — per-row native aggregates, zero shuffle.

    No category (formatter_by_document.py:54-86): tag_list / tag_keywords =
    JSON arrays of first-appearance distinct values; tag_sentences = concat
    of (matched sentence + "\\n") per sentence-with-a-match, doc order.
    With category (formatter_by_document.py:143-222): one
    tag_list_<NFD(category)> column per ontology category (NULL when the
    doc has none), text-deduped sentences joined with " " (empty string
    when no match — reference wart preserved).
    """
    m = _m(res)
    if not has_category:
        tags = F.transform(m, lambda x: x["tag"])
        kws = F.transform(m, lambda x: x["keyword"])
        sent_idxs = F.array_distinct(F.transform(m, lambda x: x["sent_idx"]))
        sent_texts = F.transform(
            sent_idxs, lambda i: F.element_at(F.col(res)["sentences"], i + 1)
        )
        out = (
            df.withColumn(names["tag_list"], _json_or_null(F.array_distinct(tags)))
            .withColumn(names["tag_keywords"], _json_or_null(F.array_distinct(kws)))
            .withColumn(
                names["tag_sentences"],
                F.when(
                    F.size(sent_idxs) > 0,
                    F.concat(F.array_join(sent_texts, "\n"), F.lit("\n")),
                ),
            )
        )
        return out.drop(res)
    # category path
    out = df
    for cat in categories or []:
        cat_tags = F.array_distinct(
            F.transform(
                F.filter(m, lambda x: x["category"] == F.lit(cat)), lambda x: x["tag"]
            )
        )
        out = out.withColumn(names[f"tag_list_{cat}"], _json_or_null(cat_tags))
    kws = F.array_distinct(F.transform(m, lambda x: x["keyword"]))
    sents = F.array_distinct(F.transform(m, lambda x: _sentence_of(res, x)))
    out = out.withColumn(names["tag_keywords"], _json_or_null(kws)).withColumn(
        names["tag_sentences"],
        F.array_join(F.transform(sents, lambda s: F.concat(s, F.lit("\n"))), " "),
    )
    return out.drop(res)


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
    """Per-doc JSON assembly shared by the fused and two-pass json UDFs —
    byte format mirrors the reference (ensure_ascii=False, ", " separators)."""

    def build_no_cat(matches, sentences) -> str | None:
        full: dict[str, dict] = {}
        for mt in matches:
            tag, kw = mt["tag"], mt["keyword"]
            sent = sentences[mt["sent_idx"]]
            slot = full.get(tag)
            if slot is None:
                full[tag] = {"count": 1, "sentences": [sent], "keywords": [kw]}
            else:
                slot["count"] += 1
                if sent not in slot["sentences"]:
                    slot["sentences"].append(sent)
                if kw not in slot["keywords"]:
                    slot["keywords"].append(kw)
        return _slots_json(full) if full else None

    def build_cat(matches, sentences) -> tuple[str | None, str | None]:
        cats: dict[str, list] = {}
        full: dict[str, dict] = {}
        for mt in matches:
            tag, kw, cat = mt["tag"], mt["keyword"], mt["category"]
            sent = sentences[mt["sent_idx"]]
            by_tag = full.setdefault(cat, {})
            slot = by_tag.get(tag)
            if slot is None:
                by_tag[tag] = {"count": 1, "sentences": [sent], "keywords": [kw]}
                cats.setdefault(cat, []).append(tag)
            else:
                slot["count"] += 1
                if sent not in slot["sentences"]:
                    slot["sentences"].append(sent)
                if kw not in slot["keywords"]:
                    slot["keywords"].append(kw)
        if not full:
            return None, None
        cats_parts = ", ".join(
            f'{_esc_json(c)}: [{", ".join(map(_esc_json, tags))}]'
            for c, tags in cats.items()
        )
        full_parts = ", ".join(
            f"{_esc_json(c)}: {_slots_json(by_tag)}" for c, by_tag in full.items()
        )
        return "{" + cats_parts + "}", "{" + full_parts + "}"

    return build_no_cat, build_cat


def _doc_json_udf(has_category: bool):
    """one_row_per_doc_json over an already-extracted result struct (kept
    for the compositional ``extract_mentions`` + formatter path; the
    ``tag_documents`` entry uses the fused ``_doc_json_direct_udf``)."""
    build_no_cat, build_cat = _doc_json_builders()

    if not has_category:
        schema = T.StructType([T.StructField("tag_json_full", T.StringType())])
    else:
        schema = T.StructType(
            [
                T.StructField("tag_json_categories", T.StringType()),
                T.StructField("tag_json_full", T.StringType()),
            ]
        )

    def _pairs(batch):
        # a StructType argument may arrive as a DataFrame (fields as
        # columns) or as a Series of dicts depending on the Arrow path
        if isinstance(batch, pd.DataFrame):
            yield from zip(batch["matches"], batch["sentences"])
        else:
            for res in batch:
                if res is None:
                    yield None, None
                else:
                    yield res["matches"], res["sentences"]

    @F.pandas_udf(schema)
    def to_doc_json(it: Iterator[pd.Series]) -> Iterator[pd.DataFrame]:
        for batch in it:
            rows = []
            for matches, sentences in _pairs(batch):
                matches = list(matches) if matches is not None else []
                sentences = list(sentences) if sentences is not None else []
                if has_category:
                    cats, full = build_cat(matches, sentences)
                    rows.append({"tag_json_categories": cats, "tag_json_full": full})
                else:
                    rows.append({"tag_json_full": build_no_cat(matches, sentences)})
            yield pd.DataFrame(rows, columns=[f.name for f in schema.fields])

    return to_doc_json


def format_per_doc_json(
    df: DataFrame, res: str, has_category: bool, names: dict[str, str]
) -> DataFrame:
    udf = _doc_json_udf(has_category)
    out = df.withColumn("_json", udf(F.col(res)))
    cols = (["tag_json_categories"] if has_category else []) + ["tag_json_full"]
    for c in cols:
        out = out.withColumn(names[c], F.col("_json")[c])
    return out.drop("_json", res)


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
    lemma_lookup_dir: str | None = None,
) -> DataFrame:
    """Full reference-recipe equivalent (recipe.py:1-42 semantics).

    ``languages``: pass explicitly at scale to avoid the distinct-languages
    pre-scan (the reference derives it from the data, recipe.py:14-18).
    """
    if output_format not in OUTPUT_FORMATS:
        raise ValueError(f"unknown output_format '{output_format}'")
    rows, languages = collect_ontology(
        ontology_df, docs_df, tag_col, keyword_col, category_col,
        lang_col, language, languages, skip_unknown,
    )
    has_category = category_col is not None
    compiled = compile_ontology(
        rows, languages, options, has_category, lemma_lookup_dir
    )
    res = "_tagging"

    input_cols = docs_df.columns
    categories = None
    if output_format == "one_row_per_match":
        base_names = (["tag_category"] if has_category else []) + [
            "tag", "tag_keyword", "tag_sentence",
        ]
    elif output_format == "one_row_per_doc":
        if has_category:
            categories = []
            for _t, c in compiled.payloads:  # first-appearance category order
                if c not in categories:
                    categories.append(c)
            # NFD-normalized category in the column name (the reference calls
            # unicode_normalize_text with its default form — formatter_by_document.py:198-205)
            base_names = [
                f"tag_list_{normalize_text(c)}" for c in categories
            ] + ["tag_keywords", "tag_sentences"]
        else:
            base_names = ["tag_list", "tag_keywords", "tag_sentences"]
    else:
        base_names = (["tag_json_categories"] if has_category else []) + ["tag_json_full"]

    finals = unique_names(base_names, input_cols)
    names = dict(zip(base_names, finals))
    if output_format == "one_row_per_doc" and has_category:
        # per-category columns keyed by raw category for the formatter —
        # mapped POSITIONALLY (categories[i] -> finals[i]), because two raw
        # categories can NFD-normalize to the same base name; a dict keyed
        # by the normalized name would collapse them and orphan a column
        for c, fin in zip(categories, finals):
            names[f"tag_list_{c}"] = fin

    # per_match and json run a FUSED extract+format UDF (formatting done in
    # the same Python pass; JVM side is a codegen'd explode/projection with
    # no interpreted higher-order functions and no second Python crossing);
    # per_doc keeps the compositional extract_mentions + native formatter.
    spark = docs_df.sparkSession
    lang_expr = F.col(lang_col) if lang_col else F.lit(language)
    if output_format == "one_row_per_match":
        ref = spark.sparkContext.broadcast(compiled)
        udf = _per_match_rows_udf(ref, language, skip_unknown, has_category)
        out = docs_df.withColumn(
            "_match", F.explode_outer(udf(F.col(text_col), lang_expr))
        )
        fields = (["category"] if has_category else []) + ["tag", "keyword", "sentence"]
        for b, f in zip(base_names, fields):
            out = out.withColumn(names[b], F.col("_match")[f])
        out = out.drop("_match")
    elif output_format == "one_row_per_doc":
        tagged = extract_mentions(
            docs_df, compiled, text_col, lang_col, language, res, skip_unknown
        )
        out = format_per_doc(tagged, res, has_category, names, categories)
    else:
        ref = spark.sparkContext.broadcast(compiled)
        udf = _doc_json_direct_udf(ref, language, skip_unknown, has_category)
        out = docs_df.withColumn("_json", udf(F.col(text_col), lang_expr))
        for c in base_names:
            out = out.withColumn(names[c], F.col("_json")[c])
        out = out.drop("_json")
    out = out.select(*ordered_with_new_after(out.columns, finals, text_col))
    # attach human descriptions as column metadata (S5; base.py:72-77)
    comments = {}
    for base, final in names.items():
        if base in COLUMN_DESCRIPTIONS:
            comments[final] = COLUMN_DESCRIPTIONS[base]
        elif base.startswith("tag_list_") and categories:
            raw = base[len("tag_list_"):]
            comments[final] = f"List of '{raw}' tags"
    for col, comment in comments.items():
        if col in out.columns:
            out = out.withColumn(col, F.col(col).alias(col, metadata={"comment": comment}))
    return out.select(*ordered_with_new_after(out.columns, finals, text_col))
