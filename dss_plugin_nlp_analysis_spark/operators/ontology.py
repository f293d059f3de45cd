"""Ontology preparation: cleaning (native Spark) + pattern compilation.

Reference semantics (SEMANTICS.md §5):
- python-lib/nlp/ontology_tagging/ontology_tagger.py:145-154 — "" → NULL,
  drop rows with NULL keyword/tag, error when empty (P1 in SURVEY.md §2.2).
- ontology_tagger.py:156-160 — NULL/"" category → "uncategorized" (P2).
- ontology_tagger.py:162-232 — keyword normalization + tokenization into
  per-language match patterns (J1/J2 build side).

The ontology is broadcast-sized by design (SURVEY.md §1.4): cleaning runs
as native Catalyst ops; ``collect_ontology`` brings the cleaned rows to the
driver as one Arrow table (no per-row pickling), and compilation builds
per-language token patterns to ship via ``sc.broadcast``.
``broadcast_ontology`` compiles and broadcasts once per SparkContext for
each distinct content, so repeat builds reuse the broadcast.
"""

from __future__ import annotations

import threading
from collections import OrderedDict
from collections.abc import Callable, Hashable
from dataclasses import dataclass, field

from pyspark import SparkContext
from pyspark.broadcast import Broadcast
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.langsupport import validate_languages
from ..functions.lemmas import lemma_table, lemmatize_tokens
from ..functions.textnorm import normalize_text
from ..functions.tokenizer import tokenize_raw
from .automaton import TokenAutomaton

__all__ = [
    "TagOptions",
    "CompiledOntology",
    "clean_ontology",
    "collect_ontology",
    "document_languages",
    "compile_ontology",
    "broadcast_ontology",
    "align_ontologies",
    "keyword_match_tokens",
]

UNCATEGORIZED = "uncategorized"


@dataclass(frozen=True)
class TagOptions:
    """Matching options (recipe.json:348-383 of the reference).

    ``link_entities`` is new surface (SEMANTICS.md §8): when a keyword maps
    to several tags, score candidates by context-token overlap with each
    tag's other keywords instead of the reference's dict-order tie rules.
    """

    ignore_case: bool = False
    lemmatization: bool = False
    ignore_diacritics: bool = False
    link_entities: bool = False


def clean_ontology(
    df: DataFrame,
    tag_col: str = "tag",
    keyword_col: str = "keyword",
    category_col: str | None = None,
) -> DataFrame:
    """P1 + P2 as native Catalyst ops; returns columns (tag, keyword[, category])."""
    tag = F.nullif(F.col(tag_col), F.lit(""))
    keyword = F.nullif(F.col(keyword_col), F.lit(""))
    cols = [tag.alias("tag"), keyword.alias("keyword")]
    if category_col:
        cols.append(
            F.coalesce(F.nullif(F.col(category_col), F.lit("")), F.lit(UNCATEGORIZED)).alias("category")
        )
    return df.select(*cols).where(F.col("tag").isNotNull() & F.col("keyword").isNotNull())


def document_languages(docs_df: DataFrame, lang_col: str) -> list[str]:
    """The distinct non-NULL values of ``lang_col`` (the reference's
    language pre-scan, recipe.py:14-18): one aggregate query."""
    langs = docs_df.select(lang_col).where(F.col(lang_col).isNotNull()).distinct()
    return langs.toArrow().column(0).to_pylist()


def collect_ontology(
    ontology_df: DataFrame,
    docs_df: DataFrame,
    tag_col: str = "tag",
    keyword_col: str = "keyword",
    category_col: str | None = None,
    lang_col: str | None = "lang",
    language: str = "en",
    languages: list[str] | None = None,
    skip_unknown: bool = False,
) -> tuple[list[tuple[str, str, str | None]], list[str]]:
    """Driver inputs of ``compile_ontology``: the cleaned ontology rows
    ``(tag, keyword, category or None)`` and the languages to compile.

    The rows arrive as one Arrow table, in the cleaned frame's row order
    (payload order carries the dup-keyword tie rules, SEMANTICS.md §5).
    ``languages`` defaults to the documents' distinct ``lang_col`` values
    (``[language]`` without a language column); unsupported codes raise
    unless ``skip_unknown`` (P8 guard, dku_plugin_config_loading.py:153-159).
    A streaming ``docs_df`` cannot be pre-scanned: it needs ``languages``
    (or ``lang_col=None``), and raises ``ValueError`` before any query runs.
    """
    if languages is None and lang_col and docs_df.isStreaming:
        raise ValueError(
            "a streaming docs_df needs an explicit `languages` list: the "
            f"distinct-language pre-scan of '{lang_col}' cannot run on a stream"
        )
    table = clean_ontology(ontology_df, tag_col, keyword_col, category_col).toArrow()
    tags = table.column("tag").to_pylist()
    keywords = table.column("keyword").to_pylist()
    categories = table.column("category").to_pylist() if category_col else [None] * len(tags)
    if languages is None:
        languages = document_languages(docs_df, lang_col) if lang_col else [language]
    return list(zip(tags, keywords, categories)), validate_languages(languages, skip_unknown)


@dataclass
class CompiledOntology:
    """Driver-built, picklable match spec: per-language patterns + payloads.

    ``payloads[i] = (tag, category)`` for ontology row i (post-clean order —
    order carries the dup-keyword tie rules, SEMANTICS.md §5).
    ``patterns[lang][i]`` is row i's match-key token tuple for ``lang``.
    Pickling ships only these lists; ``automaton_for`` fills each
    language's prefix trie (``TokenAutomaton``: one insert per pattern
    token, no second pass) on first use in a process and memoizes it on
    the unpickled object. A Python worker keeps that object for as long as
    it keeps the broadcast, and ``broadcast_ontology`` hands repeat builds
    of the same content the same broadcast, so their tasks find the tries
    already built.
    """

    payloads: list[tuple[str, str | None]]
    patterns: dict[str, list[tuple[str, ...]]]
    lemma_tables: dict[str, dict[str, str]]
    options: TagOptions
    has_category: bool
    # entity-linking context profiles: lang -> payload_idx -> frozenset of
    # tokens from the same tag's OTHER keywords (SEMANTICS.md §8)
    profiles: dict[str, dict[int, frozenset[str]]] = field(default_factory=dict)
    _automata: dict[str, TokenAutomaton] = field(default_factory=dict, repr=False)

    def __getstate__(self):
        state = self.__dict__.copy()
        state["_automata"] = {}  # rebuild on the executor
        return state

    def automaton_for(self, lang: str) -> TokenAutomaton:
        """The trie over ``patterns[lang]``, whose payloads are row
        indices. Without entity linking the duplicate-keyword tie rule is
        applied here, once: each distinct token tuple keeps one row — the
        first-added with categories (EntityRuler), the last-added without
        (dict overwrite) — so every hit carries exactly one payload. With
        linking every row stays, in add order, for the context scorer."""
        auto = self._automata.get(lang)
        if auto is None:
            rows = [(toks, idx) for idx, toks in enumerate(self.patterns[lang])]
            if not self.options.link_entities:
                # dict() keeps the last row of each tuple; reversed, the first
                rows = dict(reversed(rows) if self.has_category else rows).items()
            auto = TokenAutomaton()
            for toks, idx in rows:
                auto.add(toks, idx)
            self._automata[lang] = auto
        return auto


def keyword_match_tokens(
    keyword: str, lang: str, options: TagOptions, table: dict[str, str]
) -> tuple[str, ...]:
    """Normalize + tokenize (+ lemmatize) one keyword into its match-key
    token tuple (ontology_tagger.py:196-232 semantics)."""
    return _match_tokens(_normalize_keyword(keyword, options), lang, options, table)


def _normalize_keyword(keyword: str, options: TagOptions) -> str:
    return normalize_text(
        keyword,
        ignore_case=options.ignore_case,
        lemmatization=options.lemmatization,
        ignore_diacritics=options.ignore_diacritics,
    )


def _match_tokens(
    norm: str, lang: str, options: TagOptions, table: dict[str, str]
) -> tuple[str, ...]:
    toks = [t[0] for t in tokenize_raw(norm, lang)]
    if options.lemmatization:
        toks = lemmatize_tokens(toks, table)
    return tuple(toks)


def compile_ontology(
    rows: list[tuple[str, str, str | None]],
    languages: list[str],
    options: TagOptions,
    has_category: bool,
) -> CompiledOntology:
    """Compile cleaned ontology rows ``(tag, keyword, category)`` into a
    broadcastable match spec for each document language."""
    if not rows:
        raise ValueError(
            "No valid tags were found: the ontology must contain at least "
            "one row with both a keyword and a tag (reference "
            "ontology_tagger.py:151-154)."
        )
    payloads = [(tag, category) for tag, _kw, category in rows]
    tables = {
        lang: (lemma_table(lang) if options.lemmatization else {})
        for lang in languages
    }
    # keyword_match_tokens once per DISTINCT keyword (normalization is
    # language-independent, so once per keyword across languages): rows
    # repeat keywords as aliases of several tags
    norms: dict[str, str] = {}
    for _t, kw, _c in rows:
        if kw not in norms:
            norms[kw] = _normalize_keyword(kw, options)
    patterns = {}
    for lang in languages:
        toks = {kw: _match_tokens(norm, lang, options, tables[lang]) for kw, norm in norms.items()}
        patterns[lang] = [toks[kw] for _t, kw, _c in rows]
    profiles: dict[str, dict[int, frozenset[str]]] = {}
    if options.link_entities:
        for lang in languages:
            by_tag: dict[str, set[str]] = {}
            for idx, (tag, _cat) in enumerate(payloads):
                by_tag.setdefault(tag, set()).update(patterns[lang][idx])
            profiles[lang] = {
                idx: frozenset(by_tag[tag] - set(patterns[lang][idx]))
                for idx, (tag, _cat) in enumerate(payloads)
            }
    return CompiledOntology(
        payloads=payloads,
        patterns=patterns,
        lemma_tables=tables,
        options=options,
        has_category=has_category,
        profiles=profiles,
    )


# the live SparkContext's ontology broadcasts by content key, least
# recently used first; an evicted broadcast is only forgotten, never
# destroyed, since a lazy DataFrame may still reference it
_BROADCASTS: OrderedDict = OrderedDict()
_BROADCASTS_MAX = 4
_BROADCASTS_LOCK = threading.Lock()


def broadcast_ontology(
    sc: SparkContext,
    rows: list[tuple[str, str, str | None]],
    languages: list[str],
    options: TagOptions,
    has_category: bool,
    state_key: Hashable = None,
    state: Callable[[], tuple] | None = None,
) -> Broadcast:
    """The Broadcast of ``compile_ontology(rows, languages, options,
    has_category)`` — or of ``(compiled, *state())`` when ``state`` builds
    extra emitter state (see ``tagger.doc_udf``) — memoized per live
    SparkContext by the content it is built from.

    The key holds every input of the payload: the rows in order (order
    carries the tie rules), the languages, the options, ``has_category``,
    the lemma tables the compile would read (``KG_LEMMA_LOOKUP_DIR`` may
    change between calls) and ``state_key``, which must name whatever
    ``state`` reads besides ``rows``. On a hit neither the compile nor
    ``state`` nor ``sc.broadcast`` runs; the broadcast id stays the same,
    so each reused Python worker keeps its unpickled ontology and the
    automata ``CompiledOntology.automaton_for`` built on it. Entries of a
    stopped or replaced context are dropped, never returned.
    """
    lemmas = tuple(
        frozenset(lemma_table(lang).items()) for lang in languages
    ) if options.lemmatization else ()
    key = (tuple(rows), tuple(languages), options, has_category, lemmas,
           state is None, state_key)
    with _BROADCASTS_LOCK:
        for k in [k for k, (owner, _b) in _BROADCASTS.items()
                  if owner is not sc or owner._jsc is None]:
            del _BROADCASTS[k]
        hit = _BROADCASTS.get(key)
        if hit is not None:
            _BROADCASTS.move_to_end(key)
            return hit[1]
        compiled = compile_ontology(rows, languages, options, has_category)
        ref = sc.broadcast(compiled if state is None else (compiled, *state()))
        _BROADCASTS[key] = (sc, ref)
        while len(_BROADCASTS) > _BROADCASTS_MAX:
            _BROADCASTS.popitem(last=False)
        return ref


def align_ontologies(
    left: DataFrame,
    right: DataFrame,
    tag_col: str = "tag",
    keyword_col: str = "keyword",
    *,
    min_jaccard_ppm: int = 0,
    normalize: bool = True,
) -> DataFrame:
    """Ontology-version alignment: match tags of one ontology release to
    tags of another by the overlap of their keyword (alias) sets — the
    maintenance step of a living KG, where each release renames/merges
    tags and the pipeline must map old canonical nodes onto new ones.

    Candidate pairs are *blocked* by a shared normalized keyword (an
    equi-join on the keyword — never a tag x tag cartesian; a pair with
    zero shared aliases is unmatchable by definition and is never
    generated).  Each surviving pair is scored by keyword-set Jaccard in
    integer ppm: ``10^6 * |A ∩ B| / (|A| + |B| - |A ∩ B|)`` (floor).
    ``normalize`` lower-cases and trims keywords first, so case-variant
    releases still align; sizes are counted over the same normalized
    distinct sets the intersection uses (a tag whose aliases differ only
    by case counts them once — documented, matches the join key).

    Returns ``(tag_left, tag_right, shared, size_left, size_right,
    jaccard_ppm)`` filtered to ``jaccard_ppm >= min_jaccard_ppm``.

    Scale shape: ontologies are dimension-sized (SURVEY.md §1.4) but the
    same plan holds for alias tables far beyond broadcast size — two
    distinct-projections, one equi-join on the keyword, two
    map-side-combinable counts.  A stopword-like alias shared by k_L ·
    k_R tags bounds the pair blowup exactly as the wedge pivot does in
    ``graph.neighbor_jaccard``; callers with such aliases should drop
    them upstream (they carry no alignment signal).
    """
    if min_jaccard_ppm < 0 or min_jaccard_ppm > 1_000_000:
        raise ValueError(
            f"min_jaccard_ppm must be in [0, 10^6], got {min_jaccard_ppm}"
        )

    def prep(df: DataFrame, side: str) -> DataFrame:
        kw = F.col(keyword_col).cast("string")
        if normalize:
            kw = F.lower(F.trim(kw))
        return (
            df.select(
                F.col(tag_col).cast("string").alias(f"tag_{side}"),
                kw.alias("_kw"),
            )
            .where(F.col(f"tag_{side}").isNotNull() & F.col("_kw").isNotNull())
            .distinct()
        )

    lhs, rhs = prep(left, "left"), prep(right, "right")
    size_l = lhs.groupBy("tag_left").agg(F.count(F.lit(1)).alias("size_left"))
    size_r = rhs.groupBy("tag_right").agg(
        F.count(F.lit(1)).alias("size_right")
    )
    shared = (
        lhs.join(rhs, "_kw")
        .groupBy("tag_left", "tag_right")
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    out = (
        shared.join(size_l, "tag_left")
        .join(size_r, "tag_right")
        .withColumn(
            "jaccard_ppm",
            F.floor(
                (F.lit(1_000_000) * F.col("shared"))
                / (F.col("size_left") + F.col("size_right") - F.col("shared"))
            ).cast("long"),
        )
    )
    return out.select(
        "tag_left",
        "tag_right",
        F.col("shared").cast("long").alias("shared"),
        F.col("size_left").cast("long").alias("size_left"),
        F.col("size_right").cast("long").alias("size_right"),
        "jaccard_ppm",
    ).where(F.col("jaccard_ppm") >= min_jaccard_ppm)
