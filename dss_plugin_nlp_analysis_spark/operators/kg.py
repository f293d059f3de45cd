"""KG materialization: triples + alias canonicalization (SEMANTICS.md §8).

New surface (north_star in BASELINE.json): the reference stops at tag
columns; this engine materializes `(subj=url, pred=tag, obj=canonical
ontology node)` triples with full provenance.

Canonicalization is a connected-components pass over the alias graph
(tag ↔ keyword edges from the ontology). The ontology is broadcast-sized
(SURVEY.md §1.4), so union-find runs on the driver and the resulting
tag→canonical map ships in the ontology's broadcast, applied per match
by the kernel UDF's triples emitter — no iterative distributed CC and no
join is needed (a billion-node alias graph would need both;
``canonical_map`` is the one place that would change).

The operators over the triple table share their preps, so each has one
definition: ``_facts`` (the non-NULL (subj, pred, obj[, ts]) rows under
the standard names), ``_doc_mentions`` (distinct document mentions),
``_co_mentions`` (the ``obj_a < obj_b`` self-join of a mention frame on
its document or sentence key), ``_sentence_relations`` (the connector
between two entities co-mentioned in one sentence, for
``relation_patterns`` and ``relation_extract``) and ``url.source_host``
(the source key of a url subject).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.textnorm import normalize_text
from .ontology import TagOptions, broadcast_ontology, collect_ontology
from .tagger import doc_udf
from .url import source_host

__all__ = [
    "canonical_map",
    "build_triples",
    "triple_history",
    "tag_cooccurrence",
    "negative_samples",
    "transe_scores",
    "transe_ranks",
    "constraint_violations",
    "decayed_fact_scores",
    "inverse_predicates",
    "entity_salience",
    "triple_delta",
    "attribute_triples",
    "predicate_profile",
    "infer_entity_types",
    "linearize_triples",
    "current_facts",
    "attribute_schema",
    "normalize_literals",
    "hearst_patterns",
    "relation_patterns",
    "fact_support",
    "relation_extract",
    "cooccurrence_lift",
    "truth_discovery",
    "taxonomy_edges",
    "TRIPLE_COLUMNS",
    "ntriples_lines",
]

TRIPLE_COLUMNS = [
    "subj", "pred", "obj", "keyword", "sentence", "sent_idx",
    "category", "lang", "warc_ts",
]


class _UnionFind:
    def __init__(self) -> None:
        self.parent: dict[str, str] = {}

    def find(self, x: str) -> str:
        p = self.parent.setdefault(x, x)
        while p != x:
            self.parent[x] = p = self.parent.setdefault(p, p)
            x = p
            p = self.parent[x]
        return x

    def union(self, a: str, b: str) -> None:
        ra, rb = self.find(a), self.find(b)
        if ra != rb:
            self.parent[rb] = ra


def canonical_map(rows: list[tuple[str, str, str | None]]) -> dict[str, str]:
    """tag → canonical node id.

    Alias graph: tags sharing a *normalized* keyword surface form are
    aliases (e.g. 'NYC' via keyword 'New York' and 'New_York_City' via the
    same keyword). Canonical id = lexicographically smallest tag in the
    component (deterministic).
    """
    uf = _UnionFind()
    for tag, keyword, _cat in rows:
        kw_node = "\x00kw:" + normalize_text(keyword, ignore_case=True)
        uf.union("tag:" + tag, kw_node)
    components: dict[str, list[str]] = {}
    for tag, _kw, _cat in rows:
        root = uf.find("tag:" + tag)
        components.setdefault(root, []).append(tag)
    return {
        tag: min(tags)
        for tags in components.values()
        for tag in tags
    }


_TRIPLE_ROWS_SCHEMA = T.ArrayType(
    T.StructType(
        [
            T.StructField("pred", T.StringType()),
            T.StructField("obj", T.StringType()),
            T.StructField("keyword", T.StringType()),
            T.StructField("sentence", T.StringType()),
            T.StructField("sent_idx", T.IntegerType()),
            T.StructField("category", T.StringType()),
        ]
    )
)


def _triple_rows(cmap: dict[str, str], sentences: list[str], matches: list[dict]) -> list[tuple]:
    """Triples emitter: one (pred, obj, keyword, sentence, sent_idx,
    category) row per match, ``obj = cmap.get(tag, tag)`` (the former
    broadcast left join + coalesce onto the canonical node)."""
    return [
        (
            m["tag"],
            cmap.get(m["tag"], m["tag"]),
            m["keyword"],
            sentences[m["sent_idx"]],
            m["sent_idx"],
            m["category"],
        )
        for m in matches
    ]


def build_triples(
    docs_df: DataFrame,
    ontology_df: DataFrame,
    url_col: str = "url",
    text_col: str = "text",
    lang_col: str | None = "lang",
    ts_col: str | None = "warc_ts",
    language: str = "en",
    tag_col: str = "tag",
    keyword_col: str = "keyword",
    category_col: str | None = "category",
    options: TagOptions = TagOptions(),
    languages: list[str] | None = None,
    canonicalize: bool = True,
    skip_unknown: bool = True,
) -> DataFrame:
    """Emit the triples table (one row per mention, no-match docs dropped).

    Physical plan: one ``tagger.doc_udf`` pass whose ``_triple_rows``
    emitter resolves each match's sentence and maps its tag to the
    canonical node, then one codegen'd explode. The tag→canonical map
    (driver-computed, ontology-sized) rides the ontology's broadcast
    instead of a broadcast-join dimension, so the plan has zero joins and
    zero exchanges. Hot-domain skew is defused upstream:
    ``plans.checkpoint.run_checkpointed_build`` repartitions each bucket
    group by ``xxhash64(url)`` before calling its ``triple_fn``; a direct
    caller with a domain-partitioned input does the same repartition
    itself.

    A streaming ``docs_df`` runs the same plan per micro-batch; it needs
    ``languages`` (or ``lang_col=None``), since the distinct-language
    pre-scan cannot run on a stream.

    The ontology is collected on every call, but compiled, canonicalized
    and broadcast once per SparkContext for each distinct content
    (``ontology.broadcast_ontology``): the bucket groups of one
    checkpointed build, and repeat builds in a session, share one
    broadcast, so Python workers reuse the automata they built for it.
    """
    rows, languages = collect_ontology(
        ontology_df, docs_df, tag_col, keyword_col, category_col,
        lang_col, language, languages, skip_unknown,
    )
    ref = broadcast_ontology(
        docs_df.sparkSession.sparkContext, rows, languages, options,
        category_col is not None, state_key=("canonical_map", canonicalize),
        state=lambda: (canonical_map(rows) if canonicalize else {},),
    )

    udf = doc_udf(ref, _TRIPLE_ROWS_SCHEMA, _triple_rows, language, skip_unknown)
    lang_expr = F.col(lang_col) if lang_col else F.lit(language)
    out = docs_df.select(
        F.col(url_col).alias("subj"),
        lang_expr.alias("lang"),
        (F.col(ts_col) if ts_col else F.lit(None).cast("timestamp")).alias("warc_ts"),
        F.explode(udf(F.col(text_col), lang_expr)).alias("m"),
    )
    return out.select(
        "subj", *[F.col("m")[f.name].alias(f.name) for f in _TRIPLE_ROWS_SCHEMA.elementType],
        "lang", "warc_ts",
    )


def triple_history(
    triples: DataFrame,
    subj: str = "subj",
    pred: str = "pred",
    obj: str = "obj",
    ts_col: str = "warc_ts",
) -> DataFrame:
    """Temporal KG fact table: collapse per-mention triples from many
    crawl snapshots into one row per (subj, pred, obj) with its observed
    validity interval — (first_seen, last_seen, n_snapshots, n_mentions).

    This is the KG-side "latest/when" surface the crawl family already
    has for pages (``latest_by_key``, ``snapshot_diff``): a fact that
    stops appearing after some crawl is a candidate stale triple; one
    seen in a single snapshot is low-confidence.

    Scale shape: one groupBy on the triple key — min/max/count are all
    map-side combinable; ``n_snapshots`` (count distinct ts) is the one
    two-phase aggregate, keyed by the same triple key so it rides the
    same exchange. No windows, no collects.
    """
    return triples.groupBy(
        F.col(subj).alias("subj"),
        F.col(pred).alias("pred"),
        F.col(obj).alias("obj"),
    ).agg(
        F.min(ts_col).alias("first_seen"),
        F.max(ts_col).alias("last_seen"),
        F.count_distinct(F.col(ts_col)).alias("n_snapshots"),
        F.count(F.lit(1)).alias("n_mentions"),
    )


def tag_cooccurrence(
    triples: DataFrame,
    subj: str = "subj",
    obj: str = "obj",
    *,
    min_count: int = 1,
) -> DataFrame:
    """Entity co-mention edges: for every unordered pair of canonical
    objects mentioned in the SAME subject document, the number of
    co-mentioning documents — the relatedness graph a KG build feeds to
    link prediction and to ontology curation (two tags that co-occur in
    thousands of pages but share no ontology edge are a curation gap).

    Returns (obj_a, obj_b, n_docs) with obj_a < obj_b.

    Scale shape: DISTINCT (subj, obj) first (the mention table is the
    big side; distinct collapses repeat mentions before any pairing),
    then a self-equi-join on subj. Per-key blowup is bounded by the
    ontology size — a document can co-mention at most |ontology| distinct
    objects — so the join never degenerates the way an unbounded
    token-level pairing would; AQE skew-splits tag-dense documents. The
    final count is map-side combinable on (obj_a, obj_b).
    """
    return (
        _co_mentions(_doc_mentions(triples, subj, obj), ["s"])
        .groupBy("obj_a", "obj_b")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .where(F.col("n_docs") >= min_count)
    )


def _doc_mentions(triples: DataFrame, subj: str, obj: str) -> DataFrame:
    """The distinct (s, obj) document mentions of ``triples`` with a
    non-NULL object."""
    return (
        triples.select(F.col(subj).alias("s"), F.col(obj).alias("obj"))
        .where(F.col("obj").isNotNull())
        .distinct()
    )


def _co_mentions(m: DataFrame, keys: list[str]) -> DataFrame:
    """Self-join of the mention frame ``m`` on ``keys`` (``["s"]``: one
    document, ``["s", "si"]``: one sentence). Every other column of ``m``
    comes out twice, suffixed ``_a`` and ``_b``; each unordered pair of
    distinct objects appears once, as ``obj_a < obj_b`` (a NULL object
    never pairs)."""
    rest = [c for c in m.columns if c not in keys]

    def side(suffix: str) -> DataFrame:
        return m.select(*keys, *[F.col(c).alias(c + suffix) for c in rest])

    return side("_a").join(side("_b"), keys).where(
        F.col("obj_a") < F.col("obj_b")
    )


def _facts(
    triples: DataFrame,
    subj: str,
    pred: str,
    obj: str,
    ts_col: str | None = None,
) -> DataFrame:
    """The rows of ``triples`` with no NULL subj, pred or obj (nor ts, when
    ``ts_col`` is given), projected to ``subj``/``pred``/``obj``[/``ts``].
    One row per input row: callers that need distinct facts add
    ``.distinct()``. The filter runs BEFORE the renaming projection: the
    original Column refs resolve even if the input carries duplicate
    names (after the select they would need analyzer rescue)."""
    cols = [subj, pred, obj] + ([ts_col] if ts_col is not None else [])
    keep = F.col(subj).isNotNull()
    for c in cols[1:]:
        keep = keep & F.col(c).isNotNull()
    return triples.where(keep).select(
        *[F.col(c).alias(n) for c, n in zip(cols, ("subj", "pred", "obj", "ts"))]
    )


def negative_samples(
    triples: DataFrame,
    subj: str = "subj",
    pred: str = "pred",
    obj: str = "obj",
    *,
    n_per: int = 1,
    seed: str = "",
) -> DataFrame:
    """Deterministic corrupt-tail negative sampling for KG-embedding
    training (TransE-style): for each distinct positive triple, ``n_per``
    corrupted copies with the object replaced by a pseudo-random entity
    drawn from the distinct-object vocabulary.

    The draw is ``md5(seed|rank|subj|pred|obj)`` mapped to an entity index —
    the engine-portable construction shared with ``sampling.sample_hash``:
    reproducible on any engine, stable under repartitioning and retries
    (a pure function of the triple), and independent across ``seed``/rank
    values. Corruptions that collide with the true object are dropped
    (standard practice; a fixed per-row retry chain would buy little —
    collision probability is 1/|entities|).

    Returns (subj, pred, obj, neg_obj, neg_rank) with neg_rank in
    [0, n_per) — rows whose draw collided are absent, so consumers see a
    variable number of negatives per positive (documented, not padded).
    Triples with a NULL component are excluded (the five-field draw key
    is undefined for them — NULL propagates through the concatenation on
    any engine and would silently alias distinct triples otherwise).

    Scale shape: the entity vocabulary of a KG is ontology-sized (it is
    the canonical-node dimension, not the document corpus), so it is
    collected ONCE driver-side — same contract as ``canonical_map`` —
    and the dense index→entity map ships back as a broadcast-join
    literal: the triples lineage is scanned once for the vocabulary and
    once at execution, with no count job and no single-partition window.
    The fact side is a pure map (hash + explode) plus that broadcast
    join: zero data shuffles at any corpus size. Entity ids sort by
    Python string order = UTF-8 binary order — the same total order
    every engine's ORDER BY gives, so the index is engine-portable.
    """
    if n_per < 1:
        raise ValueError(f"n_per must be >= 1, got {n_per}")
    from .sampling import sample_hash

    # dim-sized by contract: collect + sort driver-side (no window job)
    ents = sorted(
        r[0]
        for r in triples.select(F.col(obj))
        .where(F.col(obj).isNotNull())
        .distinct()
        .collect()
    )
    n_entities = len(ents)
    if n_entities < 2:
        raise ValueError(
            f"need >= 2 distinct entities to corrupt, got {n_entities}"
        )
    ents_idx = triples.sparkSession.createDataFrame(
        [(i, e) for i, e in enumerate(ents)], ["_idx", "neg_obj"]
    )
    base = _facts(triples, subj, pred, obj).distinct()
    ranks = F.explode(F.array(*[F.lit(i) for i in range(n_per)])).alias(
        "neg_rank"
    )
    keyed = base.select("*", ranks).select(
        "*",
        (
            sample_hash(
                F.concat_ws(
                    "|",
                    F.col("neg_rank").cast("string"),
                    F.col("subj").cast("string"),
                    F.col("pred"),
                    F.col("obj"),
                ),
                seed,
            )
            % n_entities
        ).alias("_idx"),
    )
    return (
        keyed.join(F.broadcast(ents_idx), "_idx")
        .where(F.col("neg_obj") != F.col("obj"))
        .select("subj", "pred", "obj", "neg_obj", "neg_rank")
    )


def _embedding_component(col: Column, dim: int, kind: str, scale: int) -> Column:
    """One integer component of a deterministic pseudo-embedding: the
    md5-derived uniform hash of ``kind|dim|value`` mapped into
    ``[-scale, scale]``.  Engine-portable (the same first-15-hex-digit
    construction as ``sampling.sample_hash``), a pure function of the
    value — stable under repartitioning, retries, and engines."""
    key = F.concat(F.lit(f"{kind}|{dim}|"), col.cast("string"))
    raw = F.conv(F.substring(F.md5(key), 1, 15), 16, 10).cast("long")
    return raw % (2 * scale + 1) - scale


def _transe_energy(tail: Column, dims: int, scale: int) -> Column:
    """``sum_d |E(subj,d) + R(pred,d) - E(tail,d)|`` over the ``subj`` and
    ``pred`` columns: the L1 TransE energy of the pseudo-embeddings."""
    total: Column | None = None
    for d in range(dims):
        term = F.abs(
            _embedding_component(F.col("subj"), d, "ent", scale)
            + _embedding_component(F.col("pred"), d, "rel", scale)
            - _embedding_component(tail, d, "ent", scale)
        )
        total = term if total is None else total + term
    assert total is not None
    return total


def transe_scores(
    triples: DataFrame,
    subj: str = "subj",
    pred: str = "pred",
    obj: str = "obj",
    *,
    dims: int = 4,
    n_neg: int = 1,
    seed: str = "",
    scale: int = 100,
) -> DataFrame:
    """TransE-style energy scoring of positive triples against their
    corrupt-tail negatives, in exact integer arithmetic.

    ``energy(s, p, o) = sum_d |E(s,d) + R(p,d) - E(o,d)|`` — the L1
    translation energy of Bordes et al.'s TransE, evaluated over
    deterministic integer pseudo-embeddings (``E`` in the ``ent``
    namespace, ``R`` in ``rel``; each component an md5-derived uniform
    integer in ``[-scale, scale]``).  Real KG-embedding training replaces
    the hash embeddings with learned vectors; the *pipeline* shape —
    score every (positive, corrupt-tail negative) pair, emit the margin
    the ranking loss is driven by — is exactly this operator, and the
    deterministic embeddings make it oracle-checkable end to end.

    Returns ``(subj, pred, obj, neg_obj, neg_rank, pos_energy,
    neg_energy, margin)`` with ``margin = neg_energy - pos_energy``
    (positive margin = the corruption scores worse than the truth, the
    direction a trained model is pushed toward).  Rows follow
    ``negative_samples``' contract (collision draws absent, NULL
    components excluded).

    Scale shape: everything past ``negative_samples`` (itself a pure map
    plus one broadcast dim join) is per-row column math — ``2 * dims``
    md5 calls per side, no shuffle, no UDF; whole-stage codegen fuses the
    energy sum into the same stage as the join.
    """
    if dims < 1:
        raise ValueError(f"dims must be >= 1, got {dims}")
    if scale < 1:
        raise ValueError(f"scale must be >= 1, got {scale}")
    negs = negative_samples(
        triples, subj, pred, obj, n_per=n_neg, seed=seed
    )

    return negs.select(
        "*",
        _transe_energy(F.col("obj"), dims, scale).alias("pos_energy"),
        _transe_energy(F.col("neg_obj"), dims, scale).alias("neg_energy"),
    ).withColumn("margin", F.col("neg_energy") - F.col("pos_energy"))


def transe_ranks(
    triples: DataFrame,
    subj: str = "subj",
    pred: str = "pred",
    obj: str = "obj",
    *,
    dims: int = 4,
    scale: int = 100,
    filtered: bool = True,
) -> DataFrame:
    """Link-prediction evaluation under the standard filtered protocol
    (Bordes et al.): for each distinct positive triple, the rank of the
    true tail among the full entity vocabulary by TransE energy, with
    candidates that form OTHER true triples removed first (so a model is
    not penalized for ranking a different correct answer high).

    Rank = 1 + |{candidate e : energy(s,p,e) < energy(s,p,o), or equal
    energy and e < o}| — the deterministic total order every engine's
    sort gives, no RNG tie-break. Returns ``(subj, pred, obj, rank,
    hits1, hits3, hits10)``; aggregate MRR/hits@k downstream with one
    combinable groupBy (``evalmetrics`` owns the retrieval-style rollup).

    Scale shape: candidates = positives x the broadcast entity dimension
    (vocabulary is ontology-sized — the ``negative_samples`` contract),
    filtered by one anti equi-join against the fact table on
    ``(subj, pred, candidate)``, then a map-side-combinable count back
    onto the triple key. The n·m candidate blowup is bounded by the
    vocabulary size m, never the corpus.
    """
    if dims < 1:
        raise ValueError(f"dims must be >= 1, got {dims}")
    base = _facts(triples, subj, pred, obj).distinct()
    ents = base.select(F.col("obj").alias("cand")).distinct()

    cands = base.join(F.broadcast(ents))
    if filtered:
        # drop candidates that are themselves true facts — EXCEPT the
        # true tail of the row under evaluation, which must stay
        facts = base.select(
            F.col("subj").alias("_fs"),
            F.col("pred").alias("_fp"),
            F.col("obj").alias("_fo"),
        )
        cands = cands.join(
            facts,
            (F.col("subj") == F.col("_fs"))
            & (F.col("pred") == F.col("_fp"))
            & (F.col("cand") == F.col("_fo"))
            & (F.col("cand") != F.col("obj")),
            "left_anti",
        )
    scored = cands.select(
        "subj",
        "pred",
        "obj",
        "cand",
        _transe_energy(F.col("cand"), dims, scale).alias("_ce"),
        _transe_energy(F.col("obj"), dims, scale).alias("_pe"),
    )
    beats = F.when(
        (F.col("cand") != F.col("obj"))
        & (
            (F.col("_ce") < F.col("_pe"))
            | ((F.col("_ce") == F.col("_pe")) & (F.col("cand") < F.col("obj")))
        ),
        1,
    ).otherwise(0)
    ranked = scored.groupBy("subj", "pred", "obj").agg(
        (F.lit(1) + F.sum(beats)).cast("long").alias("rank")
    )
    return ranked.select(
        "subj",
        "pred",
        "obj",
        "rank",
        (F.col("rank") <= 1).cast("int").alias("hits1"),
        (F.col("rank") <= 3).cast("int").alias("hits3"),
        (F.col("rank") <= 10).cast("int").alias("hits10"),
    )


def entity_salience(
    triples: DataFrame,
    subj: str = "subj",
    obj: str = "obj",
    sent_idx_col: str = "sent_idx",
) -> DataFrame:
    """Per-(document, entity) salience: how central each mentioned entity
    is to the page — (subj, obj, n_mentions, first_sent_idx,
    salience_micro) where ``salience_micro`` is the entity's share of the
    document's mentions in integer parts-per-million
    (``(1e6 * n_mentions) div total_mentions`` — floor division, so the
    value-hash is engine-portable; doubles would tie-break differently).

    The ranking signal a KG build attaches to every triple: a page
    mentioning one entity twelve times is *about* it; a page mentioning
    twelve entities once each describes none of them. ``first_sent_idx``
    (earliest mention position) is the standard lead-bias feature —
    consumers combine it with the share rather than this operator baking
    in a weighting.

    Scale shape: two map-side-combinable groupBys (per-(subj,obj) and
    per-subj) + one subj-keyed equi-join — the aggregation output is
    entity-mention-sized, the join key is the document, AQE skew-splits
    tag-dense pages. No windows, no collects.
    """
    per_entity = triples.groupBy(
        F.col(subj).alias("subj"), F.col(obj).alias("obj")
    ).agg(
        F.count(F.lit(1)).alias("n_mentions"),
        F.min(sent_idx_col).alias("first_sent_idx"),
    )
    per_doc = triples.groupBy(F.col(subj).alias("subj")).agg(
        F.count(F.lit(1)).alias("total_mentions")
    )
    return per_entity.join(per_doc, "subj").select(
        "subj",
        "obj",
        "n_mentions",
        "first_sent_idx",
        F.expr(
            "(cast(1000000 as bigint) * n_mentions) div total_mentions"
        ).alias("salience_micro"),
    )


def triple_delta(
    old: DataFrame,
    new: DataFrame,
    subj: str = "subj",
    pred: str = "pred",
    obj: str = "obj",
) -> DataFrame:
    """Incremental KG update: classify every distinct (subj, pred, obj)
    across two crawl builds as ``added`` | ``removed`` | ``same`` — the
    triple-level analogue of ``url.snapshot_diff`` (which diffs page
    content; this diffs the facts extracted from it). The per-ingest
    report an incremental KG pipeline logs, and the write set for a
    merge-on-read sink (only ``added``/``removed`` need touching).

    One full outer equi-join on the triple key after both sides reduce
    to DISTINCT key projections — the shuffle ships triple keys only,
    mentions/provenance collapse first; AQE skew-splits hot entities.

    Triples with a NULL component are excluded on BOTH sides (same
    contract as ``negative_samples``): the equi-join is null-unsafe, so
    a NULL-keyed fact present in both builds would otherwise surface as
    a contradictory added+removed pair instead of ``same``.
    """

    def keys(t: DataFrame, marker: str) -> DataFrame:
        return _facts(t, subj, pred, obj).distinct().withColumn(marker, F.lit(1))

    o = keys(old, "_in_old")
    n = keys(new, "_in_new")
    return o.join(n, ["subj", "pred", "obj"], "full").select(
        "subj",
        "pred",
        "obj",
        F.when(F.col("_in_old").isNull(), F.lit("added"))
        .when(F.col("_in_new").isNull(), F.lit("removed"))
        .otherwise(F.lit("same"))
        .alias("status"),
    )


def attribute_triples(
    df: DataFrame,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """Literal-valued attribute extraction: every ``key: value`` line of
    a document becomes (subj, key, value, line_idx) — the
    infobox/metadata-block counterpart of the mention-based entity
    triples (north rule "triple extraction" covers entity->entity via
    the tagger AND entity->literal via structured lines; a web KG needs
    both).

    Line grammar (deliberately literal, no regex — byte-identical on any
    engine): split on newline; a line contributes iff it contains
    ``': '`` with a non-empty key before the FIRST occurrence and a
    non-empty value after it; key/value are trimmed. Everything else is
    prose and ignored. line_idx is the 0-based line number (provenance,
    like sent_idx in the mention path).

    Pure map + explode: zero shuffle at any corpus size; the
    posexplode_outer + isNotNull guard avoids the
    InferFiltersFromGenerate re-inlining regression (see
    duplicated_spans).
    """
    # \r?\n: a CRLF page would otherwise leave '\r' glued to every value
    # (trim strips spaces, not carriage returns) and poison downstream
    # typing (normalize_literals) — split handles both line conventions
    lines = F.split(F.coalesce(F.col(text_col), F.lit("")), "\r?\n")
    w = df.select(F.col(id_col).alias("subj"), lines.alias("_lines"))
    e = w.select(
        "subj", F.posexplode_outer("_lines").alias("line_idx", "line")
    ).where(F.col("line_idx").isNotNull())
    pos = F.instr(F.col("line"), ": ")
    key = F.trim(F.substring(F.col("line"), 1, pos - 1))
    value = F.trim(
        F.substring(F.col("line"), pos + 2, F.length("line"))
    )
    return (
        e.select("subj", "line_idx", key.alias("key"), value.alias("value"))
        .where((F.col("key") != "") & (F.col("value") != ""))
    )


def predicate_profile(
    triples: DataFrame,
    subj: str = "subj",
    pred: str = "pred",
    obj: str = "obj",
) -> DataFrame:
    """Per-predicate cardinality profile of a triple store — the KG
    quality-assurance report a build runs after every materialize:

    - ``n_mentions``   raw extraction rows (provenance-duplicated)
    - ``n_triples``    distinct (subj, pred, obj) facts
    - ``n_subjects`` / ``n_objects``  distinct endpoints
    - ``max_obj_per_subj``  worst-case fan-out of one subject
    - ``n_multivalued_subjects``  subjects asserting >1 distinct object —
      for a predicate curators declared functional (birth_date,
      capital_of), every such subject is a contradiction to resolve
    - ``avg_obj_ppm``  mean objects-per-subject in integer parts-per-
      million (``(1e6 * n_triples) div n_subjects`` — floor division, so
      the value hashes identically across engines)

    This is how a pipeline *discovers* which predicates behave
    functionally (avg ~1e6 ppm, max 1) versus set-valued, and where
    extraction noise concentrates (a predicate whose max fan-out is 10^4
    is usually a tagger bug, not a fact).

    Triples with a NULL component are excluded (same contract as
    ``triple_delta``/``negative_samples`` — NULL-keyed rows are
    extraction failures, not facts).

    Scale shape: one distinct over (pred, subj, obj) — the only shuffle
    that sees data volume, map-side combinable — then strictly shrinking
    map-side-combinable groupBys joined on ``pred`` (predicate-count
    rows, effectively a dimension join; AQE broadcasts it). No windows,
    no collects."""
    d = _facts(triples, subj, pred, obj)
    dd = d.distinct()
    per_subj = dd.groupBy("pred", "subj").agg(
        F.count(F.lit(1)).alias("n_obj")
    )
    main = per_subj.groupBy("pred").agg(
        F.count(F.lit(1)).alias("n_subjects"),
        F.sum("n_obj").alias("n_triples"),
        F.max("n_obj").alias("max_obj_per_subj"),
        F.sum(F.when(F.col("n_obj") > 1, 1).otherwise(0)).alias(
            "n_multivalued_subjects"
        ),
    )
    n_objects = (
        dd.select("pred", "obj")
        .distinct()
        .groupBy("pred")
        .agg(F.count(F.lit(1)).alias("n_objects"))
    )
    mentions = d.groupBy("pred").agg(F.count(F.lit(1)).alias("n_mentions"))
    return (
        main.join(n_objects, "pred")
        .join(mentions, "pred")
        .select(
            "pred",
            "n_mentions",
            "n_triples",
            "n_subjects",
            "n_objects",
            "max_obj_per_subj",
            "n_multivalued_subjects",
            F.expr(
                "(cast(1000000 as bigint) * n_triples) div n_subjects"
            ).alias("avg_obj_ppm"),
        )
    )


def infer_entity_types(
    matches: DataFrame,
    entity_col: str = "tag",
    category_col: str = "tag_category",
) -> DataFrame:
    """Majority-vote type inference: assign every entity the category it
    is most often mentioned under across the corpus — (entity,
    inferred_type, n_type_mentions, n_mentions, n_categories).

    An ontology assigns each *keyword* a category, but surface forms are
    ambiguous across pages ("jaguar" tagging both animal and vehicle
    categories); the corpus-level mention distribution is the standard
    disambiguation prior a KG build stores per canonical node. Ties
    break to the lexicographically smallest category — a total order, so
    the result is deterministic and engine-portable (the equivalent of
    ``ORDER BY n DESC, category ASC LIMIT 1`` per entity).

    Rows with a NULL entity or category (no-match carriers from the
    outer tagger join) are ignored.

    Scale shape: one (entity, category) map-side-combinable count —
    bounded by |entities| x |categories|, not corpus size — then one
    entity-keyed min-struct aggregation (argmax via min(struct(-n,
    category)) — order-free). No windows over data-sized tables, no
    collects."""
    counts = (
        matches.where(
            F.col(entity_col).isNotNull() & F.col(category_col).isNotNull()
        )
        .groupBy(
            F.col(entity_col).alias("entity"),
            F.col(category_col).alias("category"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return (
        counts.groupBy("entity")
        .agg(
            F.min(
                F.struct((-F.col("n")).alias("neg_n"), F.col("category"))
            ).alias("top"),
            F.sum("n").alias("n_mentions"),
            F.count(F.lit(1)).alias("n_categories"),
        )
        .select(
            "entity",
            F.col("top.category").alias("inferred_type"),
            (-F.col("top.neg_n")).alias("n_type_mentions"),
            "n_mentions",
            "n_categories",
        )
    )


def linearize_triples(
    triples: DataFrame,
    subj: str = "subj",
    pred: str = "pred",
    obj: str = "obj",
    *,
    fact_sep: str = "; ",
    head_sep: str = ": ",
) -> DataFrame:
    """KG-to-text linearization: one training sentence per subject —
    ``subj: pred1 obj1; pred2 obj2; ...`` with facts deduplicated and
    sorted by (pred, obj) — plus ``n_facts``. The KELM-style verbalization
    step that turns a materialized graph back into pretraining text so
    the LLM sees its facts in-distribution; deterministic ordering makes
    the generated corpus cacheable and diffable across builds.

    NULL-component triples are excluded (extraction failures, same
    contract as ``predicate_profile``). Sorting is binary/codepoint
    string order — identical in Spark, DuckDB, and UTF-8-collated
    engines.

    Scale shape: one distinct + one subject-keyed collect_set aggregation
    whose per-group size is the subject's fact count (entity fan-out,
    bounded by ``predicate_profile.max_obj_per_subj`` — profile first,
    cap upstream if a subject fans out pathologically). The sort happens
    per-row inside ``sort_array`` after aggregation — no global or
    per-key shuffle sort."""
    d = _facts(triples, subj, pred, obj).distinct()
    return (
        d.groupBy("subj")
        .agg(F.sort_array(F.collect_set(F.struct("pred", "obj"))).alias("ps"))
        .select(
            "subj",
            F.concat(
                F.col("subj").cast("string"),
                F.lit(head_sep),
                F.concat_ws(
                    fact_sep,
                    F.transform(
                        "ps", lambda x: F.concat_ws(" ", x.pred, x.obj)
                    ),
                ),
            ).alias("kg_text"),
            F.size("ps").alias("n_facts"),
        )
    )


def current_facts(
    triples: DataFrame,
    subj: str = "subj",
    pred: str = "pred",
    obj: str = "obj",
    ts_col: str = "warc_ts",
) -> DataFrame:
    """Temporal conflict resolution — the KG *serving view*: one believed
    object per (subj, pred), chosen as the candidate with the latest
    ``last_seen`` across crawl snapshots; ties break by mention count,
    then by greatest object (a total order, so the pick is deterministic
    and engine-portable). Returns (subj, pred, obj, last_seen,
    n_mentions, n_candidates) — n_candidates > 1 marks facts that had
    competing values (``predicate_profile`` finds the predicates where
    that matters; this operator resolves them).

    NULL-component triples and NULL timestamps are excluded (same
    contract as ``triple_delta``; a mention with no snapshot time cannot
    vote on recency).

    Scale shape: two map-side-combinable groupBys — per-(s,p,o) history
    collapse, then a per-(s,p) max-struct argmax. No windows over the
    mention stream, no collects."""
    h = (
        _facts(triples, subj, pred, obj, ts_col)
        .groupBy("subj", "pred", "obj")
        .agg(
            F.max("ts").alias("last_seen"),
            F.count(F.lit(1)).alias("n_mentions"),
        )
    )
    return (
        h.groupBy("subj", "pred")
        .agg(
            F.max(F.struct("last_seen", "n_mentions", "obj")).alias("top"),
            F.count(F.lit(1)).alias("n_candidates"),
        )
        .select(
            "subj",
            "pred",
            F.col("top.obj").alias("obj"),
            F.col("top.last_seen").alias("last_seen"),
            F.col("top.n_mentions").alias("n_mentions"),
            "n_candidates",
        )
    )


# literal-value patterns (Java regex ∩ RE2 subset, same discipline as
# operators/pii.py): anchored, no backrefs, no lookaround
# \z, not $: Java's $ also matches BEFORE a trailing line terminator, so
# a CRLF-contaminated value like '123\r' would classify as int on Spark
# (then crash the ANSI micro-cast) while RE2/DuckDB says text; \z means
# absolute end-of-text in BOTH engines
NUMERIC_PATTERN = r"^-?[0-9]+(\.[0-9]+)?\z"
INT_PATTERN = r"^-?[0-9]{1,12}\z"
DECIMAL_PATTERN = r"^-?[0-9]{1,12}\.[0-9]{1,6}\z"
PERCENT_PATTERN = r"^-?[0-9]{1,12}(\.[0-9]{1,6})?%\z"
ISO_DATE_PATTERN = r"^[0-9]{4}-[0-9]{2}-[0-9]{2}\z"
US_DATE_PATTERN = r"^[0-9]{1,2}/[0-9]{1,2}/[0-9]{4}\z"
DATELIKE_PATTERN = r"^([0-9]{4}-[0-9]{2}-[0-9]{2}|[0-9]{1,2}/[0-9]{1,2}/[0-9]{4})\z"


def attribute_schema(
    attrs: DataFrame,
    subj: str = "subj",
    key_col: str = "key",
    value_col: str = "value",
) -> DataFrame:
    """Schema induction over the literal-attribute table
    (``attribute_triples`` output): per key — row/subject/value
    cardinalities, worst per-subject fan-out, and integer-ppm shares of
    numeric and date-like values. This is how a pipeline DISCOVERS the
    infobox schema of a crawl (keys that are 99% numeric become typed
    columns; keys with huge value cardinality and no dominant type stay
    free text; a key with max_per_subject >> 1 is list-valued).

    Scale shape: one (key, subj) map-side-combinable count for the
    fan-out + one per-key aggregation carrying the two regex flags as
    0/1 ints (classified once per row, in the scan projection); the
    final join is key-cardinality-sized. No windows, no collects."""
    d = attrs.select(
        F.col(key_col).alias("key"),
        F.col(subj).alias("subj"),
        F.col(value_col).alias("value"),
        F.col(value_col).rlike(NUMERIC_PATTERN).cast("int").alias("_num"),
        F.col(value_col).rlike(DATELIKE_PATTERN).cast("int").alias("_date"),
    )
    main = d.groupBy("key").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count_distinct(F.col("subj")).alias("n_subjects"),
        F.count_distinct(F.col("value")).alias("n_values"),
        F.sum("_num").alias("n_numeric"),
        F.sum("_date").alias("n_datelike"),
    )
    fanout = (
        d.groupBy("key", "subj")
        .agg(F.count(F.lit(1)).alias("_per"))
        .groupBy("key")
        .agg(F.max("_per").alias("max_per_subject"))
    )
    return main.join(fanout, "key").select(
        "key",
        "n_rows",
        "n_subjects",
        "n_values",
        "max_per_subject",
        F.expr("(cast(1000000 as bigint) * n_numeric) div n_rows").alias(
            "numeric_ppm"
        ),
        F.expr("(cast(1000000 as bigint) * n_datelike) div n_rows").alias(
            "datelike_ppm"
        ),
    )


def normalize_literals(
    attrs: DataFrame,
    subj: str = "subj",
    key_col: str = "key",
    value_col: str = "value",
) -> DataFrame:
    """Literal value normalization — the typing pass between raw
    ``key: value`` extraction and a queryable KG: classify every value
    and normalize it into machine form, all in integer/string ops so
    both engines agree byte-for-byte:

    - ``int``      -?digits (<= 12 digits)  -> value_micro = v * 1e6
    - ``decimal``  -?d.d (frac <= 6)        -> micro-units, frac
      right-padded to 6 (exact — never a float parse)
    - ``percent``  number followed by %     -> micro-units of the number
    - ``date``     YYYY-MM-DD or M/D/YYYY   -> value_iso = YYYY-MM-DD
      (zero-padded); FORMAT normalization only — 99/99/9999 passes
      through unvalidated, range checks are a downstream concern
    - ``text``     everything else         -> value_micro/value_iso NULL

    Integer caps (12 int digits, 6 frac digits) keep every product
    inside int64; values beyond the caps stay ``text`` rather than
    overflowing. Pure map: zero shuffle at any scale."""
    v = F.col(value_col)
    neg = F.when(v.startswith("-"), F.lit(-1)).otherwise(F.lit(1)).cast("long")
    mag = F.regexp_replace(v, r"^-|%$", "")
    # F.get, not [i]: ANSI mode errors on out-of-bounds indices (an int
    # value has no frac part, a non-date no second '/' segment)
    int_part = F.get(F.split(mag, r"\."), 0).cast("long")
    frac_raw = F.coalesce(F.get(F.split(mag, r"\."), 1), F.lit(""))
    frac = F.rpad(frac_raw, 6, "0").cast("long")
    micro = neg * (int_part * F.lit(1_000_000).cast("long") + frac)
    us_m = F.get(F.split(v, "/"), 0)
    us_d = F.get(F.split(v, "/"), 1)
    us_y = F.get(F.split(v, "/"), 2)
    kind = (
        F.when(v.rlike(INT_PATTERN), F.lit("int"))
        .when(v.rlike(DECIMAL_PATTERN), F.lit("decimal"))
        .when(v.rlike(PERCENT_PATTERN), F.lit("percent"))
        .when(v.rlike(ISO_DATE_PATTERN), F.lit("date"))
        .when(v.rlike(US_DATE_PATTERN), F.lit("date"))
        .otherwise(F.lit("text"))
    )
    return attrs.select(
        F.col(subj).alias("subj"),
        F.col(key_col).alias("key"),
        v.alias("value"),
        kind.alias("value_kind"),
        F.when(
            kind.isin("int", "decimal", "percent"), micro
        ).alias("value_micro"),
        F.when(v.rlike(ISO_DATE_PATTERN), v)
        .when(
            v.rlike(US_DATE_PATTERN),
            F.concat_ws(
                "-", us_y, F.lpad(us_m, 2, "0"), F.lpad(us_d, 2, "0")
            ),
        )
        .alias("value_iso"),
    )


# --- RDF materialization ---------------------------------------------------

_NT_IRI_ESCAPES = [
    # N-Triples IRIREF (RDF 1.1 §2, grammar [8]) forbids these characters
    # unescaped; percent-encode them (backslash FIRST — it is the escape
    # introducer of the literal pass and must not double-process)
    ("\\", "%5C"), (" ", "%20"), ("<", "%3C"), (">", "%3E"), ('"', "%22"),
    ("{", "%7B"), ("}", "%7D"), ("|", "%7C"), ("^", "%5E"), ("`", "%60"),
]
_NT_LIT_ESCAPES = [
    # ECHAR escapes required inside STRING_LITERAL_QUOTE (same spec,
    # grammar [9]): backslash first, then quote/LF/CR/TAB
    ("\\", "\\\\"), ('"', '\\"'), ("\n", "\\n"), ("\r", "\\r"), ("\t", "\\t"),
]


def _chain_replace(col: Column, pairs: list[tuple[str, str]]) -> Column:
    for old, new in pairs:
        col = F.replace(col, F.lit(old), F.lit(new))
    return col


def ntriples_lines(
    triples: DataFrame,
    subj: str = "subj",
    pred: str = "pred",
    obj: str = "obj",
    *,
    pred_namespace: str = "http://example.org/pred/",
    obj_namespace: str | None = None,
) -> DataFrame:
    """Serialize (subj, pred, obj) into canonical N-Triples lines — the
    interchange format a materialized KG ships in (W3C RDF 1.1 N-Triples;
    the reference stops at DataFrame output, this is new surface for the
    trillion-triple build).

    - ``subj`` is taken as an IRI (crawl URLs); forbidden IRIREF chars
      are percent-encoded.
    - ``pred`` becomes ``<pred_namespace + tag>`` (tag IRI-escaped).
    - ``obj`` becomes either a quoted literal with the spec's ECHAR
      escapes (default) or an IRI under ``obj_namespace`` when given
      (ontology-node objects).

    NULL-component triples are excluded (an N-Triples statement has no
    NULL position). Pure string expressions — zero shuffles, zero Python;
    the whole serialization rides whole-stage codegen next to the scan.

    Returns (subj, pred, obj, line).
    """
    s_iri = F.concat(F.lit("<"), _chain_replace(F.col("subj"), _NT_IRI_ESCAPES), F.lit(">"))
    p_iri = F.concat(
        F.lit("<"), F.lit(pred_namespace),
        _chain_replace(F.col("pred"), _NT_IRI_ESCAPES), F.lit(">"),
    )
    if obj_namespace is None:
        o_term = F.concat(
            F.lit('"'), _chain_replace(F.col("obj"), _NT_LIT_ESCAPES), F.lit('"')
        )
    else:
        o_term = F.concat(
            F.lit("<"), F.lit(obj_namespace),
            _chain_replace(F.col("obj"), _NT_IRI_ESCAPES), F.lit(">"),
        )
    return _facts(triples, subj, pred, obj).select(
        "subj", "pred", "obj",
        F.concat_ws(" ", s_iri, p_iri, o_term, F.lit(".")).alias("line"),
    )


# Hearst (1992) lexico-syntactic hyponymy patterns, single-token terms
# (dependency-free simplification: NP chunking would need a parser; the
# single-word harvest is the high-precision core — downstream type
# filters prune the rest). Each entry: (pattern_name, regex,
# hypo_group, hyper_group). Regexes live in the Java-regex ∩ RE2 common
# subset so the DuckDB oracle extracts byte-identically.
HEARST_PATTERNS: list[tuple[str, str, int, int]] = [
    ("such_X_as", r"\bsuch ([a-z]+) as ([a-z]+)", 2, 1),
    ("X_such_as", r"\b([a-z]+) such as ([a-z]+)", 2, 1),
    ("X_including", r"\b([a-z]+) including ([a-z]+)", 2, 1),
    ("and_other", r"\b([a-z]+) and other ([a-z]+)", 1, 2),
    ("or_other", r"\b([a-z]+) or other ([a-z]+)", 1, 2),
]


def hearst_patterns(
    df: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """Mine is-a (hyponymy) candidate edges from free text with the
    classic Hearst patterns — the bootstrap source for the taxonomy that
    ``graph.transitive_closure`` later reasons over, and the standard
    ontology-expansion move when the seed ontology doesn't cover a
    domain. Returns (id, hypo, hyper, pattern) per non-overlapping match
    over the lowercased text, in document order per pattern.

    Scale shape: per pattern two positionally-aligned regexp_extract_all
    passes (group parity with the oracle — see structured.py), arrays
    concatenated and exploded once. Pure per-row projection: zero
    shuffle; the (hypo, hyper) support aggregation a caller adds is one
    combinable groupBy. Pattern windows may cross sentence boundaries
    (raw-text scan — deliberate: sentence splitting costs a second pass
    and Hearst windows are ~5 tokens).
    """
    low = F.lower(F.coalesce(F.col(text_col), F.lit("")))

    # single-arg lambda via a closure factory: F.transform treats a
    # two-parameter lambda as (element, index), so the idiomatic
    # `lambda s, _n=name:` default-arg capture would silently bind the
    # element INDEX over the pattern name
    def _tag(name):
        return lambda s: F.struct(
            s["hypo"].alias("hypo"),
            s["hyper"].alias("hyper"),
            F.lit(name).alias("pattern"),
        )

    arrays = []
    for name, rex, hypo_g, hyper_g in HEARST_PATTERNS:
        pairs = F.arrays_zip(
            F.regexp_extract_all(low, F.lit(rex), hypo_g).alias("hypo"),
            F.regexp_extract_all(low, F.lit(rex), hyper_g).alias("hyper"),
        )
        arrays.append(F.transform(pairs, _tag(name)))
    return df.select(
        F.col(id_col).alias("id"), F.explode(F.concat(*arrays)).alias("m")
    ).select(
        "id",
        F.col("m.hypo").alias("hypo"),
        F.col("m.hyper").alias("hyper"),
        F.col("m.pattern").alias("pattern"),
    )


def _sentence_relations(triples: DataFrame, max_connector_chars: int) -> DataFrame:
    """(subj, sent_idx, connector, obj_a, obj_b, head, tail) for every pair
    of distinct entities co-mentioned in one sentence of the
    ``build_triples`` stream, ``connector`` being the normalized text
    between their surface forms (``relation_patterns`` states the
    contract). ``head`` is the entity whose surface form occurs first."""
    if max_connector_chars < 1:
        raise ValueError(
            f"max_connector_chars must be >= 1, got {max_connector_chars}"
        )
    m = (
        triples.select(
            F.col("subj").alias("s"), F.col("sent_idx").alias("si"),
            "sentence", "obj", "keyword",
        )
        .where(F.col("obj").isNotNull() & F.col("si").isNotNull())
        .distinct()
    )
    low = F.lower(F.col("sentence_a"))
    pos_a = F.instr(low, F.lower(F.col("keyword_a")))
    pos_b = F.instr(low, F.lower(F.col("keyword_b")))
    a_first = pos_a <= pos_b
    # direction-normalized: first surface occurrence speaks first
    first_end = F.when(a_first, pos_a + F.length("keyword_a")).otherwise(
        pos_b + F.length("keyword_b")
    )
    second_start = F.greatest(pos_a, pos_b)
    # greatest(…, 0): overlapping surface forms would make the gap
    # negative — '' in Spark but an error in ANSI substr, so clamp in both
    connector = F.regexp_replace(
        F.trim(
            F.substring(
                low, first_end, F.greatest(second_start - first_end, F.lit(0))
            )
        ),
        r"\s+",
        " ",
    )
    return (
        _co_mentions(m, ["s", "si"])
        .where((pos_a > 0) & (pos_b > 0))
        .select(
            F.col("s").alias("subj"),
            F.col("si").alias("sent_idx"),
            connector.alias("connector"),
            "obj_a",
            "obj_b",
            F.when(a_first, F.col("obj_a")).otherwise(F.col("obj_b")).alias("head"),
            F.when(a_first, F.col("obj_b")).otherwise(F.col("obj_a")).alias("tail"),
        )
        .where(
            (F.col("connector") != "")
            & (F.length("connector") <= max_connector_chars)
        )
    )


def relation_patterns(
    triples: DataFrame,
    *,
    max_connector_chars: int = 40,
    min_count: int = 2,
) -> DataFrame:
    """Distant-supervision connector mining over the mention stream: for
    every pair of DISTINCT entities co-mentioned in one sentence, the
    normalized text BETWEEN their surface forms is a relation-pattern
    candidate ("X **was founded by** Y"); patterns recurring across many
    entity pairs are the seeds for relation extraction (Hearst's move,
    generalized). Input is the ``build_triples`` stream (subj, sentence,
    sent_idx, keyword, obj).

    Returns (connector, n_mentions, n_pairs) with n_pairs = distinct
    (obj_a, obj_b) entity pairs, filtered to ``min_count`` mentions.
    Contract: positions are the FIRST case-insensitive occurrence of
    each keyword in the sentence; pairs where either surface form is not
    literally findable (cross-form diacritic matches) are skipped;
    connectors longer than ``max_connector_chars`` are discarded
    (those are clause boundaries, not relations). The connector is
    lowercased, trimmed, whitespace-collapsed; empty connectors
    (adjacent mentions) are dropped.

    Scale shape: one distinct over (doc, sentence, entity, keyword),
    one self-equi-join on the (subj, sent_idx) sentence key — pair
    blowup bounded by mentions-per-sentence, the same contract as
    ``tag_cooccurrence`` — then one combinable groupBy(connector) with
    a distinct-pair count. No windows, no cartesians.
    """
    return (
        _sentence_relations(triples, max_connector_chars)
        .groupBy("connector")
        .agg(
            F.count(F.lit(1)).alias("n_mentions"),
            F.count_distinct(F.col("obj_a"), F.col("obj_b")).alias("n_pairs"),
        )
        .where(F.col("n_mentions") >= F.lit(min_count))
    )


def fact_support(
    triples: DataFrame,
    domain_col: str | None = None,
) -> DataFrame:
    """Source-diversity support scoring for co-mention facts: a fact
    asserted by one page repeated a million times is weaker than one
    asserted once each by a thousand independent sites — the standard
    KG-confidence signal (and the spam-resistance counterpart of
    ``domain_policy``). Input is the ``build_triples`` mention stream;
    ``domain_col`` names a source-domain column, or (default) the domain
    is ``url.source_host`` of ``subj``.

    Returns per undirected co-mentioned entity pair (obj_a < obj_b):
    n_mentions (co-mention sentences), n_docs, n_domains, and
    ``diversity_ppm`` = n_domains * 1e6 div n_docs — 1e6 means every
    supporting doc came from a distinct site; low values flag
    single-site (potentially spammed) facts.

    Scale shape: distinct mention projection → one sentence-keyed
    self-equi-join (tag_cooccurrence contract) → ONE groupBy with two
    count-distincts (Spark expands these map-side; the pair key count is
    ontology²-bounded). No windows.
    """
    dom = source_host(F.col("subj")) if domain_col is None else F.col(domain_col)
    m = (
        triples.select(
            F.col("subj").alias("s"),
            F.col("sent_idx").alias("si"),
            F.col("obj"),
            dom.alias("dom"),
        )
        .where(F.col("obj").isNotNull() & F.col("si").isNotNull())
        .distinct()
    )
    return (
        _co_mentions(m, ["s", "si"])
        .groupBy("obj_a", "obj_b")
        .agg(
            F.count(F.lit(1)).alias("n_mentions"),
            F.count_distinct(F.col("s")).alias("n_docs"),
            F.count_distinct(F.col("dom_a")).alias("n_domains"),
        )
        .withColumn(
            "diversity_ppm",
            F.expr("n_domains * cast(1000000 as bigint) div n_docs"),
        )
    )


def relation_extract(
    triples: DataFrame,
    connectors: DataFrame,
    *,
    max_connector_chars: int = 40,
) -> DataFrame:
    """Second half of the distant-supervision loop ``relation_patterns``
    opens: apply a vetted connector lexicon back over the mention stream
    and emit typed relation INSTANCES — every sentence where two distinct
    entities are joined by a known connector becomes a candidate triple
    (head, relation, tail). ``connectors`` is a small curated dim (one
    ``connector`` string column, normalized exactly like
    ``relation_patterns`` output — lowercased, trimmed, ws-collapsed);
    typically the high-support survivors of a ``relation_patterns`` run
    after human or LLM review.

    Returns (subj, sent_idx, head, relation, tail) where head is the
    entity whose surface form occurs FIRST in the sentence (relations
    read in surface order: "X was founded by Y" → (x, was founded by,
    y)), deduplicated per sentence.

    Scale shape: the same sentence pairs as ``relation_patterns``
    (``_sentence_relations``: pair blowup bounded by
    mentions-per-sentence), then a BROADCAST equi-join against the
    connector dim — the lexicon is human-curated, i.e. thousands of
    rows, never corpus-sized, so the broadcast hint is fixed. One
    distinct on the ontology²-bounded output. No windows.
    """
    dim = F.broadcast(connectors.select("connector").distinct())
    return (
        _sentence_relations(triples, max_connector_chars)
        .join(dim, "connector")
        .select(
            "subj", "sent_idx", "head", F.col("connector").alias("relation"), "tail"
        )
        .distinct()
    )


def cooccurrence_lift(
    triples: DataFrame,
    subj: str = "subj",
    obj: str = "obj",
    *,
    min_pair_docs: int = 1,
) -> DataFrame:
    """Statistically-normalized co-mention strength: raw co-mention
    counts (``tag_cooccurrence``) rank frequent entities together no
    matter what; LIFT — observed co-mention rate over the rate expected
    under independence — is the association measure a KG curation pass
    actually wants (lift ≈ 1 means "co-occur by chance"). This is PMI
    without the log, kept in exact integer arithmetic so the DuckDB
    oracle reproduces values bit-for-bit (log-space NPMI would hash-drift
    across float libms).

    Returns per unordered pair (obj_a < obj_b): n_a, n_b (distinct docs
    mentioning each), n_ab (distinct docs co-mentioning), n_corpus
    (distinct docs mentioning ANY entity — the event universe), and
    ``lift_ppm`` = n_ab * n_corpus * 1e6 div (n_a * n_b); 1_000_000 =
    independence, larger = positive association.

    Scale shape: one DISTINCT (doc, entity) projection feeds three
    combinable aggs — per-entity doc counts (ontology-bounded output),
    a global distinct-doc count (collapses to one row; broadcast back),
    and the tag_cooccurrence pair join. The two dims join back onto the
    pair table by entity key — both broadcastable (|ontology| rows).
    No windows.
    """
    d = _doc_mentions(triples, subj, obj)
    ent = d.groupBy("obj").agg(F.count(F.lit(1)).alias("n"))
    corpus = d.select(F.count_distinct("s").alias("n_corpus"))
    pairs = (
        _co_mentions(d, ["s"])
        .groupBy("obj_a", "obj_b")
        .agg(F.count(F.lit(1)).alias("n_ab"))
        .where(F.col("n_ab") >= min_pair_docs)
    )
    na = F.broadcast(ent.select(F.col("obj").alias("obj_a"), F.col("n").alias("n_a")))
    nb = F.broadcast(ent.select(F.col("obj").alias("obj_b"), F.col("n").alias("n_b")))
    return (
        pairs.join(na, "obj_a")
        .join(nb, "obj_b")
        .crossJoin(F.broadcast(corpus))
        .select(
            "obj_a", "obj_b", "n_a", "n_b", "n_ab", "n_corpus",
            F.expr(
                "n_ab * n_corpus * cast(1000000 as bigint)"
                " div (n_a * n_b)"
            ).alias("lift_ppm"),
        )
    )


def truth_discovery(
    facts: DataFrame,
    *,
    entity_col: str = "entity",
    attr_col: str = "attr",
    value_col: str = "value",
    source_col: str = "source",
    domain_col: str | None = None,
) -> DataFrame:
    """Knowledge fusion: conflicting attribute assertions from many
    pages are resolved to ONE value per (entity, attribute) by
    source-diversity majority vote — the first-order truth-discovery
    baseline (domain-count voting; iterative source-reliability schemes
    refine exactly this scaffold). A value asserted by 40 distinct sites
    beats one spammed across 4000 pages of a single site.

    Vote order per candidate value: most distinct domains, then most
    distinct source pages, then lexicographically SMALLEST value (a
    deterministic tie-break so reruns and the oracle agree). Returns
    (entity, attr, value, n_domains, n_docs, total_docs, n_values,
    support_ppm) where support_ppm = n_docs * 1e6 div total_docs —
    the winner's share of all assertions for that slot; low share =
    contested fact.

    ``domain_col`` names the source-domain column; by default the
    domain is ``url.source_host`` of ``source`` (the url's host, or the
    bare source id).

    Scale shape: two stacked combinable groupBys — (entity, attr,
    value) with two count-distincts, then (entity, attr) where the
    winner is a single ``min_by`` over an ordering struct (negated
    counts + value — no window, no sort). Output is slot-bounded, far
    below the assertion count.
    """
    dom = (
        source_host(F.col(source_col)) if domain_col is None else F.col(domain_col)
    )
    votes = (
        facts.select(
            F.col(entity_col).alias("entity"),
            F.col(attr_col).alias("attr"),
            F.col(value_col).alias("value"),
            F.col(source_col).alias("src"),
            dom.alias("dom"),
        )
        .where(F.col("value").isNotNull())
        .groupBy("entity", "attr", "value")
        .agg(
            F.count_distinct("dom").alias("n_domains"),
            F.count_distinct("src").alias("n_docs"),
        )
    )
    order = F.struct(
        (-F.col("n_domains")).alias("o1"),
        (-F.col("n_docs")).alias("o2"),
        F.col("value").alias("o3"),
    )
    winner = F.min_by(
        F.struct("value", "n_domains", "n_docs"), order
    ).alias("w")
    return (
        votes.groupBy("entity", "attr")
        .agg(
            winner,
            F.sum("n_docs").alias("total_docs"),
            F.count(F.lit(1)).alias("n_values"),
        )
        .select(
            "entity",
            "attr",
            F.col("w.value").alias("value"),
            F.col("w.n_domains").alias("n_domains"),
            F.col("w.n_docs").alias("n_docs"),
            "total_docs",
            "n_values",
            F.expr(
                "w.n_docs * cast(1000000 as bigint) div total_docs"
            ).alias("support_ppm"),
        )
    )


def taxonomy_edges(
    pairs: DataFrame,
    *,
    min_docs: int = 1,
) -> DataFrame:
    """Aggregate the raw ``hearst_patterns`` match stream into supported
    taxonomy edges: per (hypo, hyper), the supporting doc / mention /
    distinct-pattern counts, with DIRECTION CONFLICTS resolved — web
    text asserts both "X such as Y" and "Y such as X" for genuinely
    ambiguous term pairs, and a taxonomy cannot hold both. The majority
    direction (by n_docs, tie-broken toward hypo < hyper) wins; the
    loser edge is dropped, not merged (its counts stay honest on the
    winner). Self-loops ("such things as things") are removed. Feed the
    result to ``graph.transitive_closure`` for the is-a hierarchy.

    Scale shape: one combinable groupBy on the edge key, then ONE
    self-equi-join against the reversed key to find conflicts — the
    edge table is term-vocabulary-sized (quadratic in terms only in the
    adversarial worst case), orders of magnitude below the corpus. No
    windows, no driver state.
    """
    if min_docs < 1:
        raise ValueError(f"min_docs must be >= 1, got {min_docs}")
    agg = (
        pairs.where(F.col("hypo") != F.col("hyper"))
        .groupBy("hypo", "hyper")
        .agg(
            F.count_distinct("id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_mentions"),
            F.count_distinct("pattern").alias("n_patterns"),
        )
    )
    rev = agg.select(
        F.col("hyper").alias("hypo"),
        F.col("hypo").alias("hyper"),
        F.col("n_docs").alias("rev_docs"),
    )
    return (
        agg.join(rev, ["hypo", "hyper"], "left")
        .where(
            F.col("rev_docs").isNull()
            | (F.col("n_docs") > F.col("rev_docs"))
            | (
                (F.col("n_docs") == F.col("rev_docs"))
                & (F.col("hypo") < F.col("hyper"))
            )
        )
        .select("hypo", "hyper", "n_docs", "n_mentions", "n_patterns")
        .where(F.col("n_docs") >= min_docs)
    )


def constraint_violations(
    triples: DataFrame,
    rules: DataFrame,
    subj: str = "subj",
    pred: str = "pred",
    obj: str = "obj",
    *,
    rule_pred_col: str = "pred",
    pattern_col: str = "obj_pattern",
    functional_col: str = "functional",
) -> DataFrame:
    """KG integrity checking: validate the triple table against a
    per-predicate constraint dimension and emit one row per violation —
    the QA gate between extraction and publication (a pipeline that
    ships a `born_year` of "purple" or two different birth dates for one
    subject has an extraction bug, and this is where it surfaces).

    ``rules`` carries one row per constrained predicate:
    ``(pred, obj_pattern, functional)`` — ``obj_pattern`` an anchored
    regex the object must FULLY match (Java-regex ∩ RE2 common subset;
    NULL = unconstrained shape), ``functional`` 1 if the predicate
    admits at most one distinct object per subject (OWL
    FunctionalProperty semantics), else 0.

    Output: ``(subj, pred, obj, violation)`` with ``violation`` in
    ``{'shape', 'functional'}`` — one row per (triple, failed check), so
    a triple failing both appears twice (callers pivot or distinct as
    needed). Unconstrained predicates never emit rows; NULL-component
    triples are excluded (no identity to report against). For
    ``functional`` violations EVERY distinct object of the offending
    (subj, pred) is emitted (the conflict set, not an arbitrary member —
    downstream resolution needs all of them; ``truth_discovery`` is one
    resolver).

    Scale shape: the rules dimension is ontology-sized — one broadcast
    equi-join on pred deploys all shape checks as a pure map; the
    functional check is one distinct + map-side-combinable
    countDistinct-shaped aggregate on (subj, pred), joined back by the
    same key. No windows, no collects.
    """
    base = _facts(triples, subj, pred, obj)
    r = rules.select(
        F.col(rule_pred_col).alias("pred"),
        F.col(pattern_col).alias("_pat"),
        F.col(functional_col).cast("int").alias("_fn"),
    )
    constrained = base.join(F.broadcast(r), "pred")
    full_pat = F.concat(F.lit("^(?:"), F.col("_pat"), F.lit(")$"))
    shape = constrained.where(
        F.col("_pat").isNotNull()
        & ~F.regexp_like(F.col("obj").cast("string"), full_pat)
    ).select("subj", "pred", "obj", F.lit("shape").alias("violation"))
    fn_pairs = (
        constrained.where(F.col("_fn") == 1)
        .select("subj", "pred", "obj")
        .distinct()
    )
    fn_counts = fn_pairs.groupBy("subj", "pred").agg(
        F.count(F.lit(1)).alias("_n")
    )
    functional = (
        fn_pairs.join(fn_counts.where(F.col("_n") > 1), ["subj", "pred"])
        .select("subj", "pred", "obj", F.lit("functional").alias("violation"))
    )
    return shape.unionByName(functional)


def decayed_fact_scores(
    triples: DataFrame,
    subj: str = "subj",
    pred: str = "pred",
    obj: str = "obj",
    ts_col: str = "warc_ts",
    *,
    half_life_days: int = 7,
    unit: int = 1_000_000,
    max_halvings: int = 20,
) -> DataFrame:
    """Recency-weighted fact confidence: each mention contributes
    ``unit >> min(age_half_lives, max_halvings)`` — an exact integer
    exponential decay (one right-shift per elapsed half-life, floor at
    ``unit >> max_halvings``), summed per (subj, pred, obj).  This is
    the temporal complement of ``triple_history``: a fact mentioned 50
    times last year scores below one mentioned 5 times this week, which
    is how a living KG ranks competing candidate facts before
    ``truth_discovery`` adjudicates.

    Age is whole half-lives against the newest mention timestamp in the
    input (no wall clock — determinism); NULL-timestamp mentions are
    excluded (age undefined). Returns ``(subj, pred, obj, n_mentions,
    score)`` with ``score`` in integer ``unit`` ppm-style units.

    Scale shape: the corpus max-ts is a single-row aggregate broadcast
    back; everything else is a pure map plus ONE map-side-combinable
    groupBy on the triple key. Bit-shifts are exact on every engine —
    no doubles anywhere.
    """
    if half_life_days < 1:
        raise ValueError(f"half_life_days must be >= 1, got {half_life_days}")
    if max_halvings < 0 or max_halvings > 62:
        raise ValueError(
            f"max_halvings must be in [0, 62], got {max_halvings}"
        )
    base = _facts(triples, subj, pred, obj, ts_col)
    max_ts = base.agg(F.max("ts").alias("_max_ts"))
    aged = base.crossJoin(F.broadcast(max_ts)).withColumn(
        "_age",
        F.floor(
            (F.unix_timestamp("_max_ts") - F.unix_timestamp("ts"))
            / (86400 * half_life_days)
        ).cast("int"),
    )
    contrib = F.expr(
        f"shiftright(cast({unit} as bigint),"
        f" cast(least(_age, {max_halvings}) as int))"
    )
    return aged.groupBy("subj", "pred", "obj").agg(
        F.count(F.lit(1)).cast("long").alias("n_mentions"),
        F.sum(contrib).cast("long").alias("score"),
    )


def inverse_predicates(
    triples: DataFrame,
    subj: str = "subj",
    pred: str = "pred",
    obj: str = "obj",
    *,
    min_support: int = 1,
) -> DataFrame:
    """KG schema learning: predicate pairs (p, q) that behave as
    INVERSES — ``(s, p, o)`` co-occurring with ``(o, q, s)`` — the rule
    family AMIE's composition rules don't cover (``owl:inverseOf``
    discovery: *authored_by* vs *author_of*; p = q detects SYMMETRIC
    predicates like *married_to*).

    ``support`` counts distinct (s, p, o) facts whose exact reverse
    (o, q, s) exists; ``confidence_ppm = 10^6 · support // n_p`` is the
    share of p-facts with a q-inverse (directional: (p, q) and (q, p)
    are both emitted with their own confidences, since inverse coverage
    is rarely symmetric in a noisy KG). Self-loop facts (s = o) are
    excluded — they satisfy any inverse trivially and would inflate
    symmetric-predicate confidence.

    Returns ``(pred, inv_pred, support, n_facts, confidence_ppm)`` with
    ``support >= min_support``.

    Scale shape: one distinct projection, one self-equi-join on the
    REVERSED (subj, obj) key (AQE skew-splits hot entity pairs), one
    combinable count per (p, q), plus a broadcast-sized per-predicate
    count dim joined back.
    """
    if min_support < 1:
        raise ValueError(f"min_support must be >= 1, got {min_support}")
    t = (
        _facts(triples, subj, pred, obj)
        .where(F.col("subj") != F.col("obj"))
        .distinct()
    )
    rev = t.select(
        F.col("obj").alias("subj"),
        F.col("pred").alias("inv_pred"),
        F.col("subj").alias("obj"),
    )
    pairs = (
        t.join(rev, ["subj", "obj"])
        .groupBy("pred", "inv_pred")
        .agg(F.count(F.lit(1)).cast("long").alias("support"))
    )
    n_p = t.groupBy("pred").agg(
        F.count(F.lit(1)).cast("long").alias("n_facts")
    )
    return (
        pairs.join(n_p, "pred")
        .withColumn(
            "confidence_ppm",
            F.floor(
                (F.lit(1_000_000) * F.col("support")) / F.col("n_facts")
            ).cast("long"),
        )
        .where(F.col("support") >= min_support)
    )
