"""Deduplication operators for large-scale training-data pipelines.

All-native Catalyst implementations (no UDFs in any hot path): the hash
functions are md5-over-strings so every step is reproducible in ANSI SQL —
the DuckDB oracle computes the *same* signatures, which makes these ops
fully value-checkable, not just row-countable.

Scale notes (100 TB):
- exact_dedup shuffles once on the 32-hex-char fingerprint (not the text).
- minhash signatures are computed map-side per document; only
  (doc_id, band_key) pairs — a few dozen bytes/doc — reach the shuffle.
- LSH banding groups once on band_key, collecting each bucket's sorted
  member array, and pairs ids by a double explode within the bucket (no
  self-join); hot buckets (boilerplate) are capped via ``max_bucket_size``
  before the pair step to bound quadratic blowup, the standard web-dedup
  guard. ``minhash_candidate_pairs``, ``incremental_minhash_pairs`` and
  ``multimodal.dhash_candidate_pairs`` share that one bucket step
  (``_bucket_pairs``); the incremental operator pairs only its delta
  members.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = [
    "normalized_text",
    "exploded_shingles",
    "fingerprint",
    "exact_dedup",
    "cross_snapshot_dedup",
    "latest_by_key",
    "ttl_first_seen",
    "shingles",
    "minhash_candidate_pairs",
    "cluster_dedup",
    "ngram_jaccard_pairs",
    "ngram_containment_pairs",
    "edit_verified_pairs",
    "simhash_buckets",
    "duplicated_spans",
    "remove_duplicated_spans",
    "cluster_representatives",
    "incremental_minhash_pairs",
]


def normalized_text(col: Column) -> Column:
    """Dedup normalization: lowercase, collapse whitespace runs, trim.
    NULL-safe (web corpora carry NULL text): NULL → ''."""
    return F.trim(F.regexp_replace(F.lower(F.coalesce(col, F.lit(""))), r"\s+", " "))


def fingerprint(col: Column) -> Column:
    """Document fingerprint = md5 of normalized text (SQL-reproducible)."""
    return F.md5(normalized_text(col))


def exact_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Exact near-identity dedup: one canonical (min id) per fingerprint.

    Returns (id, fingerprint, canonical_id, is_duplicate). Formulated as a
    map-side-combinable groupBy(min) + equi-join rather than an unordered
    window: ``min OVER (PARTITION BY fingerprint)`` buffers each
    fingerprint's rows in ONE window group, so a degenerate fingerprint
    (billions of empty/boilerplate pages share one hash) OOMs a reducer
    at web scale; the join form partial-aggregates map-side and AQE
    skew-splits the join, and both shuffles share the fingerprint key so
    the exchange is reused.
    """
    fps = df.select(
        F.col(id_col).alias("id"), fingerprint(F.col(text_col)).alias("fingerprint")
    )
    canon = fps.groupBy("fingerprint").agg(F.min("id").alias("canonical_id"))
    return fps.join(canon, "fingerprint").select(
        "id",
        "fingerprint",
        "canonical_id",
        (F.col("id") != F.col("canonical_id")).alias("is_duplicate"),
    )


def shingles(col: Column, n: int = 3) -> Column:
    """Word n-gram shingles of normalized text (array<string>).

    Documents shorter than n words yield a single whole-text shingle so
    they still participate in hashing.
    """
    words = F.split(normalized_text(col), " ")
    k = F.size(words) - (n - 1)
    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(k, F.lit(1))),
        lambda i: F.array_join(F.slice(words, i, n), " "),
    )
    return F.when(F.size(words) >= n, grams).otherwise(
        F.array(F.array_join(words, " "))
    )


def _shingle_array(text: Column, n: int) -> Column:
    """The word n-gram shingles of ``text`` (array<string>) as ONE
    codegen'd regex pass — the generator behind ``exploded_shingles``."""
    norm = normalized_text(text)
    pattern = r"(?:^|\s)(?=(\S+" + r"\s\S+" * (n - 1) + r"))"
    # whole-text fallback when the doc has < n words; empty text yields
    # size(split)==1, so the n==1 case needs the explicit empty check to
    # still emit its whole-text ('') shingle
    return F.when(
        (F.size(F.split(norm, " ")) >= n) & (norm != ""),
        F.regexp_extract_all(norm, F.lit(pattern), 1),
    ).otherwise(F.array(norm))


def exploded_shingles(
    df: DataFrame, id_col: str, text_col: str, n: int = 3
) -> DataFrame:
    """(id, g) rows of word n-gram shingles — the bulk-path generator.

    Overlapping n-grams come from ONE codegen'd regex pass
    (``(?:^|\\s)(?=(\\S+(\\s\\S+){n-1}))`` — a zero-width lookahead captures
    the gram at every word start), which measures ~7x faster than the
    higher-order-function ``shingles`` column (HOFs evaluate interpreted,
    outside whole-stage codegen) and shuffles nothing. Documents shorter
    than ``n`` words contribute their whole normalized text, matching
    ``shingles``'s multiset exactly (equivalence-tested).

    Long and short documents are handled in ONE projection (a CASE inside
    the explode), so the source text column is scanned and normalized
    exactly once — not once per branch of a union."""
    return df.select(
        F.col(id_col).alias("id"),
        F.explode(_shingle_array(F.col(text_col), n)).alias("g"),
    )


def _minhash_band_keys(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int,
    bands: int,
    n: int,
    *carry: str,
) -> DataFrame:
    """(id, band_key, *carry) rows of the MinHash LSH banding — the one
    signature + band-key definition behind ``minhash_candidate_pairs``
    and ``incremental_minhash_pairs``. ``carry`` columns of ``df`` ride
    through the per-id signature aggregate as their max.

    Seed ``i`` is the minimum, over the document's shingles, of the
    ``i % 8``-th 4-hex-char window of digest ``i // 8``: digest 0 is
    ``md5(g)``, digest ``k > 0`` is ``md5(g || '|k')`` — an md5 holds eight
    windows, so seeds 8 and up need digests of their own (windows past
    the 32nd hex char would be empty, NULL after ``conv``, and drop out
    of the band key).
    """
    if bands < 1 or num_hashes < bands or num_hashes % bands:
        raise ValueError(
            f"bands must be >= 1 and divide num_hashes, got "
            f"num_hashes={num_hashes}, bands={bands}"
        )
    rows_per_band = num_hashes // bands
    digests = [
        F.md5(F.col("g") if k == 0 else F.concat("g", F.lit(f"|{k}"))).alias(f"_h{k}")
        for k in range((num_hashes + 7) // 8)
    ]
    ex = df.select(
        F.col(id_col).alias("id"),
        *carry,
        F.explode(_shingle_array(F.col(text_col), n)).alias("g"),
    ).select("id", *carry, *digests)
    # numeric minima: min over a STRING buffer forces SortAggregate (two
    # full sorts of the exploded shingle rows); fixed-width lowercase hex
    # sorts identically to its numeric value ('0'-'9' < 'a'-'f' in ASCII),
    # so min(conv(window,16,10)) selects exactly the same per-seed minima
    # while the int buffer keeps the aggregation a hash aggregate
    sig = ex.groupBy("id").agg(
        *[
            F.min(
                F.conv(F.substring(f"_h{i // 8}", 1 + 4 * (i % 8), 4), 16, 10).cast("int")
            ).alias(f"s{i}")
            for i in range(num_hashes)
        ],
        *[F.max(c).alias(c) for c in carry],
    )
    return sig.select(
        "id",
        *carry,
        F.explode(
            F.array(
                *[
                    # the raw "b|s..|s.." concat IS the band key: grouping
                    # on it yields exactly the md5-key buckets (the concat
                    # is injective: its operands are decimal ints, digits
                    # only, so the "|" separators cannot be forged) while
                    # skipping the hash and shuffling a short string
                    F.concat_ws(
                        "|",
                        F.lit(b),
                        *[F.col(f"s{b * rows_per_band + r}") for r in range(rows_per_band)],
                    )
                    for b in range(bands)
                ]
            )
        ).alias("band_key"),
    )


def _bucket_pairs(
    banded: DataFrame, max_bucket_size: int, old: Column | None = None
) -> DataFrame:
    """Candidate pairs ``(id_a, id_b)``, ``id_a < id_b``, distinct, of the
    ``(id, band_key)`` rows in ``banded`` — the one LSH bucket step.

    ONE groupBy(band_key) collects each bucket's members as a sorted
    array of ``(old, id)`` structs. A bucket's size is its number of rows
    (a NULL id counts), and buckets of 2..``max_bucket_size`` members are
    paired: each member whose ``old`` flag is false pairs with every later
    member. ``old`` members sort last, so two of them never pair, and the
    work is (non-old members) x bucket width; without ``old`` every
    member is paired with the later ones. Equal ids and NULL ids never
    pair. A degenerate bucket costs an O(bucket_size) collect_list buffer
    in Spark's ObjectHashAggregate (sort-based spill fallback), while its
    quadratic pair OUTPUT is filtered out before any explosion.
    """
    member = F.struct(
        (F.lit(False) if old is None else old).alias("old"), F.col("id").alias("id")
    )
    buckets = (
        banded.groupBy("band_key")
        .agg(F.sort_array(F.collect_list(member)).alias("_m"))
        .where((F.size("_m") >= 2) & (F.size("_m") <= max_bucket_size))
    )
    firsts = buckets.select(F.posexplode("_m").alias("_i", "_a"), "_m").where(
        ~F.col("_a.old")
    )
    return (
        firsts.select(
            F.col("_a.id").alias("_x"),
            F.explode(F.slice("_m", F.col("_i") + 2, F.size("_m"))).alias("_b"),
        )
        .where(F.col("_x") != F.col("_b.id"))
        .select(
            F.least("_x", "_b.id").alias("id_a"),
            F.greatest("_x", "_b.id").alias("id_b"),
        )
        .distinct()
    )


def minhash_candidate_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 8,
    bands: int = 4,
    n: int = 3,
    max_bucket_size: int = 1000,
) -> DataFrame:
    """LSH banding: docs sharing any band of the MinHash signature become a
    candidate pair (id_a < id_b, distinct).

    Physical plan: explode shingles → md5 ONCE per shingle (per eight
    seeds) → groupBy(id) with map-side partial MIN aggregation of the
    per-seed hex windows (the shuffle carries one tiny signature row per
    doc per partition), then band-key explode → ONE groupBy(band_key)
    collecting the bucket's sorted members → pairs by double-explode
    within each surviving bucket (``_bucket_pairs``).

    The bucket array formulation replaces a count-then-join +
    self-equi-join shape, which executed the shingle→signature pipeline
    four times (counts side, join side, and both self-join sides — 18
    Exchanges; measured 4.3 s at 100k docs on local[32] vs 2.0 s for this
    plan). ``max_bucket_size`` drops degenerate buckets (boilerplate
    text) before the quadratic pair step; a bucket's size counts its
    member documents, a NULL id included, and a NULL id is never paired.
    ``bands`` must divide ``num_hashes`` (``ValueError`` otherwise).
    """
    banded = _minhash_band_keys(df, id_col, text_col, num_hashes, bands, n)
    return _bucket_pairs(banded, max_bucket_size)


def cross_snapshot_dedup(
    new_df: DataFrame,
    seen_df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    seen_text_col: str | None = None,
) -> DataFrame:
    """Incremental-crawl dedup: rows of ``new_df`` whose content was NOT
    already in ``seen_df`` (the previously-kept corpus).

    A continuously-crawled corpus dedups each new snapshot against
    everything already retained — the delta load every monthly
    Common-Crawl ingest runs before any within-snapshot work. Formulated
    as a LEFT ANTI equi-join on the md5 content fingerprint: both sides
    reduce to (key) / (key, id) projections, the join is a plain hash
    key shuffle AQE can skew-split (boilerplate fingerprints are hot on
    BOTH sides), and the seen side ships only its distinct fingerprints —
    at 10^12 documents that index is still orders of magnitude smaller
    than the text it stands for. No window, no broadcast assumption.

    Output: (id, fingerprint) of the genuinely-new documents.
    """
    new_fp = new_df.select(
        F.col(id_col).alias("id"), fingerprint(F.col(text_col)).alias("fingerprint")
    )
    seen_fp = seen_df.select(
        fingerprint(F.col(seen_text_col or text_col)).alias("fingerprint")
    ).distinct()
    return new_fp.join(seen_fp, "fingerprint", "left_anti").select("id", "fingerprint")


def latest_by_key(
    df: DataFrame, key_col: str, ts_col: str, id_col: str
) -> DataFrame:
    """Newest row per key — crawl-snapshot dedup: a Common-Crawl-style
    table holds one row per (url, warc_ts) fetch, and most pipelines
    want only the latest fetch of each url before any content work.

    Winner = maximum ``(ts, id)`` (lexicographic struct max, so ties on
    the timestamp resolve deterministically to the larger id). One
    map-side-combinable ``groupBy(key).max(struct)`` — no window (an
    unordered window would buffer a hot url's whole fetch history in one
    reducer), no join (the struct carries the winner's columns out).

    Output: (key, id, ts, n_snapshots)."""
    return (
        df.select(
            F.col(key_col).alias("key"),
            F.struct(F.col(ts_col).alias("ts"), F.col(id_col).alias("id")).alias("_w"),
        )
        .groupBy("key")
        .agg(F.max("_w").alias("_w"), F.count("*").alias("n_snapshots"))
        .select(
            "key",
            F.col("_w.id").alias("id"),
            F.col("_w.ts").alias("ts"),
            "n_snapshots",
        )
    )


def ttl_first_seen(
    df: DataFrame,
    id_col: str,
    ts_col: str,
    key_col: str,
    gap: str = "1 hour",
) -> DataFrame:
    """TTL dedup horizon in batch: one emitted row per (key, activity
    session), where a session extends while consecutive same-key
    sightings are within ``gap`` of each other and a sighting arriving
    more than ``gap`` after the previous one starts a new session — a
    fingerprint is forgotten after the horizon and re-emits, and every
    suppressed duplicate extends its retention (a sliding TTL).

    Implemented with Spark's NATIVE ``session_window`` aggregation —
    sessions merge via partial aggregation (UpdatingSessions /
    MergingSessions are sort-based streaming iterators, no whole-group
    buffering), so a degenerate key (boilerplate fingerprint with
    billions of sightings) does not OOM a reducer the way a window
    function would. One shuffle on (key, session).

    Boundary rule (asserted in tests): an event exactly ``gap`` after the
    previous one still EXTENDS the session (Spark merges sessions whose
    start equals the previous end); a new session needs a strictly larger
    gap.

    Output: (key, first_id, first_ts, n_in_session) — the first sighting
    (smallest (ts, id)) and the number of sightings it suppressed."""
    t = F.col(ts_col).cast("timestamp")
    return (
        df.select(
            F.col(key_col).alias("key"),
            F.col(id_col).alias("id"),
            t.alias("ts"),
        )
        .groupBy("key", F.session_window("ts", gap).alias("_w"))
        .agg(
            F.min(F.struct("ts", "id")).alias("_first"),
            F.count("*").alias("n_in_session"),
        )
        .select(
            "key",
            F.col("_first.id").alias("first_id"),
            F.col("_first.ts").alias("first_ts"),
            "n_in_session",
        )
    )


def cluster_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 8,
    bands: int = 4,
    n: int = 3,
    max_bucket_size: int = 1000,
    max_iter: int = 25,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Cluster-level near-dup dedup: minhash candidate pairs → distributed
    connected components → one canonical (min-id) document per cluster.

    Returns (id, cluster_id, is_duplicate) for EVERY input document
    (singletons are their own cluster). This is the full web-scale dedup
    composition: transitive near-dup chains (A≈B≈C where A and C share no
    band) collapse into one cluster, which pairwise filtering alone would
    keep as separate survivors.

    ``checkpoint_dir`` makes the per-round lineage cuts durable (see
    ``connected_components``) — set it for long runs on a real cluster."""
    from .components import connected_components

    pairs = minhash_candidate_pairs(
        df, id_col, text_col, num_hashes, bands, n, max_bucket_size
    )
    cc = connected_components(
        pairs, "id_a", "id_b", max_iter=max_iter, checkpoint_dir=checkpoint_dir
    )
    return (
        df.select(F.col(id_col).alias("id"))
        .join(cc.withColumnRenamed("node", "id"), "id", "left")
        .select(
            "id",
            F.coalesce("component", F.col("id")).alias("cluster_id"),
        )
        .withColumn("is_duplicate", F.col("id") != F.col("cluster_id"))
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.8,
    max_doc_freq: int = 10_000,
) -> DataFrame:
    """n-gram Jaccard similarity join via a document-frequency-capped
    inverted shingle index: the Jaccard VALUE is exact for every emitted
    pair, but pairs whose every shared shingle exceeds ``max_doc_freq``
    are not generated (never all-pairs, never boilerplate-quadratic).

    ``max_doc_freq`` caps the posting-list length used for CANDIDATE
    GENERATION: a boilerplate shingle appearing in f documents would emit
    f²/2 join rows, so shingles with document frequency > cap are excluded
    from the self-join (the same guard as ``max_bucket_size`` in
    ``minhash_candidate_pairs``). The Jaccard value itself is still exact —
    computed over the FULL shingle sets of each surviving candidate pair —
    so capping only loses pairs whose every shared shingle is
    above-threshold frequent (non-discriminative boilerplate by
    definition).

    Returns (id_a, id_b, jaccard) with jaccard ≥ threshold.
    """
    inv = exploded_shingles(df, id_col, text_col, n).distinct()
    sizes = inv.groupBy("id").agg(F.count("*").alias("sz"))
    rare = inv.groupBy("g").agg(F.count("*").alias("_df")).where(
        F.col("_df") <= max_doc_freq
    ).select("g")
    idx = inv.join(rare, "g")
    cand = (
        idx.alias("x")
        .join(idx.alias("y"), (F.col("x.g") == F.col("y.g")) & (F.col("x.id") < F.col("y.id")))
        .select(F.col("x.id").alias("id_a"), F.col("y.id").alias("id_b"))
        .distinct()
    )
    # exact Jaccard over the FULL (uncapped) shingle sets of the (few)
    # candidates: intersection counted through the inverted index itself
    inter = (
        cand.join(inv.alias("a"), F.col("id_a") == F.col("a.id"))
        .join(
            inv.alias("b"),
            (F.col("id_b") == F.col("b.id")) & (F.col("a.g") == F.col("b.g")),
        )
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("_i"))
    )
    return (
        inter.join(sizes.select(F.col("id").alias("id_a"), F.col("sz").alias("_sa")), "id_a")
        .join(sizes.select(F.col("id").alias("id_b"), F.col("sz").alias("_sb")), "id_b")
        .withColumn(
            "jaccard",
            F.col("_i") / (F.col("_sa") + F.col("_sb") - F.col("_i")),
        )
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
    )


def ngram_containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold_ppm: int = 500_000,
    max_doc_freq: int = 10_000,
) -> DataFrame:
    """n-gram CONTAINMENT similarity join — the asymmetric companion to
    ``ngram_jaccard_pairs`` for subset/quotation detection: a short
    document wholly quoted inside a long one has low Jaccard (the union
    is dominated by the long doc) but containment 1.0. Score is the
    max-containment ``|A∩B| / min(|A|,|B|)`` in integer parts per
    million (``(1e6 * inter) div least(sz_a, sz_b)`` — int64 floor
    division both engines evaluate identically; doubles would tie-break
    differently across libm builds). Returns (id_a, id_b, inter, sz_a,
    sz_b, containment_ppm) with id_a < id_b and containment_ppm >=
    ``threshold_ppm``.

    Candidate generation and the ``max_doc_freq`` posting-list cap are
    exactly ``ngram_jaccard_pairs``'s (df-capped inverted shingle
    index, never all-pairs); the containment VALUE is exact over the
    full shingle sets of every surviving pair.
    """
    inv = exploded_shingles(df, id_col, text_col, n).distinct()
    sizes = inv.groupBy("id").agg(F.count("*").alias("sz"))
    rare = (
        inv.groupBy("g")
        .agg(F.count("*").alias("_df"))
        .where(F.col("_df") <= max_doc_freq)
        .select("g")
    )
    idx = inv.join(rare, "g")
    cand = (
        idx.alias("x")
        .join(
            idx.alias("y"),
            (F.col("x.g") == F.col("y.g")) & (F.col("x.id") < F.col("y.id")),
        )
        .select(F.col("x.id").alias("id_a"), F.col("y.id").alias("id_b"))
        .distinct()
    )
    inter = (
        cand.join(inv.alias("a"), F.col("id_a") == F.col("a.id"))
        .join(
            inv.alias("b"),
            (F.col("id_b") == F.col("b.id")) & (F.col("a.g") == F.col("b.g")),
        )
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("inter"))
    )
    return (
        inter.join(
            sizes.select(F.col("id").alias("id_a"), F.col("sz").alias("sz_a")),
            "id_a",
        )
        .join(
            sizes.select(F.col("id").alias("id_b"), F.col("sz").alias("sz_b")),
            "id_b",
        )
        .withColumn(
            "containment_ppm",
            F.expr("(1000000 * inter) div least(sz_a, sz_b)"),
        )
        .where(F.col("containment_ppm") >= threshold_ppm)
        .select("id_a", "id_b", "inter", "sz_a", "sz_b", "containment_ppm")
    )


def edit_verified_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    candidates: DataFrame | None = None,
    max_chars: int = 1000,
    min_sim_ppm: int = 800_000,
    num_hashes: int = 8,
    bands: int = 4,
    n: int = 3,
) -> DataFrame:
    """Edit-distance VERIFICATION of near-duplicate candidates — the
    precision stage after MinHash/LSH recall: shingle similarity admits
    reordered or bag-of-words-similar texts; Levenshtein certifies
    character-level edit closeness (the criterion exact-substring dedup
    papers verify against). ``candidates`` defaults to
    ``minhash_candidate_pairs`` over the same input; pass any
    (id_a, id_b) DataFrame (simhash buckets, containment pairs) to
    verify a different recall stage.

    Returns (id_a, id_b, dist, len_a, len_b, sim_ppm) with sim_ppm =
    ``1e6 * (greatest(len_a,len_b) - dist) div greatest(len_a,len_b)``
    (two empty texts define sim_ppm = 1e6), filtered to
    ``sim_ppm >= min_sim_ppm``. All integer arithmetic — value-hashes
    across engines.

    Portability contract: the distance runs over the dedup
    normalization PROJECTED TO ASCII — every non-ASCII code point
    becomes one ``?`` — because Spark's ``levenshtein`` counts code
    points while DuckDB's counts bytes; on ASCII-only strings the two
    semantics coincide. The projection keeps lengths and edit positions
    (a non-ASCII substitution still costs 1) but maps distinct
    non-ASCII characters to the same placeholder, so the reported
    distance is a LOWER bound (sim_ppm an upper bound) on the true
    code-point distance — conservative in the right direction for a
    verification stage that must not false-reject.

    Scale shape: candidates come from banded LSH (never all-pairs);
    ``max_chars`` truncates both sides before the O(len_a·len_b)
    distance kernel, bounding per-pair cost at max_chars² — the
    documented precision/cost knob (1000 chars ≈ the span exact-dedup
    operates at). Texts join back to the pair list via two id
    equi-joins; the distance itself is a JVM built-in (no Python).
    """
    if candidates is None:
        candidates = minhash_candidate_pairs(
            df, id_col, text_col, num_hashes=num_hashes, bands=bands, n=n
        )
    ascii_txt = F.substring(
        F.regexp_replace(
            normalized_text(F.col(text_col)), r"[^\x00-\x7F]", "?"
        ),
        1,
        max_chars,
    )
    texts = df.select(F.col(id_col).alias("id"), ascii_txt.alias("t"))
    return (
        candidates.select("id_a", "id_b")
        .join(texts.select(F.col("id").alias("id_a"), F.col("t").alias("t_a")), "id_a")
        .join(texts.select(F.col("id").alias("id_b"), F.col("t").alias("t_b")), "id_b")
        .select(
            "id_a",
            "id_b",
            F.levenshtein("t_a", "t_b").alias("dist"),
            F.length("t_a").alias("len_a"),
            F.length("t_b").alias("len_b"),
        )
        .withColumn(
            "sim_ppm",
            F.when(F.greatest("len_a", "len_b") == 0, F.lit(1_000_000)).otherwise(
                F.expr(
                    "(1000000 * (greatest(len_a, len_b) - dist))"
                    " div greatest(len_a, len_b)"
                )
            ),
        )
        .where(F.col("sim_ppm") >= min_sim_ppm)
        .select("id_a", "id_b", "dist", "len_a", "len_b", "sim_ppm")
    )


def simhash_buckets(df: DataFrame, id_col: str, text_col: str, n: int = 2, prefix_bits: int = 16) -> DataFrame:
    """60-bit SimHash near-dup blocking: per shingle, 60 hash bits from the
    first 15 hex chars of md5 (conv→bigint); each bit votes +1/-1 across
    shingles; the sign vector is the simhash. Docs whose top
    ``prefix_bits`` agree share a bucket (recall-oriented blocking).
    All native aggregates. Returns (id, simhash, bucket).
    """
    hashed = exploded_shingles(df, id_col, text_col, n).withColumn(
        "h", F.conv(F.substring(F.md5("g"), 1, 15), 16, 10).cast("long")
    )
    votes = hashed.select(
        "id",
        *[
            F.when(F.shiftright(F.col("h"), j).bitwiseAND(F.lit(1)) == 1, 1)
            .otherwise(-1)
            .alias(f"b{j}")
            for j in range(60)
        ],
    ).groupBy("id").agg(*[F.sum(f"b{j}").alias(f"b{j}") for j in range(60)])
    sim = votes.select(
        "id",
        sum(
            [
                F.when(F.col(f"b{j}") > 0, F.lit(2 ** j)).otherwise(F.lit(0))
                for j in range(60)
            ],
            F.lit(0).cast("long"),
        ).alias("simhash"),
    )
    return sim.withColumn("bucket", F.shiftright(F.col("simhash"), 60 - prefix_bits))


def duplicated_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    window: int = 50,
    min_occurrences: int = 2,
) -> DataFrame:
    """Exact duplicated-substring spans — the bounded-window variant of
    suffix-array training-data dedup (public method: Lee et al. 2021,
    "Deduplicating Training Data Makes Language Models Better"): for
    every document, the maximal token spans in which EVERY ``window``-
    token sliding window occurs at least ``min_occurrences`` times
    corpus-wide (within-document repeats count, as in the paper).

    Returns (id, span_start, span_end, span_tokens) in 0-based token
    coordinates over the normalized text — the input to surgical span
    removal (cut the span, keep the document) rather than whole-doc
    dropping. Documents shorter than ``window`` tokens emit nothing.

    DIV vs the true suffix-array method: each window's occurrences may
    come from DIFFERENT partner documents, so a reported span need not
    be one contiguous match against a single partner — it is the union
    of windows that are duplicated *somewhere*. This is the standard
    scalable relaxation (the paper's own dedup acts on exactly these
    windowed matches); exact partner attribution is what
    ``winnow_overlap_pairs`` adds on top.

    Scale shape: one codegen'd lookahead-regex projection generates all
    windows with their token positions (posexplode order — no HOF
    re-evaluation, no second scan; the exploded_shingles pattern), ONE
    md5 per window folded to a 60-bit int (engine-portable, shuffles
    8-byte keys instead of window text), a map-side-combinable count by
    hash, an equi-join back (both sides already partitioned by the
    hash — AQE reuses the exchange), and one groupBy(id) whose
    collect_list is bounded by tokens-per-document (the same bound as
    the token array itself; the interval merge is a per-row expression
    fold, not a window). No windows, no cartesian joins, no driver
    loops.
    """
    if window < 2:
        raise ValueError(f"window must be >= 2, got {window}")
    if min_occurrences < 2:
        raise ValueError(
            f"min_occurrences must be >= 2, got {min_occurrences}"
        )
    norm = normalized_text(F.col(text_col))
    pattern = r"(?:^|\s)(?=(\S+" + r"\s\S+" * (window - 1) + r"))"
    grams = F.when(
        (F.size(F.split(norm, " ")) >= window) & (norm != ""),
        F.regexp_extract_all(norm, F.lit(pattern), 1),
    ).otherwise(F.array().cast("array<string>"))
    w = df.select(F.col(id_col).alias("id"), grams.alias("_grams"))
    # posexplode_outer + isNotNull: plain posexplode on an attribute lets
    # InferFiltersFromGenerate re-inline the whole defining expression
    # into a per-row Filter (the round-4 winnow regression)
    hashed = (
        w.select("id", F.posexplode_outer("_grams").alias("pos", "g"))
        .where(F.col("pos").isNotNull())
        .select(
            "id",
            "pos",
            F.conv(F.substring(F.md5("g"), 1, 15), 16, 10)
            .cast("long")
            .alias("h"),
        )
    )
    dup_hashes = (
        hashed.groupBy("h")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .where(F.col("cnt") >= min_occurrences)
        .select("h")
    )
    dup_pos = hashed.join(dup_hashes, "h").select("id", "pos")
    merged = dup_pos.groupBy("id").agg(
        F.sort_array(F.collect_list("pos")).alias("_ps")
    )
    # interval merge: window at p covers tokens [p, p+window-1]; two
    # duplicated windows chain into one span when the next start is
    # inside-or-adjacent to the current span (p' <= end + 1)
    spans = F.expr(
        f"""
        aggregate(
          _ps,
          cast(array() as array<struct<s: int, e: int>>),
          (acc, p) -> CASE
            WHEN size(acc) = 0 OR p > element_at(acc, -1).e + 1
              THEN concat(acc, array(named_struct(
                     's', p, 'e', p + {window} - 1)))
            ELSE concat(slice(acc, 1, size(acc) - 1), array(named_struct(
                   's', element_at(acc, -1).s, 'e', p + {window} - 1)))
          END
        )
        """
    )
    return (
        merged.select("id", F.explode(spans).alias("sp"))
        .select(
            "id",
            F.col("sp.s").alias("span_start"),
            F.col("sp.e").alias("span_end"),
            (F.col("sp.e") - F.col("sp.s") + 1).alias("span_tokens"),
        )
    )


def remove_duplicated_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    window: int = 50,
    min_occurrences: int = 2,
) -> DataFrame:
    """Span surgery — the removal half of Lee et al. dedup: cut every
    ``duplicated_spans`` span out of the normalized text and keep the
    rest of the document. Returns (id, clean_text, n_removed) for EVERY
    input document (untouched docs pass through with n_removed = 0);
    token coordinates and span semantics are exactly
    ``duplicated_spans``'s.

    Scale shape: the spans table (documents-with-duplication-sized, a
    few ints per span) aggregates to one array per doc and equi-joins
    back on the id; the cut itself is a per-row ``filter`` over the
    token array against that bounded span list (O(tokens x spans) with
    spans already merged-maximal). One extra id-keyed shuffle over the
    span SIDE only — the corpus side arrives via its scan.
    """
    spans = duplicated_spans(
        df, id_col, text_col, window=window, min_occurrences=min_occurrences
    )
    per_doc = spans.groupBy("id").agg(
        F.collect_list(F.struct("span_start", "span_end")).alias("_spans")
    )
    norm = normalized_text(F.col(text_col))
    base = df.select(F.col(id_col).alias("id"), norm.alias("_norm"))
    joined = base.join(per_doc, "id", "left").select(
        "id", F.split("_norm", " ").alias("_toks"), "_spans"
    )
    kept = F.when(F.col("_spans").isNull(), F.col("_toks")).otherwise(
        F.filter(
            F.col("_toks"),
            lambda t, i: ~F.exists(
                F.col("_spans"),
                lambda sp: (i >= sp["span_start"]) & (i <= sp["span_end"]),
            ),
        )
    )
    return joined.select(
        "id",
        F.array_join(kept, " ").alias("clean_text"),
        (F.size("_toks") - F.size(kept)).alias("n_removed"),
    )


def cluster_representatives(
    scored: DataFrame,
    clusters: DataFrame,
    id_col: str = "id",
    score_col: str = "score",
    cluster_col: str = "cluster_id",
) -> DataFrame:
    """Dedup finishing step: inside each duplicate cluster keep exactly
    one canonical document — the highest-``score`` member (ties broken by
    smallest id, so the choice is a pure function of the input).  This is
    the step after ``cluster_dedup``: candidate pairs → components →
    *pick the survivor* (training pipelines keep the longest/cleanest
    copy, not an arbitrary one).

    Inputs: ``scored`` carries ``(id, score)`` (any integer quality
    signal — length, quality_linear, readability); ``clusters`` carries
    ``(id, cluster_id)`` from ``cluster_dedup``.  Returns one row per
    clustered document: ``(id, cluster_id, score, keep)`` with ``keep=1``
    on the representative.  Documents missing a score row are excluded
    (score is the selection key; emit a 0-score row upstream to keep
    them), NULL scores rank below every non-NULL score.

    Scale shape: one equi-join on the id and one map-side-combinable
    ``min(struct(-score, id))`` per cluster (the line_dedup
    first-occurrence pattern — never a window), then a broadcast-or-
    shuffle equi-join of the winner dim back onto the rows. Cluster
    count ~ doc count; no per-key blowup anywhere.
    """
    rows = clusters.select(
        F.col(id_col).alias("id"), F.col(cluster_col).alias("cluster_id")
    ).join(
        scored.select(
            F.col(id_col).alias("id"),
            F.col(score_col).cast("long").alias("score"),
        ),
        "id",
    )
    # min(struct) picks (max score, then min id); NULL scores sort after
    # every non-NULL -score value via coalesce to long-min sentinel
    neg = F.coalesce(-F.col("score"), F.lit(2**62))
    winners = rows.groupBy("cluster_id").agg(
        F.min(F.struct(neg.alias("ns"), F.col("id").alias("id"))).alias("w")
    ).select("cluster_id", F.col("w.id").alias("_rep"))
    return (
        rows.join(winners, "cluster_id")
        .select(
            "id",
            "cluster_id",
            "score",
            (F.col("id") == F.col("_rep")).cast("int").alias("keep"),
        )
    )


def incremental_minhash_pairs(
    base_df: DataFrame,
    delta_df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 8,
    bands: int = 4,
    n: int = 3,
    max_bucket_size: int = 1000,
) -> DataFrame:
    """Incremental near-dup candidates for a crawl update: exactly the
    pairs a FULL ``minhash_candidate_pairs`` re-run over base ∪ delta
    would emit that involve at least one delta (new or re-crawled)
    document — unchanged×unchanged pairs, already known from the
    previous run, are never re-derived. When an id appears on both
    sides, the delta row wins (it carries the re-crawled content).

    Returns ``(id_a, id_b)`` with ``id_a < id_b``, distinct — the same
    contract as the full operator, so downstream clustering consumes
    either interchangeably (union the new pairs with the previous pair
    archive before ``cluster_dedup``).

    Scale shape: one left anti join drops the base rows the delta
    replaces; base ∪ delta then runs the full operator's signature and
    bucket steps ONCE, each member carrying a literal "old" flag
    (base = old). ``max_bucket_size`` caps the merged bucket, exactly as
    the full re-run would, and only delta members are paired with the
    rest of their bucket: the pair work is |delta members| x bucket
    width, never base×base — the whole point of incremental processing
    at 10^12 documents where each crawl touches a small fraction. (A
    production deployment would persist the base side's (id, band_key)
    rows between crawls so that only the delta's signatures are new.)
    """
    delta_ids = delta_df.select(F.col(id_col))
    base_kept = base_df.join(delta_ids, [id_col], "left_anti")
    union = base_kept.select(
        F.col(id_col).alias("id"), F.col(text_col).alias("t"), F.lit(True).alias("_old")
    ).unionByName(
        delta_df.select(
            F.col(id_col).alias("id"), F.col(text_col).alias("t"), F.lit(False).alias("_old")
        )
    )
    banded = _minhash_band_keys(union, "id", "t", num_hashes, bands, n, "_old")
    return _bucket_pairs(banded, max_bucket_size, F.col("_old"))
