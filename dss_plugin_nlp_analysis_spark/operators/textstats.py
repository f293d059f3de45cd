"""Text analysis for training-data curation: token counts, quality
scoring, language-marker ID, document fingerprints.

All native Catalyst expressions (SQL-reproducible for the DuckDB oracle).
Language ID is the marker-word variant: a shuffle-free native map that
scales to 100 TB.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .dedup import fingerprint, normalized_text

__all__ = [
    "word_tokens",
    "token_count",
    "regex_token_count",
    "quality_features",
    "repetition_features",
    "gopher_filter",
    "tfidf_top_terms",
    "top_ngrams",
    "quantile_buckets",
    "collocations",
    "unigram_cost_table",
    "unigram_lm_scores",
    "winnow_fingerprints",
    "winnow_overlap_pairs",
    "marker_langid",
    "mixed_language_profile",
    "script_profile",
    "SCRIPT_RANGES",
    "remove_stopwords",
    "EN_STOPWORDS",
    "bigram_lm_scores",
    "char_pair_counts",
    "hashed_linear_score",
    "rake_keywords",
    "readability_scores",
    "textrank_sentences",
]

# small fixed stopword list (order matters nowhere; frozen for oracles)
EN_STOPWORDS = ["the", "a", "an", "of", "and", "to", "in", "is", "it", "that"]

_TOKEN_REGEX = r"[a-z0-9]+|[^a-z0-9\s]"


def word_tokens(col: Column) -> Column:
    return F.split(normalized_text(col), " ")


def token_count(col: Column) -> Column:
    """Whitespace token count of normalized text."""
    return F.when(normalized_text(col) == "", 0).otherwise(F.size(word_tokens(col)))


def regex_token_count(col: Column) -> Column:
    """BPE-ish token count: alnum runs + individual punctuation marks
    (regexp-based; identical regex runs in the DuckDB oracle)."""
    return F.size(F.regexp_extract_all(normalized_text(col), F.lit(_TOKEN_REGEX), 0))


def quality_features(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Per-document quality features + composite score.

    Features (frozen formula, SEMANTICS-stable for regression):
    n_chars, n_tokens, avg_token_len, stopword_ratio, punct_ratio;
    score = stopword-signal × length-signal, clipped to [0, 1].
    """
    t = F.col(text_col)
    toks = word_tokens(t)
    n_tokens = token_count(t)
    norm = normalized_text(t)
    n_chars = F.length(norm)
    stop_arr = F.array(*[F.lit(s) for s in EN_STOPWORDS])
    n_stop = F.size(F.filter(toks, lambda x: F.array_contains(stop_arr, x)))
    n_punct = F.size(F.regexp_extract_all(norm, F.lit(r"[^\w\s]"), 0))
    avg_len = F.when(n_tokens > 0, (F.length(F.array_join(toks, "")) / n_tokens)).otherwise(0.0)
    stop_ratio = F.when(n_tokens > 0, n_stop / n_tokens).otherwise(0.0)
    punct_ratio = F.when(n_chars > 0, n_punct / n_chars).otherwise(0.0)
    score = F.least(
        F.lit(1.0),
        F.greatest(
            F.lit(0.0),
            (F.lit(0.5) + stop_ratio) * F.least(F.lit(1.0), n_tokens / F.lit(20.0))
            - punct_ratio,
        ),
    )
    return df.select(
        F.col(id_col).alias("id"),
        n_chars.alias("n_chars"),
        n_tokens.alias("n_tokens"),
        F.round(avg_len, 6).alias("avg_token_len"),
        F.round(stop_ratio, 6).alias("stopword_ratio"),
        F.round(punct_ratio, 6).alias("punct_ratio"),
        F.round(score, 6).alias("quality_score"),
        fingerprint(t).alias("fingerprint"),
    )


def _max_multiplicity(sorted_arr: Column) -> Column:
    """Count of the most frequent element of a SORTED array, as a single
    per-row fold (equal elements are adjacent after the sort, so the mode's
    count is the longest equal-run). Keeps the repetition features a pure
    map — the alternative explode + groupBy(id, word) would shuffle every
    token of a 100 TB corpus."""
    init = F.struct(
        F.lit(None).cast("string").alias("prev"),
        F.lit(0).alias("run"),
        F.lit(0).alias("best"),
    )

    def step(acc, x):
        run = F.when(x.eqNullSafe(acc["prev"]), acc["run"] + 1).otherwise(F.lit(1))
        return F.struct(
            x.alias("prev"), run.alias("run"),
            F.greatest(acc["best"], run).alias("best"),
        )

    return F.aggregate(sorted_arr, init, step, lambda acc: acc["best"])


def repetition_features(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Gopher/RefinedWeb-style repetition signals, per document:

    - top_unigram_ratio: share of tokens taken by the most frequent token
    - dup_word_ratio: 1 − distinct/total tokens
    - top_bigram_ratio: share of bigrams taken by the most frequent bigram

    Boilerplate, keyword-stuffed, and template pages score high on these
    and are the standard crawl-filtering cut after length/stopword checks.
    Entirely per-row Catalyst expressions (sort + fold inside the row):
    no shuffle, no UDF — the plan stays a map at any corpus size. Line-
    level repetition belongs upstream of normalization (normalized text
    collapses newlines — see textprep.clean_linebreaks_col)."""
    norm = normalized_text(F.col(text_col))
    toks = F.when(norm == "", F.array().cast("array<string>")).otherwise(
        F.split(norm, " ")
    )
    n = F.size(toks)
    bigrams = F.when(
        n >= 2,
        F.zip_with(
            F.slice(toks, 1, n - 1),
            F.slice(toks, 2, n - 1),
            lambda a, b: F.concat(a, F.lit(" "), b),
        ),
    ).otherwise(F.array().cast("array<string>"))
    top_uni = F.when(n > 0, _max_multiplicity(F.array_sort(toks)) / n).otherwise(0.0)
    dup_ratio = F.when(n > 0, F.lit(1.0) - F.size(F.array_distinct(toks)) / n).otherwise(0.0)
    top_bi = F.when(
        n >= 2, _max_multiplicity(F.array_sort(bigrams)) / (n - 1)
    ).otherwise(0.0)
    return df.select(
        F.col(id_col).alias("id"),
        F.round(top_uni, 6).alias("top_unigram_ratio"),
        F.round(dup_ratio, 6).alias("dup_word_ratio"),
        F.round(top_bi, 6).alias("top_bigram_ratio"),
    )


def gopher_filter(
    df: DataFrame,
    id_col: str,
    text_col: str,
    min_tokens: int = 50,
    max_tokens: int = 100_000,
    min_avg_len: float = 3.0,
    max_avg_len: float = 10.0,
    min_stopword_ratio: float = 0.06,
    max_top_unigram_ratio: float = 0.20,
    max_dup_word_ratio: float = 0.30,
) -> DataFrame:
    """Gopher-style composite quality gate (Rae et al. 2021, public):
    keep a document iff token count, mean token length, stop-word ratio
    and repetition signals are all inside their thresholds — the standard
    crawl pre-training cut, with the thresholds exposed as parameters
    (defaults follow the published rules where they transfer to
    whitespace tokens).

    All signals are computed in ONE projection (the same frozen formulas
    as ``quality_features`` / ``repetition_features``) — no join between
    feature tables, so the filter stays a pure per-row map with zero
    shuffle at any corpus size.

    Output: (id, n_tokens, avg_token_len, stopword_ratio,
    top_unigram_ratio, dup_word_ratio, keep int)."""
    t = F.col(text_col)
    norm = normalized_text(t)
    toks = F.when(norm == "", F.array().cast("array<string>")).otherwise(
        F.split(norm, " ")
    )
    n = F.size(toks)
    stop_arr = F.array(*[F.lit(s) for s in EN_STOPWORDS])
    n_stop = F.size(F.filter(toks, lambda x: F.array_contains(stop_arr, x)))
    avg_len = F.when(n > 0, F.length(F.array_join(toks, "")) / n).otherwise(0.0)
    stop_ratio = F.when(n > 0, n_stop / n).otherwise(0.0)
    top_uni = F.when(n > 0, _max_multiplicity(F.array_sort(toks)) / n).otherwise(0.0)
    dup_ratio = F.when(
        n > 0, F.lit(1.0) - F.size(F.array_distinct(toks)) / n
    ).otherwise(0.0)
    keep = (
        (n >= min_tokens)
        & (n <= max_tokens)
        & (avg_len >= min_avg_len)
        & (avg_len <= max_avg_len)
        & (stop_ratio >= min_stopword_ratio)
        & (top_uni <= max_top_unigram_ratio)
        & (dup_ratio <= max_dup_word_ratio)
    )
    return df.select(
        F.col(id_col).alias("id"),
        n.alias("n_tokens"),
        F.round(avg_len, 6).alias("avg_token_len"),
        F.round(stop_ratio, 6).alias("stopword_ratio"),
        F.round(top_uni, 6).alias("top_unigram_ratio"),
        F.round(dup_ratio, 6).alias("dup_word_ratio"),
        keep.cast("int").alias("keep"),
    )


def unigram_cost_table(freqs: dict[str, int]) -> tuple[dict[str, int], int]:
    """(word → integer micro-nat cost, OOV cost) for ``unigram_lm_scores``
    — the ONE derivation of the cost literals; oracle builders must call
    this rather than re-deriving, so both engine sides stay byte-identical
    by construction."""
    import math

    total = sum(freqs.values()) or 1
    cost = {
        w: int(round(-(math.log(c) - math.log(total)) * 1e6))
        for w, c in freqs.items()
    }
    return cost, int(round(math.log(total) * 1e6))


def unigram_lm_scores(
    df: DataFrame, id_col: str, text_col: str, freqs: dict[str, int]
) -> DataFrame:
    """Unigram language-model quality score (the C4/Gopher-family "does
    this read like language" filter): per document, the average negative
    log-probability of its tokens under a fixed unigram table, plus the
    out-of-vocabulary token count. High avg_nll = unlikely under the LM =
    gibberish/boilerplate candidate.

    Determinism contract: per-token costs are precomputed in Python as
    INTEGER micro-nats (round(-ln(p) * 1e6)) and folded with integer
    addition — float summation order can differ between engines, integer
    summation cannot, so the DuckDB oracle reproduces values bit-exactly.
    OOV tokens cost ``-ln(1/total)`` (count-1 smoothing).

    Scale shape: the vocabulary ships as a map literal inside the plan —
    a pure per-row map, zero shuffle (fine to ~10^4 entries; for a full
    web-scale LM vocabulary, swap the literal for a broadcast-join on
    exploded tokens and re-aggregate by id — one equi-key shuffle).
    """
    cost, oov_cost = unigram_cost_table(freqs)
    pairs: list[Column] = []
    for w, c in sorted(cost.items()):
        pairs += [F.lit(w), F.lit(c)]
    cost_map = F.create_map(*pairs)
    toks = word_tokens(F.col(text_col))
    n = token_count(F.col(text_col))
    tok_costs = F.transform(
        toks, lambda x: F.coalesce(cost_map[x], F.lit(oov_cost))
    )
    nll_micro = F.when(n > 0, F.aggregate(
        tok_costs, F.lit(0).cast("long"), lambda acc, x: acc + x
    )).otherwise(F.lit(0).cast("long"))
    n_oov = F.when(n > 0, F.size(
        F.filter(toks, lambda x: cost_map[x].isNull())
    )).otherwise(0)
    return df.select(
        F.col(id_col).alias("id"),
        n.alias("n_tokens"),
        n_oov.alias("n_oov"),
        nll_micro.alias("nll_micro"),
        F.round(
            F.when(n > 0, nll_micro / n / F.lit(1e6)).otherwise(0.0), 6
        ).alias("avg_nll"),
    )


def top_ngrams(df: DataFrame, id_col: str, text_col: str, *, n: int = 2, k: int = 20) -> DataFrame:
    """Corpus-wide top-k word n-grams by occurrence count — the LM-stats
    pass (vocabulary/collocation profiling, boilerplate discovery) every
    pretraining corpus report includes.

    Output: (gram, n_occurrences), the k most frequent n-grams, ties
    broken by gram text so the result is deterministic.

    Scale shape: grams come from the fused single-scan regex generator
    (``dedup.exploded_shingles``), the count is one map-side-combinable
    ``groupBy(gram)`` (hot boilerplate grams partial-sum inside each map
    task — the combiner absorbs the skew), and the global top-k is
    ``ORDER BY ... LIMIT k``, which Spark executes as
    TakeOrderedAndProject: each partition keeps a k-row heap and only
    k rows per partition reach the driver — never a full sort shuffle.
    """
    from .dedup import exploded_shingles

    grams = exploded_shingles(df, id_col, text_col, n=n)
    return (
        grams.where(F.col("g") != "")
        .groupBy(F.col("g").alias("gram"))
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
        .orderBy(F.col("n_occurrences").desc(), F.col("gram"))
        .limit(k)
    )


def quantile_buckets(
    df: DataFrame,
    id_col: str,
    value_col: str,
    *,
    labels: tuple[str, str, str, str] = ("q1", "q2", "q3", "q4"),
) -> DataFrame:
    """Exact discrete quartile bucketing of an INTEGER metric — the
    CCNet-style quality split (head/middle/tail by LM perplexity, here
    quartiles of any integer score such as ``nll_micro div n_tokens``).

    Threshold t_p = the metric value at sorted position ``ceil(p·N)``
    (percentile_disc semantics) — pure integer arithmetic, so thresholds
    and bucket assignments are bit-identical on any engine; float
    interpolation (``percentile``/``quantile_cont``) is deliberately
    avoided.

    Scale shape: thresholds come from a VALUE-SPACE histogram
    (``groupBy(value).count``, map-side combinable), not from sorting the
    corpus — the cumulative window then runs over the histogram, whose
    size is bounded by the metric's value range (micro-nat averages span
    ~10^7 distinct values), independent of corpus row count. The 1-row
    threshold table is broadcast back; no corpus sort, no driver collect.
    Rows bucket as v <= t1 | t2 | t3 | else, lowest quartile first.

    NULL contract (matching the NULL-key contract in kg.py/rollup.py):
    rows whose metric is NULL — or whose cast to long yields NULL — are
    EXCLUDED from both the histogram and the output. Without the filter
    they would sort NULLS FIRST into the cumulative window (inflating
    cum against N and skewing every threshold) and then land in the top
    bucket because ``v <= t`` evaluates to NULL.
    """
    from pyspark.sql import Window

    vals = df.select(
        F.col(id_col).alias("id"), F.col(value_col).cast("long").alias("v")
    ).where(F.col("v").isNotNull())
    hist = vals.groupBy("v").agg(F.count(F.lit(1)).alias("c"))
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cum = hist.withColumn("cum", F.sum("c").over(w))
    tot = vals.agg(F.count(F.lit(1)).alias("n"))
    th = cum.crossJoin(tot).agg(
        *[
            F.min(
                F.when(
                    F.col("cum") >= F.expr(f"(n * {p} + 99) div 100"), F.col("v")
                )
            ).alias(f"t{i}")
            for i, p in ((1, 25), (2, 50), (3, 75))
        ]
    )
    return vals.crossJoin(F.broadcast(th)).select(
        "id",
        F.col("v").alias(value_col),
        F.when(F.col("v") <= F.col("t1"), F.lit(labels[0]))
        .when(F.col("v") <= F.col("t2"), F.lit(labels[1]))
        .when(F.col("v") <= F.col("t3"), F.lit(labels[2]))
        .otherwise(F.lit(labels[3]))
        .alias("bucket"),
    )


def collocations(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    k: int = 20,
    min_count: int = 2,
) -> DataFrame:
    """Top-k collocation bigrams by CONFIDENCE — association-rule
    ``conf(x→y) = count(xy) / count(x)`` in integer micro-units
    (``(c_xy * 1e6) div c_x``): since ``c_xy <= c_x`` the score never
    exceeds 1e6 and the product never overflows int64 at any corpus size
    (a single bigram would need >9·10^12 occurrences) — unlike PMI/lift,
    whose ``c_x·c_y`` denominator overflows and whose logs round
    differently across libm builds. Confidence is the standard
    collocation/phrase-mining signal ("new york": conf ≈ how often 'new'
    is followed by 'york').

    Output: (gram, c_xy, c_x, conf_micro), ordered by (conf_micro desc,
    c_xy desc, gram) — fully deterministic ties. ``min_count`` drops
    hapax noise before ranking.

    Scale shape: two map-side-combinable groupBys (bigram counts, unigram
    counts) + one token-keyed equi-join + TakeOrderedAndProject for the
    global top-k. No windows, no collect.
    """
    from .dedup import exploded_shingles

    uni = (
        exploded_shingles(df, id_col, text_col, n=1)
        .where(F.col("g") != "")
        .groupBy(F.col("g").alias("x"))
        .agg(F.count(F.lit(1)).alias("c_x"))
    )
    bi = (
        exploded_shingles(df, id_col, text_col, n=2)
        .where(F.col("g").contains(" "))  # drop whole-text fallback grams
        .groupBy(F.col("g").alias("gram"))
        .agg(F.count(F.lit(1)).alias("c_xy"))
        .where(F.col("c_xy") >= min_count)
        .withColumn("x", F.split(F.col("gram"), " ")[0])
    )
    return (
        bi.join(uni, "x")
        .select(
            "gram",
            "c_xy",
            "c_x",
            F.expr("(c_xy * cast(1000000 as bigint)) div c_x").alias("conf_micro"),
        )
        .orderBy(F.col("conf_micro").desc(), F.col("c_xy").desc(), F.col("gram"))
        .limit(k)
    )


def tfidf_top_terms(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 5,
    min_df: int = 1,
    n_docs: int | None = None,
    broadcast_df: bool = False,
) -> DataFrame:
    """Top-k TF-IDF terms per document — corpus keyword extraction.

    Two corpus passes: term frequency per (doc, token), document
    frequency per token (both map-side-combinable groupBys), then a join
    and a per-doc top-k. ``idf`` is materialized as an INTEGER —
    ``round(ln(N/df) · 10⁶)`` — so ``score_micro = tf · idf_micro`` ranks
    with integer comparisons (engine-stable; a raw double product could
    order differently across libm implementations on near-ties like
    2·ln(4) vs 1·ln(16)). Ties break on token ascending. ``n_docs``
    defaults to ``df.count()`` (one scalar job).

    100 TB shape: the document-frequency table is VOCABULARY-sized, and
    a crawl-scale vocabulary (typo/garbage tokens included) runs to
    billions of entries — NOT broadcastable. The dfc join is therefore a
    shuffled token equi-join by default; the tf table is already
    exchanged on ``token`` for the dfc groupBy, so AQE typically reuses
    that partitioning instead of adding a new exchange. Pass
    ``broadcast_df=True`` only when a meaningful ``min_df`` (or a small
    closed vocabulary) provably shrinks the dfc side to broadcast size.
    The final per-doc top-k groups are bounded by document vocabulary.
    No windows.
    """
    n = n_docs if n_docs is not None else df.count()
    norm = normalized_text(F.col(text_col))
    toks = F.when(norm == "", F.array().cast("array<string>")).otherwise(
        F.split(norm, " ")
    )
    tf = (
        df.select(F.col(id_col).alias("id"), F.explode(toks).alias("token"))
        .groupBy("id", "token")
        .agg(F.count("*").alias("tf"))
    )
    dfc = tf.groupBy("token").agg(F.count("*").alias("dfc"))
    idf_micro = F.round(F.log(F.lit(float(n)) / F.col("dfc")) * 1e6).cast("long")
    dfc_kept = dfc.where(F.col("dfc") >= min_df)
    if broadcast_df:
        dfc_kept = F.broadcast(dfc_kept)
    scored = tf.join(dfc_kept, "token").withColumn(
        "score_micro", F.col("tf") * idf_micro
    )
    ranked = scored.groupBy("id").agg(
        F.slice(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        (-F.col("score_micro")).alias("neg"),
                        F.col("token"),
                        F.col("tf"),
                        F.col("dfc"),
                    )
                )
            ),
            1,
            k,
        ).alias("top")
    )
    return ranked.select(
        "id", F.posexplode("top").alias("pos", "t")
    ).select(
        "id",
        (F.col("pos") + 1).alias("rank"),
        F.col("t")["token"].alias("token"),
        F.col("t")["tf"].alias("tf"),
        F.col("t")["dfc"].alias("dfc"),
        (-F.col("t")["neg"]).alias("score_micro"),
    )


def _winnow_one(text: str | None, k: int, window: int) -> list[int]:
    """Python mirror of the winnowing expression path: same normalization
    (Java ``\\s`` = ``[ \\t\\n\\x0b\\f\\r]`` — NOT Python's unicode
    ``\\s``; ``strip(" ")`` because ``F.trim`` removes ONLY ASCII spaces,
    while bare ``str.strip()`` would also eat NBSP/U+2028/etc. and
    diverge on web text full of ``&nbsp;``), same md5-first-15-hex gram
    hash, but an O(n) monotone-deque sliding minimum instead of the
    expression path's O(n·w) per-window ``array_min`` — the kernel for
    huge documents."""
    import hashlib
    import re
    from collections import deque

    norm = re.sub(r"[ \t\n\x0b\f\r]+", " ", (text or "").lower()).strip(" ")
    if not norm:
        return []
    toks = norm.split(" ")
    if len(toks) < k:
        return []
    grams = (" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1))
    hashes = [
        int(hashlib.md5(g.encode("utf-8")).hexdigest()[:15], 16) for g in grams
    ]
    if len(hashes) < window:
        return [min(hashes)]
    sel: set[int] = set()
    dq: deque[int] = deque()  # indices; hash values increasing front→back
    for j, h in enumerate(hashes):
        while dq and hashes[dq[-1]] >= h:
            dq.pop()
        dq.append(j)
        if dq[0] <= j - window:
            dq.popleft()
        if j >= window - 1:
            sel.add(hashes[dq[0]])
    return sorted(sel)


def winnow_fingerprints(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    window: int = 4,
    engine: str = "expr",
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson & Aiken
    2003 — the MOSS algorithm, public): hash every k-token gram of the
    normalized text, slide a ``window``-wide window over the gram-hash
    sequence, keep each window's minimum; the distinct selected hashes
    are the document's fingerprint set. Guarantee: two documents sharing
    any token run of length ≥ window + k − 1 share ≥ 1 fingerprint —
    the local, position-robust complement of MinHash (which is global
    per document). Documents with fewer grams than ``window`` (but ≥ 1)
    keep the single global minimum; empty documents have no fingerprints.

    Hashes are md5-derived (first 15 hex as int) — engine-portable, so
    the DuckDB oracle reproduces the exact fingerprint sets.

    ``engine``: ``"expr"`` (default) is the all-native Catalyst path —
    zero Python, SQL-reproducible, but its per-row window-min fold is
    O(n·w); ``"kernel"`` is an Arrow-batched pandas UDF with a
    monotone-deque O(n) sliding minimum — same output contract
    (equivalence-tested), the right path for corpora of very long
    documents (a 10^7-char doc at window 50 is ~50× less per-row work).
    Both are pure per-row maps, zero shuffle.

    Output: (id, fingerprints array<long> sorted ascending, n_fingerprints).
    """
    if engine not in ("expr", "kernel"):
        raise ValueError(f"engine must be 'expr' or 'kernel', got {engine!r}")
    if engine == "kernel":

        @F.pandas_udf("array<long>")
        def _fps(texts: pd.Series) -> pd.Series:
            return texts.apply(lambda t: _winnow_one(t, k, window))

        fps_col = _fps(F.col(text_col))
        return df.select(
            F.col(id_col).alias("id"),
            fps_col.alias("fingerprints"),
            F.size(fps_col).alias("n_fingerprints"),
        )
    # each HOF input is materialized as a projected column before the
    # lambda that reads it: HOF lambdas evaluate interpreted, and a
    # lambda body referencing an expression SUBTREE re-evaluates it per
    # element (re-splitting the document once per gram is O(n²) per row);
    # a bound column reference is read once per row — O(n·w) total
    norm = normalized_text(F.col(text_col))
    toks_df = df.select(
        F.col(id_col).alias("id"),
        F.when(norm == "", F.array().cast("array<string>"))
        .otherwise(F.split(norm, " "))
        .alias("_toks"),
    )
    toks = F.col("_toks")
    n = F.size(toks)
    n_grams = n - (k - 1)
    grams = F.when(
        n_grams > 0,
        F.transform(
            F.sequence(F.lit(1), F.greatest(n_grams, F.lit(1))),
            lambda i: F.array_join(F.slice(toks, i, k), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))
    hashed_df = toks_df.select(
        "id",
        F.transform(
            grams, lambda g: F.conv(F.substring(F.md5(g), 1, 15), 16, 10).cast("long")
        ).alias("_hashes"),
    )
    hashes = F.col("_hashes")
    ng = F.size(hashes)
    n_windows = ng - (window - 1)
    sel = F.when(
        n_windows > 0,
        F.transform(
            F.sequence(F.lit(1), F.greatest(n_windows, F.lit(1))),
            lambda j: F.array_min(F.slice(hashes, j, window)),
        ),
    ).when(ng > 0, F.array(F.array_min(hashes))).otherwise(
        F.array().cast("array<bigint>")
    )
    fps = F.array_sort(F.array_distinct(sel))
    return hashed_df.select(
        "id",
        fps.alias("fingerprints"),
        F.size(fps).alias("n_fingerprints"),
    )


def winnow_overlap_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    window: int = 4,
    min_shared: int = 2,
    max_doc_freq: int = 100,
    engine: str = "expr",
    persist: bool = True,
) -> DataFrame:
    """Local-overlap candidate pairs from winnowing fingerprints — the
    MOSS use case: documents sharing ≥ ``min_shared`` selected hashes
    share at least that many token runs of length ≥ window + k − 1
    (copied passages), the position-robust complement of MinHash's
    whole-document similarity.

    Plan: fingerprints (pure map) → explode to (id, fp) → drop
    fingerprints appearing in more than ``max_doc_freq`` documents (the
    boilerplate guard — identical role to ngram_jaccard's posting-list
    cap: a fingerprint shared by f docs contributes f²/2 pairs, so hot
    fps are excluded BEFORE the quadratic step) → self-equi-join on fp →
    per-pair shared-count aggregate. Both shuffles are equi-key
    (fingerprint, then pair) and map-side combinable.

    Output: (id_a, id_b, n_shared) with id_a < id_b, n_shared ≥
    ``min_shared``.

    ``persist`` (default True) caches the exploded posting list: it
    feeds BOTH the doc-frequency aggregate and the join probe side, and
    the two exchanges are not shape-equal so ReuseExchange cannot
    deduplicate them — without the cache the expensive per-row winnow
    map executes twice over the corpus. CACHE LIFETIME: the handle is
    internal and never unpersisted here (the result is a lazy plan; the
    cache only fills when the caller materializes it, so this function
    cannot see "after"), so each persist=True call pins one
    corpus-sized (id, fp) entry in the CacheManager for the rest of the
    session — evictable under memory pressure (MEMORY_AND_DISK LRU) but
    live until ``spark.catalog.clearCache()``. One-shot jobs (the gated
    query, the bench) accept that; a long-lived service making repeated
    calls should pass ``persist=False`` and either accept the double
    winnow map or persist/unpersist its own posting via
    ``winnow_fingerprints`` + explode around the call."""
    fps = winnow_fingerprints(df, id_col, text_col, k=k, window=window, engine=engine)
    # explode_OUTER, not explode: for a plain explode over a projected
    # attribute, InferFiltersFromGenerate adds `size(col) > 0` and
    # predicate pushdown then substitutes the alias — re-inlining the
    # whole winnow expression into a Filter evaluated per input row
    # (measured 40× slower on the gated corpus). explode_outer infers
    # nothing; the null row an empty fingerprint set produces is dropped
    # ABOVE the Generate, where `fp` is just an attribute.
    posting = fps.select("id", F.explode_outer("fingerprints").alias("fp")).where(
        F.col("fp").isNotNull()
    )
    if persist:
        posting = posting.persist()
    freq = posting.groupBy("fp").agg(F.count("*").alias("_f"))
    kept = posting.join(
        freq.where(F.col("_f") <= max_doc_freq).select("fp"), "fp"
    )
    a, b = kept.alias("a"), kept.alias("b")
    return (
        a.join(b, (F.col("a.fp") == F.col("b.fp")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count("*").alias("n_shared"))
        .where(F.col("n_shared") >= min_shared)
    )


def remove_stopwords(col: Column, stopwords: list[str] | None = None) -> Column:
    """Order-preserving stopword filter over normalized tokens (reference
    T5 surface, spacy_tokenizer.py:335-365 — broadcastable set + filter;
    F.array_except would lose duplicates/order, so use F.filter)."""
    stop_arr = F.array(*[F.lit(s) for s in (stopwords or EN_STOPWORDS)])
    return F.filter(word_tokens(col), lambda x: ~F.array_contains(stop_arr, x))


# language marker words (tiny frozen profiles; native path)
_LANG_MARKERS = {
    "en": ["the", "and", "of", "is", "with"],
    "fr": ["le", "la", "les", "et", "des"],
    "es": ["el", "los", "las", "y", "una"],
    "de": ["der", "die", "und", "das", "mit"],
}


def marker_langid(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Predict language by marker-word hits; deterministic tiebreak by
    language code order ('xx' when no marker hits). Pure map — no shuffle."""
    toks = word_tokens(F.col(text_col))
    scores = []
    for lang, markers in sorted(_LANG_MARKERS.items()):
        arr = F.array(*[F.lit(m) for m in markers])
        scores.append(
            F.struct(
                F.size(F.filter(toks, lambda x: F.array_contains(arr, x))).alias("hits"),
                F.lit(lang).alias("lang"),
            )
        )
    # pick max hits; ties resolve to the lexicographically smallest code —
    # invert lang ordering inside the struct comparison via array_max over
    # (hits, negated-rank) is messy, so use a fold with strict '>'
    best = scores[0]
    for s in scores[1:]:
        best = F.when(s["hits"] > best["hits"], s).otherwise(best)
    return df.select(
        F.col(id_col).alias("id"),
        F.when(best["hits"] > 0, best["lang"]).otherwise(F.lit("xx")).alias("pred_lang"),
        best["hits"].alias("marker_hits"),
    )


# writing-system character classes (BMP core blocks; Java-regex ∩ RE2
# syntax — \x{...} ranges work identically in both engines, so the
# DuckDB oracle counts the same characters)
SCRIPT_RANGES = {
    "latin": r"[A-Za-z\x{00C0}-\x{024F}]",
    "cjk": r"[\x{3040}-\x{30FF}\x{3400}-\x{4DBF}\x{4E00}-\x{9FFF}]",
    "cyrillic": r"[\x{0400}-\x{04FF}]",
    "arabic": r"[\x{0600}-\x{06FF}]",
    "digit": r"[0-9]",
}


def script_profile(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Per-document writing-system profile: character counts per script
    class (SCRIPT_RANGES), the dominant script (most characters; ties
    resolve to the lexicographically smaller name; 'none' when no class
    matches), and the dominant script's share of counted characters.

    The routing signal for script-dependent stages (which segmenter to
    use, which lemma tables apply) that is cheaper and more robust than
    full language-ID — a page's script is unambiguous even when its
    language is mixed. Five regexp_count expressions in one projection:
    pure map, zero shuffle at any corpus size."""
    t = F.coalesce(F.col(text_col), F.lit(""))
    counts = {
        name: F.regexp_count(t, F.lit(pat)) for name, pat in SCRIPT_RANGES.items()
    }
    best = None
    for name in sorted(counts):
        cand = F.struct(counts[name].alias("n"), F.lit(name).alias("script"))
        best = cand if best is None else F.when(cand["n"] > best["n"], cand).otherwise(best)
    total = sum(counts.values(), F.lit(0))
    return df.select(
        F.col(id_col).alias("id"),
        *[counts[name].cast("int").alias(f"n_{name}") for name in sorted(counts)],
        F.when(best["n"] > 0, best["script"]).otherwise(F.lit("none")).alias(
            "dominant_script"
        ),
        F.round(
            F.when(total > 0, best["n"] / total).otherwise(F.lit(0.0)), 6
        ).alias("dominant_share"),
    )


def mixed_language_profile(
    df: DataFrame, id_col: str, text_col: str, chunk_tokens: int = 8
) -> DataFrame:
    """Mixed-language page detection: fixed-token-window chunks →
    per-chunk ``marker_langid`` → per-doc majority language (ties to the
    lexicographically smaller code), chunk count, and language diversity.
    Docs with no chunks (empty/NULL text) emit nothing.

    Chunks are keyed by ``struct(id, chunk_idx)`` — the id passes through
    ``marker_langid`` intact, so there is NO per-document chunk-count
    limit and any orderable id type works (an arithmetic uid packing like
    ``id*100_000+idx`` silently collides across documents once a doc
    exceeds 100k chunks, which a 10^7-char document does at 8-token
    windows). Plan shape: pure map through langid, then two
    map-side-combinable groupBys on the doc key — scale-safe.
    """
    from .textprep import chunk_documents

    ch = chunk_documents(df, id_col, text_col, chunk_tokens=chunk_tokens, overlap=0)
    ch = ch.withColumn(
        "chunk_key", F.struct(F.col("id").alias("doc"), F.col("chunk_idx").alias("ci"))
    )
    lid = marker_langid(ch, "chunk_key", "chunk_text").withColumn(
        "doc_id", F.col("id.doc")
    )
    per = lid.groupBy("doc_id", "pred_lang").agg(F.count("*").alias("cnt"))
    agg = per.groupBy("doc_id").agg(
        F.min(
            F.struct((-F.col("cnt")).alias("neg"), F.col("pred_lang"))
        ).alias("m"),
        F.count("*").alias("n_langs"),
        F.sum("cnt").alias("n_chunks"),
    )
    return agg.select(
        F.col("doc_id").alias("id"),
        F.col("m")["pred_lang"].alias("majority_lang"),
        F.col("n_langs").cast("int").alias("n_langs"),
        F.col("n_chunks").cast("int").alias("n_chunks"),
    )


def hashed_linear_score(
    df: DataFrame,
    id_col: str,
    text_col: str,
    weights: list[int],
    *,
    bias: int = 0,
    threshold: int = 0,
) -> DataFrame:
    """Linear text classifier deployed as pure Spark expressions — the
    CCNet/fastText-style learned quality filter, inference-side: a
    hashing-trick bag-of-words whose integer micro-unit weights were
    trained offline, with

        score_micro(doc) = bias + sum over tokens t of
                           weights[h(t) mod B]
        h(t) = first 60 bits of md5(t)   (15 hex chars via conv —
               the same ``('0x' || hex)::BIGINT`` an ANSI engine
               computes, so scores value-hash across engines)

    Output: (id, score_micro, keep) with keep = 1 iff score_micro >=
    ``threshold``. Integer weights make the token sum order-free —
    float weights would tie-break keep/drop differently across
    reduction orders at the decision boundary.

    ``weights`` (size B = the hash-bucket count) ships as ONE array
    literal materialized as a projected column — a bound reference
    inside the fold lambda, NOT a re-evaluated subtree (the HOF
    re-evaluation trap: an unprojected array literal would be rebuilt
    per token, O(B) per token). This caps B at litteral-size limits
    (~10^5); a production million-bucket model swaps the array for a
    broadcast (bucket -> weight) join on an exploded token table —
    same math, one extra map-side-combinable aggregation.

    Scale shape: pure map, zero shuffle, no UDF."""
    if not weights:
        raise ValueError("weights must be non-empty")
    b = len(weights)
    arr = F.array(*[F.lit(int(w)).cast("long") for w in weights])
    norm = normalized_text(F.col(text_col))
    toks = F.filter(F.split(norm, " "), lambda x: x != "")
    out = df.select(
        F.col(id_col).alias("id"), toks.alias("_toks"), arr.alias("_w")
    )
    bucket = lambda t: (  # noqa: E731 — inline hash-bucket expression
        F.conv(F.substring(F.md5(t), 1, 15), 16, 10).cast("long") % b
    )
    score = F.lit(int(bias)).cast("long") + F.aggregate(
        "_toks",
        F.lit(0).cast("long"),
        lambda acc, t: acc + F.element_at("_w", (bucket(t) + 1).cast("int")),
    )
    return out.select(
        "id",
        score.alias("score_micro"),
        (score >= F.lit(int(threshold))).cast("int").alias("keep"),
    )


def char_pair_counts(
    df: DataFrame,
    text_col: str,
    *,
    k: int = 20,
) -> DataFrame:
    """First BPE-merge statistics: corpus-wide counts of adjacent
    character pairs INSIDE whitespace words of the normalized text,
    top-k by count (ties by pair text — deterministic boundary). This
    is iteration one of byte-pair-encoding tokenizer training (the
    most frequent pair becomes the first merge); running it over the
    pretraining corpus itself is how a pipeline fits its tokenizer to
    its data.

    Scale shape: pair generation is ONE fused lookahead-regex pass —
    ``(?=(\\S\\S))`` captures every overlapping non-space char pair
    directly from the normalized text (cross-word positions fail the
    two-non-space requirement), the same codegen'd regexp_extract_all
    trick as ``dedup.exploded_shingles`` (a nested per-word HOF
    transform computes the identical set but evaluates interpreted
    per element — measured ~10% slower on short web docs and worse on
    long ones). Then explode_outer + isNotNull (dodges the
    InferFiltersFromGenerate re-inlining regression), one map-side-
    combinable count, and the global top-k runs as
    TakeOrderedAndProject (per-partition k-row heaps), never a full
    sort."""
    norm = normalized_text(F.col(text_col))
    pairs = F.regexp_extract_all(norm, F.lit(r"(?=(\S\S))"), 1)
    staged = df.select(pairs.alias("_pairs"))
    e = staged.select(
        F.explode_outer("_pairs").alias("pair")
    ).where(F.col("pair").isNotNull())
    return (
        e.groupBy("pair")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
        .orderBy(F.col("n_occurrences").desc(), F.col("pair"))
        .limit(k)
    )


# --- RAKE keyword extraction ------------------------------------------------

# punctuation/symbol runs become explicit phrase-boundary markers; the
# marker char (\x01) never appears in text and is itself consumed by the
# single regex pass. Shared verbatim with the DuckDB oracle.
RAKE_BOUNDARY_PATTERN = "[^a-z0-9 ]+"


def rake_keywords(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    stopwords: list[str] | None = None,
    max_phrase_len: int = 4,
) -> DataFrame:
    """RAKE (Rapid Automatic Keyword Extraction, Rose et al. 2010):
    candidate phrases are maximal token runs between stopword/punctuation
    boundaries; word score = degree/frequency over the doc's candidate
    words (degree = sum of containing-phrase lengths); phrase score = sum
    of member word scores. The standard unsupervised keyword tagger for
    KG enrichment when no ontology covers a domain.

    Integer contract: ``score_ppm`` sums per-word ``deg * 1e6 div freq``
    (int64 floor division) so results value-hash across engines.
    Candidates longer than ``max_phrase_len`` words are dropped BEFORE
    scoring (nltk-rake convention; also the scale guard — no unbounded
    phrase strings ride the shuffle).

    Scale shape: one bounded per-document window (phrase numbering over
    token positions — bounded by document length, the event_transitions
    contract), then (id, word)/(id, phrase) groupBys and one (id, word)
    equi-join. No collects, no cross joins.

    Returns (id, phrase, n_words, n_occurrences, score_ppm).
    """
    from pyspark.sql import Window

    stop = stopwords or EN_STOPWORDS
    norm = F.lower(F.coalesce(F.col(text_col), F.lit("")))
    marked = F.regexp_replace(norm, RAKE_BOUNDARY_PATTERN, " \x01 ")
    toks = F.split(F.trim(F.regexp_replace(marked, " +", " ")), " ")
    t = df.select(F.col(id_col).alias("id"), F.posexplode(toks).alias("pos", "w"))
    stop_arr = F.array(*[F.lit(s) for s in stop])
    boundary = (
        (F.col("w") == "\x01") | (F.col("w") == "") | F.array_contains(stop_arr, F.col("w"))
    )
    win = Window.partitionBy("id").orderBy("pos").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    seq = t.select(
        "id", "pos", "w", F.sum(boundary.cast("int")).over(win).alias("phrase_id"),
        boundary.alias("b"),
    )
    phrases = (
        seq.where(~F.col("b"))
        .groupBy("id", "phrase_id")
        .agg(F.sort_array(F.collect_list(F.struct("pos", "w"))).alias("pw"))
        .select(
            "id",
            "phrase_id",
            F.transform(F.col("pw"), lambda s: s["w"]).alias("ws"),
        )
        .select(
            "id", "phrase_id", "ws",
            F.array_join(F.col("ws"), " ").alias("phrase"),
            F.size("ws").alias("n_words"),
        )
        .where(F.col("n_words") <= max_phrase_len)
    )
    member = phrases.select(
        "id", "phrase_id", "phrase", "n_words", F.explode("ws").alias("w")
    )
    wstats = member.groupBy("id", "w").agg(
        F.count(F.lit(1)).alias("freq"),
        F.sum("n_words").alias("deg"),
    ).select(
        "id", "w", F.expr("deg * 1000000 div freq").alias("w_score_ppm")
    )
    scored = (
        member.join(wstats, ["id", "w"])
        .groupBy("id", "phrase_id", "phrase", "n_words")
        .agg(F.sum("w_score_ppm").alias("score_ppm"))
    )
    return scored.groupBy("id", "phrase").agg(
        F.max("n_words").alias("n_words"),
        F.count(F.lit(1)).alias("n_occurrences"),
        F.max("score_ppm").alias("score_ppm"),
    )


def bigram_lm_scores(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    train_df: DataFrame | None = None,
    alpha_ppm: int = 400_000,
) -> DataFrame:
    """Bigram language-model quality score with stupid backoff (Brants
    et al. 2007, "Large Language Models in Machine Translation") — the
    CCNet-style perplexity filter one order above ``unigram_lm_scores``:
    a document full of real word PAIRS from the training corpus scores
    high; gibberish and shuffled boilerplate back off to unigrams and
    score low.

    Per target bigram (w1, w2), the integer ppm score is
      c(w1,w2) > 0:  floor(1e6 * c(w1,w2) / c(w1))
      else:          floor(alpha_ppm * c(w2) / N)       (backoff)
    with counts from ``train_df`` (default: ``df`` itself — self-scoring)
    and N the training token total. Stupid backoff is deliberately
    unnormalized (S, not P) — no discounting hyperparameters, which is
    exactly why it is the standard at web scale; alpha = 0.4 is the
    paper's constant, here as integer ppm.

    Determinism contract: every value is an int64 count, product, or
    floor division — no logs, no floats — so a DuckDB oracle reproduces
    the scores bit-exactly (the house rule shared by unigram_lm_scores /
    collocations).

    Scale shape: this is the JOIN-deployed LM (the path the
    unigram_lm_scores docstring points to for web-scale vocabularies):
    the unigram and bigram count tables are corpus-derived DataFrames,
    never literal maps, and scoring is three shuffle equi-joins on token
    keys (bigram pair, w1, w2) + one re-aggregation by doc id. Hot words
    ("the") skew the unigram join — AQE skew-join splits them; the
    training total is a 1-row broadcast cross join (the scalar-stats
    pattern of bm25). No windows, no collects, no UDFs.

    Returns (id, n_bigrams, n_backoff, score_sum_ppm, avg_score_ppm);
    docs with < 2 tokens score (0, 0, 0, 0). NULL text = "" (house
    NULL contract).
    """
    train = train_df if train_df is not None else df
    toks = F.filter(word_tokens(F.col(text_col)), lambda x: x != "")
    bigrams = F.expr(
        "CASE WHEN size(toks) >= 2 THEN "
        "transform(sequence(1, size(toks) - 1), "
        "i -> struct(toks[i-1] AS w1, toks[i] AS w2)) "
        "ELSE array() END"
    )

    tr = train.select(toks.alias("toks"))
    uni = (
        tr.select(F.explode("toks").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    total = uni.agg(F.sum("c").cast("long").alias("n_total"))
    bc = (
        tr.select(F.explode(bigrams).alias("p"))
        .select(F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c12"))
    )

    # target side: explode_outer keeps < 2-token docs as one NULL row so
    # every input id survives to the output with zero scores
    tgt = (
        df.select(F.col(id_col).alias("id"), toks.alias("toks"))
        .select("id", F.explode_outer(bigrams).alias("p"))
        .select("id", F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
    )
    u1 = uni.select(F.col("w").alias("w1"), F.col("c").alias("c1"))
    u2 = uni.select(F.col("w").alias("w2"), F.col("c").alias("c2"))
    scored = (
        tgt.join(bc, ["w1", "w2"], "left")
        .join(u1, ["w1"], "left")
        .join(u2, ["w2"], "left")
        .crossJoin(total)  # 1-row scalar, AQE broadcasts
        .select(
            "id",
            F.col("w1"),
            F.when(F.col("w1").isNull(), F.lit(None).cast("long"))
            .when(
                F.col("c12").isNotNull(),
                F.expr("(1000000 * c12) div c1"),
            )
            .otherwise(
                F.expr(f"({alpha_ppm} * coalesce(c2, 0)) div n_total")
            )
            .alias("score_ppm"),
            F.when(
                F.col("w1").isNotNull() & F.col("c12").isNull(), 1
            )
            .otherwise(0)
            .alias("backoff"),
        )
    )
    return scored.groupBy("id").agg(
        F.sum(F.when(F.col("w1").isNotNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_bigrams"),
        F.sum("backoff").cast("long").alias("n_backoff"),
        F.sum(F.coalesce(F.col("score_ppm"), F.lit(0).cast("long")))
        .cast("long")
        .alias("score_sum_ppm"),
    ).select(
        "id",
        "n_bigrams",
        "n_backoff",
        "score_sum_ppm",
        F.when(
            F.col("n_bigrams") > 0,
            F.expr("score_sum_ppm div n_bigrams"),
        )
        .otherwise(F.lit(0).cast("long"))
        .alias("avg_score_ppm"),
    )


# sentence terminators / syllable nuclei for the readability score; the
# identical regexes run in the DuckDB oracle (Java ∩ RE2-safe: no
# lookbehind, no backrefs)
READABILITY_SENT_PATTERN = r"[.!?]+"
READABILITY_SYLLABLE_PATTERN = r"[aeiouy]+"


def readability_scores(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Flesch-Kincaid readability (Kincaid et al. 1975) as integer
    micro-units — the classic "is this written for a human" quality
    feature (too-low grade = SEO stuffing / listicles, absurdly-high =
    OCR damage or code), complementing the ratio-based quality_features.

    Counting contracts (pinned, cross-engine):
      sentences = count of ``[.!?]+`` runs in the normalized text,
                  floored at 1 when any token exists;
      words     = non-empty whitespace tokens;
      syllables = vowel-group runs ``[aeiouy]+`` per word, floored at 1
                  per word (the standard heuristic — 'rhythm' has one).

    fk_grade_micro = 390000*words div sentences
                   + 11800000*syllables div words - 15590000
    (0.39 w/s + 11.8 syl/w - 15.59, scaled 1e6; integer floor-division
    both engines evaluate identically — the unigram_lm house rule).
    Empty/NULL docs return (0, 0, 0, 0). Pure projection, zero shuffle.
    """
    norm = normalized_text(F.col(text_col))
    staged = df.select(
        F.col(id_col).alias("id"),
        F.filter(word_tokens(F.col(text_col)), lambda x: x != "").alias("_toks"),
        F.size(
            F.regexp_extract_all(norm, F.lit(READABILITY_SENT_PATTERN), 0)
        ).alias("_raw_sents"),
    )
    n_words = F.size("_toks")
    # per-word max(1, vowel groups): words without nuclei still carry one
    syl = F.aggregate(
        F.transform(
            F.col("_toks"),
            lambda w: F.greatest(
                F.size(
                    F.regexp_extract_all(
                        w, F.lit(READABILITY_SYLLABLE_PATTERN), 0
                    )
                ),
                F.lit(1),
            ),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    staged = staged.select(
        "id",
        n_words.cast("long").alias("n_words"),
        F.when(n_words > 0, F.greatest(F.col("_raw_sents"), F.lit(1)))
        .otherwise(0)
        .cast("long")
        .alias("n_sentences"),
        F.when(n_words > 0, syl).otherwise(F.lit(0).cast("long")).alias("n_syllables"),
    )
    return staged.select(
        "id",
        "n_words",
        "n_sentences",
        "n_syllables",
        F.when(
            F.col("n_words") > 0,
            F.expr(
                "390000 * n_words div n_sentences"
                " + 11800000 * n_syllables div n_words - 15590000"
            ),
        )
        .otherwise(F.lit(0).cast("long"))
        .alias("fk_grade_micro"),
    )


def textrank_sentences(
    df: DataFrame,
    id_col: str,
    sents_col: str,
    *,
    iterations: int = 2,
    top_k: int = 1,
    init: int = 1_000_000,
    damp_num: int = 85,
    damp_den: int = 100,
) -> DataFrame:
    """Extractive TextRank summarization (Mihalcea & Tarau 2004):
    within each document, sentences form a graph weighted by shared
    DISTINCT tokens; integer weighted PageRank (the ``graph.pagerank``
    int64 formulation — order-free sums + floor division, so the whole
    summary is oracle-checkable) ranks them; the ``top_k`` per document
    are the summary. ``sents_col`` is ``array<string>`` (the caller
    picks the sentence splitter — the tagger's sentencizer or a cheap
    split).

    Ties break by (rank desc, sentence index asc) — earlier sentence
    wins, the standard extractive convention. Sentences sharing no
    token with any other get no incoming mass and rank at the damped
    base (still eligible: a single-sentence document summarizes to
    itself). Returns ``(id, pos, sent_idx, sentence, rank_micro)`` with
    ``pos`` in [1, top_k].

    Scale shape: everything is keyed by (document, sentence) — the
    token equi-join, the per-iteration rank join, and the final
    row_number all partition by the document, so per-key width is the
    document's sentence count (tens), never the corpus. A stopword-
    heavy corpus should drop stopwords upstream (they create dense
    near-uniform graphs — quality, not scale, suffers).
    """
    if iterations < 1:
        raise ValueError(f"iterations must be >= 1, got {iterations}")
    if top_k < 1:
        raise ValueError(f"top_k must be >= 1, got {top_k}")
    from pyspark.sql import Window

    sents = df.select(
        F.col(id_col).alias("id"),
        F.posexplode(F.col(sents_col)).alias("sidx", "sent"),
    )
    toks = sents.select(
        "id",
        "sidx",
        F.explode(F.array_distinct(F.split(F.col("sent"), " "))).alias("tok"),
    ).where(F.col("tok") != "")
    a = toks.select("id", F.col("sidx").alias("sa"), "tok")
    b = toks.select("id", F.col("sidx").alias("sb"), "tok")
    edges = (
        a.join(b, ["id", "tok"])
        .where(F.col("sa") != F.col("sb"))
        .groupBy("id", "sa", "sb")
        .agg(F.count(F.lit(1)).alias("w"))
    )
    totw = edges.groupBy("id", "sa").agg(F.sum("w").alias("totw"))
    e_w = edges.join(totw, ["id", "sa"])
    base = (damp_den - damp_num) * init // damp_den
    ranks = sents.select(
        "id", "sidx", F.lit(init).cast("long").alias("rank")
    )
    for _ in range(iterations):
        incoming = (
            e_w.join(
                ranks.select(
                    "id", F.col("sidx").alias("sa"), F.col("rank")
                ),
                ["id", "sa"],
            )
            .select(
                "id",
                F.col("sb").alias("sidx"),
                F.expr("(rank * w) div totw").alias("share"),
            )
            .groupBy("id", "sidx")
            .agg(F.sum("share").alias("incoming"))
        )
        ranks = sents.select("id", "sidx").join(
            incoming, ["id", "sidx"], "left"
        ).select(
            "id",
            "sidx",
            (
                F.lit(base).cast("long")
                + F.expr(
                    f"(cast({damp_num} as bigint)"
                    f" * coalesce(incoming, cast(0 as bigint)))"
                    f" div cast({damp_den} as bigint)"
                )
            ).alias("rank"),
        )
    w = Window.partitionBy("id").orderBy(
        F.col("rank").desc(), F.col("sidx")
    )
    return (
        ranks.join(sents, ["id", "sidx"])
        .withColumn("pos", F.row_number().over(w))
        .where(F.col("pos") <= top_k)
        .select(
            "id",
            F.col("pos").cast("int").alias("pos"),
            F.col("sidx").cast("int").alias("sent_idx"),
            F.col("sent").alias("sentence"),
            F.col("rank").alias("rank_micro"),
        )
    )
