"""URL canonicalization + domain extraction for web-page tables.

The north-star input is an Iceberg table of Common-Crawl-style pages
keyed by url; crawl pipelines canonicalize urls before dedup/grouping
(fragment and tracking-parameter variants of one page would otherwise
count as distinct documents) and aggregate per registrable domain for
skew decisions and per-site quality policies.

Canonicalization contract (frozen, SEMANTICS.md):

1. strip the fragment (``#...`` to end)
2. strip ``utm_*`` tracking parameters (each with its separator; a
   leading ``?utm_...&`` keeps the ``?`` for the surviving params)
3. lowercase the scheme+authority prefix (path/query case preserved)
4. strip a single trailing ``/``

Every step is a regex in the Java-regex ∩ RE2 common subset, so the
DuckDB oracle reproduces the canonical url byte-for-byte. Pure per-row
map — zero shuffle; the per-domain aggregate a caller builds on top is
one map-side-combinable groupBy (domain cardinality is ~10^7 at crawl
scale — far below the row count — and AQE splits hot domains like any
skewed equi-key aggregate).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = [
    "normalize_url",
    "url_table",
    "source_host",
    "extract_links",
    "anchor_text_index",
    "snapshot_diff",
    "resolve_canonical",
    "crawl_frontier",
    "mirror_domains",
    "translation_pairs",
    "resolve_redirects",
    "recrawl_priority",
    "crawl_schedule",
    "url_templates",
    "homoglyph_domains",
    "HOMOGLYPH_FROM",
    "HOMOGLYPH_TO",
]

_FRAGMENT = r"#.*$"
# anchored to a real [?&] separator (kept via the capture group — '$1' in
# Java, '\\1' in RE2 — so 'xutm_source=1' style params are NOT corrupted),
# and matching a whole RUN of adjacent utm params in one pass so
# '?utm_a=1&utm_b=2&c=3' collapses to '?c=3'
_UTM_MID = r"([?&])(?:utm_[a-z]+=[^&#]*&)+"
_UTM_END = r"[?&]utm_[a-z]+=[^&#]*$"
_SCHEME_HOST = r"^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*"
# group 2: the host of a lowercased url (userinfo and port dropped)
_HOST = r"^[a-z][a-z0-9+.-]*://([^/:?#@]*@)?([^/:?#]+)"


def normalize_url(col: Column) -> Column:
    """Canonical url (see module contract). NULL → ''."""
    u = F.coalesce(col, F.lit(""))
    u = F.regexp_replace(u, _FRAGMENT, "")
    u = F.regexp_replace(u, _UTM_MID, "$1")
    u = F.regexp_replace(u, _UTM_END, "")
    prefix = F.regexp_extract(u, _SCHEME_HOST, 0)
    u = F.concat(F.lower(prefix), F.substring(u, F.length(prefix) + 1, 1 << 30))
    return F.regexp_replace(u, r"/$", "")


def url_table(df: DataFrame, id_col: str, url_col: str) -> DataFrame:
    """(id, url_norm, host, domain) per row.

    ``host`` = the authority of the canonical url (userinfo/port kept —
    split further if a pipeline needs it); ``domain`` = the last two
    dot-labels of the host (the public-suffix-list-free approximation:
    right for .com/.org/..., one label short for ccTLD registries like
    .co.uk — swap in a PSL table via broadcast join when exactness
    matters)."""
    norm = normalize_url(F.col(url_col))
    host = F.regexp_extract(norm, _HOST, 2)
    domain = F.regexp_extract(host, r"([^.]+\.[^.]+)$", 1)
    return df.select(
        F.col(id_col).alias("id"),
        norm.alias("url_norm"),
        host.alias("host"),
        domain.alias("domain"),
    )


def source_host(col: Column) -> Column:
    """The source key of a url: the lowercased url's host, or the
    lowercased value itself when it has no scheme (a bare doc id is its
    own source). The per-source count-distincts of ``fact_support``,
    ``truth_discovery`` and ``crawl_frontier`` key on it."""
    low = F.lower(col)
    host = F.regexp_extract(low, _HOST, 2)
    return F.when(host != "", host).otherwise(low)


def extract_links(df: DataFrame, id_col: str, html_col: str) -> DataFrame:
    """Anchor extraction: one row per ``<a href>`` in the page HTML —
    (id, href, anchor_text) — the edge source for the web link graph
    (``graph.pagerank`` / ``graph.degree_stats`` consume the result
    after ``normalize_url``).

    Two single-group regex passes over the same anchor pattern (DuckDB's
    regexp_extract_all returns one group per call, so the oracle needs
    the split anyway); the pattern lives in the Java-regex ∩ RE2 common
    subset (no lookaround/backrefs — see operators/pii.py for the same
    cross-engine contract). ``arrays_zip`` pairs the two captures
    positionally — both passes see identical match sites by
    construction. Pure per-row map + explode: zero shuffle at any corpus
    size. Pages without links emit no rows (inner explode is
    deliberate); anchor text is the raw inner text (may be '').
    """
    href_pat = r'<a [^>]*href="([^"]*)"[^>]*>[^<]*</a>'
    text_pat = r'<a [^>]*href="[^"]*"[^>]*>([^<]*)</a>'
    h = F.coalesce(F.col(html_col), F.lit(""))
    pairs = F.arrays_zip(
        F.regexp_extract_all(h, F.lit(href_pat), 1).alias("href"),
        F.regexp_extract_all(h, F.lit(text_pat), 1).alias("anchor_text"),
    )
    return df.select(
        F.col(id_col).alias("id"), F.explode(pairs).alias("l")
    ).select("id", F.col("l.href").alias("href"), F.col("l.anchor_text").alias("anchor_text"))


def snapshot_diff(
    old_df: DataFrame,
    new_df: DataFrame,
    key_col: str,
    text_col: str,
) -> DataFrame:
    """Crawl-to-crawl change detection: per url (key), classify the new
    snapshot against the old as ``added`` | ``removed`` | ``changed`` |
    ``same`` by content fingerprint (md5 of normalized text).

    The per-ingest report every incremental crawl pipeline logs (and the
    input to re-crawl scheduling: 'changed' urls get shorter revisit
    intervals). One full outer equi-join on the url key — both sides
    reduce to (key, fingerprint) projections first, so the shuffle ships
    32-char digests, not page bodies; AQE skew-splits hot keys. Each
    side is assumed already deduplicated per key (run
    ``dedup.latest_by_key`` first on multi-fetch tables).

    Output: (key, status, old_fingerprint, new_fingerprint) — NULL
    fingerprint on the side where the url is absent.
    """
    from dss_plugin_nlp_analysis_spark.operators.dedup import fingerprint

    o = old_df.select(
        F.col(key_col).alias("key"),
        fingerprint(F.col(text_col)).alias("old_fingerprint"),
    )
    n = new_df.select(
        F.col(key_col).alias("key"),
        fingerprint(F.col(text_col)).alias("new_fingerprint"),
    )
    return o.join(n, "key", "full").select(
        "key",
        F.when(F.col("old_fingerprint").isNull(), F.lit("added"))
        .when(F.col("new_fingerprint").isNull(), F.lit("removed"))
        .when(F.col("old_fingerprint") == F.col("new_fingerprint"), F.lit("same"))
        .otherwise(F.lit("changed"))
        .alias("status"),
        "old_fingerprint",
        "new_fingerprint",
    )


def anchor_text_index(
    links: DataFrame,
    target_col: str = "href",
    text_col: str = "anchor_text",
    *,
    max_distinct_texts: int = 50,
) -> DataFrame:
    """Anchor-text index: per link target, how the web describes it —
    (target, n_links, n_texts, anchor_texts) where ``anchor_texts`` is
    the sorted distinct anchor-text list as JSON. The classic web-KG
    entity-description signal (anchor text is the highest-precision
    free-text label for a url's entity) and the dual of
    ``extract_links``: links point out, this aggregates what points in.

    Scale contract: a hub target (a homepage linked from millions of
    pages) would make an unconditional collect_set buffer unbounded
    text on one reducer. So the list is only materialized for targets
    with at most ``max_distinct_texts`` DISTINCT texts — counted FIRST
    via a map-side-combinable distinct-pair aggregation (the
    inverted_index df-cap pattern, operators/invindex.py); hub targets
    keep their counts but get a NULL list (anchor text that diverse is
    navigational noise anyway). Every stage is a distinct / groupBy /
    equi-join on the target key — no windows, and the collect stage
    only ever sees capped keys.
    """
    if max_distinct_texts < 1:
        raise ValueError(
            f"max_distinct_texts must be >= 1, got {max_distinct_texts}"
        )
    # a link row without a target is not a link: drop NULL targets
    # explicitly (otherwise the aggregate joins would lose the NULL
    # group silently — null-unsafe equality never matches it)
    links = links.where(F.col(target_col).isNotNull())
    tgt = F.col(target_col).alias("target")
    n_links = links.groupBy(tgt).agg(F.count(F.lit(1)).alias("n_links"))
    pairs = links.select(tgt, F.col(text_col).alias("t")).distinct()
    n_texts = pairs.groupBy("target").agg(F.count(F.lit(1)).alias("n_texts"))
    collectable = pairs.join(
        n_texts.where(F.col("n_texts") <= max_distinct_texts).select("target"),
        "target",
    )
    texts = collectable.groupBy("target").agg(
        F.to_json(F.sort_array(F.collect_list("t"))).alias("anchor_texts")
    )
    return (
        n_links.join(n_texts, "target")
        .join(texts, "target", "left")
        .select("target", "n_links", "n_texts", "anchor_texts")
    )


def resolve_canonical(
    df: DataFrame,
    url_col: str,
    canon_col: str,
    *,
    rounds: int = 4,
) -> DataFrame:
    """Resolve ``rel=canonical`` pointer chains to their terminal url.

    Crawls carry canonical pointers (``<link rel=canonical>``, HTTP 301
    targets) that frequently CHAIN — m.site.com → site.com/amp →
    site.com — and a KG build must group facts under the terminal url,
    not each hop. Input: one row per page, ``canon_col`` NULL (or equal
    to the url) when the page is its own canonical.

    Returns (url, resolved, is_terminal): ``resolved`` is the page's
    pointer target after exactly ``2**rounds`` saturating hops
    (f(x) = canon[x] if x has a pointer else x), computed with POINTER
    DOUBLING — ``rounds`` self-joins instead of 2**rounds, the classic
    O(log chain-length) shuffle bound (Shiloach-Vishkin style), so the
    default 4 rounds covers chains up to 16 hops at 4 node-keyed
    equi-joins. ``is_terminal`` is false when ``resolved`` still has an
    outgoing pointer — i.e. the page sits on a cycle (or a chain deeper
    than 2**rounds): canonical-pointer SPAM LOOPS exist in real crawls,
    and the saturating-step formulation is cycle-safe by construction
    (it rotates deterministically instead of diverging), with the flag
    telling the caller which resolutions to quarantine.

    Scale shape: each round is one equi-join of the (url, cur) table with
    itself on cur = url — key-partitioned, no windows, no driver state;
    lineage cut per round (see graph.py module doc for why persist()
    is not enough on iterated plans).
    """
    if rounds < 0:
        raise ValueError(f"rounds must be >= 0, got {rounds}")
    # one saturating step: cur = f(url); NULL/self pointers saturate at url
    p = df.select(
        F.col(url_col).alias("url"),
        F.coalesce(F.col(canon_col), F.col(url_col)).alias("cur"),
    ).localCheckpoint()
    pointers = p.where(F.col("cur") != F.col("url")).select(
        F.col("url").alias("p_url"), F.col("cur").alias("p_cur")
    ).localCheckpoint()
    for _ in range(rounds):
        q = p.select(F.col("url").alias("q_url"), F.col("cur").alias("q_cur"))
        p = (
            p.join(q, p["cur"] == q["q_url"], "left")
            .select("url", F.coalesce("q_cur", "cur").alias("cur"))
            .localCheckpoint()
        )
    return (
        p.join(pointers, p["cur"] == pointers["p_url"], "left")
        .select(
            "url",
            F.col("cur").alias("resolved"),
            F.col("p_url").isNull().alias("is_terminal"),
        )
    )


def crawl_frontier(
    links: DataFrame,
    crawled: DataFrame,
    *,
    src_col: str = "src",
    dst_col: str = "dst",
    url_col: str = "url",
    min_inlinks: int = 1,
) -> DataFrame:
    """Crawl-frontier prioritization: the urls a crawl has DISCOVERED
    (link targets) but not yet FETCHED, scored by inbound evidence — the
    indegree-priority baseline every production crawler starts from
    (OPIC/ PageRank refinements reweight exactly these counts). Spam
    resistance comes from counting distinct REFERRING DOMAINS, not raw
    inlinks: a link farm is one domain no matter how many pages it emits.

    Inputs: ``links`` (src_col → dst_col edge list, e.g. from
    ``extract_links`` + ``normalize_url``) and ``crawled`` (one url_col
    row per already-fetched page). Returns per uncrawled target:
    (url, n_inlinks, n_src_pages, n_src_domains) filtered to
    ``min_inlinks`` total inlinks; the caller orders by
    (n_src_domains, n_src_pages) for the fetch queue.

    Scale shape: one LEFT ANTI equi-join on the target url (both sides
    crawl-sized — a shuffled sort-merge anti-join; no broadcast, the
    fetched set is billions of rows at crawl scale) followed by ONE
    combinable groupBy(dst) with two count-distincts sharing the same
    exchange. Frontier skew (everyone links to twitter.com) is an
    AQE-splittable hot key because count/count_distinct combine
    map-side. No windows, no driver state.
    """
    if min_inlinks < 1:
        raise ValueError(f"min_inlinks must be >= 1, got {min_inlinks}")
    e = links.select(
        F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
    ).where(F.col(dst_col).isNotNull() & F.col(src_col).isNotNull())
    fetched = crawled.select(F.col(url_col).alias("dst")).distinct()
    frontier = e.join(fetched, "dst", "left_anti")
    return (
        frontier.select("dst", "src", source_host(F.col("src")).alias("src_dom"))
        .groupBy(F.col("dst").alias("url"))
        .agg(
            F.count(F.lit(1)).alias("n_inlinks"),
            F.count_distinct("src").alias("n_src_pages"),
            F.count_distinct("src_dom").alias("n_src_domains"),
        )
        .where(F.col("n_inlinks") >= min_inlinks)
    )


def mirror_domains(
    df: DataFrame,
    domain_col: str,
    text_col: str,
    *,
    min_shared: int = 2,
    max_fp_domains: int = 100,
) -> DataFrame:
    """Mirror-site detection: domain pairs serving >= ``min_shared``
    byte-identical pages (after dedup normalization) — the crawl-curation
    signal behind www/m/amp/CDN mirrors and wholesale site scrapes, which
    exact per-URL dedup misses (different urls, same corpus-inflating
    content).

    Returns (domain_a, domain_b, shared, n_a, n_b, overlap_ppm) with
    domain_a < domain_b; n_a/n_b are each domain's DISTINCT fingerprint
    counts and overlap_ppm = 1e6·shared div least(n_a, n_b) (containment
    form — a small mirror fully contained in a big site scores 1e6).

    ``max_fp_domains`` drops fingerprints served by more than that many
    domains BEFORE the pair join (empty pages, parked-domain templates,
    shared boilerplate: a fingerprint on 10^5 domains contributes 10^10
    pairs and says "template", not "mirror") — the posting-list cap every
    pair-generation op in this repo applies; capped fingerprints are
    excluded from ``shared`` AND from n_a/n_b, so overlap_ppm stays an
    honest ratio over the discriminative fingerprint set.

    Scale shape: distinct (domain, fp) projection, a combinable
    per-fingerprint domain count for the cap, one fp-keyed self-equi-join
    (bounded by max_fp_domains² per fingerprint), one pair groupBy.
    """
    if min_shared < 1:
        raise ValueError(f"min_shared must be >= 1, got {min_shared}")
    from .dedup import fingerprint

    pages = (
        df.select(
            F.col(domain_col).alias("domain"),
            fingerprint(F.col(text_col)).alias("fp"),
        )
        .where(F.col("domain").isNotNull())
        .distinct()
    )
    rare = (
        pages.groupBy("fp")
        .agg(F.count(F.lit(1)).alias("_nd"))
        .where(F.col("_nd") <= max_fp_domains)
        .select("fp")
    )
    kept = pages.join(rare, "fp")
    sizes = kept.groupBy("domain").agg(F.count(F.lit(1)).alias("n"))
    pairs = (
        kept.alias("a")
        .join(
            kept.alias("b"),
            (F.col("a.fp") == F.col("b.fp"))
            & (F.col("a.domain") < F.col("b.domain")),
        )
        .groupBy(
            F.col("a.domain").alias("domain_a"),
            F.col("b.domain").alias("domain_b"),
        )
        .agg(F.count(F.lit(1)).alias("shared"))
        .where(F.col("shared") >= min_shared)
    )
    return (
        pairs.join(
            sizes.select(F.col("domain").alias("domain_a"), F.col("n").alias("n_a")),
            "domain_a",
        )
        .join(
            sizes.select(F.col("domain").alias("domain_b"), F.col("n").alias("n_b")),
            "domain_b",
        )
        .select(
            "domain_a",
            "domain_b",
            "shared",
            "n_a",
            "n_b",
            F.expr("(1000000 * shared) div least(n_a, n_b)").alias("overlap_ppm"),
        )
    )


def translation_pairs(
    pages: DataFrame,
    alternates: DataFrame,
    *,
    url_col: str = "url",
    lang_col: str = "lang",
    len_col: str = "n_tokens",
    max_len_ratio_pct: int = 300,
) -> DataFrame:
    """Bitext candidate mining from publisher-declared hreflang
    alternates: join each page's declared translation target back to the
    crawled corpus and keep cross-language pairs whose token lengths are
    within ``max_len_ratio_pct`` (longer·100 div shorter — translations
    run 1-2×, scrapes and redirects don't). The standard first stage of
    parallel-corpus construction (WikiMatrix/CCAligned harvest shape:
    publisher metadata for recall, a cheap symmetry filter for
    precision).

    ``pages``: one row per crawled url with its language and token count
    (url_col/lang_col/len_col). ``alternates``: (id, hreflang, href) as
    produced by ``structured.extract_hreflang`` with the source page's
    URL passed as its id_col. Returns (url_a,
    url_b, lang_a, lang_b, len_a, len_b, len_ratio_pct) with url_a <
    url_b (each bidirectional declaration collapses to one row),
    same-language alternates dropped (regional variants en-US/en-GB of
    one language are dedup fodder, not bitext), zero-length sides
    dropped.

    Scale shape: two url equi-joins + one distinct — no windows, no
    Python; both join keys are urls (uniform by construction).
    """
    if max_len_ratio_pct < 100:
        raise ValueError("max_len_ratio_pct must be >= 100")
    p = pages.select(
        F.col(url_col).alias("u"),
        F.col(lang_col).alias("l"),
        F.col(len_col).cast("long").alias("n"),
    ).where(F.col("u").isNotNull() & (F.col("n") > 0))
    edges = (
        alternates.select(
            F.col("id").alias("src"), F.col("href").alias("dst")
        )
        .where(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("url_a"),
            F.greatest("src", "dst").alias("url_b"),
        )
        .distinct()
    )
    return (
        edges.join(
            p.select(F.col("u").alias("url_a"), F.col("l").alias("lang_a"), F.col("n").alias("len_a")),
            "url_a",
        )
        .join(
            p.select(F.col("u").alias("url_b"), F.col("l").alias("lang_b"), F.col("n").alias("len_b")),
            "url_b",
        )
        .where(F.col("lang_a") != F.col("lang_b"))
        .withColumn(
            "len_ratio_pct",
            F.expr("(100 * greatest(len_a, len_b)) div least(len_a, len_b)"),
        )
        .where(F.col("len_ratio_pct") <= max_len_ratio_pct)
        .select("url_a", "url_b", "lang_a", "lang_b", "len_a", "len_b", "len_ratio_pct")
    )


def resolve_redirects(
    redirects: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    *,
    doubling_rounds: int = 6,
) -> DataFrame:
    """Resolve HTTP redirect (or rel=canonical) chains to their final
    target by POINTER DOUBLING: each round composes the jump table with
    itself, so round k covers chains up to 2^k hops — log₂(longest
    chain) equi-joins instead of one join per hop. A crawl-consolidation
    staple: every snapshot URL must collapse to the page that actually
    served content before dedup/link analysis, or mirror chains count as
    distinct documents.

    Input: (src, dst) redirect edges. A src with several targets keeps
    the MINIMUM dst (deterministic last-wins stand-in; real pipelines
    dedupe by crawl recency upstream). Self-redirects are dropped.

    Returns (url, final_url, hops, resolved) for every src in the input:
      resolved=1: final_url is terminal (no outgoing redirect), hops =
                  exact chain length;
      resolved=0: the chain did not terminate within 2^doubling_rounds
                  hops — a redirect CYCLE (or a chain longer than the
                  cap; raise doubling_rounds — 6 covers 64 hops, far
                  past any browser's follow limit). final_url is where
                  the walk stopped; hops = 2^doubling_rounds.

    Scale shape: the jump table is redirect-source-sized (tiny vs the
    corpus); each round is ONE self-equi-join on the jump target + a
    coalesce — no per-hop corpus scans, no windows, no collects;
    lineage cut per round."""
    if doubling_rounds < 0:
        raise ValueError(f"doubling_rounds must be >= 0, got {doubling_rounds}")
    m = (
        redirects.select(F.col(src_col).alias("u"), F.col(dst_col).alias("v"))
        .where(F.col("u").isNotNull() & F.col("v").isNotNull())
        .where(F.col("u") != F.col("v"))
        .groupBy("u")
        .agg(F.min("v").alias("v"))
        .localCheckpoint()
    )
    srcs = m.select(F.col("u").alias("_s"))
    # jump(u) = (v, steps, term): v reachable from u in `steps` hops;
    # term=1 iff v has no outgoing redirect (the LEFT join probe below)
    jump = (
        m.join(m.select(F.col("u").alias("v"), F.lit(1).alias("_more")), "v", "left")
        .select(
            "u",
            "v",
            F.lit(1).cast("long").alias("steps"),
            F.when(F.col("_more").isNull(), 1).otherwise(0).alias("term"),
        )
        .localCheckpoint()
    )
    for _ in range(doubling_rounds):
        nxt = jump.select(
            F.col("u").alias("_ju"),
            F.col("v").alias("_jv"),
            F.col("steps").alias("_js"),
            F.col("term").alias("_jt"),
        )
        jump = (
            jump.join(nxt, jump["v"] == nxt["_ju"], "left")
            .select(
                "u",
                F.when((F.col("term") == 0) & F.col("_jv").isNotNull(), F.col("_jv"))
                .otherwise(F.col("v"))
                .alias("v"),
                F.when(
                    (F.col("term") == 0) & F.col("_jv").isNotNull(),
                    F.col("steps") + F.col("_js"),
                )
                .otherwise(F.col("steps"))
                .alias("steps"),
                F.when(
                    (F.col("term") == 0) & F.col("_jv").isNotNull(), F.col("_jt")
                )
                .otherwise(F.col("term"))
                .alias("term"),
            )
            .localCheckpoint()
        )
    cap = 1 << doubling_rounds
    return jump.select(
        F.col("u").alias("url"),
        F.col("v").alias("final_url"),
        F.when(F.col("term") == 1, F.col("steps"))
        .otherwise(F.lit(cap).cast("long"))
        .alias("hops"),
        F.col("term").alias("resolved"),
    )


def recrawl_priority(
    snapshots: DataFrame,
    url_col: str = "url",
    ts_col: str = "warc_ts",
    text_col: str = "text",
) -> DataFrame:
    """Freshness-driven recrawl scheduling over a multi-snapshot crawl
    archive: pages that change often and have not been fetched recently
    should be fetched first (the classic incremental-crawl policy of
    Cho & Garcia-Molina, "Synchronizing a database to improve freshness").

    Per url, in exact integer arithmetic:

    - ``n_snapshots`` / ``n_changes`` — snapshots observed, and
      snapshot-over-snapshot content transitions (md5 fingerprint of the
      text differs from the PREVIOUS snapshot in ``(ts, fingerprint)``
      order; the fingerprint tie-break makes the lag deterministic when
      one url has several same-day captures).
    - ``change_rate_ppm = 10^6 * n_changes / (n_snapshots - 1)`` (floor
      division; 0 for single-snapshot urls — no transition evidence).
    - ``staleness_days = floor((corpus_max_ts - last_ts) / 86400)`` —
      whole days since the url's latest capture, against the newest
      capture anywhere in the archive (no wall clock: determinism).
    - ``priority = change_rate_ppm * (1 + staleness_days)`` — a hot page
      not crawled for a week outranks an equally hot page crawled today.

    Scale shape: the lag window is partitioned BY URL — per-key row count
    is the snapshots-per-url bound (tens in a crawl archive), never the
    corpus; the global max-ts is a single-row aggregate joined back as a
    broadcast (scalar) side. One shuffle on url, which the downstream
    fetch scheduler needs anyway as its partition key.
    """
    fp = F.md5(F.coalesce(F.col(text_col).cast("string"), F.lit("")))
    from pyspark.sql import Window

    w = Window.partitionBy("url").orderBy("ts", "fingerprint")
    per_snap = snapshots.select(
        F.col(url_col).alias("url"),
        F.col(ts_col).alias("ts"),
        fp.alias("fingerprint"),
    ).withColumn("prev_fp", F.lag("fingerprint").over(w))
    per_url = per_snap.groupBy("url").agg(
        F.count(F.lit(1)).alias("n_snapshots"),
        F.sum(
            F.when(
                F.col("prev_fp").isNotNull()
                & (F.col("prev_fp") != F.col("fingerprint")),
                1,
            ).otherwise(0)
        ).alias("n_changes"),
        F.max("ts").alias("last_ts"),
    )
    max_ts = per_snap.agg(F.max("ts").alias("corpus_max_ts"))
    out = per_url.crossJoin(F.broadcast(max_ts))
    change_rate = F.when(
        F.col("n_snapshots") > 1,
        (F.lit(1_000_000) * F.col("n_changes")).cast("long")
        / (F.col("n_snapshots") - 1),
    ).otherwise(F.lit(0))
    staleness = F.floor(
        (
            F.unix_timestamp(F.col("corpus_max_ts"))
            - F.unix_timestamp(F.col("last_ts"))
        )
        / 86400
    )
    return out.select(
        "url",
        F.col("n_snapshots").cast("long").alias("n_snapshots"),
        F.col("n_changes").cast("long").alias("n_changes"),
        F.floor(change_rate).cast("long").alias("change_rate_ppm"),
        staleness.cast("long").alias("staleness_days"),
        (F.floor(change_rate) * (F.lit(1) + staleness))
        .cast("long")
        .alias("priority"),
    )


def crawl_schedule(
    priorities: DataFrame,
    url_col: str = "url",
    domain_col: str = "domain",
    priority_col: str = "priority",
    *,
    per_domain_budget: int = 10,
) -> DataFrame:
    """Politeness-aware fetch scheduling: order each domain's urls by
    priority and split them into waves of ``per_domain_budget`` — wave k
    holds each domain's (k·budget, (k+1)·budget]-ranked urls, so one
    crawl wave never asks any single host for more than ``budget``
    fetches (the per-host rate cap every polite crawler enforces),
    while high-priority urls of EVERY domain land in wave 0.

    Rank within a domain is by ``(priority DESC, url ASC)`` — the url
    tie-break makes the schedule a pure function of the input. Returns
    ``(url, domain, priority, rank_in_domain, wave)``; rows with a NULL
    url or domain are excluded (unschedulable — no host to be polite
    to), NULL priorities sort last (crawl-if-idle).

    Scale shape: one window partitioned by domain. Per-key width is the
    domain's url count — for the hot-domain tail (a 10^8-url host) the
    sort is a single reducer's spill-sort, which is the one place the
    politeness semantics themselves are sequential: rank-within-host is
    a total order over that host's urls by definition. The practical
    cap is upstream (``domain_policy`` / per-domain volume caps bound
    how many urls per host enter scheduling at all); AQE cannot split
    this window and no salt preserves its semantics — documented, not
    hidden.
    """
    if per_domain_budget < 1:
        raise ValueError(
            f"per_domain_budget must be >= 1, got {per_domain_budget}"
        )
    from pyspark.sql import Window

    w = Window.partitionBy("domain").orderBy(
        F.col("priority").desc_nulls_last(), F.col("url")
    )
    return (
        priorities.select(
            F.col(url_col).cast("string").alias("url"),
            F.col(domain_col).cast("string").alias("domain"),
            F.col(priority_col).cast("long").alias("priority"),
        )
        .where(F.col("url").isNotNull() & F.col("domain").isNotNull())
        .withColumn("rank_in_domain", F.row_number().over(w).cast("long"))
        .withColumn(
            "wave",
            F.floor((F.col("rank_in_domain") - 1) / per_domain_budget).cast(
                "long"
            ),
        )
    )


def url_templates(
    df: DataFrame,
    url_col: str,
    *,
    min_count: int = 2,
) -> DataFrame:
    """URL template discovery: collapse numeric and long-hex path
    segments to placeholders and count urls per (domain, template) —
    how a crawler learns that ``/product/8231497`` is one TEMPLATE with
    millions of instances (crawl-budget allocation, infinite-space trap
    detection, URL-level dedup hints) rather than millions of unrelated
    pages.

    Template derivation (frozen, order matters):

    1. canonicalize via ``normalize_url``
    2. split off the path+query (everything after the authority)
    3. digit runs → ``{d}``; hex runs of >= 8 chars → ``{h}`` (UUIDs,
       content hashes; shorter hex stays literal — 'cafe' is a word)

    Returns ``(domain, template, n_urls, sample_url)`` for templates
    with ``n_urls >= min_count`` — ``sample_url`` is the minimum
    canonical url (deterministic witness). Domain is ``url_table``'s
    registrable-domain approximation.

    Scale shape: pure per-row maps into one map-side-combinable groupBy
    on (domain, template) — template cardinality is sublinear in urls by
    construction (that is the point), so the aggregate output is small;
    AQE splits the hot mega-template keys like any skewed count.
    """
    if min_count < 1:
        raise ValueError(f"min_count must be >= 1, got {min_count}")
    base = url_table(df.select(F.col(url_col)), url_col, url_col)
    path = F.regexp_replace(
        F.col("url_norm"), r"^[a-z][a-z0-9+.-]*://[^/?#]*", ""
    )
    tmpl = F.regexp_replace(path, r"[0-9a-f]{8,}", "{h}")
    tmpl = F.regexp_replace(tmpl, r"[0-9]+", "{d}")
    rows = base.select(
        "domain", tmpl.alias("template"), F.col("url_norm")
    ).where(F.col("domain") != "")
    return (
        rows.groupBy("domain", "template")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_urls"),
            F.min("url_norm").alias("sample_url"),
        )
        .where(F.col("n_urls") >= min_count)
    )


# Unicode confusables (public confusablesSummary subset): Cyrillic and
# Greek letters whose glyphs are indistinguishable from Basic Latin in
# most fonts — the homoglyph domain-spoofing alphabet. One flat
# translate table (code-point to code-point) on both engines.
HOMOGLYPH_FROM = (
    "\u0430\u0435\u043e\u0440\u0441\u0445\u0443"  # Cyrillic a e o p c x y
    "\u0456\u0455\u0458"                          # Cyrillic i s j
    "\u0251\u03bf\u03c1"                          # Latin alpha, Greek o rho
)
HOMOGLYPH_TO = "aeopcxyisjaop"


def homoglyph_domains(
    df: DataFrame,
    domain_col: str,
) -> DataFrame:
    """Homoglyph spoof detection over domains: map confusable Cyrillic/
    Greek code points to their Latin skeletons and find collision sets —
    distinct domains whose skeletons coincide ('exаmple.com' with a
    Cyrillic а spoofing 'example.com') — the phishing/link-spam QA pass
    a web-KG runs before trusting cross-domain signals (mirror
    detection, anchor votes, PageRank) that a spoofer inflates.

    Returns one row per input domain: ``(domain, skeleton, is_spoof,
    n_variants)`` — ``is_spoof = 1`` iff the skeleton differs from the
    domain (confusables present), ``n_variants`` = distinct domains
    sharing the skeleton (>1 = a collision set worth review; the
    all-Latin member is usually the spoof target).

    Scale shape: skeleton is ONE ``translate`` call (code-point table,
    identical on any engine) — pure map; the variant count is one
    map-side-combinable distinct-count per skeleton joined back by the
    same key.
    """
    dom = F.lower(F.trim(F.col(domain_col).cast("string")))
    skel = F.translate(dom, HOMOGLYPH_FROM, HOMOGLYPH_TO)
    base = df.select(dom.alias("domain"), skel.alias("skeleton")).where(
        F.col("domain").isNotNull() & (F.col("domain") != "")
    ).distinct()
    counts = base.groupBy("skeleton").agg(
        F.count(F.lit(1)).cast("long").alias("n_variants")
    )
    return base.join(counts, "skeleton").select(
        "domain",
        "skeleton",
        (F.col("domain") != F.col("skeleton")).cast("int").alias("is_spoof"),
        "n_variants",
    )
