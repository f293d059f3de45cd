"""Link-graph analytics over the materialized KG / web-page link graph.

PageRank is the canonical web-corpus salience signal: CCNet- and
RefinedWeb-style curation pipelines rank pages by link authority before
sampling training data, and a KG build ranks entities by alias-graph
centrality when choosing canonical nodes. The reference plugin has no
graph surface at all — this extends the engine's KG-materialize stage
(north rule: "graph materialize") with the downstream analytics a
trillion-page corpus needs.

Determinism contract (the whole point of the integer formulation): ranks
are kept in integer micro-units and every per-iteration step is either an
integer sum (order-free — bit-identical no matter how partitions combine)
or an integer floor-division that both Spark (``div``) and any ANSI engine
(DuckDB ``//``) evaluate identically on non-negative values. Doubles would
make the gated value-hash depend on reduction order; 64-bit integers do
not. With init=1e12 micro-units, total mass is ``n_nodes * 1e12`` and the
damped sum peaks below ``85 * total_mass`` — safely inside int64 for
graphs up to ~10^5 nodes per unit of init; callers at 10^12 nodes lower
``init`` accordingly (mass, not node count, is what must fit).

Scale shape (what survives 100 TB):

- edges are the big table; ranks/outdeg are node-sized. Every iteration is
  ``edges ⋈ ranks`` (equi-join on src — AQE skew-splits hub domains) then
  ``groupBy(dst).sum`` (map-side combinable: a page with 10^9 in-links
  partial-sums inside each map task, the classic combiner win).
- lineage is cut per iteration with ``localCheckpoint`` — persist() alone
  does NOT cut lineage, and an iterative plan referenced twice per round
  doubles per round (2^k nodes → driver OOM); see components.py for the
  durable-parquet variant when executor loss matters.
- dangling nodes (no out-edges) keep receiving rank but redistribute
  nothing; their mass leaks rather than being re-spread. DIV from the
  textbook formulation, chosen because the re-spread term is a global
  scalar that would force a full collect-broadcast barrier per iteration;
  documented in SEMANTICS.md.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = [
    "pagerank",
    "degree_stats",
    "triangle_count",
    "k_hop",
    "neighbor_jaccard",
    "k_core",
    "hits",
    "transitive_closure",
    "random_walks",
    "personalized_pagerank",
    "label_propagation",
    "node2vec_walks",
    "strongly_connected_components",
    "co_citation",
    "local_clustering",
    "reciprocity",
    "resource_allocation",
    "katz_centrality",
    "weighted_pagerank",
]


def _simple_edges(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """DISTINCT non-loop ``(src, dst)`` edges. ``!=`` is NULL on a NULL
    endpoint, so edges with a missing end drop out with the loops."""
    return (
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )


def _endpoints(e: DataFrame) -> DataFrame:
    """The node universe of an edge frame: distinct ``src ∪ dst``."""
    return (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
    )


def _undirected(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """The undirected simple edge set as ``(a, b)`` with ``a < b``."""
    return (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .where(F.col("a") != F.col("b"))
        .distinct()
    )


def _degrees(und: DataFrame, name: str = "deg") -> DataFrame:
    """(node, ``name``): per-node degree of an ``_undirected`` edge set."""
    return (
        und.select(F.col("a").alias("node"))
        .union(und.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias(name))
    )


def _check_rank_args(
    iterations: int, num: int, den: int, name: str, *, damping: bool
) -> None:
    """Reject bad rank-family parameters before any Spark job runs: the
    ratio ``num/den`` must be a non-negative rational, and a damping
    factor (``damping=True``) must also be at most 1 — above it the base
    term goes negative and breaks the non-negative ``div`` contract."""
    if iterations < 1:
        raise ValueError(f"iterations must be >= 1, got {iterations}")
    if num < 0 or den < 1 or (damping and num > den):
        want = "in [0, 1]" if damping else "a non-negative rational"
        raise ValueError(f"{name} must be {want}, got {num}/{den}")


def _rank_fixpoint(
    e: DataFrame,
    share: str,
    nodes: DataFrame,
    base: Column,
    rank0: Column,
    iterations: int,
    num: int,
    den: int,
) -> DataFrame:
    """The ONE damped-sum integer fixpoint loop, behind ``pagerank``,
    ``personalized_pagerank``, ``katz_centrality`` and
    ``weighted_pagerank``. Per iteration, all int64::

        incoming(v) = sum(share(u -> v) for each edge u -> v)   (order-free)
        rank'(v)    = base(v) + (num * incoming(v)) div den

    ``e`` is the lineage-cut edge table (src, dst plus whatever ``share``
    reads); ``share`` is a SQL expression over it and the source's
    ``rank`` — ``rank div outdeg`` (PageRank), ``rank`` (Katz) or
    ``(rank * w) div totw`` (weighted). ``base`` and ``rank0`` are
    Columns over ``nodes``; the (node, base, rank0) table is cut once.
    Per iteration: edges ⋈ ranks equi-join, map-side-combinable sum,
    per-round localCheckpoint (see module doc). Returns (node, rank)."""
    bases = nodes.select(
        "node",
        base.cast("long").alias("base"),
        rank0.cast("long").alias("rank0"),
    ).localCheckpoint()
    ranks = bases.select("node", F.col("rank0").alias("rank"))
    for _ in range(iterations):
        incoming = (
            e.join(ranks.withColumnRenamed("node", "src"), "src")
            .select(F.col("dst").alias("node"), F.expr(share).alias("share"))
            .groupBy("node")
            .agg(F.sum("share").alias("incoming"))
        )
        ranks = (
            bases.join(incoming, "node", "left")
            .select(
                "node",
                (
                    F.col("base")
                    + F.expr(
                        f"(cast({num} as bigint)"
                        f" * coalesce(incoming, cast(0 as bigint)))"
                        f" div cast({den} as bigint)"
                    )
                ).alias("rank"),
            )
            .localCheckpoint()  # cut per-round lineage (see module doc)
        )
    return ranks


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    *,
    iterations: int = 3,
    init: int = 10**12,
    damp_num: int = 85,
    damp_den: int = 100,
) -> DataFrame:
    """Deterministic integer PageRank over a directed edge list.

    Returns (node, rank) with rank in integer micro-units. Self-loops are
    dropped and parallel edges collapsed (DISTINCT) before iterating, so
    out-degree counts distinct successors — the standard link-graph
    convention.

    Update rule per iteration, all in int64::

        share(u)    = rank(u) div outdeg(u)
        incoming(v) = sum(share(u) for each edge u -> v)        (order-free)
        rank'(v)    = (1 - d) * init  +  (d * incoming(v)) div 1
                    = ((damp_den - damp_num) * init) div damp_den
                      + (damp_num * incoming(v)) div damp_den
    """
    _check_rank_args(iterations, damp_num, damp_den, "damping", damping=True)
    e = _simple_edges(edges, src, dst)
    outdeg = e.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    base = (damp_den - damp_num) * init // damp_den
    return _rank_fixpoint(
        e.join(outdeg, "src").localCheckpoint(), "rank div outdeg",
        _endpoints(e), F.lit(base), F.lit(init), iterations, damp_num, damp_den,
    )


def degree_stats(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """Per-node degree profile of a directed graph: (node, out_degree,
    in_degree, total_degree) over DISTINCT non-loop edges.

    Two map-side-combinable groupBys + one node-keyed outer join — the
    degree histogram a KG build reports per checkpoint (north rule:
    per-partition lineage + metrics)."""
    e = _simple_edges(edges, src, dst)
    out_d = e.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).alias("out_degree")
    )
    in_d = e.groupBy(F.col("dst").alias("node")).agg(
        F.count(F.lit(1)).alias("in_degree")
    )
    return (
        out_d.join(in_d, "node", "full")
        .select(
            "node",
            F.coalesce("out_degree", F.lit(0)).alias("out_degree"),
            F.coalesce("in_degree", F.lit(0)).alias("in_degree"),
            (
                F.coalesce("out_degree", F.lit(0)) + F.coalesce("in_degree", F.lit(0))
            ).alias("total_degree"),
        )
    )


def triangle_count(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """Global triangle count of the UNDIRECTED simple graph underlying
    ``edges`` (direction ignored, loops dropped, parallel edges collapsed).

    Returns a single row (n_triangles BIGINT). Triangle density is the
    standard alias-graph health metric (a canonicalization graph whose
    clusters are cliques triangle-counts quadratically; bridges don't).

    Scale shape — the degree-orientation trick (public, Cohen 2009 /
    Suri-Vassilvitskii 2011): orient every undirected edge from its
    lower-(degree, id) endpoint to the higher one. Every node's
    out-degree is then O(sqrt(m)) even on power-law graphs — the wedge
    self-join on the shared source explodes per-node as out-degree², so
    orientation turns the celebrity-node O(d²) blowup into the graph-wide
    minimum. Three equi-joins total (wedge build + closing-edge probe),
    all map-side combinable into one final count."""
    und = _undirected(edges, src, dst)
    deg = _degrees(und)
    tri = _oriented_triangles(und, deg)
    return tri.agg(F.count(F.lit(1)).alias("n_triangles"))


def _oriented_triangles(und: DataFrame, deg: DataFrame) -> DataFrame:
    """All triangles (u, v1, v2) of the undirected simple graph via the
    degree-orientation wedge join (the triangle_count plan, corners
    kept)."""
    # orientation key: (degree, node id) — total order, ties by id
    ranked = (
        und.join(deg.withColumnRenamed("node", "a"), "a")
        .withColumnRenamed("deg", "deg_a")
        .join(
            deg.select(F.col("node").alias("b"), F.col("deg").alias("deg_b")), "b"
        )
        .select(
            F.when(
                F.struct(F.col("deg_a"), F.col("a"))
                < F.struct(F.col("deg_b"), F.col("b")),
                F.struct(
                    F.col("a").alias("u"),
                    F.col("b").alias("v"),
                    F.col("deg_b").alias("deg_v"),
                ),
            )
            .otherwise(
                F.struct(
                    F.col("b").alias("u"),
                    F.col("a").alias("v"),
                    F.col("deg_a").alias("deg_v"),
                )
            )
            .alias("e")
        )
        .select("e.u", "e.v", "e.deg_v")
    )
    e1 = ranked.select(
        F.col("u"), F.col("v").alias("v1"), F.col("deg_v").alias("dv1")
    )
    e2 = ranked.select(
        F.col("u"), F.col("v").alias("v2"), F.col("deg_v").alias("dv2")
    )
    # wedges at u with canonically-ordered endpoints (same (deg,id) order
    # as the orientation, so the closing edge is oriented v1 -> v2)
    wedges = e1.join(e2, "u").where(
        F.struct(F.col("dv1"), F.col("v1")) < F.struct(F.col("dv2"), F.col("v2"))
    )
    closing = ranked.select(
        F.col("u").alias("v1"), F.col("v").alias("v2")
    )
    return wedges.join(closing, ["v1", "v2"]).select("u", "v1", "v2")


def neighbor_jaccard(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    *,
    min_shared: int = 1,
    max_hub_degree: int | None = None,
    exact_counts: bool = False,
) -> DataFrame:
    """Structural node similarity: for every node pair sharing at least
    ``min_shared`` undirected neighbors, the Jaccard of their neighbor
    sets — the standard entity-resolution candidate generator over an
    alias/link graph ("two surface forms that link to the same pages are
    probably the same entity"), complementing the content-side
    MinHash/SimHash family with a purely structural signal.

    Returns (node_a, node_b, shared, deg_a, deg_b, jaccard_ppm) with
    node_a < node_b. ``jaccard_ppm`` is the similarity in integer parts
    per million — ``(1e6 * |∩|) div (|A| + |B| - |∩|)`` — an int64
    floor-division both Spark (``div``) and ANSI engines (``//``)
    evaluate identically, so results value-hash across engines
    (doubles would tie-break differently across libm builds).

    Scale shape: pair candidates come from a wedge self-join on the
    SHARED neighbor — never an all-pairs cross. A hub neighbor shared by
    d nodes contributes d² wedges, so ``max_hub_degree`` drops
    hub *pivots* (degree > cap) from wedge generation BEFORE the
    self-join, the same posting-list cap as ngram_jaccard
    (operators/dedup.py): a page linked by millions of entities carries
    no discriminative signal but would dominate the shuffle.

    Cap semantics (when ``max_hub_degree`` is set and ``exact_counts``
    is False, the default): deg_a/deg_b stay the TRUE degrees, but
    ``shared`` — and therefore jaccard_ppm's numerator AND union — count
    only NON-HUB witnesses, so a surviving pair that additionally shares
    a hub neighbor reports a jaccard_ppm BELOW its true Jaccard (a
    conservative lower bound). ``min_shared`` is likewise evaluated on
    the capped witness count (it is a recall knob). Pass
    ``exact_counts=True`` to recompute the TRUE intersection for the
    surviving pairs via a second, pair-restricted count: one extra
    equi-join chain sized Σ deg(a) over surviving pairs — bounded by
    |pairs|·avg-degree, never by hub² wedges, so it stays scale-safe
    while making jaccard_ppm exact for every emitted pair (candidate
    recall is still capped).
    """
    if max_hub_degree is not None and max_hub_degree < 1:
        raise ValueError(f"max_hub_degree must be >= 1, got {max_hub_degree}")
    und = _undirected(edges, src, dst)
    # symmetric adjacency (node, nbr)
    adj = und.select(
        F.col("a").alias("node"), F.col("b").alias("nbr")
    ).union(und.select(F.col("b").alias("node"), F.col("a").alias("nbr")))
    deg = _degrees(und)
    pivots = adj.select(F.col("nbr").alias("via"), F.col("node"))
    if max_hub_degree is not None:
        ok = deg.where(F.col("deg") <= max_hub_degree).select(
            F.col("node").alias("via")
        )
        pivots = pivots.join(ok, "via")
    w1 = pivots.select("via", F.col("node").alias("node_a"))
    w2 = pivots.select("via", F.col("node").alias("node_b"))
    inter = (
        w1.join(w2, "via")
        .where(F.col("node_a") < F.col("node_b"))
        .groupBy("node_a", "node_b")
        .agg(F.count(F.lit(1)).alias("shared"))
        .where(F.col("shared") >= min_shared)
    )
    if exact_counts and max_hub_degree is not None:
        # recompute the TRUE intersection, restricted to surviving pairs:
        # pairs ⋈ adj(node_a) on node_a gives (a, b, nbr) — sized
        # Σ deg(a) over pairs — then an equi-join on (node_b, nbr)
        # keeps the nbrs both endpoints share, hubs included. No hub²
        # wedge blow-up: the hub contributes at most one row per
        # (surviving pair, hub) incidence.
        pairs = inter.select("node_a", "node_b")
        inter = (
            pairs.join(
                adj.select(F.col("node").alias("node_a"), "nbr"), "node_a"
            )
            .join(
                adj.select(F.col("node").alias("node_b"), "nbr"),
                ["node_b", "nbr"],
            )
            .groupBy("node_a", "node_b")
            .agg(F.count(F.lit(1)).alias("shared"))
        )
    return (
        inter.join(deg.select(F.col("node").alias("node_a"), F.col("deg").alias("deg_a")), "node_a")
        .join(deg.select(F.col("node").alias("node_b"), F.col("deg").alias("deg_b")), "node_b")
        .select(
            "node_a",
            "node_b",
            "shared",
            "deg_a",
            "deg_b",
            F.expr(
                "(cast(1000000 as bigint) * shared)"
                " div (deg_a + deg_b - shared)"
            ).alias("jaccard_ppm"),
        )
    )


def k_core(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    *,
    k: int = 2,
    max_rounds: int = 20,
    fixed_rounds: int | None = None,
) -> DataFrame:
    """Nodes of the k-core of the undirected simple graph: iteratively
    peel nodes with degree < k until none remain, returning
    (node, core_degree) for survivors with their degree INSIDE the core.

    The dense-subgraph filter a KG build runs before expensive
    entity-clustering passes: peripheral one-link aliases (the long tail
    of a crawl's alias graph) peel away, leaving the richly-connected
    hub where canonicalization decisions actually interact. Classic
    k-core peeling (public: Batagelj-Zaversnik 2003), expressed as a
    bounded DataFrame fixpoint.

    Per round: one map-side-combinable degree count over the surviving
    adjacency + one semi-join to keep qualifying endpoints — edge-keyed
    equi-joins only, no windows. Lineage is cut per round with
    ``localCheckpoint`` (see module doc — persist() does not cut
    lineage and the doubled per-round plan OOMs the driver around round
    20). Convergence is detected when a round removes nothing (edge
    count unchanged — one count scan of the just-checkpointed edge set
    per round; a peel that removes any node always removes >= 1 edge).

    ``fixed_rounds`` runs EXACTLY that many peels with no convergence
    probe — the deterministic bounded variant an unrolled-CTE oracle can
    replicate; converged results are identical whenever fixed_rounds >=
    the peel depth. Raises if max_rounds rounds don't converge
    (adversarial graphs peel one layer per round; callers raise
    max_rounds, never silently return a partial core).
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    und = _undirected(edges, src, dst).localCheckpoint()

    def peel(e: DataFrame) -> DataFrame:
        keep = _degrees(e, "core_degree").where(F.col("core_degree") >= k)
        keep = keep.select("node")
        return (
            e.join(keep.withColumnRenamed("node", "a"), "a")
            .join(keep.withColumnRenamed("node", "b"), "b")
            .select("a", "b")
        )

    if fixed_rounds is not None:
        e = und
        for _ in range(fixed_rounds):
            e = peel(e).localCheckpoint()
        return _degrees(e, "core_degree").where(F.col("core_degree") >= k)

    e = und
    prev_edges = e.count()
    for _ in range(max_rounds):
        e = peel(e).localCheckpoint()
        n = e.count()
        if n == prev_edges:
            return _degrees(e, "core_degree").where(F.col("core_degree") >= k)
        prev_edges = n
    raise RuntimeError(
        f"k_core did not converge in {max_rounds} rounds; raise max_rounds"
    )


def hits(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    *,
    iterations: int = 2,
    scale: int = 10**6,
) -> DataFrame:
    """Deterministic integer HITS (Kleinberg 1999) over a directed edge
    list: returns (node, auth, hub) with both scores in integer ``scale``
    units after ``iterations`` full hub→authority→hub rounds.

    PageRank ranks by global random-surfer mass; HITS separates *hubs*
    (pages whose out-links select good content — directory/index pages)
    from *authorities* (pages good hubs point at). A crawl-curation
    pipeline wants both: authorities seed the quality corpus, hubs seed
    the frontier. The reference plugin has no graph surface; this extends
    the KG-materialize stage like ``pagerank`` above.

    Determinism contract (mirrors the module doc): the textbook algorithm
    L2-normalizes each half-step — floats, reduction-order-dependent.
    Here each half-step instead max-normalizes in int64::

        auth_raw(v) = sum(hub(u) for u -> v)              (order-free)
        auth(v)     = (auth_raw(v) * scale) div max(auth_raw)

    max is order-free and the floor-division is evaluated identically by
    Spark (``div``) and ANSI engines (``//``) on non-negative values, so
    the fixpoint value-hashes across engines. Relative ranking under
    max-normalization equals the L2 variant's (normalization only rescales
    within an iteration); absolute magnitudes differ — documented DIV.

    Overflow bound: after normalization every score is <= scale, so the
    next raw sum is <= scale * max_degree and the scaled numerator is
    <= scale^2 * max_degree, which must stay below 2^63. The default
    scale=1e6 supports max in/out-degree up to ~9e6; trillion-edge link
    graphs with billion-degree hubs pass scale=1e4 (supports ~9e10).

    Scale shape: per half-step one edges ⋈ scores equi-join (AQE
    skew-splits hub domains) + one map-side-combinable groupBy-sum + a
    1-row global max crossJoined back (broadcast nested-loop of a scalar
    — no collect barrier on the driver). Lineage cut per half-step
    (``localCheckpoint``; see module doc)."""
    if iterations < 1:
        raise ValueError(f"iterations must be >= 1, got {iterations}")
    e = _simple_edges(edges, src, dst).localCheckpoint()
    nodes = _endpoints(e).localCheckpoint()

    def half_step(scores: DataFrame, col: str, out: str, key_from: str,
                  key_to: str) -> DataFrame:
        # raw(v) = sum of `col` over edges key_from -> key_to, then
        # max-normalize to `scale` units (greatest(,1) guards all-zero)
        raw = (
            e.join(scores.withColumnRenamed("node", key_from), key_from)
            .groupBy(F.col(key_to).alias("node"))
            .agg(F.sum(col).alias("raw"))
        )
        filled = nodes.join(raw, "node", "left").select(
            "node", F.coalesce("raw", F.lit(0).cast("long")).alias("raw")
        )
        mx = filled.agg(F.max("raw").alias("mx"))
        return (
            filled.crossJoin(mx)
            .select(
                "node",
                F.expr(
                    f"(raw * cast({scale} as bigint))"
                    " div greatest(mx, cast(1 as bigint))"
                ).alias(out),
            )
            .localCheckpoint()
        )

    hub = nodes.withColumn("hub", F.lit(scale).cast("long"))
    auth = None
    for _ in range(iterations):
        auth = half_step(hub, "hub", "auth", "src", "dst")
        hub = half_step(auth, "auth", "hub", "dst", "src")
    return auth.join(hub, "node").select("node", "auth", "hub")


def transitive_closure(
    edges: DataFrame,
    child: str = "child",
    parent: str = "parent",
    *,
    max_depth: int = 30,
    fixed_depth: int | None = None,
) -> DataFrame:
    """Ancestor closure of a hierarchy edge list: (node, ancestor, depth)
    for every ancestor reachable from ``node``, depth = SHORTEST hop
    count (>= 1; self-pairs are not emitted).

    The subClassOf/broader-than reasoning step of a KG build: tagging
    materializes leaf-level type assertions, the closure makes every
    query over a parent class see its descendants ("instance_of
    transitive" in Wikidata terms, SKOS ``broaderTransitive``). DAGs are
    supported — a node with two parents gets both ancestor chains, and a
    (node, ancestor) pair reachable along several paths keeps its
    shortest depth (frontier rows already seen are anti-joined away, so
    the closure table stays |closure|-sized, never path-count-sized —
    path counts are exponential in DAG depth).

    Per round one frontier ⋈ edges equi-join + one anti-join + a lineage
    cut (``localCheckpoint`` — see module doc). Rounds = hierarchy depth
    (taxonomies: tens), NOT graph size. Self-pairs are filtered from
    every frontier, which also makes CYCLES terminate: a node on a cycle
    reaches every other cycle member (reported) but never itself, and
    once all reachable (node, ancestor) pairs exist the frontier
    empties — the closure of a cyclic graph is reachability-minus-self,
    not an infinite loop. After ``max_depth`` non-empty rounds this
    still raises (a hierarchy THAT deep is a data bug to inspect).
    ``fixed_depth`` bounds the rounds at exactly that many (the
    variant an unrolled/recursive-CTE oracle replicates; identical to
    convergence whenever fixed_depth >= true depth) — the per-round
    emptiness probe (one narrow scan of the just-checkpointed frontier)
    still runs and ends the loop early once the frontier empties, since
    an empty frontier stays empty."""
    e = _simple_edges(edges, child, parent).toDF("child", "parent")
    e = e.localCheckpoint()
    closure = e.select(
        F.col("child").alias("node"), F.col("parent").alias("ancestor")
    ).withColumn("depth", F.lit(1)).localCheckpoint()
    frontier = closure
    rounds = fixed_depth if fixed_depth is not None else max_depth
    for depth in range(2, rounds + 2):
        nxt = (
            frontier.join(e, frontier["ancestor"] == e["child"])
            .select("node", F.col("parent").alias("ancestor"))
            .where(F.col("node") != F.col("ancestor"))
            .distinct()
            .join(closure.select("node", "ancestor"), ["node", "ancestor"],
                  "left_anti")
            .withColumn("depth", F.lit(depth))
            .localCheckpoint()
        )
        # the emptiness probe is one narrow scan of the just-checkpointed
        # frontier; in fixed_depth mode it changes nothing semantically
        # (an empty frontier stays empty) but skips the remaining rounds'
        # join/checkpoint jobs
        if nxt.limit(1).count() == 0:
            return closure
        frontier = nxt
        closure = closure.union(frontier).localCheckpoint()
    if fixed_depth is not None:
        return closure
    raise RuntimeError(
        f"transitive_closure did not converge in {max_depth} rounds — "
        "hierarchy deeper than max_depth or cyclic; raise max_depth "
        "after ruling out a cycle"
    )


def random_walks(
    edges: DataFrame,
    seeds: DataFrame,
    src: str = "src",
    dst: str = "dst",
    *,
    steps: int = 3,
    node_col: str = "node",
) -> DataFrame:
    """Deterministic 'random' walks for graph-embedding training data:
    one walk per seed node, ``steps`` hops, next hop chosen among the
    current node's out-neighbors by minimum ``md5(walk_id|step|candidate)``
    — a hash in place of an RNG, so the corpus is bit-reproducible across
    retries, repartitions, and engines (the DeepWalk/node2vec corpus
    generation step, with determinism the training pipeline can cache
    on). Returns (walk_id, step, node) rows; step 0 is the seed itself;
    a walk that reaches a sink (no out-edges) simply ends early.

    Scale shape: each hop is one frontier ⋈ edges equi-join (frontier is
    walk-count-sized, edges the big side — AQE handles hub skew) + one
    map-side-combinable min-aggregation per walk. No windows, no
    collect; ``steps`` is a small constant so the loop unrolls. Lineage
    cut per hop (see module doc). Hash-argmin picks by (md5, candidate)
    struct-min — md5 ties are cryptographically impossible, but the
    struct makes the pick total-ordered anyway."""
    if steps < 0:
        raise ValueError(f"steps must be >= 0, got {steps}")
    e = _simple_edges(edges, src, dst).localCheckpoint()
    cur = (
        seeds.select(F.col(node_col).alias("walk_id"))
        .distinct()
        .select("walk_id", F.col("walk_id").alias("node"))
        .localCheckpoint()
    )
    out = cur.withColumn("step", F.lit(0))
    for t in range(1, steps + 1):
        cand = cur.join(e, cur["node"] == e["src"]).select(
            "walk_id",
            F.col("dst"),
            F.md5(F.concat_ws("|", F.col("walk_id"), F.lit(t), F.col("dst")))
            .alias("h"),
        )
        cur = (
            cand.groupBy("walk_id")
            .agg(F.min(F.struct("h", "dst")).alias("m"))
            .select("walk_id", F.col("m.dst").alias("node"))
            .localCheckpoint()
        )
        out = out.union(cur.withColumn("step", F.lit(t)))
    return out.select("walk_id", "step", "node")


def k_hop(
    edges: DataFrame,
    seeds: DataFrame,
    src: str = "src",
    dst: str = "dst",
    *,
    k: int = 2,
    node_col: str = "node",
) -> DataFrame:
    """Bounded BFS: (node, hops) for every node reachable from the seed
    set within ``k`` directed hops; hops = shortest distance (0 for the
    seeds themselves).

    The KG-neighborhood query behind entity-context expansion ("every
    entity within 2 hops of these seed entities") and crawl frontier
    scoping. k is a small constant, so the loop unrolls to k equi-joins —
    per round: frontier ⋈ edges (src-keyed; AQE skew-splits hubs), an
    anti-join against the visited set to keep the frontier minimal, and a
    lineage cut (``localCheckpoint`` — see the module doc; per-round
    growth would otherwise double the plan). Visited stays
    (node, hops)-sized — bounded by the reachable set, not the edge
    count. Distances are set on FIRST discovery and never revisited, so
    the result is the true shortest-hop count without any min-merge.
    """
    if k < 0:
        raise ValueError(f"k must be >= 0, got {k}")
    e = _simple_edges(edges, src, dst).localCheckpoint()
    visited = (
        seeds.select(F.col(node_col).alias("node"))
        .distinct()
        .withColumn("hops", F.lit(0))
        .localCheckpoint()
    )
    frontier = visited
    for depth in range(1, k + 1):
        nxt = (
            frontier.join(e, frontier["node"] == e["src"])
            .select(F.col("dst").alias("node"))
            .distinct()
            .join(visited.select("node"), "node", "left_anti")
            .withColumn("hops", F.lit(depth))
        )
        frontier = nxt.localCheckpoint()
        visited = visited.union(frontier).localCheckpoint()
    return visited


def personalized_pagerank(
    edges: DataFrame,
    seeds: DataFrame,
    src: str = "src",
    dst: str = "dst",
    *,
    node_col: str = "node",
    iterations: int = 3,
    init: int = 10**12,
    damp_num: int = 85,
    damp_den: int = 100,
) -> DataFrame:
    """Topic-sensitive PageRank (Haveliwala 2002): identical integer
    fixpoint to ``pagerank`` above, except teleport mass returns ONLY to
    the seed set — rank measures proximity to the seeds, the standard
    related-entity / trusted-page expansion signal a KG build runs from
    a curated seed list (TrustRank is this with spam-free seeds).

    Update rule, all int64 (see ``pagerank`` for the determinism
    contract)::

        rank0(v)  = init if v in seeds else 0
        rank'(v)  = [v in seeds] * ((damp_den-damp_num)*init div damp_den)
                    + (damp_num * incoming(v)) div damp_den

    Scale shape matches ``pagerank`` (both run ``_rank_fixpoint``); the
    seed flag is precomputed once as a node-keyed column, so the seed set
    costs one join total, not one per iteration."""
    _check_rank_args(iterations, damp_num, damp_den, "damping", damping=True)
    e = _simple_edges(edges, src, dst)
    outdeg = e.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    base = (damp_den - damp_num) * init // damp_den
    s = seeds.select(F.col(node_col).alias("node")).distinct()
    flagged = _endpoints(e).join(s.withColumn("_seed", F.lit(1)), "node", "left")
    seeded = F.col("_seed").isNotNull()
    return _rank_fixpoint(
        e.join(outdeg, "src").localCheckpoint(), "rank div outdeg", flagged,
        F.when(seeded, F.lit(base)).otherwise(F.lit(0)),
        F.when(seeded, F.lit(init)).otherwise(F.lit(0)),
        iterations, damp_num, damp_den,
    )


def label_propagation(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    *,
    rounds: int = 2,
) -> DataFrame:
    """Synchronous label propagation (Raghavan 2007) — community
    detection over the alias/link graph; a KG build uses the communities
    as candidate entity groups coarser than connected components (which
    over-merge through one noisy alias edge).

    Returns (node, label). Edges are undirected (symmetrized) with
    self-loops dropped and parallel edges collapsed; labels start as the
    node's own id. Each round, EVERY node simultaneously adopts the most
    frequent label among its neighbors, ties broken by minimum label —
    fully deterministic (the textbook random-order variant is not), so
    the fixed-``rounds`` result is value-hash reproducible against an
    unrolled-CTE oracle. Synchronous LPA can oscillate on bipartite
    structures; ``rounds`` is a hard bound, not a convergence promise
    (run components.py when you need the stable over-merge instead).

    Scale shape: per round one edges⋈labels equi-join on dst, one
    map-side-combinable groupBy(node,label) count, one node-sized
    argmin-struct reduce, one node-keyed join back — all key-partitioned,
    no windows; lineage cut per round with ``localCheckpoint`` (module
    doc)."""
    if rounds < 1:
        raise ValueError(f"rounds must be >= 1, got {rounds}")
    fwd = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    e = _simple_edges(fwd.union(fwd.select("dst", "src")), "src", "dst")
    e = e.localCheckpoint()
    labels = (
        e.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .localCheckpoint()
    )
    for _ in range(rounds):
        cand = (
            e.join(labels.withColumnRenamed("node", "dst"), "dst")
            .groupBy(F.col("src").alias("node"), "label")
            .agg(F.count("*").alias("c"))
        )
        # argmax by (count desc, label asc): min over (-c, label) structs —
        # an order-free reduce, no per-node sort window
        best = (
            cand.groupBy("node")
            .agg(F.min(F.struct((-F.col("c")).alias("nc"), F.col("label"))).alias("b"))
            .select("node", F.col("b.label").alias("new_label"))
        )
        labels = (
            labels.join(best, "node", "left")
            .select(
                "node",
                F.coalesce(F.col("new_label"), F.col("label")).alias("label"),
            )
            .localCheckpoint()
        )
    return labels


def node2vec_walks(
    edges: DataFrame,
    seeds: DataFrame,
    src: str = "src",
    dst: str = "dst",
    *,
    steps: int = 3,
    p: int = 1,
    q: int = 2,
    node_col: str = "node",
) -> DataFrame:
    """Second-order biased walks (node2vec, Grover & Leskovec 2016) with
    EXACT integer weighted sampling, deterministic across engines.

    ``random_walks`` picks uniformly; node2vec biases each hop by where
    the walk came from: a candidate that RETURNS to the previous node
    weighs 1/p, one ADJACENT to it (prev -> cand edge exists) weighs 1,
    anything FARTHER weighs 1/q — small p = depth-first-ish exploration,
    small q = breadth-first-ish. Scaling by p*q makes the three weights
    the integers {q, p*q, p}, so sampling needs no floats: per hop, the
    walk's candidate list is sorted by destination, W = sum of weights,
    and h = md5(walk_id|step) mod W picks the candidate whose cumulative
    weight range contains h — exact categorical sampling (every residue
    maps to one candidate in proportion to its weight), bit-reproducible
    across retries, repartitions, and the DuckDB oracle. Step 1 has no
    previous node: every candidate takes the FAR weight p, which is
    uniform (all equal). Walks end early at sinks.

    Scale shape per hop: frontier ⋈ edges (equi-join on the current
    node), one LEFT equi-join back to edges on (prev, cand) for the
    adjacency class (this is the second-order check most
    implementations approximate away; here it is one more hash join),
    then a per-walk candidate fold. The fold's collect_list is bounded
    by the current node's OUT-DEGREE — fine for web graphs (~10^3-10^4
    links/page); for super-hub graphs cap degree upstream (the
    max_hub_degree pattern of neighbor_jaccard). Lineage cut per hop.

    Returns (walk_id, step, node); step 0 is the seed.
    """
    if steps < 0:
        raise ValueError(f"steps must be >= 0, got {steps}")
    if p < 1 or q < 1:
        raise ValueError(f"p and q must be integers >= 1, got p={p} q={q}")
    e = _simple_edges(edges, src, dst).localCheckpoint()
    adj = e.select(
        F.col("src").alias("_prev"), F.col("dst").alias("_dst"),
        F.lit(1).alias("_adj"),
    )
    cur = (
        seeds.select(F.col(node_col).alias("walk_id"))
        .distinct()
        .select(
            "walk_id",
            F.col("walk_id").alias("node"),
            F.lit(None).cast(seeds.schema[node_col].dataType).alias("prev"),
        )
        .localCheckpoint()
    )
    out = cur.select("walk_id", F.lit(0).alias("step"), "node")
    w_ret, w_adj, w_far = q, p * q, p
    for t in range(1, steps + 1):
        cand = (
            cur.join(e, cur["node"] == e["src"])
            .join(
                adj,
                (F.col("prev") == F.col("_prev")) & (e["dst"] == F.col("_dst")),
                "left",
            )
            .select(
                "walk_id",
                e["dst"].alias("cand"),
                F.when(F.col("dst") == F.col("prev"), F.lit(w_ret))
                .when(F.col("_adj").isNotNull(), F.lit(w_adj))
                .otherwise(F.lit(w_far))
                .cast("long")
                .alias("wt"),
            )
        )
        picked = (
            cand.groupBy("walk_id")
            .agg(F.sort_array(F.collect_list(F.struct("cand", "wt"))).alias("cs"))
            .withColumn("tot", F.expr("aggregate(cs, 0L, (a, x) -> a + x.wt)"))
            .withColumn(
                "h",
                F.expr(
                    f"conv(substr(md5(concat(cast(walk_id as string), '|', '{t}')),"
                    " 1, 15), 16, 10)"
                ).cast("long")
                % F.col("tot"),
            )
            # fold over indices: first candidate whose cumulative weight
            # range contains h (cs/h are materialized columns, so the
            # lambda's outer references don't re-evaluate work per element)
            .withColumn(
                "sel",
                F.expr(
                    "aggregate(sequence(1, size(cs)), "
                    "struct(cast(0 as bigint) AS cum, 0 AS idx), "
                    "(acc, i) -> CASE WHEN acc.idx > 0 THEN acc "
                    "WHEN acc.cum + cs[i-1].wt > h "
                    "THEN struct(acc.cum + cs[i-1].wt AS cum, i AS idx) "
                    "ELSE struct(acc.cum + cs[i-1].wt AS cum, 0 AS idx) END, "
                    "acc -> acc.idx)"
                ),
            )
            .select("walk_id", F.expr("cs[sel-1].cand").alias("node"))
        )
        nxt = picked.join(
            cur.select("walk_id", F.col("node").alias("prev")), "walk_id"
        ).select("walk_id", "node", "prev")
        cur = nxt.localCheckpoint()
        out = out.union(cur.select("walk_id", F.lit(t).alias("step"), "node"))
    return out.select("walk_id", "step", "node")


def _min_label_fixpoint(
    nodes: DataFrame, e: DataFrame, *, reverse: bool, max_iters: int
) -> DataFrame:
    """(node, lbl) where lbl = min node id reachable from node along
    edge direction (reverse=True follows edges backwards), self
    included. Iterates min-propagation to convergence (probe: any
    changed label?) and returns the fixpoint; raises ValueError if
    max_iters rounds pass without converging."""
    s, d = ("dst", "src") if reverse else ("src", "dst")
    lbl = nodes.select("node", F.col("node").alias("lbl")).localCheckpoint()
    for _ in range(max_iters):
        upd = (
            e.join(lbl, e[d] == lbl["node"])
            .groupBy(e[s].alias("node"))
            .agg(F.min("lbl").alias("m"))
        )
        new = (
            lbl.join(upd, "node", "left")
            .select(
                "node",
                F.least(F.col("lbl"), F.coalesce(F.col("m"), F.col("lbl"))).alias(
                    "lbl"
                ),
            )
            .localCheckpoint()
        )
        changed = (
            new.alias("n")
            .join(lbl.alias("o"), "node")
            .where(F.col("n.lbl") != F.col("o.lbl"))
            .limit(1)
            .count()
        )
        lbl = new
        if changed == 0:
            return lbl
    raise ValueError(
        f"min-label propagation did not converge in {max_iters} iterations"
        " — raise max_label_iters (graph diameter exceeds the cap)"
    )


def strongly_connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    *,
    max_peel_rounds: int = 8,
    max_label_iters: int = 30,
    trim_iters: int = 10,
) -> DataFrame:
    """Strongly connected components by FW-BW-Trim peeling (Fleischer et
    al. 2000 / the Slota-Rajamanickam distributed variant): per round,
    TRIM repeatedly assigns nodes with no in- or no out-edge in the
    remaining graph as singleton SCCs (cheap degree anti-joins, clears
    DAG tendrils a level per iteration), then one forward and one
    backward min-label fixpoint over what remains — a node whose
    min-forward-reachable id equals its min-backward-reachable id m is
    mutually reachable with m, so its SCC id IS m; assigned nodes peel
    off and the next round runs on the rest. connected_components gives
    the undirected clustering; this is the directed one (link-farm and
    citation-ring detection over the crawl link graph).

    Guaranteed progress: each round assigns at least the SCC of the
    remaining graph's minimum id (its members' fwd and bwd minima are
    both that id). Web-shaped graphs (bow-tie: one giant core + DAG
    tendrils) finish in 2-3 rounds — trim eats the tendrils, round one
    eats the core. Adversarial singleton CHAINS peel one level per trim
    iteration; raise trim_iters / max_peel_rounds for those, or use
    transitive_closure for pure DAGs. Raises (never returns a partial
    answer) if caps are hit before every node is assigned.

    Node universe contract (shared with _link_seed_nodes / the oracles):
    endpoints of non-self-loop distinct edges; a node appearing only in
    self-loops is not in the universe.

    Scale shape: everything is equi-joins, groupBy-min aggregations, and
    anti-joins — no windows, no collects; every fixpoint frame is
    localCheckpoint'd (lineage cut) and every convergence probe is a
    limit(1).count() over a just-checkpointed frame. Returns
    (node, scc_id); scc_id is the component's minimum node id.
    """
    e = _simple_edges(edges, src, dst).localCheckpoint()
    remaining = _endpoints(e).localCheckpoint()

    def restrict(live: DataFrame, nodes: DataFrame) -> DataFrame:
        # keep the live edges whose endpoints both remain
        return (
            live.join(nodes.select(F.col("node").alias("src")), "src", "left_semi")
            .join(nodes.select(F.col("node").alias("dst")), "dst", "left_semi")
            .localCheckpoint()
        )

    assigned: list[DataFrame] = []
    re = e
    for _ in range(max_peel_rounds):
        # TRIM: no in-edge or no out-edge => singleton SCC
        for _ in range(trim_iters):
            srcs = re.select(F.col("src").alias("node")).distinct()
            dsts = re.select(F.col("dst").alias("node")).distinct()
            # nodes missing from either endpoint set of the live edges
            both = srcs.join(dsts, "node")
            singles = remaining.join(both, "node", "left_anti").localCheckpoint()
            if singles.limit(1).count() == 0:
                break
            assigned.append(
                singles.select("node", F.col("node").alias("scc_id"))
            )
            remaining = remaining.join(singles, "node", "left_anti").localCheckpoint()
            re = restrict(re, remaining)
        if remaining.limit(1).count() == 0:
            break
        fwd = _min_label_fixpoint(
            remaining, re, reverse=False, max_iters=max_label_iters
        )
        bwd = _min_label_fixpoint(
            remaining, re, reverse=True, max_iters=max_label_iters
        )
        scc = (
            fwd.alias("f")
            .join(bwd.alias("b"), "node")
            .where(F.col("f.lbl") == F.col("b.lbl"))
            .select("node", F.col("f.lbl").alias("scc_id"))
            .localCheckpoint()
        )
        assigned.append(scc)
        remaining = remaining.join(scc, "node", "left_anti").localCheckpoint()
        if remaining.limit(1).count() == 0:
            break
        re = restrict(re, remaining)
    else:
        if remaining.limit(1).count() > 0:
            raise ValueError(
                f"SCC peeling incomplete after {max_peel_rounds} rounds —"
                " raise max_peel_rounds (many chained small components)"
            )
    if not assigned:  # empty edge input: empty result, correct schema
        return remaining.select("node", F.col("node").alias("scc_id"))
    out = assigned[0]
    for part in assigned[1:]:
        out = out.union(part)
    return out


def co_citation(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    *,
    mode: str = "cocitation",
    max_hub_degree: int | None = None,
    min_shared: int = 1,
) -> DataFrame:
    """Directed-graph relatedness by shared endpoints (Small 1973 /
    Kessler 1963 — the citation-analysis classics, equally the web-KG
    signal for 'pages the same hubs link to are about the same thing'):

    - ``mode="cocitation"``: pairs (a, b) cited BY the same sources —
      shared = |{s : s→a ∧ s→b}| (pivot = the citing page).
    - ``mode="coupling"``: pairs (a, b) citing the same targets —
      shared = |{t : a→t ∧ b→t}| (pivot = the cited page).

    Unlike ``neighbor_jaccard`` (undirected neighbor sets), direction is
    load-bearing here — co-citation and coupling answer different
    questions and both exist in real pipelines.

    Returns ``(node_a, node_b, shared)`` with ``node_a < node_b``
    (unordered pairs once) and ``shared >= min_shared``.  Self-loops and
    duplicate edges are dropped first.

    Scale shape: a wedge self-equi-join on the pivot column — never an
    all-pairs cross.  A pivot of degree d yields d·(d−1)/2 pairs, so
    ``max_hub_degree`` drops hub pivots before the join (same cap and
    same conservative-undercount semantics as ``neighbor_jaccard``:
    ``shared`` counts only non-hub witnesses when the cap is set).
    """
    if mode not in ("cocitation", "coupling"):
        raise ValueError(f"mode must be cocitation|coupling, got {mode!r}")
    if min_shared < 1:
        raise ValueError(f"min_shared must be >= 1, got {min_shared}")
    pivot, leaf = (src, dst) if mode == "cocitation" else (dst, src)
    e = _simple_edges(edges, pivot, leaf).toDF("p", "n")
    if max_hub_degree is not None:
        if max_hub_degree < 1:
            raise ValueError(
                f"max_hub_degree must be >= 1, got {max_hub_degree}"
            )
        deg = e.groupBy("p").agg(F.count(F.lit(1)).alias("_d"))
        e = e.join(deg.where(F.col("_d") <= max_hub_degree), "p").drop("_d")
    # NOTE: for cocitation the pair nodes are the TARGETS of the pivot's
    # out-edges; for coupling they are the SOURCES into the pivot — the
    # (p, n) projection above normalizes both to the same wedge shape
    a = e.select("p", F.col("n").alias("node_a"))
    b = e.select("p", F.col("n").alias("node_b"))
    pairs = a.join(b, "p").where(F.col("node_a") < F.col("node_b"))
    return (
        pairs.groupBy("node_a", "node_b")
        .agg(F.count(F.lit(1)).cast("long").alias("shared"))
        .where(F.col("shared") >= min_shared)
    )


def local_clustering(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Per-node triangle participation + local clustering coefficient of
    the undirected simple graph (direction ignored, loops dropped,
    parallel edges collapsed): ``cc = 2·t / (deg·(deg−1))`` in floor-ppm
    (Watts-Strogatz) — the node-level community/template signal the
    global ``triangle_count`` can't give (a page whose neighbors all
    interlink sits inside a cluster; a bridge node's cc is ~0).

    Returns ``(node, deg, n_triangles, cc_ppm)`` for every node of the
    simple graph; degree-1 nodes report ``cc_ppm = 0`` (no wedge to
    close, the standard convention).

    Scale shape: the same degree-orientation wedge join as
    ``triangle_count`` (per-node out-degree O(sqrt m) even on power-law
    graphs), with each triangle's three corners exploded and counted by
    one map-side-combinable aggregate — no windows, no caps needed
    because orientation already bounds the wedge blowup.
    """
    und = _undirected(edges, src, dst)
    deg = _degrees(und)
    tri = _oriented_triangles(und, deg)
    corners = (
        tri.select(F.col("u").alias("node"))
        .unionAll(tri.select(F.col("v1").alias("node")))
        .unionAll(tri.select(F.col("v2").alias("node")))
    )
    tcount = corners.groupBy("node").agg(
        F.count(F.lit(1)).alias("n_triangles")
    )
    out = deg.join(tcount, "node", "left").select(
        "node",
        F.col("deg").cast("long").alias("deg"),
        F.coalesce(F.col("n_triangles"), F.lit(0))
        .cast("long")
        .alias("n_triangles"),
    )
    cc = F.when(
        F.col("deg") >= 2,
        F.floor(
            (F.lit(2_000_000) * F.col("n_triangles"))
            / (F.col("deg") * (F.col("deg") - 1))
        ),
    ).otherwise(F.lit(0))
    return out.withColumn("cc_ppm", cc.cast("long"))


def reciprocity(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Per-node edge reciprocity of the directed simple graph: of a
    node's distinct out-edges, how many have the reverse edge — the
    link-farm / mutual-citation signal (organic web linking is mostly
    one-way; near-1 reciprocity across a domain's pages marks a link
    exchange).

    Returns ``(node, out_deg, n_reciprocal, reciprocity_ppm)`` with
    ``reciprocity_ppm = floor(10^6 · n_reciprocal / out_deg)``. Nodes
    with no out-edges (pure sinks) are absent — there is nothing to
    measure. Self-loops dropped, parallel edges collapsed first.

    Scale shape: one distinct, one self-equi-join on the reversed
    ``(dst, src)`` key, one map-side-combinable aggregate on src.
    """
    e = _simple_edges(edges, src, dst).toDF("s", "d")
    rev = e.select(
        F.col("d").alias("s"), F.col("s").alias("d"), F.lit(1).alias("_r")
    )
    return (
        e.join(rev, ["s", "d"], "left")
        .groupBy(F.col("s").alias("node"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("out_deg"),
            F.sum(F.coalesce(F.col("_r"), F.lit(0)))
            .cast("long")
            .alias("n_reciprocal"),
        )
        .withColumn(
            "reciprocity_ppm",
            F.floor(
                (F.lit(1_000_000) * F.col("n_reciprocal")) / F.col("out_deg")
            ).cast("long"),
        )
    )


def resource_allocation(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    *,
    max_hub_degree: int | None = None,
    min_score_ppm: int = 1,
) -> DataFrame:
    """Resource-Allocation link-prediction index (Zhou/Lü/Zhang 2009)
    over the undirected simple graph: ``RA(a,b) = Σ_z 1/deg(z)`` over
    shared neighbors z — like Adamic-Adar but with exactly-rational
    weights, so the score stays in deterministic integer arithmetic:
    each witness contributes ``10^6 // deg(z)`` (floor-ppm per term,
    then an order-free integer sum).

    A rare shared neighbor (degree 2) contributes 500000; a hub shared
    neighbor contributes ~nothing — which is also why the optional
    ``max_hub_degree`` pivot cap costs almost no score mass: a dropped
    pivot of degree d could have added at most ``10^6 // d <= 10^6 /
    cap`` per pair (conservative undercount, same direction as
    ``neighbor_jaccard``'s cap — and here quantifiably tiny).

    Returns ``(node_a, node_b, ra_ppm)``, unordered pairs once,
    ``ra_ppm >= min_score_ppm``.

    Scale shape: per-pivot wedge self-equi-join with the pivot degree
    attached (one node-sized join), then one map-side-combinable sum on
    the pair key — the same shape as ``co_citation``/``neighbor_jaccard``.
    """
    if min_score_ppm < 0:
        raise ValueError(f"min_score_ppm must be >= 0, got {min_score_ppm}")
    und = _undirected(edges, src, dst)
    deg = _degrees(und)
    adj = und.select(F.col("a").alias("z"), F.col("b").alias("n")).unionAll(
        und.select(F.col("b").alias("z"), F.col("a").alias("n"))
    )
    pivots = deg.withColumnRenamed("node", "z")
    if max_hub_degree is not None:
        if max_hub_degree < 1:
            raise ValueError(
                f"max_hub_degree must be >= 1, got {max_hub_degree}"
            )
        pivots = pivots.where(F.col("deg") <= max_hub_degree)
    a_side = adj.join(pivots, "z")
    b_side = adj.select(F.col("z"), F.col("n").alias("n2"))
    wedges = a_side.join(b_side, "z").where(F.col("n") < F.col("n2"))
    contrib = F.floor(F.lit(1_000_000) / F.col("deg")).cast("long")
    return (
        wedges.select(
            F.col("n").alias("node_a"),
            F.col("n2").alias("node_b"),
            contrib.alias("_c"),
        )
        .groupBy("node_a", "node_b")
        .agg(F.sum("_c").cast("long").alias("ra_ppm"))
        .where(F.col("ra_ppm") >= min_score_ppm)
    )


def katz_centrality(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    *,
    iterations: int = 3,
    init: int = 10**6,
    alpha_num: int = 1,
    alpha_den: int = 4,
) -> DataFrame:
    """Deterministic integer Katz centrality (Katz 1953): damped path
    counts of every length — unlike PageRank, a node's influence is NOT
    split across its out-edges, so a page linked by many well-linked
    pages scores high even when those pages link widely (the standard
    complement to PageRank for citation-style graphs).

    Update rule per iteration, all int64 (order-free sums, floor
    division identical on any engine)::

        incoming(v) = sum(rank(u) for each edge u -> v)
        rank'(v)    = init + (alpha_num * incoming(v)) div alpha_den

    ``alpha = alpha_num/alpha_den`` is the attenuation. Convergence
    needs ``alpha < 1/lambda_max``; with hub in-degree d the mass grows
    ~``(alpha*d)^k``, so callers on hub-heavy graphs keep ``init`` small
    and iterations few (the default budget holds int64 up to
    ``alpha*d ~ 150`` at 3 iterations) — same int64-headroom contract
    as ``pagerank``'s module doc, documented rather than silently
    saturated. Returns ``(node, katz_micro)``.

    Scale shape: this is the PageRank loop (``_rank_fixpoint``) with
    share = rank and base = rank0 = init — edges ⋈ ranks equi-join +
    map-side-combinable sum per iteration, lineage cut per round.
    """
    _check_rank_args(iterations, alpha_num, alpha_den, "alpha", damping=False)
    e = _simple_edges(edges, src, dst).localCheckpoint()
    ranks = _rank_fixpoint(
        e, "rank", _endpoints(e), F.lit(init), F.lit(init),
        iterations, alpha_num, alpha_den,
    )
    return ranks.select("node", F.col("rank").alias("katz_micro"))


def weighted_pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    weight_col: str = "weight",
    *,
    iterations: int = 3,
    init: int = 10**9,
    damp_num: int = 85,
    damp_den: int = 100,
) -> DataFrame:
    """Integer PageRank with edge weights: a node's rank is split across
    its out-edges PROPORTIONALLY to weight instead of uniformly — the
    anchor-weighted link graph (an edge backed by 500 anchor links
    carries more authority than a footer link; feed
    ``anchor_text_index``'s n_links as the weight).

    Update rule, all int64::

        share(u->v)  = (rank(u) * w(u->v)) div totw(u)
        incoming(v)  = sum(shares into v)                    (order-free)
        rank'(v)     = base + (damp_num * incoming) div damp_den

    Parallel edges combine by SUMMING weights first; self-loops and
    non-positive weights are dropped. ``rank * w`` must stay inside
    int64 — callers keep ``init * max_weight`` well under 2^63 (the
    module's documented headroom contract; with the default init=10^9
    weights up to ~10^6 on ~10^3-node mass concentrations are safe).
    Returns ``(node, rank)`` in integer units of ``init``.

    Scale shape: this is the PageRank loop (``_rank_fixpoint``) with
    share = (rank * w) div totw — the weight and totw columns ride the
    pre-joined edge table, lineage cut once; per iteration one equi-join
    + one combinable sum.
    """
    _check_rank_args(iterations, damp_num, damp_den, "damping", damping=True)
    e = (
        edges.select(
            F.col(src).alias("src"),
            F.col(dst).alias("dst"),
            F.col(weight_col).cast("long").alias("w"),
        )
        .where(F.col("src") != F.col("dst"))
        .where(F.col("w") > 0)
        .groupBy("src", "dst")
        .agg(F.sum("w").alias("w"))
    )
    totw = e.groupBy("src").agg(F.sum("w").alias("totw"))
    e_w = e.join(totw, "src").localCheckpoint()
    base = (damp_den - damp_num) * init // damp_den
    return _rank_fixpoint(
        e_w, "(rank * w) div totw", _endpoints(e_w), F.lit(base), F.lit(init),
        iterations, damp_num, damp_den,
    )
