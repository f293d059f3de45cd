"""Deterministic sampling for corpus rebalancing.

Training-data pipelines downsample over-represented strata (e.g. English
web text) and keep rare strata whole. Spark's ``DataFrame.sample`` is
seed-dependent on partitioning and not reproducible across engines, so
these operators derive the keep/drop decision from ``md5(seed|id)`` —
the same engine-portable construction as the LSH hyperplane literals
(``similarity.hyperplane_buckets``): first 15 hex chars as an integer,
uniform in [0, 2^60), kept iff below ``fraction · 2^60``.

Properties: exactly reproducible on any engine (the DuckDB oracle runs
the same arithmetic), stable under repartitioning/retries (a pure
function of the id), and composable (different ``seed`` values give
independent samples). Pure per-row filter — zero shuffle at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = ["sample_hash", "stratified_sample", "group_capped_sample", "corpus_mixture", "assign_splits"]

_SPACE = 1 << 60


def sample_hash(id_col: Column, seed: str = "") -> Column:
    """Uniform [0, 2^60) hash of ``seed|id`` (md5-derived, engine-portable)."""
    key = F.concat(F.lit(seed + "|"), id_col.cast("string"))
    return F.conv(F.substring(F.md5(key), 1, 15), 16, 10).cast("long")


def _threshold(fraction: float) -> int:
    if not 0.0 <= fraction <= 1.0:
        raise ValueError(f"fraction must be in [0, 1], got {fraction}")
    return int(fraction * _SPACE)


def stratified_sample(
    df: DataFrame,
    id_col: str,
    strata_col: str,
    fractions: dict[str, float],
    default_fraction: float = 1.0,
    seed: str = "",
) -> DataFrame:
    """Per-stratum keep fractions (e.g. ``{"en": 0.1, "de": 0.5}`` keeps
    10% of English, 50% of German, and ``default_fraction`` of everything
    else, NULL strata included). Thresholds ship as a CASE expression —
    a pure map, no join."""
    thr: Column = F.lit(_threshold(default_fraction))
    for value, frac in sorted(fractions.items()):
        thr = F.when(F.col(strata_col) == value, F.lit(_threshold(frac))).otherwise(thr)
    return df.where(sample_hash(F.col(id_col), seed) < thr)


def group_capped_sample(
    df: DataFrame,
    id_col: str,
    group_col: str,
    *,
    cap: int,
    seed: str = "cap",
) -> DataFrame:
    """Deterministic per-group CAP (RefinedWeb-style domain/language
    caps): keep at most ``cap`` rows per group — exactly the cap rows
    with the smallest ``md5(seed|id)``, so the selection is reproducible
    across engines, retries, and repartitionings. Complements
    ``stratified_sample`` (which keeps *fractions*): a cap bounds
    absolute volume ("no domain contributes more than N pages")
    regardless of group size. Returns the selected key rows
    (group, id, h) — semi-join back to materialize full rows.

    Scale shape — two-phase distributed min-k, NEVER a per-group sort
    window (``row_number() OVER (PARTITION BY group ORDER BY h)`` would
    sort-buffer an entire language's rows through single reducers):

    - phase 1: every input partition keeps its own cap-smallest rows
      per group with bounded heaps inside one ``mapInPandas`` pass
      (memory O(groups-in-partition x cap), no shuffle);
    - phase 2: survivors (<= cap x n_partitions per group) repartition
      by group — the only shuffle, shipping at most cap rows per
      (group, input-partition) — and the same heap pass runs once more.

    The result is exactly the global min-k because min-k is a
    semilattice: min-k(union of partition min-ks) = global min-k.
    Duplicate ids contribute one candidate row each (multiset
    semantics, mirroring the oracle's row_number)."""
    if cap < 1:
        raise ValueError(f"cap must be >= 1, got {cap}")

    # NULL ids are excluded (same contract as the KG operators' NULL
    # keys): a NULL id has no hash — and a NULL in the h column would
    # make Arrow hand pandas a float64 column, silently rounding the
    # surviving 60-bit hashes above 2^53
    keyed = df.where(F.col(id_col).isNotNull()).select(
        F.col(group_col).alias("g"),
        F.col(id_col).alias("id"),
        sample_hash(F.col(id_col), seed).alias("h"),
    )
    schema = keyed.schema

    def keep_cap(batches):
        import heapq

        import pandas as pd

        # heapq is a min-heap: store -h so the root is the current
        # WORST (largest-h) survivor; a smaller-h candidate compares
        # greater and replaces it. h is md5-derived and collision-free
        # across ids, so no tie-break component is needed.
        best: dict = {}
        seq = 0  # untied heap entries (h collisions are impossible, but
        #          a dup id yields equal h — seq keeps the tuple orderable
        for pdf in batches:
            for g, i, h in zip(pdf["g"], pdf["id"], pdf["h"]):
                heap = best.setdefault(g, [])
                item = (-int(h), seq, i)
                seq += 1
                if len(heap) < cap:
                    heapq.heappush(heap, item)
                elif item > heap[0]:
                    heapq.heapreplace(heap, item)
        rows = [
            (g, i, -neg_h)
            for g, heap in best.items()
            for (neg_h, _, i) in heap
        ]
        if rows:
            yield pd.DataFrame(rows, columns=["g", "id", "h"])

    p1 = keyed.mapInPandas(keep_cap, schema=schema)
    p2 = p1.repartition("g").mapInPandas(keep_cap, schema=schema)
    return p2.select(
        F.col("g").alias(group_col), F.col("id").alias(id_col), "h"
    )


def corpus_mixture(
    df: DataFrame,
    group_col: str,
    *,
    budget: int,
) -> DataFrame:
    """Multilingual mixture allocation over a grouped corpus — the two
    published corpus-balancing rules computed side by side, in exact
    integer arithmetic:

    - ``temp_weight_ppm``: temperature sampling at alpha = 0.5
      (mT5/mC4-family ``p_g ∝ n_g^alpha``) — ``1e6 * isqrt(n_g) div
      Σ isqrt(n_k)``. ``isqrt = floor(sqrt())`` is engine-portable: IEEE
      double sqrt is correctly rounded, so the floor is exact for any
      int64 count below 2^52. Alpha is fixed at 1/2 because that is the
      exponent integer arithmetic can express exactly; arbitrary alpha
      needs ``pow`` and would hash-drift across libm builds (same
      rationale as cooccurrence_lift, operators/kg.py).
    - ``unimax_budget``: UniMax allocation (Chung et al., "UniMax:
      Fairer and More Effective Language Sampling", ICLR 2023) — spread
      a total document ``budget`` equally across groups, capping each
      group at its available ``n_g`` and re-distributing its unused
      share (integer water-filling). Exact rule: with groups ascending
      by ``(n, group)``, every group that fits whole (``cum_i +
      (G - i) * n_i <= budget``) gets ``n_g``; the rest get ``L =
      (budget - cum_k) div (G - k)`` docs each (k = last whole-fit
      rank). The ``div`` remainder (< G-k docs) is deliberately left
      unallocated — deterministic, documented.

    Returns (group, n_docs, temp_weight_ppm, unimax_budget). NULL group
    keys are excluded (the module's NULL-key contract).

    Scale shape: one map-side-combinable groupBy reduces the corpus to a
    group-cardinality dim (languages/domains: ~1e2-1e7 rows ≪ corpus);
    the window + 1-row scalar crossJoins below run on THAT dim only —
    the corpus-sized side never sees a window or a sort.
    """
    if budget < 0:
        raise ValueError(f"budget must be >= 0, got {budget}")
    from pyspark.sql import Window

    counts = (
        df.where(F.col(group_col).isNotNull())
        .groupBy(F.col(group_col).alias("group"))
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .withColumn("_sq", F.floor(F.sqrt(F.col("n_docs"))).cast("long"))
    )
    w = Window.orderBy("n_docs", "group")
    ranked = counts.select(
        "group",
        "n_docs",
        "_sq",
        F.row_number().over(w).alias("_rk"),
        F.sum("n_docs").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ).alias("_cum"),
    )
    totals = ranked.agg(
        F.count(F.lit(1)).alias("_g"), F.sum("_sq").alias("_sqsum")
    )
    staged = ranked.crossJoin(F.broadcast(totals)).withColumn(
        "_fits",
        (F.col("_cum") + (F.col("_g") - F.col("_rk")) * F.col("n_docs"))
        <= F.lit(budget),
    )
    lvl = staged.agg(
        F.coalesce(F.max(F.when(F.col("_fits"), F.col("_rk"))), F.lit(0)).alias("_k"),
        F.coalesce(F.max(F.when(F.col("_fits"), F.col("_cum"))), F.lit(0)).alias("_ck"),
    )
    return (
        staged.crossJoin(F.broadcast(lvl))
        .withColumn(
            "_alloc",
            F.when(F.col("_rk") <= F.col("_k"), F.col("n_docs")).otherwise(
                F.least(
                    F.col("n_docs"),
                    F.expr(f"({budget} - _ck) div (_g - _k)"),
                )
            ),
        )
        .select(
            "group",
            "n_docs",
            F.expr("(1000000 * _sq) div _sqsum").alias("temp_weight_ppm"),
            F.col("_alloc").cast("long").alias("unimax_budget"),
        )
    )


def assign_splits(
    df: DataFrame,
    id_col: str,
    splits: dict[str, float] | None = None,
    seed: str = "",
    split_col: str = "split",
) -> DataFrame:
    """Deterministic train/validation/test assignment: every row gets
    exactly one split label, decided by where ``md5(seed|id)`` lands in
    [0, 2^60) partitioned by cumulative fraction thresholds — the same
    engine-portable hash as ``sample_hash``, so the assignment
    is reproducible on any engine, stable under repartitioning/retries,
    and (critically for decontamination) a pure function of the id: the
    same document can never drift between train and test across runs or
    machines.

    ``splits`` maps label → fraction (default the 98/1/1 LM convention);
    fractions must be positive and sum to 1 (±1e-9). Labels are
    processed in SORTED order so the threshold layout is independent of
    dict construction order; the last label's upper bound is forced to
    2^60 (float rounding can't orphan rows). Appends ``split_col`` —
    a pure map, zero shuffle, composable with downstream filters that
    Catalyst pushes into the scan.
    """
    if splits is None:
        splits = {"train": 0.98, "val": 0.01, "test": 0.01}
    if not splits:
        raise ValueError("splits must be non-empty")
    for name, frac in splits.items():
        if frac <= 0:
            raise ValueError(f"split {name!r} fraction must be > 0, got {frac}")
    total = sum(splits.values())
    if abs(total - 1.0) > 1e-9:
        raise ValueError(f"split fractions must sum to 1, got {total}")
    names = sorted(splits)
    h = sample_hash(F.col(id_col), seed)
    expr: Column | None = None
    cum = 0.0
    for i, name in enumerate(names):
        cum += splits[name]
        bound = _SPACE if i == len(names) - 1 else _threshold(cum)
        cond = h < F.lit(bound)
        expr = F.when(cond, F.lit(name)) if expr is None else expr.when(cond, F.lit(name))
    assert expr is not None
    return df.withColumn(split_col, expr)
