"""Iterative byte-pair-encoding tokenizer training (Sennrich et al.
2016, "Neural Machine Translation of Rare Words with Subword Units").

``char_pair_counts`` (textstats.py) computes merge #1's statistics; this
module runs the actual training loop: N merges learned from the corpus,
each round counting weighted adjacent-symbol pairs and greedily applying
the winner. Fitting the tokenizer to the pretraining corpus itself is a
standard step of an LLM data pipeline — this keeps that step in the
engine instead of a driver-side python dict.

Distributed shape (the classic BPE-trainer trick, distributed): train on
the DISTINCT-WORD table with frequencies, never the corpus. One initial
corpus pass builds (word, count) — Heaps' law keeps that table tiny
relative to the corpus (~10^6-10^7 rows at 100 TB) — and every round
after touches only it: one explode of per-word adjacent symbol pairs
weighted by word count, one map-side-combinable sum, one
TakeOrderedAndProject(1) for the winner (a 1-row, driver-sized collect
by construction, same contract as kmeans_centroids), and one map
applying the merge to the symbol arrays. localCheckpoint per round cuts
the growing lineage (the fixpoint pattern of graph.py).

Merge-application semantics (pinned by tests): within a word, merges
apply greedily left-to-right without overlap — for symbols [a,a,a] and
merge (a,a) the result is [aa, a], never [a, aa]. Pair COUNTING counts
every adjacent position ([a,a,a] contributes 2 to (a,a)), matching the
reference get_stats. Winner tie-break: highest count, then
lexicographically smallest (left, right) — a total order both engines
reproduce. No end-of-word sentinel is appended (merges cannot cross
word boundaries by construction here; a '</w>'-style marker is a
caller-side concat if GPT-2 parity is wanted).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .textstats import word_tokens


def _apply_merge(sym: Column, left: str, right: str) -> Column:
    """Greedy leftmost non-overlapping merge of adjacent (left, right)
    symbol pairs, as a single fold: the accumulator carries (out array,
    pending symbol); a pending `left` followed by `right` flushes their
    concatenation, anything else flushes the pending symbol unchanged."""
    init = F.struct(
        F.expr("cast(array() as array<string>)").alias("out"),
        F.lit(None).cast("string").alias("pend"),
    )
    l, r = F.lit(left), F.lit(right)

    def step(acc: Column, x: Column) -> Column:
        hit = acc["pend"].isNotNull() & (acc["pend"] == l) & (x == r)
        return (
            F.when(
                hit,
                F.struct(
                    F.concat(acc["out"], F.array(F.concat(l, r))).alias("out"),
                    F.lit(None).cast("string").alias("pend"),
                ),
            )
            .when(
                acc["pend"].isNull(),
                F.struct(acc["out"].alias("out"), x.alias("pend")),
            )
            .otherwise(
                F.struct(
                    F.concat(acc["out"], F.array(acc["pend"])).alias("out"),
                    x.alias("pend"),
                )
            )
        )

    def finish(acc: Column) -> Column:
        return F.when(acc["pend"].isNull(), acc["out"]).otherwise(
            F.concat(acc["out"], F.array(acc["pend"]))
        )

    return F.aggregate(sym, init, step, finish)


def word_counts(df: DataFrame, text_col: str) -> DataFrame:
    """(w, cnt) distinct-word frequency table of the normalized corpus
    — the one corpus-sized pass of BPE training."""
    return (
        df.select(
            F.explode_outer(
                F.filter(word_tokens(F.col(text_col)), lambda x: x != "")
            ).alias("w")
        )
        .where(F.col("w").isNotNull())
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def bpe_train(df: DataFrame, text_col: str, *, n_merges: int) -> DataFrame:
    """Learn ``n_merges`` BPE merges from the corpus. Returns one row
    per learned merge: (merge_rank, left, right, pair_count), rank
    1-based in learning order. Stops early if no pair remains (every
    word collapsed to one symbol)."""
    if n_merges < 1:
        raise ValueError(f"n_merges must be >= 1, got {n_merges}")
    spark = df.sparkSession
    cur = (
        word_counts(df, text_col)
        .select(
            "cnt",
            F.expr(
                "transform(sequence(1, length(w)), i -> substring(w, i, 1))"
            ).alias("sym"),
        )
        .localCheckpoint()
    )
    merges: list[tuple[int, str, str, int]] = []
    for rank in range(1, n_merges + 1):
        # the CASE guard lives INSIDE the expression: sequence(1, 0) is
        # DESCENDING in Spark, and codegen can evaluate the transform as
        # a filter subexpression before a separate where() row-guard
        pairs = (
            cur.where(F.size("sym") >= 2)
            .select(
                "cnt",
                F.expr(
                    "CASE WHEN size(sym) >= 2 THEN "
                    "transform(sequence(1, size(sym) - 1), "
                    "i -> struct(sym[i-1] AS l, sym[i] AS r)) "
                    "ELSE cast(array() as array<struct<l:string,r:string>>) END"
                ).alias("ps"),
            )
            .select(F.explode("ps").alias("p"), "cnt")
            .groupBy(F.col("p.l").alias("l"), F.col("p.r").alias("r"))
            .agg(F.sum("cnt").alias("c"))
        )
        best = pairs.orderBy(F.desc("c"), "l", "r").limit(1).collect()
        if not best:
            break
        l, r, c = best[0]["l"], best[0]["r"], int(best[0]["c"])
        merges.append((rank, l, r, c))
        cur = cur.select(
            "cnt", _apply_merge(F.col("sym"), l, r).alias("sym")
        ).localCheckpoint()
    return spark.createDataFrame(
        merges, "merge_rank int, left string, right string, pair_count long"
    )

