"""Round-6 plan-shape pins: the shuffle-removal restructures stay removed.

- minhash_candidate_pairs, incremental_minhash_pairs, dhash_candidate_pairs:
  one bucket step — no self-join, no count+join bucket capping (the old
  shape executed the shingle→signature pipeline four times).
- line_dedup: no join back to the exploded lines (the min-struct aggregate
  IS the survivor set); only the final per-id reassembly join remains.
- _brute_rank_topk: norms/casts are per-row projections below the join —
  the join itself stays broadcast (no shuffle of the corpus side).
"""

from pyspark.sql import functions as F


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_minhash_pairs_no_selfjoin_single_pipeline(spark):
    from dss_plugin_nlp_analysis_spark.operators.dedup import (
        minhash_candidate_pairs,
    )

    docs = spark.createDataFrame(
        [(i, f"w{i % 7} common text body {i % 3}") for i in range(40)],
        "id long, t string",
    )
    plan = plan_of(minhash_candidate_pairs(docs, "id", "t", 8, 4))
    assert "Join" not in plan, plan
    # one signature pipeline: the shingle regex appears exactly once
    assert plan.count("regexp_extract_all") == 1, plan


def test_incremental_minhash_pairs_single_pipeline(spark):
    from dss_plugin_nlp_analysis_spark.operators.dedup import (
        incremental_minhash_pairs,
    )

    base = spark.createDataFrame(
        [(i, f"w{i % 7} common text body {i % 3}") for i in range(40)],
        "id long, t string",
    )
    delta = spark.createDataFrame(
        [(i, f"w{i % 5} common text body {i % 2}") for i in range(30, 50)],
        "id long, t string",
    )
    plan = plan_of(incremental_minhash_pairs(base, delta, "id", "t"))
    # base ∪ delta runs the signature pipeline once, and the only join is
    # the anti join dropping the base rows the delta replaces
    assert plan.count("regexp_extract_all") == 1, plan
    assert plan.count("Join") == 1 and "LeftAnti" in plan, plan


def test_dhash_pairs_no_join(spark):
    from dss_plugin_nlp_analysis_spark.operators.multimodal import (
        dhash_candidate_pairs,
    )

    hashes = spark.createDataFrame(
        [(i, (i % 5) << 20) for i in range(40)], "id long, dhash long"
    )
    plan = plan_of(dhash_candidate_pairs(hashes))
    assert "Join" not in plan, plan


def test_line_dedup_single_reassembly_join(spark):
    from dss_plugin_nlp_analysis_spark.operators.webclean import line_dedup

    docs = spark.createDataFrame(
        [(i, f"line a\nline b{i % 3}\nline a") for i in range(20)],
        "id long, t string",
    )
    plan = plan_of(line_dedup(docs, "id", "t"))
    # exactly one join: the final left join attaching clean_text to ids;
    # the old lines-vs-firsts survivor join is gone
    assert plan.count("SortMergeJoin") + plan.count("ShuffledHashJoin") + plan.count(
        "BroadcastHashJoin"
    ) == 1, plan
    # the posexplode pipeline is executed once, not as a join probe side too
    assert plan.count("PosExplode") + plan.count("posexplode") <= 2, plan


def test_line_dedup_packed_min_matches_python_reference(spark):
    """The decimal-packed winner selection (integral ids) must agree with
    a pure-Python first-occurrence reference on an adversarial id space:
    negative, zero, ±2^62, and values straddling the 2^31 packing radix."""
    import random

    from dss_plugin_nlp_analysis_spark.operators.webclean import line_dedup

    rng = random.Random(7)
    vocab = ["alpha", "beta", "gamma", "delta", "common line", "x"]
    ids = [-(2 ** 62) - 5, -17, -1, 0, 1, 3, 2 ** 62 + 11, 2 ** 31, 2 ** 31 - 1]
    ids += [rng.randint(-(10 ** 18), 10 ** 18) for _ in range(40)]
    rows = [
        (i, "\n".join(rng.choice(vocab) for _ in range(rng.randint(1, 30))))
        for i in ids
    ]
    # python reference: winner per distinct line = min (id, pos) over the
    # trimmed non-empty lines (pos = index within the filtered list)
    winners: dict[str, tuple[int, int]] = {}
    doc_lines = {}
    for i, t in rows:
        kept = [s for s in (x.strip() for x in t.split("\n")) if s]
        doc_lines[i] = kept
        for pos, line in enumerate(kept):
            if line not in winners or (i, pos) < winners[line]:
                winners[line] = (i, pos)
    expected = sorted(
        (
            i,
            "\n".join(
                line
                for pos, line in enumerate(doc_lines[i])
                if winners[line] == (i, pos)
            ),
        )
        for i in ids
    )
    num = spark.createDataFrame(rows, "id long, t string")
    got = sorted(
        (int(r["id"]), r["clean_text"]) for r in line_dedup(num, "id", "t").collect()
    )
    assert got == expected
    # and the packed path's winner aggregate is hash-based (the only
    # remaining sort-aggregate territory is the per-id array_sort rebuild)
    plan = plan_of(line_dedup(num, "id", "t"))
    assert "Join" in plan  # reassembly join still present
    assert plan.count("SortAggregate") == 0, plan


def test_brute_topk_broadcast_join_only(spark):
    from dss_plugin_nlp_analysis_spark.operators.similarity import cosine_topk

    vecs = spark.createDataFrame(
        [(i, [float(i % 5), 1.0, float(i % 3)]) for i in range(30)],
        "vec_id long, embedding array<float>",
    )
    plan = plan_of(cosine_topk(vecs, vecs.limit(3), k=2))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
