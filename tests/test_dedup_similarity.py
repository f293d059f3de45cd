"""Property tests for dedup / similarity / textstats / multimodal ops
(the value-level math is oracle-checked in test_entry.py; these pin the
semantic properties)."""

import pytest
from pyspark.sql import functions as F

from dss_plugin_nlp_analysis_spark.operators.dedup import (
    exact_dedup,
    minhash_candidate_pairs,
    ngram_jaccard_pairs,
    simhash_buckets,
)
from dss_plugin_nlp_analysis_spark.operators.multimodal import (
    decode_image_meta,
    fake_image_binary,
)
from dss_plugin_nlp_analysis_spark.operators.similarity import cosine_topk, lsh_ann_topk
from dss_plugin_nlp_analysis_spark.operators.textstats import marker_langid, quality_features


@pytest.fixture(scope="module")
def corpus(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog near the river bank"),
        (2, "the quick brown fox jumps over the lazy dog near the river"),  # near-dup of 1
        (3, "completely different text about spark execution engines and shuffles"),
        (4, "the quick brown fox jumps over the lazy dog near the river bank"),  # exact dup of 1
        (5, "short doc"),
    ]
    return spark.createDataFrame(rows, "id long, t string")


def test_exact_dedup_groups(corpus):
    rows = {r["id"]: r for r in exact_dedup(corpus, "id", "t").collect()}
    assert rows[4]["canonical_id"] == 1 and rows[4]["is_duplicate"]
    assert rows[1]["canonical_id"] == 1 and not rows[1]["is_duplicate"]
    assert rows[2]["canonical_id"] == 2  # near-dup is NOT an exact dup
    assert rows[1]["fingerprint"] == rows[4]["fingerprint"]


def test_minhash_finds_near_dups(corpus):
    pairs = {(r["id_a"], r["id_b"]) for r in minhash_candidate_pairs(corpus, "id", "t", 8, 4).collect()}
    assert (1, 4) in pairs          # exact dups always collide
    assert (1, 2) in pairs          # near-dup shares bands
    assert (1, 3) not in pairs and (2, 3) not in pairs


def test_jaccard_scores(corpus):
    rows = {(r["id_a"], r["id_b"]): r["jaccard"] for r in
            ngram_jaccard_pairs(corpus, "id", "t", 3, 0.5).collect()}
    assert rows[(1, 4)] == 1.0
    assert 0.5 <= rows[(1, 2)] < 1.0
    assert (1, 3) not in rows


def test_simhash_exact_dups_same_bucket(corpus):
    rows = {r["id"]: r for r in simhash_buckets(corpus, "id", "t").collect()}
    assert rows[1]["simhash"] == rows[4]["simhash"]
    assert rows[1]["bucket"] == rows[4]["bucket"]
    # near-dup: small hamming distance
    ham = bin(rows[1]["simhash"] ^ rows[2]["simhash"]).count("1")
    assert ham < 15
    assert bin(rows[1]["simhash"] ^ rows[3]["simhash"]).count("1") > ham


def test_cosine_topk_self_similarity(spark):
    rows = [
        (1, [1.0, 0.0, 0.0]),
        (2, [0.9, 0.1, 0.0]),   # closest to 1
        (3, [0.0, 1.0, 0.0]),
        (4, [0.0, 0.0, 1.0]),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = cosine_topk(emb, emb.where("vec_id = 1"), k=2).collect()
    assert [(r["neighbor_id"], r["rank"]) for r in sorted(got, key=lambda r: r["rank"])] == [
        (2, 1), (3, 2),
    ]


def test_lsh_ann_finds_planted_near_dups(spark):
    # the honest ANN use case: queries are (positively scaled) copies of
    # corpus vectors — cosine 1.0, identical sign buckets in every table,
    # so rank-1 must be the original vector
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = (
        emb.where(F.col("vec_id") < 8)
        .select(
            (F.col("vec_id") + 9000).alias("vec_id"),
            F.transform(F.col("embedding"), lambda x: x * F.lit(2.0)).alias("embedding"),
        )
    )
    got = lsh_ann_topk(emb, q, k=1, num_planes=6, tables=2, dim=64).collect()
    assert len(got) == 8
    for r in got:
        assert r["neighbor_id"] == r["query_id"] - 9000


def test_lsh_ann_recall_vs_exact_on_random(spark):
    # random vectors: multi-table LSH recovers a reasonable share of true
    # neighbors (recall floor is loose — data is near-orthogonal noise)
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = emb.where(F.col("vec_id") < 5)
    exact = {(r["query_id"], r["neighbor_id"]) for r in cosine_topk(emb, q, k=3).collect()}
    approx = {(r["query_id"], r["neighbor_id"]) for r in
              lsh_ann_topk(emb, q, k=3, num_planes=3, tables=6, dim=64).collect()}
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.3, f"recall {recall}"


def test_quality_features_ranges(spark):
    docs = spark.createDataFrame(
        [(1, "the cat sat on the mat and it is that good"), (2, "x"), (3, "!!! ??? ...")],
        "id long, t string",
    )
    rows = {r["id"]: r for r in quality_features(docs, "id", "t").collect()}
    assert rows[1]["quality_score"] > rows[2]["quality_score"]
    assert rows[3]["punct_ratio"] > 0.5
    for r in rows.values():
        assert 0.0 <= r["quality_score"] <= 1.0


def test_marker_langid(spark):
    docs = spark.createDataFrame(
        [
            (1, "the cat and the dog with food"),
            (2, "le chat et la maison des amis"),
            (3, "el perro y los gatos con una casa"),
            (4, "der Hund und die Katze mit das Haus"),
            (5, "zzz qqq www"),
        ],
        "id long, t string",
    )
    rows = {r["id"]: r["pred_lang"] for r in marker_langid(docs, "id", "t").collect()}
    assert rows == {1: "en", 2: "fr", 3: "es", 4: "de", 5: "xx"}


def test_multimodal_decode_roundtrip(spark):
    docs = spark.createDataFrame([(1, 320, "payload-bytes-here")], "id long, w int, p string")
    df = docs.select("id", fake_image_binary(F.col("w"), F.lit(240), F.col("p")).alias("img"))
    row = decode_image_meta(df, "id", "img").collect()[0]
    assert (row["width"], row["height"], row["fmt"], row["payload_bytes"]) == (320, 240, "raw", 18)


def test_multimodal_decode_stub_raises_on_real_data(spark):
    df = spark.createDataFrame([(1, bytearray(b"\x89PNG\r\n"))], "id long, img binary")
    import pyspark

    with pytest.raises(Exception, match="NotImplementedError|stubbed"):
        decode_image_meta(df, "id", "img").collect()


def test_cosine_dup_pairs_exact_and_lsh(spark):
    from dss_plugin_nlp_analysis_spark.operators.similarity import cosine_dup_pairs

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").limit(200)
    planted = emb.union(
        emb.select(
            (F.col("vec_id") + 10000).alias("vec_id"),
            F.transform(F.col("embedding"), lambda x: x * F.lit(3.0)).alias("embedding"),
            F.col("label"),
        )
    )
    exact = {(r["id_a"], r["id_b"]) for r in
             cosine_dup_pairs(planted, threshold=0.95, use_lsh=False).collect()}
    assert exact == {(i, i + 10000) for i in range(200)}
    # LSH blocking keeps every exact near-dup (identical sign buckets)
    lsh = {(r["id_a"], r["id_b"]) for r in
           cosine_dup_pairs(planted, threshold=0.95, use_lsh=True, tables=2, dim=64).collect()}
    assert lsh == exact


def test_feature_extract_plumbing(spark):
    from dss_plugin_nlp_analysis_spark.operators.multimodal import extract_features
    from dss_plugin_nlp_analysis_spark.operators.similarity import cosine_dup_pairs

    imgs = spark.range(8).select(
        F.col("id"),
        fake_image_binary(
            F.lit(640), F.lit(480),
            # ids 0/1 share payload (duplicate images), rest unique
            F.when(F.col("id") < 2, F.lit("samepayload")).otherwise(
                F.concat(F.lit("p"), F.col("id").cast("string"))
            ),
        ).alias("image"),
    )
    # feature extraction: deterministic embeddings; duplicate payloads give
    # identical vectors, which the embedding dedup path then finds
    feats = extract_features(imgs, "id", "image", dim=16)
    dups = cosine_dup_pairs(
        feats, id_col="id", vec_col="embedding", threshold=0.999999,
        use_lsh=False,
    ).collect()
    assert {(r["id_a"], r["id_b"]) for r in dups} == {(0, 1)}


def test_cluster_dedup_collapses_transitive_chains(spark):
    from dss_plugin_nlp_analysis_spark.operators.dedup import cluster_dedup

    base = "the quick brown fox jumps over the lazy dog near the river bank today"
    words = base.split()
    rows = [
        (1, base),
        (2, " ".join(words[1:])),           # near-dup of 1
        (3, " ".join(words[2:])),           # near-dup of 2 (chain: 1~2~3)
        (9, "an entirely different document about spark shuffle exchanges"),
        (10, "singleton short doc"),
    ]
    df = spark.createDataFrame(rows, "id long, t string")
    got = {r["id"]: (r["cluster_id"], r["is_duplicate"])
           for r in cluster_dedup(df, "id", "t").collect()}
    # the transitive chain collapses to one cluster with min-id canonical
    assert got[1] == (1, False)
    assert got[2][0] == 1 and got[2][1]
    assert got[3][0] == 1 and got[3][1]
    # non-dups are their own singleton clusters
    assert got[9] == (9, False)
    assert got[10] == (10, False)


def test_hard_negatives_label_filter_before_rank(spark):
    from dss_plugin_nlp_analysis_spark.operators.similarity import hard_negatives

    # query q (label 0) at [1,0]; same-label near-duplicate at [0.99,0.1]
    # must NOT appear; negatives ranked by cosine among label!=0 only
    rows = [
        (0, [1.0, 0.0], 0),
        (1, [0.99, 0.1], 0),    # same label — excluded
        (2, [0.9, 0.4], 1),     # best admissible
        (3, [0.0, 1.0], 1),     # orthogonal
        (4, [-1.0, 0.0], 2),    # opposite
    ]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    got = [
        (r["neighbor_id"], r["neighbor_label"], r["rank"])
        for r in hard_negatives(emb, emb.where("vec_id = 0"), k=3)
        .orderBy("rank")
        .collect()
    ]
    assert got == [(2, 1, 1), (3, 1, 2), (4, 2, 3)]


def py_spans(corpus, L, min_occ=2):
    """Pure-Python mirror of duplicated_spans (shared with the fuzz
    suite — ONE reference implementation)."""
    from collections import Counter
    toks = {i: t.lower().split() for i, t in corpus}
    wins = []
    for i, ts in toks.items():
        for p in range(len(ts) - L + 1):
            wins.append((i, p, " ".join(ts[p:p + L])))
    cnt = Counter(g for _, _, g in wins)
    dup = {}
    for i, p, g in wins:
        if cnt[g] >= min_occ:
            dup.setdefault(i, []).append(p)
    out = []
    for i, ps in dup.items():
        ps.sort()
        cur = [ps[0], ps[0] + L - 1]
        for p in ps[1:]:
            if p <= cur[1] + 1:
                cur[1] = p + L - 1
            else:
                out.append((i, cur[0], cur[1], cur[1] - cur[0] + 1))
                cur = [p, p + L - 1]
        out.append((i, cur[0], cur[1], cur[1] - cur[0] + 1))
    return sorted(out)


def test_duplicated_spans_matches_python_reference(spark):
    from dss_plugin_nlp_analysis_spark.operators.dedup import duplicated_spans

    L = 3
    docs = [
        # docs 1 and 2 share "a b c d" (two duplicated 3-windows at pos
        # 0,1 in doc1 -> one merged span [0,3]); doc 3 repeats "x y z"
        # internally (within-doc duplication counts)
        (1, "a b c d q w e"),
        (2, "z z a b c d p"),
        (3, "x y z k x y z"),
        (4, "unique tokens only here none"),
        (5, "to sho"),  # shorter than window: no rows
    ]

    df = spark.createDataFrame(docs, "id long, text string")
    got = sorted(tuple(r) for r in duplicated_spans(df, "id", "text", window=L).collect())
    assert got == py_spans(docs, L)
    # doc1's shared "a b c d": windows at 0 and 1 merge to span [0, 3]
    assert (1, 0, 3, 4) in got
    # doc5 too short: absent
    assert not any(r[0] == 5 for r in got)

    import pytest as _pytest
    with _pytest.raises(ValueError):
        duplicated_spans(df, "id", "text", window=1)
    with _pytest.raises(ValueError):
        duplicated_spans(df, "id", "text", min_occurrences=1)


def test_remove_duplicated_spans_surgery(spark):
    from dss_plugin_nlp_analysis_spark.operators.dedup import (
        remove_duplicated_spans,
    )

    docs = [
        (1, "a b c d q w e"),
        (2, "z z a b c d p"),
        (3, "untouched words stay whole"),
    ]
    df = spark.createDataFrame(docs, "id long, text string")
    got = {
        r["id"]: (r["clean_text"], r["n_removed"])
        for r in remove_duplicated_spans(df, "id", "text", window=3).collect()
    }
    # shared "a b c d" cut from both docs; the rest survives
    assert got[1] == ("q w e", 4)
    assert got[2] == ("z z p", 4)
    assert got[3] == ("untouched words stay whole", 0)
    assert len(got) == 3


def test_minhash_seeds_past_the_eighth_use_their_own_digest(spark):
    # one md5 holds eight 4-hex-char windows: seeds 8+ once read past its
    # end, keyed every later band by its band number alone and paired
    # every document with every other one
    docs = spark.createDataFrame(
        [(i, f"w{i} x{i} y{i} z{i}") for i in range(10)], "id long, t string"
    )
    assert minhash_candidate_pairs(docs, "id", "t", 16, 4).count() == 0
    assert minhash_candidate_pairs(docs, "id", "t", 12, 3).count() == 0


@pytest.mark.parametrize("num_hashes, bands", [(8, 0), (8, 16), (12, 5), (8, 3)])
def test_minhash_bands_must_divide_num_hashes(corpus, num_hashes, bands):
    from dss_plugin_nlp_analysis_spark.operators.dedup import (
        incremental_minhash_pairs,
    )

    with pytest.raises(ValueError, match="bands"):
        minhash_candidate_pairs(corpus, "id", "t", num_hashes, bands)
    with pytest.raises(ValueError, match="bands"):
        incremental_minhash_pairs(corpus, corpus, "id", "t", num_hashes, bands)


def test_lsh_null_id_counts_toward_the_cap_and_never_pairs(spark):
    # a bucket's size is its number of member rows, a NULL id included,
    # for all three LSH operators; a NULL id is never paired
    from dss_plugin_nlp_analysis_spark.operators.dedup import (
        incremental_minhash_pairs,
    )
    from dss_plugin_nlp_analysis_spark.operators.multimodal import (
        dhash_candidate_pairs,
    )

    text = "same text here now"
    docs = spark.createDataFrame([(1, text), (2, text), (None, text)], "id long, t string")
    base = spark.createDataFrame([(1, text), (None, text)], "id long, t string")
    delta = spark.createDataFrame([(2, text), (None, text)], "id long, t string")
    hashes = spark.createDataFrame([(1, 5), (2, 5), (None, 5)], "id long, dhash long")
    runs = [
        lambda cap: minhash_candidate_pairs(docs, "id", "t", max_bucket_size=cap),
        lambda cap: incremental_minhash_pairs(base, delta, "id", "t", max_bucket_size=cap),
        lambda cap: dhash_candidate_pairs(hashes, max_bucket_size=cap),
    ]
    for run in runs:
        assert [tuple(r) for r in run(3).collect()] == [(1, 2)]
        assert run(2).count() == 0
