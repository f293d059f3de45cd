"""BPE trainer: the classic low/lower/newest/widest corpus (Sennrich et
al. 2016 running example), greedy-overlap semantics, tie-breaks, early
stop."""

import pytest

from dss_plugin_nlp_analysis_spark.operators.bpetrain import (
    bpe_train,
    word_counts,
)


def _fixture(spark):
    return spark.createDataFrame(
        [
            (1, "low low low low low"),
            (2, "lower lower newest newest"),
            (3, "newest newest newest newest widest widest aaa"),
        ],
        "id long, text string",
    )


def test_word_counts(spark):
    wc = {r["w"]: r["cnt"] for r in word_counts(_fixture(spark), "text").collect()}
    assert wc == {"low": 5, "lower": 2, "newest": 6, "widest": 2, "aaa": 1}


def test_merge_sequence_and_tiebreak(spark):
    # round 1 counts: (e,s)=8 (s,t)=8 (w,e)=8 tie -> lexicographically
    # smallest (e,s); round 2: (es,t)=8; round 3: (l,o)=(o,w)=7 -> (l,o)
    m = bpe_train(_fixture(spark), "text", n_merges=4).collect()
    got = [(r["merge_rank"], r["left"], r["right"], r["pair_count"]) for r in m]
    assert got == [(1, "e", "s", 8), (2, "es", "t", 8), (3, "l", "o", 7), (4, "lo", "w", 7)]


def test_greedy_leftmost_overlap(spark):
    # aaaa with merge (a,a): greedy left-to-right -> [aa, aa], so round 2
    # learns (aa, aa); never [a, aa, a]
    df = spark.createDataFrame([(1, "aaaa aaaa aaaa")], "id long, text string")
    m = bpe_train(df, "text", n_merges=2).collect()
    assert (m[0]["left"], m[0]["right"], m[0]["pair_count"]) == ("a", "a", 9)
    assert (m[1]["left"], m[1]["right"], m[1]["pair_count"]) == ("aa", "aa", 3)


def test_early_stop_when_fully_merged(spark):
    # one word, two chars: merge 1 collapses it; merge 2 has no pairs
    df = spark.createDataFrame([(1, "ab ab")], "id long, text string")
    m = bpe_train(df, "text", n_merges=5).collect()
    assert len(m) == 1
    assert (m[0]["left"], m[0]["right"]) == ("a", "b")


def test_n_merges_validation(spark):
    with pytest.raises(ValueError):
        bpe_train(_fixture(spark), "text", n_merges=0)
